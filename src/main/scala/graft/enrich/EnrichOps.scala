package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.parse.ParseOps

/** The enrich plane (SURVEY.md §2B): lookup joins, PII masking, empty-value
  * removal, resource-attribute transposition, OCSF standardization.
  */
object EnrichOps {

  // -------------------------------------------------------------------
  // lookupprocessor — CSV-keyed enrichment through an in-row hash probe
  // (processor/lookupprocessor/processor.go:293-312, csv.go:88-114)
  // -------------------------------------------------------------------
  // The reference reloads a small CSV into a map and merges the matched
  // row's columns into the record's attributes; key-not-found is a silent
  // no-op (csv.go:79-84). Here the map is built on the driver and probed in
  // the projection the fact side already runs (graft.functions.DimLookup):
  // no join, no exchange and no job of its own, for any dim size.

  /** FIXTURES.md §2 lookup fixtures. */
  val RoleLookup: Seq[(String, String, String)] = Seq(
    ("user", "external", "cc-000"),
    ("assistant", "ml", "cc-100"),
    ("system", "platform", "cc-200"),
    ("tool", "integrations", "cc-300"))

  val ToolLookup: Seq[(String, String, String)] = Seq(
    ("search", "acme", "gold"),
    ("code_exec", "acme", "gold"),
    ("browser", "other", "bronze"))

  /** Enrich transcripts with both lookups. Unmatched keys keep null
    * enrichment columns (the reference leaves the record untouched). Both
    * probes run in the fact side's own projection.
    */
  def lookupEnrich(spark: SparkSession, t: DataFrame): DataFrame =
    lookupCsv(spark, lookupCsv(spark, t,
      LookupSpec(lookupFixture("role_lookup.csv",
        "role,team,cost_center", RoleLookup), "attributes", "role")),
      LookupSpec(lookupFixture("tool_lookup.csv",
        "tool,vendor,tier", ToolLookup), "attributes", "tool"))

  // -------------------------------------------------------------------
  // lookupprocessor config parity: CSV file source keyed on `field`,
  // context selection, reload-on-reread
  // (processor/lookupprocessor/config.go:22-29, csv.go:88-114,
  //  processor.go:293-312)
  // -------------------------------------------------------------------
  /** Config mirror of lookupprocessor.Config: a CSV path whose HEADER ROW
    * defines the enrichment columns, the column named `field` is the lookup
    * key, and `context` selects where the key value is read from.
    */
  case class LookupSpec(csv: String, context: String, field: String) {
    def validate(): Unit = { // config.go Validate() parity
      require(csv.nonEmpty, "missing required field 'csv'")
      require(context.nonEmpty, "missing required field 'context'")
      require(field.nonEmpty, "missing required field 'field'")
      require(Seq("body", "attributes", "resource.attributes").contains(context),
        s"invalid context '$context'")
    }
  }

  /** CSV-file lookup. The dimension is (re)read from disk on every compile
    * — the batch analogue of the reference's reload ticker
    * (processor.go:72-91) — parsed on the driver by [[lookupDim]] and
    * probed per row as a hash table ([[graft.functions.DimLookup]]).
    * Semantics parity with addLookupValues (processor.go:293-312): key read
    * from the selected context; a missing or NON-STRING key column is a
    * silent no-op; unmatched keys keep null enrichment columns; a dim
    * column that the frame already has is overwritten in place on MATCHED
    * rows only, the others are appended in header order. One `select`:
    * the fact side never shuffles and the lookup runs no Spark job.
    */
  def lookupCsv(spark: SparkSession, df: DataFrame, spec: LookupSpec): DataFrame = {
    spec.validate()
    val dim = lookupDim(spark, spec.csv, spec.field)
    val keyCol: Option[Column] = spec.context match {
      case "body" =>
        // body context: the key is a field of the (JSON) body
        Some(get_json_object(col("text"), s"$$.${spec.field}"))
      case _ => // attributes / resource.attributes — denormalized as columns
        df.schema.fields.find(_.name == spec.field) match {
          case Some(f) if f.dataType == org.apache.spark.sql.types.StringType =>
            Some(col(spec.field))
          case _ => None // missing key or non-string guard (processor.go:299-301)
        }
    }
    keyCol match {
      case None => df // silent no-op, reference parity
      case Some(k) =>
        val table = graft.functions.DimLookup.table(
          dim.columns, dim.columns.indexOf(spec.field), dim.rows)
        val row = graft.functions.DimLookup.of(k, table)
        val names = table.fields
        def ref(c: String): Column = col(s"`${c.replace("`", "``")}`")
        df.select(df.columns.toIndexedSeq.map { c =>
          if (names.contains(c)) when(row.isNotNull, row.getField(c)).otherwise(ref(c)).as(c)
          else ref(c)
        } ++ names.filterNot(df.columns.contains).map(c => row.getField(c).as(c)): _*)
    }
  }

  /** A lookup CSV file parsed on the driver: its header, and its rows after
    * the last-wins fold, in file order, one all-string value per header
    * field (null for an empty field).
    */
  case class LookupDim(columns: IndexedSeq[String], rows: IndexedSeq[IndexedSeq[String]])

  /** The dimension of a lookup CSV file, parsed on the driver.
    * Duplicate-key parity with indexRecords (csv.go:88-114): the reference
    * builds a map row by row, so a repeated key LAST-WINS in file order.
    * The dialect is the CSV source's own (its univocity settings, header
    * naming and blank-line skipping; short rows pad with null, long rows
    * truncate, empty and quoted-empty fields read as null), so the rows
    * equal `spark.read.option("header", "true").csv(csv)`'s after the same
    * fold.
    */
  def lookupDim(spark: SparkSession, csv: String, field: String): LookupDim = {
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.csv.CSVUtils
    import scala.jdk.CollectionConverters._
    val opts = new CSVOptions(Map("header" -> "true"), false,
      spark.conf.get("spark.sql.session.timeZone"))
    val path = new org.apache.hadoop.fs.Path(csv)
    val in = path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path)
    // line splitting as the CSV source's line reader (\n, \r or \r\n)
    val lines = try CSVUtils.filterCommentAndEmpty(
        new java.io.BufferedReader(new java.io.InputStreamReader(in, opts.charset))
          .lines().iterator().asScala, opts).toVector
      finally in.close()
    val parser = new com.univocity.parsers.csv.CsvParser(opts.asParserSettings)
    val header = lines.headOption.fold(Array.empty[String])(l => CSVUtils.makeSafeHeader(
      parser.parseLine(l), spark.conf.get("spark.sql.caseSensitive").toBoolean, opts))
    require(header.contains(field),
      s"lookup column '$field' not in CSV header ${header.mkString(",")}")
    val key = header.indexOf(field)
    val rows = lines.drop(1).map { l =>
      val tokens = parser.parseLine(l)
      header.indices.map(i =>
        if (i < tokens.length && tokens(i) != opts.nullValue) tokens(i) else null)
    }
    LookupDim(header.toIndexedSeq, rows.reverse.distinctBy(_(key)).reverse)
  }

  /** Deterministic on-disk CSV fixtures, read like any lookup CSV: parsed
    * on the driver by [[lookupDim]] on every compile, so a rewrite is picked
    * up by the next one. The file is (re)written only when its bytes differ,
    * so repeated calls with the same rows touch nothing.
    */
  def lookupFixture(name: String, header: String,
                    rows: Seq[(String, String, String)]): String = {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_lookup_fixtures")
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    val body = (header +: rows.map(r => s"${r._1},${r._2},${r._3}")).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!(Files.isRegularFile(f) && java.util.Arrays.equals(Files.readAllBytes(f), body))) {
      // atomic publish: a concurrent reader must never see a truncated file
      val tmp = dir.resolve(s".$name.${java.lang.ProcessHandle.current.pid}.tmp")
      Files.write(tmp, body)
      Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
    f.toString
  }

  // -------------------------------------------------------------------
  // maskprocessor — default PII rules applied sequentially to every string
  // (processor/maskprocessor/processor.go:36-42 default rules; :198-212
  // maskString applies all rules in order; :252-260 token "[masked_<rule>]")
  // -------------------------------------------------------------------
  /** The reference's default rules verbatim (processor.go:36-42) — anchored
    * `\b` word boundaries, separator-formatted credit cards (4111-1111-1111-
    * 1111), space/dash SSNs, OCR-tolerant phone digits. Faithfulness note:
    * like the reference (Go regexp is case-sensitive, maskString applies
    * rules to the raw string), the email rule matches LOWERCASE addresses
    * only and card numbers need 15-16 digits or 4×4 grouping — looser
    * patterns would mask more but diverge from the processor's behavior.
    * Rule order is fixed here (Go map iteration is unordered; a
    * deterministic engine needs a stable order): ssn before
    * phone/credit_card so the 3-2-4 grouping wins. Patterns are literals so
    * codegen compiles each regex once per plan.
    */
  val MaskRules: Seq[(String, String)] = Seq(
    "email" -> """\b[a-z0-9._%\+\-—|]+@[a-z0-9.\-—|]+\.[a-z|]{2,6}\b""",
    "ssn" -> """\b\d{3}[- ]\d{2}[- ]\d{4}\b""",
    "credit_card" -> """\b(?:(?:(?:\d{4}[- ]?){3}\d{4}|\d{15,16}))\b""",
    "phone" -> """\b((\+|\b)[1l][\-\. ])?\(?\b[\dOlZSB]{3,5}([\-\. ]|\) ?)[\dOlZSB]{3}[\-\. ][\dOlZSB]{4}\b""",
    "ipv4" -> """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b""")

  def maskString(c: Column): Column =
    MaskRules.foldLeft(c) { case (acc, (name, pattern)) =>
      regexp_replace(acc, pattern, s"[masked_$name]")
    }

  def mask(t: DataFrame): DataFrame =
    t.filter(ParseOps.isMultiline)
      .select(col("conv_id"), col("turn_idx"), maskString(col("text")).as("masked"))

  /** DuckDB replication of [[maskString]] over SQL expression `inner` —
    * generated from the SAME rule table so the oracle can't drift.
    */
  def maskSqlExpr(inner: String): String =
    MaskRules.foldLeft(inner) { case (acc, (name, pat)) =>
      s"regexp_replace($acc, '$pat', '[masked_$name]', 'g')"
    }

  /** Recursive masking (maskprocessor processor.go:173-195: maps and slices
    * are walked): strings mask in place, arrays/maps mask every nested
    * string value via higher-order transform — still one codegen'd
    * projection, no UDF.
    */
  def maskDeep(c: Column, dt: org.apache.spark.sql.types.DataType,
               path: String = "", exclude: Set[String] = Set.empty): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType => maskString(c)
      // slice strings mask within the parent's path (maskValue's
      // ValueTypeSlice branch carries no per-element field name)
      case ArrayType(et, _) => transform(c, x => maskDeep(x, et, path, exclude))
      case st: StructType =>
        val rebuilt = struct(st.fields.map { f =>
          val p = s"$path.${f.name}"
          (if (exclude.contains(p)) c.getField(f.name)
           else maskDeep(c.getField(f.name), f.dataType, p, exclude)).as(f.name)
        }: _*)
        // a NULL struct must stay null (struct(getField...) would otherwise
        // produce a non-null row of nulls)
        when(c.isNull, lit(null).cast(st)).otherwise(rebuilt)
      case MapType(_, vt, _) =>
        // dotted sub-path excludes (processor.go:174-178: maskValue returns
        // BEFORE masking when the full dotted field matches, skipping the
        // whole subtree). Map keys are runtime values, but the exclude list
        // is static config — compile it to a when-chain over the known keys.
        val prefix = s"$path."
        val tails = exclude.collect {
          case e if e.startsWith(prefix) => e.stripPrefix(prefix)
        }
        val direct = tails.filter(!_.contains('.')).toSeq
        val deeperKeys = tails.filter(_.contains('.'))
          .map(_.takeWhile(_ != '.')).toSeq.distinct
        transform_values(c, (k, v) => {
          val dflt = maskDeep(v, vt, "", Set.empty)
          val withDeeper = deeperKeys.foldLeft(dflt) { (acc, key) =>
            when(k === key, maskDeep(v, vt, s"$path.$key", exclude)).otherwise(acc)
          }
          if (direct.isEmpty) withDeeper
          else when(k.isin(direct: _*), v).otherwise(withDeeper)
        })
      case _ => c
    }
  }

  /** Field exclusion (maskprocessor processor.go:174-178): listed dotted
    * paths are left unmasked — whole top-level columns OR nested sub-paths
    * ("attrs.secret"). Schema-directed: struct exclusions resolve at plan
    * time; map-key exclusions compile to a when-chain over the configured
    * keys. String, array-, map- and struct-typed columns all recurse.
    */
  def maskColumns(df: DataFrame, exclude: Set[String]): DataFrame = {
    import org.apache.spark.sql.types._
    def maskable(dt: DataType): Boolean = dt match {
      case StringType => true
      case ArrayType(et, _) => maskable(et)
      case MapType(_, vt, _) => maskable(vt)
      case st: StructType => st.fields.exists(f => maskable(f.dataType))
      case _ => false
    }
    df.schema.fields
      .filter(f => maskable(f.dataType) && !exclude.contains(f.name))
      .foldLeft(df) { (acc, f) =>
        acc.withColumn(f.name, maskDeep(col(f.name), f.dataType, f.name, exclude))
      }
  }

  // -------------------------------------------------------------------
  // removeemptyvaluesprocessor — drop null / "" / configured sentinel values
  // (processor/removeemptyvaluesprocessor/processor.go:170-221, 243-251)
  // -------------------------------------------------------------------
  /** The reference recursively removes empty strings, nulls, empty maps and
    * configured sentinels (case-insensitive "-", "null"). Relationally this
    * is a higher-order filter over map/array columns — here over the parsed
    * kv pairs of each record plus deliberately-empty fixture entries.
    */
  val EmptySentinels: Seq[String] = Seq("", "-", "null")

  def isEmptyValue(v: Column): Column =
    v.isNull || lower(v).isin(EmptySentinels: _*)

  /** Full removeemptyvaluesprocessor config surface (config.go:77-83,
    * factory.go:50-57 defaults): remove_nulls defaults TRUE, empty
    * lists/maps default FALSE, strings filter ONLY against the configured
    * case-insensitive `empty_string_values` (default EMPTY — a bare ""
    * survives unless configured away), and dotted `exclude_keys` protect
    * sub-paths at any depth (trimMapKeyPrefix recursion).
    */
  case class RemoveEmptyConfig(
      removeNulls: Boolean = true,
      removeEmptyLists: Boolean = false,
      removeEmptyMaps: Boolean = false,
      emptyStringValues: Seq[String] = Seq.empty,
      excludeKeys: Set[String] = Set.empty)

  /** RECURSIVE removal under `cfg` (processor.go:194-221, 293-313): empty
    * values are removed at every nesting level, and with empty lists/maps
    * removed a container whose cleaned form is itself empty is removed from
    * its parent — with "" configured, `{"a": {"x": ""}}` collapses to `{}`.
    */
  def cleanDeepConfigured(c: Column,
                          dt: org.apache.spark.sql.types.DataType,
                          cfg: RemoveEmptyConfig,
                          excludes: Set[String]): Column = {
    import org.apache.spark.sql.types._
    def strFiltered(v: Column): Column =
      // coalesce: on a NULL string the sentinel comparison is SQL NULL, and
      // map_filter/filter drop NULL-predicate entries — which would remove
      // nulls even with remove_nulls=false
      coalesce(cfg.emptyStringValues.map(s => lower(v) === s.toLowerCase)
        .foldLeft(lit(false))(_ || _), lit(false))
    def emptyAfterClean(v: Column, vt: DataType): Column = vt match {
      case StringType =>
        (if (cfg.removeNulls) v.isNull else lit(false)) || strFiltered(v)
      case ArrayType(_, _) =>
        (if (cfg.removeNulls) v.isNull else lit(false)) ||
          (if (cfg.removeEmptyLists) size(v) === 0 else lit(false))
      case MapType(_, _, _) =>
        (if (cfg.removeNulls) v.isNull else lit(false)) ||
          (if (cfg.removeEmptyMaps) size(v) === 0 else lit(false))
      case _ => if (cfg.removeNulls) v.isNull else lit(false)
    }
    dt match {
      case MapType(_, vt, _) =>
        // per-key recursion with trimmed excludes: the sub-exclude set
        // under key k is static config, so it compiles to a when-chain
        // over the distinct exclude prefixes (mask sub-path pattern)
        val prefixGroups: Map[String, Set[String]] = excludes
          .filter(_.contains(".")).groupBy(_.split("\\.", 2)(0))
          .map { case (p, es) => p -> es.map(_.split("\\.", 2)(1)) }
        val exactExcludes = excludes.filterNot(_.contains("."))
        // An exactly-excluded key is kept WITH ITS SUBTREE UNTOUCHED —
        // cleanMap's RemoveIf returns false for excluded keys before any
        // recursion (processor.go:172-174), so no cleaning reaches its
        // contents. Exact exclusion wins over a prefix group on the same key.
        val cleanedVals = transform_values(c, (k, v) => {
          val prefixed =
            prefixGroups.foldLeft(cleanDeepConfigured(v, vt, cfg, Set.empty)) {
              case (acc, (p, sub)) =>
                when(k === p, cleanDeepConfigured(v, vt, cfg, sub)).otherwise(acc)
            }
          exactExcludes.foldLeft(prefixed) { (acc, ex) =>
            when(k === ex, v).otherwise(acc)
          }
        })
        map_filter(cleanedVals, (k, v) =>
          exactExcludes.foldLeft(!emptyAfterClean(v, vt)) {
            (acc, ex) => acc || k === ex
          })
      case ArrayType(et, _) =>
        // cleanSlice forwards excludeKeys UNTRIMMED into element maps
        // (processor.go:204,209) — a map inside an array sees the same
        // exclude set as the array's own container did.
        filter(transform(c, v => cleanDeepConfigured(v, et, cfg, excludes)),
          v => !emptyAfterClean(v, et))
      case _ => c
    }
  }

  def cleanDeepConfigured(c: Column,
                          dt: org.apache.spark.sql.types.DataType,
                          cfg: RemoveEmptyConfig): Column =
    cleanDeepConfigured(c, dt, cfg, cfg.excludeKeys)

  def removeEmptyValues(t: DataFrame): DataFrame = {
    val kv = ParseOps.parseKv(t)
    // rebuild an attribute list with injected empties, then clean it
    val entries = array(
      struct(lit("level").as("k"), col("level").as("v")),
      struct(lit("component").as("k"), col("component").as("v")),
      struct(lit("note").as("k"), lit("").as("v")),
      struct(lit("fallback").as("k"), lit("-").as("v")),
      struct(lit("opt").as("k"), lit("null").as("v")))
    val cleaned = filter(entries, e => !isEmptyValue(e.getField("v")))
    kv.select(col("conv_id"), col("turn_idx"),
      array_join(transform(cleaned,
        e => concat(e.getField("k"), lit("="), e.getField("v"))), ",").as("attrs"))
  }

  // -------------------------------------------------------------------
  // resourceattributetransposerprocessor — copy resource attr → record attr
  // if absent (processor_logs.go:51-77)
  // -------------------------------------------------------------------
  /** Resource attributes are denormalized onto our rows, so the transposer is
    * a pure `coalesce` projection: take the record-level value when present,
    * else the resource-level one.
    */
  def transpose(t: DataFrame): DataFrame = {
    // resource attr derived from the conversation (constant per resource
    // group, as in expr/record.go:80-101 ConvertToResourceGroups)
    val resourceHost = concat(lit("host-"), substring_index(col("conv_id"), "-", 1))
    val recordHost = when(col("role") === "tool", concat(lit("tool-"), col("tool")))
    t.select(col("conv_id"), col("turn_idx"),
      coalesce(recordHost, resourceHost).as("host"))
  }

  // -------------------------------------------------------------------
  // groupbyattrsprocessor — TRUE record→resource regrouping: records are
  // reassigned under new resource identities derived from their attributes
  // (not merely counted per attribute value). The regrouped content is
  // emitted as a deterministic digest of the sorted member records so the
  // restructuring itself is value-checkable.
  // -------------------------------------------------------------------
  def groupByAttrsRegroup(t: DataFrame): DataFrame =
    transpose(t) // (conv_id, turn_idx, host) — host is the new resource key
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_records"),
        md5(array_join(
          transform(
            sort_array(collect_list(struct(col("conv_id"), col("turn_idx")))),
            e => concat_ws(":", e.getField("conv_id"), e.getField("turn_idx"))),
          ",")).as("records_digest"))

  // -------------------------------------------------------------------
  // OCSF type coercion table (type_coerce.go:25-42): cast-or-original.
  // A relational column has ONE type, so the dynamic "original value on
  // parse failure" contract is rendered as canonical STRING forms: parseable
  // values are canonicalized, unparseable ones pass through unchanged.
  // -------------------------------------------------------------------
  // try_cast everywhere: ANSI cast THROWS on values that pass the shape
  // regex but overflow (a 20-digit run is a valid \d+ but not a long);
  // Go's strconv returns the original on any parse error, so must we
  def coerceLongOrOriginal(c: Column): Column =
    coalesce(when(c.rlike("^-?\\d+$"), c.try_cast("long").cast("string")), c)

  def coerceDoubleOrOriginal(c: Column): Column = // coerceToFloat64 :88-104
    coalesce(when(c.rlike("^-?\\d+(\\.\\d+)?$"), c.try_cast("double").cast("string")), c)

  /** strconv.ParseBool accepts 1/t/T/TRUE/true/True and 0/f/F/FALSE/false/
    * False (type_coerce.go:106-126 via ParseBool). */
  def coerceBoolOrOriginal(c: Column): Column =
    when(c.isin("1", "t", "T", "TRUE", "true", "True"), "true")
      .when(c.isin("0", "f", "F", "FALSE", "false", "False"), "false")
      .otherwise(c)

  /** timestamp → epoch millis: numeric strings pass as-is, RFC3339 strings
    * parse to UnixMilli (type_coerce.go:130-152). */
  def coerceTimestampMs(c: Column): Column =
    coalesce(
      when(c.rlike("^-?\\d+$"), c),
      when(c.rlike("""^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}"""),
        // try: '2024-13-99T…' matches the shape but is not a timestamp
        unix_millis(try_to_timestamp(c)).cast("string")),
      c)

  /** datetime → RFC3339: epoch-millis render as UTC RFC3339, strings are
    * assumed already formatted (type_coerce.go:154-169). */
  def coerceDatetimeRfc3339(c: Column): Column =
    coalesce(
      when(c.rlike("^-?\\d+$"),
        date_format(timestamp_millis(c.try_cast("long")), "yyyy-MM-dd'T'HH:mm:ss'Z'")),
      c)

  def coerceOcsf(c: Column, typeName: String): Column = typeName match {
    case "integer" | "long" => coerceLongOrOriginal(c.cast("string"))
    case "float" => coerceDoubleOrOriginal(c.cast("string"))
    case "boolean" => coerceBoolOrOriginal(c.cast("string"))
    case "timestamp" => coerceTimestampMs(c.cast("string"))
    case "datetime" => coerceDatetimeRfc3339(c.cast("string"))
    case _ => c // string & unknown types: as-is (coerceType default arm)
  }

  // -------------------------------------------------------------------
  // Config-driven OCSF standardization (processor.go:135-215): an ORDERED
  // mapping list — first matching filter wins, non-matching records drop —
  // each mapping a classID + field mappings (expr `from` → dotted `to`,
  // default fallback, per-field coercion), type_uid derivation, nested body
  // via named_struct composition (setNestedValue :219-231), and optional
  // runtime required-field validation (:196-205).
  // -------------------------------------------------------------------
  case class FieldMapping(to: String, from: Option[Column] = None,
                          default: Option[Column] = None,
                          ocsfType: Option[String] = None)
  case class EventMapping(filter: Option[Column], classId: Int,
                          fields: Seq[FieldMapping],
                          required: Seq[String] = Seq.empty)

  /** The full set of `to` paths a mapping populates: its configured fields
    * plus the engine-computed entries (class_uid, category_uid,
    * metadata.version, and type_uid when activity_id is mapped). The ONE
    * source of truth for plan-time coverage validation, runtime presence
    * checks, and deep validation descent.
    */
  def mappedPaths(m: EventMapping): Seq[String] =
    m.fields.map(_.to) ++
      Seq("class_uid", "category_uid", "metadata.version") ++
      (if (m.fields.exists(_.to == "activity_id")) Seq("type_uid") else Nil)

  def ocsfStandardizeConfig(df: DataFrame, mappings: Seq[EventMapping],
                            version: String = "1.1.0",
                            runtimeValidation: Boolean = false,
                            keep: Seq[String] = Seq("conv_id", "turn_idx"),
                            schemaCoerce: Boolean = false,
                            coverageValidation: Boolean = false,
                            deepValidation: Boolean = false)
      : DataFrame = {
    require(mappings.nonEmpty, "ocsf: at least one event mapping required")
    require(!deepValidation || runtimeValidation,
      "ocsf: deepValidation extends runtimeValidation — enable both " +
        "(deep checks run inside the ValidateClass gate)")
    if (coverageValidation) {
      // ValidateMappingCoverage parity: PLAN-TIME validation that each
      // mapping's `to` paths cover the class's required fields and
      // constraint groups, recursing into mapped object fields
      // (schema.go:18820-18900). The engine-computed paths count as mapped.
      mappings.foreach { m =>
        val errs = OcsfTables.validateMappingCoverage(version, m.classId,
          mappedPaths(m))
        require(errs.isEmpty,
          s"ocsf mapping for class ${m.classId} fails coverage validation: " +
            errs.mkString("; "))
      }
    }
    // first-match index; a NULL filter does not match (false-on-error)
    val idx = mappings.zipWithIndex.reverse
      .foldLeft(lit(-1): Column) { case (acc, (m, i)) =>
        when(coalesce(m.filter.getOrElse(lit(true)), lit(false)), i).otherwise(acc)
      }

    def fieldValue(m: EventMapping, fm: FieldMapping): Column = {
      val raw = fm.from match {
        case Some(f) => fm.default.map(d => coalesce(f, d)).getOrElse(f)
        case None => fm.default.getOrElse(lit(null))
      }
      // explicit per-field type wins; otherwise schema-driven coercion
      // resolves the `to` path through the class's field-type table —
      // LookupFieldType parity (processor.go:182-184). Opt-in because this
      // engine's mappings are typed Columns, not untyped JSON values.
      val typeName = fm.ocsfType.orElse(
        if (schemaCoerce) OcsfTables.lookupFieldType(version, m.classId, fm.to)
        else None)
      typeName.map(t => coerceOcsf(raw, t)).getOrElse(raw)
    }

    // union of target paths in first-seen order
    val paths = mappings.flatMap(_.fields.map(_.to)).distinct
    val perPath: Map[String, Column] = paths.map { p =>
      p -> mappings.zipWithIndex.collect {
        case (m, i) if m.fields.exists(_.to == p) =>
          (i, fieldValue(m, m.fields.find(_.to == p).get))
      }.foldRight(lit(null): Column) { case ((i, v), acc) =>
        when(col("__ocsf_idx") === i, v).otherwise(acc)
      }
    }.toMap

    val classUid = mappings.zipWithIndex
      .foldRight(lit(null).cast("int"): Column) { case ((m, i), acc) =>
        when(col("__ocsf_idx") === i, m.classId).otherwise(acc)
      }
    val activity = perPath.get("activity_id")
    val computed: Seq[(String, Column)] = Seq(
      "class_uid" -> classUid,
      "category_uid" -> (classUid / 1000).cast("int"),
      "metadata.version" -> lit(version)) ++
      activity.map(a => // getTypeUID (processor.go:233-235)
        "type_uid" -> (classUid.cast("long") * 100 + a.cast("long"))).toSeq

    // setNestedValue parity: dotted paths → nested named_struct composition
    def nest(entries: Seq[(String, Column)]): Column = {
      val grouped = entries.groupBy(_._1.split("\\.").head)
      val ordered = entries.map(_._1.split("\\.").head).distinct
      struct(ordered.map { head =>
        val sub = grouped(head)
        if (sub.exists(_._1.contains("."))) {
          nest(sub.map { case (p, c) => p.split("\\.", 2)(1) -> c }).as(head)
        } else sub.head._2.as(head)
      }: _*)
    }

    val allEntries = computed ++ perPath.filterNot(_._1 == "activity_id")
      .toSeq.sortBy(p => paths.indexOf(p._1)) ++
      activity.map(a => "activity_id" -> a).toSeq

    val validated =
      if (runtimeValidation) {
        // ValidateClass parity (processor.go:196-205): a matched record that
        // fails its class's schema validation — missing required field OR
        // out-of-enum value — is dropped, not emitted malformed. The schema
        // table (required + enums) comes from the versioned OCSF tables;
        // config-declared `required` is honored for classes outside them.
        val schemaTable = OcsfTables.forVersion(version).map(_.classes)
          .getOrElse(Map.empty)
        mappings.zipWithIndex
          .foldRight(lit(true): Column) { case ((m, i), acc) =>
            // PER-MAPPING values, not the cross-mapping when-chains in
            // `perPath`: inside the `idx === i` branch the chains collapse
            // to this mapping's value anyway, and embedding them would
            // square the expression tree (measured: the 7-class multiclass
            // validation paid ~3 s/1M rows through the interpreted
            // fallback before this rewrite)
            val mPaths = mappedPaths(m)
            def pathValue(p: String): Option[Column] = p match {
              case "class_uid" => Some(lit(m.classId))
              case "category_uid" => Some(lit(m.classId / 1000))
              case "metadata.version" => Some(lit(version))
              case "type_uid" =>
                m.fields.find(_.to == "activity_id").map(fm =>
                  lit(m.classId.toLong * 100) +
                    fieldValue(m, m.fields.find(_.to == "activity_id").get)
                      .cast("long"))
              case _ => m.fields.find(_.to == p).map(fm => fieldValue(m, fm))
                // nested struct presence (e.g. "metadata" via metadata.version)
                // — against THIS mapping's paths only: a sibling mapping's
                // dotted paths must not satisfy this mapping's required set
                // (ValidateClass sees one mapping's body at a time)
                .orElse(if (mPaths.exists(_.startsWith(p + ".")))
                  Some(lit(true)) else None)
            }
            val cls = schemaTable.get(m.classId)
            val required = cls.map(_.required).getOrElse(m.required)
            val reqOk = required
              // a path the mapping never sets fails validation outright
              .map(r => pathValue(r).map(_.isNotNull).getOrElse(lit(false)))
              .foldLeft(lit(true): Column)(_ && _)
            val enumOk = cls.map(_.enums).getOrElse(Map.empty).toSeq
              .sortBy(_._1)
              .flatMap { case (f, vals) =>
                // enum fields check only when present and integral
                // (toInt64-guarded in the generated validators)
                pathValue(f).map { v =>
                  val n = v.try_cast("long")
                  n.isNull || n.isin(vals: _*)
                }
              }.foldLeft(lit(true): Column)(_ && _)
            // "at least one of [...] must be set" constraint groups
            val anyOfOk = cls.map(_.atLeastOne).getOrElse(Seq.empty)
              .map(_.map(p => pathValue(p).map(_.isNotNull)
                  .getOrElse(lit(false)))
                .foldLeft(lit(false): Column)(_ || _))
              .foldLeft(lit(true): Column)(_ && _)
            // ValidateClass parity for the TSV-carried constraint set: the
            // generated validators recurse into nested OBJECT validators
            // for every object-typed field holding a map
            // (validateHTTPActivity -> validateHTTPRequest etc.); mirrored
            // here for every object the mapping's dotted paths descend
            // into — required subfields, integer enums, at-least-one
            // groups, EXACTLY-ONE groups, and string max-length (byte)
            // checks, recursively. NOT mirrored: the reference's ~25
            // compiled regex checks (hostname/ip/email shapes) — regex
            // tables are not carried in the TSV. Opt-in (deepValidation)
            // because the class-level subset is what existing configured
            // pipelines validated against.
            val deepOk: Column =
              if (!deepValidation) lit(true)
              else OcsfTables.forVersion(version).map { vs =>
                def descend(objFields: Map[String, String],
                            prefix: String): Column =
                  objFields.toSeq.sortBy(_._1).flatMap { case (g, objType) =>
                    if (mPaths.exists(_.startsWith(prefix + g + ".")))
                      vs.objects.get(objType)
                        .map(r2 => objPredicate(r2, prefix + g + "."))
                    else None // scalar-assigned object fields skip the
                              // nested validator (the map[string]any type
                              // assertion fails silently upstream)
                  }.foldLeft(lit(true): Column)(_ && _)
                def objPredicate(reqs: graft.enrich.OcsfTables.Reqs,
                                 prefix: String): Column = {
                  val reqOk2 = reqs.required.map(r =>
                    pathValue(prefix + r).map(_.isNotNull)
                      .getOrElse(lit(false)))
                    .foldLeft(lit(true): Column)(_ && _)
                  val enumOk2 = reqs.enums.toSeq.sortBy(_._1)
                    .flatMap { case (f2, vals) =>
                      pathValue(prefix + f2).map { v =>
                        val n = v.try_cast("long")
                        n.isNull || n.isin(vals: _*)
                      }
                    }.foldLeft(lit(true): Column)(_ && _)
                  val anyOk2 = reqs.atLeastOne.map(g =>
                    g.map(p => pathValue(prefix + p).map(_.isNotNull)
                        .getOrElse(lit(false)))
                      .foldLeft(lit(false): Column)(_ || _))
                    .foldLeft(lit(true): Column)(_ && _)
                  reqOk2 && enumOk2 && anyOk2 &&
                    justOneOk(reqs, prefix) && maxLenOk(reqs, prefix) &&
                    descend(reqs.objectFields, prefix)
                }
                // "exactly one of [...]" groups: the generated validator
                // counts PRESENT keys and errors on count != 1
                // (schema.go "exactly one of ... must be set, got %d")
                def justOneOk(reqs: graft.enrich.OcsfTables.Reqs,
                              prefix: String): Column =
                  reqs.justOne.map(g =>
                    g.map(p => when(pathValue(prefix + p).map(_.isNotNull)
                          .getOrElse(lit(false)), 1).otherwise(0))
                      .foldLeft(lit(0): Column)(_ + _) === 1)
                    .foldLeft(lit(true): Column)(_ && _)
                // string max-length: Go checks len(strVal) — BYTES — and
                // only values that are present (absent/null passes)
                def maxLenOk(reqs: graft.enrich.OcsfTables.Reqs,
                             prefix: String): Column =
                  reqs.maxLens.toSeq.sortBy(_._1)
                    .flatMap { case (f2, mx) =>
                      pathValue(prefix + f2).map { v =>
                        val s = v.cast("string")
                        s.isNull || octet_length(s) <= mx
                      }
                    }.foldLeft(lit(true): Column)(_ && _)
                // at class level only the families the SHALLOW gate does
                // not already cover run here (exactly-one + max-length,
                // e.g. c3003's group/privileges pair) — re-running
                // required/enums/any-of would re-embed expression trees
                // reqOk/enumOk/anyOfOk already carry — then recursion
                // descends into the mapped objects
                vs.classes.get(m.classId)
                  .map(cr => justOneOk(cr, "") && maxLenOk(cr, "") &&
                    descend(cr.objectFields, ""))
                  .getOrElse(lit(true))
              }.getOrElse(lit(true))
            when(col("__ocsf_idx") === i, reqOk && enumOk && anyOfOk && deepOk)
              .otherwise(acc)
          }
      } else lit(true)

    df.withColumn("__ocsf_idx", idx)
      .filter(col("__ocsf_idx") >= 0) // non-matching records dropped (:215)
      .filter(validated)
      .select(keep.map(col) :+ nest(allEntries).as("ocsf"): _*)
  }
}
