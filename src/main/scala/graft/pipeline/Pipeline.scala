package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.EnrichOps
import graft.route.Router

/** Pipeline spec + compiler: the engine's analogue of the collector's
  * config → component graph lifecycle (SURVEY §3 EP1/EP2).
  *
  * A spec is validated at plan time — unknown operators, missing required
  * params, and undefined routes are plan-time errors, exactly as the
  * reference rejects configs in Validate() (logcountprocessor/config.go:55-73)
  * and undefined routes in routereceiver (receiver.go:46). Plugin-parameter
  * defaulting mirrors pluginreceiver's ApplyDefaults/CheckParameters
  * (receiver/pluginreceiver/plugin.go:85-101, 146-266).
  */
object Pipeline {

  // ---------------------------------------------------------------------
  // Spec model (the YAML-ish job config, as typed case classes)
  // ---------------------------------------------------------------------
  case class ParamSpec(name: String, required: Boolean = false,
                       default: Option[String] = None,
                       supported: Option[Seq[String]] = None)

  case class OperatorSpec(opType: String, params: Map[String, String] = Map.empty)

  case class RouteSpec(name: String, predicateSql: String)

  case class PipelineSpec(name: String,
                          operators: Seq[OperatorSpec],
                          routes: Seq[RouteSpec],
                          sinks: Seq[String])

  /** Registry of operator types and their parameter schemas — the factory
    * set a build manifest would declare (manifests/observIQ/manifest.yaml).
    */
  val OperatorParams: Map[String, Seq[ParamSpec]] = Map(
    "severity_tag" -> Seq.empty,
    "lookup_enrich" -> Seq.empty,
    "mask" -> Seq(ParamSpec("rules", default = Some("all"))),
    "filter" -> Seq(ParamSpec("drop_where", required = true)),
    "sample" -> Seq(
      ParamSpec("drop_ratio", required = true),
      ParamSpec("condition", default = Some("true"))),
    "add" -> Seq(ParamSpec("field", required = true), ParamSpec("value", required = true)),
    "retain" -> Seq(ParamSpec("fields", required = true)),
    // transformprocessor: OTTL statement list, ';'-separated
    "transform" -> Seq(ParamSpec("statements", required = true)),
    // lookupprocessor: CSV file source (header-driven), context + field
    "lookup_csv" -> Seq(
      ParamSpec("csv", required = true),
      ParamSpec("context", default = Some("attributes"),
        supported = Some(Seq("body", "attributes", "resource.attributes"))),
      ParamSpec("field", required = true)),
    // batchprocessor: output batch sizing (send_batch_size analogue —
    // maxRecordsPerFile caps file size; coalesce bounds task counts)
    "batch" -> Seq(ParamSpec("max_records", default = Some("5000000"))))

  /** batchprocessor send_batch_size analogue (manifest.yaml:86): output
    * batches are bounded by capping records per written file. The cap is
    * pipeline config (the spec's `batch` operator), not a writer flag;
    * the sink writer ([[PipelineRunner.writeCounted]]) passes it as
    * `maxRecordsPerFile`.
    */
  def maxRecordsPerFile(spec: PipelineSpec): Long =
    spec.operators.find(_.opType == "batch")
      .flatMap(_.params.get("max_records"))
      .getOrElse(OperatorParams("batch").head.default.get).toLong

  /** CheckParameters parity: unknown op, unknown parameter, missing
    * required, unsupported value are all plan-time validation errors;
    * defaults are applied here.
    */
  def validate(spec: PipelineSpec): Either[Seq[String], PipelineSpec] = {
    val errs = scala.collection.mutable.ListBuffer[String]()
    val withDefaults = spec.operators.map { op =>
      OperatorParams.get(op.opType) match {
        case None =>
          errs += s"unknown operator type '${op.opType}'"
          op
        case Some(params) =>
          op.params.keys.filterNot(k => params.exists(_.name == k)).foreach { k =>
            errs += s"${op.opType}: unknown parameter '$k'"
          }
          params.foreach { p =>
            if (p.required && !op.params.contains(p.name))
              errs += s"${op.opType}: missing required parameter '${p.name}'"
            p.supported.foreach { sup =>
              op.params.get(p.name).filterNot(sup.contains).foreach { v =>
                errs += s"${op.opType}: unsupported value '$v' for '${p.name}'"
              }
            }
          }
          val defaults = params.collect {
            case p if p.default.isDefined && !op.params.contains(p.name) =>
              p.name -> p.default.get
          }
          op.copy(params = op.params ++ defaults)
      }
    }
    if (spec.routes.isEmpty) errs += "pipeline requires at least one route"
    val routeNames = spec.routes.map(_.name).toSet
    spec.sinks.filterNot(routeNames.contains).foreach { s =>
      errs += s"sink '$s' bound to undefined route" // routereceiver.go:46 parity
    }
    if (errs.nonEmpty) Left(errs.toList) else Right(spec.copy(operators = withDefaults))
  }

  /** Compile the validated spec into a DataFrame transform. Operators fold
    * left→right exactly like the collector's consumer chain; the result is
    * ONE Catalyst plan (the interpreter hops of the reference disappear into
    * whole-stage codegen).
    */
  def compile(spec: PipelineSpec, spark: SparkSession): DataFrame => DataFrame = {
    validate(spec) match {
      case Left(errs) =>
        throw new IllegalArgumentException(
          s"invalid pipeline '${spec.name}': ${errs.mkString("; ")}")
      case Right(v) =>
        (input: DataFrame) => {
          val afterOps = v.operators.foldLeft(input) { (df, op) =>
            op.opType match {
              case "severity_tag" =>
                df.withColumn("severity_number", Router.rowSeverity())
              case "lookup_enrich" => EnrichOps.lookupEnrich(spark, df)
              case "mask" => df.withColumn("text", EnrichOps.maskString(col("text")))
              case "filter" => // false-on-error contract lives in filterOp
                graft.parse.ParseOps.filterOp(df, expr(op.params("drop_where")))
              case "sample" =>
                graft.agg.AggOps.sample(df, expr(op.params("condition")),
                  op.params("drop_ratio").toDouble)
              case "add" => df.withColumn(op.params("field"), expr(op.params("value")))
              case "retain" => df.select(op.params("fields").split(",")
                .toIndexedSeq.map(f => col(f.trim)): _*)
              case "transform" =>
                graft.expr.Ottl(graft.expr.Ottl.splitStatements(
                  op.params("statements")), df.columns.toSet)(df)
              case "lookup_csv" =>
                EnrichOps.lookupCsv(spark, df, EnrichOps.LookupSpec(
                  op.params("csv"), op.params("context"), op.params("field")))
              case "batch" => df // sizing applied at the sink (maxRecordsPerFile)
            }
          }
          afterOps.withColumn("route", Router.routeTag(
            v.routes.map(r => Router.Route(r.name, expr(r.predicateSql)))))
        }
    }
  }

  /** The canonical benchmark pipeline: severity-tag → lookup-enrich →
    * 3-way route (FIXTURES.md §3).
    */
  val Canonical: PipelineSpec = PipelineSpec(
    name = "canonical",
    operators = Seq(
      OperatorSpec("severity_tag"),
      OperatorSpec("lookup_enrich")),
    routes = Seq(
      RouteSpec("sink_errors", "severity_number >= 17"),
      RouteSpec("sink_tools", "tool != ''"),
      RouteSpec("sink_default", "true")),
    sinks = Seq("sink_errors", "sink_tools", "sink_default"))
}

/** The spark-submit batch job: partition-wise parse → enrich → route →
  * fan-out → aggregate over the hour-partitioned transcripts table, with
  * per-partition manifest commits and resume.
  *
  * Scale design (10^12 turns): partitions are processed in bounded groups —
  * each group is ONE partition-pruned scan and ONE write partitioned by
  * (route, year, month, day, hour), so every row reaches its sink table in
  * the pass that parsed it (the input is never re-read per sink and nothing
  * is cached), and each hour partition commits to the manifest
  * independently, so a killed run loses at most the in-flight group and
  * re-runs idempotently (dynamic partition overwrite, set on the write, not
  * on the caller's session). The write is the only job of a group: the
  * input schema is read from one footer on the driver, the manifest's rows
  * in and rows per sink are counted by two `observe` taps riding that write
  * ([[writeCounted]], the one counted write of batch and stream), and the
  * lookups are hash probes inside the write's projection.
  */
object PipelineRunner {
  import org.apache.hadoop.fs.{Path => HPath}
  import org.apache.spark.sql.{Column, Observation}
  import graft.io.Parquet

  case class RunReport(partitionsProcessed: Int, partitionsSkipped: Int,
                       rowsIn: Long, sinkCounts: Map[String, Long],
                       rowsOut: Long)

  /** What one write read and committed for one manifest key: `rowsIn` rows
    * entered the spec's operators, and `sinkCounts` rows went to each sink. */
  case class KeyCounts(rowsIn: Long, sinkCounts: Map[String, Long])

  /** Discover hour partitions of a `year=/month=/day=/hour=` table. A leaf
    * below `year=` whose levels are not `month=`/`day=`/`hour=` with integer
    * values (Spark writes `hour=__HIVE_DEFAULT_PARTITION__` for a null hour)
    * fails here, naming its path, before any group of a run commits. */
  def discoverPartitions(spark: SparkSession, inputPath: String): Seq[String] = {
    val root = new HPath(inputPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(p: HPath): Seq[HPath] =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
    val leaves = for {
      y <- ls(root) if y.getName.startsWith("year=")
      m <- ls(y); d <- ls(m); h <- ls(d)
    } yield Seq(y, m, d, h).map(_.getName)
    leaves.map { names =>
      require(names.zip(Seq("year", "month", "day", "hour"))
        .forall { case (n, level) => n.matches(s"$level=\\d{1,9}") },
        s"$inputPath/${names.mkString("/")}: not a year=/month=/day=/hour= " +
          "partition with integer values")
      names.mkString("/")
    }
  }

  /** Path of a sink's table: a `route=<name>` partition of the single
    * fan-out output — each route directory IS that sink's table.
    */
  def sinkPath(outRoot: String, sink: String): String =
    s"$outRoot/sinks/route=$sink"

  /** Measured sink writer defaults (BASELINE.md "Write-phase experiment
    * matrix": 8M-turn matrix, best-of-N on tmpfs): zstd level 1 +
    * dictionary encoding disabled on the high-cardinality columns cut write
    * wall ~22% AND output bytes ~45% vs snappy-with-dictionaries.
    * Dictionaries on text/conv_id/ts overflow and fall back — pure encode
    * overhead — while the enum columns (role/tool/severity_text/...) keep
    * theirs for the size win.
    * At cluster scale the byte reduction compounds: the written bytes are
    * re-read by every downstream consumer.
    */
  val WriterOptions: Map[String, String] = Map(
    "compression" -> "zstd",
    "parquet.compression.codec.zstd.level" -> "1") ++
    Seq("text", "conv_id", "ts", "attrs_json")
      .map(c => s"parquet.enable.dictionary#$c" -> "false")

  /** A row's batch manifest key: its hour partition as the number
    * yyyymmddhh, arithmetic on the partition values (no string per row). */
  private[graft] val HourKey: Column =
    Seq("month", "day", "hour").foldLeft(col("year").cast("long"))((k, c) => k * 100 + col(c))

  /** The [[HourKey]] of the rows of partition `p`; the reference exporter's
    * zero-padded `month=01` reads as 1, as Spark reads it. */
  private def hourKey(p: String): Long =
    p.split('/').map(_.split("=", 2)(1).toLong).reduce(_ * 100 + _)

  /** The write input of [[writeCounted]]: `input` through the spec, with
    * two [[RowsPerKey]] taps: `in` below the operators (a `filter` drops rows
    * only after it), counting rows per (`key`, ""); `out` on the routed rows,
    * counting rows per (`key`, route). */
  private[graft] def tapped(input: DataFrame, spec: Pipeline.PipelineSpec,
                            key: Column): (DataFrame, Observation, Observation) = {
    val (in, out) = (new Observation(), new Observation())
    val routed = Pipeline.compile(spec, input.sparkSession)(
      input.observe(in, RowsPerKey.of(key, lit("")).as("rows")))
    (routed.observe(out, RowsPerKey.of(key, col("route")).as("rows")), in, out)
  }

  /** Rows per (key, route) of a tap of [[tapped]], once its query has run. */
  private[graft] def tapCounts(o: Observation): Map[(Long, String), Long] =
    o.get("rows").asInstanceOf[scala.collection.Map[Row, Long]]
      .map { case (k, n) => (k.getLong(0), k.getString(1)) -> n }.toMap

  /** The one counted sink write, of a batch group and of a micro-batch
    * alike: every row lands in its route's table, partitioned by route, hour
    * and then `extraPartitions` (the streaming sink adds `batch_id`), files
    * capped at the spec's batch size, counted by the write's own two taps
    * ([[tapped]]). Dynamic overwrite on this write only: a re-run replaces
    * just the leaves it writes; the caller's session keeps its own mode.
    *
    * `key` gives each input row its manifest key and must give it again on
    * the routed row. Returns the counts of every key of `keys`, 0 for a key
    * no row carried; the caller commits one manifest entry per key.
    */
  def writeCounted(input: DataFrame, spec: Pipeline.PipelineSpec, outRoot: String,
                   keys: Seq[Long], key: Column,
                   extraPartitions: (String, Column)*): Map[Long, KeyCounts] = {
    val (routed, in, out) = tapped(input, spec, key)
    routed.withColumns(extraPartitions.toMap)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", Pipeline.maxRecordsPerFile(spec))
      .options(WriterOptions)
      .partitionBy(Seq("route", "year", "month", "day", "hour") ++ extraPartitions.map(_._1): _*)
      .parquet(s"$outRoot/sinks")
    val (rowsIn, rowsOut) = (tapCounts(in), tapCounts(out))
    keys.map(k => k -> KeyCounts(rowsIn.getOrElse((k, ""), 0L),
      spec.sinks.map(s => s -> rowsOut.getOrElse((k, s), 0L)).toMap)).toMap
  }

  /** Run `spec` over every hour partition of `inputPath` not yet in the
    * manifest, `groupSize` partitions per scan; the sink tables land under
    * `outRoot/sinks` (see [[sinkPath]]).
    */
  def run(spark: SparkSession, spec: Pipeline.PipelineSpec,
          inputPath: String, outRoot: String,
          groupSize: Int = 24,
          failure: Option[RandomFailure] = None, attempt: Int = 0): RunReport = {
    val manifest = new Manifest(s"$outRoot/_manifest")
    val all = discoverPartitions(spark, inputPath)
    val todo = manifest.uncommitted(all)
    var rowsIn = 0L
    var rowsOut = 0L
    val sinkTotals = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)

    todo.grouped(groupSize).foreach { group =>
      // randomfailureprocessor injection point: per consume call (= per
      // batch group here), BEFORE any work — a failed draw aborts the run
      // with committed state intact, and the caller's retry re-draws
      failure.foreach(_.check(group.mkString(","), attempt))
      val t0 = System.nanoTime()
      // one pruned scan for the whole group, its schema read from one
      // footer on the driver (no inference job)
      val paths = group.map(p => s"$inputPath/$p")
      val input = Parquet.read(spark, spark.read.option("basePath", inputPath), paths: _*)
      // single pass: route is the leading output partition column — every
      // row lands in its sink table in the same job that parsed it.
      // Tested and rejected (BASELINE.md "Write-phase experiment matrix"):
      // sortWithinPartitions(conv_id, turn_idx) before the write looked −10%
      // on isolated write wall but is noise-neutral end-to-end over 2×2
      // alternating bench runs (sorted 2.51/2.84M tps vs unsorted
      // 2.73/2.37M) — the per-task sort CPU eats the writer-side gain, so
      // the simpler plan ships
      val keys = group.map(hourKey)
      val counts = writeCounted(input, spec, outRoot, keys, HourKey)
      val wallMs = (System.nanoTime() - t0) / 1000000
      group.zip(keys).foreach { case (p, k) =>
        val c = counts(k)
        rowsIn += c.rowsIn
        rowsOut += c.sinkCounts.values.sum
        c.sinkCounts.foreach { case (k, v) => sinkTotals(k) += v }
        manifest.commit(p, c.rowsIn, c.sinkCounts, Seq(s"$inputPath/$p"), wallMs)
      }
    }
    RunReport(todo.size, all.size - todo.size, rowsIn, sinkTotals.toMap, rowsOut)
  }
}
