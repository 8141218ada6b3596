package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.RegexExtractStruct

/** The parse plane: stanza-operator semantics re-expressed as declarative
  * column transforms (SURVEY.md §2A). Each operator is a pure
  * `DataFrame => DataFrame` (or Column helper), so Catalyst fuses the whole
  * parse stage into one WholeStageCodegen span over the parquet scan —
  * filters and column pruning push down to the scan, nothing materializes
  * between operators (unlike the reference's per-record interpreter hops).
  */
object ParseOps {

  // --- scenario discriminators over the transcripts `text` column ---------
  // anchored-literal classes use startsWith, not rlike: same selection,
  // but StartsWith pushes to the parquet scan (PushedFilters row-group
  // skipping) and codegens to a byte compare instead of a regex matcher
  val isNginx: Column = col("text").startsWith("10.")
  val isJson: Column = col("text").startsWith("{")
  val isCsv: Column = col("text").rlike("^\\d{2}/")
  val isKv: Column = col("text").startsWith("level=")
  val isSyslog: Column = col("text").startsWith("<")
  val isMultiline: Column =
    col("text").startsWith("P|") || col("text").startsWith("F|")

  // -------------------------------------------------------------------
  // regex_parser (plugins/nginx_logs.yaml:95-106) — nginx combined format
  // -------------------------------------------------------------------
  /** One-pass grok over the access-log line; group names follow the plugin's
    * named capture groups. Uses the `RegexExtractStruct` kernel so the
    * pattern runs once per row for all 10 fields.
    */
  val NginxFields = Seq("remote_addr", "remote_user", "time_local", "method",
    "path", "protocol", "status", "body_bytes_sent", "http_referer", "http_user_agent")
  val NginxPattern =
    """^(\S+) - (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" (\d+) (\d+) "([^"]*)" "([^"]*)"$"""

  def parseNginx(t: DataFrame): DataFrame = {
    val p = RegexExtractStruct.of(col("text"), NginxPattern, NginxFields)
    t.filter(isNginx)
      .withColumn("p", p)
      .select(
        col("conv_id"), col("turn_idx"),
        col("p.remote_addr").as("remote_addr"),
        col("p.remote_user").as("remote_user"),
        col("p.method").as("method"),
        col("p.path").as("path"),
        col("p.status").cast(IntegerType).as("status"),
        col("p.body_bytes_sent").cast(LongType).as("body_bytes_sent"),
        col("p.http_user_agent").as("http_user_agent"),
        col("p.time_local").as("time_local"))
  }

  // -------------------------------------------------------------------
  // json_parser (plugins/json_logs.yaml:56, nginx_logs.yaml:110-121)
  // -------------------------------------------------------------------
  val JsonBodySchema = StructType(Seq(
    StructField("level", StringType), StructField("status", IntegerType),
    StructField("path", StringType), StructField("latency_ms", LongType),
    StructField("msg", StringType)))

  /** `t` plus the column `name` holding `value`, computed once per row in
    * a `Generate` node. The `explode` of a one-element array keeps exactly
    * one row per input row, and a null value stays null. A filter on
    * `name` stays above the node, where it reads the computed value: the
    * optimizer never copies an expensive `value` into each predicate that
    * reads it. A filter on `t`'s own columns still pushes below the node,
    * down to the scan.
    */
  def once(t: DataFrame, name: String, value: Column): DataFrame =
    t.select(col("*"), explode(array(value)).as(name))

  def parseJson(t: DataFrame): DataFrame =
    // the OCSF class gates filter on many parsed fields: with the parse
    // inlined into each predicate, q_ocsf_multiclass ran ~40 from_json
    // per row
    once(t.filter(isJson), "p", from_json(col("text"), JsonBodySchema))
      .select(col("conv_id"), col("turn_idx"),
        col("p.level").as("level"), col("p.status").as("status"),
        col("p.path").as("path"), col("p.latency_ms").as("latency_ms"),
        col("p.msg").as("msg"))

  // -------------------------------------------------------------------
  // csv_parser (plugins/csv_logs.yaml:67-68) — headers: known per pipeline
  // -------------------------------------------------------------------
  val CsvHeaders = Seq("time_local", "level", "component", "code", "latency_ms")

  def parseCsv(t: DataFrame): DataFrame = {
    val parts = split(col("text"), ",")
    t.filter(isCsv).select(
      col("conv_id"), col("turn_idx"),
      element_at(parts, 1).as("time_local"),
      element_at(parts, 2).as("level"),
      element_at(parts, 3).as("component"),
      element_at(parts, 4).cast(IntegerType).as("code"),
      element_at(parts, 5).cast(LongType).as("latency_ms"))
  }

  // -------------------------------------------------------------------
  // key_value_parser (upstream stanza operator; `k=v` pairs)
  // -------------------------------------------------------------------
  def parseKv(t: DataFrame): DataFrame = {
    val kv = str_to_map(col("text"), lit(" "), lit("="))
    t.filter(isKv).select(
      col("conv_id"), col("turn_idx"),
      kv.getItem("level").as("level"),
      kv.getItem("component").as("component"),
      kv.getItem("code").cast(IntegerType).as("code"),
      kv.getItem("latency_ms").cast(LongType).as("latency_ms"),
      kv.getItem("msg").as("msg"))
  }

  // -------------------------------------------------------------------
  // syslog_parser (plugins/syslog_logs.yaml:12-18; RFC3164 framing)
  // priority = facility*8 + severity
  // -------------------------------------------------------------------
  val SyslogFields = Seq("pri", "stamp", "hostnum", "app", "pid", "message")
  val SyslogPattern = """^<(\d+)>(\w{3} \d{2} \d{2}:\d{2}:\d{2}) host(\d+) (\w+)\[(\d+)\]: (.*)$"""

  def parseSyslog(t: DataFrame): DataFrame = {
    val p = RegexExtractStruct.of(col("text"), SyslogPattern, SyslogFields)
    t.filter(isSyslog)
      .withColumn("p", p)
      .select(
        col("conv_id"), col("turn_idx"),
        col("p.pri").cast(IntegerType).as("pri"),
        (col("p.pri").cast(IntegerType) % 8).as("severity"),
        (col("p.pri").cast(IntegerType) / 8).cast(IntegerType).as("facility"),
        col("p.stamp").as("stamp"),
        col("p.hostnum").cast(IntegerType).as("hostnum"),
        col("p.app").as("app"),
        col("p.pid").cast(LongType).as("pid"),
        col("p.message").as("message"))
  }

  /** RFC5424 framing (syslog receiver `protocol: rfc5424`,
    * plugins/syslog_logs.yaml:12-18): `<pri>1 TIMESTAMP HOST APP PROCID
    * MSGID [SD-ID k="v" ...] MSG`, including one structured-data element
    * parsed to a key/value map.
    */
  val Syslog5424Fields = Seq("pri", "ver", "stamp", "host", "app", "procid",
    "msgid", "sd", "message")
  val Syslog5424Pattern =
    """^<(\d+)>(\d) (\S+) (\S+) (\S+) (\S+) (\S+) (?:\[([^\]]*)\]|-) ?(.*)$"""

  def parseSyslog5424(lines: DataFrame): DataFrame = {
    val p = RegexExtractStruct.of(col("line"), Syslog5424Pattern, Syslog5424Fields)
    lines
      .withColumn("p", p)
      .select(
        col("conv_id"), col("turn_idx"),
        col("p.pri").cast(IntegerType).as("pri"),
        (col("p.pri").cast(IntegerType) % 8).as("severity"),
        col("p.stamp").as("stamp"),
        col("p.host").as("host"),
        col("p.app").as("app"),
        col("p.msgid").as("msgid"),
        // structured data `k="v" k2="v2"` → map
        str_to_map(regexp_replace(
          regexp_extract(col("p.sd"), """^\S+ (.*)$""", 1), "\"", ""),
          lit(" "), lit("=")).getItem("team").as("sd_team"),
        col("p.message").as("message"))
  }

  // -------------------------------------------------------------------
  // uri_parser (plugins/haproxy_logs.yaml:77-78) — scheme/host/path/query
  // -------------------------------------------------------------------
  def parseUri(t: DataFrame): DataFrame = {
    val path = RegexExtractStruct.of(col("text"), NginxPattern, NginxFields)
      .getField("path")
    val url = concat(lit("https://api.example.com"), path, lit("?status="),
      RegexExtractStruct.of(col("text"), NginxPattern, NginxFields).getField("status"))
    t.filter(isNginx)
      .withColumn("url", url)
      .select(
        col("conv_id"), col("turn_idx"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("uri_path"),
        parse_url(col("url"), lit("QUERY"), lit("status")).as("q_status"))
  }

  // -------------------------------------------------------------------
  // time_parser (plugins/nginx_logs.yaml:97-99) — strptime layouts
  // -------------------------------------------------------------------
  /** strptime → java.time DateTimeFormatter translation for the layouts the
    * shipped plugins use (`%d/%b/%Y:%H:%M:%S %z` et al.). */
  /** ctimefmt directive → DateTimeFormatter letter table (the directives
    * the shipped templates use). */
  val StrptimeTable: Seq[(String, String)] = Seq(
    "%F" -> "yyyy-MM-dd", "%T" -> "HH:mm:ss", "%L" -> "SSS",
    "%f" -> "SSSSSS", "%a" -> "EEE", "%h" -> "MMM",
    "%z" -> "Z", "%Y" -> "yyyy", "%y" -> "yy", "%m" -> "MM", "%d" -> "dd",
    "%H" -> "HH", "%M" -> "mm", "%S" -> "ss", "%b" -> "MMM")

  /** Directive scanner (not blind substring replacement): `%X` maps through
    * the table; literal LETTERS between directives are single-quoted — an
    * unquoted 'T' or 'Z' in the translated pattern would be read as a
    * DateTimeFormatter pattern letter ('%Y-%m-%dT%H:%M:%S.%LZ' must become
    * "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").
    */
  def strptimeToJava(layout: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < layout.length) {
      if (layout(i) == '%' && i + 1 < layout.length) {
        val d = layout.substring(i, i + 2)
        StrptimeTable.find(_._1 == d) match {
          case Some((_, pat)) => out ++= pat; i += 2
          case None => throw new IllegalArgumentException(
            s"unsupported strptime directive '$d' in: $layout")
        }
      } else if (layout(i).isLetter || layout(i) == '\'') {
        i = quoteLiteralRun(layout, i, out, _ => false)
      } else { out += layout(i); i += 1 }
    }
    out.toString
  }

  /** Emit a maximal letter/quote literal run starting at `from` as ONE
    * DateTimeFormatter quoted section with internal quotes doubled, and
    * return the index past the run. The single-section form is load-
    * bearing twice over: a bare quote would open a section and swallow the
    * following pattern letters, and quote atoms emitted SEPARATELY from an
    * adjacent section merge into it and miscount the literals (the JDK's
    * pattern scanner treats '' inside a section as one escaped quote).
    * `stopAt` lets the caller end the run where a layout token begins.
    */
  private def quoteLiteralRun(layout: String, from: Int, out: StringBuilder,
                              stopAt: Int => Boolean): Int = {
    var end = from + 1
    while (end < layout.length &&
      (layout(end).isLetter || layout(end) == '\'') && !stopAt(end)) end += 1
    out ++= "'" + layout.substring(from, end).replace("'", "''") + "'"
    end
  }

  /** Go reference-time token → DateTimeFormatter letter table, longest
    * match first (`layout_type: gotime`, used by 6+ shipped templates:
    * plugins/macos_logs.yaml:71-72, haproxy_logs.yaml:127-128,
    * common_event_format_logs.yaml:60-61, bindplane_logs.yaml:57,
    * elasticsearch_logs.yaml:70, ubiquiti_logs.yaml:55).
    */
  private val GotimeTokens: Seq[(String, String)] = Seq(
    "2006" -> "yyyy",
    "January" -> "MMMM", "Jan" -> "MMM",
    "Monday" -> "EEEE", "Mon" -> "EEE",
    "Z07:00" -> "XXX", "-07:00" -> "XXX", "Z0700" -> "XX", "-0700" -> "xx",
    "-07" -> "x",
    ".000000000" -> ".SSSSSSSSS", ".000000" -> ".SSSSSS", ".000" -> ".SSS",
    ".999999999" -> ".SSSSSSSSS", ".999999" -> ".SSSSSS", ".999" -> ".SSS",
    "15" -> "HH", "01" -> "MM", "02" -> "dd", "03" -> "hh",
    "04" -> "mm", "05" -> "ss", "06" -> "yy",
    "PM" -> "a", "pm" -> "a",
    "_2" -> "d", "1" -> "M", "2" -> "d", "3" -> "h", "4" -> "m", "5" -> "s")

  /** Translate a Go reference-time layout to a DateTimeFormatter pattern.
    * Non-token LETTER runs are single-quoted (a literal 'T' in the layout
    * would otherwise be read as a pattern letter).
    */
  def gotimeToJava(layout: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < layout.length) {
      GotimeTokens.find { case (tok, _) => layout.startsWith(tok, i) } match {
        case Some((tok, pat)) => out ++= pat; i += tok.length
        case None =>
          val c = layout(i)
          if (c.isLetter || c == '\'') {
            // one quoted section per run ('UTC', not 'U''T''C'; literal
            // quotes — Go layouts have no escaping — double inside it);
            // see quoteLiteralRun. The run stops where any token begins
            i = quoteLiteralRun(layout, i, out, end =>
              GotimeTokens.exists { case (tok, _) => layout.startsWith(tok, end) })
          } else { out += c; i += 1 }
      }
    }
    out.toString
  }

  /** Parse a gotime-layout string column. Go's `_2` (space-padded day) has
    * no DateTimeFormatter equivalent — runs of spaces in the input squeeze
    * to one and the pattern uses bare `d`. Year-less layouts (the syslog
    * family: 'Jan _2 15:04:05') parse with `defaultYear` prefixed — the
    * batch analogue of stanza's timeutils.SetTimestampYear (which stamps
    * the current year at ingest time; a deterministic engine takes it as
    * config).
    */
  def gotimeParse(c: Column, layout: String, defaultYear: Option[Int] = None): Column = {
    val squeezed =
      if (layout.contains("_2")) regexp_replace(c, " +", " ") else c
    parseWithPattern(squeezed, gotimeToJava(layout), defaultYear)
  }

  /** strptime-layout variant for compiled plugins (same year-default
    * handling). Both use try_to_timestamp: a regex-matched line whose
    * timestamp text still fails the layout yields null, not a job abort
    * (stanza time_parser on_error semantics; ANSI to_timestamp would throw).
    */
  def strptimeParse(c: Column, layout: String,
                    defaultYear: Option[Int] = None): Column = {
    // %L is milliseconds (exactly 3 digits as DateTimeFormatter 'SSS');
    // sources emitting higher precision (solr logs carry 3-6 fractional
    // digits) TRUNCATE to millis instead of nulling the whole timestamp.
    // The truncation targets a fraction directly following a
    // colon-separated seconds field (":SS." or ":SS,", the shape of every
    // shipped %L layout) — an unanchored "\.\d{3}\d+" would also mangle
    // the 4-digit year of a dotted date layout ("02.11.2024"). A layout
    // with no ':' at all (e.g. compact "%H%M%S.%L") falls back to the
    // loose rule, where no such dotted-field ambiguity can exist alongside.
    val prepped =
      if (!layout.contains("%L")) c
      else if (layout.contains(":"))
        regexp_replace(c, "(:\\d{2}[.,]\\d{3})\\d+", "$1")
      else regexp_replace(c, "([.,]\\d{3})\\d+", "$1")
    parseWithPattern(prepped, strptimeToJava(layout), defaultYear)
  }

  private def parseWithPattern(c: Column, pat: String,
                               defaultYear: Option[Int]): Column =
    defaultYear match {
      case Some(y) if !pat.contains("y") =>
        try_to_timestamp(concat(lit(s"$y "), c), lit(s"yyyy $pat"))
      case _ => try_to_timestamp(c, lit(pat))
    }

  /** Parse the nginx `time_local` (sans zone — fixture zone is always +0000,
    * and the session timezone is UTC) back into an event timestamp. */
  def parseTime(t: DataFrame): DataFrame =
    parseCsv(t).select(
      col("conv_id"), col("turn_idx"),
      to_timestamp(substring_index(col("time_local"), " ", 1),
        strptimeToJava("%d/%b/%Y:%H:%M:%S")).as("event_ts"))

  // -------------------------------------------------------------------
  // severity_parser (plugins/nginx_logs.yaml:100-106) — `2xx`..`5xx` HTTP
  // class aliases + range mappings → OTel severity numbers
  // -------------------------------------------------------------------
  /** OTel SeverityNumber dictionary (the reference's severity_enum,
    * expr/record.go:67-68). */
  val SevInfo = 9; val SevWarn = 13; val SevError = 17

  // The severity mappings evaluate their input once and look the class up in
  // a literal table: a nested `when(x >= 500, ..).when(x >= 400, ..)` would
  // evaluate `x` twice for every row that is not an error, and subexpression
  // elimination does not hoist `x` (a regex or JSON extraction, in
  // Router.rowSeverity) out of the conditional branch the chain sits in.

  /** ERROR from 500 up, WARN from 400, else INFO (a null `status` too): the
    * class is the int `status`'s `width_bucket` over [400, 500) — 0 below,
    * 1 inside, 2 from 500 up.
    */
  def severityFromStatus(status: Column): Column =
    coalesce(typedLit(Map(1L -> SevWarn, 2L -> SevError))
      .apply(width_bucket(status, lit(400), lit(500), lit(1))), lit(SevInfo))

  def severityText(sevNum: Column): Column =
    when(sevNum >= 21, "FATAL").when(sevNum >= 17, "ERROR")
      .when(sevNum >= 13, "WARN").when(sevNum >= 9, "INFO")
      .when(sevNum >= 5, "DEBUG").otherwise("TRACE")

  def severityFromLevel(level: Column): Column =
    coalesce(typedLit(Map("error" -> SevError, "warn" -> SevWarn)).apply(level), lit(SevInfo))

  // -------------------------------------------------------------------
  // Generic severity mapping compiler (stanza severity_parser `mapping:`):
  // each severity maps to a LIST of match rules — exact strings
  // (case-insensitive), `2xx`..`5xx` HTTP class aliases
  // (nginx_logs.yaml:100-106, haproxy_logs.yaml:66-71), or {min,max}
  // ranges — compiled into ONE when-chain, config as data.
  // -------------------------------------------------------------------
  sealed trait SevRule
  /** case-insensitive exact text match (stanza lowercases both sides) */
  case class ExactRule(value: String) extends SevRule
  /** `2xx`..`5xx` status-class alias */
  case class ClassRule(alias: String) extends SevRule {
    require(alias.matches("[1-5]xx"), s"bad class alias '$alias'")
    def lo: Int = alias.head.asDigit * 100
    def hi: Int = lo + 99
  }
  case class RangeRule(min: Int, max: Int) extends SevRule

  def compileSeverityMapping(value: Column,
                             mapping: Seq[(Int, Seq[SevRule])],
                             default: Int = SevInfo): Column =
    mapping.foldRight(lit(default): Column) { case ((sev, rules), acc) =>
      val pred = rules.map {
        // try_cast: text aliases flow through the same column as numeric
        // codes — ANSI cast would throw on 'medium', try_cast yields null
        case ExactRule(v) => lower(value) === v.toLowerCase
        case c: ClassRule => value.try_cast(IntegerType).between(c.lo, c.hi)
        case RangeRule(lo, hi) => value.try_cast(IntegerType).between(lo, hi)
      }.reduce(_ || _)
      when(coalesce(pred, lit(false)), sev).otherwise(acc)
    }

  /** The stanza preset's default text aliases (severity text → OTel number)
    * as a reusable mapping table.
    */
  val DefaultSeverityPreset: Seq[(Int, Seq[SevRule])] = Seq(
    21 -> Seq(ExactRule("fatal"), ExactRule("panic"), ExactRule("crit"),
      ExactRule("critical"), ExactRule("emerg"), ExactRule("emergency")),
    SevError -> Seq(ExactRule("error"), ExactRule("err"), ExactRule("alert")),
    SevWarn -> Seq(ExactRule("warn"), ExactRule("warning"), ExactRule("notice")),
    SevInfo -> Seq(ExactRule("info"), ExactRule("information"), ExactRule("log")),
    5 -> Seq(ExactRule("debug"), ExactRule("dbg")),
    1 -> Seq(ExactRule("trace")))

  def parseSeverity(t: DataFrame): DataFrame = {
    val n = parseNginx(t)
    n.select(col("conv_id"), col("turn_idx"), col("status"),
      severityFromStatus(col("status")).as("severity_number"),
      severityText(severityFromStatus(col("status"))).as("severity_text"))
  }

  // -------------------------------------------------------------------
  // recombine (plugins/container_logs.yaml:111-114) — multiline reassembly:
  // consecutive rows of a conversation combine until `is_last_entry`.
  // -------------------------------------------------------------------
  /** Sessionize partial turns per conv_id ordered by turn_idx: a session ends
    * at each final (`F|`) row; `session_id` = number of final rows strictly
    * before this row. At scale this is one shuffle on conv_id (the natural
    * partitioning key) — no driver-side state, unlike the reference's
    * in-memory batching.
    */
  def recombine(t: DataFrame): DataFrame = {
    val part = t.filter(isMultiline)
    val isFinal = when(col("text").startsWith("F|"), 1L).otherwise(0L)
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withSession = part
      .withColumn("session_id", coalesce(sum(isFinal).over(w), lit(0L)))
    withSession
      .groupBy(col("conv_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("turn_idx")).as("first_turn"),
        max(col("turn_idx")).as("last_turn"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            x => x.getField("text")),
          "\n").as("combined"))
  }

  /** Full stanza recombine config surface (the operator the reference's
    * multiline plugins configure): exactly one of `is_first_entry` /
    * `is_last_entry` marks the batch boundary, `combine_with` joins the
    * combine field (default newline), `max_batch_size` force-flushes an
    * over-long batch into chunks, and `overwrite_with` picks whether the
    * OLDEST or NEWEST entry's other fields survive on the combined record.
    */
  case class RecombineConfig(
      isFirstEntry: Option[Column] = None,
      isLastEntry: Option[Column] = None,
      combineWith: String = "\n",
      maxBatchSize: Int = 1000,
      overwriteWith: String = "oldest")

  def recombineConfigured(part: DataFrame, cfg: RecombineConfig): DataFrame = {
    require(cfg.isFirstEntry.isDefined ^ cfg.isLastEntry.isDefined,
      "recombine: exactly one of is_first_entry / is_last_entry must be set")
    require(cfg.maxBatchSize > 0, "recombine: max_batch_size must be positive")
    require(Seq("oldest", "newest").contains(cfg.overwriteWith),
      s"recombine: overwrite_with must be oldest|newest, got '${cfg.overwriteWith}'")
    val marker = cfg.isFirstEntry.getOrElse(cfg.isLastEntry.get)
    val mInt = when(coalesce(marker, lit(false)), 1L).otherwise(0L)
    // a FIRST marker starts its own batch (count itself); a LAST marker
    // closes the batch it belongs to (count strictly-preceding matches)
    val frameEnd = if (cfg.isFirstEntry.isDefined) 0L else -1L
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      .rowsBetween(Window.unboundedPreceding, frameEnd)
    val withSession = part
      .withColumn("session_id", coalesce(sum(mInt).over(w), lit(0L)))
    // force flush: an over-long batch splits into max_batch_size chunks
    val wRank = Window.partitionBy(col("conv_id"), col("session_id"))
      .orderBy(col("turn_idx"))
    val chunked = withSession.withColumn("chunk",
      (((row_number().over(wRank) - 1) / cfg.maxBatchSize).cast("long")))
    val anchorStruct = struct(col("turn_idx"), col("role"))
    val anchor =
      if (cfg.overwriteWith == "oldest") min(anchorStruct) else max(anchorStruct)
    chunked
      .groupBy(col("conv_id"), col("session_id"), col("chunk"))
      .agg(
        count(lit(1)).as("n_parts"),
        min(col("turn_idx")).as("first_turn"),
        max(col("turn_idx")).as("last_turn"),
        anchor.getField("role").as("anchor_role"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("turn_idx"), col("text")))),
            x => x.getField("text")),
          cfg.combineWith).as("combined"))
  }

  // -------------------------------------------------------------------
  // assign_keys (upstream stanza operator): zip a positional value list
  // with configured keys → keyed attribute map
  // -------------------------------------------------------------------
  /** A row whose positional list is shorter than the configured keys pads
    * with nulls (map_from_arrays throws on length mismatch, which would fail
    * the whole job on one malformed line instead of per-record on_error).
    */
  def assignKeys(values: Column, keys: Seq[String]): Column =
    map_from_arrays(
      typedlit(keys),
      slice(concat(values,
          array_repeat(lit(null).cast("string"), keys.length)),
        1, keys.length))

  // -------------------------------------------------------------------
  // field ops: add / copy / move / remove / retain (SURVEY.md §2A)
  // -------------------------------------------------------------------
  /** add: `withColumn(lit/expr)`; copy: duplicate column; move: rename;
    * remove: drop; retain: project. Composed into one demonstrative
    * transform over parsed kv rows — in the engine these are plan-time
    * projections, zero runtime cost beyond the expression itself.
    */
  def fieldOps(t: DataFrame): DataFrame =
    parseKv(t)
      .withColumn("env", lit("prod")) // add (plugins/postgresql_logs.yaml:127-128)
      .withColumn("log_record_original", col("msg")) // copy (nginx_logs.yaml:88-91)
      .withColumnRenamed("component", "service") // move (nginx_logs.yaml:122-125)
      .drop("latency_ms") // remove (container_logs.yaml:115-116)
      .select("conv_id", "turn_idx", "level", "service", "code", "env",
        "log_record_original") // retain (nginx_logs.yaml:136-141)

  // -------------------------------------------------------------------
  // filter (plugins/nginx_logs.yaml:133-135) — drop records matching expr.
  // A drop predicate that cannot be evaluated (NULL, e.g. a comparison
  // against a missing parsed field) keeps the record — the reference's
  // Match() is false-on-error, so only a definite `true` drops.
  // -------------------------------------------------------------------
  def filterOp(t: DataFrame, dropIf: Column): DataFrame =
    t.filter(!coalesce(dropIf, lit(false)))
}
