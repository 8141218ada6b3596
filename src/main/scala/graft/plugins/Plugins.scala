package graft.plugins

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.functions.RegexExtractStruct
import graft.parse.ParseOps

/** Plugin layer: a plugin = a validated-params → Dataset transform compiler
  * (EP2 parity: receiver/pluginreceiver/plugin.go Render/ApplyDefaults/
  * CheckParameters → rendered operator DAG; no textual templating needed in
  * Scala — composition is native, SURVEY §3 EP2).
  */
object Plugins {

  /** `input` plus the one-pass grok struct `g` of `c`, computed once per
    * row ([[ParseOps.once]]). Plugin pipelines filter on PARSED fields
    * (on_error drops, severity gates, data_flow filters); with the regex
    * inlined into each such predicate, the plugin corpus ran it twice per
    * row.
    */
  private[plugins] def grok(input: DataFrame, c: Column, pattern: String,
                            fields: Seq[String]): DataFrame =
    ParseOps.once(input, "g", RegexExtractStruct.of(c, pattern, fields))

  case class PluginParam(name: String, default: Option[String],
                         supported: Seq[String] = Seq.empty)

  abstract class Plugin(val name: String, val params: Seq[PluginParam]) {
    /** CheckParameters parity (plugin.go:146-266). */
    def validate(params: Map[String, String]): Map[String, String] = {
      params.keys.foreach { k =>
        require(this.params.exists(_.name == k), s"$name: unknown parameter '$k'")
      }
      this.params.foreach { p =>
        params.get(p.name).foreach { v =>
          require(p.supported.isEmpty || p.supported.contains(v),
            s"$name: unsupported value '$v' for '${p.name}'")
        }
        require(params.contains(p.name) || p.default.isDefined,
          s"$name: missing required parameter '${p.name}'")
      }
      this.params.map(p => p.name -> params.getOrElse(p.name, p.default.get)).toMap
    }

    def apply(spark: SparkSession, params: Map[String, String] = Map.empty)
             (input: DataFrame): DataFrame =
      build(spark, validate(params))(input)

    protected def build(spark: SparkSession, p: Map[String, String])
                       : DataFrame => DataFrame
  }

  /** The nginx plugin (plugins/nginx_logs.yaml): regex-parse the access log,
    * embedded time + severity parsing, `log_type` add, low-data-mode retain.
    * `data_flow: low` drops INFO-class records (the plugin's filter at
    * nginx_logs.yaml:132-141 keeps only warn+ in low mode).
    */
  object NginxPlugin extends Plugin("nginx", Seq(
    PluginParam("data_flow", Some("high"), Seq("high", "low")),
    PluginParam("log_type", Some("nginx")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val parsed = grok(input.filter(ParseOps.isNginx), col("text"),
          ParseOps.NginxPattern, ParseOps.NginxFields)
        .select(
          col("conv_id"), col("turn_idx"), col("tool"),
          col("g.remote_addr").as("remote_addr"),
          col("g.method").as("method"),
          col("g.path").as("path"),
          col("g.status").cast(IntegerType).as("status"),
          col("g.body_bytes_sent").cast(LongType).as("body_bytes_sent"),
          to_timestamp(substring_index(col("g.time_local"), " ", 1),
            "dd/MMM/yyyy:HH:mm:ss").as("event_ts"),
          lit(p("log_type")).as("log_type"))
        .withColumn("severity_number",
          ParseOps.severityFromStatus(col("status")))
        .withColumn("severity_text",
          ParseOps.severityText(col("severity_number")))
      if (p("data_flow") == "low")
        parsed.filter(col("severity_number") >= ParseOps.SevWarn)
      else parsed
    }
  }

  /** Syslog plugin (plugins/syslog_logs.yaml): protocol param switches the
    * RFC3164/RFC5424 parser; `data_flow: low` drops debug-severity entries
    * (priority % 8 == 7, syslog_logs.yaml:105-110); `retain_raw_logs`
    * preserves the original line in `raw_log` (:99-104). connection_type /
    * listen_address configure the network listener — in batch form they are
    * validated but do not change the relational plan (the scan IS the
    * receiver).
    */
  object SyslogPlugin extends Plugin("syslog", Seq(
    PluginParam("connection_type", Some("udp"), Seq("tcp", "udp")),
    PluginParam("protocol", Some("rfc5424"), Seq("rfc3164", "rfc5424")),
    PluginParam("data_flow", Some("high"), Seq("high", "low")),
    PluginParam("retain_raw_logs", Some("false"), Seq("true", "false")),
    PluginParam("parse", Some("true"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val lines = input.filter(ParseOps.isSyslog)
      if (p("parse") != "true")
        lines.select(col("conv_id"), col("turn_idx"), col("text").as("body"))
      else {
        val parsed =
          if (p("protocol") == "rfc3164")
            grok(lines, col("text"), ParseOps.SyslogPattern, ParseOps.SyslogFields)
              .select(col("conv_id"), col("turn_idx"),
                col("g.pri").cast(IntegerType).as("priority"),
                (col("g.pri").cast(IntegerType) % 8).as("severity"),
                col("g.app").as("appname"),
                concat(lit("host"), col("g.hostnum")).as("hostname"),
                col("g.message").as("message"),
                col("text"))
          else // rfc5424: on_error send — fixture 3164 lines yield nulls
            grok(lines, col("text"),
                ParseOps.Syslog5424Pattern, ParseOps.Syslog5424Fields)
              .select(col("conv_id"), col("turn_idx"),
                col("g.pri").cast(IntegerType).as("priority"),
                (col("g.pri").cast(IntegerType) % 8).as("severity"),
                col("g.app").as("appname"),
                col("g.host").as("hostname"),
                col("g.message").as("message"),
                col("text"))
        val filtered =
          if (p("data_flow") == "low")
            // filter expr 'priority % 8 == 7' drops matching records
            parsed.filter(!coalesce(col("severity") === 7, lit(false)))
          else parsed
        val withRaw =
          if (p("retain_raw_logs") == "true")
            filtered.withColumn("raw_log", col("text"))
          else filtered
        withRaw.drop("text")
      }
    }
  }

  /** CSV plugin (plugins/csv_logs.yaml): the `header` parameter is REQUIRED
    * and drives the output schema — header keys become columns (csv_parser
    * `header:` semantics). save_log_record_original copies the raw body to
    * `log.record.original` (csv_logs.yaml:70-75).
    */
  object CsvPlugin extends Plugin("csv", Seq(
    PluginParam("header", None),
    PluginParam("log_type", Some("csv")),
    PluginParam("save_log_record_original", Some("false"), Seq("true", "false")),
    PluginParam("parse", Some("true"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val rows = input.filter(ParseOps.isCsv)
      if (p("parse") != "true")
        rows.select(col("conv_id"), col("turn_idx"), col("text").as("body"),
          lit(p("log_type")).as("log_type"))
      else {
        val headerCols = p("header").split(",").map(_.trim)
        val parts = split(col("text"), ",")
        val orig =
          if (p("save_log_record_original") == "true")
            Seq(col("text").as("log_record_original"))
          else Seq.empty
        rows.select(
          Seq(col("conv_id"), col("turn_idx")) ++
            headerCols.zipWithIndex.map { case (h, i) =>
              element_at(parts, i + 1).as(h)
            } ++ Seq(lit(p("log_type")).as("log_type")) ++ orig: _*)
      }
    }
  }

  /** JSON plugin (plugins/json_logs.yaml): json_parser over the body with a
    * log_type attribute.
    */
  object JsonPlugin extends Plugin("json", Seq(
    PluginParam("log_type", Some("json")),
    PluginParam("parse", Some("true"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val rows = input.filter(ParseOps.isJson)
      if (p("parse") != "true")
        rows.select(col("conv_id"), col("turn_idx"), col("text").as("body"),
          lit(p("log_type")).as("log_type"))
      else
        rows.withColumn("j", from_json(col("text"), ParseOps.JsonBodySchema))
          .select(col("conv_id"), col("turn_idx"),
            col("j.level").as("level"), col("j.status").as("status"),
            col("j.path").as("path"), col("j.latency_ms").as("latency_ms"),
            col("j.msg").as("msg"), lit(p("log_type")).as("log_type"))
    }
  }

  /** Container plugin (plugins/container_logs.yaml:85-123): `log_driver:
    * auto` routes each line — JSON body → docker-json-file parser, anything
    * else → containerd-cri parser + recombine on the partial marker
    * (`is_last_entry: attributes.partial == 'F'`) + remove of the partial
    * field. The fixture's multiline rows carry exactly the cri P/F marker.
    */
  object ContainerPlugin extends Plugin("container", Seq(
    PluginParam("log_driver", Some("auto"),
      Seq("auto", "docker-json-file", "containerd-cri")),
    PluginParam("parse", Some("true"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      import org.apache.spark.sql.expressions.Window
      val driver = p("log_driver")

      // docker-json-file branch: JSON rows parsed in place (1 part each)
      def dockerRows(in: DataFrame): DataFrame =
        in.filter(ParseOps.isJson)
          .withColumn("j", from_json(col("text"), ParseOps.JsonBodySchema))
          .select(col("conv_id"),
            col("turn_idx").as("first_turn"), col("turn_idx").as("last_turn"),
            lit(1L).as("n_parts"),
            lit("docker-json-file").as("driver"),
            col("j.msg").as("log"), col("j.level").as("level"))

      // containerd-cri branch: regex-parse partial marker, recombine until F
      def criRows(in: DataFrame): DataFrame = {
        val cri = in.filter(ParseOps.isMultiline)
          .select(col("conv_id"), col("turn_idx"),
            regexp_extract(col("text"), "^([PF])\\|", 1).as("partial"),
            regexp_extract(col("text"), "^[PF]\\|(.*)$", 1).as("log"))
        val isFinal = when(col("partial") === "F", 1L).otherwise(0L)
        val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
          .rowsBetween(Window.unboundedPreceding, -1)
        cri.withColumn("session_id", coalesce(sum(isFinal).over(w), lit(0L)))
          .groupBy(col("conv_id"), col("session_id"))
          .agg(
            min(col("turn_idx")).as("first_turn"),
            max(col("turn_idx")).as("last_turn"),
            count(lit(1)).as("n_parts"),
            array_join(transform(
              array_sort(collect_list(struct(col("turn_idx"), col("log")))),
              x => x.getField("log")), "\n").as("log"))
          .select(col("conv_id"), col("first_turn"), col("last_turn"),
            col("n_parts"), lit("containerd-cri").as("driver"),
            col("log"), lit(null).cast("string").as("level"))
          // `remove: attributes.partial` — partial never reaches the output
      }

      driver match {
        case "docker-json-file" => dockerRows(input)
        case "containerd-cri" => criRows(input)
        case _ => dockerRows(input).unionByName(criRows(input))
      }
    }
  }

  /** PostgreSQL plugin (plugins/postgresql_logs.yaml:65-128): regex parse of
    * the pg log line, the multi-alias severity MAPPING (LOG/NOTICE/INFO →
    * info, WARNING → warn, FATAL/PANIC → fatal), the slow-query conditional
    * add (`if: attributes.duration != ""`), and the statement router +
    * sql_command classification adds.
    */
  object PostgresqlPlugin extends Plugin("postgresql", Seq(
    PluginParam("data_flow", Some("high"), Seq("high", "low")))) {

    val LinePattern =
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3} \w+)\s*\[(\d+)\]\s+(\S+)@(\S+)\s*(\w+):\s+(.*)$"""
    val LineFields = Seq("timestamp", "tid", "role", "user", "level", "message")

    /** severity mapping table (postgresql_logs.yaml:74-93) compiled to one
      * when-chain — multi-alias classes collapse to a severity number. */
    def pgSeverity(level: Column): Column =
      when(upper(level).isin("FATAL", "PANIC"), 21)
        .when(upper(level) === "ERROR", 17)
        .when(upper(level) === "WARNING", 13)
        .when(upper(level).isin("INFO", "LOG", "NOTICE"), 9)
        .otherwise(5) // DEBUG1..5 / DETAIL / STATEMENT / HINT

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val parsed = grok(input, col("line"), LinePattern, LineFields)
        .filter(col("g").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("g.tid").cast(LongType).as("tid"),
          col("g.role").as("db_role"), col("g.user").as("db_user"),
          col("g.level").as("level"), col("g.message").as("message"))
        .withColumn("severity_number", pgSeverity(col("level")))
        .withColumn("duration_ms",
          regexp_extract(col("message"), """duration: ([\d.]+) ms""", 1))
        // slow_query add (yaml:96-101): only when duration is present
        .withColumn("log_type",
          when(col("duration_ms") =!= "", "postgresql.slow_query")
            .otherwise("postgresql.general"))
        // statement router (yaml:113-124) + statement_regex_parser
        .withColumn("statement",
          when(col("message").rlike("""(STATEMENT:\s+|statement:\s+)"""),
            regexp_extract(col("message"), """(?:STATEMENT:\s*|statement:\s*)(.+)$""", 1)))
        // sql_command_* adds (yaml:126-140)
        .withColumn("sql_command",
          when(upper(col("statement")).startsWith("ALTER"), "ALTER")
            .when(upper(col("statement")).startsWith("COMMIT"), "COMMIT")
            .when(upper(col("statement")).startsWith("SELECT"), "SELECT")
            .when(upper(col("statement")).startsWith("INSERT"), "INSERT")
            .when(upper(col("statement")).startsWith("UPDATE"), "UPDATE")
            .when(upper(col("statement")).startsWith("DELETE"), "DELETE"))
      if (p("data_flow") == "low")
        parsed.filter(col("severity_number") >= graft.parse.ParseOps.SevWarn)
      else parsed
    }
  }

  /** W3C plugin (plugins/w3c_logs.yaml:149-167): comment lines (`^#`) are
    * FILTERED, data lines csv-parsed with a configurable `delimiter` and a
    * caller-supplied header.
    */
  object W3cPlugin extends Plugin("w3c", Seq(
    PluginParam("header", None),
    PluginParam("delimiter", Some("\t")),
    PluginParam("header_delimiter", None), // defaults to `delimiter` in validate
    PluginParam("log_type", Some("w3c")),
    PluginParam("parse", Some("true"), Seq("true", "false")))) {

    // header_delimiter defaults to delimiter (w3c csv_parser semantics)
    override def validate(params: Map[String, String]): Map[String, String] =
      super.validate(params ++ (
        if (params.contains("header_delimiter")) Map.empty
        else Map("header_delimiter" -> params.getOrElse("delimiter", "\t"))))

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val data = input.filter(!col("line").startsWith("#")) // filter ^# comments
      if (p("parse") != "true")
        data.select(col("conv_id"), col("turn_idx"), col("line").as("body"),
          lit(p("log_type")).as("log_type"))
      else {
        val headerCols = p("header").split(java.util.regex.Pattern.quote(
          p("header_delimiter"))).map(_.trim)
        val parts = split(col("line"), java.util.regex.Pattern.quote(p("delimiter")))
        data.select(
          Seq(col("conv_id"), col("turn_idx")) ++
            headerCols.zipWithIndex.map { case (h, i) =>
              element_at(parts, i + 1).as(h)
            } :+ lit(p("log_type")).as("log_type"): _*)
      }
    }
  }

  /** Apache combined plugin (plugins/apache_combined_logs.yaml): the combined
    * access-log format is byte-identical to nginx's — same regex, its own
    * log_type and severity classes.
    */
  object ApacheCombinedPlugin extends Plugin("apache_combined", Seq(
    PluginParam("log_type", Some("apache_combined")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      grok(input.filter(ParseOps.isNginx), col("text"),
          ParseOps.NginxPattern, ParseOps.NginxFields)
        .select(col("conv_id"), col("turn_idx"),
          col("g.remote_addr").as("remote_addr"),
          col("g.method").as("method"), col("g.path").as("path"),
          col("g.status").cast(IntegerType).as("status"),
          lit(p("log_type")).as("log_type"))
        .withColumn("severity_number", ParseOps.severityFromStatus(col("status")))
    }
  }

  /** TCP plugin (plugins/tcp_logs.yaml): raw body passthrough with log_type
    * and optional net.* attributes (`add_attributes`). listen_ip/port are
    * validated receiver params (the batch scan is the listener).
    */
  object TcpPlugin extends Plugin("tcp", Seq(
    PluginParam("listen_port", None),
    PluginParam("listen_ip", Some("0.0.0.0")),
    PluginParam("log_type", Some("tcp")),
    PluginParam("add_attributes", Some("false"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val base = input.select(col("conv_id"), col("turn_idx"),
        col("text").as("body"), lit(p("log_type")).as("log_type"))
      if (p("add_attributes") == "true")
        base.withColumn("net_transport", lit("tcp"))
          .withColumn("net_host_ip", lit(p("listen_ip")))
          .withColumn("net_host_port", lit(p("listen_port")).cast(IntegerType))
      else base
    }
  }

  /** CEF plugin (plugins/common_event_format_logs.yaml:60-95): '|'-split
    * CEF headers, version regex, and the MIXED severity mapping — numeric
    * {min,max} ranges AND text aliases per class — through the generic
    * severity mapping compiler.
    */
  object CefPlugin extends Plugin("common_event_format", Seq(
    PluginParam("timezone", Some("UTC")),
    PluginParam("default_year", Some("2024")))) {

    import graft.parse.ParseOps.{ClassRule => _, _}
    val CefMapping: Seq[(Int, Seq[SevRule])] = Seq(
      21 -> Seq(RangeRule(9, 10), ExactRule("very-high")),
      SevError -> Seq(RangeRule(7, 8), ExactRule("high")),
      SevWarn -> Seq(RangeRule(4, 6), ExactRule("medium")),
      SevInfo -> Seq(RangeRule(0, 3), ExactRule("low")))

    /** Syslog-framed prefix per the template regex_parser
      * (common_event_format_logs.yaml:56-62); the prefix timestamp parses
      * with `layout_type: gotime`, layout 'Jan 02 15:04:05' (:60-61) —
      * year-less, so default_year applies (SetTimestampYear analogue).
      * Prefix-less lines (bare CEF:) keep null event_ts/hostname.
      */
    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val h = split(col("__cef"), "\\|")
      grok(input.filter(col("line").contains("CEF:")), col("line"),
          """^(?:(\w{3}\s+\d{1,2}\s+\d{2}:\d{2}:\d{2})\s+(?:([^\s]+)\s+)?)?(CEF:.*)$""",
          Seq("timestamp", "hostname", "cef_headers"))
        .filter(col("g").isNotNull) // regex_parser on_error: drop
        .withColumn("__cef", col("g.cef_headers"))
        .select(col("conv_id"), col("turn_idx"),
          regexp_extract(col("__cef"), "CEF:([^\\|]*)", 1).as("version"),
          element_at(h, 2).as("device_vendor"),
          element_at(h, 3).as("device_product"),
          element_at(h, 5).as("signature_id"),
          element_at(h, 6).as("name"),
          element_at(h, 7).as("severity"),
          element_at(h, 8).as("extensions"),
          col("g.hostname").as("hostname"),
          // `location:` semantics (cef yaml:62): the zone-less timestamp is
          // wall time in the configured timezone → convert to UTC
          to_utc_timestamp(
            graft.parse.ParseOps.gotimeParse(col("g.timestamp"),
              "Jan 02 15:04:05", Some(p("default_year").toInt)),
            p("timezone")).as("event_ts"))
        .withColumn("severity_number",
          graft.parse.ParseOps.compileSeverityMapping(col("severity"), CefMapping))
    }
  }

  /** Kafka plugin (plugins/kafka_logs.yaml:88-95): bracketed timestamp +
    * severity token + message, text severity mapping.
    */
  object KafkaPlugin extends Plugin("kafka", Seq(
    PluginParam("log_type", Some("kafka")))) {

    val Pattern = """^\[(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})\] ([^ ]+) (.*)$"""
    val Fields = Seq("time", "severity", "message")

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      grok(input, col("line"), Pattern, Fields)
        .filter(col("g").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("g.time").as("time"),
          col("g.severity").as("severity"),
          col("g.message").as("message"),
          lit(p("log_type")).as("log_type"))
        .withColumn("severity_number",
          graft.parse.ParseOps.compileSeverityMapping(col("severity"),
            graft.parse.ParseOps.DefaultSeverityPreset))
    }
  }

  /** Redis plugin (plugins/redis_logs.yaml:63-75): pid/role prefix, glyph
    * severity (`*` notice → info, `#` warning, `-` info, `.` debug).
    */
  object RedisPlugin extends Plugin("redis", Seq.empty) {
    val Pattern =
      """^(\d+):([A-Z]) (\d{2} \w+ \d{4} \d{2}:\d{2}:\d{2}\.\d{3}) ([*#.\-]) (.*)$"""
    val Fields = Seq("pid", "role", "timestamp", "level", "message")

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      grok(input, col("line"), Pattern, Fields)
        .filter(col("g").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("g.pid").cast(LongType).as("pid"),
          col("g.role").as("role_char"),
          col("g.level").as("glyph"),
          col("g.message").as("message"))
        .withColumn("severity_number",
          when(col("glyph") === "#", ParseOps.SevWarn)
            .when(col("glyph") === ".", 5)
            .otherwise(ParseOps.SevInfo))
    }
  }

  /** MySQL plugin, general_query path (plugins/mysql_logs.yaml:422):
    * ISO timestamp + thread id + command + optional message.
    */
  object MysqlPlugin extends Plugin("mysql", Seq.empty) {
    val Pattern =
      """^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d+Z)\s+(\d+)\s+(\w+)(?:\s+(.+))?$"""
    val Fields = Seq("timestamp", "tid", "command", "message")

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      grok(input, col("line"), Pattern, Fields)
        .filter(col("g").isNotNull)
        .select(col("conv_id"), col("turn_idx"),
          col("g.timestamp").as("timestamp"),
          col("g.tid").cast(LongType).as("tid"),
          col("g.command").as("command"),
          col("g.message").as("message"),
          lit("mysql.general").as("log_type"))
    }
  }

  /** File plugin (plugins/file_logs.yaml): raw body passthrough + log_type
    * (the batch scan is the tailer; log_paths validated).
    */
  object FilePlugin extends Plugin("file", Seq(
    PluginParam("log_paths", None),
    PluginParam("log_type", Some("file")),
    PluginParam("parse", Some("false"), Seq("true", "false")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      input.select(col("conv_id"), col("turn_idx"),
        col("text").as("body"), lit(p("log_type")).as("log_type"))
    }
  }

  // -------------------------------------------------------------------
  // Data-driven template family: most of the remaining reference plugins
  // are one regex_parser + a severity mapping + a time layout — i.e.
  // INSTANCES of the same operator set with different config. This factory
  // is that observation made executable: a template is a row of data.
  // -------------------------------------------------------------------
  final case class RegexPluginDef(
      name: String,
      pattern: String,
      fields: Seq[String],
      severityField: Option[String] = Some("severity"),
      severityMapping: Seq[(Int, Seq[graft.parse.ParseOps.SevRule])] =
        graft.parse.ParseOps.DefaultSeverityPreset,
      longFields: Set[String] = Set.empty,
      // the template regex_parser's `timestamp:` stanza — (field, layout);
      // compiles to an `event_ts` column via the matching layout translator
      timeLayout: Option[(String, String)] = None,
      timeLayoutType: String = "gotime") // "gotime" | "strptime"

  final class RegexPlugin(d: RegexPluginDef) extends Plugin(d.name, Seq(
    PluginParam("log_type", Some(d.name)),
    PluginParam("parse", Some("true"), Seq("true", "false")),
    // year for year-less gotime layouts (timeutils.SetTimestampYear analogue)
    PluginParam("default_year", Some("2024")),
    // time_parser `location:` — zone-less layouts are wall time here
    PluginParam("timezone", Some("UTC")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      if (p("parse") != "true")
        input.select(col("conv_id"), col("turn_idx"), col("line").as("body"),
          lit(p("log_type")).as("log_type"))
      else {
        val parsed = grok(input, col("line"), d.pattern, d.fields)
          .filter(col("g").isNotNull) // regex_parser on_error: drop
          .select(Seq(col("conv_id"), col("turn_idx")) ++
            d.fields.map { f =>
              val c = col(s"g.$f")
              (if (d.longFields(f)) c.cast(LongType) else c).as(f)
            } :+ lit(p("log_type")).as("log_type"): _*)
        val timed = d.timeLayout match {
          case Some((f, layout)) =>
            val y = Some(p("default_year").toInt)
            val naive = d.timeLayoutType match {
              case "gotime" => graft.parse.ParseOps.gotimeParse(col(f), layout, y)
              case "strptime" => graft.parse.ParseOps.strptimeParse(col(f), layout, y)
              case other => throw new IllegalArgumentException(
                s"layout_type '$other'")
            }
            // location semantics: stanza applies `location:` only to
            // zone-LESS layouts — a zone-bearing layout (%z / gotime -0700 /
            // Z07:00 / MST) already resolved its own offset, and a second
            // to_utc_timestamp would double-shift it. The substring test is
            // EXACT for gotime, not a heuristic: in a Go reference layout
            // every occurrence of "-07", "Z07" or "MST" IS the zone token by
            // definition (there are no escaped literals in Go layouts) —
            // same for strptime's %z/%Z directives.
            val hasZone = d.timeLayoutType match {
              case "strptime" => layout.contains("%z") || layout.contains("%Z")
              case _ => layout.contains("-07") || layout.contains("Z07") ||
                layout.contains("MST")
            }
            if (hasZone) parsed.withColumn("event_ts", naive)
            else parsed.withColumn("event_ts",
              to_utc_timestamp(naive, p("timezone")))
          case None => parsed
        }
        d.severityField match {
          case Some(f) => timed
            .withColumn("severity_number",
              graft.parse.ParseOps.compileSeverityMapping(col(f), d.severityMapping))
            // severity_parser sets BOTH the number and the text enum
            .withColumn("severity_text",
              graft.parse.ParseOps.severityText(col("severity_number")))
          case None => timed
        }
      }
    }
  }

  /** Metric-scan plugin — the batch compilation of the *_metrics receiver
    * templates (prometheus scrape / sqlquery poll → filter meta-metrics →
    * metrics_transform renames + regex combines → aggregate_labels sum →
    * gauge→sum metadata). The scrape becomes a scan producing datapoint
    * rows deterministically from the transcript store; everything after is
    * the template's real semantic chain.
    */
  final case class MetricPluginDef(
      name: String,
      // metric_relabel keep-list → OTel rename pairs (metrics_transform
      // `action: update` rows); identity pairs model sqlquery receivers
      renames: Seq[(String, String)],
      // `action: combine` rows: (name regex with ONE group, label, new name)
      combines: Seq[(String, String, String)] = Seq.empty,
      // convert_gauge_to_sum(_, true) → monotonic sums
      monotonic: Set[String] = Set.empty,
      // set(unit, ...) statements
      units: Map[String, String] = Map.empty)

  /** Prometheus scraping meta-metrics excluded by every template's filter
    * processor (e.g. couchbase_metrics.yaml:50-58).
    */
  val PromMetaMetrics: Seq[String] = Seq(
    "scrape_samples_post_metric_relabeling", "scrape_series_added",
    "scrape_duration_seconds", "scrape_samples_scraped", "up")

  final class MetricScanPlugin(d: MetricPluginDef) extends Plugin(d.name, Seq(
    PluginParam("endpoint", Some("localhost:9100")),
    PluginParam("scrape_interval", Some("60s")),
    PluginParam("username", Some("")),
    PluginParam("password", Some("")))) {

    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      val srcs = d.renames.map(_._1)
      val n = srcs.length
      // scrape-as-scan: each transcript row is one datapoint of one source
      // metric (deterministic round-robin) with an integral value
      val dp = input.select(
        element_at(typedlit(srcs), (col("turn_idx") % n + 1).cast("int"))
          .as("prom_name"),
        (col("turn_idx") % 97).cast("long").as("value"),
        col("role").as("instance"))
      val kept = dp
        .filter(!col("prom_name").isin(PromMetaMetrics: _*)) // filter processor
        .filter(col("prom_name").isin(srcs: _*)) // metric_relabel keep
      val renamed = kept.withColumn("metric_name",
        element_at(typedlit(d.renames.toMap), col("prom_name")))
      val combined = d.combines
        .foldLeft(renamed.withColumn("label", lit(null).cast("string"))) {
          case (df, (re, _, newName)) =>
            df.withColumn("label",
                when(col("metric_name").rlike(re),
                  regexp_extract(col("metric_name"), re, 1))
                  .otherwise(col("label")))
              .withColumn("metric_name",
                when(col("metric_name").rlike(re), newName)
                  .otherwise(col("metric_name")))
        }
      // aggregate_labels sum over the surviving label set
      combined.groupBy(col("metric_name"), col("instance"), col("label"))
        .agg(count(lit(1)).as("n_datapoints"), sum(col("value")).as("value_sum"))
        .withColumn("is_monotonic",
          col("metric_name").isin(d.monotonic.toSeq: _*))
        .withColumn("unit", element_at(typedlit(d.units), col("metric_name")))
    }
  }

  /** The 3 metrics receiver templates as metric-scan config rows. */
  val MetricTemplates: Seq[MetricPluginDef] = Seq(
    // plugins/couchbase_metrics.yaml:34-156
    MetricPluginDef("couchbase_metrics",
      renames = Seq(
        "kv_ops" -> "couchbase.bucket.operation.count",
        "kv_vb_curr_items" -> "couchbase.bucket.item.count",
        "kv_num_vbuckets" -> "couchbase.bucket.vbucket.count",
        "kv_ep_cursor_memory_freed_bytes" -> "couchbase.bucket.memory.usage.free",
        "kv_total_memory_used_bytes" -> "couchbase.bucket.memory.usage.used",
        "kv_ep_num_value_ejects" -> "couchbase.bucket.item.ejection.count",
        "kv_ep_mem_high_wat" -> "couchbase.bucket.memory.high_water_mark.limit",
        "kv_ep_mem_low_wat" -> "couchbase.bucket.memory.low_water_mark.limit",
        "kv_ep_tmp_oom_errors" -> "couchbase.bucket.error.oom.count.recoverable",
        "kv_ep_oom_errors" -> "couchbase.bucket.error.oom.count.unrecoverable"),
      combines = Seq(
        ("""^couchbase\.bucket\.error\.oom\.count\.(unrecoverable|recoverable)$""",
          "error_type", "couchbase.bucket.error.oom.count"),
        ("""^couchbase\.bucket\.memory\.usage\.(free|used)$""",
          "state", "couchbase.bucket.memory.usage")),
      monotonic = Set("couchbase.bucket.operation.count",
        "couchbase.bucket.item.ejection.count",
        "couchbase.bucket.error.oom.count"),
      units = Map(
        "couchbase.bucket.operation.count" -> "{operations}",
        "couchbase.bucket.item.count" -> "{items}",
        "couchbase.bucket.vbucket.count" -> "{vbuckets}",
        "couchbase.bucket.memory.usage" -> "By",
        "couchbase.bucket.item.ejection.count" -> "{ejections}",
        "couchbase.bucket.error.oom.count" -> "{errors}",
        "couchbase.bucket.memory.high_water_mark.limit" -> "By",
        "couchbase.bucket.memory.low_water_mark.limit" -> "By")),
    // plugins/cockroachdb_metrics.yaml:137-216 (rename table prefix)
    MetricPluginDef("cockroachdb_metrics",
      renames = Seq(
        "round_trip_latency" -> "crdb.round_trip.latency",
        "sql_distsql_exec_latency" -> "crdb.sql.distsql.exec.latency",
        "sql_exec_latency" -> "crdb.sql.exec.latency",
        "sql_service_latency" -> "crdb.sql.service.latency",
        "txn_aborts" -> "crdb.transaction.aborts",
        "sql_query_count" -> "crdb.sql.query.count",
        "txn_abandons" -> "crdb.transaction.abandons",
        "txn_commits" -> "crdb.transaction.commits.count",
        "txn_durations" -> "crdb.transaction.durations.time",
        "exec_error" -> "crdb.exec.errors.count",
        "timeseries_write_errors" -> "crdb.timeseries.write.errors.count",
        "sys_cpu_user_percent" -> "crdb.sys.cpu.user.utilization",
        "sys_cpu_sys_percent" -> "crdb.sys.cpu.sys.utilization",
        "liveness_livenodes" -> "crdb.liveness.livenodes"),
      monotonic = Set("crdb.sql.query.count", "crdb.transaction.commits.count",
        "crdb.exec.errors.count")),
    // plugins/oracledb_metrics.yaml:50-216 (sqlquery receiver: metric rows
    // come straight from value_column scans — identity names, state labels
    // via the combine rule on the two-variant metrics)
    MetricPluginDef("oracledb_metrics",
      renames = Seq(
        "oracle.tablespace.size.free" -> "oracle.tablespace.size.free",
        "oracle.tablespace.size.used" -> "oracle.tablespace.size.used",
        "oracle.tablespace.count" -> "oracle.tablespace.count",
        "oracle.backup.latest" -> "oracle.backup.latest",
        "oracle.process.count" -> "oracle.process.count",
        "oracle.process.limit" -> "oracle.process.limit",
        "oracle.session.count" -> "oracle.session.count",
        "oracle.session.limit" -> "oracle.session.limit",
        "oracle.process.pga_memory.size.used" -> "oracle.process.pga_memory.size.used",
        "oracle.process.pga_memory.size.free" -> "oracle.process.pga_memory.size.free"),
      combines = Seq(
        ("""^oracle\.tablespace\.size\.(free|used)$""",
          "state", "oracle.tablespace.size"),
        ("""^oracle\.process\.pga_memory\.size\.(used|free)$""",
          "state", "oracle.process.pga_memory.size")),
      units = Map(
        "oracle.tablespace.size" -> "By",
        "oracle.process.pga_memory.size" -> "By")))

  import graft.parse.ParseOps.{ExactRule, SevError, SevInfo, SevWarn}

  /** Template batch: one row per reference plugin, pattern + fields lifted
    * from each template's regex_parser (single-line core form; Go named
    * groups → positional). Severity flows through the mapping compiler.
    */
  val RegexTemplates: Seq[RegexPluginDef] = Seq(
    // plugins/tomcat_logs.yaml:140 (catalina log)
    RegexPluginDef("tomcat",
      """^(\d{2}-\w{3}-\d{4} \d{2}:\d{2}:\d{2}\.\d{3}) (\w+) \[([^\]]+)\] (\S+) (.+)$""",
      Seq("timestamp", "severity", "thread", "source", "message"),
      timeLayout = Some("timestamp" -> "%d-%b-%Y %H:%M:%S.%L"),
      timeLayoutType = "strptime",
      severityMapping = graft.parse.ParseOps.DefaultSeverityPreset ++
        Seq(SevWarn -> Seq(ExactRule("warning")), SevError -> Seq(ExactRule("severe")))),
    // plugins/jboss_logs.yaml:59
    RegexPluginDef("jboss",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d{3}\s*(\w+)\s*\[([^\]]*)\]\s*\(([^)]*)\) (.+)$""",
      Seq("timestamp", "severity", "category", "thread", "message"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/wildfly_logs.yaml:77
    RegexPluginDef("wildfly",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d{3}\s+(\w+)(?:\s+\[(.+?)\])?(?:\s+\((.+?)\))?\s+(.*)$""",
      Seq("timestamp", "severity", "source", "thread", "message"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/hadoop_logs.yaml:99
    RegexPluginDef("hadoop",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d{3} ([A-Z]+) ([A-Za-z0-9.$]+): (.+)$""",
      Seq("timestamp", "severity", "fqcn", "message"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/hbase_logs.yaml:75
    RegexPluginDef("hbase",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d{3}\s+([A-Z]+)\s*\[([^\]]*)\] ([^:]*): (.+)$""",
      Seq("timestamp", "severity", "thread", "source", "message"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/zookeeper_logs.yaml:62
    RegexPluginDef("zookeeper",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}),\d{3} \[myid:(\d+)?\] - (\w+)\s+\[(.+):(.+)@(\d+)\]\s+-\s*(.*)$""",
      Seq("timestamp", "myid", "severity", "thread", "source", "line_no", "message"),
      longFields = Set("myid", "line_no"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/apache_cassandra_logs.yaml:75 (severity LEADS the line)
    RegexPluginDef("apache_cassandra",
      """^([A-Z]+)\s+\[([^\]]+)\]\s+(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})\s+(.+)$""",
      Seq("severity", "type", "timestamp", "message"),
      timeLayout = Some("timestamp" -> "%F %T,%L"),
      timeLayoutType = "strptime"),
    // plugins/mongodb_logs.yaml:79 (single-letter severities)
    RegexPluginDef("mongodb",
      """^(\S+)\s+(\w)\s+([\w-]+)\s+\[(\S+)\]\s+(.*)$""",
      Seq("timestamp", "severity", "component", "context", "message"),
      severityMapping = Seq(
        21 -> Seq(ExactRule("f")),
        SevError -> Seq(ExactRule("e")),
        SevWarn -> Seq(ExactRule("w")),
        SevInfo -> Seq(ExactRule("i")),
        5 -> Seq(ExactRule("d"))),
      timeLayout = Some("timestamp" -> "%Y-%m-%dT%H:%M:%S.%LZ"),
      timeLayoutType = "strptime"),
    // plugins/rabbitmq_logs.yaml:55
    RegexPluginDef("rabbitmq",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+\+\d{2}:\d{2}) \[([a-z]+)\] <(\d+\.\d+\.\d+)> (.*)$""",
      Seq("timestamp", "severity", "process_id", "message")),
    // plugins/elasticsearch_logs.yaml:111 (gc log; no severity field)
    RegexPluginDef("elasticsearch",
      """^\[(\d+-\d+-\d+T\d+:\d+:\d+\.\d+\+\d+)\]\[\d+\]\[([A-Za-z,]+)\s*\]\s*(?:GC\((\d+)\))?\s*(.*)$""",
      Seq("timestamp", "type", "gc_run", "message"),
      severityField = None, longFields = Set("gc_run")),
    // plugins/pgbouncer_logs.yaml:51
    RegexPluginDef("pgbouncer",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}) (\d+) (\w+) (.*)$""",
      Seq("timestamp", "pid", "severity", "message"), longFields = Set("pid"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S.%L"),
      timeLayoutType = "strptime"),
    // plugins/solr_logs.yaml:56 (core form)
    RegexPluginDef("solr",
      """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3,6}) (\w+)\s+\(([^)]+)\) (\S+) (.*)$""",
      Seq("timestamp", "severity", "thread", "source", "message"),
      timeLayout = Some("timestamp" -> "%Y-%m-%d %H:%M:%S.%L"),
      timeLayoutType = "strptime"),
    // plugins/sap_hana_logs.yaml:71 (single-letter severities like klog)
    RegexPluginDef("sap_hana",
      """^\[(\d+)\]\{([^}]+)\}\[([^/]+)/([^\]]+)\] (\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+) (\S+) (\S+)\s+(.*)$""",
      Seq("thread_id", "connection_id", "transaction_id", "update_transaction_id",
        "timestamp", "severity", "component", "message"),
      severityMapping = KlogSeverities, longFields = Set("thread_id")),
    // plugins/aerospike_logs.yaml:68
    RegexPluginDef("aerospike",
      """^([A-Za-z]+ \d{2} \d{4} \d{2}:\d{2}:\d{2} [A-Z]+): ([A-Z]+) \(([^)]*)\): \(([^:]*):([^)]*)\)\s*(.*)$""",
      Seq("timestamp", "severity", "context", "source_file", "source_location",
        "message")),
    // plugins/esxi_logs.yaml:71 (syslog-framed; numeric priority)
    RegexPluginDef("esxi",
      """^<(\d*)>([A-Za-z]+ \d{2} \d{2}:\d{2}:\d{2}) ([^ ]+) ([^:]+): (.*)$""",
      Seq("priority", "timestamp", "hostname", "service", "message"),
      severityField = None, longFields = Set("priority"),
      timeLayout = Some("timestamp" -> "%b %d %H:%M:%S"),
      timeLayoutType = "strptime"),
    // plugins/ubiquiti_logs.yaml:52
    RegexPluginDef("ubiquiti",
      """^<([^>]+)>(\w{3}\s*\d{1,2}\s*\d{2}:\d{2}:\d{2})\s*([^,]*),([^:]*):\s*([^:]*)\s*:(.*)$""",
      Seq("priority", "timestamp", "mac_address", "device", "process", "message"),
      severityField = None,
      timeLayout = Some("timestamp" -> "Jan 2 15:04:05")),
    // plugins/cisco_asa_logs.yaml:39
    RegexPluginDef("cisco_asa",
      """^([\d\w\s:\-]+?)(?: asa )?: %([\w\d-]+):\s(.*)$""",
      Seq("timestamp", "message_id", "message"), severityField = None),
    // plugins/cisco_catalyst_logs.yaml:55
    RegexPluginDef("cisco_catalyst",
      """^<([^>]+)>\s*(.*)$""",
      Seq("priority", "message"), severityField = None, longFields = Set("priority")),
    // plugins/kubelet_logs.yaml:61 (klog framing, single-letter severities)
    RegexPluginDef("kubelet",
      """^(\w)(\d{4} \d{2}:\d{2}:\d{2}\.\d+)\s+(\d+)\s+([^:]*):([^\]]*)\] (.*)$""",
      Seq("severity", "timestamp", "pid", "src", "src_line", "message"),
      severityMapping = KlogSeverities, longFields = Set("pid"),
      timeLayout = Some("timestamp" -> "%m%d %H:%M:%S.%f"),
      timeLayoutType = "strptime"),
    // plugins/ingress_nginx_logs.yaml:61 (same klog controller framing)
    RegexPluginDef("ingress_nginx",
      """^(\w)(\d{4} \d{2}:\d{2}:\d{2}\.\d+)\s+(\d+)\s+([^:]*):([^\]]*)\] (.*)$""",
      Seq("severity", "timestamp", "pid", "src", "src_line", "message"),
      severityMapping = KlogSeverities, longFields = Set("pid"),
      timeLayout = Some("timestamp" -> "%m%d %H:%M:%S.%f"),
      timeLayoutType = "strptime"),
    // plugins/cockroachdb_logs.yaml:134 (core form)
    RegexPluginDef("cockroachdb",
      """^([IWEF])(\d{6}\s+\d{2}:\d{2}:\d{2}\.\d{6})\s+(\d+)\s+(\S+)\s+(\[[^\]]+\])\s+(.*)$""",
      Seq("severity", "timestamp", "goid", "location", "node", "message"),
      severityMapping = KlogSeverities, longFields = Set("goid"),
      timeLayout = Some("timestamp" -> "%y%m%d %H:%M:%S.%f"),
      timeLayoutType = "strptime"),
    // plugins/couchbase_logs.yaml:106
    RegexPluginDef("couchbase",
      """^\[([^:]*):([^,]*),(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d+-\d{2}:\d{2}),([^@]*)@([^:]*):([^\]]+)\](.*)$""",
      Seq("type", "severity", "timestamp", "node", "host", "source", "message")),
    // plugins/macos_logs.yaml:68 (core form)
    RegexPluginDef("macos",
      """^(\w{3}\s*\d{1,2} \d{2}:\d{2}:\d{2}) ([^ ]*) ([^\[]*)\[([^\]]*)\]: (.*)$""",
      Seq("timestamp", "host", "process", "pid", "message"),
      severityField = None, longFields = Set("pid"),
      // plugins/macos_logs.yaml:71-72 (layout_type: gotime)
      timeLayout = Some("timestamp" -> "Jan _2 15:04:05")),
    // plugins/apache_http_logs.yaml:84 — matches the combined fixture lines
    RegexPluginDef("apache_http",
      """^([^ ]*) ([^ ]*) ([^ ]*) \[([^\]]*)\] "(\S+) +([^ ]*) ([^"]*)" ([^ ]*) ([^ ]*)(?: .*)?$""",
      Seq("remote_addr", "remote_host", "remote_user", "timestamp", "method",
        "path", "protocol", "status", "body_bytes_sent"),
      severityField = None, longFields = Set("status", "body_bytes_sent"),
      timeLayout = Some("timestamp" -> "%d/%b/%Y:%H:%M:%S %z"),
      timeLayoutType = "strptime"),
    // plugins/active_directory_logs.yaml:60
    RegexPluginDef("active_directory",
      """^(\S+)\s+(\S+)\s+(\S+)\s+(\S+)\s+(.*)$""",
      Seq("timestamp", "severity", "source", "event_id", "message")),
    // plugins/apache_common_logs.yaml — the common format is the combined
    // format's prefix; the same pattern with the trailing quotes optional
    RegexPluginDef("apache_common",
      """^([^ ]*) ([^ ]*) ([^ ]*) \[([^\]]*)\] "(\S+) +([^ ]*) ([^"]*)" ([^ ]*) ([^ ]*)(?: .*)?$""",
      Seq("remote_addr", "remote_host", "remote_user", "timestamp", "method",
        "path", "protocol", "status", "body_bytes_sent"),
      severityField = None, longFields = Set("status", "body_bytes_sent"),
      timeLayout = Some("timestamp" -> "%d/%b/%Y:%H:%M:%S %z"),
      timeLayoutType = "strptime"),
    // plugins/cisco_meraki_logs.yaml:42
    RegexPluginDef("cisco_meraki",
      """^<([^>]+)>(\d+)\s*([\d.]*)\s*([^\s]*)\s*([^\s]*)\s*(.*)$""",
      Seq("priority", "version", "timestamp", "hostname", "app_name", "message"),
      severityField = None, longFields = Set("version")),
    // plugins/couchdb_logs.yaml:70 (general form)
    RegexPluginDef("couchdb",
      """^\[(\w*)\] ([\d\-.:TZ]+) (\S+)@([^ ]+) (.*)$""",
      Seq("severity", "timestamp", "node", "host", "message")),
    // plugins/haproxy_logs.yaml:87 (tcp_parser core; the http variant adds
    // per-phase timings + the 2xx..5xx class mapping covered by
    // compileSeverityMapping/q_severity_mapping)
    RegexPluginDef("haproxy",
      """^(\w{3}\s+\d{1,2}\s+\d{2}:\d{2}:\d{2})\s+([^\s]+)\s+([^\[]+)\[([^\]]+)\]:\s?(.*)$""",
      Seq("timestamp", "host", "process_name", "pid", "message"),
      severityField = None, longFields = Set("pid"),
      // plugins/haproxy_logs.yaml:127-128 (layout_type: gotime)
      timeLayout = Some("timestamp" -> "Jan 02 15:04:05")),
    // plugins/vcenter_logs.yaml:88 (frame-number prefix + syslog payload)
    RegexPluginDef("vcenter",
      """^(\d+ )?(.*)$""",
      Seq("drop", "syslog_message"), severityField = None),
    // plugins/windows_dhcp.yaml:56
    RegexPluginDef("windows_dhcp",
      """^(\d+),(\d{2}/\d{2}/\d{2},\d{2}:\d{2}:\d{2}),([^,]+),([^,]*),([^,]*),([^,]*),([^,]*).*$""",
      Seq("id", "timestamp", "description", "ip_address", "hostname",
        "mac_address", "username"),
      severityField = None, longFields = Set("id")),
    // plugins/oracle_database_logs.yaml:86 (audit record, multiline body)
    RegexPluginDef("oracle_database",
      """(?s)^(\w+ \w+\s{1,2}\d{1,2} \d{2}:\d{2}:\d{2} \d{4} [-+]\d{2}:\d{2})\nLENGTH : .(\d*).\nACTION :\[\d+\]\s+.(.+?).\nDATABASE USER:\[\d+\]\s+.(\S+?).""",
      Seq("timestamp", "length", "action", "database_user"),
      severityField = None, longFields = Set("length")))

  /** klog/SAP/cockroach-style single-letter severity classes. */
  lazy val KlogSeverities: Seq[(Int, Seq[graft.parse.ParseOps.SevRule])] = Seq(
    21 -> Seq(ExactRule("f")),
    SevError -> Seq(ExactRule("e")),
    SevWarn -> Seq(ExactRule("w")),
    SevInfo -> Seq(ExactRule("i")),
    5 -> Seq(ExactRule("d")))

  /** UDP plugin (plugins/udp_logs.yaml): raw passthrough, listener params
    * validated (same shape as tcp, no TLS).
    */
  object UdpPlugin extends Plugin("udp", Seq(
    PluginParam("listen_port", None),
    PluginParam("listen_ip", Some("0.0.0.0")),
    PluginParam("log_type", Some("udp")))) {
    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      input.select(col("conv_id"), col("turn_idx"),
        col("text").as("body"), lit(p("log_type")).as("log_type"))
    }
  }

  /** SQL Server plugin (plugins/sql_server_logs.yaml) — closes the corpus
    * at 53/53. The Windows-bound piece is ONLY the source (windows_event_log
    * reads the Application channel); the template's operator pipeline is
    * fully portable and compiled here: optional `copy` of the original
    * body to log.record.original (:38-42), a `parse`-gated router keeping
    * records whose structured body has provider.name matching
    * "MSSQLSERVER" (:44-48 — stanza router drops non-matching entries),
    * and `add` of attributes.log_type (:49-52). The batch model of the
    * channel is one structured event per framed JSON line (the
    * XML-derived record shape the upstream receiver emits).
    */
  object SqlServerPlugin extends Plugin("sql_server", Seq(
    PluginParam("parse", Some("true"), Seq("true", "false")),
    PluginParam("save_log_record_original", Some("false"), Seq("true", "false")),
    PluginParam("log_type", Some("sql_server")))) {
    import org.apache.spark.sql.types.{StructType, StructField, StringType, IntegerType}
    private val WinEventSchema = StructType(Seq(
      StructField("provider", StructType(Seq(
        StructField("name", StringType)))),
      StructField("event_id", IntegerType),
      StructField("message", StringType)))
    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      // parsed once, like the grok sites: the provider-name router filter
      // below reads the parsed struct instead of parsing the line again
      val j = ParseOps.once(input, "b", from_json(col("line"), WinEventSchema))
      val routed =
        if (p("parse").toBoolean)
          // the template's router expr is `body.provider.name matches
          // "MSSQLSERVER"` — expr-lang `matches` is an UNANCHORED regex, so
          // the substring rlike is exact parity (a superstring provider
          // passes upstream too)
          j.filter(coalesce(col("b.provider.name").rlike("MSSQLSERVER"),
            lit(false)))
        else j
      // copy body -> attributes["log.record.original"] rides the same
      // projection (the operator runs before the router upstream, but the
      // copy is a pure function of the line so ordering is immaterial)
      val orig =
        if (p("save_log_record_original").toBoolean)
          Seq(col("line").as("log_record_original"))
        else Nil
      routed.select(Seq(col("conv_id"), col("turn_idx"),
        col("b.provider.name").as("provider"),
        col("b.event_id").as("event_id"),
        col("b.message").as("message"),
        lit(p("log_type")).as("log_type")) ++ orig: _*)
    }
  }

  /** IIS plugin (plugins/iis_logs.yaml): W3C-format logs — delegates to the
    * W3C machinery with IIS defaults (space delimiter, standard field set).
    */
  object IisPlugin extends Plugin("iis", Seq(
    PluginParam("header", Some("date time s_ip cs_method cs_uri_stem sc_status")),
    PluginParam("log_type", Some("iis")))) {
    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      W3cPlugin(spark, Map("header" -> p("header"), "delimiter" -> " ",
        "log_type" -> p("log_type")))(input)
    }
  }

  /** Bindplane plugin (plugins/bindplane_logs.yaml:50): the agent's own JSON
    * logs via json_parser.
    */
  object BindplanePlugin extends Plugin("bindplane", Seq(
    PluginParam("log_type", Some("bindplane")))) {
    protected def build(spark: SparkSession, p: Map[String, String]) = { input =>
      input.filter(ParseOps.isJson)
        .withColumn("j", from_json(col("text"), ParseOps.JsonBodySchema))
        .select(col("conv_id"), col("turn_idx"),
          col("j.level").as("level"), col("j.msg").as("message"),
          lit(p("log_type")).as("log_type"))
        .withColumn("severity_number",
          graft.parse.ParseOps.compileSeverityMapping(col("level"),
            graft.parse.ParseOps.DefaultSeverityPreset))
    }
  }

  val registry: Map[String, Plugin] = (Seq(
    NginxPlugin, SyslogPlugin, CsvPlugin, JsonPlugin, ContainerPlugin,
    PostgresqlPlugin, W3cPlugin, ApacheCombinedPlugin, TcpPlugin,
    CefPlugin, KafkaPlugin, RedisPlugin, MysqlPlugin, FilePlugin,
    UdpPlugin, BindplanePlugin, IisPlugin, SqlServerPlugin) ++
    RegexTemplates.map(new RegexPlugin(_)) ++
    MetricTemplates.map(new MetricScanPlugin(_)))
    .map(p => p.name -> p).toMap
}

/** snapshotprocessor ad-hoc search (SURVEY §2B): substring query over body +
  * attrs (case-sensitive contains, filter.go:23-78) with a minimum observed
  * timestamp bound (strictly after, filter_logs.go:107-109) and a payload
  * budget (MaximumPayloadSizeBytes, internal/report/snapshot: the buffer
  * stops accepting once the serialized payload would exceed the cap) —
  * rendered as a running byte sum in deterministic (ts, conv, turn) order.
  *
  * A budgeted search scans the hits twice, and must. The contract (and the
  * oracle's) keeps a row iff its running sum over the GLOBAL order is
  * within the budget, so a row's offset depends on the bytes of every
  * earlier row. The first scan yields per-hour byte totals, whose running
  * offsets decide which buckets can hold kept rows; the second runs the
  * ordered windows within those buckets. The one-pass form is a single
  * global ordered window, which runs as one task at any scale.
  */
object Snapshot {
  def search(t: DataFrame, query: String, minTs: String,
             maxPayloadBytes: Long = Long.MaxValue): DataFrame = {
    val hits = t.filter(col("ts") > lit(minTs).cast("timestamp_ntz"))
      .filter(col("text").contains(query) || col("role").contains(query) ||
        col("tool").contains(query) || col("conv_id").contains(query))
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("text"), col("ts"))
    if (maxPayloadBytes == Long.MaxValue) hits
    else {
      // Two-phase running byte sum — scale-safe shape (a single global
      // ordered window collapses to one task at scale):
      //   1. per-hour-bucket byte totals (parallel hash aggregate),
      //   2. running offsets over the TINY bucket relation (rows = #hours,
      //      not #records), buckets past the budget pruned BEFORE the
      //      expensive per-record work (ordered-limit pushdown),
      //   3. within-bucket ordered windows (parallel across buckets; the
      //      bucket key is a prefix of the global (ts, conv, turn) order,
      //      so bucket_offset + within_bucket_cum IS the global prefix sum).
      import org.apache.spark.sql.expressions.Window
      val bytes = octet_length(col("text")).cast("long")
      val bucketed = hits.withColumn("__b", date_trunc("hour", col("ts")))
      val wOff = Window.orderBy(col("__b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy(col("__b"))
        .agg(sum(bytes).as("__bytes"))
        .withColumn("__off", coalesce(sum(col("__bytes")).over(wOff), lit(0L)))
        .filter(col("__off") <= maxPayloadBytes) // whole-bucket prune
        .drop("__bytes")
      val wCum = Window.partitionBy(col("__b"))
        .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, 0)
      bucketed.join(broadcast(offsets), "__b")
        .withColumn("__cum", col("__off") + sum(bytes).over(wCum))
        .filter(col("__cum") <= maxPayloadBytes)
        .drop("__cum", "__off", "__b")
    }
  }
}
