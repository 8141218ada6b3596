package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.AggOps
import graft.data.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.enrich.EnrichOps
import graft.io.Parquet
import graft.model.Transcripts
import graft.parse.ParseOps
import graft.route.Router

/** Driver contract — one [[SparkEntry.Query]] per implemented operator
  * (SURVEY.md §2) in one [[SparkEntry.registry]]: its Spark builder and its
  * DuckDB-equivalent oracle over the same parquet tables, side by side.
  * `queries` and `oracleSql` are by-name views of the registry.
  *
  * The transcripts relation is derived deterministically from the driver's
  * `events` table with pure column arithmetic (Transcripts.fromEvents), so
  * the oracle reproduces it exactly as a CTE (Transcripts.oracleCte) and
  * every operator's output is independently checkable.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String): DataFrame =
    Transcripts.fromEvents(s, dir)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0: the full
    * parse → enrich → route → aggregate pipeline's per-sink counts.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_pipeline_e2e")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Oracle SQL fragments (DuckDB dialect)
  // ---------------------------------------------------------------------

  /** Row severity over the transcripts CTE `t` — mirrors Router.rowSeverity. */
  private val sevSql: String = """CASE
      WHEN regexp_matches(text, '^10\.') THEN
        CASE WHEN TRY_CAST(regexp_extract(text, '" (\d{3}) ', 1) AS INT) >= 500 THEN 17
             WHEN TRY_CAST(regexp_extract(text, '" (\d{3}) ', 1) AS INT) >= 400 THEN 13
             ELSE 9 END
      WHEN starts_with(text, '{') THEN
        CASE json_extract_string(text, '$.level')
             WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END
      WHEN regexp_matches(text, '^\d{2}/') THEN
        CASE string_split(text, ',')[2]
             WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END
      WHEN starts_with(text, 'level=') THEN
        CASE regexp_extract(text, 'level=(\w+)', 1)
             WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END
      WHEN starts_with(text, '<') THEN
        CASE WHEN TRY_CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) % 8 <= 3 THEN 17
             WHEN TRY_CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) % 8 = 4 THEN 13
             ELSE 9 END
      ELSE 9 END"""

  private val sevTextSql: String = """CASE
      WHEN severity_number >= 17 THEN 'ERROR'
      WHEN severity_number >= 13 THEN 'WARN'
      ELSE 'INFO' END"""

  private val routeSql: String = """CASE
      WHEN severity_number >= 17 THEN 'sink_errors'
      WHEN tool <> '' THEN 'sink_tools'
      ELSE 'sink_default' END"""

  /** `WITH t AS (...), tagged AS (t + severity + route)` prefix. */
  private def withTagged(sql: String): String = Transcripts.withT(
    s""", tagged AS (
       SELECT *, ${sevTextSql.replace("severity_number", s"($sevSql)")} AS severity_text,
              $sevSql AS severity_number,
              ${routeSql.replace("severity_number", s"($sevSql)")} AS route
       FROM t
     ) $sql""")

  /** nginx combined-log line; the `q_parse_nginx` oracle names its groups. */
  private val nginxPat = """^(\S+) - (\S+) \[([^\]]+)\] "(\S+) (\S+) ([^"]*)" (\d+) (\d+) "([^"]*)" "([^"]*)"$"""

  // ---------------------------------------------------------------------
  // Queries + oracles
  // ---------------------------------------------------------------------

  /** One query: its Spark builder over `(session, sfDir)` and the DuckDB SQL
    * that must return the same rows from the same parquet tables.
    */
  final case class Query(
      name: String, build: (SparkSession, String) => DataFrame, oracleSql: String)

  /** Every query, each builder next to its oracle. The SQL fragments above
    * are vals the oracle strings read here, so they are declared first.
    */
  val registry: Seq[Query] = Seq(
    // ------------------------- parse plane -------------------------
    Query("q_parse_nginx", (s, d) => ParseOps.parseNginx(t(s, d)),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           g['remote_addr'] AS remote_addr,
           g['remote_user'] AS remote_user,
           g['method'] AS method,
           g['path'] AS path,
           CAST(g['status'] AS INT) AS status,
           CAST(g['body_bytes_sent'] AS BIGINT) AS body_bytes_sent,
           g['http_user_agent'] AS http_user_agent,
           g['time_local'] AS time_local
           FROM (
             SELECT conv_id, turn_idx, regexp_extract(text, '$nginxPat',
               ['remote_addr','remote_user','time_local','method','path',
                'protocol','status','body_bytes_sent','http_referer',
                'http_user_agent']) AS g
             FROM t WHERE regexp_matches(text, '^10\\.')
           )""")),
    Query("q_parse_json", (s, d) => ParseOps.parseJson(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           CAST(json_extract(text, '$.status') AS INT) AS status,
           json_extract_string(text, '$.path') AS path,
           CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS latency_ms,
           json_extract_string(text, '$.msg') AS msg
           FROM t WHERE starts_with(text, '{')""")),
    Query("q_parse_csv", (s, d) => ParseOps.parseCsv(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           string_split(text, ',')[1] AS time_local,
           string_split(text, ',')[2] AS level,
           string_split(text, ',')[3] AS component,
           CAST(string_split(text, ',')[4] AS INT) AS code,
           CAST(string_split(text, ',')[5] AS BIGINT) AS latency_ms
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_parse_kv", (s, d) => ParseOps.parseKv(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           regexp_extract(text, 'level=(\S+)', 1) AS level,
           regexp_extract(text, 'component=(\S+)', 1) AS component,
           CAST(regexp_extract(text, 'code=(\S+)', 1) AS INT) AS code,
           CAST(regexp_extract(text, 'latency_ms=(\S+)', 1) AS BIGINT) AS latency_ms,
           regexp_extract(text, 'msg=(\S+)', 1) AS msg
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_parse_syslog", (s, d) => ParseOps.parseSyslog(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) AS pri,
           CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) % 8 AS severity,
           CAST(CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) // 8 AS INT) AS facility,
           regexp_extract(text, '^<\d+>(\w{3} \d{2} \d{2}:\d{2}:\d{2})', 1) AS stamp,
           CAST(regexp_extract(text, ' host(\d+) ', 1) AS INT) AS hostnum,
           regexp_extract(text, ' host\d+ (\w+)\[', 1) AS app,
           CAST(regexp_extract(text, '\[(\d+)\]:', 1) AS BIGINT) AS pid,
           regexp_extract(text, '\]: (.*)$', 1) AS message
           FROM t WHERE starts_with(text, '<')""")),
    Query("q_parse_uri", (s, d) => ParseOps.parseUri(t(s, d)),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           'api.example.com' AS host,
           regexp_extract(text, '$nginxPat', 5) AS uri_path,
           regexp_extract(text, '$nginxPat', 7) AS q_status
           FROM t WHERE regexp_matches(text, '^10\\.')""")),
    // RFC5424 over a deterministically framed line (fixture lines are
    // RFC3164; framing built from row fields in both engines)
    Query("q_parse_syslog5424", (s, d) => {
      val line = format_string(
        "<%d>1 %s host-%s app-%s %d ID%d [graft@1 team=\"%s\"] turn %d done",
        (col("turn_idx") % 192), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        substring_index(col("conv_id"), "-", 1), col("role"),
        col("turn_idx") % 32768, col("turn_idx") % 100, col("role"), col("turn_idx"))
      ParseOps.parseSyslog5424(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(turn_idx % 192 AS INT) AS pri,
           CAST(turn_idx % 192 AS INT) % 8 AS severity,
           strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS stamp,
           'host-' || string_split(conv_id, '-')[1] AS host,
           'app-' || role AS app,
           'ID' || CAST(turn_idx % 100 AS VARCHAR) AS msgid,
           role AS sd_team,
           'turn ' || CAST(turn_idx AS VARCHAR) || ' done' AS message
           FROM t""")),
    // uri query-string → param map (str_to_map over parse_url QUERY)
    Query("q_uri_query_map", (s, d) => {
      val url = format_string("https://api.example.com/c/%s?role=%s&turn=%d",
        col("conv_id"), col("role"), col("turn_idx"))
      t(s, d).select(col("conv_id"), col("turn_idx"),
          str_to_map(parse_url(url, lit("QUERY")), lit("&"), lit("=")).as("q"))
        .select(col("conv_id"), col("turn_idx"),
          col("q").getItem("role").as("q_role"),
          col("q").getItem("turn").cast("int").as("q_turn"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx, role AS q_role, turn_idx AS q_turn
           FROM t""")),
    Query("q_parse_time", (s, d) => ParseOps.parseTime(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strptime(string_split(string_split(text, ',')[1], ' ')[1],
                    '%d/%b/%Y:%H:%M:%S') AS event_ts
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_parse_severity", (s, d) => ParseOps.parseSeverity(t(s, d)),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           CAST(regexp_extract(text, '$nginxPat', 7) AS INT) AS status,
           CASE WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 500 THEN 17
                WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 400 THEN 13
                ELSE 9 END AS severity_number,
           CASE WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 500 THEN 'ERROR'
                WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 400 THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE regexp_matches(text, '^10\\.')""")),
    // generic severity mapping compiler: config-as-data class aliases
    // (2xx..5xx) over the numeric code + the default text preset
    Query("q_severity_mapping", (s, d) => {
      val c = ParseOps.parseCsv(t(s, d))
      val classMapping = Seq(
        ParseOps.SevError -> Seq(ParseOps.ClassRule("5xx")),
        ParseOps.SevWarn -> Seq(ParseOps.ClassRule("3xx"), ParseOps.ClassRule("4xx")),
        ParseOps.SevInfo -> Seq(ParseOps.ClassRule("2xx")))
      c.select(col("conv_id"), col("turn_idx"), col("code"),
        ParseOps.compileSeverityMapping(col("code").cast("string"), classMapping)
          .as("sev_from_class"),
        ParseOps.compileSeverityMapping(col("level"),
          ParseOps.DefaultSeverityPreset).as("sev_from_text"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(string_split(text, ',')[4] AS INT) AS code,
           CASE WHEN CAST(string_split(text, ',')[4] AS INT) BETWEEN 500 AND 599 THEN 17
                WHEN CAST(string_split(text, ',')[4] AS INT) BETWEEN 300 AND 499 THEN 13
                WHEN CAST(string_split(text, ',')[4] AS INT) BETWEEN 200 AND 299 THEN 9
                ELSE 9 END AS sev_from_class,
           CASE string_split(text, ',')[2]
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS sev_from_text
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_recombine", (s, d) => ParseOps.recombine(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, session_id, COUNT(*) AS n_parts,
           MIN(turn_idx) AS first_turn, MAX(turn_idx) AS last_turn,
           string_agg(text, chr(10) ORDER BY turn_idx) AS combined
           FROM (
             SELECT conv_id, turn_idx, text,
               CAST(COALESCE(SUM(CASE WHEN starts_with(text, 'F|') THEN 1 ELSE 0 END)
                 OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS session_id
             FROM t WHERE regexp_matches(text, '^[PF]\|')
           ) GROUP BY conv_id, session_id""")),
    Query("q_field_ops", (s, d) => ParseOps.fieldOps(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           regexp_extract(text, 'level=(\S+)', 1) AS level,
           regexp_extract(text, 'component=(\S+)', 1) AS service,
           CAST(regexp_extract(text, 'code=(\S+)', 1) AS INT) AS code,
           'prod' AS env,
           regexp_extract(text, 'msg=(\S+)', 1) AS log_record_original
           FROM t WHERE starts_with(text, 'level=')""")),
    // flatten (upstream stanza op; 1:N generator) — explode kv-row tokens
    Query("q_flatten_tokens", (s, d) =>
      t(s, d).filter(ParseOps.isKv)
        .select(col("conv_id"), col("turn_idx"),
          explode(split(col("text"), " ")).as("token")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, unnest(string_split(text, ' ')) AS token
           FROM t WHERE starts_with(text, 'level=')""")),
    // assign_keys: positional CSV values zipped with configured keys → map
    Query("q_assign_keys", (s, d) =>
      t(s, d).filter(ParseOps.isCsv)
        .select(col("conv_id"), col("turn_idx"),
          to_json(map_from_entries(array_sort(map_entries(
            ParseOps.assignKeys(split(col("text"), ","), ParseOps.CsvHeaders)))))
            .as("attrs_json")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '{"code":"' || string_split(text, ',')[4] ||
           '","component":"' || string_split(text, ',')[3] ||
           '","latency_ms":"' || string_split(text, ',')[5] ||
           '","level":"' || string_split(text, ',')[2] ||
           '","time_local":"' || string_split(text, ',')[1] || '"}' AS attrs_json
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_filter", (s, d) =>
      ParseOps.filterOp(ParseOps.parseJson(t(s, d)), col("level") === "info")
        .select(col("conv_id"), col("turn_idx"), col("level"), col("status")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           CAST(json_extract(text, '$.status') AS INT) AS status
           FROM t WHERE starts_with(text, '{')
             AND json_extract_string(text, '$.level') <> 'info'""")),

    // ------------------------- enrich plane -------------------------
    Query("q_lookup_enrich", (s, d) =>
      EnrichOps.lookupEnrich(s, t(s, d))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          col("team"), col("cost_center"), col("vendor"), col("tier")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, t.role AS role, t.tool AS tool,
           r.team AS team, r.cost_center AS cost_center,
           tl.vendor AS vendor, tl.tier AS tier
           FROM t
           LEFT JOIN (VALUES ('user','external','cc-000'),
                             ('assistant','ml','cc-100'),
                             ('system','platform','cc-200'),
                             ('tool','integrations','cc-300'))
             AS r(role, team, cost_center) ON t.role = r.role
           LEFT JOIN (VALUES ('search','acme','gold'),
                             ('code_exec','acme','gold'),
                             ('browser','other','bronze'))
             AS tl(tool, vendor, tier) ON t.tool = tl.tool""")),
    // duplicate-key CSV parity: indexRecords (lookupprocessor/csv.go) builds
    // the map row by row, so a repeated key LAST-WINS; a colliding column
    // name overwrites matched rows only
    Query("q_lookup_dupkey", (s, d) => {
      val tt = t(s, d).withColumn("team", lit("none"))
      EnrichOps.lookupCsv(s, tt, EnrichOps.LookupSpec(
          EnrichOps.lookupFixture("role_lookup_dup.csv",
            "role,team,cost_center", Seq(
              ("user", "external", "cc-000"),
              ("assistant", "ml", "cc-100"),
              ("user", "override", "cc-999"))), "attributes", "role"))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          col("team"), col("cost_center"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx, t.role AS role,
           CASE WHEN r.team IS NOT NULL THEN r.team ELSE 'none' END AS team,
           r.cost_center AS cost_center
           FROM t
           LEFT JOIN (VALUES ('user','override','cc-999'),
                             ('assistant','ml','cc-100'))
             AS r(role, team, cost_center) ON t.role = r.role""")),
    Query("q_mask", (s, d) => EnrichOps.mask(t(s, d)),
      // the mask chain is GENERATED from EnrichOps.MaskRules (no drift)
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx, ${EnrichOps.maskSqlExpr("text")} AS masked
           FROM t WHERE regexp_matches(text, '^[PF]\\|')""")),
    // recursive masking over map- and array-typed columns
    Query("q_mask_nested", (s, d) => {
      val rows = t(s, d).filter(ParseOps.isMultiline)
        .withColumn("attrs", map(lit("contact"), col("text"), lit("note"), lit("clean")))
        .withColumn("tags", array(col("text"), lit("ok")))
      val masked = EnrichOps.maskColumns(
        rows.select(col("conv_id"), col("turn_idx"), col("attrs"), col("tags")),
        exclude = Set("conv_id"))
      masked.select(col("conv_id"), col("turn_idx"),
        to_json(map_from_entries(array_sort(map_entries(col("attrs"))))).as("attrs_json"),
        array_join(col("tags"), "|").as("tags_joined"))
    },
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           '{"contact":' || to_json(${EnrichOps.maskSqlExpr("text")}) ||
             ',"note":"clean"}' AS attrs_json,
           ${EnrichOps.maskSqlExpr("text")} || '|ok' AS tags_joined
           FROM t WHERE regexp_matches(text, '^[PF]\\|')""")),
    // dotted sub-path excludes (maskprocessor processor.go:174-178): the
    // excluded map key's subtree is skipped, sibling keys still mask
    Query("q_mask_exclude_path", (s, d) => {
      val rows = t(s, d).filter(ParseOps.isMultiline)
        .withColumn("attrs",
          map(lit("contact"), col("text"), lit("secret"), col("text")))
      val masked = EnrichOps.maskColumns(
        rows.select(col("conv_id"), col("turn_idx"), col("attrs")),
        exclude = Set("conv_id", "attrs.secret"))
      masked.select(col("conv_id"), col("turn_idx"),
        to_json(map_from_entries(array_sort(map_entries(col("attrs"))))).as("attrs_json"))
    },
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           '{"contact":' || to_json(${EnrichOps.maskSqlExpr("text")}) ||
             ',"secret":' || to_json(text) || '}' AS attrs_json
           FROM t WHERE regexp_matches(text, '^[PF]\\|')""")),
    Query("q_remove_empty", (s, d) => EnrichOps.removeEmptyValues(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           'level=' || regexp_extract(text, 'level=(\S+)', 1) ||
           ',component=' || regexp_extract(text, 'component=(\S+)', 1) AS attrs
           FROM t WHERE starts_with(text, 'level=')""")),
    // recursive empty-value removal: nested maps collapse, empty submaps drop
    Query("q_remove_empty_nested", (s, d) => {
      val kv = ParseOps.parseKv(t(s, d))
      val nested = kv.select(col("conv_id"), col("turn_idx"),
        map(
          lit("attrs"), map(lit("level"), col("level"), lit("note"), lit(""),
            lit("opt"), lit("null")),
          lit("drop_me"), map(lit("x"), lit("-"))).as("m"),
        array(col("level"), lit(""), lit("-"), lit("x")).as("arr"))
      val cfg = EnrichOps.RemoveEmptyConfig(removeEmptyLists = true,
        removeEmptyMaps = true, emptyStringValues = EnrichOps.EmptySentinels)
      def clean(c: String) = EnrichOps.cleanDeepConfigured(col(c), nested.schema(c).dataType, cfg)
      nested.select(col("conv_id"), col("turn_idx"),
        to_json(clean("m")).as("m_json"),
        array_join(clean("arr"), ",").as("arr_joined"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '{"attrs":{"level":"' || regexp_extract(text, 'level=(\S+)', 1) || '"}}' AS m_json,
           regexp_extract(text, 'level=(\S+)', 1) || ',x' AS arr_joined
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_transpose", (s, d) => EnrichOps.transpose(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE WHEN role = 'tool' THEN 'tool-' || tool
                ELSE 'host-' || string_split(conv_id, '-')[1] END AS host
           FROM t""")),
    // config-driven OCSF: ordered mapping list (first match wins), expr
    // `from` → dotted `to` with coercion, nested body, type_uid derivation
    Query("q_ocsf", (s, d) => {
      val j = ParseOps.parseJson(t(s, d))
      val fields = Seq(
        EnrichOps.FieldMapping("activity_id",
          from = Some(when(col("status") >= 500, 2).otherwise(1))),
        EnrichOps.FieldMapping("status_code",
          from = Some(col("status")), ocsfType = Some("long")))
      val mappings = Seq(
        EnrichOps.EventMapping(Some(col("level") === "error"), 4002, fields),
        EnrichOps.EventMapping(Some(col("latency_ms") >= 1000), 6003, fields))
      EnrichOps.ocsfStandardizeConfig(j, mappings)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.class_uid").as("class_uid"),
          col("ocsf.category_uid").as("category_uid"),
          col("ocsf.activity_id").as("activity_id"),
          col("ocsf.type_uid").as("type_uid"),
          col("ocsf.status_code").as("status_code"),
          col("ocsf.metadata.version").as("metadata_version"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           class_uid,
           CAST(class_uid / 1000 AS INT) AS category_uid,
           activity_id,
           class_uid * 100 + activity_id AS type_uid,
           status_code,
           '1.1.0' AS metadata_version
           FROM (
             SELECT conv_id, turn_idx,
               CASE WHEN json_extract_string(text, '$.level') = 'error' THEN 4002
                    WHEN CAST(json_extract(text, '$.latency_ms') AS BIGINT) >= 1000 THEN 6003
               END AS class_uid,
               CASE WHEN CAST(json_extract(text, '$.status') AS INT) >= 500 THEN 2 ELSE 1 END AS activity_id,
               CAST(CAST(json_extract(text, '$.status') AS BIGINT) AS VARCHAR) AS status_code
             FROM t WHERE starts_with(text, '{')
               AND (json_extract_string(text, '$.level') = 'error'
                    OR CAST(json_extract(text, '$.latency_ms') AS BIGINT) >= 1000)
           )""")),

    // schema-driven coercion + plan-time mapping-coverage validation over
    // the GENERATED full-version tables: LookupFieldType resolves dotted
    // paths through object fields (processor.go:182-184 — port "0123" is a
    // network_endpoint.port integer → normalized; time is a class timestamp
    // → epoch millis), and ValidateMappingCoverage (schema.go:18820-18900)
    // accepts this mapping at plan time (required + any-of + object
    // recursion), with runtime ValidateClass also on
    Query("q_ocsf_schema_coerce", (s, d) => {
      val fields = Seq(
        EnrichOps.FieldMapping("activity_id",
          from = Some((col("turn_idx") % 6).cast("int"))),
        EnrichOps.FieldMapping("severity_id",
          from = Some((col("turn_idx") % 7).cast("int"))),
        EnrichOps.FieldMapping("time",
          from = Some(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"))),
        EnrichOps.FieldMapping("user.name", from = Some(col("role"))),
        EnrichOps.FieldMapping("dst_endpoint.ip",
          from = Some(format_string("10.0.%d.%d",
            col("turn_idx") % 8, col("turn_idx") % 256))),
        EnrichOps.FieldMapping("dst_endpoint.port",
          from = Some(format_string("0%d", col("turn_idx") % 1000))),
        EnrichOps.FieldMapping("metadata.product", from = Some(lit("graft"))))
      val mappings = Seq(EnrichOps.EventMapping(None, 3002, fields))
      EnrichOps.ocsfStandardizeConfig(t(s, d), mappings,
          version = "1.1.0", runtimeValidation = true,
          schemaCoerce = true, coverageValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.class_uid").as("class_uid"),
          col("ocsf.type_uid").as("type_uid"),
          col("ocsf.dst_endpoint.port").as("port"),
          col("ocsf.time").as("time_ms"),
          col("ocsf.user.name").as("user_name"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           3002 AS class_uid,
           CAST(300200 + turn_idx % 6 AS BIGINT) AS type_uid,
           CAST(turn_idx % 1000 AS VARCHAR) AS port,
           CAST(CAST(floor(epoch(ts)) AS BIGINT) * 1000 AS VARCHAR) AS time_ms,
           role AS user_name
           FROM t""")),

    // FULL ValidateClass parity (deepValidation): nested OBJECT validators
    // run for every object the mapping descends into — http_response
    // requires code (null → drop), network_endpoint wants at least one
    // of ip/hostname/... (null ip → drop) and constrains type_id to its
    // enum (12 → drop), url wants path or url_string; metadata requires
    // product+version (schema.go validateHTTPActivity → validateHTTPRequest
    // / validateNetworkEndpoint / validateMetadata recursion)
    Query("q_ocsf_deep_validate", (s, d) => {
      val fields = Seq(
        EnrichOps.FieldMapping("activity_id",
          from = Some((col("turn_idx") % 9).cast("int"))),
        EnrichOps.FieldMapping("severity_id",
          from = Some((col("turn_idx") % 7).cast("int"))),
        EnrichOps.FieldMapping("time", from = Some(col("turn_idx").cast("long"))),
        EnrichOps.FieldMapping("metadata.product", from = Some(lit("graft"))),
        EnrichOps.FieldMapping("src_endpoint.ip",
          from = Some(when(col("turn_idx") % 3 =!= 0,
            format_string("10.0.0.%d", col("turn_idx") % 256)))),
        EnrichOps.FieldMapping("src_endpoint.type_id",
          from = Some((col("turn_idx") % 13).cast("int"))),
        EnrichOps.FieldMapping("dst_endpoint.ip",
          from = Some(format_string("10.1.0.%d", col("turn_idx") % 256))),
        EnrichOps.FieldMapping("http_request.url.path",
          from = Some(concat(lit("/"), col("tool")))),
        EnrichOps.FieldMapping("http_response.code",
          from = Some(when(col("turn_idx") % 5 =!= 0,
            (lit(200) + (col("turn_idx") % 4) * 100).cast("long")))))
      EnrichOps.ocsfStandardizeConfig(t(s, d),
          Seq(EnrichOps.EventMapping(None, 4002, fields)),
          version = "1.1.0", runtimeValidation = true, deepValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.activity_id").as("activity_id"),
          col("ocsf.src_endpoint.type_id").as("type_id"),
          col("ocsf.http_response.code").as("code"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           turn_idx % 9 AS activity_id,
           turn_idx % 13 AS type_id,
           CAST(200 + (turn_idx % 4) * 100 AS BIGINT) AS code
           FROM t
           WHERE turn_idx % 5 <> 0 AND turn_idx % 3 <> 0
             AND turn_idx % 13 <> 12""")),

    // the version dimension across the GENERATED tables: the same
    // authentication mapping validated under v1.1.0 and v1.7.0 drops
    // different rows (1.1 allows activity_id 0-5 and excludes
    // logon_type_id 1; 1.7 widens activity_id to 0-7 and admits
    // logon_type_id 1 — both exclude 6). config.go:27-41 allows any
    // version per processor instance; this is two instances unioned.
    Query("q_ocsf_version_matrix", (s, d) => {
      def run(ver: String) = {
        val fields = Seq(
          EnrichOps.FieldMapping("activity_id",
            from = Some((col("turn_idx") % 8).cast("int"))),
          EnrichOps.FieldMapping("severity_id",
            from = Some((col("turn_idx") % 7).cast("int"))),
          EnrichOps.FieldMapping("logon_type_id",
            from = Some((col("turn_idx") % 14).cast("int"))),
          EnrichOps.FieldMapping("time", from = Some(col("turn_idx").cast("long"))),
          EnrichOps.FieldMapping("user.name", from = Some(col("role"))),
          EnrichOps.FieldMapping("service.name", from = Some(col("tool"))))
        EnrichOps.ocsfStandardizeConfig(t(s, d),
            Seq(EnrichOps.EventMapping(None, 3002, fields)),
            version = ver, runtimeValidation = true)
          .select(lit(ver).as("ver"), col("conv_id"), col("turn_idx"),
            col("ocsf.activity_id").as("activity_id"),
            col("ocsf.logon_type_id").as("logon_type_id"))
      }
      run("1.1.0").unionAll(run("1.7.0"))
    },
      Transcripts.withT(
        """SELECT '1.1.0' AS ver, conv_id, turn_idx,
           turn_idx % 8 AS activity_id, turn_idx % 14 AS logon_type_id
           FROM t WHERE turn_idx % 8 <= 5 AND turn_idx % 14 NOT IN (1, 6)
           UNION ALL
           SELECT '1.7.0' AS ver, conv_id, turn_idx,
           turn_idx % 8 AS activity_id, turn_idx % 14 AS logon_type_id
           FROM t WHERE turn_idx % 14 <> 6""")),

    // OCSF runtime validation against the versioned schema table
    // (processor.go:196-205 ValidateClass): records failing a required-field
    // or enum constraint of their class are dropped
    Query("q_ocsf_validate", (s, d) => {
      val j = ParseOps.parseJson(t(s, d))
      val sevId = when(col("turn_idx") % 7 === 0, 7) // enum violation → drop
        .otherwise(when(col("status") >= 500, 2).otherwise(1))
      val srcEp = when(col("turn_idx") % 5 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("10.0.0."), (col("turn_idx") % 256).cast("string")))
      val timeCol = col("turn_idx").cast("long")
      // HTTP Activity (4002): severity enum + required src_endpoint exercised
      val httpFields = Seq(
        EnrichOps.FieldMapping("activity_id",
          from = Some(when(col("status") >= 500, 2).otherwise(1))),
        EnrichOps.FieldMapping("dst_endpoint",
          from = Some(col("path")), default = Some(lit("/"))),
        EnrichOps.FieldMapping("http_request",
          from = Some(col("path")), default = Some(lit("/"))),
        EnrichOps.FieldMapping("http_response",
          from = Some(col("status")), default = Some(lit(0)),
          ocsfType = Some("long")),
        EnrichOps.FieldMapping("severity_id", from = Some(sevId)),
        EnrichOps.FieldMapping("src_endpoint", from = Some(srcEp)),
        EnrichOps.FieldMapping("time", from = Some(timeCol)))
      // API Activity (6003): its own activity_id enum (0-4, 99) exercised —
      // 7 is invalid for this class too and those records drop
      val apiFields = Seq(
        EnrichOps.FieldMapping("activity_id",
          from = Some(when(col("turn_idx") % 11 === 0, 7)
            .otherwise(when(col("status") >= 500, lit(99)).otherwise(3)))),
        EnrichOps.FieldMapping("actor",
          from = Some(concat(lit("agent-"), (col("turn_idx") % 4).cast("string")))),
        EnrichOps.FieldMapping("api", from = Some(col("path")),
          default = Some(lit("/api"))),
        EnrichOps.FieldMapping("severity_id",
          from = Some(when(col("status") >= 500, 2).otherwise(1))),
        EnrichOps.FieldMapping("src_endpoint",
          from = Some(concat(lit("10.0.1."), (col("turn_idx") % 256).cast("string")))),
        EnrichOps.FieldMapping("time", from = Some(timeCol)))
      val mappings = Seq(
        EnrichOps.EventMapping(Some(col("level") === "error"), 4002, httpFields),
        EnrichOps.EventMapping(Some(lit(true)), 6003, apiFields))
      EnrichOps.ocsfStandardizeConfig(j, mappings, runtimeValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.class_uid").as("class_uid"),
          col("ocsf.activity_id").as("activity_id"),
          col("ocsf.severity_id").as("severity_id"),
          col("ocsf.src_endpoint").as("src_endpoint"),
          col("ocsf.type_uid").as("type_uid"))
    },
      Transcripts.withT(
        """, j AS (SELECT conv_id, turn_idx,
             CAST(json_extract(text, '$.status') AS INT) AS status,
             json_extract_string(text, '$.level') AS level
           FROM t WHERE starts_with(text, '{'))
           SELECT conv_id, turn_idx, 4002 AS class_uid,
             CASE WHEN status >= 500 THEN 2 ELSE 1 END AS activity_id,
             CASE WHEN status >= 500 THEN 2 ELSE 1 END AS severity_id,
             '10.0.0.' || CAST(turn_idx % 256 AS VARCHAR) AS src_endpoint,
             CAST(400200 + CASE WHEN status >= 500 THEN 2 ELSE 1 END AS BIGINT) AS type_uid
           FROM j WHERE level = 'error'
             AND turn_idx % 7 <> 0 AND turn_idx % 5 <> 0
           UNION ALL
           SELECT conv_id, turn_idx, 6003,
             CASE WHEN status >= 500 THEN 99 ELSE 3 END,
             CASE WHEN status >= 500 THEN 2 ELSE 1 END,
             '10.0.1.' || CAST(turn_idx % 256 AS VARCHAR),
             CAST(600300 + CASE WHEN status >= 500 THEN 99 ELSE 3 END AS BIGINT)
           FROM j WHERE COALESCE(level, '') <> 'error' AND turn_idx % 11 <> 0""")),

    // 4-class v1.1.0 validation breadth: File System Activity (1001),
    // Authentication (3002, incl. the at-least-one-of [dst_endpoint,
    // service] constraint), Network Activity (4001), HTTP Activity (4002) —
    // each record validates against ITS matched class's generated schema
    // table (ocsf/v1_1_0/schema.go per-class dispatch)
    Query("q_ocsf_multiclass", (s, d) => {
      val j = ParseOps.parseJson(t(s, d))
      val st = col("status")
      val timeCol = col("turn_idx").cast("long")
      val sev = EnrichOps.FieldMapping("severity_id", from = Some(lit(1)))
      val time = EnrichOps.FieldMapping("time", from = Some(timeCol))
      val fileFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 16)),
        EnrichOps.FieldMapping("actor", from = Some(lit("agent"))),
        EnrichOps.FieldMapping("device", from = Some(lit("host-1"))),
        EnrichOps.FieldMapping("file", from = Some(col("path"))),
        sev, time)
      val authFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 7)),
        EnrichOps.FieldMapping("user", from = Some(col("level"))),
        EnrichOps.FieldMapping("dst_endpoint", from = Some(
          when(col("turn_idx") % 3 === 0, lit(null).cast("string"))
            .otherwise(lit("10.0.0.1")))),
        EnrichOps.FieldMapping("service", from = Some(
          when(col("turn_idx") % 5 === 0, lit("auth-svc"))
            .otherwise(lit(null).cast("string")))),
        EnrichOps.FieldMapping("logon_type_id", from = Some(
          when(col("turn_idx") % 9 === 0, 1).otherwise(2))),
        sev, time)
      val netFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 8)),
        EnrichOps.FieldMapping("dst_endpoint", from = Some(col("path"))),
        EnrichOps.FieldMapping("src_endpoint", from = Some(lit("10.1.1.1"))),
        sev, time)
      val httpFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 10)),
        EnrichOps.FieldMapping("dst_endpoint", from = Some(col("path"))),
        EnrichOps.FieldMapping("http_request", from = Some(col("path"))),
        EnrichOps.FieldMapping("http_response", from = Some(st),
          ocsfType = Some("long")),
        EnrichOps.FieldMapping("src_endpoint", from = Some(lit("10.2.2.2"))),
        sev, time)
      val processFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 7)),
        EnrichOps.FieldMapping("actor", from = Some(lit("agent"))),
        EnrichOps.FieldMapping("device", from = Some(lit("host-1"))),
        EnrichOps.FieldMapping("process", from = Some(col("path"))),
        sev, time)
      val findingFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 5)),
        EnrichOps.FieldMapping("finding_info", from = Some(col("msg"))),
        sev, time)
      val dnsFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(st % 8)),
        EnrichOps.FieldMapping("src_endpoint", from = Some(lit("10.3.3.3"))),
        sev, time)
      val mappings = Seq(
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 0), 1001, fileFields),
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 1), 3002, authFields),
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 2), 4001, netFields),
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 3), 1007, processFields),
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 4), 2004, findingFields),
        EnrichOps.EventMapping(Some(col("turn_idx") % 7 === 5), 4003, dnsFields),
        EnrichOps.EventMapping(Some(lit(true)), 4002, httpFields))
      EnrichOps.ocsfStandardizeConfig(j, mappings, runtimeValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.class_uid").as("class_uid"),
          col("ocsf.category_uid").as("category_uid"),
          col("ocsf.activity_id").as("activity_id"),
          col("ocsf.type_uid").as("type_uid"))
    },
      Transcripts.withT(
        """, j AS (SELECT conv_id, turn_idx, turn_idx % 7 AS cls,
             CAST(json_extract(text, '$.status') AS INT) AS st
           FROM t WHERE starts_with(text, '{')),
           g AS (SELECT conv_id, turn_idx, cls, st,
             CASE cls WHEN 0 THEN st%16 WHEN 1 THEN st%7 WHEN 2 THEN st%8
                      WHEN 3 THEN st%7 WHEN 4 THEN st%5 WHEN 5 THEN st%8
                      ELSE st%10 END AS aid,
             CASE cls WHEN 0 THEN 1001 WHEN 1 THEN 3002 WHEN 2 THEN 4001
                      WHEN 3 THEN 1007 WHEN 4 THEN 2004 WHEN 5 THEN 4003
                      ELSE 4002 END AS cu,
             CASE cls
               WHEN 0 THEN st%16 <= 14
               WHEN 1 THEN st%7 <= 5
                 AND NOT (turn_idx%3 = 0 AND turn_idx%5 <> 0)
                 AND turn_idx%9 <> 0
               WHEN 2 THEN st%8 <= 6
               WHEN 3 THEN st%7 <= 5
               WHEN 4 THEN st%5 <= 3
               WHEN 5 THEN st%8 IN (0, 1, 2, 6)
               ELSE st%10 <= 8 END AS valid
           FROM j)
           SELECT conv_id, turn_idx, cu AS class_uid,
             CASE cls WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 4
                      WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 4 END AS category_uid,
             aid AS activity_id,
             CAST(cu AS BIGINT) * 100 + aid AS type_uid
           FROM g WHERE valid""")),
    // version dimension: the SAME authentication mapping under OCSF 1.7.0 —
    // logon_type_id=1 and activity_id 6-7 are valid here, invalid in 1.1.0
    // (v1_7_0/schema.go validateAuthentication vs v1_1_0's)
    Query("q_ocsf_v17", (s, d) => {
      val j = ParseOps.parseJson(t(s, d))
      val authFields = Seq(
        EnrichOps.FieldMapping("activity_id", from = Some(col("status") % 9)),
        EnrichOps.FieldMapping("user", from = Some(col("level"))),
        EnrichOps.FieldMapping("dst_endpoint", from = Some(
          when(col("turn_idx") % 3 === 0, lit(null).cast("string"))
            .otherwise(lit("10.0.0.1")))),
        EnrichOps.FieldMapping("service", from = Some(
          when(col("turn_idx") % 5 === 0, lit("auth-svc"))
            .otherwise(lit(null).cast("string")))),
        EnrichOps.FieldMapping("logon_type_id", from = Some(
          when(col("turn_idx") % 9 === 0, 1).otherwise(2))),
        EnrichOps.FieldMapping("severity_id", from = Some(lit(1))),
        EnrichOps.FieldMapping("time", from = Some(col("turn_idx").cast("long"))))
      EnrichOps.ocsfStandardizeConfig(j,
          Seq(EnrichOps.EventMapping(Some(lit(true)), 3002, authFields)),
          version = "1.7.0", runtimeValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.class_uid").as("class_uid"),
          col("ocsf.activity_id").as("activity_id"),
          col("ocsf.logon_type_id").as("logon_type_id"),
          col("ocsf.type_uid").as("type_uid"),
          col("ocsf.metadata.version").as("ocsf_version"))
    },
      Transcripts.withT(
        """, j AS (SELECT conv_id, turn_idx,
             CAST(json_extract(text, '$.status') AS INT) AS st
           FROM t WHERE starts_with(text, '{'))
           SELECT conv_id, turn_idx, 3002 AS class_uid,
             st%9 AS activity_id,
             CASE WHEN turn_idx%9 = 0 THEN 1 ELSE 2 END AS logon_type_id,
             CAST(300200 + st%9 AS BIGINT) AS type_uid,
             '1.7.0' AS ocsf_version
           FROM j WHERE st%9 <= 7
             AND NOT (turn_idx%3 = 0 AND turn_idx%5 <> 0)""")),

    // full removeemptyvalues config surface: configured sentinel list
    // (case-insensitive, default-empty), remove_empty_maps toggle, dotted
    // exclude_keys protecting a sub-path, null removal in arrays
    // (removeemptyvaluesprocessor/config.go:77-83, factory defaults :50-57)
    Query("q_remove_empty_config", (s, d) => {
      import org.apache.spark.sql.types._
      val inner_a = map(lit("tool"), col("tool"), lit("note"), lit("-"),
        lit("x"), lit("ok"))
      val inner_b = map(lit("y"), lit(""), lit("z"), lit("-"))
      val outer = map(lit("a"), inner_a, lit("b"), inner_b)
      val arr = array(col("tool"), lit("-"), lit("ok"),
        lit(null).cast("string"))
      val cfg = EnrichOps.RemoveEmptyConfig(
        removeEmptyMaps = true,
        emptyStringValues = Seq("", "-"),
        excludeKeys = Set("a.note"))
      t(s, d).select(col("conv_id"), col("turn_idx"),
        to_json(EnrichOps.cleanDeepConfigured(outer,
          MapType(StringType, MapType(StringType, StringType)), cfg))
          .as("cleaned_json"),
        array_join(EnrichOps.cleanDeepConfigured(arr,
          ArrayType(StringType), cfg), ",").as("cleaned_arr"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '{"a":{' || CASE WHEN tool <> '' THEN '"tool":"' || tool || '",'
                       ELSE '' END ||
             '"note":"-","x":"ok"}}' AS cleaned_json,
           CASE WHEN tool <> '' THEN tool || ',ok' ELSE 'ok' END AS cleaned_arr
           FROM t""")),
    // exclude_keys reference parity (removeemptyvaluesprocessor
    // processor.go:172-174, 204): an exactly-excluded CONTAINER key keeps
    // its whole subtree untouched (no recursion reaches it), and excludes
    // forward UNTRIMMED into maps nested inside arrays
    Query("q_remove_empty_exclude_deep", (s, d) => {
      import org.apache.spark.sql.types._
      val inner_keep = map(lit("note"), lit("-"), lit("x"), lit("ok"))
      val inner_b = map(lit("y"), col("tool"), lit("z"), lit("-"))
      val outer = map(lit("keep"), inner_keep, lit("b"), inner_b)
      val amaps = array(
        map(lit("note"), lit("-"), lit("tool"), col("tool")),
        map(lit("q"), lit("")))
      val cfg = EnrichOps.RemoveEmptyConfig(
        removeEmptyMaps = true,
        emptyStringValues = Seq("", "-"),
        excludeKeys = Set("keep", "note"))
      t(s, d).select(col("conv_id"), col("turn_idx"),
        to_json(EnrichOps.cleanDeepConfigured(outer,
          MapType(StringType, MapType(StringType, StringType)), cfg))
          .as("cleaned_json"),
        to_json(EnrichOps.cleanDeepConfigured(amaps,
          ArrayType(MapType(StringType, StringType)), cfg))
          .as("cleaned_amaps"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '{"keep":{"note":"-","x":"ok"}' ||
             CASE WHEN tool <> '' THEN ',"b":{"y":"' || tool || '"}'
                  ELSE '' END || '}' AS cleaned_json,
           '[{"note":"-"' ||
             CASE WHEN tool <> '' THEN ',"tool":"' || tool || '"'
                  ELSE '' END || '}]' AS cleaned_amaps
           FROM t""")),

    // ------------------------- route plane -------------------------
    Query("q_route_counts", (s, d) =>
      Router.tagged(t(s, d)).groupBy(col("route")).agg(count(lit(1)).as("n")),
      withTagged(
        "SELECT route, COUNT(*) AS n FROM tagged GROUP BY route")),
    // randomfailureprocessor (processor.go:48-67): the deterministic
    // failure schedule itself — which consume batches would error at
    // failure_rate 0.25 (2^58/2^60 exactly), seed "graft", attempt 0.
    // The retry-resilience behavior is locked by ResumeSpec.
    Query("q_random_failure", (s, d) => {
      val thr = 288230376151711744L // 2^58 = 0.25 × 2^60, exact in double
      val pid = date_format(col("ts").cast("timestamp"), "yyyy-MM-dd-HH")
      t(s, d).select(pid.as("batch_id")).distinct()
        .withColumn("would_fail",
          Dedup.md5Hash64(concat(lit("graft|"), col("batch_id"), lit("|0"))) < thr)
    },
      Transcripts.withT(
        s"""SELECT batch_id,
           (${Dedup.md5Hash64Sql("'graft|' || batch_id || '|0'")}
             < 288230376151711744) AS would_fail
           FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d-%H') AS batch_id FROM t)""")),
    // topologyprocessor (topology.go:78-83, processor.go:105-146): request
    // headers ride the relation as h_* columns; the route table keeps the
    // LAST event time per distinct upstream gateway, and a row missing ANY
    // of the four headers (or carrying an empty one) upserts nothing
    Query("q_topology_routes", (s, d) => {
      // the md5 gateway id is computed once per row in a Generate: inlined
      // into topologyRoutes' all-four-headers gate, the md5 chain ran per
      // predicate reference (~9 md5 evaluations per row). The headers are
      // cheap derivations of it; a Generate over a struct of the headers
      // would hold the chain three times, with no subexpression elimination
      val ch = col("ch") // portable gateway-id source
      val hdrs = ParseOps.once(t(s, d), "ch", Dedup.md5Hash64(col("conv_id")))
        .select(col("ts"),
          when(pmod(col("turn_idx"), lit(7)) =!= 0,
            concat(lit("org-"), pmod(ch, lit(3)))).as("h_organization_id"),
          when(pmod(col("turn_idx"), lit(11)) =!= 1,
            concat(lit("acct-"), pmod(ch, lit(5)))).as("h_account_id"),
          when(pmod(col("turn_idx"), lit(13)) === 2, lit(""))
            .otherwise(concat(lit("cfg-"), pmod(ch, lit(2)))).as("h_configuration"),
          when(col("role") === "tool", concat(lit("gw-"), col("tool")))
            .otherwise(lit("gw-agent")).as("h_resource_name"))
      Router.topologyRoutes(hdrs,
        Router.GatewayInfo("org-self", "acct-self", "cfg-self", "gw-self"))
    },
      Transcripts.withT(
        s"""SELECT 'org-self' AS source_organization_id,
           'acct-self' AS source_account_id,
           'cfg-self' AS source_configuration,
           'gw-self' AS source_gateway_id,
           h_organization_id AS dest_organization_id,
           h_account_id AS dest_account_id,
           h_configuration AS dest_configuration,
           h_resource_name AS dest_gateway_id,
           max(ts) AS last_updated
           FROM (SELECT ts,
             CASE WHEN turn_idx % 7 <> 0 THEN 'org-' || (ch % 3) END AS h_organization_id,
             CASE WHEN turn_idx % 11 <> 1 THEN 'acct-' || (ch % 5) END AS h_account_id,
             CASE WHEN turn_idx % 13 = 2 THEN '' ELSE 'cfg-' || (ch % 2) END AS h_configuration,
             CASE WHEN role = 'tool' THEN 'gw-' || tool ELSE 'gw-agent' END AS h_resource_name
             FROM (SELECT *, ${Dedup.md5Hash64Sql("conv_id")} AS ch FROM t))
           WHERE h_organization_id IS NOT NULL AND h_organization_id <> ''
             AND h_account_id IS NOT NULL AND h_account_id <> ''
             AND h_configuration IS NOT NULL AND h_configuration <> ''
             AND h_resource_name IS NOT NULL AND h_resource_name <> ''
           GROUP BY 5, 6, 7, 8""")),
    Query("q_route_errors_rows", (s, d) =>
      Router.tagged(t(s, d)).filter(col("route") === "sink_errors")
        .select(col("conv_id"), col("turn_idx"), col("text"),
          col("severity_number"), col("severity_text")),
      withTagged(
        """SELECT conv_id, turn_idx, text, severity_number, severity_text
           FROM tagged WHERE route = 'sink_errors'""")),
    Query("q_sink_schema", (s, d) =>
      Router.sinkSchema(t(s, d))
        .select(col("conv_id"), col("turn_idx"), col("Timestamp"),
          col("SeverityNumber"), col("SeverityText"), col("Body"),
          col("Attributes"), col("Route")),
      withTagged(
        """SELECT conv_id, turn_idx,
           ts AS "Timestamp",
           CAST(severity_number AS VARCHAR) AS "SeverityNumber",
           severity_text AS "SeverityText",
           text AS "Body",
           '{"conv_id":"' || conv_id || '","role":"' || role || '","tool":"' || tool ||
             '","turn_idx":' || turn_idx || '}' AS "Attributes",
           route AS "Route"
           FROM tagged""")),
    Query("q_chronicle_group", (s, d) => Router.chronicleGroups(t(s, d)),
      Transcripts.withT(
        """SELECT CASE WHEN tool <> '' THEN tool ELSE 'default_type' END AS log_type,
           role AS namespace, COUNT(*) AS n,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes
           FROM t GROUP BY 1, 2""")),
    // gRPC request-size enforcement: recursive count-midpoint halving until
    // every request fits the byte cap; an oversized single entry drops
    // (chronicleexporter/marshal.go:487-515) — relational unrolled descent,
    // oracle = a recursive CTE over the same segment tree
    Query("q_chronicle_split", (s, d) => Router.chronicleRequestBatches(t(s, d)),
      Transcripts.withTRecursive(
        """, j AS (
             SELECT CASE WHEN tool <> '' THEN tool ELSE 'default_type' END AS log_type,
               role AS namespace, time_bucket(INTERVAL '1 hour', ts) AS hour,
               ts, conv_id, turn_idx,
               CAST(octet_length(CAST(text AS BLOB)) *
                 CASE WHEN turn_idx % 997 = 0 THEN 1000 ELSE 1 END AS BIGINT) AS sz
             FROM t),
           ix AS (SELECT *, row_number() OVER (
               PARTITION BY log_type, namespace, hour
               ORDER BY ts, conv_id, turn_idx) - 1 AS rn FROM j),
           ch AS (SELECT *, CAST(rn // 512 AS INT) AS chunk,
               CAST(rn % 512 AS INT) AS cidx FROM ix),
           cm AS (SELECT *, CAST(SUM(sz) OVER (
               PARTITION BY log_type, namespace, hour, chunk
               ORDER BY cidx) AS BIGINT) AS cum FROM ch),
           pf AS (SELECT log_type, namespace, hour, chunk,
               list(cum ORDER BY cidx) AS pfx, CAST(COUNT(*) AS INT) AS cnt
             FROM cm GROUP BY 1, 2, 3, 4),
           seg AS (
             SELECT log_type, namespace, hour, chunk, pfx, 0 AS lo, cnt AS hi
             FROM pf
             UNION ALL
             SELECT log_type, namespace, hour, chunk, pfx,
               CASE WHEN s.side = 0 THEN lo ELSE lo + (hi - lo) // 2 END,
               CASE WHEN s.side = 0 THEN lo + (hi - lo) // 2 ELSE hi END
             FROM seg CROSS JOIN (VALUES (0), (1)) AS s(side)
             WHERE pfx[hi] - CASE WHEN lo = 0 THEN 0 ELSE pfx[lo] END > 16384
               AND hi - lo >= 2),
           leaves AS (
             SELECT log_type, namespace, hour, chunk, lo AS batch_lo, hi,
               pfx[hi] - CASE WHEN lo = 0 THEN 0 ELSE pfx[lo] END AS bytes
             FROM seg
             WHERE pfx[hi] - CASE WHEN lo = 0 THEN 0 ELSE pfx[lo] END <= 16384
                OR hi - lo = 1)
           SELECT log_type, namespace, hour, chunk, batch_lo,
             (bytes > 16384) AS dropped,
             CAST(hi - batch_lo AS BIGINT) AS n_entries,
             CAST(bytes AS BIGINT) AS batch_bytes
           FROM leaves""")),

    // ------------------------- aggregate plane -------------------------
    Query("q_logcount", (s, d) => AggOps.logCount(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           role, COUNT(*) AS log_count
           FROM t GROUP BY 1, 2""")),
    Query("q_logcount_attrs", (s, d) => AggOps.logCountByAttrs(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           '{"has_tool":"' || CASE WHEN tool <> '' THEN 'true' ELSE 'false' END ||
             '","role":"' || role || '"}' AS attrs_json,
           COUNT(*) AS log_count
           FROM t GROUP BY 1, 2""")),
    Query("q_datapoint_count", (s, d) => AggOps.datapointCount(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           json_extract_string(text, '$.level') AS level,
           COUNT(*) AS datapoint_count
           FROM t WHERE starts_with(text, '{') GROUP BY 1, 2""")),
    // eachDatapoint parity across ALL FIVE metric shapes (gauge/sum/
    // histogram/exponential_histogram/summary) — datapointcountprocessor/
    // processor.go:241-278
    Query("q_datapoint_count_typed", (s, d) => AggOps.datapointCountTyped(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           mt.metric_type AS metric_type, COUNT(*) AS datapoint_count
           FROM t CROSS JOIN (VALUES ('gauge'), ('sum'), ('histogram'),
             ('exponential_histogram'), ('summary')) AS mt(metric_type)
           WHERE starts_with(text, '{') GROUP BY 1, 2""")),
    // the aggregate shapes' payloads (bucket-count arrays, quantiles) are
    // folded on the datapoint rows themselves
    Query("q_datapoint_shapes", (s, d) => AggOps.datapointShapeStats(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(SUM(lat%3 + lat%5 + lat%7 + lat%11) AS BIGINT) AS hist_bucket_total,
           CAST(SUM(lat%2 + 1 + lat%3 + 1 + lat%5) AS BIGINT) AS exp_bucket_total,
           CAST(MAX(lat%4) AS INT) AS max_scale,
           MAX(CAST(lat AS DOUBLE) * CAST(0.95 AS DOUBLE)) AS max_q95,
           CAST(SUM(lat%13) AS BIGINT) AS summary_count
           FROM (SELECT ts, CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS lat
                 FROM t WHERE starts_with(text, '{'))
           GROUP BY 1""")),
    // expr-env parity (expr/datapoint.go:84-95): `datapoint_value` exists
    // ONLY on number points — a value match over the five-shape plane
    // evaluates null→false on histogram/exp-histogram/summary points, so
    // they silently never count (expression.go false-on-error)
    Query("q_datapoint_count_match", (s, d) =>
      AggOps.allDatapoints(t(s, d))
        .filter(coalesce(col("value_int") > 200, lit(false)))
        .groupBy(AggOps.windowStart(col("ts"), "1 hour").as("window_start"),
          col("metric_type"))
        .agg(count(lit(1)).as("datapoint_count")),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           mt.metric_type AS metric_type, COUNT(*) AS datapoint_count
           FROM t CROSS JOIN (VALUES ('gauge'), ('sum')) AS mt(metric_type)
           WHERE starts_with(text, '{')
             AND CAST(json_extract(text, '$.latency_ms') AS BIGINT) > 200
           GROUP BY 1, 2""")),
    // lookupprocessor over the datapoint plane: every shape's attributes
    // enrich through the same hash-probed dim (lookupprocessor/processor.go:
    // 228-239 switches over all five types)
    Query("q_datapoint_lookup", (s, d) =>
      EnrichOps.lookupCsv(s, AggOps.allDatapoints(t(s, d)),
          EnrichOps.LookupSpec(
            EnrichOps.lookupFixture("level_lookup.csv",
              "level,oncall,urgency", Seq(
                ("info", "none", "low"),
                ("warn", "sre", "medium"),
                ("error", "sre", "high"))), "attributes", "level"))
        .groupBy(col("metric_type"), col("oncall"), col("urgency"))
        .agg(count(lit(1)).as("n"),
          sum(col("value_int")).as("gauge_sum"),
          sum(col("dp_count")).as("agg_count_sum")),
      Transcripts.withT(
        """SELECT d.metric_type AS metric_type, lk.oncall AS oncall,
           lk.urgency AS urgency, COUNT(*) AS n,
           CAST(SUM(CASE WHEN d.metric_type IN ('gauge', 'sum')
                         THEN d.lat END) AS BIGINT) AS gauge_sum,
           CAST(SUM(CASE WHEN d.metric_type = 'histogram'
                           THEN d.lat%3 + d.lat%5 + d.lat%7 + d.lat%11
                         WHEN d.metric_type = 'exponential_histogram'
                           THEN d.lat%2 + 1 + d.lat%3 + 1 + d.lat%5
                         WHEN d.metric_type = 'summary'
                           THEN d.lat%13 END) AS BIGINT) AS agg_count_sum
           FROM (
             SELECT mt.metric_type, j.lat, j.level
             FROM (SELECT CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS lat,
                     json_extract_string(text, '$.level') AS level
                   FROM t WHERE starts_with(text, '{')) j
             CROSS JOIN (VALUES ('gauge'), ('sum'), ('histogram'),
               ('exponential_histogram'), ('summary')) AS mt(metric_type)
           ) d
           LEFT JOIN (VALUES ('info', 'none', 'low'), ('warn', 'sre', 'medium'),
             ('error', 'sre', 'high')) AS lk(level, oncall, urgency)
             ON d.level = lk.level
           GROUP BY 1, 2, 3""")),
    Query("q_metric_extract", (s, d) =>
      AggOps.metricExtract(t(s, d))
        .select(col("conv_id"), col("turn_idx"), col("metric_name"),
          col("value_int"), col("value_double"), col("level"), col("ts")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           'request.latency_ms' AS metric_name,
           CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS value_int,
           CAST(json_extract(text, '$.latency_ms') AS DOUBLE) AS value_double,
           json_extract_string(text, '$.level') AS level, ts
           FROM t WHERE starts_with(text, '{')""")),
    // full metricextract config surface: match gate + extract expression +
    // the counter_int metric type (monotonic sum) + attribute expressions
    // (metricextractprocessor/config.go:67-78)
    Query("q_metric_extract_config", (s, d) => {
      val tt = t(s, d).filter(ParseOps.isJson)
        .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
        .select(col("conv_id"), col("turn_idx"), col("ts"),
          col("p.level").as("level"), col("p.status").as("status"),
          col("p.latency_ms").as("latency_ms"))
      AggOps.metricExtractConfigured(tt, AggOps.MetricExtractConfig(
        route = "metrics",
        exprMatch = Some("status >= 400"),
        extract = "latency_ms * 2",
        metricName = "request.latency_x2",
        metricUnit = "ms",
        metricType = "counter_int",
        exprAttrs = Some(Seq(
          "sev" -> "level",
          "hot" -> "latency_ms > 500 ? 'y' : 'n'"))))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           'request.latency_x2' AS metric_name, 'ms' AS metric_unit,
           'counter_int' AS metric_type, TRUE AS is_monotonic,
           CAST(lat AS BIGINT) * 2 AS value_int,
           CAST(NULL AS DOUBLE) AS value_double,
           '{"hot":"' || CASE WHEN lat > 500 THEN 'y' ELSE 'n' END ||
             '","sev":"' || level || '"}' AS attrs_json,
           'metrics' AS route, ts
           FROM (SELECT conv_id, turn_idx, ts,
                   json_extract_string(text, '$.level') AS level,
                   CAST(json_extract(text, '$.status') AS INT) AS st,
                   CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS lat
                 FROM t WHERE starts_with(text, '{'))
           WHERE st >= 400""")),
    Query("q_metric_stats", (s, d) => AggOps.metricStats(t(s, d)),
      Transcripts.withT(
        """SELECT window_start, level,
           MIN(value_int) AS stat_min, MAX(value_int) AS stat_max,
           CAST(SUM(value_int) // COUNT(*) AS BIGINT) AS stat_avg_int,
           CAST(SUM(value_int) AS DOUBLE) / COUNT(*) AS stat_avg_double,
           arg_min(value_int, arrival) AS stat_first,
           arg_max(value_int, arrival) AS stat_last,
           COUNT(*) AS stat_count
           FROM (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               json_extract_string(text, '$.level') AS level,
               CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS value_int,
               printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx) AS arrival
             FROM t WHERE starts_with(text, '{')
           ) GROUP BY 1, 2""")),
    // include-regex gate: matching metrics consumed into stats...
    Query("q_metric_stats_regex", (s, d) =>
      AggOps.metricStatsSplit(t(s, d), "^request\\.")._1,
      Transcripts.withT(
        """SELECT window_start, metric_name, level,
           MIN(value_int) AS stat_min, MAX(value_int) AS stat_max,
           COUNT(*) AS stat_count,
           arg_min(value_int, arrival) AS stat_first,
           arg_max(value_int, arrival) AS stat_last
           FROM (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               'request.latency_ms' AS metric_name,
               json_extract_string(text, '$.level') AS level,
               CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS value_int,
               printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx) AS arrival
             FROM t WHERE starts_with(text, '{')
           ) GROUP BY 1, 2, 3""")),
    // ...non-matching datapoints pass through untouched
    Query("q_metric_passthrough", (s, d) =>
      AggOps.metricStatsSplit(t(s, d), "^request\\.")._2,
      Transcripts.withT(
        """SELECT conv_id, turn_idx, 'http.status' AS metric_name,
           CAST(json_extract(text, '$.status') AS BIGINT) AS value_int,
           json_extract_string(text, '$.level') AS level, ts
           FROM t WHERE starts_with(text, '{')""")),
    Query("q_sampling_dropall", (s, d) =>
      AggOps.sample(AggOps.metricExtract(t(s, d)), col("level") === "info", 1.0)
        .select(col("conv_id"), col("turn_idx"), col("level")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, json_extract_string(text, '$.level') AS level
           FROM t WHERE starts_with(text, '{')
             AND json_extract_string(text, '$.level') <> 'info'""")),
    Query("q_dedup", (s, d) => AggOps.logDedup(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           md5(text) AS body_md5, role,
           COUNT(*) AS dedup_count,
           MIN(printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx)) AS first_arrival
           FROM t GROUP BY 1, 2, 3""")),
    // logdedup exclude_fields: latency/msg excluded from the identity, so
    // bodies differing only there collapse to one record + count
    Query("q_dedup_exclude", (s, d) =>
      AggOps.logDedupExcluding(t(s, d), Seq("latency_ms", "msg", "path")),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
             '"latency_ms":("[^"]*"|[0-9.]+|true|false|null),?', '', 'g'),
             '"msg":("[^"]*"|[0-9.]+|true|false|null),?', '', 'g'),
             '"path":("[^"]*"|[0-9.]+|true|false|null),?', '', 'g')) AS identity_md5,
           role, COUNT(*) AS dedup_count,
           MIN(printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx)) AS first_arrival
           FROM t GROUP BY 1, 2, 3""")),
    Query("q_datapoint_first", (s, d) => AggOps.datapointFirst(t(s, d)),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           json_extract_string(text, '$.level') AS level,
           'request.latency_ms' AS metric_name,
           COUNT(*) AS dedup_count,
           MIN(printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx)) AS first_arrival
           FROM t WHERE starts_with(text, '{') GROUP BY 1, 2, 3""")),
    Query("q_salted_agg", (s, d) => AggOps.saltedCountByConv(t(s, d)),
      Transcripts.withT(
        "SELECT conv_id, COUNT(*) AS n_turns FROM t GROUP BY conv_id")),
    // EP1 config→DAG compiler end-to-end (pluginreceiver/plugin.go Render +
    // CheckParameters + consumer chain): a SPEC (not code) compiles through
    // validate/defaults into one Catalyst plan — severity, mask, filter,
    // add, OTTL transform, retain, first-match routes
    Query("q_config_compiled", (s, d) => {
      import graft.pipeline.Pipeline
      val spec = Pipeline.PipelineSpec(
        name = "oracle_config",
        operators = Seq(
          Pipeline.OperatorSpec("severity_tag"),
          Pipeline.OperatorSpec("mask"),
          Pipeline.OperatorSpec("filter", Map("drop_where" -> "role = 'system'")),
          Pipeline.OperatorSpec("add", Map("field" -> "env", "value" -> "'prod'")),
          Pipeline.OperatorSpec("transform",
            Map("statements" -> "replace_pattern(body, '[0-9]+', '#')")),
          Pipeline.OperatorSpec("retain",
            Map("fields" -> "conv_id,turn_idx,role,text,severity_number,env"))),
        routes = Seq(
          Pipeline.RouteSpec("sink_errors", "severity_number >= 17"),
          Pipeline.RouteSpec("sink_default", "true")),
        sinks = Seq("sink_errors", "sink_default"))
      Pipeline.compile(spec, s)(t(s, d))
    },
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx, role,
           regexp_replace(${EnrichOps.maskSqlExpr("text")}, '[0-9]+', '#', 'g') AS text,
           sev AS severity_number, 'prod' AS env,
           CASE WHEN sev >= 17 THEN 'sink_errors' ELSE 'sink_default' END AS route
           FROM (SELECT conv_id, turn_idx, role, text, ${sevSql} AS sev FROM t)
           WHERE role <> 'system'""")),
    // ExpressionMap-driven attrs extraction (expr/map.go:27-37): named
    // value expressions per record; failed/nil entries SILENTLY ABSENT
    // (here: 'no_such_field' never appears in the attr maps)
    Query("q_logcount_exprmap", (s, d) =>
      AggOps.logCountExprAttrs(t(s, d), Seq(
        "role" -> "role",
        "slow" -> "turn_idx % 3 == 0 ? 'y' : 'n'",
        "missing" -> "no_such_field")),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           '{"role":"' || role ||
             '","slow":"' || CASE WHEN turn_idx % 3 = 0 THEN 'y' ELSE 'n' END ||
             '"}' AS attrs_json,
           COUNT(*) AS log_count
           FROM t GROUP BY 1, 2""")),
    // OTTL config surface of logcount (config.go:49-51): ottl_match
    // condition + ottl_attributes value map, same windowed count — the expr
    // and OTTL surfaces are mutually exclusive at validation time (:56-70,
    // AggSpec asserts the rejection)
    Query("q_logcount_ottl", (s, d) =>
      AggOps.logCountConfigured(t(s, d), AggOps.LogCountConfig(
        ottlMatch = Some("Len(text) > 60"),
        ottlAttrs = Some(Seq(
          "role_upper" -> "ConvertCase(role, 'upper')",
          "kind" -> "IsMatch(text, '^\\{') ? 'json' : 'plain'")))),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           '{"kind":"' || CASE WHEN starts_with(text, '{') THEN 'json' ELSE 'plain' END ||
             '","role_upper":"' || upper(role) || '"}' AS attrs_json,
           COUNT(*) AS log_count
           FROM t WHERE length(text) > 60 GROUP BY 1, 2""")),
    // webhookexporter extractLogBodies (exporter_logs.go:90-123): the sink
    // payload is the raw body string per record
    Query("q_webhook_bodies", (s, d) =>
      t(s, d).select(col("conv_id"), col("turn_idx"), col("text").as("body")),
      Transcripts.withT(
        "SELECT conv_id, turn_idx, text AS body FROM t")),
    // spancountprocessor (processor.go:186-214): spans ≅ tool-call turns;
    // span_duration_ms from the json latency; count per (window, tool)
    Query("q_span_count", (s, d) =>
      AggOps.metricExtract(t(s, d))
        .groupBy(AggOps.windowStart(col("ts"), "1 hour").as("window_start"),
          (col("value_int") >= 1000).as("is_slow"))
        .agg(count(lit(1)).as("span_count")),
      Transcripts.withT(
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(json_extract(text, '$.latency_ms') AS BIGINT) >= 1000 AS is_slow,
           COUNT(*) AS span_count
           FROM t WHERE starts_with(text, '{') GROUP BY 1, 2""")),
    // span expression environment (expr/span.go:22-56): the four trace env
    // fields as first-class columns of the span-view relation
    Query("q_span_env", (s, d) =>
      AggOps.spanView(t(s, d)).select(col("conv_id"), col("turn_idx"),
        col("span_duration_ms"), col("trace_kind"),
        col("trace_status_code"), col("trace_status_message")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS span_duration_ms,
           CASE WHEN role = 'tool' THEN 'client'
                WHEN role = 'assistant' THEN 'server'
                WHEN role = 'user' THEN 'consumer'
                ELSE 'internal' END AS trace_kind,
           CASE WHEN CAST(json_extract(text, '$.status') AS INT) >= 500 THEN 'error'
                WHEN CAST(json_extract(text, '$.status') AS INT) >= 400 THEN 'unset'
                ELSE 'ok' END AS trace_status_code,
           json_extract_string(text, '$.msg') AS trace_status_message
           FROM t WHERE starts_with(text, '{')""")),
    // spancount with a span-env predicate compiled by the expr ENGINE
    // (spancountprocessor config match over expr.Span fields): both
    // span_duration_ms and trace_status_code resolve through boolExpr
    Query("q_span_count_duration", (s, d) =>
      AggOps.spanCountMatched(t(s, d),
        "span_duration_ms > 1000 and trace_status_code != 'error'"),
      Transcripts.withT(
        """SELECT window_start, trace_kind, COUNT(*) AS span_count FROM (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               CASE WHEN role = 'tool' THEN 'client'
                    WHEN role = 'assistant' THEN 'server'
                    WHEN role = 'user' THEN 'consumer'
                    ELSE 'internal' END AS trace_kind,
               CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS dur,
               CASE WHEN CAST(json_extract(text, '$.status') AS INT) >= 500 THEN 'error'
                    WHEN CAST(json_extract(text, '$.status') AS INT) >= 400 THEN 'unset'
                    ELSE 'ok' END AS code
             FROM t WHERE starts_with(text, '{')
           ) WHERE dur > 1000 AND code <> 'error' GROUP BY 1, 2""")),
    // spancount attributes surface: ExpressionMap over the span env (the
    // log plane's attrs.Extract, fed expr.Span envs) — including a
    // failed-entry key that must be silently absent
    Query("q_span_attrs", (s, d) =>
      AggOps.spanCountAttrs(t(s, d), Seq(
        "kind" -> "trace_kind",
        "speed" -> "span_duration_ms > 1000 ? 'slow' : 'fast'",
        "code" -> "trace_status_code",
        "missing" -> "no_such_field"),
        matchExpr = Some("trace_status_message == 'request completed'")),
      Transcripts.withT(
        """SELECT window_start, attrs_json, COUNT(*) AS span_count FROM (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               '{"code":"' ||
                 CASE WHEN CAST(json_extract(text, '$.status') AS INT) >= 500 THEN 'error'
                      WHEN CAST(json_extract(text, '$.status') AS INT) >= 400 THEN 'unset'
                      ELSE 'ok' END ||
               '","kind":"' ||
                 CASE WHEN role = 'tool' THEN 'client'
                      WHEN role = 'assistant' THEN 'server'
                      WHEN role = 'user' THEN 'consumer'
                      ELSE 'internal' END ||
               '","speed":"' ||
                 CASE WHEN CAST(json_extract(text, '$.latency_ms') AS BIGINT) > 1000
                      THEN 'slow' ELSE 'fast' END ||
               '"}' AS attrs_json
             FROM t WHERE starts_with(text, '{')
               AND json_extract_string(text, '$.msg') = 'request completed'
           ) GROUP BY 1, 2""")),
    // span hierarchy + IsRootSpan THROUGH the expr engine: every span
    // carries trace_id / span_id / parent_span_id (lag over the trace's
    // conv window), root ⇔ empty parent id — the upstream ottlfuncs
    // IsRootSpan contract (previously documented-excluded)
    Query("q_span_root", (s, d) => {
      val sh = AggOps.spanHierarchy(t(s, d))
      sh.withColumn("is_root",
          graft.expr.ExprLang.boolExpr("IsRootSpan()", sh.columns.toSet))
        .select(col("conv_id"), col("turn_idx"), col("trace_id"),
          col("span_id"), col("parent_span_id"), col("is_root"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx, trace_id, span_id,
           coalesce(lag(span_id) OVER w, '') AS parent_span_id,
           (coalesce(lag(span_id) OVER w, '') = '') AS is_root
           FROM (
             SELECT conv_id, turn_idx, md5(conv_id) AS trace_id,
               substr(md5(conv_id || ':' || turn_idx), 1, 16) AS span_id
             FROM t WHERE starts_with(text, '{')
           ) WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)""")),
    // metricstats via the typed Aggregator (stats.Statistic parity); the
    // agg + projection is the flush contract shared with the streaming form
    Query("q_metric_stats_agg", (s, d) => AggOps.metricStatsFlush(
      AggOps.metricExtract(t(s, d))
        .groupBy(AggOps.windowStart(col("ts"), "1 hour").as("window_start"),
          col("level")),
      col("window_start")),
      Transcripts.withT(
        """SELECT window_start, level,
           MIN(value_int) AS stat_min, MAX(value_int) AS stat_max,
           CAST(SUM(value_int) // COUNT(*) AS BIGINT) AS stat_avg_int,
           arg_min(value_int, arrival) AS stat_first,
           arg_max(value_int, arrival) AS stat_last,
           COUNT(*) AS stat_count
           FROM (
             SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               json_extract_string(text, '$.level') AS level,
               CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS value_int,
               printf('%019d %s %010d', epoch_us(ts), conv_id, turn_idx) AS arrival
             FROM t WHERE starts_with(text, '{')
           ) GROUP BY 1, 2""")),
    Query("q_throughput", (s, d) => AggOps.throughput(t(s, d)),
      withTagged(
        """SELECT route, COUNT(*) AS log_count,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS log_raw_bytes
           FROM tagged GROUP BY route""")),
    // full throughputmeasurement config: payload-level sampling (hash-gated
    // hour payloads), extra labels, raw-bytes opt-in
    Query("q_throughput_config", (s, d) =>
      AggOps.throughputConfigured(Router.tagged(t(s, d)),
        AggOps.ThroughputConfig(samplingRatio = 0.4,
          extraLabels = Map("collector" -> "c1"),
          measureLogRawBytes = true)),
      withTagged(
        s"""SELECT route, COUNT(*) AS log_count,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS log_raw_bytes,
           'c1' AS label_collector
           FROM tagged
           WHERE ${graft.data.Dedup.md5Hash64Sql(
             "CAST(CAST(epoch_us(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS VARCHAR)")}
             % 1000000 < 400000
           GROUP BY route""")),

    // ------------------- plugin / expression / snapshot -------------------
    Query("q_plugin_nginx", (s, d) =>
      graft.plugins.Plugins.NginxPlugin(s, Map("data_flow" -> "low"))(t(s, d)),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx, tool,
           g['remote_addr'] AS remote_addr,
           g['method'] AS method,
           g['path'] AS path,
           CAST(g['status'] AS INT) AS status,
           CAST(g['body_bytes_sent'] AS BIGINT) AS body_bytes_sent,
           strptime(string_split(g['time_local'], ' ')[1], '%d/%b/%Y:%H:%M:%S') AS event_ts,
           'nginx' AS log_type,
           CASE WHEN CAST(g['status'] AS INT) >= 500 THEN 17
                WHEN CAST(g['status'] AS INT) >= 400 THEN 13 ELSE 9 END AS severity_number,
           CASE WHEN CAST(g['status'] AS INT) >= 500 THEN 'ERROR'
                WHEN CAST(g['status'] AS INT) >= 400 THEN 'WARN' ELSE 'INFO' END AS severity_text
           FROM (
             SELECT conv_id, turn_idx, tool, regexp_extract(text, '$nginxPat',
               ['remote_addr','remote_user','time_local','method','path',
                'protocol','status','body_bytes_sent','http_referer',
                'http_user_agent']) AS g
             FROM t WHERE regexp_matches(text, '^10\\.')
           ) WHERE CAST(g['status'] AS INT) >= 400""")),
    Query("q_plugin_syslog", (s, d) =>
      graft.plugins.Plugins.SyslogPlugin(s, Map(
        "protocol" -> "rfc3164", "data_flow" -> "low",
        "retain_raw_logs" -> "true"))(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) AS priority,
           CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) % 8 AS severity,
           regexp_extract(text, ' host\d+ (\w+)\[', 1) AS appname,
           'host' || regexp_extract(text, ' host(\d+) ', 1) AS hostname,
           regexp_extract(text, '\]: (.*)$', 1) AS message,
           text AS raw_log
           FROM t WHERE starts_with(text, '<')
             AND CAST(regexp_extract(text, '^<(\d+)>', 1) AS INT) % 8 <> 7""")),
    Query("q_plugin_csv", (s, d) =>
      graft.plugins.Plugins.CsvPlugin(s, Map(
        "header" -> "time_local,level,component,code,latency_ms",
        "save_log_record_original" -> "true"))(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           string_split(text, ',')[1] AS time_local,
           string_split(text, ',')[2] AS level,
           string_split(text, ',')[3] AS component,
           string_split(text, ',')[4] AS code,
           string_split(text, ',')[5] AS latency_ms,
           'csv' AS log_type,
           text AS log_record_original
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_plugin_json", (s, d) =>
      graft.plugins.Plugins.JsonPlugin(s)(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           CAST(json_extract(text, '$.status') AS INT) AS status,
           json_extract_string(text, '$.path') AS path,
           CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS latency_ms,
           json_extract_string(text, '$.msg') AS msg,
           'json' AS log_type
           FROM t WHERE starts_with(text, '{')""")),
    Query("q_plugin_container", (s, d) =>
      graft.plugins.Plugins.ContainerPlugin(s)(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx AS first_turn, turn_idx AS last_turn,
           CAST(1 AS BIGINT) AS n_parts, 'docker-json-file' AS driver,
           json_extract_string(text, '$.msg') AS log,
           json_extract_string(text, '$.level') AS level
           FROM t WHERE starts_with(text, '{')
           UNION ALL
           SELECT conv_id, MIN(turn_idx) AS first_turn, MAX(turn_idx) AS last_turn,
             COUNT(*) AS n_parts, 'containerd-cri' AS driver,
             string_agg(regexp_extract(text, '^[PF]\|(.*)$', 1), chr(10) ORDER BY turn_idx) AS log,
             NULL AS level
           FROM (
             SELECT conv_id, turn_idx, text,
               CAST(COALESCE(SUM(CASE WHEN starts_with(text, 'F|') THEN 1 ELSE 0 END)
                 OVER (PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS session_id
             FROM t WHERE regexp_matches(text, '^[PF]\|')
           ) GROUP BY conv_id, session_id""")),
    Query("q_plugin_postgresql", (s, d) => {
      // pg-shaped lines framed deterministically from the kv fixture rows
      // (both engines build the identical line; the plugin parses it back)
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = regexp_extract(col("text"), "level=(\\w+)", 1)
      val pgLvl = when(lvl === "error", "ERROR")
        .when(lvl === "warn", "WARNING").otherwise("LOG")
      val lat = regexp_extract(col("text"), "latency_ms=(\\d+)", 1)
      val msg = when(col("turn_idx") % 3 === 0,
          concat(lit("duration: "), lat, lit(".000 ms  statement: SELECT "),
            col("turn_idx")))
        .when(col("turn_idx") % 3 === 1,
          concat(lit("statement: ALTER TABLE t"), col("turn_idx")))
        .otherwise(lit("connection received"))
      val line = format_string("%s.%03d UTC [%d] app%d@db%d %s:  %s",
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("turn_idx") % 1000,
        col("turn_idx") % 32768, col("turn_idx") % 5, col("turn_idx") % 3,
        pgLvl, msg)
      graft.plugins.Plugins.PostgresqlPlugin(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(turn_idx % 32768 AS BIGINT) AS tid,
           'app' || CAST(turn_idx % 5 AS VARCHAR) AS db_role,
           'db' || CAST(turn_idx % 3 AS VARCHAR) AS db_user,
           pg_level AS level, msg AS message,
           CASE WHEN pg_level = 'ERROR' THEN 17
                WHEN pg_level = 'WARNING' THEN 13
                ELSE 9 END AS severity_number,
           CASE WHEN turn_idx % 3 = 0 THEN lat || '.000' ELSE '' END AS duration_ms,
           CASE WHEN turn_idx % 3 = 0 THEN 'postgresql.slow_query'
                ELSE 'postgresql.general' END AS log_type,
           CASE WHEN turn_idx % 3 = 0 THEN 'SELECT ' || CAST(turn_idx AS VARCHAR)
                WHEN turn_idx % 3 = 1 THEN 'ALTER TABLE t' || CAST(turn_idx AS VARCHAR)
           END AS statement,
           CASE WHEN turn_idx % 3 = 0 THEN 'SELECT'
                WHEN turn_idx % 3 = 1 THEN 'ALTER'
           END AS sql_command
           FROM (
             SELECT conv_id, turn_idx,
               CASE regexp_extract(text, 'level=(\w+)', 1)
                 WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARNING'
                 ELSE 'LOG' END AS pg_level,
               regexp_extract(text, 'latency_ms=(\d+)', 1) AS lat,
               CASE WHEN turn_idx % 3 = 0 THEN
                 'duration: ' || regexp_extract(text, 'latency_ms=(\d+)', 1) ||
                 '.000 ms  statement: SELECT ' || CAST(turn_idx AS VARCHAR)
               WHEN turn_idx % 3 = 1 THEN
                 'statement: ALTER TABLE t' || CAST(turn_idx AS VARCHAR)
               ELSE 'connection received' END AS msg
             FROM t WHERE starts_with(text, 'level=')
           )""")),
    Query("q_plugin_w3c", (s, d) => {
      // w3c-shaped: '|'-delimited data lines + '#'-prefixed comment rows
      val csvRows = t(s, d).filter(ParseOps.isCsv)
      val line = when(col("turn_idx") % 7 === 0,
          lit("#Fields: time_local|level|component|code|latency_ms"))
        .otherwise(regexp_replace(col("text"), ",", "|"))
      graft.plugins.Plugins.W3cPlugin(s, Map(
        "header" -> "time_local|level|component|code|latency_ms",
        "delimiter" -> "|"))(
        csvRows.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           string_split(text, ',')[1] AS time_local,
           string_split(text, ',')[2] AS level,
           string_split(text, ',')[3] AS component,
           string_split(text, ',')[4] AS code,
           string_split(text, ',')[5] AS latency_ms,
           'w3c' AS log_type
           FROM t WHERE regexp_matches(text, '^\d{2}/') AND turn_idx % 7 <> 0""")),
    Query("q_plugin_apache", (s, d) =>
      graft.plugins.Plugins.ApacheCombinedPlugin(s)(t(s, d)),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxPat', 1) AS remote_addr,
           regexp_extract(text, '$nginxPat', 4) AS method,
           regexp_extract(text, '$nginxPat', 5) AS path,
           CAST(regexp_extract(text, '$nginxPat', 7) AS INT) AS status,
           'apache_combined' AS log_type,
           CASE WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 500 THEN 17
                WHEN CAST(regexp_extract(text, '$nginxPat', 7) AS INT) >= 400 THEN 13
                ELSE 9 END AS severity_number
           FROM t WHERE regexp_matches(text, '^10\\.')""")),
    // bindplane agent logs (bindplane_logs.yaml:50): json_parser + severity
    Query("q_plugin_bindplane", (s, d) =>
      graft.plugins.Plugins.BindplanePlugin(s)(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.msg') AS message,
           'bindplane' AS log_type,
           CASE json_extract_string(text, '$.level')
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number
           FROM t WHERE starts_with(text, '{')""")),
    // iis (iis_logs.yaml): w3c delegation with the space-delimited header
    // (zone stripped first — the fixture time_local embeds ' +0000')
    Query("q_plugin_iis", (s, d) => {
      val csvRows = t(s, d).filter(ParseOps.isCsv)
      val line = regexp_replace(regexp_replace(col("text"), " \\+0000", ""), ",", " ")
      graft.plugins.Plugins.IisPlugin(s, Map(
        "header" -> "date level component code latency_ms"))(
        csvRows.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           replace(string_split(text, ',')[1], ' +0000', '') AS date,
           string_split(text, ',')[2] AS level,
           string_split(text, ',')[3] AS component,
           string_split(text, ',')[4] AS code,
           string_split(text, ',')[5] AS latency_ms,
           'iis' AS log_type
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    Query("q_plugin_cef", (s, d) => {
      // CEF-framed lines; severity alternates numeric ranges / text aliases
      val kv = t(s, d).filter(ParseOps.isKv)
      val sevStr = when(col("turn_idx") % 4 === 0, lit("2"))
        .when(col("turn_idx") % 4 === 1, lit("medium"))
        .when(col("turn_idx") % 4 === 2, lit("8"))
        .otherwise(lit("very-high"))
      // syslog-framed prefix (cef yaml:56-62): gotime 'Jan 02 15:04:05'
      val line = format_string("%s sec%d CEF:0|graft|engine|1.0|SIG%d|event %d|%s|src=10.0.0.%d",
        date_format(col("ts"), "MMM dd HH:mm:ss"), col("turn_idx") % 4,
        col("turn_idx") % 100, col("turn_idx"), sevStr, col("turn_idx") % 256)
      graft.plugins.Plugins.CefPlugin(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '0' AS version, 'graft' AS device_vendor, 'engine' AS device_product,
           'SIG' || CAST(turn_idx % 100 AS VARCHAR) AS signature_id,
           'event ' || CAST(turn_idx AS VARCHAR) AS name,
           CASE WHEN turn_idx % 4 = 0 THEN '2'
                WHEN turn_idx % 4 = 1 THEN 'medium'
                WHEN turn_idx % 4 = 2 THEN '8'
                ELSE 'very-high' END AS severity,
           'src=10.0.0.' || CAST(turn_idx % 256 AS VARCHAR) AS extensions,
           'sec' || CAST(turn_idx % 4 AS VARCHAR) AS hostname,
           date_trunc('second', ts) AS event_ts,
           CASE WHEN turn_idx % 4 = 0 THEN 9
                WHEN turn_idx % 4 = 1 THEN 13
                WHEN turn_idx % 4 = 2 THEN 17
                ELSE 21 END AS severity_number
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_plugin_kafka", (s, d) => {
      val c = t(s, d).filter(ParseOps.isCsv)
      val level = upper(element_at(split(col("text"), ","), 2))
      val line = format_string("[%s,%03d] %s broker event %d",
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("turn_idx") % 1000,
        level, col("turn_idx"))
      graft.plugins.Plugins.KafkaPlugin(s)(
        c.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') || ',' || printf('%03d', turn_idx % 1000) AS time,
           upper(string_split(text, ',')[2]) AS severity,
           'broker event ' || CAST(turn_idx AS VARCHAR) AS message,
           'kafka' AS log_type,
           CASE upper(string_split(text, ',')[2])
                WHEN 'ERROR' THEN 17 WHEN 'WARN' THEN 13 ELSE 9 END AS severity_number
           FROM t WHERE regexp_matches(text, '^\d{2}/')""")),
    // 53rd plugin: the portable operator pipeline of sql_server_logs
    // (router on the structured body's provider.name, log_type add,
    // save_log_record_original copy) over framed windows-event JSON lines
    Query("q_plugin_sql_server", (s, d) => {
      val provider = when(col("turn_idx") % 3 === 0, "MSSQLSERVER")
        .otherwise("Application Error")
      val line = format_string(
        """{"provider":{"name":"%s"},"event_id":%d,"message":"%s"}""",
        provider, col("turn_idx") % 1000, col("role"))
      graft.plugins.Plugins.SqlServerPlugin(s,
          Map("save_log_record_original" -> "true"))(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           'MSSQLSERVER' AS provider,
           turn_idx % 1000 AS event_id,
           role AS message,
           'sql_server' AS log_type,
           '{"provider":{"name":"MSSQLSERVER"},"event_id":' ||
             (turn_idx % 1000) || ',"message":"' || role || '"}'
             AS log_record_original
           FROM t WHERE turn_idx % 3 = 0""")),

    Query("q_plugin_redis", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val level = regexp_extract(col("text"), "level=(\\w+)", 1)
      val glyph = when(level === "error", "#").when(level === "warn", "*")
        .otherwise(".")
      val line = format_string("%d:M %s.000 %s redis event %d",
        col("turn_idx") % 32768,
        date_format(date_trunc("second", col("ts")), "dd MMM yyyy HH:mm:ss"),
        glyph, col("turn_idx"))
      graft.plugins.Plugins.RedisPlugin(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(turn_idx % 32768 AS BIGINT) AS pid,
           'M' AS role_char,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN '#' WHEN 'warn' THEN '*' ELSE '.' END AS glyph,
           'redis event ' || CAST(turn_idx AS VARCHAR) AS message,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 13 WHEN 'warn' THEN 9 ELSE 5 END AS severity_number
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_plugin_mysql", (s, d) => {
      val j = t(s, d).filter(ParseOps.isJson)
        .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
      val line = format_string("%sZ %d Query SELECT %d",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"),
        col("turn_idx") % 32768, col("p.status"))
      graft.plugins.Plugins.MysqlPlugin(s)(
        j.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z' AS timestamp,
           CAST(turn_idx % 32768 AS BIGINT) AS tid,
           'Query' AS command,
           'SELECT ' || CAST(status AS VARCHAR) AS message,
           'mysql.general' AS log_type
           FROM (
             SELECT conv_id, turn_idx, ts,
               CAST(json_extract(text, '$.status') AS INT) AS status
             FROM t WHERE starts_with(text, '{')
           )""")),
    Query("q_plugin_file", (s, d) =>
      graft.plugins.Plugins.FilePlugin(s,
        Map("log_paths" -> "/var/log/app.log"))(t(s, d)),
      Transcripts.withT(
        "SELECT conv_id, turn_idx, text AS body, 'file' AS log_type FROM t")),
    // data-driven template family (RegexPlugin factory) — representative
    // instances over framed lines; the rest are covered by the corpus gate
    Query("q_plugin_tomcat", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = regexp_extract(col("text"), "level=(\\w+)", 1)
      val sev = when(lvl === "error", "SEVERE").when(lvl === "warn", "WARNING")
        .otherwise("INFO")
      val line = format_string("%s.000 %s [main-%d] org.apache.Catalina request %d",
        date_format(col("ts"), "dd-MMM-yyyy HH:mm:ss"), sev,
        col("turn_idx") % 8, col("turn_idx"))
      graft.plugins.Plugins.registry("tomcat")(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%d-%b-%Y %H:%M:%S') || '.000' AS timestamp,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'SEVERE' WHEN 'warn' THEN 'WARNING'
                ELSE 'INFO' END AS severity,
           'main-' || CAST(turn_idx % 8 AS VARCHAR) AS thread,
           'org.apache.Catalina' AS source,
           'request ' || CAST(turn_idx AS VARCHAR) AS message,
           'tomcat' AS log_type,
           date_trunc('second', ts) AS event_ts,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_plugin_mongodb", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = regexp_extract(col("text"), "level=(\\w+)", 1)
      val sev = when(lvl === "error", "E").when(lvl === "warn", "W").otherwise("I")
      val line = format_string("%sZ %s NETWORK [conn%d] op %d",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS"), sev,
        col("turn_idx") % 100, col("turn_idx"))
      graft.plugins.Plugins.registry("mongodb")(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS timestamp,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'E' WHEN 'warn' THEN 'W' ELSE 'I' END AS severity,
           'NETWORK' AS component,
           'conn' || CAST(turn_idx % 100 AS VARCHAR) AS context,
           'op ' || CAST(turn_idx AS VARCHAR) AS message,
           'mongodb' AS log_type,
           date_trunc('millisecond', ts) AS event_ts,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE starts_with(text, 'level=')""")),
    // factory plugin over REAL fixture lines (no framing): the apache_http
    // template parses the combined access-log rows directly
    Query("q_plugin_apache_http", (s, d) =>
      graft.plugins.Plugins.registry("apache_http")(s)(
        t(s, d).filter(ParseOps.isNginx)
          .select(col("conv_id"), col("turn_idx"), col("text").as("line"))),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           regexp_extract(text, '$nginxPat', 1) AS remote_addr,
           '-' AS remote_host,
           regexp_extract(text, '$nginxPat', 2) AS remote_user,
           regexp_extract(text, '$nginxPat', 3) AS timestamp,
           regexp_extract(text, '$nginxPat', 4) AS method,
           regexp_extract(text, '$nginxPat', 5) AS path,
           regexp_extract(text, '$nginxPat', 6) AS protocol,
           CAST(regexp_extract(text, '$nginxPat', 7) AS BIGINT) AS status,
           CAST(regexp_extract(text, '$nginxPat', 8) AS BIGINT) AS body_bytes_sent,
           'apache_http' AS log_type,
           CAST(strptime(regexp_extract(text, '$nginxPat', 3),
                '%d/%b/%Y:%H:%M:%S %z') AS TIMESTAMP) AS event_ts
           FROM t WHERE regexp_matches(text, '^10\\.')""")),
    Query("q_plugin_cassandra", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = upper(regexp_extract(col("text"), "level=(\\w+)", 1))
      val line = format_string("%s [ReadStage-%d] %s,000 compaction %d",
        lvl, col("turn_idx") % 4,
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("turn_idx"))
      graft.plugins.Plugins.registry("apache_cassandra")(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           upper(regexp_extract(text, 'level=(\w+)', 1)) AS severity,
           'ReadStage-' || CAST(turn_idx % 4 AS VARCHAR) AS type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') || ',000' AS timestamp,
           'compaction ' || CAST(turn_idx AS VARCHAR) AS message,
           'apache_cassandra' AS log_type,
           date_trunc('second', ts) AS event_ts,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE starts_with(text, 'level=')""")),
    Query("q_plugin_tcp", (s, d) =>
      graft.plugins.Plugins.TcpPlugin(s, Map(
        "listen_port" -> "601", "add_attributes" -> "true"))(t(s, d)),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, text AS body, 'tcp' AS log_type,
           'tcp' AS net_transport, '0.0.0.0' AS net_host_ip,
           601 AS net_host_port
           FROM t""")),
    Query("q_plugin_udp", (s, d) =>
      graft.plugins.Plugins.UdpPlugin(s, Map("listen_port" -> "514"))(t(s, d)),
      Transcripts.withT(
        "SELECT conv_id, turn_idx, text AS body, 'udp' AS log_type FROM t")),
    // zookeeper (zookeeper_logs.yaml:62): optional myid long field, text
    // severity preset, strptime event_ts
    Query("q_plugin_zookeeper", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = upper(regexp_extract(col("text"), "level=(\\w+)", 1))
      val line = format_string("%s,123 [myid:%d] - %s  [main:ServerCnxn@%d] - packet %d",
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("turn_idx") % 5 + 1,
        lvl, col("turn_idx") % 900 + 100, col("turn_idx"))
      graft.plugins.Plugins.registry("zookeeper")(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
           CAST(turn_idx % 5 + 1 AS BIGINT) AS myid,
           upper(regexp_extract(text, 'level=(\w+)', 1)) AS severity,
           'main' AS thread, 'ServerCnxn' AS source,
           CAST(turn_idx % 900 + 100 AS BIGINT) AS line_no,
           'packet ' || CAST(turn_idx AS VARCHAR) AS message,
           'zookeeper' AS log_type,
           date_trunc('second', ts) AS event_ts,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE starts_with(text, 'level=')""")),
    // esxi (esxi_logs.yaml:71): syslog-framed numeric priority, YEAR-LESS
    // strptime layout '%b %d %H:%M:%S' resolved via default_year
    Query("q_plugin_esxi", (s, d) => {
      val line = format_string("<%d>%s esx%d Hostd: task %d",
        col("turn_idx") % 8 + 160, date_format(col("ts"), "MMM dd HH:mm:ss"),
        col("turn_idx") % 4, col("turn_idx"))
      graft.plugins.Plugins.registry("esxi")(s)(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(turn_idx % 8 + 160 AS BIGINT) AS priority,
           strftime(ts, '%b %d %H:%M:%S') AS timestamp,
           'esx' || CAST(turn_idx % 4 AS VARCHAR) AS hostname,
           'Hostd' AS service,
           'task ' || CAST(turn_idx AS VARCHAR) AS message,
           'esxi' AS log_type,
           date_trunc('second', ts) AS event_ts
           FROM t""")),
    // ubiquiti (ubiquiti_logs.yaml:52-55): gotime 'Jan 2 15:04:05' — day
    // WITHOUT zero pad
    Query("q_plugin_ubiquiti", (s, d) => {
      val line = format_string("<30>%s %s,UAP: hostapd:sta %d connected",
        date_format(col("ts"), "MMM d HH:mm:ss"),
        format_string("aa-bb-cc-%02d", col("turn_idx") % 100), col("turn_idx"))
      graft.plugins.Plugins.registry("ubiquiti")(s)(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '30' AS priority,
           strftime(ts, '%b ') || CAST(day(ts) AS VARCHAR) ||
             strftime(ts, ' %H:%M:%S') AS timestamp,
           printf('aa-bb-cc-%02d', turn_idx % 100) AS mac_address,
           'UAP' AS device, 'hostapd' AS process,
           'sta ' || CAST(turn_idx AS VARCHAR) || ' connected' AS message,
           'ubiquiti' AS log_type,
           date_trunc('second', ts) AS event_ts
           FROM t""")),
    // kubelet (kubelet_logs.yaml:61): klog framing, single-letter severity
    // classes through the mapping compiler
    Query("q_plugin_kubelet", (s, d) => {
      val kv = t(s, d).filter(ParseOps.isKv)
      val lvl = regexp_extract(col("text"), "level=(\\w+)", 1)
      val sev = when(lvl === "error", "E").when(lvl === "warn", "W").otherwise("I")
      val line = format_string("%s%s.123456 %d kubelet.go:%d] sync %d",
        sev, date_format(col("ts"), "MMdd HH:mm:ss"),
        col("turn_idx") % 9000 + 1000, col("turn_idx") % 2000, col("turn_idx"))
      graft.plugins.Plugins.registry("kubelet")(s)(
        kv.select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'E' WHEN 'warn' THEN 'W' ELSE 'I' END AS severity,
           strftime(ts, '%m%d %H:%M:%S') || '.123456' AS timestamp,
           CAST(turn_idx % 9000 + 1000 AS BIGINT) AS pid,
           'kubelet.go' AS src,
           CAST(turn_idx % 2000 AS VARCHAR) AS src_line,
           'sync ' || CAST(turn_idx AS VARCHAR) AS message,
           'kubelet' AS log_type,
           date_trunc('second', ts) + INTERVAL 123456 MICROSECOND AS event_ts,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 17 WHEN 'warn' THEN 13 ELSE 9 END AS severity_number,
           CASE regexp_extract(text, 'level=(\w+)', 1)
                WHEN 'error' THEN 'ERROR' WHEN 'warn' THEN 'WARN'
                ELSE 'INFO' END AS severity_text
           FROM t WHERE starts_with(text, 'level=')""")),
    // gotime layout 'Jan _2 15:04:05' (macos_logs.yaml:71-72): space-padded
    // day, year-less — event_ts parses via the gotime→DateTimeFormatter layer
    Query("q_plugin_macos", (s, d) => {
      val line = format_string("%s %2d %s host%d agentd[%d]: turn %d done",
        date_format(col("ts"), "MMM"), dayofmonth(col("ts")),
        date_format(col("ts"), "HH:mm:ss"),
        col("turn_idx") % 5, col("turn_idx") % 1000, col("turn_idx"))
      graft.plugins.Plugins.registry("macos")(s)(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           printf('%s %2d %s', strftime(ts, '%b'), day(ts),
                  strftime(ts, '%H:%M:%S')) AS timestamp,
           'host' || CAST(turn_idx % 5 AS VARCHAR) AS host,
           'agentd' AS process,
           CAST(turn_idx % 1000 AS BIGINT) AS pid,
           'turn ' || CAST(turn_idx AS VARCHAR) || ' done' AS message,
           'macos' AS log_type,
           date_trunc('second', ts) AS event_ts
           FROM t""")),
    // gotime layout 'Jan 02 15:04:05' (haproxy_logs.yaml:127-128)
    Query("q_plugin_haproxy", (s, d) => {
      val line = format_string("%s lb%d haproxy[%d]: connect turn %d",
        date_format(col("ts"), "MMM dd HH:mm:ss"),
        col("turn_idx") % 3, col("turn_idx") % 1000, col("turn_idx"))
      graft.plugins.Plugins.registry("haproxy")(s)(
        t(s, d).select(col("conv_id"), col("turn_idx"), line.as("line")))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(ts, '%b %d %H:%M:%S') AS timestamp,
           'lb' || CAST(turn_idx % 3 AS VARCHAR) AS host,
           'haproxy' AS process_name,
           CAST(turn_idx % 1000 AS BIGINT) AS pid,
           'connect turn ' || CAST(turn_idx AS VARCHAR) AS message,
           'haproxy' AS log_type,
           date_trunc('second', ts) AS event_ts
           FROM t""")),
    // metric-scan plugin (couchbase_metrics.yaml:34-156): scrape-as-scan →
    // keep-list → renames → regex combines → aggregate_labels sum → metadata
    Query("q_plugin_couchbase_metrics", (s, d) =>
      graft.plugins.Plugins.registry("couchbase_metrics")(s)(t(s, d)),
      Transcripts.withT(
        """, dp AS (
             SELECT (['kv_ops','kv_vb_curr_items','kv_num_vbuckets',
                      'kv_ep_cursor_memory_freed_bytes','kv_total_memory_used_bytes',
                      'kv_ep_num_value_ejects','kv_ep_mem_high_wat','kv_ep_mem_low_wat',
                      'kv_ep_tmp_oom_errors','kv_ep_oom_errors'])[turn_idx % 10 + 1]
                    AS prom_name,
                    CAST(turn_idx % 97 AS BIGINT) AS value, role AS instance
             FROM t),
           ren AS (
             SELECT CASE prom_name
               WHEN 'kv_ops' THEN 'couchbase.bucket.operation.count'
               WHEN 'kv_vb_curr_items' THEN 'couchbase.bucket.item.count'
               WHEN 'kv_num_vbuckets' THEN 'couchbase.bucket.vbucket.count'
               WHEN 'kv_ep_cursor_memory_freed_bytes' THEN 'couchbase.bucket.memory.usage.free'
               WHEN 'kv_total_memory_used_bytes' THEN 'couchbase.bucket.memory.usage.used'
               WHEN 'kv_ep_num_value_ejects' THEN 'couchbase.bucket.item.ejection.count'
               WHEN 'kv_ep_mem_high_wat' THEN 'couchbase.bucket.memory.high_water_mark.limit'
               WHEN 'kv_ep_mem_low_wat' THEN 'couchbase.bucket.memory.low_water_mark.limit'
               WHEN 'kv_ep_tmp_oom_errors' THEN 'couchbase.bucket.error.oom.count.recoverable'
               WHEN 'kv_ep_oom_errors' THEN 'couchbase.bucket.error.oom.count.unrecoverable'
             END AS m, value, instance FROM dp),
           comb AS (
             SELECT
               CASE WHEN regexp_matches(m, '^couchbase\.bucket\.error\.oom\.count\.(unrecoverable|recoverable)$')
                      THEN 'couchbase.bucket.error.oom.count'
                    WHEN regexp_matches(m, '^couchbase\.bucket\.memory\.usage\.(free|used)$')
                      THEN 'couchbase.bucket.memory.usage'
                    ELSE m END AS metric_name,
               CASE WHEN regexp_matches(m, '^couchbase\.bucket\.error\.oom\.count\.(unrecoverable|recoverable)$')
                      THEN regexp_extract(m, '^couchbase\.bucket\.error\.oom\.count\.(unrecoverable|recoverable)$', 1)
                    WHEN regexp_matches(m, '^couchbase\.bucket\.memory\.usage\.(free|used)$')
                      THEN regexp_extract(m, '^couchbase\.bucket\.memory\.usage\.(free|used)$', 1)
               END AS label,
               value, instance FROM ren)
           SELECT metric_name, instance, label,
             CAST(COUNT(*) AS BIGINT) AS n_datapoints,
             CAST(SUM(value) AS BIGINT) AS value_sum,
             metric_name IN ('couchbase.bucket.operation.count',
               'couchbase.bucket.item.ejection.count',
               'couchbase.bucket.error.oom.count') AS is_monotonic,
             CASE metric_name
               WHEN 'couchbase.bucket.operation.count' THEN '{operations}'
               WHEN 'couchbase.bucket.item.count' THEN '{items}'
               WHEN 'couchbase.bucket.vbucket.count' THEN '{vbuckets}'
               WHEN 'couchbase.bucket.memory.usage' THEN 'By'
               WHEN 'couchbase.bucket.item.ejection.count' THEN '{ejections}'
               WHEN 'couchbase.bucket.error.oom.count' THEN '{errors}'
               WHEN 'couchbase.bucket.memory.high_water_mark.limit' THEN 'By'
               WHEN 'couchbase.bucket.memory.low_water_mark.limit' THEN 'By'
             END AS unit
           FROM comb GROUP BY 1, 2, 3""")),
    Query("q_plugin_cockroachdb_metrics", (s, d) =>
      graft.plugins.Plugins.registry("cockroachdb_metrics")(s)(t(s, d)),
      Transcripts.withT(
        """, dp AS (
             SELECT (['round_trip_latency','sql_distsql_exec_latency',
                      'sql_exec_latency','sql_service_latency','txn_aborts',
                      'sql_query_count','txn_abandons','txn_commits',
                      'txn_durations','exec_error','timeseries_write_errors',
                      'sys_cpu_user_percent','sys_cpu_sys_percent',
                      'liveness_livenodes'])[turn_idx % 14 + 1] AS prom_name,
                    CAST(turn_idx % 97 AS BIGINT) AS value, role AS instance
             FROM t),
           ren AS (
             SELECT CASE prom_name
               WHEN 'round_trip_latency' THEN 'crdb.round_trip.latency'
               WHEN 'sql_distsql_exec_latency' THEN 'crdb.sql.distsql.exec.latency'
               WHEN 'sql_exec_latency' THEN 'crdb.sql.exec.latency'
               WHEN 'sql_service_latency' THEN 'crdb.sql.service.latency'
               WHEN 'txn_aborts' THEN 'crdb.transaction.aborts'
               WHEN 'sql_query_count' THEN 'crdb.sql.query.count'
               WHEN 'txn_abandons' THEN 'crdb.transaction.abandons'
               WHEN 'txn_commits' THEN 'crdb.transaction.commits.count'
               WHEN 'txn_durations' THEN 'crdb.transaction.durations.time'
               WHEN 'exec_error' THEN 'crdb.exec.errors.count'
               WHEN 'timeseries_write_errors' THEN 'crdb.timeseries.write.errors.count'
               WHEN 'sys_cpu_user_percent' THEN 'crdb.sys.cpu.user.utilization'
               WHEN 'sys_cpu_sys_percent' THEN 'crdb.sys.cpu.sys.utilization'
               WHEN 'liveness_livenodes' THEN 'crdb.liveness.livenodes'
             END AS metric_name, value, instance FROM dp)
           SELECT metric_name, instance, CAST(NULL AS VARCHAR) AS label,
             CAST(COUNT(*) AS BIGINT) AS n_datapoints,
             CAST(SUM(value) AS BIGINT) AS value_sum,
             metric_name IN ('crdb.sql.query.count',
               'crdb.transaction.commits.count', 'crdb.exec.errors.count')
               AS is_monotonic,
             CAST(NULL AS VARCHAR) AS unit
           FROM ren GROUP BY 1, 2""")),
    Query("q_plugin_oracledb_metrics", (s, d) =>
      graft.plugins.Plugins.registry("oracledb_metrics")(s)(t(s, d)),
      Transcripts.withT(
        """, dp AS (
             SELECT (['oracle.tablespace.size.free','oracle.tablespace.size.used',
                      'oracle.tablespace.count','oracle.backup.latest',
                      'oracle.process.count','oracle.process.limit',
                      'oracle.session.count','oracle.session.limit',
                      'oracle.process.pga_memory.size.used',
                      'oracle.process.pga_memory.size.free'])[turn_idx % 10 + 1]
                    AS m,
                    CAST(turn_idx % 97 AS BIGINT) AS value, role AS instance
             FROM t),
           comb AS (
             SELECT
               CASE WHEN regexp_matches(m, '^oracle\.tablespace\.size\.(free|used)$')
                      THEN 'oracle.tablespace.size'
                    WHEN regexp_matches(m, '^oracle\.process\.pga_memory\.size\.(used|free)$')
                      THEN 'oracle.process.pga_memory.size'
                    ELSE m END AS metric_name,
               CASE WHEN regexp_matches(m, '^oracle\.tablespace\.size\.(free|used)$')
                      THEN regexp_extract(m, '^oracle\.tablespace\.size\.(free|used)$', 1)
                    WHEN regexp_matches(m, '^oracle\.process\.pga_memory\.size\.(used|free)$')
                      THEN regexp_extract(m, '^oracle\.process\.pga_memory\.size\.(used|free)$', 1)
               END AS label,
               value, instance FROM dp)
           SELECT metric_name, instance, label,
             CAST(COUNT(*) AS BIGINT) AS n_datapoints,
             CAST(SUM(value) AS BIGINT) AS value_sum,
             false AS is_monotonic,
             CASE metric_name
               WHEN 'oracle.tablespace.size' THEN 'By'
               WHEN 'oracle.process.pga_memory.size' THEN 'By'
             END AS unit
           FROM comb GROUP BY 1, 2, 3""")),
    Query("q_snapshot_search", (s, d) =>
      graft.plugins.Snapshot.search(t(s, d), "search", "2024-01-10 00:00:00"),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, role, tool, text, ts
           FROM t WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
             AND (contains(text, 'search') OR contains(role, 'search')
                  OR contains(tool, 'search') OR contains(conv_id, 'search'))""")),
    // payload budget: running byte sum caps the snapshot
    Query("q_snapshot_budget", (s, d) =>
      graft.plugins.Snapshot.search(t(s, d), "search", "2024-01-10 00:00:00",
        maxPayloadBytes = 4096),
      Transcripts.withT(
        """SELECT conv_id, turn_idx, role, tool, text, ts FROM (
             SELECT conv_id, turn_idx, role, tool, text, ts,
               SUM(octet_length(CAST(text AS BLOB))) OVER (
                 ORDER BY ts, conv_id, turn_idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM t WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
               AND (contains(text, 'search') OR contains(role, 'search')
                    OR contains(tool, 'search') OR contains(conv_id, 'search'))
           ) WHERE cum <= 4096""")),
    // paged-pull source (splunksearchapireceiver receiver.go:124-206):
    // earliest/latest bounds, deterministic result offsets, page ids
    // snapshot-pinned table scan over the Iceberg-layout filesystem format:
    // two batches commit as two snapshots; a scan pinned to snapshot 1
    // reads exactly the first batch's files (time travel on DATA, not just
    // the commit log)
    Query("q_snapshot_read", (s, d) => {
      val tt = t(s, d).select(col("conv_id"), col("turn_idx"), col("role"))
      // the two-snapshot table builds ONCE per input CONTENT (the cache key
      // is the source-file fingerprint, so a regenerated table at the same
      // path rebuilds; the m5 suffix versions the METADATA FORMAT — a
      // table of an older layout fails its reads as corrupt metadata, so a
      // format bump must miss) and publishes atomically
      // (Transcripts.publishOnce) — repeated invocations time the PINNED
      // SCAN only
      val key = Transcripts.sourceFingerprint(d) + "_m5"
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_icb_cache_$key"
      // the staging dir is built whole and renamed onto root (constructing a
      // table at root would create metadata/ and block that rename)
      Transcripts.publishOnce(java.nio.file.Paths.get(root),
          "metadata/v00002.metadata.json") { stagePath =>
        val stage = stagePath.toString
        val st = new graft.pipeline.IcebergLikeTable(stage)
        // metadata records the FINAL paths; data stages under the temp root
        tt.filter(col("turn_idx") % 2 === 0)
          .write.mode("overwrite").parquet(s"$stage/data/even")
        st.commitPartition("even", 0L, Seq(s"$root/data/even"))
        tt.filter(col("turn_idx") % 2 =!= 0)
          .write.mode("overwrite").parquet(s"$stage/data/odd")
        st.commitPartition("odd", 0L, Seq(s"$root/data/odd"))
      }
      val table = new graft.pipeline.IcebergLikeTable(root)
      // head sees both batches; the scan pinned to snapshot 1 must NOT
      // see batch 2
      require(table.committed() == Set("even", "odd"))
      s.read.schema(tt.schema).parquet(table.dataFilesAsOf(1L): _*)
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx, role FROM t WHERE turn_idx % 2 = 0""")),

    // awss3eventreceiver notification plane: each transcript row emits one
    // SQS-shaped message announcing its 50-turn group's object (keys
    // URL-ENCODED as S3 does for '=') plus a non-created event that must
    // filter out; duplicate announcements collapse to DISTINCT objects
    // (at-least-once SQS), key/bucket regex filters apply
    Query("q_s3_events", (s, d) => {
      val g = (col("turn_idx") % 5).cast("long")
      val body = format_string(
        """{"Records":[{"eventName":"ObjectCreated:Put","s3":{"bucket":{"name":"graft-bucket"},"object":{"key":"logs/%s/g%%3D%d/part.json","size":%d}}},{"eventName":"ObjectRemoved:Delete","s3":{"bucket":{"name":"graft-bucket"},"object":{"key":"logs/del.json","size":0}}}]}""",
        col("conv_id"), g, g)
      graft.pipeline.S3Events.objectCreatedKeys(
        t(s, d).select(body.as("body")),
        graft.pipeline.S3Events.EventFilter(
          bucketNameRegex = Some("^graft-"),
          objectKeyRegex = Some("part\\.json$")))
    },
      Transcripts.withT(
        """SELECT DISTINCT 'graft-bucket' AS bucket,
           'logs/' || conv_id || '/g=' || (turn_idx % 5) || '/part.json' AS key,
           CAST(turn_idx % 5 AS BIGINT) AS size
           FROM t""")),

    Query("q_paged_scan", (s, d) => {
      val spec = graft.pipeline.PagedSearch.SearchSpec(
        "search", "2024-01-05T00:00", "2024-01-20T00:00",
        eventBatchSize = 500, limit = 100000)
      graft.pipeline.PagedSearch.pagedResults(t(s, d), spec)
        .select(col("conv_id"), col("turn_idx"),
          col("__offset").as("offset"), col("page"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(rn - 1 AS BIGINT) AS offset,
           CAST((rn - 1) // 500 AS BIGINT) AS page
           FROM (SELECT conv_id, turn_idx,
                   row_number() OVER (ORDER BY ts, conv_id, turn_idx) AS rn
                 FROM t
                 WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
                   AND ts <= TIMESTAMP '2024-01-20 00:00:00'
                   AND contains(text, 'search'))
           WHERE rn - 1 < 100000""")),
    // rehydration entity-path parsing + inclusive time-range filter
    Query("q_rehydration_range", (s, d) => {
      // ONE date_format renders the whole partition prefix per row
      val path = concat(
        date_format(col("ts"), "'logs/year='yyyy'/month='MM'/day='dd'/hour='HH"),
        format_string("/logs_%d.json", col("turn_idx")))
      Transcripts.entityParsed(t(s, d), path) // ONE regex pass per path
        .select(col("conv_id"), col("turn_idx"),
          date_format(Transcripts.entityTimeFrom(col("g")), "yyyy-MM-dd HH:mm")
            .as("entity_time"),
          Transcripts.entitySignalFrom(col("g")).as("signal"))
        .filter(col("entity_time") >= "2024-01-08 00:00" &&
          col("entity_time") <= "2024-01-12 23:00")
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS entity_time,
           'logs' AS signal
           FROM t WHERE date_trunc('hour', ts) >= TIMESTAMP '2024-01-08 00:00:00'
             AND date_trunc('hour', ts) <= TIMESTAMP '2024-01-12 23:00:00'""")),
    // OTTL statement forms (transformprocessor): set-where over a map key,
    // conditional delete_key, global replace_pattern on the body
    Query("q_ottl_set", (s, d) => {
      val tt = t(s, d).withColumn("attributes",
        map(lit("env"), lit("staging"), lit("role"), col("role"),
          lit("tool"), col("tool")))
      val out = graft.expr.Ottl(Seq(
        """set(attributes["env"], 'prod') where role == 'assistant'""",
        """delete_key(attributes, 'tool') where tool == ''""",
        """replace_pattern(body, 'user[0-9]+', '***')"""
      ), tt.columns.toSet)(tt)
      out.select(col("conv_id"), col("turn_idx"),
        to_json(map_from_entries(array_sort(map_entries(col("attributes")))))
          .as("attrs_json"),
        col("text").as("body"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           '{"env":"' || CASE WHEN role = 'assistant' THEN 'prod' ELSE 'staging' END ||
           '","role":"' || role ||
           CASE WHEN tool <> '' THEN '","tool":"' || tool || '"}' ELSE '"}' END AS attrs_json,
           regexp_replace(text, 'user[0-9]+', '***', 'g') AS body
           FROM t""")),
    Query("q_expr_filter", (s, d) => {
      val tt = t(s, d)
      tt.filter(graft.expr.ExprLang.boolExpr(
          "role == 'tool' and tool startsWith 'search' or body contains 'latency_ms'",
          tt.columns.toSet + "body"))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx, role, tool
           FROM t WHERE (role = 'tool' AND starts_with(tool, 'search'))
             OR contains(text, 'latency_ms')""")),
    // value-expression arithmetic (expr/expression.go:134-137: the full
    // expr-lang grammar; `/` is float division, `%` stays integral) — the
    // metricextract `span_duration_ms * 2` shape
    Query("q_expr_arithmetic", (s, d) => {
      val tt = t(s, d)
      val cols = tt.columns.toSet
      def v(src: String) = graft.expr.ExprLang.valueExpr(src, cols)
      tt.select(col("conv_id"), col("turn_idx"),
        v("turn_idx * 2 + 1").cast("long").as("v_mul_add"),
        v("(turn_idx + 7) % 5").cast("long").as("v_mod"),
        v("turn_idx / 4").as("v_div"),
        v("-turn_idx + 100").cast("long").as("v_neg"),
        v("(turn_idx - 1) * (turn_idx + 1)").cast("long").as("v_paren"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CAST(turn_idx * 2 + 1 AS BIGINT) AS v_mul_add,
           CAST((turn_idx + 7) % 5 AS BIGINT) AS v_mod,
           turn_idx / 4 AS v_div,
           CAST(-turn_idx + 100 AS BIGINT) AS v_neg,
           CAST((turn_idx - 1) * (turn_idx + 1) AS BIGINT) AS v_paren
           FROM t""")),
    // OTTL converter breadth (expr/ottl.go:92-100 registers the full
    // upstream StandardConverters set) — hash/string/case/time/url families
    Query("q_ottl_converters", (s, d) => {
      val tt = t(s, d)
        .withColumn("camel", concat(lit("Conv"), initcap(col("role")), lit("Turn")))
        .withColumn("url", format_string("https://api.example.com/%s/%d?x=%d",
          col("role"), col("turn_idx"), col("turn_idx") % 7))
      val out = graft.expr.Ottl(Seq(
        "set(sha, SHA256(role))",
        "set(digest, MD5(tool))",
        "set(hexed, Hex(role))",
        "set(kv, Format('%s=%s', [role, tool]))",
        "set(trimmed, TrimSpace(Concat('  ', role, ' ')))",
        "set(snake, ConvertCase(camel, 'snake'))",
        "set(upper_tool, ConvertCase(tool, 'upper'))",
        "set(hr, Hour(timestamp))",
        "set(dy, Day(timestamp))",
        "set(epoch_s, UnixSeconds(timestamp))",
        "set(toks, Split(body, ' '))"
      ), tt.columns.toSet)(tt)
      val uCols = out.columns.toSet
      def u(src: String) = graft.expr.ExprLang.valueExpr(src, uCols)
      out.select(col("conv_id"), col("turn_idx"), col("sha"), col("digest"),
        col("hexed"), col("kv"), col("trimmed"), col("snake"), col("upper_tool"),
        col("hr"), col("dy"), col("epoch_s"),
        array_join(col("toks"), "|").as("toks_joined"),
        u("URL(url)").getField("host").as("url_host"),
        u("URL(url)").getField("path").as("url_path"),
        u("URL(url)").getField("query").as("url_query"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           sha256(role) AS sha,
           md5(tool) AS digest,
           lower(hex(role)) AS hexed,
           printf('%s=%s', role, tool) AS kv,
           role AS trimmed,
           lower(regexp_replace(
             'Conv' || upper(substr(role,1,1)) || substr(role,2) || 'Turn',
             '([a-z0-9])([A-Z])', '\1_\2', 'g')) AS snake,
           upper(tool) AS upper_tool,
           CAST(hour(ts) AS BIGINT) AS hr,
           CAST(day(ts) AS BIGINT) AS dy,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           array_to_string(string_split(text, ' '), '|') AS toks_joined,
           'api.example.com' AS url_host,
           printf('/%s/%d', role, turn_idx) AS url_path,
           printf('x=%d', turn_idx % 7) AS url_query
           FROM t""")),
    // converter tail: ParseKeyValue, Duration, Base64Decode, ParseCSV,
    // MergeMaps (upsert/insert/update strategies) — upstream
    // ottlfuncs.StandardConverters next tier (expr/ottl.go:92-100)
    Query("q_ottl_converters2", (s, d) => {
      val tt = t(s, d)
        .withColumn("dur_str", format_string("%dh%dm%ds",
          col("turn_idx") % 5, col("turn_idx") % 60, col("turn_idx") % 60))
        .withColumn("dur_ms", format_string("%dms", col("turn_idx") % 1000))
        .withColumn("b64", base64(col("role").cast("binary")))
        .withColumn("csv_line", format_string("%s,%s,%d",
          col("role"), col("tool"), col("turn_idx") % 7))
      val out = graft.expr.Ottl(Seq(
        "set(kvmap, ParseKeyValue(text))",
        "set(nanos, Duration(dur_str))",
        "set(ms_nanos, Duration(dur_ms))",
        "set(bad_dur, Duration(role))",
        "set(decoded, Base64Decode(b64))",
        "set(csvmap, ParseCSV(csv_line, 'role,tool,idx'))",
        "set(m1, ParseKeyValue(Format('a=%s b=%s', [role, tool])))",
        "set(m2, ParseKeyValue(Format('b=zz c=%s', [role])))",
        "set(up, MergeMaps(m1, m2, 'upsert'))",
        "set(ins, MergeMaps(m1, m2, 'insert'))",
        "set(upd, MergeMaps(m1, m2, 'update'))",
        "set(dur_hours, Hours(Duration(dur_str)))",
        "set(dur_millis, Milliseconds(Duration(dur_str)))",
        "set(snake2, ToSnakeCase(Concat('HTTP', role, 'Turn')))"
      ), tt.columns.toSet)(tt)
      out.select(col("conv_id"), col("turn_idx"),
        col("kvmap").getItem("component").as("kv_component"),
        col("nanos"), col("ms_nanos"), col("bad_dur"),
        col("decoded"),
        col("csvmap").getItem("tool").as("csv_tool"),
        col("up").getItem("b").as("up_b"),
        col("up").getItem("c").as("up_c"),
        col("ins").getItem("b").as("ins_b"),
        col("ins").getItem("c").as("ins_c"),
        col("upd").getItem("b").as("upd_b"),
        col("upd").getItem("c").as("upd_c"),
        size(col("upd")).as("upd_size"),
        col("dur_hours"), col("dur_millis"), col("snake2"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE WHEN starts_with(text, 'level=')
                THEN regexp_extract(text, 'component=([^ ]*)', 1) END AS kv_component,
           CAST((turn_idx%5)*3600 + (turn_idx%60)*60 + (turn_idx%60) AS BIGINT)
             * 1000000000 AS nanos,
           CAST(turn_idx%1000 AS BIGINT) * 1000000 AS ms_nanos,
           CAST(NULL AS BIGINT) AS bad_dur,
           role AS decoded,
           tool AS csv_tool,
           'zz' AS up_b, role AS up_c,
           tool AS ins_b, role AS ins_c,
           'zz' AS upd_b, CAST(NULL AS VARCHAR) AS upd_c,
           2 AS upd_size,
           CAST(CAST((turn_idx%5)*3600 + (turn_idx%60)*60 + turn_idx%60 AS BIGINT)
             * 1000000000 AS DOUBLE) / CAST(3600000000000 AS DOUBLE) AS dur_hours,
           CAST((turn_idx%5)*3600 + (turn_idx%60)*60 + turn_idx%60
             AS BIGINT) * 1000 AS dur_millis,
           lower(regexp_replace(regexp_replace('HTTP' || role || 'Turn',
             '([A-Z]+)([A-Z][a-z])', '\1_\2', 'g'),
             '([a-z0-9])([A-Z])', '\1_\2', 'g')) AS snake2
           FROM t""")),
    // converter tail batch 3: Decode, Weekday, Unix round-trip, TraceID/
    // SpanID validation, Sort, Is* predicates, simplified-XML family,
    // grok extraction, ToKeyValueString, Flatten prefixing, UserAgent
    Query("q_ottl_converters3", (s, d) => {
      val tt = t(s, d)
        .withColumn("b64", base64(col("tool").cast("binary")))
        .withColumn("xml_line", format_string("<e><role>%s</role><idx>%d</idx></e>",
          col("role"), col("turn_idx") % 100))
        .withColumn("grok_line", format_string("user %s from 10.0.%d.%d level INFO",
          col("role"), col("turn_idx") % 8, col("turn_idx") % 256))
        .withColumn("num_str", format_string("%d", col("turn_idx") % 1000))
        .withColumn("bool_str",
          when(col("turn_idx") % 2 === 0, lit("true")).otherwise(lit("x")))
        .withColumn("agent_str", format_string("agent%d/2.%d",
          col("turn_idx") % 9, col("turn_idx") % 30))
      val out = graft.expr.Ottl(Seq(
        "set(decoded, Decode(b64, 'base64'))",
        "set(wd, Weekday(timestamp))",
        "set(sorted, Sort(Split(grok_line, ' '), 'desc'))",
        "set(tid, TraceID(Substring(MD5(body), 0, 32)))",
        "set(sid, SpanID(Substring(MD5(body), 0, 16)))",
        "set(bad_tid, TraceID(role))",
        "set(is_i, IsInt(num_str))",
        "set(is_i2, IsInt(role))",
        "set(is_d, IsDouble(Format('%s.5', [num_str])))",
        "set(is_b, IsBool(bool_str))",
        "set(xmlmap, ParseSimplifiedXML(xml_line))",
        "set(noxml, RemoveXML(xml_line, '/e/idx'))",
        "set(withxml, InsertXML(xml_line, '/e', '<z>1</z>'))",
        "set(grokmap, ExtractGrokPatterns(grok_line, " +
          "'user %{USER:guser} from %{IP:gip} level %{LOGLEVEL:glvl}'))",
        "set(kvs, ToKeyValueString(ParseKeyValue(Format('b=%s a=%s', " +
          "[role, num_str])), '=', ' ', 'true'))",
        "set(flat, Flatten(ParseKeyValue(Format('k=%s', [role])), 'p'))",
        "set(ua, UserAgent(agent_str))",
        "set(unix_rt, UnixSeconds(Unix(1700000000)))"
      ), tt.columns.toSet)(tt)
      out.select(col("conv_id"), col("turn_idx"),
        col("decoded"), col("wd"),
        array_join(col("sorted"), ",").as("sorted_desc"),
        col("tid"), col("sid"), col("bad_tid"),
        col("is_i"), col("is_i2"), col("is_d"), col("is_b"),
        col("xmlmap").getItem("role").as("xml_role"),
        col("xmlmap").getItem("idx").as("xml_idx"),
        col("noxml"), col("withxml"),
        col("grokmap").getItem("guser").as("guser"),
        col("grokmap").getItem("gip").as("gip"),
        col("grokmap").getItem("glvl").as("glvl"),
        col("kvs"),
        col("flat").getItem("p.k").as("flat_pk"),
        col("ua").getItem("user_agent.name").as("ua_name"),
        col("ua").getItem("user_agent.version").as("ua_version"),
        col("unix_rt"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           tool AS decoded,
           dayofweek(ts) AS wd,
           array_to_string(list_sort(string_split(
             'user ' || role || ' from 10.0.' || (turn_idx%8) || '.' ||
             (turn_idx%256) || ' level INFO', ' '), 'DESC'), ',') AS sorted_desc,
           md5(text) AS tid,
           substr(md5(text), 1, 16) AS sid,
           CAST(NULL AS VARCHAR) AS bad_tid,
           true AS is_i,
           false AS is_i2,
           true AS is_d,
           (turn_idx % 2 = 0) AS is_b,
           role AS xml_role,
           CAST(turn_idx % 100 AS VARCHAR) AS xml_idx,
           '<e><role>' || role || '</role></e>' AS noxml,
           '<e><role>' || role || '</role><idx>' || (turn_idx % 100) ||
             '</idx><z>1</z></e>' AS withxml,
           role AS guser,
           '10.0.' || (turn_idx % 8) || '.' || (turn_idx % 256) AS gip,
           'INFO' AS glvl,
           'a=' || (turn_idx % 1000) || ' b=' || role AS kvs,
           role AS flat_pk,
           'agent' || (turn_idx % 9) AS ua_name,
           '2.' || (turn_idx % 30) AS ua_version,
           CAST(1700000000 AS BIGINT) AS unix_rt
           FROM t""")),

    // converter tail batch 4: the round-6 de-exclusions. Murmur3Hash /
    // Murmur3Hash128 are now the CANONICAL seed-0 digests (hex of the
    // little-endian encoding, the upstream ottlfuncs contract; oracle CASE
    // constants come from the same vector-locked implementation), and
    // IsString/IsList/IsMap answer the pcommon dynamic-type predicates from
    // the static column type — all five previously documented-excluded.
    Query("q_ottl_converters4", (s, d) => {
      val tt = t(s, d).withColumn("kvline",
        format_string("a=%s b=%d", col("role"), col("turn_idx") % 50))
      val out = graft.expr.Ottl(Seq(
        "set(mh, Murmur3Hash(role))",
        "set(mh128, Murmur3Hash128(role))",
        "set(is_s, IsString(body))",
        "set(is_s2, IsString(turn_idx))",
        "set(is_l, IsList(Split(body, ' ')))",
        "set(is_l2, IsList(body))",
        "set(is_m, IsMap(ParseKeyValue(kvline)))",
        "set(is_m2, IsMap(turn_idx))"
      ), tt.columns.toSet)(tt)
      out.select(col("conv_id"), col("turn_idx"), col("mh"), col("mh128"),
        col("is_s"), col("is_s2"), col("is_l"), col("is_l2"),
        col("is_m"), col("is_m2"))
    },
      // murmur CASE constants are canonical MurmurHash3 seed-0 digests of
      // the four role literals (hex, little-endian byte order) — computed
      // by an independent pure-Python implementation validated against the
      // published "hello"/"" vectors, same contract Murmur3Hex locks in
      // ExprStreamSpec
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE role WHEN 'user' THEN '0d3d9495'
                     WHEN 'assistant' THEN '5db9ab8a'
                     WHEN 'tool' THEN '266479bd'
                     ELSE '7499ea7c' END AS mh,
           CASE role WHEN 'user' THEN 'a0a674d8430f81a2e153ba0856e0d965'
                     WHEN 'assistant' THEN 'b4ce556dfffea39f6da83067edec636f'
                     WHEN 'tool' THEN '448617326ff00cdfd9a558e538943964'
                     ELSE '8befba81e7d4de1b6af807800d36a573' END AS mh128,
           true AS is_s, false AS is_s2,
           true AS is_l, false AS is_l2,
           true AS is_m, false AS is_m2
           FROM t""")),

    // full recombine config surface: FIRST-entry batching (each 'F|' row
    // STARTS a batch, inverse of q_recombine's last-entry mode),
    // combine_with '|', max_batch_size force-flush chunks, and
    // overwrite_with newest picking the anchor entry's fields
    Query("q_recombine_config", (s, d) => {
      val part = t(s, d).filter(ParseOps.isMultiline)
      ParseOps.recombineConfigured(part, ParseOps.RecombineConfig(
        isFirstEntry = Some(col("text").startsWith("F|")),
        combineWith = "|",
        maxBatchSize = 3,
        overwriteWith = "newest"))
    },
      Transcripts.withT(
        """SELECT conv_id, session_id, chunk, COUNT(*) AS n_parts,
           MIN(turn_idx) AS first_turn, MAX(turn_idx) AS last_turn,
           arg_max(role, turn_idx) AS anchor_role,
           string_agg(text, '|' ORDER BY turn_idx) AS combined
           FROM (
             SELECT *, CAST((rk - 1) // 3 AS BIGINT) AS chunk FROM (
               SELECT conv_id, turn_idx, text, role, session_id,
                 ROW_NUMBER() OVER (PARTITION BY conv_id, session_id
                   ORDER BY turn_idx) AS rk
               FROM (
                 SELECT conv_id, turn_idx, text, role,
                   CAST(COALESCE(SUM(CASE WHEN starts_with(text, 'F|')
                       THEN 1 ELSE 0 END)
                     OVER (PARTITION BY conv_id ORDER BY turn_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     0) AS BIGINT) AS session_id
                 FROM t WHERE regexp_matches(text, '^[PF]\|')
               )
             )
           ) GROUP BY conv_id, session_id, chunk""")),

    // editor statement tail: append (array growth + where gate),
    // replace_match / replace_all_matches (whole-value GLOB),
    // keep_matching_keys, flatten editor
    Query("q_ottl_editors", (s, d) => {
      val tt = t(s, d)
      val out = graft.expr.Ottl(Seq(
        "set(kvmap, ParseKeyValue(Format('env=%s owner=%s', [role, tool])))",
        "append(tags, 'turn', role)",
        "append(tags, tool) where tool != ''",
        "replace_match(body, 'level=*', 'structured')",
        "replace_all_matches(kvmap, 'code_*', 'code')",
        "keep_matching_keys(kvmap, '^(env|owner)$')",
        "flatten(kvmap, 'p')"
      ), tt.columns.toSet)(tt)
      out.select(col("conv_id"), col("turn_idx"),
        array_join(col("tags"), ",").as("tags_joined"),
        col("text").as("body_out"),
        col("kvmap").getItem("p.env").as("kv_env"),
        col("kvmap").getItem("p.owner").as("kv_owner"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           'turn,' || role ||
             CASE WHEN tool <> '' THEN ',' || tool ELSE '' END AS tags_joined,
           CASE WHEN regexp_matches(text, '^level=.*$')
                THEN 'structured' ELSE text END AS body_out,
           role AS kv_env,
           CASE WHEN regexp_matches(tool, '^code_')
                THEN 'code' ELSE tool END AS kv_owner
           FROM t""")),

    Query("q_groupby_attrs", (s, d) =>
      EnrichOps.transpose(t(s, d))
        .groupBy(col("host")).agg(count(lit(1)).as("n_records")),
      Transcripts.withT(
        """SELECT host, COUNT(*) AS n_records FROM (
             SELECT CASE WHEN role = 'tool' THEN 'tool-' || tool
                    ELSE 'host-' || string_split(conv_id, '-')[1] END AS host
             FROM t
           ) GROUP BY host""")),
    // true record→resource regrouping: the digest proves WHICH records
    // landed under each new resource, not just how many
    Query("q_groupby_attrs_regroup", (s, d) =>
      EnrichOps.groupByAttrsRegroup(t(s, d)),
      Transcripts.withT(
        """SELECT host, COUNT(*) AS n_records,
           md5(string_agg(conv_id || ':' || CAST(turn_idx AS VARCHAR), ','
             ORDER BY conv_id, turn_idx)) AS records_digest
           FROM (
             SELECT conv_id, turn_idx,
               CASE WHEN role = 'tool' THEN 'tool-' || tool
                    ELSE 'host-' || string_split(conv_id, '-')[1] END AS host
             FROM t
           ) GROUP BY host""")),
    // regex_parser on_error: send (stanza): unparseable records pass through
    // with null parsed fields instead of being dropped
    Query("q_parse_onerror_send", (s, d) =>
      t(s, d).withColumn("g", graft.functions.RegexExtractStruct.of(col("text"),
          ParseOps.NginxPattern, ParseOps.NginxFields))
        .select(col("conv_id"), col("turn_idx"),
          col("g").isNotNull.as("parsed"),
          col("g.status").cast("int").as("status")),
      Transcripts.withT(
        s"""SELECT conv_id, turn_idx,
           regexp_matches(text, '$nginxPat') AS parsed,
           CASE WHEN regexp_matches(text, '$nginxPat')
                THEN CAST(regexp_extract(text, '$nginxPat',
                  ['remote_addr','remote_user','time_local','method','path',
                   'protocol','status','body_bytes_sent','http_referer',
                   'http_user_agent'])['status'] AS INT)
           END AS status
           FROM t""")),
    // OCSF type coercion table (type_coerce.go:25-42): integer/float/boolean
    // cast-or-original, string→epoch-ms timestamps (:130-152), epoch-ms→
    // RFC3339 datetimes (:154-169)
    Query("q_coerce", (s, d) => {
      val j = t(s, d).filter(ParseOps.isJson)
        .withColumn("p", from_json(col("text"), ParseOps.JsonBodySchema))
      j.select(col("conv_id"), col("turn_idx"),
        EnrichOps.coerceOcsf(col("p.path"), "long").as("path_or_long"),
        EnrichOps.coerceOcsf(col("p.status"), "integer").as("status_long_str"),
        EnrichOps.coerceOcsf(
          concat(col("p.latency_ms"), lit(".25")), "float").as("float_canonical"),
        EnrichOps.coerceOcsf(col("p.path"), "float").as("float_or_original"),
        EnrichOps.coerceOcsf(
          when(col("p.status") >= 400, "T").otherwise("0"), "boolean").as("bool_canonical"),
        EnrichOps.coerceOcsf(
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"), "timestamp").as("ts_epoch_ms"),
        EnrichOps.coerceOcsf(
          (col("p.latency_ms") + 1704067200000L), "datetime").as("dt_rfc3339"))
    },
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE WHEN regexp_matches(path, '^-?\d+$')
                THEN CAST(CAST(path AS BIGINT) AS VARCHAR) ELSE path END AS path_or_long,
           CAST(status AS VARCHAR) AS status_long_str,
           CAST(CAST(CAST(latency_ms AS VARCHAR) || '.25' AS DOUBLE) AS VARCHAR) AS float_canonical,
           path AS float_or_original,
           CASE WHEN status >= 400 THEN 'true' ELSE 'false' END AS bool_canonical,
           CAST(CAST(epoch_ms(date_trunc('second', ts)) AS BIGINT) AS VARCHAR) AS ts_epoch_ms,
           strftime(make_timestamp((latency_ms + 1704067200000) * 1000),
             '%Y-%m-%dT%H:%M:%S') || 'Z' AS dt_rfc3339
           FROM (
             SELECT conv_id, turn_idx, ts,
               json_extract_string(text, '$.path') AS path,
               CAST(json_extract(text, '$.status') AS INT) AS status,
               CAST(json_extract(text, '$.latency_ms') AS BIGINT) AS latency_ms
             FROM t WHERE starts_with(text, '{')
           )""")),
    // googlecloudexporter appendLogHost (exporter.go:79-90)
    Query("q_append_host", (s, d) =>
      Router.appendHost(t(s, d), "default-host")
        .select(col("conv_id"), col("turn_idx"), col("host")),
      Transcripts.withT(
        """SELECT conv_id, turn_idx,
           CASE WHEN role = 'tool' THEN 'tool-' || tool
                ELSE 'default-host' END AS host
           FROM t""")),
    // sampling middle path: hash-gated (md5 of the record key) —
    // deterministic AND engine-reproducible, so fully oracle-checked
    Query("q_sampling_mid", (s, d) =>
      AggOps.sampleHashed(t(s, d), col("role") === "user", 0.5)
        .groupBy(col("role")).agg(count(lit(1)).as("n")),
      Transcripts.withT(
        """SELECT role, COUNT(*) AS n FROM t
           WHERE NOT (role = 'user' AND
             (CAST('0x' || substr(md5(conv_id || ':' || CAST(turn_idx AS VARCHAR)), 1, 15) AS BIGINT) % 1000000) < 500000)
           GROUP BY role""")),

    // --------------- training-data ops (documents/embeddings) ---------------
    Query("q_doc_token_count", (s, d) =>
      TextAnalysis.tokenCounts(TextAnalysis.documents(s, d)),
      """SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish_tokens,
           length(text) AS n_chars_actual
           FROM documents"""),
    Query("q_doc_quality", (s, d) =>
      TextAnalysis.qualityScore(TextAnalysis.documents(s, d)),
      """SELECT doc_id, n_tokens, n_punct, n_stopwords, n_upper,
           CAST(n_punct * 1000 // greatest(n_tokens, 1) AS INT) AS punct_per_1k_tokens,
           CAST(n_stopwords * 1000 // greatest(n_tokens, 1) AS INT) AS stop_per_1k_tokens,
           (n_tokens >= 5 AND n_tokens <= 100000 AND n_stopwords >= 1) AS is_quality
           FROM (
             SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct,
               len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is)\b')) AS n_stopwords,
               len(regexp_extract_all(text, '[A-Z]')) AS n_upper
             FROM documents
           )"""),
    Query("q_doc_langid", (s, d) =>
      TextAnalysis.langId(TextAnalysis.documents(s, d)),
      """SELECT doc_id, lang AS labeled_lang,
           score_en, score_es, score_de, score_fr,
           CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
                WHEN score_de >= score_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
           FROM (
             SELECT doc_id, lang,
               len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS score_en,
               len(regexp_extract_all(text, '\b(el|la|de|los|las)\b')) AS score_es,
               len(regexp_extract_all(text, '\b(der|die|und|das|ein)\b')) AS score_de,
               len(regexp_extract_all(text, '\b(le|les|et|une|des)\b')) AS score_fr
             FROM documents
           )"""),
    Query("q_doc_fingerprint", (s, d) =>
      TextAnalysis.fingerprint(TextAnalysis.documents(s, d)),
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(length(w) * 17 + ascii(w) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
           FROM documents"""),
    Query("q_doc_exact_dedup", (s, d) =>
      Dedup.exactDedup(TextAnalysis.documents(s, d)),
      """WITH d AS (
             SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
             UNION ALL SELECT doc_id + 200000, text || ' appended' FROM documents WHERE doc_id % 10 = 1
           )
           SELECT md5(text) AS content_md5, COUNT(*) AS n_copies,
             MIN(doc_id) AS keep_doc_id
           FROM d GROUP BY 1"""),
    Query("q_doc_jaccard_pairs", (s, d) =>
      Dedup.ngramJaccardPairs(TextAnalysis.documents(s, d)),
      """WITH sh AS (
             SELECT doc_id,
               list_distinct(list_transform(
                 range(greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' '))) AS s
             FROM (
               SELECT doc_id, text FROM documents WHERE doc_id % 10 = 1
               UNION ALL
               SELECT doc_id + 200000, text || ' appended' FROM documents WHERE doc_id % 10 = 1
             )
           )
           SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             len(list_intersect(a.s, b.s)) AS n_common,
             len(list_distinct(list_concat(a.s, b.s))) AS n_union,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
               len(list_distinct(list_concat(a.s, b.s))) AS jaccard
           FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 200000
           WHERE a.doc_id < 100000"""),
    // md5 hash family: the LSH pipelines are END-TO-END oracle-checked
    // (DuckDB reproduces signatures, banding, capped pair generation, and
    // verification bit-for-bit)
    Query("q_doc_minhash_pairs", (s, d) =>
      Dedup.minHashDedupPairs(TextAnalysis.documents(s, d)),
      Dedup.minHashOracleSql()),
    Query("q_doc_simhash_neardups", (s, d) =>
      Dedup.simHashNearDups(TextAnalysis.documents(s, d)),
      Dedup.simHashOracleSql()),
    // transitive closure over the verified pair graph (min-label
    // propagation) and the surviving one-rep-per-cluster corpus
    Query("q_doc_dup_clusters", (s, d) =>
      Dedup.dupClusters(
        Dedup.minHashDedupPairs(TextAnalysis.documents(s, d))),
      Dedup.dupClustersOracleSql()),
    Query("q_doc_cluster_dedup", (s, d) =>
      Dedup.clusterDedupKeep(TextAnalysis.documents(s, d)),
      Dedup.clusterDedupKeepOracleSql()),
    // deterministic salted-hash train/val/test assignment
    Query("q_doc_splits", (s, d) =>
      TextAnalysis.assignSplits(TextAnalysis.documents(s, d)),
      TextAnalysis.assignSplitsOracleSql()),
    // benchmark-contamination gate: corpus docs sharing n-grams with the
    // (broadcast) eval carve-out
    Query("q_doc_contamination", (s, d) => {
      val (train, eval) = Dedup.contaminationEvalSplit(TextAnalysis.documents(s, d))
      Dedup.contamination(train, eval)
    },
      Dedup.contaminationOracleSql()),
    Query("q_embed_topk", (s, d) =>
      Similarity.bruteForceTopK(Similarity.embeddings(s, d)),
      """WITH e AS (
             SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
             FROM embeddings
           ), q AS (
             SELECT vec_id AS q_id, v AS q_vec FROM e WHERE vec_id < 10
           ), s AS (
             SELECT q_id, e.vec_id AS n_id,
               CAST(list_sum(list_transform(range(64), i -> q_vec[i+1] * v[i+1])) AS BIGINT) AS d,
               CAST(list_sum(list_transform(range(64), i -> v[i+1] * v[i+1])) AS BIGINT) AS n2
             FROM e, q WHERE e.vec_id <> q_id
           )
           SELECT q_id, rank, n_id FROM (
             SELECT q_id, n_id, row_number() OVER (
               PARTITION BY q_id
               ORDER BY (CASE WHEN d > 0 THEN 1.0 WHEN d < 0 THEN -1.0 ELSE 0.0 END) * d * d / n2 DESC,
                        n_id) AS rank
             FROM s
           ) WHERE rank <= 3"""),
    Query("q_embed_lsh_topk", (s, d) =>
      Similarity.lshTopK(Similarity.embeddings(s, d)),
      Similarity.lshTopkOracleSql()),
    Query("q_embed_ivf_topk", (s, d) =>
      Similarity.ivfTopK(Similarity.embeddings(s, d)),
      Similarity.ivfTopkOracleSql()),
    // the FAISS-style recall dial: queries probe their 2 nearest cells
    Query("q_embed_ivf_probe", (s, d) =>
      Similarity.ivfTopKProbe(Similarity.embeddings(s, d)),
      Similarity.ivfTopkProbeOracleSql()),
    // embedding-cosine near-dup: bucketed candidates + exact verification
    Query("q_embed_cosine_neardups", (s, d) =>
      Similarity.cosineNearDups(Similarity.embeddings(s, d)),
      Similarity.cosineNearDupsOracleSql()),
    Query("q_media_summary", (s, d) => Multimodal.mediaSummary(s, d),
      """SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(CAST(text AS BLOB)) AS n_bytes,
           CAST(len(regexp_extract_all(text, '[\x60-\x6f]')) AS BIGINT) AS hist_bin6,
           CAST(len(regexp_extract_all(text, '[\x70-\x7f]')) AS BIGINT) AS hist_bin7
           FROM documents"""),
    // REAL codecs: encode format-conformant BMP/WAV/GRVD payloads on
    // executors, decode them back (headers, padding, bottom-up rows), and
    // aggregate — the oracle replays the pixel/sample arithmetic
    Query("q_media_decode", (s, d) => Multimodal.mediaDecodeSummary(s, d),
      """SELECT doc_id AS asset_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 16 AS INT)
                WHEN doc_id % 3 = 2 THEN CAST(8 + doc_id % 8 AS INT)
                ELSE 0 END AS width,
           CASE WHEN doc_id % 3 = 0 THEN CAST(12 + doc_id % 12 AS INT)
                WHEN doc_id % 3 = 2 THEN CAST(6 + doc_id % 6 AS INT)
                ELSE 0 END AS height,
           CASE WHEN doc_id % 3 = 1 THEN CAST(256 + doc_id % 256 AS INT)
                ELSE 0 END AS n_samples,
           CASE WHEN doc_id % 3 = 2 THEN 3 ELSE 1 END AS n_frames,
           CASE WHEN doc_id % 3 = 0 THEN
             CAST(round(list_avg(list_transform(range((16 + doc_id % 16) * (12 + doc_id % 12)),
               i -> ((i % (16 + doc_id % 16)) * 7 + (i // (16 + doc_id % 16)) * 13 + doc_id % 97) % 256)) * 1000) AS BIGINT)
           WHEN doc_id % 3 = 1 THEN
             CAST(round(sqrt(list_avg(list_transform(range(256 + doc_id % 256),
               i -> CAST(((((i * 37 + doc_id % 89) % 512) - 256) * 64) AS BIGINT)
                    * ((((i * 37 + doc_id % 89) % 512) - 256) * 64)))) * 1000) AS BIGINT)
           ELSE
             CAST(round(list_avg(list_transform(range((8 + doc_id % 8) * (6 + doc_id % 6)),
               i -> ((i % (8 + doc_id % 8)) * 7 + (i // (8 + doc_id % 8)) * 13 + doc_id % 97) % 256)) * 1000) AS BIGINT)
           END AS metric_x1000
           FROM documents"""),

    // --------------- relational breadth (events/lineitem/orders) ---------------
    Query("q_events_sessionize", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Parquet.read(s, s"$d/events.parquet")
        .withColumn("tsu", unix_micros(col("ts").cast("timestamp")))
      val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
      val brk = when(col("tsu") - lag(col("tsu"), 1).over(w) > 1800000000L, 1L)
        .otherwise(lit(0L))
      e.withColumn("session_id", sum(brk).over(
          Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          // exact integer cents: double sums are summation-order-dependent
          sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
    },
      """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_cents
           FROM (
             SELECT user_id, value,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
             FROM (
               SELECT user_id, event_id, value, epoch_us(ts) AS tsu,
                 CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id) > 1800000000
                 THEN 1 ELSE 0 END AS brk
               FROM events
             )
           ) GROUP BY user_id, session_id"""),
    Query("q_tpch_agg", (s, d) =>
      Parquet.read(s, s"$d/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          // per-row double product is IEEE-identical cross-engine; summing
          // its exact 1e4-scaled rounding keeps the aggregate order-free
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long")).as("revenue_e4"),
          count(lit(1)).as("n")),
      """SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS BIGINT) AS revenue_e4,
           COUNT(*) AS n
           FROM lineitem GROUP BY 1, 2"""),
    Query("q_join_orders_customer", (s, d) => {
      val o = Parquet.read(s, s"$d/orders.parquet")
      val c = Parquet.read(s, s"$d/customer.parquet")
      o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("o_totalprice")).as("total"))
    },
      """SELECT c_mktsegment, COUNT(*) AS n_orders, SUM(o_totalprice) AS total
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1"""),

    // azureblob/gcs exporter layout (exporter.go:97-127): write the
    // year=/month=/day=/hour= partitioned table and prove every row landed
    // in its correct hour directory (round-trip counts per partition)
    Query("q_partitioned_layout", (s, d) => {
      // scratch root: tmpfs when available (the write is the measured work
      // and its output is a throwaway round-trip fixture — same convention
      // as Bench's /dev/shm outRoot; guide §6: don't let a slow disk time
      // a layout-correctness check), else java.io.tmpdir
      val shm = java.nio.file.Paths.get("/dev/shm")
      val root = if (java.nio.file.Files.isWritable(shm)) shm
        else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      // per-process dir: concurrent sessions must not overwrite each other
      val out = root.resolve(
        "graft_layout_" + d.replaceAll("[^A-Za-z0-9]", "_") +
          "_" + java.lang.ProcessHandle.current.pid).toString
      // the per-hour counts are collected before the scratch table is
      // deleted, so the query returns them as a local relation
      try {
        // a 2-day window bounds the directory fan-out (the check is about
        // correctness of placement, not write volume — Bench covers that)
        Transcripts.writePartitioned(
          t(s, d).filter(col("ts") < lit("2024-01-03").cast("timestamp_ntz")), out)
        val counts = Parquet.read(s, out)
          .groupBy(col("year"), col("month"), col("day"), col("hour"))
          .agg(count(lit(1)).as("n"))
          .select(format_string("%04d-%02d-%02d %02d:00:00",
            col("year"), col("month"), col("day"), col("hour")).as("hour_key"),
            col("n"))
        s.createDataFrame(java.util.Arrays.asList(counts.collect(): _*), counts.schema)
      } finally graft.Bench.deleteRec(out)
    },
      Transcripts.withT(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_key,
           COUNT(*) AS n
           FROM t WHERE ts < TIMESTAMP '2024-01-03 00:00:00' GROUP BY 1""")),

    // ------------------------- flagship pipeline -------------------------
    Query("q_pipeline_e2e", (s, d) => {
      val enriched = EnrichOps.lookupEnrich(s, Router.tagged(t(s, d)))
      enriched.groupBy(col("route"), col("role"))
        .agg(count(lit(1)).as("n"),
          sum(octet_length(col("text"))).as("bytes"),
          countDistinct(col("conv_id")).as("n_convs"))
    },
      withTagged(
        """SELECT route, role, COUNT(*) AS n,
           CAST(SUM(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes,
           COUNT(DISTINCT conv_id) AS n_convs
           FROM tagged GROUP BY route, role"""))
  )

  /** Builders by name: what `Verify`, `Bench` and `PlanDump` run. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** Oracle SQL by name: what `Verify` dumps to `oracle_sql.json`. */
  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
