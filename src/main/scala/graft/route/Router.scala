package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.parse.ParseOps

/** The route plane: deterministic multi-way fan-out (SURVEY.md §2D).
  *
  * Models the routingconnector (manifests/observIQ/manifest.yaml:232) and the
  * routereceiver's named in-process mailboxes
  * (receiver/routereceiver/receiver.go:29-47, 118-145): ordered route
  * predicates with first-match-wins semantics, each matched row written to
  * that route's sink table.
  *
  * Physical design for 100 TB: the route tag is computed ONCE per row in the
  * same codegen stage as the parse, and the pipeline writes the tagged
  * stream ONCE, partitioned by `route` (PipelineRunner.run) — each
  * `route=<name>` directory is that sink's table. The input is scanned once
  * and nothing is cached, as the reference pushes each batch to all routes
  * in one pass; naive per-sink Spark jobs would rescan the source N times.
  */
object Router {

  case class Route(name: String, predicate: Column)

  /** FIXTURES.md §3 route config, first-match semantics:
    * severity >= ERROR → sink_errors; tool != '' → sink_tools; else default.
    */
  def defaultRoutes(severityNumber: Column, tool: Column): Seq[Route] = Seq(
    Route("sink_errors", severityNumber >= ParseOps.SevError),
    Route("sink_tools", tool =!= ""),
    Route("sink_default", lit(true)))

  /** First-match route tag as a single `when` chain — one pass, codegen'd. */
  def routeTag(routes: Seq[Route]): Column =
    routes.init.foldRight(lit(routes.last.name): Column) { (r, acc) =>
      when(r.predicate, r.name).otherwise(acc)
    }

  /** Severity for ANY transcript row, derived from its payload scenario
    * (status class for access/json/csv/kv/syslog lines; default INFO).
    * This is the whole-pipeline severity resolution used by routing. Each
    * branch extracts its field once and maps it through a literal table
    * (see [[ParseOps.severityFromStatus]]). A malformed line (an access line
    * without a status, a syslog line without a numeric priority or with one
    * past `Int.MaxValue`, a CSV line without a second field) is INFO, with
    * ANSI mode on or off: the extractions use `try_cast`/`try_element_at`.
    */
  def rowSeverity(): Column = {
    val nginxStatus = regexp_extract(col("text"), """" (\d{3}) """, 1)
    val jsonLevel = get_json_object(col("text"), "$.level")
    val csvLevel = try_element_at(split(col("text"), ","), lit(2))
    val kvLevel = regexp_extract(col("text"), """level=(\w+)""", 1)
    val syslogSev = regexp_extract(col("text"), """^<(\d+)>""", 1).try_cast("int") % 8
    when(ParseOps.isNginx,
        ParseOps.severityFromStatus(nginxStatus.try_cast("int")))
      .when(ParseOps.isJson, ParseOps.severityFromLevel(jsonLevel))
      .when(ParseOps.isCsv, ParseOps.severityFromLevel(csvLevel))
      .when(ParseOps.isKv, ParseOps.severityFromLevel(kvLevel))
      .when(ParseOps.isSyslog, coalesce(typedLit(Map(0 -> ParseOps.SevError,
          1 -> ParseOps.SevError, 2 -> ParseOps.SevError, 3 -> ParseOps.SevError,
          4 -> ParseOps.SevWarn)).apply(syslogSev), lit(ParseOps.SevInfo)))
      .otherwise(ParseOps.SevInfo)
  }

  /** Tag every transcript row with its severity + first-match route. */
  def tagged(t: DataFrame): DataFrame = {
    val sev = rowSeverity()
    val withSev = t.withColumn("severity_number", sev)
      .withColumn("severity_text", ParseOps.severityText(col("severity_number")))
    withSev.withColumn("route",
      routeTag(defaultRoutes(col("severity_number"), col("tool"))))
  }

  // -------------------------------------------------------------------
  // snowflakeexporter sink schema parity
  // (exporter/snowflakeexporter/exporter_logs.go:31-51, 151-186)
  // -------------------------------------------------------------------
  /** Project routed rows into the reference's own relational log schema —
    * the canonical sink-table DDL. Body = raw text (Body().AsString(),
    * exporter_logs.go:177); attributes JSON-canonical as the exporter's
    * ConvertAttributesToString does.
    */
  def sinkSchema(t: DataFrame): DataFrame =
    tagged(t).select(
      col("ts").as("Timestamp"),
      col("ts").as("ObservedTimestamp"),
      col("severity_number").cast("string").as("SeverityNumber"),
      col("severity_text").as("SeverityText"),
      col("text").as("Body"),
      concat(lit("{\"conv_id\":\""), col("conv_id"),
        lit("\",\"role\":\""), col("role"),
        lit("\",\"tool\":\""), col("tool"),
        lit("\",\"turn_idx\":"), col("turn_idx"), lit("}")).as("Attributes"),
      lit(0).as("DroppedAttributesCount"),
      lit(0).as("Flags"),
      lit("").as("TraceID"),
      lit("").as("SpanID"),
      col("route").as("Route"),
      col("conv_id"), col("turn_idx"))

  // -------------------------------------------------------------------
  // chronicleexporter grouped writes — dynamic routing key log_type from
  // attributes, grouped by (logType, namespace)
  // (exporter/chronicleexporter/marshal.go:226-268, 466-485)
  // -------------------------------------------------------------------
  def chronicleGroups(t: DataFrame): DataFrame =
    t.select(
        coalesce(when(col("tool") =!= "", col("tool")), lit("default_type")).as("log_type"),
        col("role").as("namespace"),
        col("text"))
      .groupBy(col("log_type"), col("namespace"))
      .agg(count(lit(1)).as("n"), sum(octet_length(col("text"))).as("bytes"))

  // -------------------------------------------------------------------
  // chronicleexporter gRPC request-size enforcement
  // (marshal.go:487-515 enforceMaximumsGRPCRequest): a request over the
  // byte cap splits at its entry-count MIDPOINT, recursively, until every
  // request fits; a single entry over the cap is dropped with an error.
  // -------------------------------------------------------------------
  /** Relational recursive halving. The recursion tree over a request's
    * entry indices is fixed by the entry COUNT (mid = lo + (hi-lo)/2);
    * sizes only decide the depth at which each index's segment stops. So:
    * requests = deterministic bounded chunks (hour bucket × 512-entry
    * window, modeling the upstream payload boundary); the chunk's entry
    * list is collected ONCE PER CHUNK (bounded ≤ chunkEntries — never a
    * group-scale collect) and every entry descends the fixed tree to the
    * first ancestor segment under the cap inside ONE kernel call
    * (MidpointBatches — a Scala-side unrolled when-tree would grow
    * ≈6^levels nodes and OOM the optimizer; the earlier runtime HOF fold
    * avoided that but paid interpreted struct rebuilds per level per
    * entry). The r7 restructure: the previous shape attached the chunk's
    * prefix-sum array to EVERY ROW by a full-frame window (collect_list +
    * array_sort + transform per row — O(chunkEntries) array work per
    * row, O(chunkEntries²) per chunk); collecting per CHUNK does that
    * work once per chunk, and the whole query still runs on ONE exchange
    * (the rn window's (log_type, namespace, hour) hash partitioning
    * satisfies every downstream clustering — window, groupBys — because
    * their keys are supersets).
    * At 10^12 turns every state object is chunk-scale (≤512 entries).
    */
  def chronicleRequestBatches(t: DataFrame, capBytes: Long = 16384L,
                              chunkEntries: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val logType = coalesce(when(col("tool") =!= "", col("tool")),
      lit("default_type")).as("log_type")
    // synthetic proto size with rare oversized entries (drop-path coverage)
    val entrySize = (octet_length(col("text")) *
      when(col("turn_idx") % 997 === 0, 1000).otherwise(1)).cast("long")
    val base = t.select(logType, col("role").as("namespace"),
        date_trunc("hour", col("ts")).as("hour"), col("ts"), col("conv_id"),
        col("turn_idx"), entrySize.as("sz"))
    val wGroup = Window.partitionBy(col("log_type"), col("namespace"), col("hour"))
      .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
    val idxed = base.withColumn("rn", row_number().over(wGroup) - 1)
      .withColumn("chunk", (col("rn") / chunkEntries).cast("int"))
      .withColumn("cidx", col("rn") % chunkEntries)
    val wChunk = Window
      .partitionBy(col("log_type"), col("namespace"), col("hour"), col("chunk"))
      .orderBy(col("cidx"))
    // ONE row per request chunk: the sorted (cidx, cum, sz) entry list
    // (≤ chunkEntries elements). The groupBy reuses the window's hash
    // partitioning — no second exchange.
    val grouped = idxed.withColumn("cum", sum(col("sz")).over(wChunk))
      .groupBy(col("log_type"), col("namespace"), col("hour"), col("chunk"))
      .agg(array_sort(collect_list(
        struct(col("cidx"), col("cum"), col("sz")))).as("entries"))
    val levels = (math.ceil(math.log(chunkEntries.toDouble) / math.log(2.0))
      .toInt + 1)
    // per-entry count-midpoint descent as ONE codegen loop over the
    // chunk's entry list (graft.functions.MidpointBatches) — the previous
    // per-entry HOF fold rebuilt a state struct per level, interpreted;
    // semantics identical (see the expression's scaladoc), oracle-locked
    val segs = graft.functions.MidpointBatches.of(col("entries"), capBytes, levels)
    grouped.select(col("log_type"), col("namespace"), col("hour"), col("chunk"),
        explode(segs).as("s"))
      .select(col("log_type"), col("namespace"), col("hour"), col("chunk"),
        col("s.batch_lo").as("batch_lo"), col("s.dropped").as("dropped"),
        col("s.sz").as("sz"))
      .groupBy(col("log_type"), col("namespace"), col("hour"), col("chunk"),
        col("batch_lo"), col("dropped"))
      .agg(count(lit(1)).as("n_entries"), sum(col("sz")).as("batch_bytes"))
  }

  // -------------------------------------------------------------------
  // googlecloudexporter host wrapper — add host resource attr when absent
  // (exporter/googlecloudexporter/exporter.go:79-90 appendLogHost)
  // -------------------------------------------------------------------
  def appendHost(t: DataFrame, default: String): DataFrame =
    t.withColumn("host", coalesce(
      when(col("role") === "tool", concat(lit("tool-"), col("tool"))),
      lit(default)))

  // -------------------------------------------------------------------
  // topologyprocessor — gateway route table from request headers
  // (processor/topologyprocessor/topology.go:33-83 TopoState/UpsertRoute,
  //  processor.go:105-146 processTopologyHeaders)
  // -------------------------------------------------------------------

  /** A bindplane gateway source or destination (topology.go:42-51). */
  case class GatewayInfo(organizationId: String, accountId: String,
                         configuration: String, gatewayId: String)

  /** The topology route table: each processor instance carries a static
    * gateway SOURCE (its configuration's org/account/configuration plus its
    * component id, processor.go:49-54) and upserts one route-table entry per
    * DISTINCT upstream gateway seen in request headers — keyed by the
    * four-header tuple, valued by the LAST time a message carrying ALL FOUR
    * topology headers arrived (UpsertRoute stamps per arrival; the map key
    * dedups). Rows missing any header — or carrying an empty one — are
    * ignored entirely (processor.go:110-134: each absent header early-returns,
    * and the upsert itself requires all four non-empty).
    *
    * Batch analog: headers ride the relation as `h_*` columns (the same
    * modeling as the S3 notification plane), and "last detected" is the max
    * EVENT time instead of the reference's wall-clock time.Now() — the
    * deterministic analog, same deviation FIXTURES.md documents for the
    * telemetry generator. One filter + one partial-agg groupBy whose
    * cardinality is the distinct-gateway count (bounded control-plane state,
    * exactly like the reference's in-memory RouteTable).
    */
  def topologyRoutes(headers: DataFrame, source: GatewayInfo): DataFrame = {
    val all = Seq("h_organization_id", "h_account_id", "h_configuration",
      "h_resource_name")
      .map(c => col(c).isNotNull && col(c) =!= "")
      .reduce(_ && _)
    headers.filter(all)
      .groupBy(
        col("h_organization_id").as("dest_organization_id"),
        col("h_account_id").as("dest_account_id"),
        col("h_configuration").as("dest_configuration"),
        col("h_resource_name").as("dest_gateway_id"))
      .agg(max(col("ts")).as("last_updated"))
      .select(
        lit(source.organizationId).as("source_organization_id"),
        lit(source.accountId).as("source_account_id"),
        lit(source.configuration).as("source_configuration"),
        lit(source.gatewayId).as("source_gateway_id"),
        col("dest_organization_id"), col("dest_account_id"),
        col("dest_configuration"), col("dest_gateway_id"),
        col("last_updated"))
  }
}
