package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.parse.ParseOps
import graft.route.Router

/** Continuous variant of the pipeline: Structured Streaming over the same
  * partitioned transcripts layout (the reference is a continuous collector;
  * our batch engine is the deterministic re-expression, this is the faithful
  * streaming one — SURVEY §1.3, §2E).
  *
  * Micro-batches ≙ the collector's batch-at-a-time ConsumeLogs; the
  * per-interval flush of logcount (processor.go:164-177) becomes an
  * event-time tumbling window with a watermark (late data: the reference
  * counts arrivals so late data is impossible; we bound state with a
  * watermark instead of unbounded counters).
  */
object StreamingPipeline {

  /** The tagging + watermarked windowed count transform, over ANY streaming
    * (or batch) transcript frame — extracted so tests can drive it from a
    * MemoryStream to exercise watermark/late-data semantics directly.
    */
  def windowedRouteCounts(stream: DataFrame,
                          watermark: String = "2 hours"): DataFrame =
    Router.tagged(stream)
      .withColumn("ts_ltz", col("ts").cast("timestamp"))
      .withWatermark("ts_ltz", watermark)
      .groupBy(window(col("ts_ltz"), "1 hour"), col("route"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("route"), col("n"))

  /** Continuous logdedup (logdedupprocessor's per-interval duplicate
    * counts, §2D/§2E): a WATERMARKED windowed aggregation — dedup state is
    * one row per (window, body_md5, role) and EXPIRES as soon as the
    * watermark passes the window end, the streaming analog of the
    * processor's interval ticker flush, with state bounded at any scale.
    * The flush contract (agg + projection, first_arrival format) is the
    * SAME code as the batch operator (AggOps.dedupFlush), and the window
    * is taken over `ts` as-is, so window_start carries the input's
    * timestamp type exactly like batch windowStart does (NTZ on the
    * production parquet layout). Parameter order mirrors AggOps.logDedup:
    * interval second, the streaming-only watermark last.
    */
  def streamingLogDedup(stream: DataFrame, interval: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    graft.agg.AggOps.dedupFlush(
      stream
        .withWatermark("ts", watermark)
        .withColumn("arrival", graft.agg.AggOps.arrivalKey)
        .groupBy(window(col("ts"), interval),
          md5(col("text")).as("body_md5"), col("role")),
      col("window.start").as("window_start"), col("body_md5"), col("role"))

  /** Continuous metricstats (metricstatsprocessor's flushLoop interval
    * ticker, §2B/§2E): the SAME typed single-pass Aggregator the batch
    * surface uses (AggOps.metricStatsFlush / MetricStatsAgg — one buffer,
    * partial-merge capable) over a watermarked event-time window, so
    * per-(window, level) state is one stats buffer that updates
    * incrementally per micro-batch and EXPIRES once the watermark passes
    * the window — the processor's counter-map-reset-on-flush
    * (processor.go:262-266) with state bounded at any scale.
    */
  def streamingMetricStats(stream: DataFrame, interval: String = "1 hour",
                           watermark: String = "2 hours"): DataFrame =
    graft.agg.AggOps.metricStatsFlush(
      // the watermark sits on the RAW stream and the isJson gate is pinned
      // ABOVE it (aboveWatermark), so non-metric traffic still advances
      // event time — filtering below the watermark node would starve it
      // (open windows never finalize) whenever only non-JSON routes keep
      // flowing; metricExtract projects `ts` through, carrying the
      // watermark tag
      graft.agg.AggOps.metricExtract(stream.withWatermark("ts", watermark),
          orKeep = col("ts").isNull)
        .groupBy(window(col("ts"), interval), col("level")),
      col("window.start"))

  private implicit val partTurnEnc: Encoder[StatefulRecombine.PartTurn] =
    Encoders.product[StatefulRecombine.PartTurn]

  /** Continuous recombine (stanza's multiline reassembly, §2A/§2E — the one
    * operator whose reference semantics are INHERENTLY streaming: it buffers
    * partial entries per source and force-flushes an idle batch after
    * `force_flush_timeout`, recombine's operator config). The batch operator
    * (ParseOps.recombine) re-expresses the default config deterministically;
    * this is the faithful continuous form:
    *
    *   - per-source state via flatMapGroupsWithState keyed by conv_id — the
    *     operator's per-source batch map, sharded across executors instead
    *     of one process's memory, so source cardinality scales horizontally;
    *   - a batch closes at each `is_last_entry` row (`F|` prefix, as batch)
    *     and EMITS IN THE SAME MICRO-BATCH — no watermark latency for
    *     marker-terminated batches;
    *   - an OPEN batch flushes when the event-time watermark passes its last
    *     entry's timestamp + `forceFlushTimeoutMs` (force_flush_timeout: the
    *     reference flushes on wall-clock idleness; event time is the
    *     deterministic streaming analog); the timeout flush emits the
    *     buffered batch and removes the key's state in the same event —
    *     bounded state without the reference's max_sources eviction cliff;
    *   - entries sort by turn_idx within the buffer, so in-order arrival
    *     matches the batch operator exactly; an entry arriving AFTER its
    *     batch flushed joins the source's next batch (arrival-order
    *     semantics, same as the reference appending to a fresh batch).
    *
    * The transition function is StatefulRecombine.processGroup — one shared
    * implementation for every timeout mode. A flushed batch's identity is
    * (conv_id, first_turn); there is deliberately no session counter (see
    * StatefulRecombine's scaladoc), so a source's state exists ONLY while a
    * batch is open and keyed state is bounded by in-flight batches.
    */
  def streamingRecombine(stream: DataFrame,
                         forceFlushTimeoutMs: Long = 30000L,
                         watermark: String = "2 hours"): DataFrame =
    StatefulRecombine.recombineStream(
      stream.sparkSession,
      stream
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        // the multiline gate must stay ABOVE the watermark node so
        // non-multiline traffic still advances event time (an idle
        // multiline source must force-flush even when only other routes
        // keep flowing). Writing the filter after withWatermark is NOT
        // enough: PushPredicateThroughNonJoin pushes any predicate that
        // doesn't reference the watermark column below the node — OR-ing
        // in `ts IS NULL` (never true here: ts is cast from the non-null
        // transcript timestamp) makes it un-splittable and
        // watermark-referencing, pinning it above
        .filter(ParseOps.isMultiline || col("ts").isNull)
        .select(col("conv_id"), col("turn_idx"), col("text"), col("ts"))
        .as[StatefulRecombine.PartTurn],
      GroupStateTimeout.EventTimeTimeout, forceFlushTimeoutMs)
    .toDF()

  /** Exactly-once streaming fan-out through the same commit log the batch
    * runner uses (`pipeline.Manifest` — §2E checkpoint/resume): a
    * `foreachBatch` sink whose unit of commitment is the MICRO-BATCH, the
    * streaming analogue of PipelineRunner's per-partition commit.
    *
    * Structured Streaming re-delivers an uncommitted micro-batch after a
    * restart with the SAME batchId (the reference's at-least-once exporter
    * contract; awss3eventreceiver collapses the duplicate announcements the
    * same way). The sink turns that into exactly-once:
    *
    *   - a replayed batch whose manifest entry exists is SKIPPED whole —
    *     the ShouldParse-parity check, keyed `batch=<id>` instead of an
    *     hour partition;
    *   - an UNCOMMITTED replay rewrites only its own output via
    *     dynamic-partition overwrite: batch_id is part of the physical
    *     partition layout, so a replay can only replace ITSELF — batches
    *     sharing an hour (or hours sharing a batch) never clobber each
    *     other, the hazard a plain (route, hour) overwrite would have;
    *   - the manifest entry commits AFTER the write (all-sinks-succeeded,
    *     same contract as the batch runner), with the counts of the batch
    *     runner's own counted write (`PipelineRunner.writeCounted`, keyed
    *     by the micro-batch): rows in as read and per sink the rows this
    *     commit wrote, from `observe` taps on the write itself.
    */
  def manifestSink(spec: graft.pipeline.Pipeline.PipelineSpec,
                   outRoot: String): (DataFrame, Long) => Unit = {
    val manifest = new graft.pipeline.Manifest(s"$outRoot/_manifest")
    (df, batchId) =>
      val key = f"batch=$batchId%019d"
      if (!manifest.isCommitted(key)) {
        val t0 = System.nanoTime()
        val c = graft.pipeline.PipelineRunner.writeCounted(df, spec, outRoot,
          Seq(batchId), lit(batchId), "batch_id" -> lit(batchId))(batchId)
        manifest.commit(key, c.rowsIn, c.sinkCounts, Seq.empty,
          (System.nanoTime() - t0) / 1000000)
      }
  }
}
