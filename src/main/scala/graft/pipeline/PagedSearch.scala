package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paged-pull resumable source — the batch model of
  * splunksearchapireceiver (receiver/splunksearchapireceiver/receiver.go:
  * 124-206): a search runs with per-search earliest/latest bounds
  * (config TimeFormat "2006-01-02T15:04", internal/time.go), results pull
  * in offset order page by page (EventBatchSize), each exported batch
  * advances a durable offset checkpoint (`checkpointRecord.Offset`,
  * receiver.go:203-206), and an optional `limit` caps exported events
  * (receiver.go:162-166). A killed run resumes from the checkpoint and
  * never re-exports completed pages.
  *
  * Batch shape: the search result is materialized ONCE with deterministic
  * global offsets in (ts, conv_id, turn_idx) order — computed scale-safely
  * as per-hour bucket counts + broadcast running offsets + within-bucket
  * row numbers (no single-partition sort of the fact stream) — and
  * partitioned by page id, so the sequential export loop prunes to one
  * page's files per step exactly like the receiver's offset-windowed pull.
  */
object PagedSearch {

  /** One entry of the reference's `searches:` config list
    * (splunksearchapireceiver/config.go): bounds are inclusive client-side
    * filters; limit = 0 means unlimited.
    */
  case class SearchSpec(
      query: String,
      earliest: String, // "2006-01-02T15:04" reference layout
      latest: String,
      eventBatchSize: Int = 100,
      limit: Long = 0L)

  /** The search result with deterministic `__offset` / `page` columns.
    * Client-side bound behavior per receiver.go:171-181: entries before
    * `earliest` or after `latest` never export.
    */
  def pagedResults(t: DataFrame, spec: SearchSpec): DataFrame = {
    require(spec.eventBatchSize > 0, "event_batch_size must be positive")
    val bounds = col("ts") >= lit(spec.earliest.replace("T", " ") + ":00")
      .cast("timestamp_ntz") &&
      col("ts") <= lit(spec.latest.replace("T", " ") + ":00").cast("timestamp_ntz")
    val hits = t.filter(bounds && col("text").contains(spec.query))
    // global dense offsets without a global sort: hour-bucket counts →
    // tiny running-offset relation → broadcast back, within-bucket ranks
    val bucketed = hits.withColumn("__b", date_trunc("hour", col("ts")))
    val wOff = Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__n"))
      .withColumn("__boff", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .drop("__n")
    val wRank = Window.partitionBy(col("__b"))
      .orderBy(col("ts"), col("conv_id"), col("turn_idx"))
    val numbered = bucketed.join(broadcast(offsets), "__b")
      .withColumn("__offset", col("__boff") + row_number().over(wRank) - 1)
      .drop("__boff", "__b")
    val limited =
      if (spec.limit > 0) numbered.filter(col("__offset") < spec.limit)
      else numbered
    limited.withColumn("page",
      (col("__offset") / spec.eventBatchSize).cast("long"))
  }

  case class RunResult(pagesExported: Long, pagesSkipped: Long, rowsExported: Long)

  /** Sequential paged export with a per-page offset checkpoint. The store
    * materializes once (page-partitioned), then each page exports via one
    * partition-pruned scan and commits `page=N` to the manifest — the
    * ConsumeLogs-then-checkpoint ordering of receiver.go:195-206, so a kill
    * between export and commit re-exports at most one page (the receiver
    * has the same at-least-once window).
    */
  def run(spark: SparkSession, t: DataFrame, spec: SearchSpec,
          storeDir: String, outDir: String, manifest: Manifest,
          failAfterPages: Long = Long.MaxValue): RunResult = {
    // the store is keyed by a fingerprint of the FULL spec AND the input's
    // file identity: a resumed run with the same spec over the same data
    // reuses the materialized search, while a different query/bounds/
    // batch-size — or the same spec after the source table changed — builds
    // its own store instead of exporting stale results
    // content identity, not just names: size+mtime catch in-place rewrites
    // of an unchanged path (non-file URIs degrade to the bare path).
    // NON-file-backed inputs (in-memory relations, generated ranges) expose
    // no files at all — an empty string would collapse every such input to
    // one store key and serve stale results across different inputs; they
    // key on the CANONICALIZED plan hash instead (two structurally
    // different in-memory inputs get different stores; re-running the same
    // generator expression — the resume path — still reuses its store)
    val files = t.inputFiles
    val inputId =
      if (files.isEmpty) s"plan-${t.queryExecution.analyzed.semanticHash()}"
      else files.sorted.map { f =>
        try {
          val file = new java.io.File(new java.net.URI(f).getPath)
          s"$f:${file.length}:${file.lastModified}"
        } catch { case _: Exception => f }
      }.mkString(",")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${spec.query}|${spec.earliest}|${spec.latest}|${spec.eventBatchSize}|${spec.limit}|$inputId"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val storePath = s"$storeDir/paged_store_$fp"
    val results = pagedResults(t, spec)
    // the store itself is part of the search (searchID): materialize only once
    if (!new java.io.File(s"$storePath/_SUCCESS").exists()) {
      results.write.mode("overwrite").partitionBy("page").parquet(storePath)
    }
    // explicit schema: an empty search writes only _SUCCESS, and schema
    // inference over zero files would abort instead of returning an empty
    // RunResult (the reference receiver ends an empty search gracefully)
    val store = spark.read.schema(results.schema)
      .option("basePath", storePath).parquet(storePath)
    // partition-column inference reads `page` back as int — normalize
    val pages = store.select(col("page").cast("long")).distinct().collect()
      .map(_.getLong(0)).sorted // bounded: rows/eventBatchSize entries
    var exported = 0L; var skipped = 0L; var rows = 0L
    pages.foreach { p =>
      if (manifest.isCommitted(s"page=$p")) skipped += 1
      else {
        if (exported >= failAfterPages)
          throw new RuntimeException(s"injected failure before page $p")
        val t0 = System.nanoTime()
        val pageDf = store.filter(col("page") === p) // partition-pruned scan
        // count via observe on the write itself — one pruned scan per
        // page, no second pass
        val obs = new org.apache.spark.sql.Observation(s"page_$p")
        pageDf.observe(obs, count(lit(1)).as("n"))
          .write.mode("append").parquet(outDir)
        val n = obs.get("n").asInstanceOf[Long]
        manifest.commit(s"page=$p", n, Map("out" -> n),
          Seq(s"$storePath/page=$p"), (System.nanoTime() - t0) / 1000000L)
        exported += 1; rows += n
      }
    }
    RunResult(exported, skipped, rows)
  }
}
