package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.plugins.Plugins
import graft.streaming.StreamingPipeline

/** Inputs the suites share: plugin smoke parameters and the streaming
  * transcript source.
  */
object Fixtures {

  /** Minimal valid params per plugin — the registry-wide "renders with
    * defaults and analyzes" gate (supplied_plugins_test.go:46-147 parity)
    * feeds these to every registered plugin.
    */
  val smokeParams: Map[String, Map[String, String]] = Map(
    "csv" -> Map("header" -> "time_local,level,component,code,latency_ms"),
    "w3c" -> Map("header" -> "date time s_ip cs_method", "delimiter" -> " "),
    "tcp" -> Map("listen_port" -> "514"),
    "udp" -> Map("listen_port" -> "514"),
    "file" -> Map("log_paths" -> "/var/log/app.log")
  ).withDefaultValue(Map.empty)

  /** Plugins that parse a framed `line` instead of the transcript `text`
    * (postgresql, w3c, cef, kafka, redis, mysql); the smoke gate frames one.
    */
  val needsLine: Set[String] = Set("postgresql", "w3c", "common_event_format",
    "kafka", "redis", "mysql", "iis", "sql_server") ++ Plugins.RegexTemplates.map(_.name)

  /** Schema of the hour-partitioned transcripts table, for `readStream`. */
  val TranscriptSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampNTZType),
    StructField("year", IntegerType), StructField("month", IntegerType),
    StructField("day", IntegerType), StructField("hour", IntegerType)))

  /** readStream → severity/route tagging → watermarked windowed per-route
    * counts. Eight files per micro-batch keeps the run deterministic.
    */
  def routedCounts(spark: SparkSession, inputPath: String): DataFrame =
    StreamingPipeline.windowedRouteCounts(spark.readStream
      .schema(TranscriptSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(inputPath))

  /** Drive [[routedCounts]] to completion against a static directory into
    * the memory table `queryName` (processAllAvailable consumes every file).
    */
  def runToCompletion(spark: SparkSession, inputPath: String,
                      queryName: String): StreamingQuery = {
    val q = routedCounts(spark, inputPath).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .start()
    q.processAllAvailable()
    q
  }
}
