package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's canonical configuration.
  *
  * Mirrors the reference collector's "one process, many worker goroutines"
  * execution model (observIQ/bindplane-otel-collector,
  * receiver/awss3eventreceiver/receiver.go:154-176 fixed worker pools) as a
  * Spark local[N] session; on a real cluster the same code runs unchanged
  * under spark-submit with N executors.
  *
  * Local paths go through [[graft.io.LocalFs]] (`spark.hadoop.fs.file.impl`),
  * which sets file and directory permissions through java.nio: without
  * libhadoop, Hadoop's own local FS forks a `chmod` for every file and
  * directory level a write creates. `spark.hadoop.fs.AbstractFileSystem.file.impl`
  * maps Hadoop's `FileContext` API, which Spark's streaming checkpoints
  * write through, to the same file system ([[graft.io.LocalFs.Afs]]).
  * The settings reach the session's Hadoop configuration, so a `file://`
  * FileSystem cached before the first session was built keeps its old
  * class for the life of the JVM.
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-log-pipeline")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.hadoop.fs.file.impl", "graft.io.LocalFs")
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.LocalFs.Afs].getName)

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
