package graft

import org.apache.spark.sql.functions._

import graft.model.Transcripts

class SparkEntrySpec extends SparkTestBase {

  test("registry: 145 unique names, each with a non-empty oracle") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.size == 145)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet == names.toSet)
    val empty = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(empty.isEmpty, s"empty oracle SQL: $empty")
  }

  test("q_partitioned_layout deletes its scratch table") {
    val pid = java.lang.ProcessHandle.current.pid
    val rows = SparkEntry.queries("q_partitioned_layout")(spark, sfDir).collect()
    val expected = Transcripts.fromEvents(spark, sfDir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp_ntz")).count()
    assert(rows.map(_.getAs[Long]("n")).sum == expected)
    val left = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .map(new java.io.File(_)).filter(_.isDirectory)
      .flatMap(_.listFiles().toSeq).map(_.getName)
      .filter(n => n.startsWith("graft_layout_") && n.endsWith(s"_$pid"))
    assert(left.isEmpty, s"scratch directories left behind: $left")
  }
}
