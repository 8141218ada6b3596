package graft

import org.apache.spark.sql.functions._
import graft.io.Parquet
import graft.model.Transcripts

/** `Parquet.read` must give the schema Spark's own inference gives, on every
  * table shape the engine reads, without the inference job.
  */
class ParquetSpec extends SparkTestBase {

  private def assertSameSchema(paths: String*): Unit =
    assert(Parquet.read(spark, paths: _*).schema == spark.read.parquet(paths: _*).schema,
      s"schema differs on ${paths.mkString(", ")}")

  test("schema parity: Spark-written hour-partitioned table, whole and per group") {
    val base = java.nio.file.Files.createTempDirectory("pq_parts").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 6000, nConvs = 20), base)
    assertSameSchema(base)
    // partition columns keep their order and inferred int types
    assert(Parquet.read(spark, base).schema.takeRight(4).map(f => f.name -> f.dataType.typeName) ==
      Seq("year", "month", "day", "hour").map(_ -> "integer"))
    // the runner's form: a group of leaves under an explicit basePath
    val group = graft.pipeline.PipelineRunner.discoverPartitions(spark, base).take(2)
      .map(p => s"$base/$p")
    assert(Parquet.read(spark, spark.read.option("basePath", base), group: _*).schema ==
      spark.read.option("basePath", base).parquet(group: _*).schema)
    Bench.deleteRec(base)
  }

  test("schema parity: materialized transcripts and the pyarrow-written tables") {
    Transcripts.fromEvents(spark, sfDir) // materialize the derived table
    val derived = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_transcripts_${Transcripts.sourceFingerprint(sfDir)}").toString
    assertSameSchema(derived)
    assert(Parquet.read(spark, derived).schema("ts").dataType.typeName == "timestamp_ntz")
    for (sf <- Seq(sfDir, "/root/testdata/sf0.01");
         table <- Seq("events", "documents", "embeddings"))
      assertSameSchema(s"$sf/$table.parquet")
  }

  test("schema comes from the first data file in full-path order") {
    // siblings `k=a` and `k=a.b`: by name `k=a` sorts first, by full path
    // (`k=a.b/…` < `k=a/…`) the other one does, and Spark uses full paths
    val base = java.nio.file.Files.createTempDirectory("pq_order").toString
    spark.range(3).select(col("id").as("x")).write.parquet(s"$base/k=a")
    spark.range(3).select(col("id").as("y")).write.parquet(s"$base/k=a.b")
    assertSameSchema(base)
    assert(Parquet.read(spark, base).columns.toSeq == Seq("y", "k"))
    Bench.deleteRec(base)
  }

  test("a directory with no data file is an error naming the path") {
    val base = java.nio.file.Files.createTempDirectory("pq_empty")
    java.nio.file.Files.createFile(base.resolve("_SUCCESS"))
    java.nio.file.Files.createFile(base.resolve(".hidden.crc"))
    java.nio.file.Files.createDirectory(base.resolve("year=2024"))
    val e = intercept[IllegalArgumentException](Parquet.read(spark, base.toString))
    assert(e.getMessage.contains(base.toString))
    Bench.deleteRec(base.toString)
  }
}
