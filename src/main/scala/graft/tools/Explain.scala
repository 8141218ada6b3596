package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.io.Parquet
import graft.model.Transcripts
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._

/** Plan auditor: prints formatted physical plans for the load-bearing
  * queries so shuffle count, pushdown, broadcast choice, and codegen spans
  * can be reviewed (and regressions spotted) — `sbt "runMain
  * graft.tools.Explain [queryName ...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.getOrCreate()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_pipeline_e2e", "q_lookup_enrich", "q_parse_nginx",
        "q_metric_stats", "q_embed_topk", "q_doc_minhash_pairs")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    // the production scan path: partitioned table (not the fixture CTE)
    val base = java.nio.file.Files.createTempDirectory("explain").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, 20000, 50), base)
    println("\n================ pipeline over partitioned table ================")
    val tagged = Pipeline.compile(Pipeline.Canonical, spark)(
      Parquet.read(spark, base))
    tagged.filter(col("route") === "sink_errors").explain("formatted")
    println("\n================ partition-pruned scan (one hour) ================")
    Parquet.read(spark, base)
      .filter(col("year") === 2024 && col("month") === 1 &&
        col("day") === 1 && col("hour") === 5)
      .groupBy(col("role")).count().explain("formatted")
    graft.Bench.deleteRec(base)
    spark.stop()
  }
}
