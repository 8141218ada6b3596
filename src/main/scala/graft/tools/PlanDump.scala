package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named queries to
  * `plans/<round>/<query>_<suffix>.txt`, relative to the working directory
  * (the repo root under `sbt runMain`) — the evidence files that back a
  * plan-shape claim. The session comes from `GraftSession.builder()`
  * (`SPARK_GRAFT_CPUS` cores).
  * Usage: runMain graft.tools.PlanDump <round> <suffix> [sfDir] [q1 q2 ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val round = args.headOption.getOrElse("r07")
    val suffix = args.lift(1).getOrElse("before")
    val d = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val s = graft.GraftSession.builder().getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("plans", round)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(s, d)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    s.stop()
  }
}
