package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` output for named queries to
  * `plans/<round>/<query>_<suffix>.txt`, relative to the working directory
  * (the repo root under `sbt runMain`) — the evidence files that back a
  * plan-shape claim. The session comes from `GraftSession.builder()`
  * (`SPARK_GRAFT_CPUS` cores).
  *
  * The files are masked (see `Masks`) so that two dumps of the same code
  * from two JVMs are byte-identical and a plain `diff` of two commits'
  * dumps shows only plan changes.
  * Usage: runMain graft.tools.PlanDump <round> <suffix> [sfDir] [q1 q2 ...]
  */
object PlanDump {

  /** Values that depend on what the JVM planned or ran before, not on
    * the plan: expression ids (`#12`), exchange `plan_id`s, lambda and
    * object identity hashes, AQE query-stage ids (assigned in the order
    * concurrent stages finish), RDD ids and call sites in scan names, and
    * the byte size of a materialized query stage (a broadcast stage
    * reports its hash relation's allocated pages, 32.1 or 64.1 MiB for
    * the same 2,400 rows in two runs; the row count stays).
    */
  private val Masks: Seq[(String, String)] = Seq(
    "#\\d+" -> "#n",
    "plan_id=\\d+" -> "plan_id=n",
    "\\$\\$Lambda[$\\d]*/0x[0-9a-f]+" -> "\\$\\$Lambda",
    "(?<=[\\w$])@[0-9a-f]{4,8}\\b" -> "@h",
    "(\\(\\d+\\) \\w*QueryStage\\n(?:(?!\\(\\d+\\) ).*\\n)*?Arguments: )\\d+" -> "$1n",
    "(QueryStage \\(\\d+\\), Statistics\\(sizeInBytes=)[^,]+" -> "$1n",
    "RDD\\[\\d+\\]" -> "RDD[n]",
    "\\.scala:\\d+" -> ".scala:n")

  private def mask(plan: String): String =
    Masks.foldLeft(plan) { case (p, (re, to)) => p.replaceAll(re, to) }

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
      val plan = mask(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote ${name}_$suffix.txt (${plan.length} chars)")
    }
    s.stop()
  }
}
