package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-corpus plan gate: EVERY SparkEntry query must compile to a
  * scale-safe physical plan. Individual specs assert individual shapes
  * (no-Exchange IVF, bucket-partitioned snapshot windows); this gate locks
  * every present AND future query into the same rules:
  *
  *  1. no CartesianProduct, ever;
  *  2. no nested-loop join with FACT relations on both sides (one bounded
  *     broadcast side is the legitimate non-equi pattern);
  *  3. no global sort of an un-aggregated fact stream — a Sort or
  *     empty-partition Window is acceptable only over a relation already
  *     reduced by aggregation (the hour-bucket-offset pattern, whose
  *     cardinality is #groups, not #records);
  *  4. same rule for any explicit single-partition shuffle.
  *
  * Fact relations are the driver tables that grow with scale; everything
  * derived from them without an aggregation boundary is fact-sized.
  */
class PlanGateSpec extends SparkTestBase {

  private val FactTables =
    Seq("events.parquet", "documents.parquet", "embeddings.parquet",
      "lineitem.parquet", "orders.parquet")

  private def isFactScan(p: SparkPlan): Boolean = p match {
    case f: FileSourceScanExec =>
      val loc = f.relation.location.rootPaths.mkString(",")
      FactTables.exists(loc.contains)
    case _ => false
  }

  private def hasFact(p: SparkPlan): Boolean = p.exists(isFactScan)

  private def hasAggBoundary(p: SparkPlan): Boolean = p.exists {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => true
    // a limit bounds cardinality exactly like an aggregation (the
    // broadcast-query side of top-k is fact-derived but k-bounded)
    case _: org.apache.spark.sql.execution.GlobalLimitExec |
         _: org.apache.spark.sql.execution.LocalLimitExec |
         _: org.apache.spark.sql.execution.CollectLimitExec => true
    case _ => false
  }

  /** Un-aggregated fact subtree: scans a fact table with no aggregation
    * anywhere below — its row count is the input's, so any single-partition
    * operator above it is a scale bug.
    */
  private def unboundedFact(p: SparkPlan): Boolean =
    hasFact(p) && !hasAggBoundary(p)

  test("every corpus query compiles to a scale-safe physical plan") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, q) =>
          val plan =
            try q(spark, sfDir).queryExecution.executedPlan
            catch {
              case e: Throwable =>
                fail(s"$name: plan construction failed: ${e.getMessage}")
            }
          val bad = scala.collection.mutable.ArrayBuffer[String]()
          plan.foreach {
            case _: CartesianProductExec =>
              bad += s"$name: CartesianProduct in plan"
            case j: BroadcastNestedLoopJoinExec
                if unboundedFact(j.left) && unboundedFact(j.right) =>
              bad += s"$name: nested-loop join with fact relations on both sides"
            case s: SortExec if s.global && unboundedFact(s.child) =>
              bad += s"$name: global sort of an un-aggregated fact stream"
            case w: WindowExec
                if w.partitionSpec.isEmpty && unboundedFact(w.child) =>
              bad += s"$name: unpartitioned window over an un-aggregated fact stream"
            case e: ShuffleExchangeExec
                if e.outputPartitioning == SinglePartition &&
                  unboundedFact(e.child) =>
              bad += s"$name: single-partition shuffle of an un-aggregated fact stream"
            case _ =>
          }
          bad
      }
      assert(failures.isEmpty,
        s"${failures.size} scale-unsafe plan(s):\n${failures.mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}

/** Compute-once sites: each parse (or md5 chain) runs once per row in a
  * `Generate` node, with no non-deterministic fence. A filter on the
  * parsed fields stays above the node, so the plan holds exactly one parse;
  * a filter on the source's own columns still reaches the scan.
  */
class ParseOncePlanSpec extends SparkTestBase {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal}
  import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
  import org.apache.spark.sql.functions.col
  import graft.functions.{Md5Long, RegexExtractStruct}

  private def isJson(e: Expression): Boolean = e.isInstanceOf[JsonToStructs]

  private def isGrok(e: Expression): Boolean = e match {
    case i: Invoke => i.targetObject match {
      case Literal(_: RegexExtractStruct.Grok, _) => true
      case _ => false
    }
    case _ => false
  }

  private def isMd5(e: Expression): Boolean = e match {
    case s: StaticInvoke => s.staticObject == Md5Long.getClass
    case _ => false
  }

  test("one parse per row, source filters pushed to the scan, every expression deterministic") {
    val q = (name: String) => SparkEntry.queries(name)(spark, sfDir)
    val json = graft.parse.ParseOps.parseJson(
        graft.model.Transcripts.fromEvents(spark, sfDir))
      .filter(col("turn_idx") < 50 && col("status") >= 400 && col("level") =!= "debug")
    // (name, query, the parse, whether IsNotNull(turn_idx) must reach the scan)
    val cases: Seq[(String, DataFrame, Expression => Boolean, Boolean)] = Seq(
      ("parseJson", json, isJson, true),
      ("q_ocsf_v17", q("q_ocsf_v17"), isJson, true),
      ("q_plugin_sql_server", q("q_plugin_sql_server"), isJson, false),
      ("q_plugin_nginx", q("q_plugin_nginx"), isGrok, false),
      ("q_rehydration_range", q("q_rehydration_range"), isGrok, false),
      ("q_topology_routes", q("q_topology_routes"), isMd5, false))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try cases.foreach { case (name, df, isParse, pushesTurnIdx) =>
      assert(df.collect().nonEmpty, name)
      val plan = df.queryExecution.executedPlan
      val exprs = plan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect { case e => e })
      assert(exprs.count(isParse) == 1, s"$name: one parse\n$plan")
      assert(exprs.forall(_.deterministic), s"$name: non-deterministic\n$plan")
      if (pushesTurnIdx) {
        val pushed = plan.collect { case f: FileSourceScanExec =>
          f.metadata.getOrElse("PushedFilters", "") }
        assert(pushed.exists(_.contains("IsNotNull(turn_idx)")), s"$name\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
