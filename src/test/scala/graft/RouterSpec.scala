package graft

import org.apache.spark.sql.functions._
import graft.model.Transcripts
import graft.parse.ParseOps
import graft.route.Router

case class Turn(conv_id: String, turn_idx: Int, role: String, text: String,
                tool: String)

/** Routed-row set equality + per-turn text equality under stable
  * (conv_id, turn_idx) ordering — the BASELINE correctness contract —
  * verified against an independent in-memory Scala oracle (FIXTURES.md §3).
  */
class RouterSpec extends SparkTestBase {
  import spark.implicits._

  lazy val turns: Seq[Turn] =
    Transcripts.fromEvents(spark, sfDir)
      .select($"conv_id", $"turn_idx", $"role", $"text", $"tool")
      .as[Turn].collect().toSeq

  /** Independent per-record reimplementation of severity + first-match
    * routing (plain Scala, no Spark). */
  def oracleSeverity(text: String): Int = {
    def cls(status: Int) = if (status >= 500) 17 else if (status >= 400) 13 else 9
    def lvl(l: String) = l match { case "error" => 17; case "warn" => 13; case _ => 9 }
    if (text.startsWith("10.")) {
      val m = """" (\d{3}) """.r.findFirstMatchIn(text)
      m.map(x => cls(x.group(1).toInt)).getOrElse(9)
    } else if (text.startsWith("{"))
      lvl(""""level":"(\w+)"""".r.findFirstMatchIn(text).map(_.group(1)).getOrElse(""))
    else if (text.matches("^\\d{2}/.*")) lvl(text.split(",")(1))
    else if (text.startsWith("level="))
      lvl("""level=(\w+)""".r.findFirstMatchIn(text).map(_.group(1)).getOrElse(""))
    else if (text.startsWith("<")) {
      val sev = """^<(\d+)>""".r.findFirstMatchIn(text).map(_.group(1).toInt % 8).getOrElse(7)
      if (sev <= 3) 17 else if (sev == 4) 13 else 9
    } else 9
  }

  def oracleRoute(t: Turn): String =
    if (oracleSeverity(t.text) >= 17) "sink_errors"
    else if (t.tool.nonEmpty) "sink_tools"
    else "sink_default"

  lazy val sparkRouted: Map[(String, Int), (String, String)] =
    Router.tagged(Transcripts.fromEvents(spark, sfDir))
      .select($"conv_id", $"turn_idx", $"route", $"text")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getString(2), r.getString(3)))
      .toMap

  test("routed-row set equality vs independent oracle, per sink") {
    val oracle = turns.map(t => (t.conv_id, t.turn_idx) -> oracleRoute(t)).toMap
    assert(sparkRouted.size == oracle.size)
    val mismatches = oracle.filter { case (k, route) => sparkRouted(k)._1 != route }
    assert(mismatches.isEmpty, s"route mismatches: ${mismatches.take(3)}")
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val oracleSorted = turns.sortBy(t => (t.conv_id, t.turn_idx)).map(_.text)
    val sparkSorted = Router.tagged(Transcripts.fromEvents(spark, sfDir))
      .orderBy($"conv_id", $"turn_idx")
      .select($"text").as[String].collect().toSeq
    assert(sparkSorted == oracleSorted)
  }

  test("first-match wins: error rows with tools route to sink_errors, not sink_tools") {
    val both = turns.filter(t => oracleSeverity(t.text) >= 17 && t.tool.nonEmpty)
    assert(both.nonEmpty) // fixture must exercise the precedence
    both.foreach { t =>
      assert(sparkRouted((t.conv_id, t.turn_idx))._1 == "sink_errors")
    }
  }

  test("per-sink aggregate counts are exact") {
    val oracleCounts = turns.groupBy(oracleRoute).view.mapValues(_.size.toLong).toMap
    val sparkCounts = Router.tagged(Transcripts.fromEvents(spark, sfDir))
      .groupBy($"route").count().as[(String, Long)].collect().toMap
    assert(sparkCounts == oracleCounts)
  }

  test("topology routes: all-four-headers gate, last-seen wins per gateway") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val rows = Seq(
      // same gateway seen twice → ONE row, max ts (UpsertRoute map-key dedup)
      (ts(10), "o1", "a1", "c1", "g1"),
      (ts(20), "o1", "a1", "c1", "g1"),
      // a second gateway
      (ts(15), "o2", "a2", "c2", "g2"),
      // each of the four headers absent or empty → ignored entirely
      (ts(99), null, "a1", "c1", "g1"),
      (ts(99), "o1", "", "c1", "g1"),
      (ts(99), "o1", "a1", null, "g1"),
      (ts(99), "o1", "a1", "c1", ""))
      .toDF("ts", "h_organization_id", "h_account_id", "h_configuration",
        "h_resource_name")
    val got = Router.topologyRoutes(rows,
      Router.GatewayInfo("org", "acct", "cfg", "gw"))
      .select($"dest_organization_id", $"dest_gateway_id", $"last_updated")
      .as[(String, String, Timestamp)].collect().toSet
    assert(got == Set(("o1", "g1", ts(20)), ("o2", "g2", ts(15))))
  }

  test("chronicle request batches: size-cap and drop invariants hold") {
    val t = Transcripts.fromEvents(spark, sfDir)
    val cap = 16384L
    val batches = Router.chronicleRequestBatches(t, capBytes = cap)
      .select($"n_entries", $"batch_bytes", $"dropped")
      .as[(Long, Long, Boolean)].collect()
    assert(batches.nonEmpty)
    // every batch is a partition of its chunk's entries
    assert(batches.map(_._1).sum == t.count())
    // marshal.go:487-515 parity: a kept request fits the cap; a dropped
    // "request" is a singleton entry that can never fit
    batches.foreach { case (n, bytes, dropped) =>
      if (dropped) assert(n == 1 && bytes > cap,
        s"dropped batch must be an over-cap singleton, got n=$n bytes=$bytes")
      else assert(bytes <= cap,
        s"kept batch over the cap: n=$n bytes=$bytes")
    }
    // the synthetic oversized entries exist in the fixture → the drop
    // path is actually exercised
    assert(batches.exists(_._3))
  }
}
