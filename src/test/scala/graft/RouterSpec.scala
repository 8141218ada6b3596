package graft

import org.apache.spark.sql.{Column, DataFrame}
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
  import RouterSpec._

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

  /** `rowSeverity` as nested `when` chains, each extraction written out
    * per comparison: the formulation the single-extraction one replaced,
    * kept as its reference.
    */
  private def chainSeverity: Column = {
    val nginxStatus = regexp_extract(col("text"), """" (\d{3}) """, 1)
    val jsonLevel = get_json_object(col("text"), "$.level")
    val csvLevel = element_at(split(col("text"), ","), 2)
    val kvLevel = regexp_extract(col("text"), """level=(\w+)""", 1)
    val syslogSev = regexp_extract(col("text"), """^<(\d+)>""", 1).cast("int") % 8
    def fromStatus(status: Column): Column =
      when(status >= 500, ParseOps.SevError).when(status >= 400, ParseOps.SevWarn)
        .otherwise(ParseOps.SevInfo)
    def fromLevel(level: Column): Column =
      when(level === "error", ParseOps.SevError).when(level === "warn", ParseOps.SevWarn)
        .otherwise(ParseOps.SevInfo)
    when(ParseOps.isNginx, fromStatus(nginxStatus.cast("int")))
      .when(ParseOps.isJson, fromLevel(jsonLevel))
      .when(ParseOps.isCsv, fromLevel(csvLevel))
      .when(ParseOps.isKv, fromLevel(kvLevel))
      .when(ParseOps.isSyslog,
        when(syslogSev <= 3, ParseOps.SevError)
          .when(syslogSev === 4, ParseOps.SevWarn)
          .otherwise(ParseOps.SevInfo))
      .otherwise(ParseOps.SevInfo)
  }

  /** (text, chain, single extraction) for every line, evaluated both on
    * the driver (a local relation folds the projection) and in generated
    * code (after a shuffle).
    */
  private def severities(lines: DataFrame): Seq[(String, Integer, Integer)] =
    Seq(lines, lines.repartition(2)).flatMap(_.select(col("text"),
        chainSeverity.as("chain"), Router.rowSeverity().as("single"))
      .as[(String, Integer, Integer)].collect())

  private val edgeLines: Seq[String] =
    Seq("399", "400", "499", "500", "999", "000").map(nginx) ++
      Seq("ERROR", "", "error", "warn", "info").flatMap(l => Seq(
        s"""{"level":"$l","status":500}""", s"01/Jan/2024,$l,ev,500,1",
        s"level=$l component=gen")) ++
      Seq("""{"level":17}""", """{"level":{"a":"error"}}""", """{"level":null}""",
        """{"status":500}""", "{not json", "level= no word", "level=", "01/Jan/2024,") ++
      (0 to 191).map(p => s"<$p>Jan 01 00:00:00 host1 gen[1]: GET /a completed status=200") ++
      Seq("", "plain text", "P|chunk contact user1@example.com", "F|chunk")

  test("single-extraction severity == the nested when chain on every input") {
    val generated = Transcripts.generate(spark, nTurns = 6000, nConvs = 20).select(col("text"))
    val gen = severities(generated)
    assert(gen.forall { case (_, a, b) => a == b },
      gen.filter { case (_, a, b) => a != b }.take(3).mkString("; "))
    // all six scenarios and all three severities are exercised
    assert(gen.map(_._1.take(2)).map {
      case p if p.startsWith("10") => "nginx"; case p if p.startsWith("{") => "json"
      case p if p.head.isDigit => "csv"; case "le" => "kv"; case p if p.startsWith("<") => "syslog"
      case _ => "multiline" }.distinct.size == 6)
    assert(gen.map(_._2).toSet == Set[Integer](9, 13, 17))
    for (ansi <- Seq(true, false)) withAnsi(ansi) {
      val lines = if (ansi) edgeLines else edgeLines ++ ansiFailing
      val got = severities((lines.map(Some(_)) :+ None).toDF("text"))
      assert(got.size == 2 * (lines.size + 1))
      val bad = got.filter { case (_, a, b) => a != b }
      assert(bad.isEmpty, s"ansi=$ansi: ${bad.take(5).mkString("; ")}")
    }
    // where the chain fails under ANSI, the single extraction does not:
    // a malformed line gets the ANSI-off chain's value (INFO)
    val ansiOff = withAnsi(false) {
      ansiFailing.map(line => Seq(line).toDF("text").select(chainSeverity).head().getInt(0))
    }
    assert(ansiOff.forall(_ == ParseOps.SevInfo))
    withAnsi(true) {
      for ((line, want) <- ansiFailing.zip(ansiOff)) {
        val r = scala.util.Try(Seq(line).toDF("text").repartition(1)
          .select(Router.rowSeverity()).head().getInt(0))
        assert(r == scala.util.Success(want), s"'$line': $r")
      }
    }
  }
}

object RouterSpec {
  private def nginx(status: String): String =
    s"""10.1.2.3 - user1 [01/Jan/2024:00:00:00 +0000] "GET /a HTTP/1.1" $status 12 "-" "agent/1""""

  /** Lines on which a plain cast fails under ANSI: no status, no syslog
    * priority, an int overflow, a CSV line without a second field.
    */
  val ansiFailing: Seq[String] = Seq(nginx("1000"), "10.no status here", "<>no priority",
    "<99999999999>overflow", "01/Jan/2024 no comma")
}
