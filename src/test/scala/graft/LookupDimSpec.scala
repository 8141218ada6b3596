package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.enrich.EnrichOps
import graft.enrich.EnrichOps.LookupSpec
import graft.model.Transcripts
import graft.pipeline.Pipeline

/** The driver-parsed lookup dimension reads a CSV file exactly as Spark's
  * CSV source does, and the hash probe over it returns what a left join
  * on it returns.
  */
class LookupDimSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("lookup dim dialect == spark.read.csv after the same last-wins fold") {
    val dir = java.nio.file.Files.createTempDirectory("lookupdim")
    val csv = dir.resolve("adversarial.csv")
    java.nio.file.Files.write(csv, Seq(
      "k,a,b",
      "comma,\"x, y\",1",     // quoted comma
      "quote,\"say \"\"hi\"\"\",2", // escaped quote
      "empty,,3",              // empty field
      "qempty,\"\",4",         // quoted-empty field
      "short,only",            // short row: b pads with null
      "",                      // blank line: skipped
      "long,p,q,r",            // long row: extra field dropped
      "comma,last,5"           // duplicate key: this row wins
    ).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val dim = EnrichOps.lookupDim(spark, csv.toString, "k")
    val viaSource = spark.read.option("header", "true").csv(csv.toString)
    assert(dim.columns.toSeq == viaSource.columns.toSeq)
    def lastWins(rows: Seq[Seq[Any]]): Seq[Seq[Any]] =
      rows.reverse.distinctBy(_.head).reverse
    val expected = lastWins(viaSource.collect().toSeq.map(_.toSeq))
    assert(dim.rows.map(_.toSeq) == expected)
    // the fixture exercises what it claims: a real fold and null fields
    assert(expected.length == 6 && expected.exists(_.contains(null)))
    assert(expected.contains(Seq("comma", "last", "5")))
    Bench.deleteRec(dir.toString)
  }

  /** The lookup as a broadcast left join on the driver-parsed dim: the
    * formulation the hash probe replaced, kept as its reference.
    */
  private def joinReference(df: DataFrame, spec: LookupSpec): DataFrame = {
    val parsed = EnrichOps.lookupDim(spark, spec.csv, spec.field)
    val dim = spark.createDataFrame(parsed.rows.map(r => Row.fromSeq(r)).asJava,
      StructType(parsed.columns.map(StructField(_, StringType))))
    val keyCol: Option[Column] = spec.context match {
      case "body" => Some(get_json_object(col("text"), s"$$.${spec.field}"))
      case _ => df.schema.fields.find(_.name == spec.field) match {
        case Some(f) if f.dataType == StringType => Some(col(spec.field))
        case _ => None
      }
    }
    keyCol match {
      case None => df
      case Some(k) =>
        val dimKeyed = dim.withColumnRenamed(spec.field, "__lookup_key")
        val colliding = dimKeyed.columns.filter(c =>
          c != "__lookup_key" && df.columns.contains(c))
        val dimSafe = colliding.foldLeft(dimKeyed)(
          (d, c) => d.withColumnRenamed(c, s"__new_$c"))
        val joined = df.join(broadcast(dimSafe), k === col("__lookup_key"), "left")
        val overwritten = colliding.foldLeft(joined)((d, c) =>
          d.withColumn(c,
              when(col("__lookup_key").isNotNull, col(s"__new_$c"))
                .otherwise(col(c)))
            .drop(s"__new_$c"))
        overwritten.drop("__lookup_key")
    }
  }

  /** Same schema (names, order, types, nullability) and same rows. */
  private def assertSameAsJoin(df: DataFrame, spec: LookupSpec): Unit = {
    val got = EnrichOps.lookupCsv(spark, df, spec)
    val want = joinReference(df, spec)
    assert(got.schema == want.schema, s"${got.schema.simpleString} vs ${want.schema.simpleString}")
    def rows(d: DataFrame): Seq[String] = d.collect().toSeq.map(_.toSeq.mkString("|")).sorted
    assert(rows(got) == rows(want))
  }

  private def csvFile(dir: java.nio.file.Path, name: String, lines: Seq[String]): String = {
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("\n").getBytes(UTF_8))
    f.toString
  }

  test("hash-probe lookup == the broadcast left join on adversarial dims") {
    val dir = Files.createTempDirectory("lookupprobe")
    // fact keys: hits, a miss, an empty key and a null key
    val facts = Seq[(String, String, Int)](("user", "orig", 1), ("tool", "orig", 2),
      ("nobody", "orig", 3), ("", "orig", 4), (null, "orig", 5), ("user", null, 6))
      .toDF("role", "team", "n")
    // duplicate keys: the last row wins, no fact row is duplicated
    val dup = csvFile(dir, "dup.csv", Seq("role,cost_center,tier",
      "user,cc-1,a", "tool,cc-2,b", "user,cc-3,c"))
    // an empty and a quoted-empty key (both read as null: never matched),
    // and empty and quoted-empty values
    val empties = csvFile(dir, "empties.csv", Seq("role,cost_center,tier",
      ",cc-e,e", "\"\",cc-q,q", "user,,\"\"", "tool,\"\",x"))
    // a colliding column: overwritten on matched rows only, in place
    val colliding = csvFile(dir, "colliding.csv", Seq("role,team,cost_center",
      "user,ml,cc-1", "tool,,cc-2"))
    val headerOnly = csvFile(dir, "header_only.csv", Seq("role,cost_center,tier"))
    val keyOnly = csvFile(dir, "key_only.csv", Seq("role", "user", "tool", "user"))
    // the key column in the middle of the header
    val midKey = csvFile(dir, "mid_key.csv", Seq("team,role,tier", "x,user,1"))
    for (csv <- Seq(dup, empties, colliding, headerOnly, keyOnly, midKey))
      withClue(csv) { assertSameAsJoin(facts, LookupSpec(csv, "attributes", "role")) }
    // the same dims over a generated, codegen'd fact side
    val generated = Transcripts.generate(spark, nTurns = 2000, nConvs = 10)
    for (csv <- Seq(dup, empties, colliding, headerOnly, keyOnly, midKey))
      withClue(csv) { assertSameAsJoin(generated, LookupSpec(csv, "attributes", "role")) }
    // missing and non-string key columns: no-op on both sides
    assertSameAsJoin(facts.drop("role"), LookupSpec(dup, "attributes", "role"))
    assertSameAsJoin(facts.withColumn("role", col("n")), LookupSpec(dup, "attributes", "role"))
    // body context: the key is a JSON field of `text`, missing in some rows
    // and non-string in one
    val bodies = Seq("""{"level":"error"}""", """{"level":"info"}""", """{"x":1}""",
      """{"level":5}""", "not json").toDF("text")
    val levels = csvFile(dir, "levels.csv", Seq("level,pager,text",
      "error,page,replaced", "5,num,five"))
    assertSameAsJoin(bodies, LookupSpec(levels, "body", "level"))
    Bench.deleteRec(dir.toString)
  }

  test("hash-probe lookup over a 20,000-key dim: the join's rows, probe time flat in dim size") {
    val dir = Files.createTempDirectory("lookupbig")
    val big = csvFile(dir, "big.csv", "key,v,w" +:
      (0 until 20000).map(i => s"k$i,v$i,w${i % 7}"))
    val small = csvFile(dir, "small.csv", "key,v,w" +:
      (0 until 4).map(i => s"k$i,v$i,w$i"))
    // 200k fact rows; about half the keys are in the big dim
    val facts = spark.range(0, 200000).select(
      format_string("k%d", (col("id") * 7919) % 40000).as("key"), col("id"))
    assertSameAsJoin(facts.limit(5000), LookupSpec(big, "attributes", "key"))
    def probeSeconds(csv: String): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      EnrichOps.lookupCsv(spark, facts, LookupSpec(csv, "attributes", "key"))
        .agg(count(col("v")), max(col("w"))).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    probeSeconds(small) // warm
    val (tSmall, tBig) = (probeSeconds(small), probeSeconds(big))
    // a linear key scan would cost 200k × 10k string compares (seconds);
    // a hash probe costs the small dim's time
    assert(tBig < 4 * tSmall + 1.0, f"20k-key dim $tBig%.3f s vs 4-key dim $tSmall%.3f s")
    Bench.deleteRec(dir.toString)
  }

  private def joinsAndBroadcasts(df: DataFrame): Seq[SparkPlan] = {
    df.write.format("noop").mode("overwrite").save()
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case p: BaseJoinExec => p
      case p: BroadcastExchangeExec => p
    }
  }

  test("executed lookup plans hold no join and no broadcast exchange") {
    val canonical = Pipeline.compile(Pipeline.Canonical, spark)(
      Transcripts.fromEvents(spark, sfDir))
    val enriched = SparkEntry.queries("q_lookup_enrich")(spark, sfDir)
    for ((name, df) <- Seq("canonical" -> canonical, "q_lookup_enrich" -> enriched)) {
      val bad = joinsAndBroadcasts(df)
      assert(bad.isEmpty, s"$name: ${bad.map(_.nodeName).mkString(", ")}")
      assert(df.columns.contains("team") && df.columns.contains("vendor"), name)
    }
  }
}
