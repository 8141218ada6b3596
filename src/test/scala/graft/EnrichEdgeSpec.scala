package graft

import org.apache.spark.sql.functions._
import graft.enrich.EnrichOps

class EnrichEdgeSpec extends SparkTestBase {
  import spark.implicits._

  test("mask field exclusion leaves excluded columns untouched") {
    val df = Seq(("a@b.com", "c@d.com")).toDF("contact", "audit_raw")
    val masked = EnrichOps.maskColumns(df, exclude = Set("audit_raw")).collect().head
    assert(masked.getString(0) == "[masked_email]")
    assert(masked.getString(1) == "c@d.com")
  }

  test("map-typed remove-empty honors prefix-scoped excludes") {
    val df = Seq(1).toDF("x").select(
      map(lit("a"), lit("v"), lit("b"), lit(""), lit("keep_me"), lit("-"),
        lit("c"), lit("null")).as("attrs"))
    val cfg = EnrichOps.RemoveEmptyConfig(emptyStringValues = EnrichOps.EmptySentinels,
      excludeKeys = Set("keep_me"))
    val cleaned = df.select(EnrichOps.cleanDeepConfigured(col("attrs"),
        df.schema("attrs").dataType, cfg).as("m"))
      .select(map_keys(col("m")).as("ks")).collect().head.getSeq[String](0).sorted
    assert(cleaned == Seq("a", "keep_me"))
  }

  test("lookup CSV: header-driven columns, missing key no-op, non-string guard, reload") {
    import EnrichOps.{LookupSpec, lookupCsv, lookupFixture}
    val df = Seq(("user", 1), ("nobody", 2)).toDF("role", "n")
    val csv = lookupFixture("edge_lookup.csv", "role,team,cost_center",
      Seq(("user", "external", "cc-000")))
    val out = lookupCsv(spark, df, LookupSpec(csv, "attributes", "role")).collect()
      .map(r => r.getAs[String]("role") -> r.getAs[String]("team")).toMap
    assert(out("user") == "external")
    assert(out("nobody") == null) // key not found → silent no-op (csv.go:79-84)
    // missing key column → untouched frame (processor.go:294-297)
    val noKey = lookupCsv(spark, df.drop("role"),
      LookupSpec(csv, "attributes", "role"))
    assert(noKey.columns.toSeq == Seq("n"))
    // non-string key column → untouched frame (processor.go:299-301)
    val nonString = lookupCsv(spark, df.withColumn("role", col("n")),
      LookupSpec(csv, "attributes", "role"))
    assert(!nonString.columns.contains("team"))
    // reload parity: a rewritten CSV is picked up by the next compile
    lookupFixture("edge_lookup.csv", "role,team,cost_center",
      Seq(("user", "internal", "cc-999")))
    val out2 = lookupCsv(spark, df, LookupSpec(csv, "attributes", "role"))
      .collect().map(r => r.getAs[String]("role") -> r.getAs[String]("team")).toMap
    assert(out2("user") == "internal")
    // invalid context rejected at validate time (config.go Validate parity)
    intercept[IllegalArgumentException] {
      LookupSpec(csv, "bogus", "role").validate()
    }
  }

  test("mask excludes dotted sub-paths: map keys, deeper struct fields") {
    val pii = "mail user1@example.com now"
    val df = Seq(("c1", pii)).toDF("conv_id", "text")
      .withColumn("attrs", map(lit("contact"), col("text"), lit("secret"), col("text")))
      .withColumn("rec", struct(col("text").as("a"),
        struct(col("text").as("inner")).as("b")))
      .select(col("conv_id"), col("attrs"), col("rec"))
    val out = EnrichOps.maskColumns(df,
      Set("conv_id", "attrs.secret", "rec.b.inner")).collect().head
    val attrs = out.getAs[Map[String, String]]("attrs")
    assert(attrs("contact").contains("[masked_email]"))
    assert(attrs("secret") == pii) // excluded map key untouched
    val rec = out.getAs[org.apache.spark.sql.Row]("rec")
    assert(rec.getAs[String]("a").contains("[masked_email]"))
    assert(rec.getAs[org.apache.spark.sql.Row]("b").getAs[String]("inner") == pii)
  }

  test("mask: a NULL struct value stays null (no non-null row of nulls)") {
    val df = Seq(("c1", Some("mail a@b.io x")), ("c2", None))
      .toDF("conv_id", "s")
      .withColumn("rec", when(col("s").isNotNull,
        struct(col("s").as("a"))))
      .select(col("conv_id"), col("rec"))
    val out = EnrichOps.maskColumns(df, Set("conv_id"))
      .collect().map(r => r.getAs[String]("conv_id") -> r.isNullAt(1)).toMap
    assert(!out("c1") && out("c2"))
  }

  test("lookup CSV duplicate keys LAST-WIN; colliding columns overwrite matched rows only") {
    import EnrichOps.{LookupSpec, lookupCsv, lookupFixture}
    val df = Seq(("user", "orig"), ("tool", "orig")).toDF("role", "team")
    val csv = lookupFixture("dup_lookup.csv", "role,team,cost_center",
      Seq(("user", "first", "cc-1"), ("user", "last", "cc-2")))
    val out = lookupCsv(spark, df, LookupSpec(csv, "attributes", "role"))
    // no fact-row duplication from the dup dim key
    assert(out.count() == 2)
    val byRole = out.collect().map(r => r.getAs[String]("role") ->
      (r.getAs[String]("team"), r.getAs[String]("cost_center"))).toMap
    // last CSV row wins (indexRecords overwrite semantics, csv.go)
    assert(byRole("user") == ("last", "cc-2"))
    // unmatched row keeps its original colliding-column value
    assert(byRole("tool") == ("orig", null))
  }

  test("lookup CSV body context reads the key from the JSON body") {
    import EnrichOps.{LookupSpec, lookupCsv, lookupFixture}
    val df = Seq("""{"level":"error","status":500}""", """{"level":"info","status":200}""")
      .toDF("text")
    val csv = lookupFixture("level_lookup.csv", "level,pager,oncall",
      Seq(("error", "page", "sre")))
    val out = lookupCsv(spark, df, LookupSpec(csv, "body", "level")).collect()
      .map(r => r.getAs[String]("text").contains("error") -> r.getAs[String]("pager")).toMap
    assert(out(true) == "page" && out(false) == null)
  }

  test("remove-empty config: remove_nulls=false KEEPS null values") {
    import org.apache.spark.sql.types._
    val df = Seq(1).toDF("x").select(
      map(lit("k"), lit(null).cast("string"), lit("s"), lit("-")).as("m"))
    val cfg = EnrichOps.RemoveEmptyConfig(
      removeNulls = false, emptyStringValues = Seq("-"))
    val cleaned = df.select(EnrichOps.cleanDeepConfigured(col("m"),
      MapType(StringType, StringType), cfg).as("c")).collect().head
      .getAs[Map[String, String]]("c")
    // the sentinel "-" goes; the null survives because remove_nulls is off
    // (a NULL sentinel-comparison must not count as a drop)
    assert(cleaned.keySet == Set("k") && cleaned("k") == null)
  }

  test("remove-empty excludes: container key protects its UNTOUCHED subtree") {
    import org.apache.spark.sql.types._
    // cleanMap's RemoveIf returns false for an excluded key BEFORE any
    // recursion (processor.go:172-174) — the excluded container's contents
    // must survive even though every entry is a removable sentinel
    val df = Seq(1).toDF("x").select(
      map(lit("keep"), map(lit("e"), lit("-")),
          lit("drop"), map(lit("e"), lit("-"))).as("m"))
    val cfg = EnrichOps.RemoveEmptyConfig(
      removeEmptyMaps = true, emptyStringValues = Seq("-"),
      excludeKeys = Set("keep"))
    val cleaned = df.select(EnrichOps.cleanDeepConfigured(col("m"),
      MapType(StringType, MapType(StringType, StringType)), cfg).as("c"))
      .collect().head.getAs[Map[String, Map[String, String]]]("c")
    assert(cleaned.keySet == Set("keep"))
    assert(cleaned("keep") == Map("e" -> "-"))
  }

  test("remove-empty excludes: forwarded untrimmed into maps inside arrays") {
    import org.apache.spark.sql.types._
    // cleanSlice passes excludeKeys as-is to element maps (processor.go:204)
    val df = Seq(1).toDF("x").select(
      array(map(lit("note"), lit("-"), lit("q"), lit("")),
            map(lit("q"), lit(""))).as("a"))
    val cfg = EnrichOps.RemoveEmptyConfig(
      removeEmptyMaps = true, emptyStringValues = Seq("", "-"),
      excludeKeys = Set("note"))
    val cleaned = df.select(EnrichOps.cleanDeepConfigured(col("a"),
      ArrayType(MapType(StringType, StringType)), cfg).as("c"))
      .collect().head.getSeq[Map[String, String]](0)
    // first element keeps the excluded note (untouched "-"), loses q;
    // second element cleans to empty and is removed from the array
    assert(cleaned == Seq(Map("note" -> "-")))
  }

  test("coercion edge cases: overflow and malformed values return originals") {
    val df = Seq(("99999999999999999999", "2024-13-99T99:99:99", "maybe")).toDF("big", "badts", "word")
    val r = df.select(
      EnrichOps.coerceOcsf(col("big"), "long").as("big_out"),
      EnrichOps.coerceOcsf(col("badts"), "timestamp").as("ts_out"),
      EnrichOps.coerceOcsf(col("word"), "boolean").as("bool_out")).collect().head
    assert(r.getString(0) == "99999999999999999999") // 20 digits overflow long
    assert(r.getString(1) == "2024-13-99T99:99:99")  // shape-valid, not a time
    assert(r.getString(2) == "maybe")                 // not a ParseBool token
  }

  test("generated corpus is genuinely skewed and salted agg still exact") {
    val t = graft.model.Transcripts.generate(spark, nTurns = 30000, nConvs = 500)
      .cache()
    val counts = t.groupBy(col("conv_id")).count()
      .select(col("count")).as[Long].collect().sorted
    val max = counts.last
    val median = counts(counts.length / 2)
    assert(max > median * 20, s"expected hot keys: max=$max median=$median")
    // two-phase salted aggregation is exact on the skewed data
    val salted = graft.agg.AggOps.saltedCountByConv(t)
      .as[(String, Long)].collect().toMap
    val plain = t.groupBy(col("conv_id")).count().as[(String, Long)].collect().toMap
    assert(salted == plain)
    t.unpersist()
  }

  test("deep validation enforces exactly-one groups and string max lengths") {
    // class 3003's justOne {group, privileges} (J record, all versions) and
    // network_endpoint's ip:40 byte cap (L record, 1.7.0) — the two
    // TSV-carried constraint families the round-5 verdict flagged as read
    // by no predicate
    val t = graft.model.Transcripts.fromEvents(spark, sfDir).limit(600).cache()
    def base(extra: EnrichOps.FieldMapping*)(filterMod: Int) =
      EnrichOps.EventMapping(Some(col("turn_idx") % 3 === filterMod), 3003,
        Seq(
          EnrichOps.FieldMapping("activity_id", from = Some(lit(1))),
          EnrichOps.FieldMapping("severity_id", from = Some(lit(1))),
          EnrichOps.FieldMapping("time", from = Some(col("turn_idx").cast("long"))),
          // the metadata OBJECT validator requires product AND version
          // (R ometadata record); version is engine-computed, product is not
          EnrichOps.FieldMapping("metadata.product", from = Some(lit("graft"))),
          EnrichOps.FieldMapping("user.name", from = Some(lit("u")))) ++ extra)
    val longIp = "x" * 50
    val out = EnrichOps.ocsfStandardizeConfig(t, Seq(
        // BOTH of the exactly-one pair mapped -> every matched row dropped
        base(
          EnrichOps.FieldMapping("group.name", from = Some(lit("g"))),
          EnrichOps.FieldMapping("privileges", from = Some(lit("p"))))(0),
        // one of the pair + a conditional oversized ip -> only rows whose
        // ip exceeds 40 BYTES are dropped
        base(
          EnrichOps.FieldMapping("group.name", from = Some(lit("g"))),
          EnrichOps.FieldMapping("src_endpoint.ip",
            from = Some(when(col("turn_idx") % 2 === 0, longIp)
              .otherwise("1.2.3.4"))))(1),
        // the other one of the pair alone -> kept
        base(EnrichOps.FieldMapping("privileges", from = Some(lit("p"))))(2)),
      version = "1.7.0", runtimeValidation = true, deepValidation = true)
    val kept = out.select("turn_idx").as[Int].collect().toSet
    val expected = t.select("turn_idx").as[Int].collect().toSet
      .filter(i => i % 3 == 2 || (i % 3 == 1 && i % 2 != 0))
    assert(kept == expected,
      s"justOne/maxLens drops wrong rows: extra=${kept -- expected} missing=${expected -- kept}")
    // sanity: without deep validation the same config keeps every row
    val shallow = EnrichOps.ocsfStandardizeConfig(t, Seq(
        base(
          EnrichOps.FieldMapping("group.name", from = Some(lit("g"))),
          EnrichOps.FieldMapping("privileges", from = Some(lit("p"))))(0)),
      version = "1.7.0", runtimeValidation = true)
    assert(shallow.count() == t.filter(col("turn_idx") % 3 === 0).count())
    t.unpersist()
  }
}
