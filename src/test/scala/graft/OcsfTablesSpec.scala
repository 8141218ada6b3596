package graft

import graft.enrich.{EnrichOps, OcsfTables}

/** Locks the GENERATED OCSF schema tables (graft/ocsf_schema.tsv, extracted
  * by tools/gen_ocsf_schema.py) against the previously hand-curated values
  * that were verified field-by-field against the reference's generated
  * validators in rounds 3-4 — a regression gate on the generator itself —
  * and exercises the new full-surface lookups (field types, mapping
  * coverage, all 8 versions).
  */
class OcsfTablesSpec extends SparkTestBase {

  test("all 8 reference spec versions load with full class registries") {
    assert(OcsfTables.versions ==
      Seq("1.0.0", "1.1.0", "1.2.0", "1.3.0", "1.4.0", "1.5.0", "1.6.0", "1.7.0"))
    // the class surface GROWS monotonically across versions
    val sizes = OcsfTables.versions.map(v => OcsfTables.byVersion(v).classes.size)
    assert(sizes.head >= 25 && sizes == sizes.sorted)
    // spot class names from the ClassUID constant registry
    val v11 = OcsfTables.byVersion("1.1.0")
    assert(v11.classNames(4002) == "HTTPActivity")
    assert(v11.classNames(3002) == "Authentication")
    assert(v11.objects.contains("http_request"))
  }

  test("generated v1.1.0 tables match the hand-verified round-4 values") {
    val t = OcsfTables.forVersion("1.1.0").get.classes
    // File System Activity (v1_1_0/schema.go validateFileActivity)
    assert(t(1001).required == Seq("activity_id", "actor", "category_uid",
      "class_uid", "device", "file", "metadata", "severity_id", "time", "type_uid"))
    assert(t(1001).enums("activity_id") == ((0L to 14L) :+ 99L))
    assert(t(1001).enums("type_uid") == ((100100L to 100114L) :+ 100199L))
    // Authentication incl. the anyOf constraint
    assert(t(3002).atLeastOne == Seq(Seq("dst_endpoint", "service")))
    assert(t(3002).enums("logon_type_id") ==
      (Seq(0L, 2L, 3L, 4L, 5L) ++ (7L to 13L) :+ 99L))
    assert(t(3002).enums("auth_protocol_id") == ((0L to 10L) :+ 99L))
    // Detection Finding: status_id wider than the usual 0-2
    assert(t(2004).enums("status_id") == ((0L to 4L) :+ 99L))
    assert(t(2004).enums("risk_level_id") == (0L to 4L))
    // DNS Activity: sparse non-contiguous enums
    assert(t(4003).enums("activity_id") == Seq(0L, 1L, 2L, 6L, 99L))
    assert(t(4003).enums("rcode_id") == ((0L to 11L) ++ (16L to 25L) :+ 99L))
    // HTTP Activity requires both request and response in 1.1.0
    assert(t(4002).required.contains("http_request") &&
      t(4002).required.contains("http_response"))
    // API Activity
    assert(t(6003).required.contains("api") &&
      t(6003).enums("type_uid") == ((600300L to 600304L) :+ 600399L))
    // Process / Network activity
    assert(t(1007).enums("injection_type_id") == Seq(0L, 1L, 2L, 99L))
    assert(t(4001).required.contains("dst_endpoint"))
  }

  test("generated v1.7.0 tables keep the version-dimension differences") {
    val t = OcsfTables.forVersion("1.7.0").get.classes
    // 1.7 WIDENS authentication enums vs 1.1
    assert(t(3002).enums("activity_id") == ((0L to 7L) :+ 99L))
    assert(t(3002).enums("auth_protocol_id") == ((0L to 12L) :+ 99L))
    assert(t(3002).enums("account_switch_type_id") == Seq(0L, 1L, 2L, 99L))
    assert(t(3002).enums("logon_type_id") ==
      ((0L to 5L) ++ (7L to 13L) :+ 99L))
    // and RELAXES http requirements into an any-of constraint
    assert(!t(4002).required.contains("http_request"))
    assert(t(4002).atLeastOne == Seq(Seq("http_request", "http_response")))
    assert(t(4002).enums("activity_id") == ((0L to 9L) :+ 99L))
    assert(t(4002).enums("observation_point_id") == ((0L to 4L) :+ 99L))
  }

  test("lookupFieldType resolves dotted paths through object fields") {
    // top-level scalar
    assert(OcsfTables.lookupFieldType("1.1.0", 4002, "activity_id") ==
      Some("integer"))
    // one level into an object (http_request is an http_request object)
    assert(OcsfTables.lookupFieldType("1.1.0", 4002, "http_request.url.port") ==
      Some("integer"))
    assert(OcsfTables.lookupFieldType("1.1.0", 4002, "http_response.code") ==
      Some("integer"))
    assert(OcsfTables.lookupFieldType("1.1.0", 3002, "user.name") ==
      Some("string"))
    // unknown pieces resolve to None, never throw
    assert(OcsfTables.lookupFieldType("1.1.0", 4002, "nope.deep") == None)
    assert(OcsfTables.lookupFieldType("9.9.9", 4002, "activity_id") == None)
  }

  test("validateMappingCoverage: required, any-of, and nested object recursion") {
    val full = Seq("activity_id", "category_uid", "class_uid", "metadata",
      "severity_id", "time", "type_uid", "user.name", "dst_endpoint.ip")
    assert(OcsfTables.validateMappingCoverage("1.1.0", 3002, full).isEmpty ||
      // metadata/user are object fields — if their object reqs demand more,
      // the errors must reference the nested path
      OcsfTables.validateMappingCoverage("1.1.0", 3002, full)
        .forall(e => e.contains("metadata.") || e.contains("user.") ||
          e.contains("dst_endpoint.")))
    // dropping a required field is reported at the top level
    val missing = OcsfTables.validateMappingCoverage("1.1.0", 3002,
      full.filterNot(_ == "time"))
    assert(missing.exists(_.contains("\"time\"")))
    // violating the at-least-one group (no dst_endpoint AND no service)
    val noAnyOf = OcsfTables.validateMappingCoverage("1.1.0", 3002,
      full.filterNot(_.startsWith("dst_endpoint")))
    assert(noAnyOf.exists(_.contains("at least one of")))
    // nested recursion: mapping INTO an object pulls in that object's
    // requirement set with the dotted prefix
    val nested = OcsfTables.validateMappingCoverage("1.1.0", 4002,
      Seq("activity_id", "category_uid", "class_uid", "metadata",
        "severity_id", "time", "type_uid", "src_endpoint", "dst_endpoint",
        "http_request.url.hostname", "http_response"))
    val httpReqReqs = OcsfTables.byVersion("1.1.0").objects("http_request")
    if (httpReqReqs.required.nonEmpty || httpReqReqs.atLeastOne.nonEmpty)
      assert(nested.exists(_.contains("http_request.")))
  }

  test("coverageValidation rejects an under-mapped config at plan time") {
    import org.apache.spark.sql.functions._
    val df = spark.range(3).toDF("turn_idx").withColumn("role", lit("user"))
    val mappings = Seq(EnrichOps.EventMapping(None, 3002, Seq(
      EnrichOps.FieldMapping("activity_id", from = Some(lit(1))))))
    val e = intercept[IllegalArgumentException] {
      EnrichOps.ocsfStandardizeConfig(df, mappings, coverageValidation = true)
    }
    assert(e.getMessage.contains("coverage validation"))
    assert(e.getMessage.contains("user")) // names the missing required field
  }

  test("forVersion fallback is deterministic in both directions") {
    // unknown patch / suffix resolves through the major.minor family
    assert(OcsfTables.forVersion("1.1.2").exists(_.classes.contains(4002)))
    assert(OcsfTables.forVersion("1.1.0-rc") ==
      OcsfTables.forVersion("1.1.0"))
    // a short prefix resolves to the LOWEST matching version, stably
    assert(OcsfTables.forVersion("1.1") == OcsfTables.forVersion("1.1.0"))
    assert(OcsfTables.forVersion("1") == OcsfTables.forVersion("1.0.0"))
    assert(OcsfTables.forVersion("9.9.9").isEmpty)
  }

  test("BaseEvent (uid 0) rides the ValidateClass dispatch into the tables") {
    // classFieldReqs omits uid 0 but ValidateClass dispatches it — the
    // generator synthesizes its requirement set from validateBaseEvent
    val base = OcsfTables.byVersion("1.7.0").classes(0)
    assert(base.required.contains("metadata"))
    assert(base.enums("class_uid") == Seq(0L))
    assert(base.enums("severity_id") == ((0L to 6L) :+ 99L))
  }

  test("runtime presence checks are per-mapping, not cross-mapping") {
    import org.apache.spark.sql.functions._
    // mapping A descends into http_request; mapping B does not. B's rows
    // must FAIL 4002's required http_request check even though A's dotted
    // paths exist in the query (ValidateClass sees one body at a time).
    val df = spark.range(10).toDF("turn_idx")
      .withColumn("role", lit("user"))
    def fields(withHttp: Boolean) = Seq(
      EnrichOps.FieldMapping("activity_id", from = Some(lit(1))),
      EnrichOps.FieldMapping("severity_id", from = Some(lit(1))),
      EnrichOps.FieldMapping("time", from = Some(col("turn_idx"))),
      EnrichOps.FieldMapping("src_endpoint", from = Some(lit("10.0.0.1"))),
      EnrichOps.FieldMapping("dst_endpoint", from = Some(lit("10.0.0.2"))),
      EnrichOps.FieldMapping("http_response", from = Some(lit(200)))) ++
      (if (withHttp)
        Seq(EnrichOps.FieldMapping("http_request.url.path", from = Some(lit("/"))))
      else Nil)
    val mappings = Seq(
      EnrichOps.EventMapping(Some(col("turn_idx") % 2 === 0), 4002, fields(true)),
      EnrichOps.EventMapping(None, 4002, fields(false)))
    val out = EnrichOps.ocsfStandardizeConfig(df, mappings,
      version = "1.1.0", runtimeValidation = true, keep = Seq("turn_idx"))
    // even rows (mapping A) survive; odd rows (mapping B, no http_request)
    // drop at the required-field check
    val kept = out.select("turn_idx").collect().map(_.getLong(0)).sorted
    assert(kept.forall(_ % 2 == 0) && kept.length == 5)
  }

  test("maxLens and justOne survive extraction where the schema defines them") {
    val v11 = OcsfTables.byVersion("1.1.0")
    // string length caps exist on every class (message etc. cap at 65535)
    assert(v11.classes(4002).maxLens.get("message").contains(65535))
    // at least one owner in some version carries a justOne group
    val anyJustOne = OcsfTables.versions.exists { v =>
      val vs = OcsfTables.byVersion(v)
      (vs.classes.values ++ vs.objects.values).exists(_.justOne.nonEmpty)
    }
    assert(anyJustOne)
  }
}
