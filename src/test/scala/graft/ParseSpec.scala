package graft

import org.apache.spark.sql.functions._
import graft.functions.RegexExtractStruct
import graft.model.Transcripts
import graft.parse.ParseOps

class ParseSpec extends SparkTestBase {
  import spark.implicits._

  lazy val t = Transcripts.fromEvents(spark, sfDir).cache()

  test("RegexExtractStruct extracts all nginx groups in one pass") {
    val line = """10.1.2.3 - user7 [05/Feb/2024:10:11:12 +0000] "GET /api/v1/view/42 HTTP/1.1" 404 123 "-" "agent/3""""
    val df = Seq(line).toDF("text")
      .select(RegexExtractStruct.of($"text", ParseOps.NginxPattern, ParseOps.NginxFields).as("p"))
      .select($"p.remote_addr", $"p.method", $"p.status", $"p.http_user_agent")
    val r = df.collect().head
    assert(r.getString(0) == "10.1.2.3")
    assert(r.getString(1) == "GET")
    assert(r.getString(2) == "404")
    assert(r.getString(3) == "agent/3")
  }

  test("RegexExtractStruct codegen and interpreted paths agree") {
    val lines = t.filter(ParseOps.isNginx).select($"text").limit(200)
    val (generated, interpreted) = inCodegenModes {
      val viaStruct = lines.select(
        RegexExtractStruct.of($"text", ParseOps.NginxPattern, ParseOps.NginxFields)
          .getField("status").as("s")).collect().map(_.getString(0)).toSeq
      val viaBuiltin = lines.select(
        regexp_extract($"text", ParseOps.NginxPattern, 7).as("s"))
        .collect().map(_.getString(0)).toSeq
      assert(viaStruct.nonEmpty && viaStruct == viaBuiltin)
      viaStruct
    }
    assert(generated == interpreted)
  }

  test("RegexExtractStruct returns null struct on no-match (on_error drop parity)") {
    val df = Seq("not an access log").toDF("text")
      .select(RegexExtractStruct.of($"text", ParseOps.NginxPattern, ParseOps.NginxFields).as("p"))
    assert(df.collect().head.isNullAt(0))
  }

  test("strptime translation covers plugin layouts") {
    assert(ParseOps.strptimeToJava("%d/%b/%Y:%H:%M:%S %z") == "dd/MMM/yyyy:HH:mm:ss Z")
    assert(ParseOps.strptimeToJava("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss")
  }

  test("parseTime round-trips the generated time_local back to the event hour") {
    val parsed = ParseOps.parseTime(t)
    assert(parsed.filter($"event_ts".isNull).count() == 0)
    // times must be within the events table's range
    val mn = parsed.agg(min($"event_ts")).collect().head.getTimestamp(0)
    assert(mn.toString.startsWith("2024-01"))
  }

  test("severity mapping follows 2xx..5xx classes (nginx_logs.yaml:100-106)") {
    val sev = ParseOps.parseSeverity(t)
    val bad = sev.filter(
      ($"status" >= 500 && $"severity_number" =!= 17) ||
      ($"status" >= 400 && $"status" < 500 && $"severity_number" =!= 13) ||
      ($"status" < 400 && $"severity_number" =!= 9)).count()
    assert(bad == 0)
  }

  test("recombine sessionizes partial turns until final marker") {
    import org.apache.spark.sql.Row
    val rows = ParseOps.recombine(t).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val combined = r.getAs[String]("combined")
      val parts = combined.split("\n")
      // every non-last part is partial; sessions are F-terminated or a
      // trailing unterminated remainder
      parts.init.foreach(p => assert(p.startsWith("P|"), s"mid-session final: $combined"))
    }
  }

  test("layout translators quote literal-letter RUNS as one section") {
    // 'U''T''C' would read '' as an escaped quote; must be 'UTC'
    assert(ParseOps.strptimeToJava("%H:%M:%S UTC") == "HH:mm:ss 'UTC'")
    assert(ParseOps.gotimeToJava("15:04:05 UTC") == "HH:mm:ss 'UTC'")
    assert(ParseOps.strptimeToJava("%Y-%m-%dT%H:%M:%S.%LZ") ==
      "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
  }

  test("gotime layouts translate to DateTimeFormatter patterns") {
    assert(ParseOps.gotimeToJava("2006-01-02T15:04:05Z07:00") ==
      "yyyy-MM-dd'T'HH:mm:ssXXX")
    assert(ParseOps.gotimeToJava("Jan _2 15:04:05") == "MMM d HH:mm:ss")
    assert(ParseOps.gotimeToJava("Jan 02 15:04:05") == "MMM dd HH:mm:ss")
    assert(ParseOps.gotimeToJava("2006-01-02 15:04:05.000") ==
      "yyyy-MM-dd HH:mm:ss.SSS")
  }

  test("gotime parse: space-padded day squeezes; year-less layouts take default_year") {
    val df = Seq("Jan  2 15:04:05", "Jan 12 15:04:05").toDF("s")
    val out = df.select(ParseOps.gotimeParse($"s", "Jan _2 15:04:05", Some(2024))
        .cast("string").as("ts")).collect().map(_.getString(0))
    assert(out.toSeq == Seq("2024-01-02 15:04:05", "2024-01-12 15:04:05"))
    val iso = Seq("2024-03-04T05:06:07").toDF("s")
      .select(ParseOps.gotimeParse($"s", "2006-01-02T15:04:05")
        .cast("string").as("ts")).collect().head.getString(0)
    assert(iso == "2024-03-04 05:06:07")
  }

  test("strptime parse: ctimefmt directives, zone offsets, year default, null on mismatch") {
    val df = Seq("02-Jan-2024 03:04:05.123").toDF("s")
    val out = df.select(ParseOps.strptimeParse($"s", "%d-%b-%Y %H:%M:%S.%L")
      .cast("string").as("ts")).collect().head.getString(0)
    assert(out == "2024-01-02 03:04:05.123")
    val zoned = Seq("02/Jan/2024:21:07:50 +0100").toDF("s")
      .select(ParseOps.strptimeParse($"s", "%d/%b/%Y:%H:%M:%S %z")
        .cast("string").as("ts")).collect().head.getString(0)
    assert(zoned == "2024-01-02 20:07:50") // offset applied, session UTC
    val yearless = Seq("Mar 05 06:07:08").toDF("s")
      .select(ParseOps.strptimeParse($"s", "%b %d %H:%M:%S", Some(2024))
        .cast("string").as("ts")).collect().head.getString(0)
    assert(yearless == "2024-03-05 06:07:08")
    // regex-matched but layout-invalid text yields null, not a job abort
    val bad = Seq("Xyz 99 99:99:99").toDF("s")
      .select(ParseOps.strptimeParse($"s", "%b %d %H:%M:%S", Some(2024)).as("ts"))
      .collect().head
    assert(bad.isNullAt(0))
  }

  test("CEF plugin timezone param: zone-less timestamps convert from location to UTC") {
    val line = "Jan 02 10:00:00 sec1 CEF:0|v|p|1|SIG|ev|2|x=1"
    val df = Seq(("c1", 0, line)).toDF("conv_id", "turn_idx", "line")
    def tsWith(tz: String) = graft.plugins.Plugins.CefPlugin(
        spark, Map("timezone" -> tz))(df)
      .select(col("event_ts").cast("string")).collect().head.getString(0)
    assert(tsWith("UTC") == "2024-01-02 10:00:00")
    // 10:00 wall time in UTC+2 (no DST in January) = 08:00 UTC
    assert(tsWith("Europe/Helsinki") == "2024-01-02 08:00:00")
  }

  test("assign_keys pads short value lists with nulls (per-record on_error)") {
    val df = Seq("a,b,c", "a,b").toDF("text")
    val keys = Seq("k1", "k2", "k3")
    val out = df.select(
        ParseOps.assignKeys(split($"text", ","), keys).as("m"))
      .collect().map(_.getAs[Map[String, String]]("m"))
    assert(out(0) == Map("k1" -> "a", "k2" -> "b", "k3" -> "c"))
    assert(out(1)("k1") == "a" && out(1)("k2") == "b" && out(1)("k3") == null)
  }

  test("field ops: retain projects exactly the listed columns") {
    val cols = ParseOps.fieldOps(t).columns.toSeq
    assert(cols == Seq("conv_id", "turn_idx", "level", "service", "code", "env",
      "log_record_original"))
  }
}

class RecombineConfigSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._
  import graft.parse.ParseOps
  import spark.implicits._

  private def df = Seq(
    ("c1", 1, "u", "F|a"), ("c1", 2, "u", "P|b"), ("c1", 3, "a", "P|c"),
    ("c1", 4, "a", "P|d"), ("c1", 5, "u", "F|e")).toDF(
    "conv_id", "turn_idx", "role", "text")

  test("exactly one boundary marker is required; bad config rejects") {
    intercept[IllegalArgumentException] {
      ParseOps.recombineConfigured(df, ParseOps.RecombineConfig())
    }
    intercept[IllegalArgumentException] {
      ParseOps.recombineConfigured(df, ParseOps.RecombineConfig(
        isFirstEntry = Some(lit(true)), isLastEntry = Some(lit(true))))
    }
    intercept[IllegalArgumentException] {
      ParseOps.recombineConfigured(df, ParseOps.RecombineConfig(
        isFirstEntry = Some(lit(true)), overwriteWith = "middle"))
    }
  }

  test("first-entry batching, max_batch_size chunks, overwrite_with anchors") {
    val out = ParseOps.recombineConfigured(df, ParseOps.RecombineConfig(
      isFirstEntry = Some(col("text").startsWith("F|")),
      combineWith = "|", maxBatchSize = 3, overwriteWith = "newest"))
      .collect().map(r => (r.getAs[Long]("session_id"), r.getAs[Long]("chunk")) ->
        (r.getAs[String]("combined"), r.getAs[String]("anchor_role"))).toMap
    // session 1 = F|a..P|d, split at 3 parts; session 2 = F|e
    assert(out((1L, 0L))._1 == "F|a|P|b|P|c")
    assert(out((1L, 1L))._1 == "P|d")
    assert(out((2L, 0L))._1 == "F|e")
    assert(out((1L, 0L))._2 == "a") // newest entry in chunk is turn 3 (role a)
    // oldest flips the anchor to the chunk's first entry
    val oldest = ParseOps.recombineConfigured(df, ParseOps.RecombineConfig(
      isFirstEntry = Some(col("text").startsWith("F|")),
      maxBatchSize = 3))
      .collect().map(r => (r.getAs[Long]("session_id"), r.getAs[Long]("chunk")) ->
        r.getAs[String]("anchor_role")).toMap
    assert(oldest((1L, 0L)) == "u")
  }

  test("strptime %L truncates 4-6 digit fractions to millis instead of nulling") {
    // solr logs carry 3-6 fractional digits; DateTimeFormatter 'SSS' is
    // exactly-3, so higher precision must truncate, not null the timestamp
    val df = Seq("2024-01-02 03:04:05.123", "2024-01-02 03:04:05.123456",
      "2024-01-02 03:04:05.1234").toDF("s")
    val out = df.select(ParseOps.strptimeParse(col("s"),
      "%Y-%m-%d %H:%M:%S.%L").as("ts")).collect().map(_.getAs[java.sql.Timestamp](0))
    assert(out.forall(_ != null))
    assert(out.forall(_.getTime == java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123").getTime))
  }
}
