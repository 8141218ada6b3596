package graft

import org.apache.spark.sql.functions._
import graft.agg.AggOps
import graft.expr.ExprLang
import graft.model.Transcripts
import graft.plugins.Plugins
import graft.route.Router
import graft.streaming.StreamingPipeline

class ExprLangSpec extends SparkTestBase {
  import spark.implicits._

  val cols = Set("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("comparison, boolean, regex and string operators compile and evaluate") {
    val df = Seq(
      ("tool", "search", "GET /x latency_ms=5"),
      ("user", "", "hello"),
      ("tool", "shell", "rm -rf")).toDF("role", "tool", "text")
    def n(src: String) = df.filter(ExprLang.boolExpr(src, cols)).count()
    assert(n("role == 'tool'") == 2)
    assert(n("role == 'tool' and tool == 'search'") == 1)
    assert(n("role != 'tool' or tool == 'shell'") == 2)
    assert(n("text matches 'latency_ms=\\d+'") == 1)
    assert(n("text contains 'rm'") == 1)
    assert(n("tool startsWith 'se'") == 1)
    assert(n("text endsWith 'hello'") == 1)
    assert(n("!(role == 'user')") == 2)
    assert(n("not (role == 'user')") == 2)
  }

  test("nil semantics: undefined variables are null (AllowUndefinedVariables)") {
    val df = Seq(("a", "x")).toDF("role", "text")
    assert(df.filter(ExprLang.boolExpr("no_such_field == nil", cols)).count() == 1)
    assert(df.filter(ExprLang.boolExpr("no_such_field == 'v'", cols)).count() == 0)
  }

  test("body alias resolves to text (Record env parity)") {
    val df = Seq(("hello world", "u")).toDF("text", "role")
    assert(df.filter(ExprLang.boolExpr("body contains 'world'", cols)).count() == 1)
  }

  test("numeric comparisons") {
    val df = Seq((1, 500), (2, 200)).toDF("turn_idx", "status")
    assert(df.filter(ExprLang.boolExpr("status >= 400", cols + "status")).count() == 1)
  }

  test("OTTL converter calls compile (ottl.go:92-143 subset)") {
    val df = Seq(("Hello World", "2024")).toDF("text", "y")
    def v(src: String) = df.select(ExprLang.valueExpr(src, cols).as("v"))
      .collect().head.get(0)
    assert(v("ToLowerCase(body)") == "hello world")
    assert(v("Substring(body, 0, 5)") == "Hello")
    assert(v("Len(body)") == 11L)
    assert(v("Concat('a', 'b')") == "ab")
    assert(df.filter(ExprLang.boolExpr("IsMatch(body, '^Hello')", cols)).count() == 1)
    assert(v("Int('42')") == 42L)
  }

  test("value-expression arithmetic: precedence, parens, unary minus, division") {
    val df = Seq((10, 3)).toDF("a", "b")
    val ac = cols + "a" + "b"
    def v(src: String) = df.select(ExprLang.valueExpr(src, ac).as("v"))
      .collect().head.get(0)
    assert(v("a + b * 2") == 16) // * binds tighter than +
    assert(v("(a + b) * 2") == 26)
    assert(v("a - b - 2") == 5) // left associative
    assert(v("a % b") == 1)
    assert(v("a / 4") == 2.5) // expr-lang `/` is float division
    assert(v("-a + 12") == 2)
    assert(v("a * -b") == -30)
  }

  test("ternary and list membership (expr-lang ?:, in, not in)") {
    val df = Seq(("tool", 10), ("user", 3)).toDF("role", "n")
    val ac = cols + "n"
    def v(src: String) = df.filter(col("role") === "tool")
      .select(ExprLang.valueExpr(src, ac).as("v")).collect().head.get(0)
    assert(v("n > 5 ? 'big' : 'small'") == "big")
    assert(v("n > 5 ? n * 2 : n") == 20L)
    assert(df.filter(ExprLang.boolExpr("role in ['tool', 'system']", ac)).count() == 1)
    assert(df.filter(ExprLang.boolExpr("role not in ['tool']", ac)).count() == 1)
    assert(df.filter(ExprLang.boolExpr("n in [3, 10]", ac)).count() == 2)
    // ternary must parse INSIDE parens and compose with arithmetic
    assert(v("(n > 5 ? 'big' : 'small')") == "big")
    assert(v("(n > 5 ? 1 : 2) * 3") == 3L)
  }

  test("ExtractPatterns group numbering skips lookbehinds and class parens") {
    val df = Seq("code 42 end").toDF("text")
    val m = df.select(ExprLang.valueExpr(
        """ExtractPatterns(body, '(?<!x)(?<num>[0-9]+)')""", cols).as("m"))
      .collect().head.getAs[Map[String, String]]("m")
    assert(m == Map("num" -> "42"))
  }

  test("expressionMap: failed/nil entries silently absent (expr/map.go:31-34)") {
    val df = Seq(("tool", 6), ("user", 5)).toDF("role", "n")
    val m = df.select(ExprLang.expressionMap(Seq(
        "role" -> "role",
        "big" -> "n > 5 ? 'y' : 'n'",
        "gone" -> "no_such_field"), cols + "n").as("m"))
      .collect().map(_.getAs[Map[String, String]]("m"))
    assert(m(0) == Map("role" -> "tool", "big" -> "y"))
    assert(m(1) == Map("role" -> "user", "big" -> "n"))
    assert(m.forall(!_.contains("gone"))) // skipped, not null
  }

  test("converter breadth: hash/string/case/time families (StandardConverters)") {
    val df = Seq(("Hello World", "2024-01-02 03:04:05")).toDF("text", "tstr")
    val ac = cols + "tstr"
    def v(src: String) = df.select(ExprLang.valueExpr(src, ac).as("v"))
      .collect().head.get(0)
    assert(v("SHA256('abc')") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    assert(v("MD5('abc')") == "900150983cd24fb0d6963f7d28e17f72")
    assert(v("Hex('AB')") == "4142")
    assert(v("TrimSpace('  x  ')") == "x")
    assert(v("Format('%s-%d', ['a', 7])") == "a-7") // slice arg flattens
    assert(v("ConvertCase('FooBarBaz', 'snake')") == "foo_bar_baz")
    // strcase acronym boundary: uppercase runs split before the last capital
    assert(v("ConvertCase('HTTPServer', 'snake')") == "http_server")
    assert(v("ConvertCase('parseJSONBody', 'snake')") == "parse_json_body")
    assert(v("ConvertCase('foo_bar', 'camel')") == "FooBar")
    assert(v("Split(body, ' ')").asInstanceOf[scala.collection.Seq[String]]
      .toSeq == Seq("Hello", "World"))
    assert(v("SHA512('abc')") ==
      "ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a" +
      "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f")
    assert(v("Base64Decode('aGVsbG8=')") == "hello")
    // Go time.ParseDuration semantics: composite units to nanoseconds,
    // invalid input → nil
    assert(v("Duration('1h30m')") == 5400000000000L)
    assert(v("Duration('1.5s')") == 1500000000L)
    assert(v("Duration('250ms')") == 250000000L)
    assert(v("Duration('2us')") == 2000L)
    assert(v("Duration('7ns')") == 7L)
    assert(v("Duration('oops')") == null)
    // Go accumulates repeated components left to right
    assert(v("Duration('1m30m')") == 1860000000000L)
    // duplicate bare tokens must dedup last-wins, not throw (free text
    // repeats tokens; Go map assignment is last-wins)
    val dupKv = v("ParseKeyValue('500 a b 500')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(dupKv.keySet == Set("500", "a", "b"))
    val dupKv2 = v("ParseKeyValue('k=1 k=2')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(dupKv2("k") == "2") // last wins
    // update overwrites even with a null source value (Go target[k] = nil)
    val updNull = v("MergeMaps(ParseKeyValue('a=1 b=2'), ParseKeyValue('a'), 'update')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(updNull.keySet == Set("a", "b") && updNull("a") == null)
    // Go Duration unit extractors: float64 for h/m/s, truncating int64 below
    assert(v("Hours(Duration('90m'))") == 1.5)
    assert(v("Minutes(Duration('90s'))") == 1.5)
    assert(v("Seconds(Duration('1500ms'))") == 1.5)
    assert(v("Milliseconds(Duration('1500us'))") == 1L)
    assert(v("Microseconds(Duration('1500ns'))") == 1L)
    assert(v("Nanoseconds(Duration('2us'))") == 2000L)
    assert(v("ToSnakeCase('HTTPServer')") == "http_server")
    assert(v("ToCamelCase('foo_bar')") == "FooBar")
    assert(v("GetXML('<a><b>7</b><c>x</c></a>', '/a/b/text()')") == "7")
    assert(v("GetXML('<a><b>7</b></a>', '/a/zzz')") == "")
    val kv = v("ParseKeyValue('k1=a k2=b')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(kv("k1") == "a" && kv("k2") == "b")
    val kvCustom = v("ParseKeyValue('k1:a|k2:b', ':', '|')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(kvCustom("k2") == "b")
    // default mode is STRICT (ottlfuncs parity): header/field count
    // mismatch errors upstream → null map here (statement no-op)
    assert(v("ParseCSV('x,y', 'c1,c2,c3')") == null)
    val csvStrict = v("ParseCSV('x,y,z', 'c1,c2,c3')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(csvStrict("c1") == "x" && csvStrict("c3") == "z")
    val csv = v("ParseCSV('x,y', 'c1,c2,c3', ',', ',', 'lax')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(csv("c1") == "x" && csv("c2") == "y" && csv("c3") == null)
    // lax with MORE fields than headers: extras drop (no null map keys)
    val csvLong = v("ParseCSV('x,y,z', 'c1,c2', ',', ',', 'lax')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(csvLong == Map("c1" -> "x", "c2" -> "y"))
    val up = v("MergeMaps(ParseKeyValue('a=1 b=2'), ParseKeyValue('b=9 c=3'), 'upsert')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(up == Map("a" -> "1", "b" -> "9", "c" -> "3"))
    val ins = v("MergeMaps(ParseKeyValue('a=1 b=2'), ParseKeyValue('b=9 c=3'), 'insert')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(ins == Map("a" -> "1", "b" -> "2", "c" -> "3"))
    val upd = v("MergeMaps(ParseKeyValue('a=1 b=2'), ParseKeyValue('b=9 c=3'), 'update')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(upd == Map("a" -> "1", "b" -> "9"))
    assert(v("Hour(Time(tstr, '%Y-%m-%d %H:%M:%S'))") == 3L)
    // ---- batch 3: remaining StandardConverters tiers ----
    assert(v("Decode('aGVsbG8=', 'base64')") == "hello")
    assert(v("Decode('aGVsbG8', 'base64url')") == "hello")
    assert(v("Decode('68656c6c6f', 'hex')") == "hello")
    assert(v("Weekday(Time('2024-03-05', '%Y-%m-%d'))") == 2L) // Tuesday=2 (Go)
    assert(v("UnixSeconds(Unix(1700000000))") == 1700000000L)
    assert(v("TraceID('ABCDEF00112233445566778899AABBCC')") ==
      "abcdef00112233445566778899aabbcc")
    assert(v("TraceID('not-a-trace-id')") == null)
    assert(v("SpanID('0011223344556677')") == "0011223344556677")
    assert(v("SpanID('xyz')") == null)
    assert(v("Sort(Split('b,a,c', ','), 'desc')")
      .asInstanceOf[scala.collection.Seq[String]].toSeq == Seq("c", "b", "a"))
    assert(v("IsInt('42')") == true && v("IsInt('4.2')") == false)
    assert(v("IsDouble('4.2')") == true && v("IsDouble('x')") == false)
    assert(v("IsBool('T')") == true && v("IsBool('maybe')") == false)
    // pcommon type predicates check the VALUE: nil is never a Str/Slice/Map
    assert(v("IsString('x')") == true && v("IsString(nil)") == false)
    assert(v("IsList(Split('a b', ' '))") == true && v("IsList(nil)") == false)
    assert(v("IsMap(ParseKeyValue('a=1'))") == true && v("IsMap(nil)") == false)
    // canonical seed-0 x86_32, hex of the LE digest (0xb3dd93fa)
    assert(v("Murmur3Hash('abc')") == "fa93ddb3")
    assert(v("Murmur3Hash128('abc')") == "6778ad3f3f3f96b4522dca264174a23b")
    assert(v("UUID()").toString
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(v("UUIDv7()").toString
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}"))
    assert(v("Now()").isInstanceOf[java.sql.Timestamp])
    val xm = v("ParseSimplifiedXML('<a><b>7</b><c>x</c></a>')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(xm == Map("b" -> "7", "c" -> "x"))
    assert(v("RemoveXML('<a><b>7</b><c>x</c></a>', '/a/b')") == "<a><c>x</c></a>")
    assert(v("InsertXML('<a><b>7</b></a>', '/a', '<c>2</c>')") ==
      "<a><b>7</b><c>2</c></a>")
    val gk = v("ExtractGrokPatterns('user alice logged in from 10.1.2.3', " +
      "'user %{USER:u} logged in from %{IP:ip}')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(gk == Map("u" -> "alice", "ip" -> "10.1.2.3"))
    val gkAll = v("ExtractGrokPatterns('code 42', 'code %{INT}', 'false')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(gkAll == Map("INT" -> "42"))
    // a non-matching input yields NO keys, not a map of empty strings
    val gkMiss = v("ExtractGrokPatterns('garbage', 'user %{USER:u} from %{IP:ip}')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(gkMiss.isEmpty)
    assert(v("ToKeyValueString(ParseKeyValue('b=2 a=1'), '=', ' ', 'true')") ==
      "a=1 b=2")
    val flat = v("Flatten(ParseKeyValue('a=1'), 'p')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(flat == Map("p.a" -> "1"))
    val ua = v("UserAgent('curl/8.4.0')")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(ua("user_agent.name") == "curl" && ua("user_agent.version") == "8.4.0")
    // SliceToMap over a real array-of-maps column (keyed by one entry,
    // duplicate keys last-win, null keys dropped)
    val arrDf = spark.sql(
      "SELECT array(map('id','a','x','1'), map('id','b','x','2'), " +
        "map('id','a','x','3'), map('x','9')) AS arr")
    val s2m = arrDf.select(ExprLang.valueExpr("SliceToMap(arr, 'id')",
        Set("arr")).as("v")).collect().head
      .getAs[Map[String, Map[String, String]]]("v")
    assert(s2m.keySet == Set("a", "b"))
    assert(s2m("a")("x") == "3") // last duplicate wins
    val s2mv = arrDf.select(ExprLang.valueExpr("SliceToMap(arr, 'id', 'x')",
        Set("arr")).as("v")).collect().head
      .getAs[Map[String, Map[String, String]]]("v")
    assert(s2mv("b") == Map("value" -> "2"))
    assert(v("URL('https://h.io/p/q?a=1')").asInstanceOf[org.apache.spark.sql.Row]
      .getAs[String]("host") == "h.io")
  }

  test("severity range mapping (common_event_format parity)") {
    val df = Seq(3, 7, 11).toDF("v")
    import graft.parse.ParseOps.{RangeRule, compileSeverityMapping}
    val sev = compileSeverityMapping(col("v"),
      Seq(17 -> Seq(RangeRule(0, 5)), 13 -> Seq(RangeRule(6, 9))))
    val got = df.select(sev.as("s")).collect().map(_.getInt(0)).toSeq
    assert(got == Seq(17, 13, 9))
  }
}

class OttlSpec extends SparkTestBase {
  import graft.expr.Ottl

  private def fixture = {
    import spark.implicits._
    Seq(("c1", 0, "user", "hello user42", "search"),
        ("c1", 1, "assistant", "hi there", ""))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("attributes",
        map(lit("env"), lit("staging"), lit("note"), lit("a very long note")))
  }

  test("set-where edits only matching rows; missing column is created") {
    val out = Ottl(Seq(
      """set(attributes["env"], 'prod') where role == 'assistant'""",
      """set(flag, 'x') where role == 'user'"""), fixture.columns.toSet)(fixture)
    val byRole = out.collect().map(r => r.getAs[String]("role") ->
      (r.getAs[Map[String, String]]("attributes")("env"), r.getAs[String]("flag"))).toMap
    assert(byRole("assistant")._1 == "prod" && byRole("user")._1 == "staging")
    assert(byRole("user")._2 == "x" && byRole("assistant")._2 == null)
  }

  test("delete/keep/truncate/replace statement forms") {
    val out = Ottl(Seq(
      """delete_key(attributes, 'note') where role == 'user'""",
      """truncate_all(attributes, 4)""",
      """replace_pattern(body, 'user[0-9]+', '***')"""),
      fixture.columns.toSet)(fixture)
    val byRole = out.collect().map(r => r.getAs[String]("role") ->
      (r.getAs[Map[String, String]]("attributes"), r.getAs[String]("text"))).toMap
    assert(!byRole("user")._1.contains("note"))
    assert(byRole("assistant")._1("note") == "a ve") // truncated to 4
    assert(byRole("user")._2 == "hello ***")
    val kept = Ottl(Seq("""keep_keys(attributes, 'env')"""),
      fixture.columns.toSet)(fixture)
    assert(kept.collect().forall(_.getAs[Map[String, String]]("attributes").keySet == Set("env")))
    // limit: priority keys survive first, remaining slots fill in map order
    val limited = Ottl(Seq("""limit(attributes, 2, 'note')"""),
      fixture.columns.toSet)(fixture)
    limited.collect().foreach { r =>
      val m = r.getAs[Map[String, String]]("attributes")
      assert(m.size <= 2)
      assert(m.contains("note") || r.getAs[String]("role") == "user")
    }
    // limit order parity: survivors keep ORIGINAL map order (RemoveIf
    // preserves entry order upstream) — priority keys are retained, the
    // remaining budget fills in map order, nothing reorders priority-first
    val fxOrder = spark.sql(
      "SELECT map('a','1','b','2','p','3','c','4') AS attributes, 'x' AS text")
    val limOrder = Ottl(Seq("""limit(attributes, 2, 'p')"""),
      fxOrder.columns.toSet)(fxOrder)
    val orderedKeys = limOrder.select(map_keys(col("attributes")))
      .collect().head.getSeq[String](0)
    assert(orderedKeys == Seq("a", "p")) // 'a' fills the budget; 'p' stays in place
    // a negative limit is a config error, not a silent slice
    intercept[IllegalArgumentException] {
      Ottl(Seq("""limit(attributes, -1)"""), fxOrder.columns.toSet)(fxOrder)
    }
    // limit below the priority-key count is a config error upstream too
    intercept[IllegalArgumentException] {
      Ottl(Seq("""limit(attributes, 1, 'p1', 'p2')"""),
        fxOrder.columns.toSet)(fxOrder)
    }
    // new editor forms: append, replace_match (whole-value glob),
    // replace_all_matches, keep_matching_keys, flatten
    val appended = Ottl(Seq(
      """append(tags, 'a')""",
      """append(tags, 'b', role)"""), fixture.columns.toSet)(fixture)
    appended.collect().foreach { r =>
      val tags = r.getSeq[String](r.fieldIndex("tags"))
      assert(tags == Seq("a", "b", r.getAs[String]("role")))
    }
    val rm = Ottl(Seq(
      """replace_match(body, 'hello*', 'greeting')""",
      """replace_all_matches(attributes, '*long*', 'redacted')"""),
      fixture.columns.toSet)(fixture)
    val rmByRole = rm.collect().map(r => r.getAs[String]("role") ->
      (r.getAs[String]("text"), r.getAs[Map[String, String]]("attributes"))).toMap
    assert(rmByRole("user")._1 == "greeting")     // whole-value glob hit
    assert(rmByRole("assistant")._1 == "hi there") // no hit → unchanged
    assert(rmByRole("user")._2("note") == "redacted")
    assert(rmByRole("user")._2("env") == "staging")
    val kept2 = Ottl(Seq("""keep_matching_keys(attributes, '^e')"""),
      fixture.columns.toSet)(fixture)
    assert(kept2.collect().forall(
      _.getAs[Map[String, String]]("attributes").keySet == Set("env")))
    val flat2 = Ottl(Seq("""flatten(attributes, 'log')"""),
      fixture.columns.toSet)(fixture)
    assert(flat2.collect().head.getAs[Map[String, String]]("attributes")
      .keySet == Set("log.env", "log.note"))
    // merge_maps editor: upsert pulls source keys into the target column
    val merged = Ottl(Seq(
      """merge_maps(attributes, ParseKeyValue('env=prod extra=1'), 'upsert')"""),
      fixture.columns.toSet)(fixture)
    merged.collect().foreach { r =>
      val m = r.getAs[Map[String, String]]("attributes")
      assert(m("env") == "prod" && m("extra") == "1")
    }
  }

  test("parenthesized where-clauses and parens inside args parse correctly") {
    val out = Ottl(Seq(
      """set(attributes["env"], 'prod') where (role == 'assistant' or role == 'x')""",
      """replace_pattern(body, '(user)[0-9]+', '$1')"""),
      fixture.columns.toSet)(fixture)
    val byRole = out.collect().map(r => r.getAs[String]("role") ->
      (r.getAs[Map[String, String]]("attributes")("env"), r.getAs[String]("text"))).toMap
    assert(byRole("assistant")._1 == "prod" && byRole("user")._1 == "staging")
    assert(byRole("user")._2 == "hello user")
  }

  test("replace_pattern on an ABSENT map key is a no-op (no key→NULL insert)") {
    val out = Ottl(Seq("""replace_pattern(attributes["missing"], 'a', 'b')"""),
      fixture.columns.toSet)(fixture)
    assert(out.collect().forall(
      _.getAs[Map[String, String]]("attributes").keySet == Set("env", "note")))
  }

  test("statement lists split on ';' respecting quotes") {
    val stmts = Ottl.splitStatements(
      """replace_pattern(body, 'a;b', 'x'); set(flag, 'y') where role == 'user'""")
    assert(stmts == Seq("replace_pattern(body, 'a;b', 'x')",
      "set(flag, 'y') where role == 'user'"))
  }

  test("statement tail requires a `where` word boundary ('whereas' rejects)") {
    intercept[IllegalArgumentException] {
      Ottl(Seq("set(flag, 'y') whereas role == 'user'"),
        fixture.columns.toSet)(fixture)
    }
  }

  test("NULL where-condition leaves the row unedited (false-on-error)") {
    val withNull = fixture.withColumn("maybe", when(col("role") === "user", "u"))
    val out = Ottl(Seq("""set(attributes["env"], 'prod') where maybe == 'u'"""),
      withNull.columns.toSet)(withNull)
    val byRole = out.collect().map(r => r.getAs[String]("role") ->
      r.getAs[Map[String, String]]("attributes")("env")).toMap
    assert(byRole("user") == "prod")
    assert(byRole("assistant") == "staging") // NULL condition → no edit
  }

  test("OTTL registry parity vs upstream StandardConverters (pkg/ottl v0.147.0)") {
    // expr/ottl.go:96 wires ottlfuncs.StandardConverters[T]() — the public
    // contrib registry at the version pinned by expr/go.mod (v0.147.0).
    // Every upstream converter name must be either implemented here or on
    // the DOCUMENTED exclusion list (COVERAGE.md round-5 delta); this gate
    // turns the "remainder documented context-inapplicable" prose into a
    // mechanical audit that fails when either side drifts.
    val upstream = Set(
      "Base64Decode", "Concat", "ConvertCase",
      "ConvertAttributesToElementsXML", "ConvertTextToElementsXML",
      "Day", "Decode", "Double", "Duration", "ExtractPatterns",
      "ExtractGrokPatterns", "FNV", "Flatten", "Format", "GetXML", "Hex",
      "Hour", "Hours", "InsertXML", "Int", "IsBool", "IsDouble", "IsInt",
      "IsList", "IsMap", "IsMatch", "IsRootSpan", "IsString", "Keys",
      "Len", "Log", "MD5", "Microseconds", "Milliseconds", "Minute",
      "Minutes", "Month", "Murmur3Hash", "Murmur3Hash128", "Nanoseconds",
      "Now", "ParseCSV", "ParseJSON", "ParseKeyValue",
      "ParseSimplifiedXML", "ParseXML", "ProfileID", "RemoveXML", "SHA1",
      "SHA256", "SHA512", "Second", "Seconds", "SliceToMap", "Sort",
      "SpanID", "Split", "String", "Substring", "Time", "ToCamelCase",
      "ToKeyValueString", "ToLowerCase", "ToSnakeCase", "ToUpperCase",
      "TraceID", "TrimSpace", "TruncateTime", "UUID", "UUIDv7", "Unix",
      "UnixMicro", "UnixMilli", "UnixNano", "UnixSeconds", "UserAgent",
      "Values", "Weekday", "Year")
    // documented context-inapplicable (COVERAGE.md): XML attribute
    // rewriting needs per-element callbacks; ProfileID is a profile-signal
    // context this log/metric/span plane doesn't model. (Round 6 shrank
    // this list: Murmur3Hash128 landed as canonical Guava murmur3_128,
    // Is{String,List,Map} as static-type predicates, IsRootSpan over the
    // spanHierarchy parent ids.)
    val excluded = Set(
      "ConvertAttributesToElementsXML", "ConvertTextToElementsXML",
      "ProfileID")
    val implemented = graft.expr.ExprLang.Converters.keySet
    val unaccounted = upstream -- implemented -- excluded
    assert(unaccounted.isEmpty,
      s"upstream converters neither implemented nor documented-excluded: $unaccounted")
    val stale = excluded.intersect(implemented)
    assert(stale.isEmpty,
      s"exclusion list names now-implemented converters (update COVERAGE.md): $stale")
    assert((upstream -- excluded).subsetOf(implemented))
  }

  test("IsRootSpan is context-scoped: rejected loudly outside a span env") {
    // upstream registers IsRootSpan only for ottlspan contexts; here the
    // parser enforces the same scoping via ContextRequires instead of
    // silently binding to (or failing to resolve) parent_span_id
    val e = intercept[IllegalArgumentException] {
      graft.expr.ExprLang.boolExpr("IsRootSpan()", Set("conv_id", "text"))
    }
    assert(e.getMessage.contains("parent_span_id"))
    graft.expr.ExprLang.boolExpr("IsRootSpan()", Set("parent_span_id")) // legal
  }

  test("murmur3 reference vectors") {
    // The upstream ottlfuncs contract: canonical seed-0 MurmurHash3
    // x86_32 / x64_128 over the UTF-8 bytes, hex of the LITTLE-ENDIAN
    // digest (murmur3hash.go: Sum32/Sum128 → binary.LittleEndian →
    // hex.EncodeToString). Vectors are the published Appleby/spaolacci
    // test values, independently recomputed — if Guava's asBytes() ever
    // stopped matching the LE contract this would catch it.
    import graft.expr.ExprLang.Converters
    import spark.implicits._
    val in = Seq("hello", "", "foo bar").toDF("s")
    val out = in.select(col("s"),
      Converters("Murmur3Hash")(List(col("s"))).as("h32"),
      Converters("Murmur3Hash128")(List(col("s"))).as("h128"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("hello") == ("47fa8b24", "029bbd41b3a7d8cb191dae486a901e5b"))
    assert(out("") == ("00000000", "00000000000000000000000000000000"))
    assert(out("foo bar") == ("579c320a", "2152273d9a64f6c36ae14eab3446ebb9"))
  }

  test("Now/UUID/UUIDv7 shape contracts (nondeterministic, oracle-exempt)") {
    // registered but correctly absent from the oracle corpus; these pin
    // their SHAPE contracts so the registrations aren't dead code
    import graft.expr.ExprLang.Converters
    val two = spark.range(2).toDF("i")
    val before = System.currentTimeMillis()
    val rows = two.select(
      Converters("Now")(Nil).as("now"),
      Converters("UUID")(Nil).as("u4"),
      Converters("UUIDv7")(Nil).as("u7")).collect()
    val after = System.currentTimeMillis()
    // Now() ≅ the current wall clock (within the collect round-trip)
    rows.foreach { r =>
      val ms = r.getAs[java.sql.Timestamp]("now").getTime
      assert(ms >= before - 60000 && ms <= after + 60000)
    }
    // UUID: RFC 4122 v4 layout, distinct per row
    val u4re = "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$"
    assert(rows.forall(_.getAs[String]("u4").matches(u4re)))
    assert(rows.map(_.getAs[String]("u4")).distinct.length == 2)
    // UUIDv7: RFC 9562 layout — version nibble 7, variant nibble 8, and
    // the 48-bit unix-millis prefix decodes to the current wall clock
    // (time-ordering: ids minted later can never sort before older ones)
    val u7re = "^[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}$"
    rows.foreach { r =>
      val u7 = r.getAs[String]("u7")
      assert(u7.matches(u7re), s"not a v7 uuid: $u7")
      val ms = java.lang.Long.parseLong(u7.substring(0, 8) + u7.substring(9, 13), 16)
      assert(ms >= before - 60000 && ms <= after + 60000)
    }
  }
}

class PluginsSpec extends SparkTestBase {
  import spark.implicits._

  test("plugin parameter validation: unknown param / unsupported value rejected") {
    val t = Transcripts.fromEvents(spark, sfDir)
    intercept[IllegalArgumentException] {
      Plugins.NginxPlugin(spark, Map("bogus" -> "1"))(t)
    }
    intercept[IllegalArgumentException] {
      Plugins.NginxPlugin(spark, Map("data_flow" -> "medium"))(t)
    }
  }

  test("nginx plugin low data_flow keeps only warn+ records") {
    val t = Transcripts.fromEvents(spark, sfDir)
    val low = Plugins.NginxPlugin(spark, Map("data_flow" -> "low"))(t)
    assert(low.filter(col("severity_number") < 13).count() == 0)
    val high = Plugins.NginxPlugin(spark)(t)
    assert(high.count() > low.count())
  }

  test("whole corpus: every registered plugin renders with defaults and analyzes") {
    // supplied_plugins_test.go:46-147 parity: each template must render with
    // its default (or minimal required) params into an analyzable plan that
    // also returns rows on the fixture
    val t = Transcripts.fromEvents(spark, sfDir)
    val framed = t.select(col("conv_id"), col("turn_idx"), col("text").as("line"))
    Plugins.registry.foreach { case (name, plugin) =>
      val input = if (Fixtures.needsLine(name)) framed else t
      val out = plugin(spark, Fixtures.smokeParams(name))(input)
      out.queryExecution.assertAnalyzed()
      assert(out.columns.nonEmpty, s"plugin $name produced no columns")
    }
    assert(Plugins.registry.size >= 53) // FULL corpus: 50 log templates + 3 metric scans
  }

  test("plugin protocol switch: rfc5424 branch analyzes and on_error-sends") {
    val t = Transcripts.fromEvents(spark, sfDir)
    val out = Plugins.SyslogPlugin(spark, Map("protocol" -> "rfc5424"))(t)
    // fixture lines are RFC3164-framed → 5424 parser yields null fields but
    // keeps the records (regex_parser on_error: send)
    assert(out.count() > 0)
    assert(out.filter(col("priority").isNotNull).count() == 0)
  }

  test("container plugin auto-routes json vs cri and recombines partials") {
    val t = Transcripts.fromEvents(spark, sfDir)
    val out = Plugins.ContainerPlugin(spark)(t).cache()
    val docker = out.filter(col("driver") === "docker-json-file")
    val cri = out.filter(col("driver") === "containerd-cri")
    assert(docker.count() > 0 && cri.count() > 0)
    assert(docker.filter(col("n_parts") =!= 1).count() == 0)
    // recombined cri sessions concatenate at least one partial before final
    assert(cri.filter(col("n_parts") > 1).count() > 0)
    out.unpersist()
  }

  test("plugin fidelity audit: sampled RegexPlugin rows match the reference YAML") {
    // drift guard for the data-driven template corpus: for sampled plugins
    // WITHOUT dedicated oracles, read the reference plugin YAML itself,
    // extract the regex_parser's key params, and check the template row
    // against them — (a) our field list is the reference regex's named
    // groups in ORDER (after the documented normalizations: the
    // '<plugin>_severity'/'level' parse_from target is canonicalized to
    // 'severity'; optional/extended reference groups may be absent from a
    // documented core form), (b) the time layout string matches, (c) on a
    // concrete log line BOTH regexes extract identical field values
    import scala.jdk.CollectionConverters._
    def parserBlock(yaml: String): (String, Seq[String], String) = {
      val src = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"/root/reference/plugins/$yaml"))
      val at = src.indexOf("type: regex_parser")
      assert(at > 0, s"$yaml: no regex_parser")
      val tail = src.substring(at)
      val regex = """regex:\s*'(.*?)'""".r.findFirstMatchIn(tail).get.group(1)
      // ALL declared layouts: plugins with a time-parser router (pgbouncer's
      // with/without-timezone variants) declare several — ours must be one
      val layouts = """layout:\s*'(.*?)'""".r.findAllMatchIn(tail)
        .map(_.group(1)).toSeq
      val sevFrom = """severity:\s*\n\s*parse_from:\s*attributes\.(\w+)""".r
        .findFirstMatchIn(tail).map(_.group(1)).getOrElse("severity")
      (regex, layouts, sevFrom)
    }
    def norm(g: String, plugin: String): String =
      if (g == s"${plugin}_severity" || g == "level") "severity" else g
    val samples = Map(
      "jboss" -> ("jboss_logs.yaml",
        "2024-01-02 03:04:05,123 INFO [com.example.Foo] (thread-1) started ok"),
      "hadoop" -> ("hadoop_logs.yaml",
        "2024-01-02 03:04:05,123 INFO org.apache.hdfs.DataNode: Received block blk_1"),
      "pgbouncer" -> ("pgbouncer_logs.yaml",
        "2024-01-02 03:04:05.123 17 LOG stats: 0 xacts/s"),
      "solr" -> ("solr_logs.yaml", null)) // core form: params-only audit
    samples.foreach { case (name, (yaml, line)) =>
      val d = Plugins.RegexTemplates.find(_.name == name).get
      val (refRegex, refLayouts, refSevFrom) = parserBlock(yaml)
      // named groups of the reference regex, in order, normalized
      val refGroups = """\(\?P<(\w+)>""".r.findAllMatchIn(refRegex)
        .map(m => norm(m.group(1), name)).toSeq
      // (a) field ORDER: our fields are a subsequence of the reference's
      // groups (equal when no documented core-form/optional-group gap)
      val it = refGroups.iterator
      assert(d.fields.forall(f => it.contains(f)),
        s"$name: fields ${d.fields} not an ordered subsequence of $refGroups")
      // (b) key params: layout + severity target
      assert(d.timeLayout.exists(l => refLayouts.contains(l._2)),
        s"$name: layout ${d.timeLayout} not among reference $refLayouts")
      assert(norm(refSevFrom, name) == "severity" &&
        d.fields.contains("severity"))
      // (c) behavioral: both regexes agree on a concrete line. Java named
      // groups reject '_' (jboss_severity), so the reference pattern runs
      // with its names STRIPPED and a name→capture-index map built by a
      // left-to-right scan (escapes and char classes skipped; `(?` opens
      // non-capturing unless it is Go's `(?P<`)
      if (line != null) {
        def groupIndexes(re: String): Map[String, Int] = {
          val out = scala.collection.mutable.Map[String, Int]()
          var idx = 0; var i = 0
          while (i < re.length) {
            re(i) match {
              case '\\' => i += 2
              case '[' =>
                i += 1; if (i < re.length && re(i) == ']') i += 1
                while (i < re.length && re(i) != ']') {
                  if (re(i) == '\\') i += 1; i += 1 }
                i += 1
              case '(' if re.startsWith("(?P<", i) =>
                idx += 1; val e = re.indexOf('>', i)
                out(re.substring(i + 4, e)) = idx; i = e + 1
              case '(' if i + 1 < re.length && re(i + 1) == '?' => i += 2
              case '(' => idx += 1; i += 1
              case _ => i += 1
            }
          }
          out.toMap
        }
        val refIdx = groupIndexes(refRegex)
        val jm = java.util.regex.Pattern
          .compile("""\(\?P<\w+>""".r.replaceAllIn(refRegex, "(")).matcher(line)
        assert(jm.find(), s"$name: reference regex rejected sample line")
        val input = Seq(("c1", 0, line)).toDF("conv_id", "turn_idx", "line")
        val row = Plugins.registry(name)(spark)(input).collect().head
        d.fields.foreach { f =>
          val refName = refIdx.keys.find(g => norm(g, name) == f).get
          assert(String.valueOf(row.getAs[Any](f)) == jm.group(refIdx(refName)),
            s"$name.$f: ours=${row.getAs[Any](f)} ref=${jm.group(refIdx(refName))}")
        }
      }
    }
  }
}

/** Streaming/batch parity: the continuous variant must produce exactly the
  * batch pipeline's per-route windowed counts on the same input.
  */
/** Row type for the watermark test's MemoryStream (top-level so the
  * product encoder derives). */
case class WmTurn(conv_id: String, turn_idx: Int, role: String,
                  text: String, tool: String, ts: java.sql.Timestamp)

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming routed counts equal batch routed counts") {
    val base = java.nio.file.Files.createTempDirectory("stream").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 5000, nConvs = 20), base + "/in")

    val q = Fixtures.runToCompletion(spark, base + "/in", "sp_counts")
    try {
      val streamed = spark.table("sp_counts")
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      val batch = Router.tagged(Transcripts.readPartitioned(spark, base + "/in"))
        .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("route"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("route"), col("n"))
        .as[(java.sql.Timestamp, String, Long)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      Bench.deleteRec(base)
    }
  }

  test("stateless enrich plane (OCSF + OTTL editors) streams with batch parity") {
    import graft.enrich.EnrichOps
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("stream_ocsf").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 4000, nConvs = 20), base + "/in")
    def enrich(df: org.apache.spark.sql.DataFrame) = {
      val edited = graft.expr.Ottl(Seq(
        "set(kvmap, ParseKeyValue(Format('env=%s owner=%s', [role, tool])))",
        "replace_match(body, 'level=*', 'structured')",
        "keep_matching_keys(kvmap, '^env$')"), df.columns.toSet)(df)
      EnrichOps.ocsfStandardizeConfig(edited,
          Seq(EnrichOps.EventMapping(None, 3002, Seq(
            EnrichOps.FieldMapping("activity_id",
              from = Some((col("turn_idx") % 6).cast("int"))),
            EnrichOps.FieldMapping("severity_id",
              from = Some((col("turn_idx") % 7).cast("int"))),
            EnrichOps.FieldMapping("time", from = Some(col("turn_idx").cast("long"))),
            EnrichOps.FieldMapping("user.name", from = Some(col("role"))),
            EnrichOps.FieldMapping("service.name",
              from = Some(col("kvmap").getItem("env")))))),
          version = "1.1.0", runtimeValidation = true)
        .select(col("conv_id"), col("turn_idx"),
          col("ocsf.type_uid").as("type_uid"),
          col("ocsf.service.name").as("svc"))
    }
    val q = enrich(spark.readStream
        .schema(Fixtures.TranscriptSchema)
        .option("maxFilesPerTrigger", "8").parquet(base + "/in"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sp_ocsf").trigger(Trigger.ProcessingTime("0 seconds")).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sp_ocsf")
        .as[(String, Int, Long, String)].collect().toSet
      val batch = enrich(Transcripts.readPartitioned(spark, base + "/in"))
        .as[(String, Int, Long, String)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally {
      q.stop()
      Bench.deleteRec(base)
    }
  }

  test("watermark: windows finalize once passed; later-than-watermark data drops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[WmTurn]
    // APPEND mode: a window only emits after the watermark passes its end,
    // and late rows behind the watermark are dropped — bounded state
    val q = StreamingPipeline.windowedRouteCounts(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_counts").start()
    try {
      input.addData(
        WmTurn("c1", 0, "user", "hello", "", ts("2024-01-01 10:05:00")),
        WmTurn("c1", 1, "user", "world", "", ts("2024-01-01 10:20:00")))
      q.processAllAvailable()
      assert(spark.table("wm_counts").count() == 0) // window still open
      // event at 14:00 → watermark 12:00 → the 10:00 window finalizes
      input.addData(WmTurn("c2", 0, "user", "later", "", ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      assert(spark.table("wm_counts")
        .filter(col("window_start") === ts("2024-01-01 10:00:00")).count() == 1)
      // late arrival for the finalized 10:00 window must be DROPPED
      input.addData(WmTurn("c3", 0, "user", "too late", "", ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      val after = spark.table("wm_counts")
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
        .agg(sum(col("n"))).collect().head.getLong(0)
      assert(after == 2L, "late row must not re-open or re-emit the window")
    } finally q.stop()
  }

  test("five-shape datapoint plane applies identically in streaming (batch parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      WmTurn("c1", 0, "user",
        """{"level":"info","status":200,"path":"/x","latency_ms":42,"msg":"ok"}""",
        "", ts("2024-01-01 10:00:00")),
      WmTurn("c1", 1, "user", "not json — yields no datapoints", "",
        ts("2024-01-01 10:01:00")),
      WmTurn("c2", 0, "tool",
        """{"level":"error","status":503,"path":"/y","latency_ms":977,"msg":"ko"}""",
        "search", ts("2024-01-01 11:30:00")))
    val input = MemoryStream[WmTurn]
    // the five-shape explode is stateless — it applies to a streaming
    // relation unchanged, one row per datapoint per micro-batch
    val q = AggOps.allDatapoints(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("dp_stream").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val cols = Seq("conv_id", "turn_idx", "metric_type", "metric_name",
        "value_int", "dp_count", "quantile_95")
      val streamed = spark.table("dp_stream")
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val batch = AggOps.allDatapoints(rows.toDF())
        .select(cols.map(col): _*).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.size == 10) // 2 JSON turns × 5 shapes; non-JSON yields none
    } finally q.stop()
  }

  test("streaming logdedup: batch parity, state expiry, late duplicates dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = MemoryStream[WmTurn]
    val q = StreamingPipeline.streamingLogDedup(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("sld").start()
    try {
      val dup = Seq(
        WmTurn("c1", 0, "user", "dup body", "", ts("2024-01-01 10:05:00")),
        WmTurn("c1", 1, "user", "dup body", "", ts("2024-01-01 10:20:00")),
        WmTurn("c2", 0, "user", "solo", "", ts("2024-01-01 10:25:00")))
      input.addData(dup: _*)
      q.processAllAvailable()
      assert(spark.table("sld").count() == 0) // interval still open
      // watermark passes the 10:00 window → the dedup groups FLUSH (and
      // their state expires) — the processor's interval ticker
      input.addData(WmTurn("c3", 0, "user", "advance", "", ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("body_md5"),
          r.getAs[Long]("dedup_count"), r.getAs[String]("first_arrival"))
      val streamed = spark.table("sld").collect().map(key).toSet
      val batch = AggOps.logDedup(dup.toDF()).collect().map(key).toSet
      assert(streamed == batch) // identical windows, counts AND first arrivals
      assert(spark.table("sld").schema("window_start").dataType ==
        AggOps.logDedup(dup.toDF()).schema("window_start").dataType)
      assert(streamed.exists(_._3 == 2L)) // the duplicate collapsed
      // a LATE duplicate behind the watermark is dropped — expired state
      // cannot resurrect or double-emit the flushed group
      input.addData(WmTurn("c9", 9, "user", "dup body", "", ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      assert(spark.table("sld").collect().map(key).toSet == streamed)
    } finally q.stop()
  }

  test("contamination gate streams: stream-static broadcast join, batch parity") {
    import graft.data.{Dedup, TextAnalysis}
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("stream_contam").toString
    val docs = TextAnalysis.documents(spark, sfDir)
    val (train, eval) = Dedup.contaminationEvalSplit(docs)
    val batch = Dedup.contamination(train, eval)
      .as[(Long, Long, Long)].collect().toSet
    // the corpus arrives as a stream; the eval set stays a static broadcast
    // side — the canonical stream-static join, no stream-side state
    train.write.parquet(base + "/in")
    val streamTrain = spark.readStream.schema(train.schema).parquet(base + "/in")
    val q = Dedup.contamination(streamTrain, eval)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("contam_stream")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally {
      q.stop()
      Bench.deleteRec(base)
    }
  }

  test("typed datapoint count: watermarked windows finalize per metric_type") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def turn(conv: String, idx: Int, lat: Int, at: String) =
      WmTurn(conv, idx, "user",
        s"""{"level":"info","status":200,"path":"/x","latency_ms":$lat,"msg":"ok"}""",
        "", ts(at))
    val input = MemoryStream[WmTurn]
    val counts = AggOps.allDatapoints(input.toDF())
      .withWatermark("ts", "2 hours")
      // group on the window STRUCT: the analyzer tracks the watermark
      // through the time-window grouping column, not a projection of it
      .groupBy(window(col("ts"), "1 hour"), col("metric_type"))
      .agg(count(lit(1)).as("datapoint_count"))
      .select(col("window.start").as("window_start"), col("metric_type"),
        col("datapoint_count"))
    val q = counts.writeStream.outputMode("append").format("memory")
      .queryName("dp_typed_counts").start()
    try {
      input.addData(turn("c1", 0, 10, "2024-01-01 10:05:00"),
        turn("c1", 1, 20, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      assert(spark.table("dp_typed_counts").count() == 0) // window open
      input.addData(turn("c2", 0, 30, "2024-01-01 14:00:00"))
      q.processAllAvailable()
      val done = spark.table("dp_typed_counts")
        .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      // the finalized hour emits one row per metric shape, 2 points each
      assert(done.count() == 5)
      assert(done.filter(col("datapoint_count") =!= 2).count() == 0)
    } finally q.stop()
  }

  test("streaming recombine: marker flush, batch parity, force-flush timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def part(conv: String, idx: Int, text: String, at: String) =
      WmTurn(conv, idx, "user", text, "", ts(at))
    val input = MemoryStream[WmTurn]
    val q = StreamingPipeline.streamingRecombine(input.toDF(),
        forceFlushTimeoutMs = 30000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("srec").start()
    // flushed-batch identity is (conv_id, first_turn) — the streaming form
    // deliberately has no session counter (StatefulRecombine scaladoc);
    // ONE key function serves both surfaces: n_parts is Long on each
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("conv_id"), r.getAs[Int]("first_turn"),
        r.getAs[Int]("last_turn"), r.getAs[Long]("n_parts"),
        r.getAs[String]("combined"))
    try {
      val phase1 = Seq(
        part("c1", 0, "P|a", "2024-01-01 10:00:00"),
        part("c1", 1, "P|b", "2024-01-01 10:00:05"),
        part("c1", 2, "F|c", "2024-01-01 10:00:10"),
        part("c1", 3, "P|x", "2024-01-01 10:00:20"), // trailing open batch
        part("c2", 0, "F|solo", "2024-01-01 10:00:15"))
      input.addData(phase1: _*)
      q.processAllAvailable()
      // marker-terminated batches emit in the SAME micro-batch — no
      // watermark latency (the reference emits on the matching entry)
      assert(spark.table("srec").collect().map(key).toSet == Set(
        ("c1", 0, 2, 3L, "P|a\nP|b\nF|c"), ("c2", 0, 0, 1L, "F|solo")))
      // watermark passes c1's last entry + timeout → the OPEN batch
      // force-flushes (force_flush_timeout); c3's marker closes immediately
      val advance = part("c3", 0, "F|advance", "2024-01-01 14:00:00")
      input.addData(advance)
      q.processAllAvailable()
      val streamed = spark.table("srec").collect().map(key).toSet
      // in-order arrival ⇒ column-for-column parity with the batch operator,
      // INCLUDING the timeout-flushed partial (batch emits the trailing
      // partial session the same way)
      val batch = graft.parse.ParseOps.recombine((phase1 :+ advance).toDF())
        .collect().map(key(_)).toSet
      assert(streamed == batch)
      assert(streamed.contains(("c1", 3, 3, 1L, "P|x")))
      // post-flush entries start the source's NEXT batch (arrival-order
      // semantics): the deterministic batch operator would have kept P|x
      // with these in one session — the documented, intentional divergence
      input.addData(part("c1", 4, "P|y", "2024-01-01 14:00:05"),
        part("c1", 5, "F|z", "2024-01-01 14:00:06"))
      q.processAllAvailable()
      assert(spark.table("srec").collect().map(key).toSet
        .contains(("c1", 4, 5, 2L, "P|y\nF|z")))
      // bounded state, observably: state is removed on EVERY flush, so
      // with no open batch in flight the state store is empty — bounded by
      // in-flight batches, not source cardinality
      input.addData(part("c4", 0, "F|late", "2024-01-02 09:00:00"))
      q.processAllAvailable()
      input.addData(part("c5", 0, "F|later", "2024-01-03 09:00:00"))
      q.processAllAvailable()
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
      assert(stateRows == 0, s"no open batches => empty state, got $stateRows")
      // NON-multiline traffic must still advance event time: the gate is
      // pinned ABOVE the watermark node (streamingRecombine's filter), so
      // an open batch force-flushes even when only other routes keep
      // flowing — a plain row dropped by the filter drives the watermark
      input.addData(part("c6", 0, "P|open", "2024-01-03 10:00:00"))
      q.processAllAvailable()
      input.addData(part("c7", 0, "plain non-multiline line", "2024-01-04 10:00:00"))
      q.processAllAvailable()
      assert(spark.table("srec").collect().map(key).toSet
        .contains(("c6", 0, 0, 1L, "P|open")),
        "open batch must force-flush off a filtered-out row's event time")
    } finally q.stop()
  }

  test("streaming metricstats: typed-aggregator window finalizes with batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def m(conv: String, idx: Int, lat: Int, lvl: String, at: String) =
      WmTurn(conv, idx, "user",
        s"""{"level":"$lvl","status":200,"path":"/x","latency_ms":$lat,"msg":"ok"}""",
        "", ts(at))
    val input = MemoryStream[WmTurn]
    val q = StreamingPipeline.streamingMetricStats(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("sms").start()
    try {
      // first/last are arrival-ORDER stats: interleave arrivals so the
      // aggregator's ArrKey ordering (not input order) decides them
      val rows = Seq(
        m("c1", 1, 70, "info", "2024-01-01 10:20:00"),
        m("c1", 0, 40, "info", "2024-01-01 10:05:00"),
        m("c2", 0, 10, "info", "2024-01-01 10:10:00"),
        m("c2", 1, 99, "error", "2024-01-01 10:30:00"))
      input.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.table("sms").count() == 0) // window still open
      // a NON-JSON row advances the watermark and finalizes the window:
      // the watermark sits on the raw stream BELOW metricExtract's isJson
      // filter, so non-metric traffic still drives event time (filtering
      // first would leave this window open forever)
      input.addData(WmTurn("c9", 0, "user", "plain non-metric line", "",
        ts("2024-01-01 14:00:00")))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[java.sql.Timestamp]("window_start"), r.getAs[String]("level"),
          r.getAs[Long]("stat_min"), r.getAs[Long]("stat_max"),
          r.getAs[Long]("stat_avg_int"), r.getAs[Long]("stat_first"),
          r.getAs[Long]("stat_last"), r.getAs[Long]("stat_count"))
      val streamed = spark.table("sms").collect().map(key).toSet
      val batch = AggOps.metricStatsFlush(
        AggOps.metricExtract(rows.toDF())
          .groupBy(AggOps.windowStart(col("ts"), "1 hour").as("window_start"),
            col("level")),
        col("window_start")).collect().map(key).toSet
      assert(streamed == batch) // identical stats incl. arrival first/last
      val info = streamed.find(_._2 == "info").get
      assert((info._3, info._4, info._5, info._6, info._7, info._8) ==
        (10L, 70L, 40L, 40L, 70L, 3L)) // min,max,int-avg,first,last,count
    } finally q.stop()
  }

  test("OTTL statements apply identically in a streaming micro-batch (batch parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      WmTurn("c1", 0, "assistant", "hello user42", "search", ts("2024-01-01 10:00:00")),
      WmTurn("c1", 1, "user", "plain", "", ts("2024-01-01 10:01:00")))
    val stmts = Seq(
      "set(flag, 'hot') where role == 'assistant'",
      "replace_pattern(body, 'user[0-9]+', '***')")
    val cols = Set("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val input = MemoryStream[WmTurn]
    // OTTL compiles to stateless column edits — the same transform applies
    // to a streaming relation unchanged (no state, no watermark needed)
    val q = graft.expr.Ottl(stmts, cols)(input.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ottl_stream").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ottl_stream")
        .select("conv_id", "turn_idx", "flag", "text")
        .collect().map(_.toSeq).toSet
      val batch = graft.expr.Ottl(stmts, cols)(rows.toDF())
        .select("conv_id", "turn_idx", "flag", "text")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(batch.exists(_.contains("hello ***")))
    } finally q.stop()
  }

  test("exactly-once streaming fan-out: replayed micro-batches never double-write") {
    import graft.pipeline.Pipeline
    val base = java.nio.file.Files.createTempDirectory("sfan").toString
    val input = s"$base/in"
    graft.model.Transcripts.writePartitioned(
      graft.model.Transcripts.generate(spark, nTurns = 6000, nConvs = 20), input)
    def routeCounts(root: String): Map[String, Long] =
      spark.read.option("basePath", s"$root/sinks").parquet(s"$root/sinks")
        .groupBy("route").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // integration: a real query drives the sink micro-batch by micro-batch
    // (maxFilesPerTrigger forces several), and the result matches the batch
    // fan-out's route counts on the same input
    val out = s"$base/out"
    val q = spark.readStream.schema(Fixtures.TranscriptSchema)
      .option("maxFilesPerTrigger", "2").parquet(input)
      .writeStream
      .foreachBatch(StreamingPipeline.manifestSink(Pipeline.Canonical, out))
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
      .start()
    q.processAllAvailable(); q.stop()
    val streamedCounts = routeCounts(out)
    val batchCounts = Pipeline.compile(Pipeline.Canonical, spark)(
        spark.read.option("basePath", input).parquet(input))
      .groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamedCounts == batchCounts && streamedCounts.values.sum == 6000L)
    // every micro-batch's manifest entry carries its own per-sink counts,
    // zeros included, equal to that batch's rows on disk
    val onDisk = spark.read.option("basePath", s"$out/sinks").parquet(s"$out/sinks")
      .groupBy("batch_id", "route").count().collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1)) -> r.getLong(2)).toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entries = new java.io.File(s"$out/_manifest").listFiles()
      .filter(_.getName.endsWith(".json")).map(mapper.readTree)
    assert(entries.length > 1, "maxFilesPerTrigger must force several micro-batches")
    entries.foreach { e =>
      val id = e.get("partition").asText.stripPrefix("batch=").toLong
      val counts = Pipeline.Canonical.sinks.map(k => k -> e.get("sink_counts").get(k)).toMap
      assert(counts.values.forall(_ != null), s"batch $id: ${e.get("sink_counts")}")
      Pipeline.Canonical.sinks.foreach { k =>
        assert(counts(k).asLong == onDisk.getOrElse((id, k), 0L), s"batch $id $k")
      }
      assert(e.get("rows_in").asLong == counts.values.map(_.asLong).sum, s"batch $id")
    }

    // replay semantics, driven directly (a fresh outRoot isolates them):
    val out2 = s"$base/out2"
    val sink = StreamingPipeline.manifestSink(Pipeline.Canonical, out2)
    val all = spark.read.option("basePath", input).parquet(input)
    sink(all, 0L)
    val c0 = routeCounts(out2)
    assert(c0 == batchCounts)
    // 1. at-least-once re-delivery of a COMMITTED batch: skipped whole
    sink(all, 0L)
    assert(routeCounts(out2) == c0)
    // 2. crash BETWEEN write and manifest commit (entry lost, data on
    //    disk): the replay overwrites only its own batch_id partitions —
    //    rows replaced, never duplicated
    val entry = new java.io.File(s"$out2/_manifest/batch=${"%019d".format(0L)}.json")
    assert(entry.exists, "batch 0 must have a manifest entry")
    assert(entry.delete())
    sink(all, 0L)
    assert(routeCounts(out2) == c0)
    // 3. a NEW batch appends alongside committed ones
    val extra = all.filter(org.apache.spark.sql.functions.col("turn_idx") === 0)
    val extraN = extra.count()
    sink(extra, 1L)
    assert(extraN > 0 && routeCounts(out2).values.sum == c0.values.sum + extraN)
  }

  test("streaming sink: rows_in is the micro-batch as read, before a filter drops rows") {
    import graft.pipeline.Pipeline
    val base = java.nio.file.Files.createTempDirectory("srows").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 4000, nConvs = 20), s"$base/in")
    val spec = Pipeline.Canonical.copy(operators = Pipeline.Canonical.operators :+
      Pipeline.OperatorSpec("filter", Map("drop_where" -> "role = 'system'")))
    val batch = spark.read.parquet(s"$base/in")
    StreamingPipeline.manifestSink(spec, s"$base/out")(batch, 0L)
    val e = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$base/out/_manifest/batch=${"%019d".format(0L)}.json"))
    assert(e.get("rows_in").asLong == batch.count())
    assert(e.get("rows_in").asLong > e.get("rows_out").asLong)
    val back = spark.read.option("basePath", s"$base/out/sinks").parquet(s"$base/out/sinks")
      .filter(col("batch_id") === 0).groupBy("route").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spec.sinks.map(s => s -> e.get("sink_counts").get(s).asLong).toMap ==
      spec.sinks.map(s => s -> back.getOrElse(s, 0L)).toMap)
    Bench.deleteRec(base)
  }
}
