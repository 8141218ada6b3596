package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.expr.Ottl
import graft.pipeline.{IcebergLikeTable, Manifest, RandomFailure}

/** Property-based tests (scalacheck) over the pure string/hash kernels the
  * engine's correctness leans on. Example-based specs pin the documented
  * cases; these pin the CLASS of inputs — arbitrary unicode through the
  * commit logs' JSON records, arbitrary quote/paren nesting through the OTTL
  * splitters, the full string space through the Bernoulli hash — because
  * each of these kernels has already had one escape/edge bug in its history
  * (raw '\n' bricking manifest reads; quoted ';' corrupting statement
  * splits; glob metacharacter leakage).
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, min: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // --- commit-log JSON round trips -----------------------------------

  private def withDir(prefix: String)(body: String => Boolean): Boolean = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally Bench.deleteRec(dir)
  }

  test("IcebergLikeTable commit round-trips arbitrary unicode partition names") {
    check("iceberg round-trip", Prop.forAll { (s: String) =>
      withDir("prop_iceberg") { dir =>
        new IcebergLikeTable(dir).commitPartition(s, 1L, Seq(s))
        val reopened = new IcebergLikeTable(dir)
        reopened.committed() == Set(s) &&
          reopened.dataFilesAsOf(reopened.currentSnapshot()) == Seq(s)
      }
    })
  }

  test("Manifest commit of arbitrary unicode names writes only parseable JSON") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    check("manifest round-trip", Prop.forAll { (s: String) =>
      withDir("prop_manifest") { dir =>
        val m = new Manifest(dir)
        m.commit(s, 1L, Map(s -> 1L), Seq(s), 0L)
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        val files = try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_)).toList
        finally walk.close()
        files.size == 1 &&
          files.forall(f => mapper.readTree(f.toFile).get("partition").asText == s) &&
          m.isCommitted(s)
      }
    })
  }

  // --- OTTL splitters ---------------------------------------------------

  // a statement-ish fragment: plain runs, quoted runs (which may hide the
  // separator and unbalanced brackets), and balanced bracket groups (which
  // may hide the separator unquoted)
  private val plain: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', '=',
      '-', '_', '/', '%', '|'))).map(_.mkString)
  private def quoted(extra: Seq[Char]): Gen[String] = for {
    q <- Gen.oneOf('\'', '"')
    body <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(extra :+ ' ')))
      .map(_.filterNot(c => c == '\'' || c == '"').mkString)
  } yield s"$q$body$q"
  private def group(sep: Char): Gen[String] = for {
    open <- Gen.oneOf("(" -> ")", "[" -> "]")
    body <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
      Gen.oneOf(sep, ' ', '.'))).map(_.mkString)
  } yield s"${open._1}$body${open._2}"
  private def segment(sep: Char): Gen[String] =
    Gen.nonEmptyListOf(Gen.frequency(
      5 -> plain,
      2 -> quoted(Seq(sep, '(', ')', '[', ']', ',')),
      2 -> group(sep)))
      .map(_.mkString.trim).suchThat(_.nonEmpty)

  test("splitStatements inverts a ';' join for any quote/paren nesting") {
    check("splitStatements", Prop.forAll(
      Gen.nonEmptyListOf(segment(';'))) { stmts =>
      Ottl.splitStatements(stmts.mkString(";")) == stmts
    })
  }

  test("splitArgs inverts a ',' join for any quote/paren nesting") {
    check("splitArgs", Prop.forAll(
      Gen.nonEmptyListOf(segment(','))) { args =>
      Ottl.splitTopLevel(args.mkString(","), ',') == args
    })
  }

  test("globToRegex: a wildcard-free value matches exactly itself") {
    val noWild = Gen.asciiPrintableStr
      .map(_.filterNot(c => c == '*' || c == '?'))
    check("glob literal", Prop.forAll(noWild) { s =>
      s.matches(Ottl.globToRegex(s)) &&
        !(s + "x").matches(Ottl.globToRegex(s))
    })
  }

  test("globToRegex: trailing '*' matches any suffix, '?' exactly one char") {
    val noWild = Gen.asciiPrintableStr
      .map(_.filterNot(c => c == '*' || c == '?'))
    check("glob wildcards", Prop.forAll(noWild, noWild) { (pre, suf) =>
      (pre + suf).matches(Ottl.globToRegex(pre + "*")) &&
        (pre + "z").matches(Ottl.globToRegex(pre + "?")) &&
        !(pre + "zz").matches(Ottl.globToRegex(pre + "?"))
    })
  }

  // --- gotime layout translation ----------------------------------------

  // independent Go-side formatter for the reference instant: pure token
  // substitution over the SAME reference-time notation, so the property
  // cross-checks gotimeToJava rather than sharing its table
  private val RefInstant = java.time.LocalDateTime.of(2024, 3, 7, 9, 8, 6)
  private val GoSubst = Seq(
    "2006" -> "2024", "Jan" -> "Mar", "Mon" -> "Thu",
    "15" -> "09", "01" -> "03", "02" -> "07", "04" -> "08", "05" -> "06")
  private def goFormat(layout: String): String = {
    val out = new StringBuilder; var i = 0
    while (i < layout.length) {
      GoSubst.find { case (tok, _) => layout.startsWith(tok, i) } match {
        case Some((tok, v)) => out ++= v; i += tok.length
        case None => out += layout(i); i += 1
      }
    }
    out.result()
  }

  // literal letters that start no Go token and merge into no token;
  // separators exclude digits (would fuse with digit tokens)
  private val litRun: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf('T', 'a', 't', 'k', 'x', 'q', 'w', 'e'))
      .map(_.take(4).mkString)
  private val sep: Gen[String] = Gen.oneOf(
    Gen.oneOf("-", "/", ".", ",", ":", " ", "'", "' '", "@"), litRun)
  private val goLayout: Gen[String] = for {
    s <- Gen.listOfN(7, sep)
  } yield List("2006", "01", "02", "15", "04", "05")
    .zip(s).map { case (t, x) => t + x }.mkString + s.last

  test("gotimeToJava parses Go-formatted output back to the instant") {
    // NoShrink: shrinking mutates the string outside the generator's
    // token invariants (an empty layout is not a valid case)
    check("gotime round-trip", Prop.forAllNoShrink(goLayout) { layout =>
      val f = java.time.format.DateTimeFormatter
        .ofPattern(graft.parse.ParseOps.gotimeToJava(layout),
          java.util.Locale.US)
      java.time.LocalDateTime.parse(goFormat(layout), f) == RefInstant
    })
  }

  private val StrptimeSubst = Seq(
    "%Y" -> "2024", "%m" -> "03", "%d" -> "07",
    "%H" -> "09", "%M" -> "08", "%S" -> "06")
  private def strptimeFormat(layout: String): String = {
    val out = new StringBuilder; var i = 0
    while (i < layout.length) {
      StrptimeSubst.find { case (d, _) => layout.startsWith(d, i) } match {
        case Some((d, v)) => out ++= v; i += d.length
        case None => out += layout(i); i += 1
      }
    }
    out.result()
  }
  // strptime literal runs may use any letter except a directive following
  // '%' — the generator never emits '%', so the whole letter space is safe
  private val strpLit: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaChar).map(_.take(4).mkString)
  private val strpSep: Gen[String] = Gen.oneOf(
    Gen.oneOf("-", "/", ".", ",", ":", " ", "'", "' '", "T"), strpLit)
  private val strpLayout: Gen[String] = for {
    s <- Gen.listOfN(7, strpSep)
  } yield List("%Y", "%m", "%d", "%H", "%M", "%S")
    .zip(s).map { case (t, x) => t + x }.mkString + s.last

  test("strptimeToJava parses strptime-formatted output back to the instant") {
    check("strptime round-trip", Prop.forAllNoShrink(strpLayout) { layout =>
      val f = java.time.format.DateTimeFormatter
        .ofPattern(graft.parse.ParseOps.strptimeToJava(layout),
          java.util.Locale.US)
      java.time.LocalDateTime.parse(strptimeFormat(layout), f) == RefInstant
    })
  }

  test("literal quotes in gotime/strptime layouts escape, not quote-start") {
    // the probe case that found the bug: 2006'01'02 must parse month DIGITS
    // between literal quotes, not the literal text "MM"
    val f = java.time.format.DateTimeFormatter
      .ofPattern(graft.parse.ParseOps.gotimeToJava("2006'01'02"))
    assert(java.time.LocalDate.parse("2024'03'07", f) ==
      java.time.LocalDate.of(2024, 3, 7))
    val g = java.time.format.DateTimeFormatter
      .ofPattern(graft.parse.ParseOps.strptimeToJava("%Y'%m'%d"))
    assert(java.time.LocalDate.parse("2024'03'07", g) ==
      java.time.LocalDate.of(2024, 3, 7))
  }

  // --- RandomFailure Bernoulli hash ------------------------------------

  test("hash60 stays in [0, 2^60) and draw in [0, 1) for any input") {
    check("hash60 range", Prop.forAll { (s: String) =>
      val h = RandomFailure.hash60(s)
      val d = RandomFailure(0.5).draw(s)
      h >= 0L && h < (1L << 60) && d >= 0.0 && d < 1.0
    })
  }

  test("failure_rate 0 never fails, 1 always fails, draws are deterministic") {
    check("bernoulli edges", Prop.forAll { (batch: String, attempt: Byte) =>
      val a = attempt & 0x7f
      RandomFailure(0.0).check(batch, a) // must not throw
      val one = scala.util.Try(RandomFailure(1.0).check(batch, a)).isFailure
      one && RandomFailure(0.5).draw(batch, a) == RandomFailure(0.5).draw(batch, a)
    })
  }
}

/** Session-backed properties: random linear operator chains through `ExprLang.valueExpr` against an
  * independent two-level precedence evaluator — the oracle corpus pins
  * fixed expressions (q_expr_arithmetic); this pins the precedence and
  * associativity RULES across the operator space. All samples evaluate in
  * one Spark query over a single row, so the suite stays cheap.
  */
class SparkPropertySpec extends SparkTestBase {
  import graft.expr.ExprLang

  private def render(lits: Seq[Long], ops: Seq[String]): String =
    lits.head.toString + ops.zip(lits.tail).map { case (o, l) =>
      s" $o $l" // a negative literal renders as unary minus: "3 - -4"
    }.mkString

  /** Reference eval: one left-to-right pass folding the tight level
    * (* % /), then a second pass over the loose level (+ -). `/` promotes
    * to double (expr-lang float division); everything else stays in the
    * operands' reached type — exactly the documented engine semantics.
    */
  private def reference(lits: Seq[Long], ops: Seq[String]): Any = {
    val vs = scala.collection.mutable.ArrayBuffer[Any](lits.head)
    val loose = scala.collection.mutable.ArrayBuffer[String]()
    def num(a: Any): Double = a match {
      case l: Long => l.toDouble; case d: Double => d
    }
    ops.zip(lits.tail).foreach { case (o, r) =>
      o match {
        case "*" => vs(vs.length - 1) = vs.last match {
          case l: Long => l * r; case d: Double => d * r
        }
        case "%" => vs(vs.length - 1) = vs.last match {
          case l: Long => l % r; case d: Double => d % r
        }
        case "/" => vs(vs.length - 1) = num(vs.last) / r
        case o2 => loose += o2; vs += r
      }
    }
    var acc = vs.head
    loose.indices.foreach { i =>
      val r = vs(i + 1)
      acc = (acc, r, loose(i)) match {
        case (a: Long, b: Long, "+") => a + b
        case (a: Long, b: Long, "-") => a - b
        case (a, b, "+") => num(a) + num(b)
        case (a, b, "-") => num(a) - num(b)
      }
    }
    acc
  }

  private def runChains(opSet: Array[String], seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val samples = (1 to 150).map { _ =>
      val n = 2 + rnd.nextInt(7)
      val lits = Seq.fill(n)(
        (if (rnd.nextInt(4) == 0) -1L else 1L) * (1 + rnd.nextInt(9)))
      val ops = Seq.fill(n - 1)(opSet(rnd.nextInt(opSet.length)))
      (render(lits, ops), reference(lits, ops))
    }
    val cols = samples.zipWithIndex.map { case ((src, _), i) =>
      ExprLang.valueExpr(src, Set.empty).as(s"e$i")
    }
    val row = spark.range(1).select(cols: _*).head()
    samples.zipWithIndex.foreach { case ((src, expect), i) =>
      val got = row.get(i)
      assert(got == expect,
        s"'$src': engine=$got (${got.getClass.getSimpleName}) " +
          s"reference=$expect (${expect.getClass.getSimpleName})")
    }
  }

  test("int chains (+ - * %) match the reference evaluator exactly") {
    runChains(Array("+", "-", "*", "%"), seed = 42)
  }

  test("float-division chains (+ - * /) match bit-for-bit") {
    runChains(Array("+", "-", "*", "/"), seed = 7)
  }

  test("RandomFailure.hash60 equals Dedup.md5Hash64 on the Spark plane") {
    // the 'SQL-replicable failure schedule' claim rests on the JVM-side
    // Bernoulli draw (PipelineRunner's consume check) and the Spark/DuckDB
    // md5 family computing the SAME number — lock the parity directly
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val inputs = Seq.fill(60)(rnd.alphanumeric.take(1 + rnd.nextInt(24))
      .mkString) ++ Seq("", "graft|2024-01-01-05|0", "δοκιμή|☃")
    val rows = inputs.toDF("v")
      .select(col("v"), graft.data.Dedup.md5Hash64(col("v")).as("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) == RandomFailure.hash60(r.getString(0)),
        s"hash family split on '${r.getString(0)}'")
    }
  }

  test("OCSF coercion round-trips (SURVEY §5's coercion property plan)") {
    import graft.enrich.EnrichOps
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(13)
    // value-level round-trip inputs (canonical string form is the engine's
    // documented representation choice; the VALUE must survive) plus the
    // cast-or-original edges: overflow digits and garbage pass unchanged
    val longs = Seq.fill(40)(rnd.nextLong().toString) ++
      Seq(Long.MaxValue.toString, Long.MinValue.toString)
    val overflow = Seq.fill(10)(
      (if (rnd.nextBoolean()) "-" else "") +
        Seq.fill(20)(rnd.nextInt(9) + 1).mkString)
    val garbage = Seq.fill(10)(
      Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString)
    val doubles = Seq.fill(40)(
      s"${rnd.nextInt(100000)}.${1 + rnd.nextInt(999)}")
    val bools = Seq("1", "t", "T", "TRUE", "true", "True",
      "0", "f", "F", "FALSE", "false", "False")
    val epochSec = Seq.fill(30)(math.abs(rnd.nextLong()) % 2000000000L)
    val goodTs = epochSec.map(s => java.time.LocalDateTime
      .ofEpochSecond(s, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss")))
    val badTs = Seq("2024-13-99T00:00:00", "2024-02-30T10:00:00",
      "9999-99-99T99:99:99")

    import spark.implicits._
    val df = (longs ++ overflow ++ garbage).toDF("v").select(
      col("v"), EnrichOps.coerceOcsf(col("v"), "long").as("c"))
    df.collect().foreach { r =>
      val (v, c) = (r.getString(0), r.getString(1))
      if (v.matches("-?\\d{1,19}") && scala.util.Try(v.toLong).isSuccess)
        assert(c.toLong == v.toLong, s"long value lost: $v -> $c")
      else assert(c == v, s"unparseable must pass through: $v -> $c")
    }
    doubles.toDF("v")
      .select(col("v"), EnrichOps.coerceOcsf(col("v"), "float").as("c"))
      .collect().foreach { r =>
        assert(r.getString(1).toDouble == r.getString(0).toDouble,
          s"double value lost: ${r.getString(0)} -> ${r.getString(1)}")
      }
    bools.toDF("v")
      .select(col("v"), EnrichOps.coerceOcsf(col("v"), "boolean").as("c"))
      .collect().foreach { r =>
        val expect = if (Seq("1", "t", "T", "TRUE", "true", "True")
          .contains(r.getString(0))) "true" else "false"
        assert(r.getString(1) == expect)
      }
    goodTs.zip(epochSec).toDF("v", "sec")
      .select(col("sec"), EnrichOps.coerceOcsf(col("v"), "timestamp").as("c"))
      .collect().foreach { r =>
        assert(r.getString(1).toLong == r.getLong(0) * 1000L,
          s"epoch mismatch: ${r.getLong(0)} -> ${r.getString(1)}")
      }
    badTs.toDF("v")
      .select(col("v"), EnrichOps.coerceOcsf(col("v"), "timestamp").as("c"))
      .collect().foreach { r =>
        // shape-valid but non-calendar strings take the try guard home
        assert(r.getString(1) == r.getString(0))
      }
    // datetime: second-aligned epoch millis render RFC3339 and round-trip
    epochSec.map(s => (s * 1000L).toString).toDF("v")
      .select(col("v"), EnrichOps.coerceOcsf(col("v"), "datetime").as("c"))
      .collect().zip(epochSec).foreach { case (r, sec) =>
        val expect = java.time.LocalDateTime
          .ofEpochSecond(sec, 0, java.time.ZoneOffset.UTC)
          .format(java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + "Z"
        assert(r.getString(1) == expect,
          s"rfc3339 mismatch: ${r.getString(0)} -> ${r.getString(1)}")
      }
  }

  test("boolean chains (not > and > or, comparison atoms) match") {
    // atoms are integer comparisons with optional '!'/'not' prefixes,
    // joined by a random and/or chain; reference: one pass folding the
    // and-level, then the or-level (left-assoc, as expr-lang)
    val rnd = new scala.util.Random(11)
    val cmps = Array("==", "!=", "<", "<=", ">", ">=")
    val samples = (1 to 150).map { _ =>
      val n = 1 + rnd.nextInt(5)
      val atoms = Seq.fill(n) {
        val (a, b) = (rnd.nextInt(4), rnd.nextInt(4))
        val c = cmps(rnd.nextInt(cmps.length))
        val neg = rnd.nextInt(3) == 0
        val v = c match {
          case "==" => a == b; case "!=" => a != b; case "<" => a < b
          case "<=" => a <= b; case ">" => a > b; case ">=" => a >= b
        }
        val negTok = if (rnd.nextBoolean()) "!" else "not "
        ((if (neg) negTok else "") + s"$a $c $b", if (neg) !v else v)
      }
      val joins = Seq.fill(n - 1)(
        if (rnd.nextBoolean()) ("&&", "and") else ("||", "or"))
      val src = atoms.head._1 + joins.zip(atoms.tail).map { case (j, a) =>
        s" ${if (rnd.nextBoolean()) j._1 else j._2} ${a._1}"
      }.mkString
      // fold ands first; the or-level is then a plain disjunction of the
      // and-group results
      val vs = scala.collection.mutable.ArrayBuffer(atoms.head._2)
      joins.map(_._1).zip(atoms.tail.map(_._2)).foreach {
        case ("&&", v) => vs(vs.length - 1) = vs.last && v
        case (_, v) => vs += v
      }
      (src, vs.reduce(_ || _))
    }
    val cols = samples.zipWithIndex.map { case ((src, _), i) =>
      ExprLang.boolExpr(src, Set.empty).as(s"b$i")
    }
    val row = spark.range(1).select(cols: _*).head()
    samples.zipWithIndex.foreach { case ((src, expect), i) =>
      assert(row.getBoolean(i) == expect, s"'$src': expected $expect")
    }
  }

  test("malformed lines: the compute-once parsers conserve rows in on_error drop and send") {
    // truncated JSON, unbalanced quotes, empty, null and oversized lines
    // through each compute-once parse site. Rows out = rows in - rows the
    // parser drops (its line-class filter, on_error: drop, the sql_server
    // router), and no row is duplicated or lost by the Generate.
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions.{coalesce, col, from_json, lit}
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    import graft.parse.ParseOps
    import graft.plugins.Plugins

    def json(msg: Gen[String]) = for {
      lvl <- Gen.oneOf("info", "warn", "error"); st <- Gen.choose(100, 599)
      m <- msg
    } yield s"""{"level":"$lvl","status":$st,"path":"/p","latency_ms":5,"msg":"$m"}"""
    def hadoop(msg: Gen[String]) = for {
      sev <- Gen.oneOf("INFO", "WARN", "ERROR"); m <- msg
    } yield s"2024-01-05 10:11:12,345 $sev org.apache.Foo: x$m"
    def syslog(msg: Gen[String]) = for {
      pri <- Gen.choose(0, 191); m <- msg
      hdr <- Gen.oneOf("1 2024-01-05T10:11:12Z host7 app 42 ID7 -", // rfc5424
        "Jan 05 10:11:12 host7 app[42]:") // rfc3164: on_error send in 5424
    } yield s"<$pri>$hdr $m"
    def winEvent(msg: Gen[String]) = for {
      prov <- Gen.oneOf("MSSQLSERVER", "Application Error", "MSSQLSERVER$ALT")
      id <- Gen.choose(0, 999); m <- msg
    } yield s"""{"provider":{"name":"$prov"},"event_id":$id,"message":"$m"}"""
    def anyLine(msg: Gen[String]) =
      Gen.oneOf(json(msg), hadoop(msg), syslog(msg), winEvent(msg))
    val valid = anyLine(Gen.alphaStr)
    val line: Gen[Option[String]] = Gen.frequency(
      3 -> valid.map(Some(_)),
      2 -> (for (s <- valid; k <- Gen.choose(0, s.length - 1)) yield Some(s.take(k))),
      2 -> (for (s <- valid; k <- Gen.choose(0, s.length)) yield Some(s.patch(k, "\"", 0))),
      1 -> Gen.const(Some("")),
      1 -> Gen.const(None),
      1 -> anyLine(Gen.const("m" * 100000)).map(Some(_)),
      1 -> Gen.asciiPrintableStr.map(Some(_)))

    val hadoopRe = Plugins.RegexTemplates.find(_.name == "hadoop").get.pattern.r
    val schema = StructType(Seq(StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType), StructField("text", StringType),
      StructField("line", StringType)))
    val winEventSchema = "provider STRUCT<name: STRING>, event_id INT, message STRING"
    def turns(df: DataFrame): Seq[Int] =
      df.select("turn_idx").collect().map(_.getInt(0)).toSeq.sorted

    val prop = Prop.forAll(Gen.listOf(line)) { lines =>
      val in = spark.createDataFrame(spark.sparkContext.parallelize(
        lines.zipWithIndex.map { case (l, i) => Row("c", i, l.orNull, l.orNull) }, 2),
        schema)
      def kept(p: String => Boolean) = lines.indices.filter(i => lines(i).exists(p))
      // the router keeps a line whose parsed provider name matches, as the
      // same parse reads it without a Generate
      val routed = turns(in.filter(coalesce(from_json(col("line"), winEventSchema,
        Map.empty[String, String]).getField("provider").getField("name")
        .rlike("MSSQLSERVER"), lit(false))))
      turns(ParseOps.parseJson(in)) == kept(_.startsWith("{")) &&
        turns(Plugins.registry("hadoop")(spark)(in)) ==
          kept(hadoopRe.findFirstIn(_).isDefined) &&
        turns(Plugins.SyslogPlugin(spark)(in)) == kept(_.startsWith("<")) &&
        turns(Plugins.SqlServerPlugin(spark)(in)) == routed &&
        turns(Plugins.SqlServerPlugin(spark, Map("parse" -> "false"))(in)) ==
          lines.indices
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"malformed lines: ${res.status}")
  }
}
