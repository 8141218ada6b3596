package graft

import org.apache.spark.sql.functions._
import graft.model.Transcripts
import graft.pipeline.{Manifest, Pipeline, PipelineRunner, RandomFailure}

class PipelineSpec extends SparkTestBase {
  import Pipeline._

  test("validation: unknown operator is a plan-time error") {
    val bad = Canonical.copy(operators = Seq(OperatorSpec("no_such_op")))
    assert(validate(bad).left.exists(_.exists(_.contains("unknown operator"))))
    // a misspelt parameter is an error too, not a silently applied default
    val typo = Canonical.copy(operators = Seq(
      OperatorSpec("batch", Map("max_record" -> "10"))))
    assert(validate(typo).left.exists(_.exists(_.contains("unknown parameter 'max_record'"))))
  }

  test("validation: missing required parameter is rejected (CheckParameters parity)") {
    val bad = Canonical.copy(operators = Seq(OperatorSpec("filter")))
    assert(validate(bad).left.exists(_.exists(_.contains("missing required"))))
  }

  test("validation: sink bound to undefined route is rejected (routereceiver.go:46)") {
    val bad = Canonical.copy(sinks = Seq("sink_nowhere"))
    assert(validate(bad).left.exists(_.exists(_.contains("undefined route"))))
  }

  test("validation: defaults applied (ApplyDefaults parity)") {
    val spec = Canonical.copy(operators = Seq(
      OperatorSpec("sample", Map("drop_ratio" -> "0.0"))))
    val v = validate(spec).toOption.get
    assert(v.operators.head.params("condition") == "true")
  }

  test("transform (OTTL), lookup_csv and batch operator types compile and run") {
    import graft.enrich.EnrichOps
    val csv = EnrichOps.lookupFixture("pipeline_lookup.csv", "role,team,cost_center",
      EnrichOps.RoleLookup)
    val spec = Canonical.copy(operators = Seq(
      OperatorSpec("severity_tag"), // route predicates need severity_number
      OperatorSpec("transform", Map(
        "statements" -> "set(env, 'prod') where role == 'assistant'")),
      OperatorSpec("lookup_csv", Map("csv" -> csv, "field" -> "role")),
      OperatorSpec("batch")))
    val out = Pipeline.compile(spec, spark)(Transcripts.fromEvents(spark, sfDir))
    val rows = out.filter(col("role").isin("assistant", "user"))
      .select(col("role"), col("env"), col("team")).distinct().collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("assistant") == ("prod", "ml"))
    assert(rows("user") == (null, "external"))
  }

  test("batchprocessor cap: no written file exceeds the spec's max_records") {
    val base = java.nio.file.Files.createTempDirectory("batchcap").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 6000, nConvs = 20), base + "/in")
    // the cap comes from the PIPELINE SPEC's batch operator, not a run() flag
    val spec = Canonical.copy(operators = Canonical.operators :+
      OperatorSpec("batch", Map("max_records" -> "500")))
    PipelineRunner.run(spark, spec, base + "/in", base + "/out")
    // the streaming sink reads the same cap from the same spec
    graft.streaming.StreamingPipeline.manifestSink(spec, s"$base/stream")(
      graft.io.Parquet.read(spark, base + "/in"), 0L)
    Seq(base + "/out/sinks", base + "/stream/sinks").foreach { sinks =>
      val files = spark.read.option("basePath", sinks).parquet(sinks)
        .select(input_file_name().as("f")).groupBy(col("f")).count()
        .select(col("count")).collect().map(_.getLong(0))
      assert(files.nonEmpty && files.max <= 500L,
        s"file over cap in $sinks: ${files.max}")
      assert(files.length > 6000 / 500, s"cap must split large partitions in $sinks")
    }
    Bench.deleteRec(base)
  }

  test("textual config parses, validates, and compiles (EP1 parity)") {
    val spec = graft.pipeline.PipelineConfig.load(
      """# canonical pipeline
        |pipeline: canonical_from_text
        |operator: severity_tag
        |operator: lookup_enrich
        |operator: sample drop_ratio=0.0
        |route: sink_errors severity_number >= 17
        |route: sink_tools tool != ''
        |route: sink_default true
        |sink: sink_errors
        |sink: sink_tools
        |sink: sink_default
        |""".stripMargin)
    assert(spec.name == "canonical_from_text")
    assert(spec.operators(2).params("condition") == "true") // default applied
    // compiles to the same routed counts as the programmatic canonical spec
    val t = graft.model.Transcripts.fromEvents(spark, sfDir)
    val fromText = Pipeline.compile(spec, spark)(t)
      .groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val programmatic = Pipeline.compile(Canonical, spark)(t)
      .groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromText == programmatic)
    // bad configs fail at plan time
    intercept[IllegalArgumentException] {
      graft.pipeline.PipelineConfig.load("operator: bogus\nroute: r true\nsink: r")
    }
    intercept[IllegalArgumentException] { // a parameter without '='
      graft.pipeline.PipelineConfig.load("operator: sample drop_ratio\nroute: r true\nsink: r")
    }
  }

  test("time-range scans prune to the requested hour partitions (rehydration parity)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val base = java.nio.file.Files.createTempDirectory("prune").toString
    graft.model.Transcripts.writePartitioned(
      graft.model.Transcripts.generate(spark, nTurns = 10000, nConvs = 20), base)
    // files the executed scan read (its driver-side numFiles metric)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      assert(scans.size == 1)
      scans.head.metrics("numFiles").value
    }
    val full = graft.io.Parquet.read(spark, base)
    val pruned = full
      .filter(col("year") === 2024 && col("month") === 1 &&
        col("day") === 1 && col("hour") === 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("(hour#"),
      "hour filter must be a partition filter, not a data filter")
    // pruned scan reads strictly fewer files than the full scan
    val totalParts = graft.pipeline.PipelineRunner.discoverPartitions(spark, base).size
    assert(totalParts > 2)
    val fullFiles = filesRead(full)
    assert(fullFiles == full.inputFiles.length)
    assert(pruned.count() > 0)
    assert(filesRead(pruned) < fullFiles)
    // timeRangeScan over hours 1..2: both ends inclusive, the rest pruned
    val ranged = Transcripts.timeRangeScan(spark, base,
      "2024-01-01 01:00:00", "2024-01-01 02:00:00")
    assert(ranged.select(hour(col("ts"))).distinct().collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2))
    assert(filesRead(ranged) < fullFiles)
    Bench.deleteRec(base)
  }

  test("observe tap counts rows without an extra job") {
    val t = graft.model.Transcripts.fromEvents(spark, sfDir)
    val (tapped, in, out) = PipelineRunner.tapped(t, Canonical, lit(7L))
    // action on THIS plan, not a new count() plan
    val rows = tapped.collect()
    assert(PipelineRunner.tapCounts(in) == Map((7L, "") -> rows.length.toLong))
    assert(PipelineRunner.tapCounts(out) ==
      rows.groupMapReduce(r => (7L, r.getAs[String]("route")))(_ => 1L)(_ + _))
  }

  test("a tap is one aggregate expression whatever the group size") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
    val base = java.nio.file.Files.createTempDirectory("taps").toString
    // 2,400 turns, 100 per hour: 24 hour partitions
    Transcripts.writePartitioned(Transcripts.generate(spark, nTurns = 2400, nConvs = 20,
      microsPerTurn = 36000000L), base)
    val parts = PipelineRunner.discoverPartitions(spark, base)
    assert(parts.size == 24)
    // the taps of one group's write, as the runner plans them: aggregate
    // expressions per CollectMetrics node
    def taps(group: Seq[String]): Seq[Int] = {
      val input = graft.io.Parquet.read(spark, spark.read.option("basePath", base),
        group.map(p => s"$base/$p"): _*)
      PipelineRunner.tapped(input, Canonical, PipelineRunner.HourKey)._1
        .queryExecution.optimizedPlan.collect { case c: CollectMetrics =>
          c.metrics.flatMap(_.collect { case a: AggregateExpression => a }).size
        }
    }
    val (two, all) = (taps(parts.take(2)), taps(parts))
    assert(two.size == 2 && two == all, s"2 partitions: $two, 24 partitions: $all")
    Bench.deleteRec(base)
  }

  test("partitioned write lands each row in exactly one sink, counts match the route tag") {
    val base = java.nio.file.Files.createTempDirectory("sinks").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 8000, nConvs = 20), s"$base/in")
    val r = PipelineRunner.run(spark, Pipeline.Canonical, s"$base/in", s"$base/out")
    assert(r.rowsIn == 8000)
    assert(r.sinkCounts.values.sum == r.rowsIn)
    val expected = graft.route.Router.tagged(spark.read.parquet(s"$base/in"))
      .groupBy(col("route")).count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r.sinkCounts == expected)
    Bench.deleteRec(base)
  }

  test("malformed lines under ANSI route as INFO instead of aborting the run") {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Files.createTempDirectory("ansi").toString
    val gen = Transcripts.generate(spark, nTurns = 4000, nConvs = 20)
    // copies of generated rows, each with one malformed line as its text
    val textAt = gen.schema.fieldIndex("text")
    val bad = gen.limit(RouterSpec.ansiFailing.size).collect().toSeq
      .zip(RouterSpec.ansiFailing)
      .map { case (r, line) => org.apache.spark.sql.Row.fromSeq(r.toSeq.updated(textAt, line)) }
    Transcripts.writePartitioned(
      gen.union(spark.createDataFrame(bad.asJava, gen.schema)), s"$base/in")
    val r = withAnsi(true) {
      PipelineRunner.run(spark, Canonical, s"$base/in", s"$base/out")
    }
    assert(r.rowsIn == 4000 + RouterSpec.ansiFailing.size)
    assert(r.sinkCounts.values.sum == r.rowsIn)
    Bench.deleteRec(base)
  }

  test("manifest counts equal Spark counts when an operator drops rows") {
    val base = java.nio.file.Files.createTempDirectory("counts").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 8000, nConvs = 20), s"$base/in")
    val spec = Canonical.copy(operators = Canonical.operators :+
      OperatorSpec("filter", Map("drop_where" -> "role = 'system'")))
    PipelineRunner.run(spark, spec, s"$base/in", s"$base/out", groupSize = 2)
    def key(r: org.apache.spark.sql.Row, from: Int): String =
      s"year=${r.get(from)}/month=${r.get(from + 1)}/day=${r.get(from + 2)}/hour=${r.get(from + 3)}"
    val parts = Seq(col("year"), col("month"), col("day"), col("hour"))
    val inCounts = spark.read.parquet(s"$base/in").groupBy(parts: _*).count()
      .collect().map(r => key(r, 0) -> r.getLong(4)).toMap
    val outCounts = spark.read.option("basePath", s"$base/out/sinks")
      .parquet(s"$base/out/sinks").groupBy(col("route") +: parts: _*).count()
      .collect().groupBy(r => key(r, 1))
      .map { case (k, rs) => k -> rs.map(r => r.getString(0) -> r.getLong(5)).toMap }
    val entries = spark.read.option("multiLine", "true")
      .json(s"$base/out/_manifest/*.json").collect()
    assert(entries.length == inCounts.size)
    entries.foreach { e =>
      val p = e.getAs[String]("partition")
      assert(e.getAs[Long]("rows_in") == inCounts(p), p)
      val sc = e.getAs[org.apache.spark.sql.Row]("sink_counts")
      val manifestSinks = spec.sinks.map(s => s -> sc.getAs[Long](s)).toMap
      val expected = spec.sinks.map(s =>
        s -> outCounts.getOrElse(p, Map.empty[String, Long]).getOrElse(s, 0L)).toMap
      assert(manifestSinks == expected, p)
      assert(e.getAs[Long]("rows_out") == expected.values.sum, p)
    }
    // the filter really dropped rows: written < read
    assert(entries.map(_.getAs[Long]("rows_in")).sum >
      entries.map(_.getAs[Long]("rows_out")).sum)
    Bench.deleteRec(base)
  }

  test("zero-padded partition names (the reference exporter's layout) commit under their own names") {
    val base = java.nio.file.Files.createTempDirectory("padded").toString
    val ts = col("ts")
    Transcripts.generate(spark, nTurns = 3000, nConvs = 20)
      .withColumn("year", year(ts).cast("string"))
      .withColumns(Seq("month" -> month(ts), "day" -> dayofmonth(ts), "hour" -> hour(ts))
        .map { case (n, c) => n -> lpad(c.cast("string"), 2, "0") }.toMap)
      .write.partitionBy("year", "month", "day", "hour").parquet(s"$base/in")
    val parts = PipelineRunner.discoverPartitions(spark, s"$base/in")
    assert(parts.contains("year=2024/month=01/day=01/hour=00"))
    val r = PipelineRunner.run(spark, Canonical, s"$base/in", s"$base/out")
    assert(r.rowsIn == 3000 && r.rowsOut == 3000)
    val entries = spark.read.option("multiLine", "true")
      .json(s"$base/out/_manifest/*.json").collect()
    assert(entries.map(_.getAs[String]("partition")).toSet == parts.toSet)
    assert(entries.forall(_.getAs[Long]("rows_in") > 0))
    Bench.deleteRec(base)
  }

  test("a partition leaf without integer values fails the run before any group commits") {
    val base = java.nio.file.Files.createTempDirectory("badleaf").toString
    Transcripts.writePartitioned(Transcripts.generate(spark, nTurns = 2400, nConvs = 20,
      microsPerTurn = 36000000L), s"$base/in")
    val parts = PipelineRunner.discoverPartitions(spark, s"$base/in")
    // Spark's leaf for a null hour, planted after every good leaf
    val last = java.nio.file.Paths.get(s"$base/in/${parts.max}")
    val bad = last.resolveSibling("hour=__HIVE_DEFAULT_PARTITION__")
    java.nio.file.Files.createDirectory(bad)
    java.nio.file.Files.list(last).filter(_.toString.endsWith(".parquet")).limit(1)
      .forEach(f => java.nio.file.Files.copy(f, bad.resolve(f.getFileName)))
    val e = intercept[IllegalArgumentException](
      PipelineRunner.run(spark, Canonical, s"$base/in", s"$base/out", groupSize = 1))
    assert(e.getMessage.contains("hour=__HIVE_DEFAULT_PARTITION__"), e.getMessage)
    assert(new Manifest(s"$base/out/_manifest").committedPartitions().isEmpty)
    assert(!new java.io.File(s"$base/out/sinks").exists())
    Bench.deleteRec(base)
  }

  test("job budget: compiling runs no job, a one-group run only its few fixed jobs") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.GraftSparkBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val base = java.nio.file.Files.createTempDirectory("jobs").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 4000, nConvs = 20), s"$base/in")
    val parts = PipelineRunner.discoverPartitions(spark, s"$base/in")
    Transcripts.fromEvents(spark, sfDir) // warm the derived-table cache
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      GraftSparkBridge.waitListeners(spark.sparkContext)
      jobs.set(0)
      body
      GraftSparkBridge.waitListeners(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // reads take their schema from a footer on the driver: no job
      assert(jobsOf(Transcripts.readPartitioned(spark, s"$base/in")) == 0)
      assert(jobsOf(Transcripts.fromEvents(spark, sfDir)) == 0)
      assert(jobsOf(graft.data.TextAnalysis.documents(spark, sfDir)) == 0)
      assert(jobsOf(Transcripts.timeRangeScan(spark, s"$base/in",
        "2024-01-01 00:00:00", "2024-01-01 01:00:00")) == 0)
      // lookup dims are parsed on the driver: building the plan runs nothing
      val input = graft.io.Parquet.read(spark, s"$base/in")
      assert(jobsOf(Pipeline.compile(Canonical, spark)(input)) == 0)
      // one job, the write: the lookup dims are hash probes inside its
      // projection, the input schema is a footer read, and the manifest
      // counts are observe taps on the write itself
      val n = jobsOf(PipelineRunner.run(spark, Canonical, s"$base/in", s"$base/out",
        groupSize = parts.size))
      assert(n == 1, s"one group ran $n jobs")
      // every group runs the same jobs
      assert(parts.size >= 3, s"need several groups, got ${parts.size} partitions")
      val groupSize = (parts.size + 2) / 3
      val g = (parts.size + groupSize - 1) / groupSize
      val multi = jobsOf(PipelineRunner.run(spark, Canonical, s"$base/in",
        s"$base/out_multi", groupSize = groupSize))
      assert(multi == g * n, s"$g groups ran $multi jobs, one group $n")
    } finally spark.sparkContext.removeSparkListener(listener)
    Bench.deleteRec(base)
  }

  test("pipeline writes leave the session's partition overwrite mode alone") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val mode = spark.conf.get(key)
    val base = java.nio.file.Files.createTempDirectory("overwrite").toString
    val table = s"$base/t"
    // 4,000 turns over hours 0–3
    Transcripts.writePartitioned(Transcripts.generate(spark, nTurns = 4000, nConvs = 20,
      microsPerTurn = 3600000L), table)
    PipelineRunner.run(spark, Canonical, table, s"$base/out")
    graft.streaming.StreamingPipeline.manifestSink(Canonical, s"$base/stream")(
      graft.io.Parquet.read(spark, table), 0L)
    assert(spark.conf.get(key) == mode)
    // a plain overwrite of 1,000 turns over hours 0–1 replaces the table:
    // under a leaked dynamic mode hours 2–3 would survive (3,000 rows)
    Transcripts.writePartitioned(Transcripts.generate(spark, nTurns = 1000, nConvs = 20,
      microsPerTurn = 7200000L), table)
    val back = spark.read.parquet(table)
    assert(back.count() == 1000)
    assert(back.select("hour").distinct().collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
    Bench.deleteRec(base)
  }

  test("SparkEntry.entry (the flagship smoke) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("compiled pipeline == hand-built plan on the same input") {
    val t = Transcripts.fromEvents(spark, sfDir)
    val compiled = Pipeline.compile(Canonical, spark)(t)
    val hand = graft.enrich.EnrichOps.lookupEnrich(spark,
      graft.route.Router.tagged(t))
    val a = compiled.groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = hand.groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }
}

/** Checkpointed resume: a killed run must not re-route committed partitions
  * (blobconsume/checkpoint.go:49-68 parity) and re-runs must not double-write.
  */
class ResumeSpec extends SparkTestBase {

  test("resume skips committed partitions and never double-writes") {
    val base = java.nio.file.Files.createTempDirectory("resume").toString
    val input = s"$base/in"
    val out = s"$base/out"
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 20000, nConvs = 50), input)

    val parts = PipelineRunner.discoverPartitions(spark, input)
    assert(parts.size > 1, s"need multiple hour partitions, got ${parts.size}")

    // full run → baseline counts
    val full = PipelineRunner.run(spark, Pipeline.Canonical, input, out)
    assert(full.partitionsProcessed == parts.size)
    // the manifest is one entry per partition, nothing else
    assert(new java.io.File(s"$out/_manifest").list().toSet ==
      parts.map(p => p.replace('/', '_') + ".json").toSet)
    val fullCounts = full.sinkCounts

    // simulate a kill: wipe outputs, pre-commit HALF the partitions
    Bench.deleteRec(out)
    val manifest = new Manifest(s"$out/_manifest")
    val (done, todo) = parts.splitAt(parts.size / 2)
    done.foreach { p =>
      manifest.commit(p, 0L, Map.empty, Seq(p), 0L)
    }

    val resumed = PipelineRunner.run(spark, Pipeline.Canonical, input, out)
    assert(resumed.partitionsSkipped == done.size)
    assert(resumed.partitionsProcessed == todo.size)

    // idempotence: a second resume does nothing
    val again = PipelineRunner.run(spark, Pipeline.Canonical, input, out)
    assert(again.partitionsProcessed == 0)
    assert(again.partitionsSkipped == parts.size)

    // the resumed run wrote only the todo partitions' rows (no double-write):
    // sink totals over todo partitions must equal full-run totals minus the
    // committed partitions' share
    val sinkRows = Pipeline.Canonical.sinks.map { s =>
      val path = PipelineRunner.sinkPath(out, s)
      val dir = new java.io.File(path)
      s -> (if (dir.exists())
        spark.read.option("basePath", path).parquet(path).count()
      else 0L)
    }.toMap
    assert(sinkRows.values.sum == resumed.rowsIn)
    assert(resumed.rowsIn < fullCounts.values.sum)
    Bench.deleteRec(base)
  }

  test("random failure: config validation, deterministic schedule, retry re-draws") {
    intercept[IllegalArgumentException](RandomFailure(failureRate = 1.5))
    intercept[IllegalArgumentException](RandomFailure(errorMessage = ""))
    val rf = RandomFailure(0.25, seed = "graft")
    // frequency ≈ rate over many batch ids (hash-uniform; loose band)
    val hits = (1 to 2000).count(i => rf.draw(s"b$i") < 0.25)
    assert(hits > 380 && hits < 620, s"got $hits")
    // deterministic per (batch, attempt); retries RE-DRAW
    assert(rf.draw("b1", 0) == rf.draw("b1", 0))
    assert((1 to 20).exists(a => (rf.draw("b1", a) < 0.25) != (rf.draw("b1", 0) < 0.25)))
    // rate 0 never throws; rate 1 always does
    RandomFailure(0.0).check("x")
    intercept[RuntimeException](RandomFailure(1.0).check("x"))
    // the Scala draw and the q_random_failure threshold compare agree
    // (2^58 is 0.25 × 2^60 exactly, so double and long compares coincide)
    (1 to 100).foreach { i =>
      val id = s"2024-01-01-$i"
      assert((rf.draw(id, 0) < 0.25) ==
        (RandomFailure.hash60(s"graft|$id|0") < 288230376151711744L))
    }
  }

  test("random failure: retries through the manifest plane complete the run, no double-writes") {
    val base = java.nio.file.Files.createTempDirectory("rfail").toString
    val input = s"$base/in"
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 20000, nConvs = 50), input)
    // baseline without injection
    val full = PipelineRunner.run(spark, Pipeline.Canonical, input, s"$base/ref",
      groupSize = 2)
    // injected: each attempt fails at the first unlucky group; committed
    // groups survive, the retry resumes past them and re-draws
    val rf = RandomFailure(0.5, seed = "retry-test")
    var attempt = 0
    var done: Option[PipelineRunner.RunReport] = None
    var failures = 0
    while (done.isEmpty && attempt < 60) {
      try done = Some(PipelineRunner.run(spark, Pipeline.Canonical, input,
        s"$base/out", groupSize = 2, failure = Some(rf), attempt = attempt))
      catch {
        case e: RuntimeException if e.getMessage == "random failure" =>
          failures += 1; attempt += 1
      }
    }
    assert(done.nonEmpty, s"never completed after $attempt attempts")
    assert(failures > 0, "fixture must exercise at least one injected failure")
    val refRows = Pipeline.Canonical.sinks.map(s =>
      spark.read.parquet(PipelineRunner.sinkPath(s"$base/ref", s)).count()).sum
    val outRows = Pipeline.Canonical.sinks.map(s =>
      spark.read.parquet(PipelineRunner.sinkPath(s"$base/out", s)).count()).sum
    assert(outRows == refRows) // exactly-once across all failed attempts
    Bench.deleteRec(base)
  }

  test("mid-group crash: stale partial sink files of an UNCOMMITTED partition are replaced, not duplicated") {
    // the complement of the resume test above: there the outputs were wiped
    // before pre-committing; here a kill strikes AFTER the sink write but
    // BEFORE the manifest commit, so the uncommitted partition's sink files
    // (plus an injected extra "partial" part file) are still on disk when
    // the rerun arrives — dynamic partition overwrite must REPLACE those
    // leaf dirs, never append to them
    val base = java.nio.file.Files.createTempDirectory("crash").toString
    val input = s"$base/in"
    val out = s"$base/out"
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 20000, nConvs = 50), input)
    val parts = PipelineRunner.discoverPartitions(spark, input)
    assert(parts.size > 1)

    val full = PipelineRunner.run(spark, Pipeline.Canonical, input, out)
    def sinkCountsOnDisk(): Map[String, Long] =
      spark.read.option("basePath", s"$out/sinks").parquet(s"$out/sinks")
        .groupBy(col("route")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val baseline = sinkCountsOnDisk()
    assert(baseline.values.sum == full.sinkCounts.values.sum)

    // uncommit ONE partition (manifest only — sink files stay on disk)
    val victim = parts.last
    val inVictim = victim.split("/").map { kv =>
      val Array(k, v) = kv.split("=")
      col(k) === v.toInt
    }.reduce(_ && _)
    val victimShare = spark.read.option("basePath", s"$out/sinks")
      .parquet(s"$out/sinks").filter(inVictim)
      .groupBy(col("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val manifest = new Manifest(s"$out/_manifest")
    manifest.clear()
    parts.init.foreach { p =>
      manifest.commit(p, 0L, Map.empty, Seq(p), 0L)
    }
    // inject a partial extra part file into each of the victim's leaf dirs
    // (a killed writer's orphaned output): a COPY of a real part file, so
    // if the rerun fails to replace the dir the duplicate rows are counted
    val sinksRoot = java.nio.file.Paths.get(s"$out/sinks")
    val walk = java.nio.file.Files.walk(sinksRoot)
    val leaves = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    try walk.forEach { p =>
      if (p.toString.endsWith(".parquet") && p.toString.contains(victim))
        leaves += p
    } finally walk.close()
    assert(leaves.nonEmpty, s"no sink files under $victim")
    leaves.foreach { p =>
      java.nio.file.Files.copy(p,
        p.getParent.resolve("part-99999-orphan.c000.parquet"))
    }
    val inflated = sinkCountsOnDisk()
    assert(inflated.values.sum > baseline.values.sum) // injection is visible

    // rerun: only the victim is todo; its leaf dirs must come back EXACT
    val resumed = PipelineRunner.run(spark, Pipeline.Canonical, input, out)
    assert(resumed.partitionsProcessed == 1 &&
      resumed.partitionsSkipped == parts.size - 1)
    assert(sinkCountsOnDisk() == baseline,
      "rerun did not replace the uncommitted partition's stale sink files")
    // the run's own counts are the rows its write committed, not the orphans
    assert(resumed.sinkCounts == Pipeline.Canonical.sinks.map(s =>
      s -> victimShare.getOrElse(s, 0L)).toMap)
    assert(resumed.rowsIn == spark.read.parquet(input).filter(inVictim).count())
    Bench.deleteRec(base)
  }

  test("kill between a manifest entry's tmp write and its rename: the partition re-runs, counted once") {
    val base = java.nio.file.Files.createTempDirectory("killpoint").toString
    val input = s"$base/in"
    val out = s"$base/out"
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 8000, nConvs = 20), input)
    val parts = PipelineRunner.discoverPartitions(spark, input)
    assert(parts.size > 1)
    PipelineRunner.run(spark, Pipeline.Canonical, input, out, groupSize = 2)
    // the victim's sink files are written and its entry is staged, but the
    // rename never ran: the tmp holds the whole entry, the json is absent
    val manifestDir = java.nio.file.Paths.get(s"$out/_manifest")
    val stem = parts.last.replace('/', '_')
    java.nio.file.Files.move(manifestDir.resolve(s"$stem.json"),
      manifestDir.resolve(s".$stem.json.tmp"))

    val resumed = PipelineRunner.run(spark, Pipeline.Canonical, input, out, groupSize = 2)
    assert(resumed.partitionsProcessed == 1 && resumed.partitionsSkipped == parts.size - 1)
    assert(new java.io.File(manifestDir.toString).list().toSet ==
      parts.map(p => p.replace('/', '_') + ".json").toSet)
    // sinks and manifest both hold every input row exactly once
    def counts(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.groupBy("year", "month", "day", "hour", "route").count().collect().map { r =>
        (s"year=${r.get(0)}/month=${r.get(1)}/day=${r.get(2)}/hour=${r.get(3)}", r.getString(4)) ->
          r.getLong(5)
      }.toMap
    val expected = counts(Pipeline.compile(Pipeline.Canonical, spark)(
      spark.read.parquet(input)))
    assert(counts(spark.read.option("basePath", s"$out/sinks").parquet(s"$out/sinks")) ==
      expected)
    val entries = spark.read.option("multiLine", "true").json(s"$out/_manifest/*.json").collect()
    val committed = entries.flatMap { e =>
      val sc = e.getAs[org.apache.spark.sql.Row]("sink_counts")
      Pipeline.Canonical.sinks.map(s => (e.getAs[String]("partition"), s) -> sc.getAs[Long](s))
    }.toMap
    assert(committed.filter(_._2 > 0) == expected)
    assert(entries.map(_.getAs[Long]("rows_in")).sum == spark.read.parquet(input).count())
    Bench.deleteRec(base)
  }

  test("snapshot payload budget: per-record window is bucket-partitioned (no global sort)") {
    import spark.implicits._
    val rows = (0 until 100).map(i =>
      (s"c$i", i, "user", "search hit " + ("x" * 40), "", s"2024-01-10 ${10 + i % 10}:00:${i % 60}"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "s")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    val out = graft.plugins.Snapshot.search(rows, "search",
      "2024-01-09 00:00:00", maxPayloadBytes = 1000)
    // parity: equals the naive global running-sum prefix
    val naive = rows.sort("ts", "conv_id", "turn_idx").collect()
      .scanLeft(0L)((acc, r) => acc + r.getAs[String]("text").getBytes("UTF-8").length)
      .tail.zip(rows.sort("ts", "conv_id", "turn_idx").collect())
      .takeWhile(_._1 <= 1000).map(_._2.getAs[String]("conv_id")).toSet
    assert(out.collect().map(_.getAs[String]("conv_id")).toSet == naive)
    // plan shape: every per-record window partitions by the bucket key —
    // the only SinglePartition exchange feeds the tiny per-bucket aggregate
    val plan = out.queryExecution.executedPlan.toString
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windowSpecs.nonEmpty)
    val perRecord = windowSpecs.filter(_.contains("conv_id"))
    assert(perRecord.nonEmpty && perRecord.forall(_.contains("__b")),
      s"per-record window not bucket-partitioned:\n$plan")
  }

  test("manifest: isCommitted, re-commit keeps one entry, clear() empties") {
    val base = java.nio.file.Files.createTempDirectory("manifest").toString
    val m = new Manifest(base)
    Seq("p1", "p2", "p3").foreach { p =>
      m.commit(p, 1L, Map("out" -> 1L), Seq(p), 0L)
    }
    assert(m.committedPartitions() == Set("p1", "p2", "p3"))
    assert(m.isCommitted("p1") && !m.isCommitted("p4"))
    // re-committing a partition does not duplicate the listing
    m.commit("p1", 1L, Map("out" -> 1L), Seq("p1"), 0L)
    assert(m.committedPartitions() == Set("p1", "p2", "p3"))
    m.clear()
    assert(m.committedPartitions().isEmpty && !m.isCommitted("p1"))
    Bench.deleteRec(base)
  }

  test("opening a manifest parses no entry: a corrupt entry still counts as committed") {
    val base = java.nio.file.Files.createTempDirectory("manifestopen").toString
    val p = "year=2024/month=1/day=1/hour=0"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(base,
      "year=2024_month=1_day=1_hour=0.json"), "{not json")
    val m = new Manifest(base)
    assert(m.isCommitted(p))
    assert(m.uncommitted(Seq(p, "year=2024/month=1/day=1/hour=1")) ==
      Seq("year=2024/month=1/day=1/hour=1"))
    Bench.deleteRec(base)
  }

  test("paged search: a different spec against the same storeDir rebuilds, no stale reuse") {
    import graft.pipeline.PagedSearch
    val base = java.nio.file.Files.createTempDirectory("pagedfp").toString
    val t = Transcripts.generate(spark, nTurns = 500, nConvs = 5)
    val specA = PagedSearch.SearchSpec("e", "2024-01-01T00:00", "2024-12-31T00:00",
      eventBatchSize = 100)
    val rA = PagedSearch.run(spark, t, specA, s"$base/store", s"$base/outA",
      new Manifest(s"$base/_mA"))
    // same storeDir, different query: must export ITS OWN results
    val specB = specA.copy(query = "no_such_substring_zzz")
    val rB = PagedSearch.run(spark, t, specB, s"$base/store", s"$base/outB",
      new Manifest(s"$base/_mB"))
    assert(rA.rowsExported > 0 && rB == PagedSearch.RunResult(0, 0, 0),
      s"stale store reused across specs: $rA vs $rB")
    Bench.deleteRec(base)
  }

  test("paged search: zero-match search returns an empty result, not an abort") {
    import graft.pipeline.PagedSearch
    val base = java.nio.file.Files.createTempDirectory("paged0").toString
    val t = Transcripts.generate(spark, nTurns = 100, nConvs = 5)
    val spec = PagedSearch.SearchSpec("no_such_substring_zzz",
      "2024-01-01T00:00", "2024-12-31T00:00", eventBatchSize = 10)
    val r = PagedSearch.run(spark, t, spec, s"$base/store", s"$base/out",
      new Manifest(s"$base/_manifest"))
    assert(r == PagedSearch.RunResult(0, 0, 0))
    Bench.deleteRec(base)
  }

  test("paged search offsets: per-record window is bucket-partitioned (no global sort)") {
    import graft.pipeline.PagedSearch
    val t = Transcripts.generate(spark, nTurns = 1000, nConvs = 10)
    val spec = PagedSearch.SearchSpec("e", "2024-01-01T00:00", "2024-12-31T00:00",
      eventBatchSize = 100)
    val plan = PagedSearch.pagedResults(t, spec).queryExecution.executedPlan.toString
    val windowSpecs = "windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    // the per-record offset window orders by (ts, conv_id, turn_idx); the
    // fixture generator's own window (conv_id, gen_id) is exempt
    val perRecord = windowSpecs.filter(w => w.contains("conv_id") && w.contains("ts"))
    assert(perRecord.nonEmpty && perRecord.forall(_.contains("__b")),
      s"offset window not bucket-partitioned:\n$plan")
  }

  test("paged search: kill mid-run, resume skips completed pages, no double export") {
    import graft.pipeline.PagedSearch
    val base = java.nio.file.Files.createTempDirectory("paged").toString
    val t = Transcripts.generate(spark, nTurns = 5000, nConvs = 20)
    val spec = PagedSearch.SearchSpec("e", "2024-01-01T00:00", "2024-12-31T00:00",
      eventBatchSize = 200)
    val manifest = new Manifest(s"$base/_manifest")

    // kill after 2 exported pages
    val boom = intercept[RuntimeException] {
      PagedSearch.run(spark, t, spec, s"$base/store", s"$base/out", manifest,
        failAfterPages = 2)
    }
    assert(boom.getMessage.contains("injected failure"))
    assert(manifest.committedPartitions().size == 2)
    val afterKill = spark.read.parquet(s"$base/out").count()

    // resume: completed pages skip, the rest export exactly once
    val resumed = PagedSearch.run(spark, t, spec, s"$base/store", s"$base/out", manifest)
    assert(resumed.pagesSkipped == 2)
    val total = spark.read.parquet(s"$base/out")
    val expected = PagedSearch.pagedResults(t, spec)
    assert(total.count() == expected.count() && total.count() > afterKill)
    // no page exported twice
    assert(total.groupBy("page").count().collect()
      .forall(_.getLong(1) <= spec.eventBatchSize))
    // offsets are a dense 0..n-1 sequence in (ts, conv, turn) order
    val offs = total.select("__offset").collect().map(_.getLong(0)).sorted
    assert(offs.toSeq == (0L until offs.length).toSeq)
    Bench.deleteRec(base)
  }
}
