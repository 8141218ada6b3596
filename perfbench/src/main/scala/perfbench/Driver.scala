package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

import graft.{GraftSession, SparkEntry}
import graft.agg.AggOps
import graft.enrich.EnrichOps
import graft.model.Transcripts
import graft.pipeline.{Pipeline, PipelineRunner, RandomFailure}
import graft.route.Router

/** JVM side of the benchmark. It calls the engine's public functions from
  * outside and writes raw measurements as JSON; `run.py` turns them into
  * metrics and checks every output against DuckDB references.
  *
  * Modes (`--mode`):
  *  - `gen`: write the seeded transcripts table to `--table` and exit. It
  *    runs in a process of its own, so generation is not part of the
  *    measured process.
  *  - `run` (default): one closed-loop client, one job at a time. Start the
  *    session, run the untimed cold pass (set-up), then run timed operations
  *    for `--seconds`, re-timing the floor control before each. With
  *    `--trace 1` a listener and spans are on, and the layer probes
  *    (pipeline cuts, incremental run, shuffle probe, query families,
  *    1-core scaling) run after the timed loop.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

object Driver {

  /** The query used as floor control on query_mix; it is kept out of the panel. */
  val ControlQuery = "q_route_counts"
  /** Hour partitions per group in the incremental probe. */
  val IncrementalGroup = 2
  val Cuts: Seq[String] = Seq("scan", "parse", "enrich", "route", "write", "run")

  // ------------------------------------------------------------------
  // Listener: task and job counters for the traced run
  // ------------------------------------------------------------------

  final class LayerListener extends SparkListener {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val recordsRead = new AtomicLong; val bytesWritten = new AtomicLong
    val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
    val spill = new AtomicLong; val cpuNs = new AtomicLong
    private val all = Seq(jobs, tasks, recordsRead, bytesWritten, shuffleRead,
      shuffleWrite, spill, cpuNs)
    // stage id -> (task durations in ms, shuffle bytes read), for the
    // reduce-stage skew ratio
    private val stages = scala.collection.mutable.Map[Int, (ArrayBuffer[Long], AtomicLong)]()

    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        recordsRead.addAndGet(m.inputMetrics.recordsRead)
        bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        cpuNs.addAndGet(m.executorCpuTime)
        stages.synchronized {
          val (durs, read) = stages.getOrElseUpdate(e.stageId, (ArrayBuffer[Long](), new AtomicLong))
          durs += e.taskInfo.duration
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }

    def reset(): Unit = { all.foreach(_.set(0)); stages.synchronized(stages.clear()) }

    /** max ÷ median task time of the reduce stage that read the most shuffle bytes. */
    def reduceSkew: Double = stages.synchronized {
      val reduce = stages.values.filter(_._2.get > 0)
      if (reduce.isEmpty) 1.0
      else {
        val durs = reduce.maxBy(_._2.get)._1.sorted
        val med = math.max(1L, durs(durs.size / 2))
        durs.last.toDouble / med
      }
    }

    def snapshot: Map[String, Any] = Map(
      "jobs" -> jobs.get, "tasks" -> tasks.get, "records_read" -> recordsRead.get,
      "bytes_written" -> bytesWritten.get, "shuffle_read" -> shuffleRead.get,
      "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get,
      "cpu_s" -> cpuNs.get / 1e9, "reduce_skew" -> reduceSkew)
  }

  // ------------------------------------------------------------------
  // Spans: name, start, end, parent, run id, plus per-span counters
  // ------------------------------------------------------------------

  final class Tracer(val runId: String, val on: Boolean) {
    private val spans = ArrayBuffer[Map[String, Any]]()
    private var stack: List[String] = Nil
    private var seq = 0

    def apply[T](name: String, counters: => Map[String, Any] = Map.empty)(f: => T): T =
      if (!on) f
      else {
        seq += 1
        val id = s"$name#$seq"
        val parent = stack.headOption.orNull
        stack = id :: stack
        val start = System.currentTimeMillis()
        try f
        finally {
          stack = stack.tail
          spans += Map("id" -> id, "name" -> name, "start_ms" -> start,
            "end_ms" -> System.currentTimeMillis(), "parent" -> parent,
            "run_id" -> runId, "counters" -> counters)
        }
      }

    def json: String = Json.write(spans)
  }

  // ------------------------------------------------------------------
  // Entry point
  // ------------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (args.get("mode").contains("gen")) {
      val s = session(args("cores").toInt, args("work"))
      generate(s, args("table"), args("turns").toLong, args("hours").toLong, args("seed").toLong)
      s.stop()
    } else run(args)
    // no lingering non-daemon threads may keep the process alive
    sys.exit(0)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = GraftSession.builder(master = s"local[$cores]")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seeded, hour-partitioned transcripts table: `Transcripts.generate` +
    * `writePartitioned`, the same generator the engine's own bench uses.
    */
  def generate(s: SparkSession, table: String, turns: Long, hours: Long, seed: Long): Unit = {
    deleteRec(new File(table))
    Transcripts.writePartitioned(
      Transcripts.generate(s, turns, math.max(1L, turns / 50), seed = seed,
        microsPerTurn = math.max(1L, hours * 3600L * 1000000L / turns)),
      table)
  }

  // ------------------------------------------------------------------
  // Operations (what one closed-loop client request is, per workload)
  // ------------------------------------------------------------------

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One canonical-pipeline run over the whole table as one group. */
  def pipelineOp(s: SparkSession, table: String, out: String): Map[String, Any] = {
    deleteRec(new File(out))
    val (r, wall) = timed(PipelineRunner.run(s, Pipeline.Canonical, table, out,
      groupSize = Int.MaxValue))
    val (files, bytes) = parquetFiles(new File(s"$out/sinks"))
    Map("wall_s" -> wall, "report_rows_in" -> r.rowsIn, "report_sinks" -> r.sinkCounts,
      "report_processed" -> r.partitionsProcessed, "files" -> files, "out_bytes" -> bytes) ++
      manifestTotals(out)
  }

  /** Totals over the manifest's committed partition entries. */
  def manifestTotals(out: String): Map[String, Any] = {
    val entries = Option(new File(s"$out/_manifest").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.endsWith(".json") && !f.getName.startsWith("."))
    val sinks = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var rowsIn = 0L
    var rowsOut = 0L
    entries.foreach { f =>
      val n = Json.mapper.readTree(f)
      rowsIn += n.get("rows_in").asLong
      rowsOut += n.get("rows_out").asLong
      n.get("sink_counts").properties().forEach(e => sinks(e.getKey) += e.getValue.asLong)
    }
    val commits = Option(new File(s"$out/_manifest/_snapshots").listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.endsWith(".json") && !f.getName.startsWith("."))
    Map("manifest_rows_in" -> rowsIn, "manifest_rows_out" -> rowsOut,
      "manifest_sinks" -> sinks.toMap, "committed" -> entries.length, "commits" -> commits)
  }

  /** The incremental path: `groupSize`-partition groups, each preceded by a
    * `RandomFailure` draw that can abort the run; the run is retried with
    * `attempt + 1` and resumes from the manifest until every partition is
    * committed.
    */
  def incrementalOp(s: SparkSession, table: String, out: String, groupSize: Int): Map[String, Any] = {
    deleteRec(new File(out))
    val failure = Some(RandomFailure(0.15, seed = "bench"))
    val partitions = PipelineRunner.discoverPartitions(s, table).size
    val t0 = System.nanoTime()
    var attempt = 0
    var done = false
    while (!done) {
      try {
        PipelineRunner.run(s, Pipeline.Canonical, table, out, groupSize = groupSize,
          failure = failure, attempt = attempt)
        done = true
      } catch {
        case e: RuntimeException if e.getMessage == "random failure" && attempt < 50 =>
          attempt += 1
      }
    }
    Map("wall_s" -> (System.nanoTime() - t0) / 1e9, "attempts" -> (attempt + 1),
      "groups" -> (partitions + groupSize - 1) / groupSize) ++ manifestTotals(out)
  }

  /** The shuffle probe: logDedup, then the full-record regroup; each
    * returns its row total, which must equal the input turns.
    */
  def dedupSum(s: SparkSession, table: String): Long =
    AggOps.logDedup(Transcripts.readPartitioned(s, table))
      .agg(sum(col("dedup_count"))).collect().head.getLong(0)

  def regroupSum(s: SparkSession, table: String): Long =
    EnrichOps.groupByAttrsRegroup(Transcripts.readPartitioned(s, table))
      .agg(sum(col("n_records"))).collect().head.getLong(0)

  def queryOp(s: SparkSession, name: String, qdir: String): Map[String, Any] = {
    val (rows, wall) = timed(SparkEntry.queries(name)(s, qdir).collect().length)
    Map("wall_s" -> wall, "query" -> name, "rows" -> rows)
  }

  /** The cumulative cuts of the canonical pipeline, all through public
    * functions; every cut but `write` and `run` ends in a `noop` sink.
    */
  def cut(s: SparkSession, name: String, table: String, out: String): Map[String, Any] = {
    def scan = s.read.parquet(table)
    def parse = scan.withColumn("severity_number", Router.rowSeverity())
    def route = Pipeline.compile(Pipeline.Canonical, s)(scan)
    name match {
      case "scan" => Map("wall_s" -> timed(noop(scan))._2)
      case "parse" => Map("wall_s" -> timed(noop(parse))._2)
      case "enrich" => Map("wall_s" -> timed(noop(EnrichOps.lookupEnrich(s, parse)))._2)
      case "route" => Map("wall_s" -> timed(noop(route))._2)
      case "write" =>
        deleteRec(new File(out))
        Map("wall_s" -> timed(route.write.mode("overwrite")
          .option("maxRecordsPerFile", 5000000L)
          .options(PipelineRunner.WriterOptions)
          .partitionBy("route", "year", "month", "day", "hour")
          .parquet(s"$out/sinks"))._2)
      case "run" => pipelineOp(s, table, out)
    }
  }

  // ------------------------------------------------------------------
  // The closed loop
  // ------------------------------------------------------------------

  def run(a: Map[String, String]): Unit = {
    val procStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traceOn = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val table = a.getOrElse("table", "")
    val qdir = a.getOrElse("qdir", "")
    val panel = a.get("queries").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val out = s"$work/sink_out"
    val resultPath = a("result")

    val tracer = new Tracer(s"$workload-$seed-$procStartMs", traceOn)
    val listener = new LayerListener

    var s: SparkSession = null
    def newSession(c: Int): SparkSession = {
      if (s != null) s.stop()
      s = session(c, work)
      if (traceOn) s.sparkContext.addSparkListener(listener)
      s
    }
    def settle(): Unit = GraftSparkBridge.waitListeners(s.sparkContext)
    def counters: Map[String, Any] = { settle(); listener.snapshot }

    val rng = new scala.util.Random(seed)
    var units = 0
    /** One client request unit; query_mix runs a pass in a seeded shuffled order. */
    def unit(tag: String): Seq[Map[String, Any]] = {
      units += 1
      val id = units
      (workload match {
        case "pipeline_bulk" =>
          Seq(tracer("pipeline.run")(pipelineOp(s, table, out)))
        case "query_mix" =>
          rng.shuffle(panel).map(q => tracer(s"query.$q")(queryOp(s, q, qdir)))
      }).map(_ ++ Map("phase" -> tag, "unit" -> id))
    }
    def control(): Double = workload match {
      case "query_mix" => queryOp(s, ControlQuery, qdir)("wall_s").asInstanceOf[Double]
      case _ => timed(noop(s.read.parquet(table)))._2
    }

    val floors = ArrayBuffer[Double]()
    val ops = ArrayBuffer[Map[String, Any]]()
    newSession(cores)
    val sessionUpS = (System.currentTimeMillis() - procStartMs) / 1e3
    // set-up: process start -> session up, plus the untimed cold pass
    val coldS = timed(tracer("setup.cold")(ops ++= unit("cold")))._2
    val setupS = sessionUpS + coldS
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    do {
      // the floor control is re-timed before every unit, so a co-tenant
      // window shows up in the data next to the units it slowed
      floors += tracer("floor.control")(control())
      // the traced run alternates listener on/off to measure its overhead
      val listened = !traceOn || i % 2 == 0
      if (traceOn && !listened) s.sparkContext.removeSparkListener(listener)
      ops ++= unit("timed").map(_ + ("listener" -> listened))
      if (traceOn && !listened) s.sparkContext.addSparkListener(listener)
      i += 1
    } while (System.nanoTime() < deadline)

    // query_mix results are written once, untimed, for the content check
    if (workload == "query_mix") panel.foreach { q =>
      SparkEntry.queries(q)(s, qdir).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/query_results/$q")
    }

    val probes: Map[String, Any] =
      if (!traceOn) Map.empty
      else {
        val cutRecs = ArrayBuffer[Map[String, Any]]()
        (0 until 2).foreach { rep =>
          Cuts.foreach { c =>
            listener.reset()
            val r = tracer(s"cut.$c", counters)(cut(s, c, table, out))
            cutRecs += r ++ Map("cut" -> c, "rep" -> rep, "counters" -> counters)
          }
        }
        listener.reset()
        val incr = tracer("pipeline.incremental", counters)(
          incrementalOp(s, table, s"$work/incr_out", IncrementalGroup)) + ("counters" -> counters)
        val shuffle = (0 until 2).map { _ =>
          listener.reset()
          val d = tracer("agg.dedup", counters)(timed(dedupSum(s, table)))
          val dc = counters
          listener.reset()
          val r = tracer("enrich.regroup", counters)(timed(regroupSum(s, table)))
          Map("dedup_s" -> d._2, "dedup_sum" -> d._1, "dedup_counters" -> dc,
            "regroup_s" -> r._2, "regroup_sum" -> r._1, "regroup_counters" -> counters)
        }
        val queries =
          if (workload == "query_mix") Seq.empty
          else panel.map(q => tracer(s"query.$q")(queryOp(s, q, qdir)))
        // 1-core run of the route cut over the same input
        newSession(1)
        val one = tracer("cut.route.local1")(cut(s, "route", table, out))
        Map("cuts" -> cutRecs, "incremental" -> incr, "shuffle" -> shuffle, "queries" -> queries,
          "route_local1_s" -> one("wall_s"))
      }
    s.stop()

    val peakRssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val oracles = (panel :+ "q_route_counts").distinct
      .map(q => q -> SparkEntry.oracleSql(q)).toMap
    val result = Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS, "floors_s" -> floors, "ops" -> ops,
      "peak_rss_kb" -> peakRssKb, "probes" -> probes,
      "oracle_sql" -> oracles, "oracle_cte" -> Transcripts.oracleCte)
    Files.writeString(Paths.get(resultPath), Json.write(result))
    if (traceOn) Files.writeString(Paths.get(s"$work/spans.json"), tracer.json)
  }

  // ------------------------------------------------------------------
  // Small helpers
  // ------------------------------------------------------------------

  def parquetFiles(dir: File): (Int, Long) =
    if (dir.isDirectory) dir.listFiles().map(parquetFiles).foldLeft((0, 0L)) {
      case ((n, b), (n2, b2)) => (n + n2, b + b2)
    }
    else if (dir.getName.endsWith(".parquet")) (1, dir.length())
    else (0, 0L)

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRec)
    f.delete()
  }
}
