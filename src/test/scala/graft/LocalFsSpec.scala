package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.io.LocalFs
import graft.model.Transcripts
import graft.pipeline.{Pipeline, PipelineRunner}

class LocalFsSpec extends SparkTestBase {

  /** Permission bits (`07777`) of a local path, sticky bit included. */
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  /** A fresh `file://` FS of class `impl` under umask `umask`. */
  private def localFs(impl: String, umask: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", impl)
    conf.set("fs.permissions.umask-mode", umask)
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  private val Stock = "org.apache.hadoop.fs.LocalFileSystem"

  test("engine sessions resolve file:// to graft.io.LocalFs") {
    // a file-system cache filled before the session was built would keep
    // another class for the whole JVM
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[LocalFs])
  }

  /** The command lines of the child processes this JVM started while
    * `body` ran.
    */
  private def childrenDuring(body: => Unit): Seq[String] = {
    // Spark's heartbeat forks `getconf PAGESIZE` once per JVM, when it first
    // polls executor metrics 10-20 s after start (`ProcfsMetricsGetter`'s
    // initializer): load that class now so its fork cannot land in the run
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // children live for a few ms; a 1 ms poll sees the forked chmods of the
    // Hadoop local FS hundreds of times over a run
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        ProcessHandle.current().children().forEach(c =>
          seen.add(c.info().commandLine().orElse(s"pid ${c.pid}")))
        Thread.sleep(1)
      })
    poller.setDaemon(true)
    poller.start()
    try body
    finally { polling = false; poller.join() }
    seen.toArray(Array.empty[String]).toSeq
  }

  private def assertNoChildren(seen: Seq[String]): Unit =
    assert(seen.isEmpty, s"saw ${seen.size} child processes during the run, e.g. " +
      seen.distinct.take(5).mkString("; "))

  test("a pipeline run forks no process") {
    val base = Files.createTempDirectory("nofork").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 4000, nConvs = 20), s"$base/in")
    assertNoChildren(childrenDuring(
      PipelineRunner.run(spark, Pipeline.Canonical, s"$base/in", s"$base/out")))
    Bench.deleteRec(base)
  }

  test("a streaming run forks no process: checkpoints go through the same local FS") {
    val base = Files.createTempDirectory("nofork_stream").toString
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 6000, nConvs = 20), s"$base/in")
    val seen = childrenDuring {
      val q = spark.readStream.schema(Fixtures.TranscriptSchema)
        .option("maxFilesPerTrigger", "2").parquet(s"$base/in")
        .writeStream
        .foreachBatch(graft.streaming.StreamingPipeline.manifestSink(
          Pipeline.Canonical, s"$base/out"))
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // the stream really went through the checkpoint: several micro-batches
    val offsets = new java.io.File(s"$base/ckpt/offsets").list().filterNot(_.startsWith("."))
    assert(offsets.length > 1, s"offsets: ${offsets.mkString(",")}")
    assertNoChildren(seen)
    Bench.deleteRec(base)
  }

  test("file and directory modes equal the stock local FS's, umask 022 and 077") {
    val base = Files.createTempDirectory("fsparity").toString
    for (umask <- Seq("022", "077")) {
      val modes = Seq(Stock, classOf[LocalFs].getName).map { impl =>
        val fs = localFs(impl, umask)
        val root = s"$base/$umask/${impl.split('.').last}"
        try {
          fs.create(new Path(s"$root/f.bin")).close()
          val deep = (2 to 5).scanLeft(s"$root/1")((p, i) => s"$p/$i") // 5 levels
          assert(fs.mkdirs(new Path(deep.last)))
          (s"$root/f.bin" +: s"$root/.f.bin.crc" +: deep).map(mode)
        } finally fs.close()
      }
      assert(modes(0) == modes(1), s"umask $umask: stock ${modes(0)} vs LocalFs ${modes(1)}")
      assert(modes(0).head == (Integer.parseInt("666", 8) & ~Integer.parseInt(umask, 8)))
    }
    // a pipeline run's sink file and its leaf directory, under the
    // session's umask, against what the stock FS creates under the same
    val umask = FsPermission.getUMask(spark.sparkContext.hadoopConfiguration)
    val stock = localFs(Stock, f"${umask.toShort}%03o")
    val expected = try {
      stock.create(new Path(s"$base/stock/h/f.bin")).close()
      (mode(s"$base/stock/h/f.bin"), mode(s"$base/stock/h"))
    } finally stock.close()
    Transcripts.writePartitioned(
      Transcripts.generate(spark, nTurns = 1000, nConvs = 10), s"$base/in")
    PipelineRunner.run(spark, Pipeline.Canonical, s"$base/in", s"$base/out")
    val leaf = PipelineRunner.discoverPartitions(spark, s"$base/in").head
    val dir = s"${PipelineRunner.sinkPath(s"$base/out", "sink_default")}/$leaf"
    val file = new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).head
    assert((mode(file), mode(dir)) == expected)
    Bench.deleteRec(base)
  }

  test("rename onto an existing file returns false and moves nothing") {
    val base = Files.createTempDirectory("fsrename").toString
    val fs = localFs(classOf[LocalFs].getName, "022")
    try {
      def write(p: String, body: String): Unit = {
        val out = fs.create(new Path(p))
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
      write(s"$base/a", "a")
      write(s"$base/b", "b")
      assert(!fs.rename(new Path(s"$base/a"), new Path(s"$base/b")))
      assert(read(s"$base/a") == "a" && read(s"$base/b") == "b")
      // onto a free name, a rename moves the file and its checksum
      assert(fs.rename(new Path(s"$base/a"), new Path(s"$base/c")))
      assert(!Files.exists(Paths.get(s"$base/a")) && read(s"$base/c") == "a")
      assert(Files.exists(Paths.get(s"$base/.c.crc")))
      // the full mode lands, sticky bit included
      fs.setPermission(new Path(s"$base"), new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(mode(base) == Integer.parseInt("1755", 8))
    } finally fs.close()
    Bench.deleteRec(base)
  }
}
