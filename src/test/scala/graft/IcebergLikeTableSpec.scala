package graft

import scala.jdk.CollectionConverters._

/** The Iceberg-layout filesystem table: the commit/snapshot contract
  * (exactly-once commits, monotone snapshots, as-of reads, reopen, clear),
  * REAL time-travel reads over parquet data files pinned by snapshot, a
  * stale version-hint healing, and the optimistic-claim exclusivity that
  * makes racing committers safe.
  */
class IcebergLikeTableSpec extends SparkTestBase {
  import graft.pipeline.IcebergLikeTable

  private def newTable(): IcebergLikeTable =
    new IcebergLikeTable(java.nio.file.Files.createTempDirectory("icb").toString)

  test("empty table is snapshot 0 with no partitions") {
    val f = newTable()
    assert(f.currentSnapshot() == 0L)
    assert(f.committed().isEmpty)
    assert(f.committedAsOf(0L).isEmpty)
  }

  test("commits are visible, monotone, and exactly-once per name") {
    val f = newTable()
    f.commitPartition("hour=2024-01-01-00", 10L, Seq("a.parquet"))
    f.commitPartition("hour=2024-01-01-01", 20L, Seq("b.parquet"))
    assert(f.committed().contains("hour=2024-01-01-00"))
    assert(!f.committed().contains("hour=2024-01-01-02"))
    assert(f.committed().size == 2)
    val head = f.currentSnapshot()
    assert(head >= 2L) // one snapshot per commit, monotone
    // re-committing the same partition must not duplicate the listing
    f.commitPartition("hour=2024-01-01-00", 10L, Seq("a.parquet"))
    assert(f.committed().size == 2)
  }

  test("as-of reads reconstruct history; head as-of equals live") {
    val f = newTable()
    f.commitPartition("p1", 1L, Seq("f1"))
    val s1 = f.currentSnapshot()
    f.commitPartition("p2", 2L, Seq("f2"))
    f.commitPartition("p3", 3L, Seq("f3"))
    assert(f.committedAsOf(s1).size == 1)
    assert(f.committedAsOf(f.currentSnapshot()) == f.committed())
  }

  test("reopened storage sees the same committed state") {
    val root = java.nio.file.Files.createTempDirectory("icb_reopen").toString
    val f = new IcebergLikeTable(root)
    f.commitPartition("p1", 1L, Seq("f1"))
    f.commitPartition("p2", 2L, Seq("f2"))
    val g = new IcebergLikeTable(root)
    assert(g.committed() == f.committed())
    assert(g.currentSnapshot() == f.currentSnapshot())
    assert(g.committed().contains("p1"))
  }

  test("clear resets partitions AND lineage together") {
    val f = newTable()
    f.commitPartition("p1", 1L, Seq("f1"))
    f.clear()
    assert(f.committed().isEmpty && f.currentSnapshot() == 0L)
    // post-clear commits restart the lineage cleanly
    f.commitPartition("p9", 9L, Seq("f9"))
    assert(f.committedAsOf(f.currentSnapshot()) == f.committed())
  }

  test("snapshot-pinned scans read exactly the files visible at that snapshot") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("icb_tt").toString
    val t = new IcebergLikeTable(root)
    Seq(1, 2, 3).toDF("n").write.parquet(s"$root/data/batch1")
    t.commitPartition("batch1", 3L, Seq(s"$root/data/batch1"))
    val s1 = t.currentSnapshot()
    Seq(4, 5).toDF("n").write.parquet(s"$root/data/batch2")
    t.commitPartition("batch2", 2L, Seq(s"$root/data/batch2"))
    // as-of s1 the second batch does not exist; at head both do
    assert(spark.read.parquet(t.dataFilesAsOf(s1): _*).count() == 3)
    assert(spark.read.parquet(t.dataFilesAsOf(t.currentSnapshot()): _*)
      .count() == 5)
    assert(t.committedAsOf(s1) == Set("batch1"))
  }

  test("stale and overshooting version hints heal via scan recovery") {
    val root = java.nio.file.Files.createTempDirectory("icb_hint").toString
    val t = new IcebergLikeTable(root)
    t.commitPartition("p1", 1L, Seq("f1"))
    t.commitPartition("p2", 1L, Seq("f2"))
    val hint = java.nio.file.Paths.get(root, "metadata", "version-hint.text")
    java.nio.file.Files.writeString(hint, "0") // stale: forward scan heals
    assert(new IcebergLikeTable(root).currentSnapshot() == 2L)
    java.nio.file.Files.writeString(hint, "99") // overshoot: walks back
    assert(new IcebergLikeTable(root).currentSnapshot() == 2L)
    java.nio.file.Files.writeString(hint, "junk") // unparseable: scans from 0
    assert(new IcebergLikeTable(root).currentSnapshot() == 2L)
  }

  test("a version file without a partitions object is corrupt metadata") {
    // the retired layout: partition set inline, file lists in side files
    val root = java.nio.file.Files.createTempDirectory("icb_old").toString
    val meta = java.nio.file.Paths.get(root, "metadata")
    java.nio.file.Files.createDirectories(meta)
    java.nio.file.Files.writeString(meta.resolve("v00001.metadata.json"),
      """{"snapshot":1,"parent":0,"partition":"p","rows":1,""" +
        """"manifest":"snap-1-x.manifest","all_partitions":["p"]}""")
    val ex = intercept[IllegalStateException](new IcebergLikeTable(root).committed())
    assert(ex.getMessage.contains("corrupt metadata"))
  }

  test("partition names and file paths with quotes/backslashes/newlines round-trip") {
    val root = java.nio.file.Files.createTempDirectory("icb_esc").toString
    val t = new IcebergLikeTable(root)
    // quotes, backslashes and newlines must survive the JSON records
    val oddName = "hour=\"00\"\\back\nslash"
    val oddFile = "/data/file \"v1\"\\part\n2.parquet"
    t.commitPartition(oddName, 1L, Seq(oddFile, "/plain.parquet"))
    assert(t.committed().contains(oddName)) // no duplicate re-commit loop
    val g = new IcebergLikeTable(root)
    assert(g.committed() == Set(oddName))
    assert(g.dataFilesAsOf(g.currentSnapshot()) ==
      Seq(oddFile, "/plain.parquet"))
    g.commitPartition("plain", 1L, Seq("/p2.parquet")) // table still writable
    assert(g.committed() == Set(oddName, "plain"))
  }

  test("concurrent committers of the SAME partition commit exactly once") {
    val root = java.nio.file.Files.createTempDirectory("icb_same").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 12).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit =
            new IcebergLikeTable(root).commitPartition("p1", 1L, Seq("f1"))
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val t = new IcebergLikeTable(root)
    // the in-loop idempotency re-check stops every losing racer before it
    // can claim the next version with a duplicate: exactly one snapshot
    assert(t.currentSnapshot() == 1L)
    assert(t.committed() == Set("p1"))
    // and a sequential re-commit after visibility is a plain no-op
    new IcebergLikeTable(root).commitPartition("p1", 1L, Seq("f1"))
    assert(t.currentSnapshot() == 1L)
  }

  test("racing committers: exactly one claims each version, none are lost") {
    val root = java.nio.file.Files.createTempDirectory("icb_race").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new Runnable {
          def run(): Unit =
            new IcebergLikeTable(root).commitPartition(s"p$i", i.toLong, Seq(s"f$i"))
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val t = new IcebergLikeTable(root)
    assert(t.currentSnapshot() == 16L) // one snapshot per commit, no gaps
    assert(t.committed() == (1 to 16).map(i => s"p$i").toSet)
  }

  test("commit cost is O(1) metadata reads, independent of version count") {
    // the cumulative-state layout: every vN.metadata.json embeds the whole
    // snapshot (each committed partition with its data files, the spec's
    // snapshot-list analog), so a commit at version 300 reads the HEAD file
    // only — not 300 files — and so does time travel at any version.
    val root = java.nio.file.Files.createTempDirectory("icb_o1").toString
    class Counting(r: String) extends IcebergLikeTable(r) {
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      override protected def readEntry(v: Long): Option[Entry] = {
        reads.incrementAndGet(); super.readEntry(v)
      }
    }
    val t = new Counting(root)
    (1 to 300).foreach(i => t.commitPartition(s"p$i", i.toLong, Seq(s"f$i")))
    // N commits leave N version files plus the hint: no side files
    val metaFiles = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root, "metadata"))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    }
    assert(metaFiles == (1 to 300).map(v => f"v$v%05d.metadata.json").toSet +
      "version-hint.text")
    // time travel reads one metadata file at any version
    def readsOf(v: Long): Int = {
      t.reads.set(0); assert(t.dataFilesAsOf(v) == (1 to v.toInt).map(i => s"f$i"))
      t.reads.get()
    }
    val (at10, at300) = (readsOf(10L), readsOf(300L))
    assert(at10 == at300 && at300 <= 2,
      s"dataFilesAsOf read $at10 metadata files at v10, $at300 at v300")
    t.reads.set(0)
    t.commitPartition("p301", 301L, Seq("f301"))
    assert(t.reads.get() <= 2,
      s"commit after 300 versions took ${t.reads.get()} metadata reads")
    t.reads.set(0)
    assert(t.committedAsOf(150L) == (1 to 150).map(i => s"p$i").toSet)
    assert(t.reads.get() <= 2,
      s"as-of read took ${t.reads.get()} metadata reads")
    // time travel: exact file set at the pinned snapshot
    assert(t.dataFilesAsOf(150L) == (1 to 150).map(i => s"f$i"))
    assert(t.committed() == (1 to 301).map(i => s"p$i").toSet)
    // duplicate paths WITHIN one commit collapse in the visible file list
    t.commitPartition("pdup", 1L, Seq("fdup", "fdup", "f1"))
    assert(t.dataFilesAsOf(t.currentSnapshot())
      .count(f => f == "fdup" || f == "f1") == 2)
  }
}
