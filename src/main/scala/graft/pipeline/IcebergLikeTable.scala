package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Filesystem table format with the metadata layout of the public Iceberg
  * spec's Hadoop tables — versioned metadata files (`metadata/vN.metadata
  * .json`), a `version-hint.text` fast-path pointer with scan-based
  * recovery when the hint is stale, one snapshot per commit with parent
  * lineage, and OPTIMISTIC atomic commits: the new version file is staged
  * to a temp file and published with an exclusive hard link, so two racing
  * committers cannot both claim version N and a reader can never observe a
  * half-written metadata file. It implements Iceberg's commit/snapshot/
  * time-travel contract against plain files; `q_snapshot_read` is its
  * caller. Every record is JSON through [[Manifest]]'s codec.
  *
  * Metadata I/O follows the spec's shape: each `vN.metadata.json` carries
  * the WHOLE snapshot — `partitions`, an object from every committed
  * partition name to its data-file list, in commit order (the analog of
  * the spec's snapshot list, which metadata.json also carries in full —
  * real tables bound its growth with snapshot expiry; same maintenance
  * story here). So `commitPartition`, `committedAsOf` and `dataFilesAsOf`
  * each read exactly ONE metadata file, however many versions exist.
  * Callers commit one path per partition (`q_snapshot_read` commits one
  * directory per batch), so a version file stays O(#partitions) bytes, the
  * same order as the partition set alone.
  */
class IcebergLikeTable(root: String) {
  import Manifest.{Json, field, putStrings, readJson, strings}

  private val metaDir: Path = Paths.get(root, "metadata")
  Files.createDirectories(metaDir)

  private def versionFile(v: Long): Path =
    metaDir.resolve(f"v$v%05d.metadata.json")
  private val hintFile: Path = metaDir.resolve("version-hint.text")

  /** Highest committed version: hint fast path, then forward scan (a stale
    * hint under-reads), then backward heal (an over-written hint from a
    * crashed committer walks back to the last real version). Probes are
    * existence stats, not content reads — amortized O(1) with a live hint.
    */
  def currentSnapshot(): Long = {
    val start =
      if (Files.exists(hintFile))
        try Files.readString(hintFile).trim.toLong catch { case _: Exception => 0L }
      else 0L
    var v = math.max(start, 0L)
    while (v > 0 && !Files.exists(versionFile(v))) v -= 1
    while (Files.exists(versionFile(v + 1))) v += 1
    v
  }

  protected case class Entry(snapshot: Long, partition: String, rows: Long,
                             partitions: Seq[(String, Seq[String])])

  // overridable (protected) so tests can COUNT metadata reads and assert
  // the O(1)-reads-per-commit contract mechanically
  protected def readEntry(v: Long): Option[Entry] = {
    val f = versionFile(v)
    if (!Files.exists(f)) None
    else {
      val n = readJson(f)
      Some(Entry(field(n, "snapshot").asLong, field(n, "partition").asText,
        field(n, "rows").asLong,
        field(n, "partitions").properties().iterator().asScala
          .map(e => e.getKey -> strings(e.getValue)).toSeq))
    }
  }

  /** The entry visible at `snapshot`: the exact version when it exists, else
    * (a future snapshot id) the current head — matching as-of clamp
    * semantics without a per-version walk.
    */
  private def entryAt(snapshot: Long): Option[Entry] =
    if (snapshot <= 0) None
    else readEntry(snapshot).orElse {
      val head = currentSnapshot()
      if (snapshot > head && head > 0) readEntry(head) else None
    }

  /** Optimistic commit: stage the metadata, then claim version v with an
    * exclusive hard link (atomic on POSIX — exactly one committer wins a
    * version; the loser re-reads head and retries on the next version).
    * Idempotent per partition name: a resumed run re-committing an already
    * committed partition is a no-op, not a duplicate snapshot.
    */
  def commitPartition(partition: String, rowsOut: Long,
                      inputFiles: Seq[String]): Unit = {
    var committed = false
    while (!committed) {
      // Linearizable duplicate protection: read head ONCE, validate the
      // partition against committedAsOf(THAT head), and claim head+1. Any
      // interleaved commit takes head+1 first, our exclusive claim fails,
      // and the retry re-validates against the new head — checking
      // "committed?" against live state and then re-reading head would
      // leave a window where a racer's fresh commit lands between the two
      // reads and we'd claim head'+1 with a duplicate.
      val head = currentSnapshot()
      val headEntry = if (head > 0) readEntry(head) else None
      val prior = headEntry.map(_.partitions).getOrElse(Seq.empty)
      if (prior.exists(_._1 == partition)) return
      val v = head + 1
      val meta = Json.createObjectNode()
        .put("snapshot", v).put("parent", head).put("partition", partition)
        .put("rows", rowsOut)
      val parts = meta.putObject("partitions")
      (prior :+ (partition -> inputFiles)).foreach { case (p, files) =>
        putStrings(parts, p, files)
      }
      var tmp: Path = null
      try {
        tmp = Files.createTempFile(metaDir, s".v$v-", ".tmp")
        Files.write(tmp, Json.writeValueAsBytes(meta),
          StandardOpenOption.TRUNCATE_EXISTING)
        Files.createLink(versionFile(v), tmp) // exclusive: throws if claimed
        committed = true
        // best-effort hint; recovery never trusts it blindly
        try Files.writeString(hintFile, v.toString) catch { case _: Exception => }
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => // lost the race
      } finally {
        // ANY non-win — lost race, staging/claim I/O error — deletes the
        // staged file (tmp creation and write sit INSIDE the try so their
        // failures reach this cleanup too)
        if (tmp != null) Files.deleteIfExists(tmp)
      }
    }
  }

  def committed(): Set[String] =
    committedAsOf(currentSnapshot())

  /** ONE metadata read: the cumulative set embedded at `snapshot`. */
  def committedAsOf(snapshot: Long): Set[String] =
    entryAt(snapshot).map(_.partitions.map(_._1).toSet).getOrElse(Set.empty)

  /** Time travel over the DATA: every data file visible at `snapshot` —
    * the file list a scan pinned to that snapshot would read. ONE metadata
    * read; duplicates — within a commit or across commits — collapse.
    */
  def dataFilesAsOf(snapshot: Long): Seq[String] =
    entryAt(snapshot).map(_.partitions.flatMap(_._2).distinct)
      .getOrElse(Seq.empty)

  def clear(): Unit = {
    val stream = Files.list(metaDir)
    try stream.iterator().asScala.toSeq.foreach(Files.deleteIfExists)
    finally stream.close()
  }
}
