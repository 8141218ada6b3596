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
  * Metadata I/O follows the spec's shape:
  *  - each `vN.metadata.json` embeds the CUMULATIVE committed-partition
  *    set (the analog of the spec's snapshot list, which metadata.json
  *    also carries in full — real tables bound its growth with snapshot
  *    expiry; same maintenance story here), so `commitPartition` and
  *    `committedAsOf` read exactly ONE metadata file regardless of how
  *    many versions exist;
  *  - each commit's DATA FILE list lives in its own manifest file
  *    (`snap-<v>-<nonce>.manifest`: `{"parent": .., "files": [..]}`, a
  *    delta — never rewritten), chained by a parent pointer like a
  *    manifest list. The metadata files stay O(#partitions) bytes
  *    instead of O(#data-files), and time travel
  *    (`dataFilesAsOf`) walks the chain: O(v) small delta reads, the same
  *    cost as real Iceberg reading a snapshot's manifest list + manifests.
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
                             manifest: String, allPartitions: Seq[String])

  // overridable (protected) so tests can COUNT metadata reads and assert
  // the O(1)-reads-per-commit contract mechanically
  protected def readEntry(v: Long): Option[Entry] = {
    val f = versionFile(v)
    if (!Files.exists(f)) None
    else {
      val n = readJson(f)
      // old generations inlined the file list ("files":[...]), which the
      // manifest layout dropped — that key is the discriminator, so real
      // corruption of NEW-format files still reports as corruption
      if (n.has("files"))
        throw new IllegalStateException(
          s"metadata $f was written by an older format generation " +
            "(pre-manifest inline-file layout); rebuild the table or clear() it")
      Some(Entry(field(n, "snapshot").asLong, field(n, "partition").asText,
        field(n, "rows").asLong, field(n, "manifest").asText,
        strings(field(n, "all_partitions"))))
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

  // a manifest file: {"parent": <parent manifest name, null at the chain
  // root>, "files": [<this commit's data-file paths>]}
  private def writeManifest(name: String, parent: Option[String],
                            files: Seq[String]): Unit = {
    val m = Json.createObjectNode()
    parent.fold(m.putNull("parent"))(m.put("parent", _))
    putStrings(m, "files", files)
    Files.write(metaDir.resolve(name), Json.writeValueAsBytes(m))
  }

  private def readManifestChain(name: String): Seq[String] = {
    // walk child -> root, then restore commit order (root first).
    // Cycle guard: a corrupted manifest whose parent pointer loops would
    // otherwise hang this walk forever — corrupt metadata must FAIL LOUDLY
    // (readEntry's contract), never spin
    val rev = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    val visited = scala.collection.mutable.HashSet[String]()
    var cur: Option[String] = Some(name)
    while (cur.isDefined) {
      if (!visited.add(cur.get))
        throw new IllegalStateException(
          s"corrupt manifest chain: cycle at '${cur.get}'")
      val m = readJson(metaDir.resolve(cur.get))
      rev += strings(field(m, "files"))
      cur = Option(field(m, "parent").textValue)
    }
    rev.reverse.flatten.toSeq
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
      val priorPartitions = headEntry.map(_.allPartitions).getOrElse(Seq.empty)
      if (priorPartitions.toSet.contains(partition)) return
      val v = head + 1
      // the manifest carries this commit's DELTA only and is written before
      // the claim under a COMMITTER-UNIQUE name — a UUID, because racers in
      // the same JVM commonly hold separate table instances (so an
      // instance-local counter would collide, letting a loser overwrite and
      // then delete the manifest the winner's metadata references); readers
      // only follow pointers from CLAIMED metadata
      val mfName = s"snap-$v-${java.util.UUID.randomUUID()}.manifest"
      writeManifest(mfName, headEntry.map(_.manifest), inputFiles)
      val meta = Json.createObjectNode()
        .put("snapshot", v).put("parent", head).put("partition", partition)
        .put("rows", rowsOut).put("manifest", mfName)
      putStrings(meta, "all_partitions", priorPartitions :+ partition)
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
        // ANY non-win — lost race, staging/claim I/O error — cleans up both
        // staging artifacts (tmp creation and write sit INSIDE the try so
        // their failures reach this cleanup too). Only a process crash can
        // leak a staged manifest — unreferenced, harmless to readers,
        // reclaimed by clear()
        if (tmp != null) Files.deleteIfExists(tmp)
        if (!committed) Files.deleteIfExists(metaDir.resolve(mfName))
      }
    }
  }

  def isPartitionCommitted(partition: String): Boolean =
    committed().contains(partition)

  def committed(): Set[String] =
    committedAsOf(currentSnapshot())

  /** ONE metadata read: the cumulative set embedded at `snapshot`. */
  def committedAsOf(snapshot: Long): Set[String] =
    entryAt(snapshot).map(_.allPartitions.toSet).getOrElse(Set.empty)

  /** Time travel over the DATA: every data file visible at `snapshot` —
    * the file list a scan pinned to that snapshot would read. One metadata
    * read plus the manifest chain (O(v) delta files, manifest-list
    * parity); duplicates — within a commit or across commits — collapse.
    */
  def dataFilesAsOf(snapshot: Long): Seq[String] =
    entryAt(snapshot)
      .map(e => readManifestChain(e.manifest).distinct)
      .getOrElse(Seq.empty)

  def clear(): Unit = {
    val stream = Files.list(metaDir)
    try stream.iterator().asScala.toSeq.foreach(Files.deleteIfExists)
    finally stream.close()
  }
}
