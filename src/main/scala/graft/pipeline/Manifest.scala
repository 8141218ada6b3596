package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Run manifest: per-partition commit log with metrics, the
  * engine's durable state for checkpointed resume.
  *
  * Semantics mirror the reference's rehydration checkpoint
  * (internal/blobconsume/checkpoint.go:27-68): a killed run must resume
  * without re-processing committed partitions (`ShouldParse` parity), and a
  * partition only commits after ALL its sinks succeed (matching the route
  * error propagation in routereceiver/receiver.go:84-99).
  *
  * Layout: `<manifestDir>/<stem>.json`, written atomically (tmp + rename),
  * where the stem is the partition name with every character outside
  * `[A-Za-z0-9=_-]` replaced by `_`; the entry body keeps the raw name.
  */
final class Manifest(manifestDir: String) {
  import Manifest._

  private val dir: Path = Paths.get(manifestDir)
  Files.createDirectories(dir)

  /** ShouldParse parity: a partition is skipped iff previously committed. */
  def isCommitted(partition: String): Boolean =
    Files.exists(dir.resolve(s"${stem(partition)}.json"))

  /** Stems of the committed partitions: one directory listing. */
  def committedPartitions(): Set[String] = jsonStems(dir).toSet

  /** The partitions of `partitions` not yet committed, in order: one
    * directory listing, however many partitions are asked about.
    */
  def uncommitted(partitions: Seq[String]): Seq[String] = {
    val done = committedPartitions()
    partitions.filterNot(p => done.contains(stem(p)))
  }

  /** Commit a partition: all-sinks-succeeded is the caller's contract; the
    * write is atomic so a kill mid-commit leaves either no entry (partition
    * re-runs, idempotent because sink writes are dynamic-partition
    * overwrites) or a complete one. `rows_out` is Σ`sinkCounts`.
    */
  def commit(partition: String, rowsIn: Long, sinkCounts: Map[String, Long],
             inputFiles: Seq[String], wallMs: Long): Unit = {
    val rowsOut = sinkCounts.values.sum
    val e = Json.createObjectNode()
      .put("partition", partition).put("status", "committed")
      .put("rows_in", rowsIn).put("rows_out", rowsOut)
    val counts = e.putObject("sink_counts")
    sinkCounts.foreach { case (k, v) => counts.put(k, v) }
    putStrings(e, "input_files", inputFiles)
    e.put("wall_ms", wallMs)
    writeAtomically(dir.resolve(s"${stem(partition)}.json"), e)
  }

  def clear(): Unit =
    jsonStems(dir).foreach(st => Files.delete(dir.resolve(s"$st.json")))
}

object Manifest {

  /** The one JSON codec of the commit logs ([[Manifest]] and
    * [[IcebergLikeTable]]); trailing content after a record is corruption.
    */
  private[pipeline] val Json: ObjectMapper = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).build()

  /** A commit-log record: a JSON object, or an `IllegalStateException`
    * naming the file.
    */
  private[pipeline] def readJson(f: Path): JsonNode = {
    val n = try Json.readTree(f.toFile) catch {
      case e: JsonProcessingException =>
        throw new IllegalStateException(s"corrupt metadata $f: ${e.getOriginalMessage}")
    }
    if (n == null || !n.isObject) throw new IllegalStateException(s"corrupt metadata $f")
    n
  }

  /** A required field of a record read by [[readJson]]. */
  private[pipeline] def field(n: JsonNode, key: String): JsonNode =
    Option(n.get(key)).getOrElse(
      throw new IllegalStateException(s"corrupt metadata: no '$key' in $n"))

  /** The strings of a JSON array. */
  private[pipeline] def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq

  /** Add `xs` to `n` as the JSON array `key`. */
  private[pipeline] def putStrings(n: ObjectNode, key: String, xs: Seq[String]): Unit = {
    val arr = n.putArray(key)
    xs.foreach(x => arr.add(x))
  }

  /** Write `n` to `target` through a dot-named sibling and an atomic rename:
    * readers see the whole record or none.
    */
  private def writeAtomically(target: Path, n: JsonNode): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, Json.writeValueAsBytes(n))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Stems of the `*.json` files of `d` (staging files end in `.tmp`). */
  private def jsonStems(d: Path): Seq[String] = {
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).toSeq
    finally s.close()
  }

  private def stem(partition: String): String =
    partition.replaceAll("[^A-Za-z0-9=_-]", "_")
}
