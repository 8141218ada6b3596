package graft.data

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * Two codec tiers:
  *  - [[RealCodec]] — REAL decoders for self-describing formats (24-bit BMP
  *    with padding/bottom-up rows, RIFF PCM16 WAV, a length-prefixed frame
  *    container), including a real frame sampler;
  *  - [[FakeCodec]] — the clearly-marked stub standing in for compressed
  *    formats (JPEG/H.264/MP3) whose decoders aren't in this container.
  * Everything Spark-side — schema, batch shape, partitioning, the typed
  * mapPartitions pipeline (Scala's analogue of mapInPandas batch UDFs) — is
  * identical for both tiers; swapping the stub for JNI/ffmpeg changes no plan.
  */
object Multimodal {

  case class MediaAsset(asset_id: Long, kind: String, media: Array[Byte],
                        width: Int, height: Int, duration_ms: Long)
  case class MediaFeatures(asset_id: Long, kind: String, n_bytes: Int,
                           histogram: Array[Long], feature: Array[Float])

  /** Deterministic media corpus derived from the documents table: the text
    * bytes stand in for encoded media payloads (stable, seedless).
    */
  def assets(spark: SparkSession, sfDir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    graft.io.Parquet.read(spark, s"$sfDir/documents.parquet")
      .select(
        col("doc_id").as("asset_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        encode(col("text"), "UTF-8").as("media"),
        (col("doc_id") % 640 + 64).cast("int").as("width"),
        (col("doc_id") % 480 + 48).cast("int").as("height"),
        (col("doc_id") * 40 % 60000).as("duration_ms"))
      .as[MediaAsset]
  }

  /** The stubbed codec. Real implementation would JNI into an image/audio
    * library; this fake is deterministic so tests can assert exact values.
    */
  object FakeCodec {
    /** STUB: real decode (JPEG/PNG/PCM/H.264) unavailable in-container.
      * Deterministic fake: 16-bin byte histogram as the "decoded" signal. */
    def decode(media: Array[Byte]): Array[Long] = {
      val hist = new Array[Long](16)
      var i = 0
      while (i < media.length) { hist((media(i) & 0xFF) >> 4) += 1; i += 1 }
      hist
    }

    /** STUB resize/feature-extract: L1-normalized histogram as embedding. */
    def features(hist: Array[Long]): Array[Float] = {
      val total = math.max(1L, hist.sum).toFloat
      hist.map(_ / total)
    }

    /** STUB frame-sample: every nth byte window stands in for frames. */
    def sampleFrames(media: Array[Byte], everyN: Int): Seq[Array[Byte]] =
      media.grouped(everyN).take(8).toSeq
  }

  /** Batched decode/extract: per-partition imperative loop (genuine
    * per-partition logic — the one place `mapPartitions` is warranted),
    * preserving Spark's batch shape: one task per input split, no
    * driver-side collection.
    */
  def extractFeatures(assets: Dataset[MediaAsset]): Dataset[MediaFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val hist = FakeCodec.decode(a.media)
        MediaFeatures(a.asset_id, a.kind, a.media.length, hist, FakeCodec.features(hist))
      }
    }
  }

  /** Relational summary over the extracted features (oracle-checkable: the
    * fake decode is byte arithmetic reproducible in SQL).
    */
  def mediaSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(assets(spark, sfDir))
      .select(col("asset_id"), col("kind"), col("n_bytes"),
        element_at(col("histogram"), 7).as("hist_bin6"),
        element_at(col("histogram"), 8).as("hist_bin7"))
  }

  // -------------------------------------------------------------------
  // Real-codec corpus: format-conformant BMP / WAV / GRVD payloads
  // -------------------------------------------------------------------
  /** Deterministic dims/seeds per asset — small enough that the DuckDB
    * oracle can replay the pixel/sample arithmetic in closed form.
    */
  def imgW(id: Long): Int = (16 + id % 16).toInt
  def imgH(id: Long): Int = (12 + id % 12).toInt
  def imgSeed(id: Long): Int = (id % 97).toInt
  def wavN(id: Long): Int = (256 + id % 256).toInt
  def wavSeed(id: Long): Int = (id % 89).toInt
  def vidW(id: Long): Int = (8 + id % 8).toInt
  def vidH(id: Long): Int = (6 + id % 6).toInt
  def vidFrames: Int = 3

  /** Encode REAL payloads on executors (one task per split — the encode is
    * the ingest-side mapPartitions; nothing touches the driver).
    */
  def realAssets(spark: SparkSession, sfDir: String): Dataset[MediaAsset] = {
    import spark.implicits._
    graft.io.Parquet.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          (id % 3) match {
            case 0 =>
              val b = RealCodec.encodeBmp(imgW(id), imgH(id), imgSeed(id))
              MediaAsset(id, "image", b, imgW(id), imgH(id), 0L)
            case 1 =>
              val b = RealCodec.encodeWav(wavN(id), 8000, wavSeed(id))
              MediaAsset(id, "audio", b, 0, 0, wavN(id) * 1000L / 8000)
            case _ =>
              val frames = (0 until vidFrames).map(f =>
                RealCodec.encodeBmp(vidW(id), vidH(id), imgSeed(id) + f))
              MediaAsset(id, "video", RealCodec.encodeVideo(frames),
                vidW(id), vidH(id), vidFrames * 40L)
          }
        }
      }
  }

  /** REAL decode summary: parse the actual format headers + payloads and
    * aggregate per kind. Oracle-checkable because the synthetic pixels/
    * samples have closed forms the SQL side replays.
    */
  def mediaDecodeSummary(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    realAssets(spark, sfDir).mapPartitions { it =>
      it.map { a =>
        a.kind match {
          case "image" =>
            val img = RealCodec.decodeBmp(a.media)
            (a.asset_id, a.kind, img.width, img.height, 0, 1,
              math.round(img.meanGray * 1000))
          case "audio" =>
            val au = RealCodec.decodeWav(a.media)
            (a.asset_id, a.kind, 0, 0, au.samples.length, 1,
              math.round(au.rms * 1000))
          case _ =>
            val n = RealCodec.frameCount(a.media)
            val first = RealCodec.decodeBmp(RealCodec.sampleFrames(a.media, n).head)
            (a.asset_id, a.kind, first.width, first.height, 0, n,
              math.round(first.meanGray * 1000))
        }
      }
    }.toDF("asset_id", "kind", "width", "height", "n_samples", "n_frames",
      "metric_x1000")
  }
}
