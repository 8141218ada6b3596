package graft.data

import java.nio.{ByteBuffer, ByteOrder}

/** REAL codecs for self-describing formats implementable in the plain JVM —
  * no external image/audio libraries needed:
  *
  *  - BMP: uncompressed 24-bit windows bitmaps (BITMAPINFOHEADER), including
  *    bottom-up row order and 4-byte row padding;
  *  - WAV: RIFF PCM 16-bit mono;
  *  - GRVD: a trivial length-prefixed frame container (raw "video") whose
  *    frames are BMPs — real container parsing + frame sampling.
  *
  * Compressed formats (JPEG/H.264/MP3) still go through the clearly-marked
  * [[Multimodal.FakeCodec]] stub — those decoders aren't in this container.
  * The encode side exists so the corpus can carry format-CONFORMANT payloads
  * that the decode side genuinely parses (magic numbers, header fields,
  * padding), not just byte soup.
  */
object RealCodec {

  // ------------------------------------------------------------------
  // BMP
  // ------------------------------------------------------------------
  /** Grayscale image: 0..255 values, row-major, TOP-down. */
  case class Image(width: Int, height: Int, pixels: Array[Int]) {
    def meanGray: Double = {
      var s = 0L; var i = 0
      while (i < pixels.length) { s += pixels(i); i += 1 }
      s.toDouble / math.max(1, pixels.length)
    }
  }

  /** Deterministic gray value at (x, y) for the synthetic corpus. */
  def pix(x: Int, y: Int, seed: Int): Int = (x * 7 + y * 13 + seed) % 256

  def encodeBmp(w: Int, h: Int, seed: Int): Array[Byte] = {
    val rowSize = ((w * 3 + 3) / 4) * 4
    val dataSize = rowSize * h
    val buf = ByteBuffer.allocate(54 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
    buf.putInt(54 + dataSize) // file size
    buf.putInt(0)             // reserved
    buf.putInt(54)            // pixel data offset
    buf.putInt(40)            // BITMAPINFOHEADER size
    buf.putInt(w).putInt(h)   // positive height = bottom-up rows
    buf.putShort(1)           // planes
    buf.putShort(24)          // bpp
    buf.putInt(0)             // BI_RGB, uncompressed
    buf.putInt(dataSize)
    buf.putInt(2835).putInt(2835).putInt(0).putInt(0)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy // file rows are bottom-up
      var x = 0
      while (x < w) {
        val v = pix(x, y, seed).toByte
        buf.put(v).put(v).put(v) // B, G, R — gray
        x += 1
      }
      var pad = rowSize - w * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      fy += 1
    }
    buf.array()
  }

  def decodeBmp(b: Array[Byte]): Image = {
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    require(b.length > 54 && b(0) == 'B' && b(1) == 'M', "not a BMP payload")
    val dataOffset = buf.getInt(10)
    val w = buf.getInt(18)
    val h = buf.getInt(22)
    require(buf.getShort(28) == 24, "only 24bpp BMP supported")
    require(buf.getInt(30) == 0, "only uncompressed BMP supported")
    // header fields are untrusted input: validate before reading pixels so
    // malformed payloads fail as clean codec errors, not raw AIOOBE
    require(w > 0 && h > 0, "not a BMP payload: non-positive dimensions")
    val rowSize = ((w * 3 + 3) / 4) * 4
    require(dataOffset >= 54 &&
      dataOffset.toLong + rowSize.toLong * h <= b.length,
      "not a BMP payload: pixel data exceeds payload bounds")
    val px = new Array[Int](w * h)
    var fy = 0
    while (fy < h) {
      val y = h - 1 - fy
      var x = 0
      while (x < w) {
        px(y * w + x) = b(dataOffset + fy * rowSize + x * 3) & 0xFF // blue channel
        x += 1
      }
      fy += 1
    }
    Image(w, h, px)
  }

  // ------------------------------------------------------------------
  // WAV (RIFF, PCM16 mono)
  // ------------------------------------------------------------------
  case class Audio(sampleRate: Int, samples: Array[Short]) {
    def rms: Double = {
      var s = 0L; var i = 0
      while (i < samples.length) { s += samples(i).toLong * samples(i); i += 1 }
      math.sqrt(s.toDouble / math.max(1, samples.length))
    }
  }

  /** Deterministic sample value for the synthetic corpus. */
  def sample(i: Int, seed: Int): Short = ((((i * 37 + seed) % 512) - 256) * 64).toShort

  def encodeWav(nSamples: Int, sampleRate: Int, seed: Int): Array[Byte] = {
    val dataSize = nSamples * 2
    val buf = ByteBuffer.allocate(44 + dataSize).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
    buf.put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
    buf.putShort(1)                  // PCM
    buf.putShort(1)                  // mono
    buf.putInt(sampleRate)
    buf.putInt(sampleRate * 2)       // byte rate
    buf.putShort(2)                  // block align
    buf.putShort(16)                 // bits per sample
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < nSamples) { buf.putShort(sample(i, seed)); i += 1 }
    buf.array()
  }

  def decodeWav(b: Array[Byte]): Audio = {
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    require(b.length > 44 && new String(b, 0, 4, "US-ASCII") == "RIFF" &&
      new String(b, 8, 4, "US-ASCII") == "WAVE", "not a WAV payload")
    require(buf.getShort(20) == 1 && buf.getShort(34) == 16, "only PCM16 supported")
    val sampleRate = buf.getInt(24)
    val dataSize = buf.getInt(40)
    val n = dataSize / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) { samples(i) = buf.getShort(44 + i * 2); i += 1 }
    Audio(sampleRate, samples)
  }

  // ------------------------------------------------------------------
  // GRVD frame container ("raw video"): magic + frame count + frames
  // ------------------------------------------------------------------
  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val total = 8 + frames.map(f => 4 + f.length).sum
    val buf = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("GRVD".getBytes("US-ASCII")).putInt(frames.length)
    frames.foreach { f => buf.putInt(f.length); buf.put(f) }
    buf.array()
  }

  def frameCount(b: Array[Byte]): Int = {
    require(b.length >= 8 && new String(b, 0, 4, "US-ASCII") == "GRVD",
      "not a GRVD payload")
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).getInt(4)
  }

  /** REAL frame sampling: every `stride`-th frame, walking the
    * length-prefixed container without materializing the rest.
    */
  def sampleFrames(b: Array[Byte], stride: Int): Seq[Array[Byte]] = {
    require(stride > 0, s"stride must be positive, got $stride")
    val n = frameCount(b)
    val buf = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var off = 8
    var i = 0
    while (i < n) {
      val len = buf.getInt(off)
      if (i % stride == 0) {
        val f = new Array[Byte](len)
        System.arraycopy(b, off + 4, f, 0, len)
        out += f
      }
      off += 4 + len
      i += 1
    }
    out.toSeq
  }
}
