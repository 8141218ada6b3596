package graft.functions

import com.google.common.hash.Hashing
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Canonical MurmurHash3 (Appleby's public-domain spec) over the UTF-8
  * bytes of the input, hex-encoded in little-endian byte order — the exact
  * output contract of the upstream OTTL `Murmur3Hash` / `Murmur3Hash128`
  * converters (ottlfuncs murmur3hash: Sum32/Sum128 →
  * binary.LittleEndian.PutUintN → hex.EncodeToString; registered via
  * expr/ottl.go:96's StandardConverters). Spark's built-in `hash()` is
  * seed-42 x86_32 and has no 128-bit form, so this rides Guava's
  * `murmur3_32_fixed` / `murmur3_128` (bundled with Spark), whose
  * `asBytes()` IS the little-endian encoding of (h1[, h2]). Locked against
  * the published reference vectors in ExprStreamSpec ("murmur3 reference
  * vectors").
  */
object Murmur3Hex {
  private val HexDigits = "0123456789abcdef".toCharArray

  def hex(s: UTF8String, bits128: Boolean): UTF8String = {
    val hf = if (bits128) Hashing.murmur3_128() else Hashing.murmur3_32_fixed()
    val b = hf.hashBytes(s.getBytes).asBytes()
    val out = new Array[Byte](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = HexDigits((b(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(b(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Column API (input is cast to string; null-propagating). */
  def of(c: Column, bits128: Boolean): Column =
    Kernel.static(this, "hex", StringType, Seq(c.cast("string"), lit(bits128)))
}
