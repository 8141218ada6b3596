package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

/** The engine's portable 60-bit hash — `CAST(CONV(SUBSTRING(MD5(x), 1,
  * 15), 16, 10) AS BIGINT)` — computed straight from the digest bytes.
  * The SQL form allocates a 32-char hex string per hash, substrings it,
  * and re-parses it base-16; the first 15 hex chars are exactly the first
  * 60 bits of the digest, so the value is 7 whole bytes plus the high
  * nibble of the 8th: bit-identical (the DuckDB oracle keeps replicating
  * the SQL form — `Dedup.md5Hash64Sql` — and the equivalence is
  * test-locked). This hash runs ~1M times per doc-family query (per
  * token, per shingle, per word), so the per-call allocations were the
  * tier's floor.
  */
object Md5Long {
  private val digestTL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of MD5(utf8 bytes) as a non-negative long. */
  def hash(s: UTF8String): Long = {
    val md = digestTL.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // 15 hex chars = bytes 0..6 in full + the HIGH nibble of byte 7
    ((d(0) & 0xFFL) << 52) | ((d(1) & 0xFFL) << 44) |
      ((d(2) & 0xFFL) << 36) | ((d(3) & 0xFFL) << 28) |
      ((d(4) & 0xFFL) << 20) | ((d(5) & 0xFFL) << 12) |
      ((d(6) & 0xFFL) << 4) | ((d(7) & 0xF0L) >>> 4)
  }

  def of(c: Column): Column = Kernel.static(this, "hash", LongType, Seq(c))
}
