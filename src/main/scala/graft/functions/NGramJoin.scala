package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct space-joined word n-grams — the shingling primitive of the
  * dedup tier, as one kernel loop. Replaces the interpreted HOF chain
  * `array_distinct(transform(sequence(0, greatest(size(w)-n, 0)),
  * i => array_join(slice(w, i+1, n), " ")))`, which paid per POSITION a
  * lambda dispatch, a slice allocation, and a join over boxed elements —
  * measured as the single largest cost of the MinHash signature pass.
  * Semantics are identical element-for-element: positions 0..max(len-n,0)
  * (a doc shorter than n yields one shingle of all its words), shingle i =
  * words[i..min(i+n,len))] joined by a single space, de-duplicated to
  * first occurrence in order (array_distinct contract). The DuckDB oracle
  * replicates the same list; values are oracle-locked.
  */
object NGramJoin {
  private val Sep = UTF8String.fromString(" ")

  def build(words: ArrayData, n: Int): GenericArrayData = {
    val len = words.numElements()
    val positions = math.max(len - n, 0) + 1
    val seen = new java.util.LinkedHashSet[UTF8String](positions * 2)
    var i = 0
    while (i < positions) {
      val end = math.min(i + n, len)
      val parts = new Array[UTF8String](end - i)
      var j = i
      while (j < end) { parts(j - i) = words.getUTF8String(j); j += 1 }
      seen.add(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  def of(words: Column, n: Int): Column = {
    require(n >= 1, "NGramJoin needs n >= 1")
    Kernel.static(this, "build", ArrayType(StringType, containsNull = false),
      Seq(words, lit(n)))
  }
}

/** Distinct bounded-Horner n-gram hashes over a pre-hashed word array —
  * the string-free shingling primitive (contamination path), as one
  * kernel loop. Replaces `array_distinct(transform(sequence(0,
  * greatest(size(wh)-n, 0)), i => fold of (acc*A + coalesce(get(wh, i+k),
  * 0)) % P))` — per position the HOF paid lambda dispatch and boxed
  * arithmetic. Identical math: positions 0..max(len-n,0), words past the
  * end hash as 0 (the `get()` null → coalesce 0 contract), first-
  * occurrence distinct. All operands < P < 2^30 so products < 2^47.
  */
object NGramHash {
  def build(wh: ArrayData, n: Int, a: Long, p: Long): GenericArrayData = {
    val len = wh.numElements()
    val positions = math.max(len - n, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long](positions * 2)
    var i = 0
    while (i < positions) {
      var acc = 0L
      var k = 0
      while (k < n) {
        val w = if (i + k < len) wh.getLong(i + k) else 0L
        acc = (acc * a + w) % p
        k += 1
      }
      seen.add(acc)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  def of(wordHashes: Column, n: Int, a: Long, p: Long): Column = {
    require(n >= 1, "NGramHash needs n >= 1")
    Kernel.static(this, "build", ArrayType(LongType, containsNull = false),
      Seq(wordHashes, lit(n), lit(a), lit(p)))
  }
}
