package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** The chronicle request-split midpoint descent over one chunk's sorted
  * entry list, as one kernel loop — replaces a per-entry interpreted
  * `aggregate(sequence(1, levels), state-struct, step)` fold (levels
  * struct rebuilds per entry, boxed arithmetic).
  *
  * Semantics are IDENTICAL to the HOF fold it replaces
  * (marshal.go:487-515 parity, oracle-locked end-to-end): every entry
  * descends the count-midpoint tree from [0, cnt) to the first ancestor
  * segment whose byte sum fits `capBytes`; a singleton segment still over
  * the cap is the dropped-entry case (`done` stays false). The fold ran a
  * fixed `levels` iterations with a frozen terminal state; the loop breaks
  * at the terminal iteration after latching `done` — the remaining fold
  * iterations were state-identity, so the outputs agree exactly.
  *
  * Input: array<struct<cidx int, cum long, sz long>> sorted by cidx
  * (cum = inclusive running byte sum — element i holds the prefix sum of
  * the first i+1 sizes). Output: array<struct<batch_lo int,
  * dropped boolean, sz long>>, positionally aligned with the input.
  */
object MidpointBatches {
  private val OutType = ArrayType(StructType(Seq(
    StructField("batch_lo", IntegerType, nullable = false),
    StructField("dropped", BooleanType, nullable = false),
    StructField("sz", LongType, nullable = false))), containsNull = false)

  def build(entries: ArrayData, capBytes: Long, levels: Int): GenericArrayData = {
    val n = entries.numElements()
    // 1-indexed prefix sums: pfx(i) = cum of entry i-1; pfx(0) = 0
    val pfx = new Array[Long](n + 1)
    var i = 0
    while (i < n) { pfx(i + 1) = entries.getStruct(i, 3).getLong(1); i += 1 }
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      val e = entries.getStruct(j, 3)
      val cidx = e.getInt(0)
      val sz = e.getLong(2)
      var lo = 0
      var hi = n
      var done = false
      var l = 0
      var frozen = false
      while (l < levels && !frozen) {
        val segBytes = pfx(hi) - pfx(lo)
        val fits = segBytes <= capBytes
        if (done || fits || (hi - lo) <= 1) { done = done || fits; frozen = true }
        else {
          val mid = lo + (hi - lo) / 2
          if (cidx < mid) hi = mid else lo = mid
        }
        l += 1
      }
      out(j) = new GenericInternalRow(
        Array[Any](lo, !done, sz))
      j += 1
    }
    new GenericArrayData(out)
  }

  def of(entries: Column, capBytes: Long, levels: Int): Column = {
    require(levels >= 1, "MidpointBatches needs levels >= 1")
    Kernel.static(this, "build", OutType, Seq(entries, lit(capBytes), lit(levels)))
  }
}
