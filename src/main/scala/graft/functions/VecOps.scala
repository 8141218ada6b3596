package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Kernels for the interpreted higher-order-function folds on the
  * similarity/dedup hot paths. HOF expressions (`aggregate`, `transform`,
  * `zip_with`) are CodegenFallback in Spark: every element pays lambda
  * dispatch and boxes through InternalRow, and a fold that rebuilds an
  * accumulator ARRAY per element (the k-minima MinHash fold, the 64-bit
  * SimHash vote fold) allocates per element per row. Each kernel here is
  * the identical integer math as the HOF it replaces — same values
  * bit-for-bit, locked by the unchanged oracles — as one tight primitive
  * loop with zero allocation (guide §4: eliminate non-codegen expressions
  * in the hot path).
  *
  * Constant tables are state objects with `Seq` fields, NOT `Array`: the
  * state is a plan literal, and Array equality is reference equality,
  * which breaks canonicalized plan equality between two constructions of
  * the same query — and with it CacheManager persisted-relation reuse
  * across the bench's repeated/related queries (measured: the minhash
  * family re-derived its persisted banded/candidate relations per query,
  * 0.5 s → 3.4 s). Seq compares by value; the kernel loops read the Array
  * mirror.
  */

/** Exact int64 dot product of two long arrays (the quantized-embedding
  * scoring primitive). Matches `aggregate(zip_with(a, b, _*_), 0L, _+_)`
  * for the engine's fixed-width (64-dim) vectors.
  */
object DotProduct {
  def dot(a: ArrayData, b: ArrayData): Long = {
    val x = a.toLongArray()
    val y = b.toLongArray()
    val n = math.min(x.length, y.length)
    var d = 0L
    var i = 0
    while (i < n) { d += x(i) * y(i); i += 1 }
    d
  }

  def of(a: Column, b: Column): Column =
    Kernel.static(this, "dot", LongType, Seq(a, b))
}

/** Random-hyperplane sign-bit bucket: bit p set iff dot(vec, plane_p) > 0.
  * The plane table is kernel state (a fixed projection matrix) shipped
  * once per plan — replaces nPlanes interpreted 64-element fold chains per
  * row with one double loop.
  */
object PlaneSignBits {
  final case class Planes(planes: Seq[Seq[Long]]) {
    require(planes.nonEmpty, "PlaneSignBits needs at least one plane")
    private val planeArr: Array[Array[Long]] = planes.map(_.toArray).toArray

    def bucket(vec: ArrayData): Long = {
      val v = vec.toLongArray()
      var bucket = 0L
      var p = 0
      while (p < planeArr.length) {
        val pl = planeArr(p)
        val n = math.min(v.length, pl.length)
        var d = 0L
        var i = 0
        while (i < n) { d += v(i) * pl(i); i += 1 }
        if (d > 0) bucket |= (1L << p)
        p += 1
      }
      bucket
    }

    override def toString: String = s"planes[${planes.size}]"
  }

  def of(vec: Column, planes: Seq[Seq[Long]]): Column =
    Kernel.invoke(Planes(planes.map(_.toVector).toVector), "bucket", LongType,
      Seq(vec))
}

/** The k-minima MinHash fold over a pre-hashed shingle array: out[i] =
  * min over h of (a[i]*h + b[i]) mod p, Long.MaxValue when the array is
  * empty. All operands are < p < 2^30 so every product stays < 2^60 —
  * the identical universal-hash family the portable DuckDB oracle
  * replicates; `%` equals the HOF's `pmod` because operands are
  * non-negative. Replaces a fold that rebuilt a k-element accumulator
  * array per shingle.
  */
object MinHashSig {
  final case class Family(a: Seq[Long], b: Seq[Long], p: Long) {
    require(a.length == b.length && a.nonEmpty,
      "MinHashSig needs aligned non-empty hash-family coefficients")
    private val aArr: Array[Long] = a.toArray
    private val bArr: Array[Long] = b.toArray

    def sig(hashes: ArrayData): GenericArrayData = {
      val hs = hashes.toLongArray()
      val k = aArr.length
      val out = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < hs.length) {
        val h = hs(j)
        var i = 0
        while (i < k) {
          val v = (aArr(i) * h + bArr(i)) % p
          if (v < out(i)) out(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }

    override def toString: String = s"minhash[k=${a.size}, p=$p]"
  }

  def of(hashes: Column, a: Seq[Long], b: Seq[Long], p: Long): Column =
    Kernel.invoke(Family(a.toVector, b.toVector, p), "sig",
      ArrayType(LongType, containsNull = false), Seq(hashes))
}

/** SimHash sign fold over a token-hash array (Charikar '02): per bit b, the
  * vote is +1 when bit b of the token hash is set, else -1; the signature
  * sets bit b iff the vote total is positive. Matches the two-stage HOF
  * (per-bit vote counts, then sign fold) bit-for-bit — `>>>` is the HOF's
  * shiftRightUnsigned — as one pass with zero allocation.
  */
object SimHashBits {
  def bits(hashes: ArrayData): Long = {
    val hs = hashes.toLongArray()
    val votes = new Array[Int](64)
    var j = 0
    while (j < hs.length) {
      val h = hs(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  def of(hashes: Column): Column =
    Kernel.static(this, "bits", LongType, Seq(hashes))
}
