package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Argmax-dot-product against a baked-in centroid table: the IVF coarse
  * quantizer's cell assignment as ONE kernel call — a tight
  * long[]-on-long[] double loop with zero per-row allocation, vs the
  * interpreted higher-order-function fold (which allocates a struct array
  * per centroid per row and pays lambda dispatch per element; measured ~10×
  * slower at |centroids|≈200).
  *
  * The centroid table is kernel state (like a trained FAISS coarse
  * quantizer): bounded broadcast data, shipped once per plan, not a join
  * side. Ties break to the SMALLEST centroid id (ids are sorted ascending
  * and replacement requires a strictly better score).
  */
object DotArgmax {

  /** The centroid table. `Seq` fields, not Array, so two constructions of
    * the same query canonicalize equal (see VecOps.scala); the loop reads
    * the Array mirrors.
    */
  final case class Centroids(ids: Seq[Long], vecs: Seq[Seq[Long]]) {
    require(ids.length == vecs.length && ids.nonEmpty,
      "DotArgmax needs a non-empty id-aligned centroid table")
    private val idArr: Array[Long] = ids.toArray
    private val vecArr: Array[Array[Long]] = vecs.map(_.toArray).toArray

    def argmax(vec: ArrayData): Long = {
      val v = vec.toLongArray()
      var bestScore = Long.MinValue
      var bestId = -1L
      var c = 0
      while (c < vecArr.length) {
        val cv = vecArr(c)
        val n = math.min(v.length, cv.length)
        var dot = 0L
        var i = 0
        while (i < n) { dot += v(i) * cv(i); i += 1 }
        if (dot > bestScore) { bestScore = dot; bestId = idArr(c) }
        c += 1
      }
      bestId
    }

    override def toString: String = s"centroids[${ids.size}]"
  }

  /** Column API: cell id of the best-matching centroid for each vector. */
  def of(vec: Column, ids: Seq[Long], vecs: Seq[Seq[Long]]): Column =
    Kernel.invoke(Centroids(ids.toVector, vecs.map(_.toVector).toVector),
      "argmax", LongType, Seq(vec))
}
