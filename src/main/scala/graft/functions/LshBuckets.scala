package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * `graft_lsh_buckets`: native multi-table LSH bucketing, one sign-bucket
 * per hash table computed in one pass over the vector.
 *
 * Rationale: building `tables` bucket columns from per-plane dot products
 * (even native ones) makes the projection a `tables × planes`-expression
 * tree — at 12 tables × 7 planes that is 84 separate array traversals per
 * row and a plan Catalyst spends seconds optimizing/codegen'ing. This
 * kernel collapses the whole bucketing stage into ONE call: the vector is
 * read once, all dots accumulate over primitive locals, and plan size is
 * independent of the table/plane counts (which
 * [[graft.pipeline.Similarity.planesFor]] grows with the corpus).
 */
object LshKernel {

  /**
   * All per-table sign buckets of one vector in a single traversal.
   * `planesFlat` is `tables × k × dim` doubles, row-major
   * `[table][plane][component]`; bucket of table t packs bit j =
   * (sequential-fold dot(vec, plane_{t,j}) > 0), identical per bit to the
   * portable HOF form [[graft.pipeline.Similarity.lshBucket]] and to a
   * per-plane `graft_dot` (same order, same double arithmetic, null
   * elements contribute 0, common-prefix length semantics).
   */
  def buckets(vec: ArrayData, isFloat: Boolean, planesFlat: Array[Double], k: Int, dim: Int): ArrayData = {
    val tables = planesFlat.length / (k * dim)
    val m      = math.min(vec.numElements(), dim)
    // vector is materialized once — each of the tables×k dots then reads
    // primitive locals instead of re-traversing the unsafe array payload
    val v = new Array[Double](m)
    var i = 0
    while (i < m) {
      v(i) = if (vec.isNullAt(i)) 0.0 else if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var j = 0
      while (j < k) {
        val off = (t * k + j) * dim
        var s   = 0.0
        var c   = 0
        while (c < m) { s += v(c) * planesFlat(off + c); c += 1 }
        if (s > 0) b |= 1L << j
        j += 1
      }
      out(t) = b
      t += 1
    }
    new GenericArrayData(out)
  }
}
