package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * `graft_nearest_centroid`: native nearest-centroid assignment, the
 * 0-based position of the cosine-closest centroid among `centsFlat`
 * (nlist × dim doubles, row-major), one pass over the vector.
 *
 * Replaces an nlist-branch cosine `array` + `array_position(array_max)`
 * projection — plan size becomes independent of nlist and each row reads
 * its vector once instead of nlist times, which is what survives
 * nlist ≈ √n sizing at 100 TB. Centroid norms are precomputed driver-side
 * (same sequential fold the expression form constant-folded).
 */
object CentroidKernel {

  /**
   * 0-based index of the cosine-nearest centroid. Arithmetic replicates
   * the expression form it replaces exactly: sequential-fold double dots
   * ([[ArrayKernels.dot]] semantics — common prefix, null elements contribute 0),
   * `sim = dot/(|v|·|c|)`, first index wins ties. NaN mirrors Spark's
   * ordering, where NaN is GREATER than any double (`array_max` of a row
   * containing NaN is NaN, and `array_position` then finds the first NaN):
   * the first NaN similarity — a zero-norm vector or centroid — wins over
   * every finite one, so an all-NaN row (zero vector) yields index 0 and a
   * zero-norm centroid captures every row, exactly like the
   * `array_position(sims, array_max(sims))` projection it replaces.
   */
  def nearest(vec: ArrayData, isFloat: Boolean, centsFlat: Array[Double], norms: Array[Double], dim: Int): Int = {
    val m = math.min(vec.numElements(), dim)
    val v = new Array[Double](m)
    var i = 0
    while (i < m) {
      v(i) = if (vec.isNullAt(i)) 0.0 else if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    var nv2 = 0.0
    i = 0
    while (i < m) { nv2 += v(i) * v(i); i += 1 }
    val nv    = math.sqrt(nv2)
    var best  = Double.NegativeInfinity
    var bestI = 0
    var c     = 0
    while (c < norms.length) {
      val off = c * dim
      var s   = 0.0
      i = 0
      while (i < m) { s += v(i) * centsFlat(off + i); i += 1 }
      val sim = s / (nv * norms(c))
      // NaN-greatest: a NaN sim beats any finite best; once best is NaN
      // (java.lang.Double.isNaN(best)) nothing displaces it (first NaN wins)
      if (sim > best || (sim != sim && best == best)) { best = sim; bestI = c }
      c += 1
    }
    bestI
  }
}
