package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * `graft_pq_encode`: native PQ encoding, `array<int>` of `m` sub-codes per
 * vector, one pass.
 *
 * The expression alternative builds an `m × kpq`-branch distance tree per
 * row; this kernel keeps plan size independent of the codebook and reads
 * the vector once — the shape that survives production codebooks
 * (`m`=16-64, `kpq`=256) at 100 TB.
 */
object PqKernel {

  /**
   * `m` sub-codes for one vector: for subspace `j`, the 0-based index of
   * the L2-nearest sub-centroid among `centsFlat` (layout subspace-major:
   * `((j * kpq) + c) * dsub + i`). Each squared distance accumulates over
   * dims `i` ASCENDING (the same left-fold order the DuckDB oracle
   * replays); the first minimum wins ties (strict `<` — later equal
   * distances never displace an earlier code). Null / missing elements
   * read as 0, mirroring [[ArrayKernels.dot]]'s common-prefix convention.
   */
  def encode(vec: ArrayData, isFloat: Boolean, centsFlat: Array[Double],
             m: Int, dsub: Int, kpq: Int): ArrayData = {
    val dim = m * dsub
    val n   = vec.numElements()
    val v   = new Array[Double](dim)
    var i   = 0
    while (i < dim) {
      v(i) =
        if (i >= n || vec.isNullAt(i)) 0.0
        else if (isFloat) vec.getFloat(i).toDouble
        else vec.getDouble(i)
      i += 1
    }
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val voff  = j * dsub
      var best  = Double.PositiveInfinity
      var bestC = 0
      var c     = 0
      while (c < kpq) {
        val coff = (j * kpq + c) * dsub
        var d    = 0.0
        i = 0
        while (i < dsub) {
          val t = v(voff + i) - centsFlat(coff + i)
          d += t * t
          i += 1
        }
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      codes(j) = bestC
      j += 1
    }
    new GenericArrayData(codes)
  }
}
