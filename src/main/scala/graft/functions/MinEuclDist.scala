package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * `graft_min_eucl`: native minimum Euclidean distance of a vector column
 * to a literal center set, one pass over the vector — replaces a
 * `centers.size`-branch `zip_with`/`aggregate` higher-order-function chain
 * whose lambdas evaluate INTERPRETED per element (per round of a greedy
 * k-center traversal that chain re-reads the vector once per center
 * through interpreted dispatch; this reads it once, compiled).
 */
object MinEuclKernel {

  /**
   * Minimum Euclidean distance from `vec` to any center in `centsFlat`
   * (row-major, `centsFlat.length / dim` centers). Arithmetic replicates
   * the `least(sqrt(aggregate(zip_with(v, c, (x,y) → (x−y)²), 0.0,
   * acc+e))...)` chain it replaces exactly: per center a SEQUENTIAL
   * left-fold of `(x_i − y_i)²` in element order starting from 0.0 (the
   * identical IEEE sequence), one `Math.sqrt`, then the null-skipping
   * `least` fold over centers in center order. A center whose distance
   * the chain would evaluate to SQL NULL (length mismatch or a null
   * element — `zip_with` null-pads and the add-fold absorbs) is skipped,
   * exactly as `least` skips nulls; all centers null ⇒ SQL NULL.
   */
  def minDist(vec: ArrayData, isFloat: Boolean, centsFlat: Array[Double], dim: Int): java.lang.Double = {
    val nC = centsFlat.length / dim
    val n  = vec.numElements()
    var best: java.lang.Double = null
    var c = 0
    while (c < nC) {
      if (n == dim) {
        val off = c * dim
        var s = 0.0
        var ok = true
        var i = 0
        while (ok && i < dim) {
          if (vec.isNullAt(i)) ok = false
          else {
            val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
            val d = x - centsFlat(off + i)
            s += d * d
            i += 1
          }
        }
        if (ok) {
          val dist = math.sqrt(s)
          // Double.compare orders NaN greater than every value — exactly
          // least()'s ordering, so a finite distance displaces a NaN best
          // (a plain `dist < best` would let an early NaN stick forever)
          if (best == null || java.lang.Double.compare(dist, best) < 0) best = dist
        }
      }
      c += 1
    }
    best
  }
}
