package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Per-key Theil–Sen medians as ONE compiled pass over the collected grid
 * arrays — the kernel form of the estimator's two median selections.
 *
 * The distributed formulation materialized `C(points, 2)` pair rows per
 * key through a self-join and ranked them with a per-key window sort —
 * correct, but at bench scale the pair frame (~10⁶ rows) plus the sort
 * dominated the gate while the per-key work is BOUNDED by contract
 * (`maxPoints = 4096` ⇒ ≤ 8.4M slopes ≈ 64 MB scratch per key, the same
 * bound that capped the join). The kernels keep the exact arithmetic:
 *
 *  - every slope is the IDENTICAL IEEE division `(v_j − v_i)/(x_j − x_i)`
 *    over the same operand multiset (slopes are symmetric under pair
 *    reversal: `(−a)/(−b)` is bit-equal to `a/b`);
 *  - the median is the same positional selection the window ranked —
 *    1-indexed rows `(n+1) div 2 .. (n+2) div 2` of the VALUE-ascending
 *    order under `Double.compare` (the order `Arrays.sort(double[])` and
 *    Spark's sort apply to DoubleType: −0.0 before 0.0, NaN last), summed
 *    then divided by the selected count — `x/1.0` or `(a+b)/2.0`, the very
 *    expressions `sum/count` evaluated. Those two order statistics are
 *    SELECTED in expected O(n) (Hoare's FIND) rather than read off a full
 *    sort: a key's ~C(n,2) slopes are otherwise sorted just to read one or
 *    two of them;
 *  - degenerate inputs (< 2 points for slopes, empty for residuals)
 *    return NaN — callers filter `n_points >= 2` first, exactly the keys
 *    the old inner join against the pair frame kept.
 */
object TheilSenMedians {

  /** the documented per-key bound ([[graft.operators.TimeSeries.theilSen]]'s
    * `maxPoints` contract): C(4096, 2) slopes ≈ 64 MB scratch. Enforced
    * HERE too, because the kernel is a globally registered SQL function —
    * a direct caller beyond the bound previously hit Int overflow in
    * `n·(n−1)/2` (negative array size) or an unbounded allocation. */
  private val MaxPoints = 4096

  private def checkPoints(xs: ArrayData, vs: ArrayData): Int = {
    val n = xs.numElements()
    require(n <= MaxPoints,
      s"graft_ts_*_median: $n points exceeds the maxPoints=$MaxPoints contract " +
        "(C(n,2) slope scratch would be unbounded) — densify the grid step first")
    require(vs.numElements() == n,
      s"graft_ts_*_median: xs/vs length mismatch (${n} vs ${vs.numElements()})")
    var i = 0
    while (i < n) {
      require(!xs.isNullAt(i) && !vs.isNullAt(i),
        "graft_ts_*_median: null grid elements are unsupported (the resample grid never emits them)")
      i += 1
    }
    n
  }

  /** median of all pairwise slopes of `(xs(i), vs(i))` points (xs exact
    * longs, distinct per the resample-grid contract). */
  def slopesMedian(xs: ArrayData, vs: ArrayData): Double = {
    val n = checkPoints(xs, vs)
    if (n < 2) return Double.NaN
    val m = n * (n - 1) / 2
    val s = new Array[Double](m)
    var k = 0
    var i = 0
    while (i < n) {
      val xi = xs.getLong(i)
      val vi = vs.getDouble(i)
      var j = i + 1
      while (j < n) {
        s(k) = (vs.getDouble(j) - vi) / (xs.getLong(j) - xi).toDouble
        k += 1
        j += 1
      }
      i += 1
    }
    median(s)
  }

  /** median of the residuals `v_i − slope · x_i` (slope is the already
    * 6-dp-ROUNDED column, exactly as the windowed form consumed it). */
  def residMedian(xs: ArrayData, vs: ArrayData, slope: Double): Double = {
    val n = checkPoints(xs, vs)
    if (n == 0) return Double.NaN
    val r = new Array[Double](n)
    var i = 0
    while (i < n) {
      r(i) = vs.getDouble(i) - slope * xs.getLong(i).toDouble
      i += 1
    }
    median(r)
  }

  /** 1-indexed positions `(n+1) div 2 .. (n+2) div 2` of the ascending
    * order, summed / count — the windowed `medianOf` selection verbatim.
    * Reorders `a` in place. */
  private def median(a: Array[Double]): Double = {
    val n  = a.length
    val lo = (n - 1) / 2
    select(a, lo)
    if (n % 2 == 1) a(lo) / 1.0
    else {
      // after the selection a(lo+1 until n) holds exactly the values at or
      // above rank lo, so rank lo+1 is their minimum
      var hi = lo + 1
      var i  = lo + 2
      while (i < n) { if (java.lang.Double.compare(a(i), a(hi)) < 0) hi = i; i += 1 }
      (a(lo) + a(hi)) / 2.0
    }
  }

  /** Hoare's FIND: reorders `a` so that `a(k)` holds the value of rank `k`
    * in `Double.compare` order, every value before it is at or below it and
    * every value after it at or above it. Median-of-three pivots; expected
    * O(n). */
  private def select(a: Array[Double], k: Int): Unit = {
    def cmp(x: Double, y: Double): Int = java.lang.Double.compare(x, y)
    var l = 0
    var r = a.length - 1
    while (l < r) {
      val m = (l + r) >>> 1
      // order a(l) <= a(m) <= a(r), then partition around a(m)
      if (cmp(a(m), a(l)) < 0) swap(a, m, l)
      if (cmp(a(r), a(l)) < 0) swap(a, r, l)
      if (cmp(a(r), a(m)) < 0) swap(a, r, m)
      val pivot = a(m)
      var i = l
      var j = r
      while (i <= j) {
        while (cmp(a(i), pivot) < 0) i += 1
        while (cmp(pivot, a(j)) < 0) j -= 1
        if (i <= j) { swap(a, i, j); i += 1; j -= 1 }
      }
      // a(l..j) <= pivot, a(j+1 until i) == pivot, a(i..r) >= pivot
      if (k <= j) r = j
      else if (k >= i) l = i
      else return
    }
  }

  private def swap(a: Array[Double], i: Int, j: Int): Unit = {
    val t = a(i); a(i) = a(j); a(j) = t
  }
}
