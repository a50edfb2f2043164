package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * Numeric array kernels behind `graft_dot`, `graft_fold_sum` and
 * `graft_sorted_intersect`.
 *
 * Rationale: Spark's higher-order functions (`zip_with` + `aggregate`)
 * evaluate their lambdas per element outside whole-stage codegen — on a
 * 100 TB embedding corpus the similarity kernel dominates the plan. These
 * are tight primitive loops that generated code calls directly: the
 * "custom Catalyst `Expression` beats UDF beats HOF" escalation path.
 */
object ArrayKernels {

  private def at(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Dot product of two `array<float>` / `array<double>` vectors (mixed
    * allowed): sequential left-to-right double sum (deterministic — matches
    * the portable HOF fold bit for bit); null elements contribute 0; a
    * length mismatch uses the common prefix. */
  def dot(x: ArrayData, y: ArrayData, xFloat: Boolean, yFloat: Boolean): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += at(x, i, xFloat) * at(y, i, yFloat)
      i += 1
    }
    s
  }

  /**
   * Ascending-sorted sequential double sum — the compiled form of the
   * portable fold `aggregate(array_sort(xs), 0.0d, (a, x) -> a + x)` that
   * every retrieval scorer uses for cross-engine bit-identity.
   *
   * Rationale: the HOF spelling evaluates its lambda interpreted, per
   * element; on a batch-retrieval plan the final aggregation often lands in
   * ONE AQE-coalesced partition, so the interpreted fold single-threads the
   * whole scoring stage (measured ~0.9 s of a 2 s rt_bm25_join at sf0.1).
   * This is copy → `Arrays.sort` → tight add loop. Value-identical for the
   * finite inputs the scorers produce (ascending IEEE order, same left
   * fold; null elements are skipped — the HOF form never sees one).
   */
  def foldSum(a: ArrayData): Double = {
    val n   = a.numElements()
    val buf = new Array[Double](n)
    var m   = 0
    var i   = 0
    while (i < n) { if (!a.isNullAt(i)) { buf(m) = a.getDouble(i); m += 1 }; i += 1 }
    java.util.Arrays.sort(buf, 0, m)
    var acc = 0.0
    i = 0
    while (i < m) { acc += buf(i); i += 1 }
    acc
  }

  /**
   * Count of common elements between two SORTED, de-duplicated
   * `array<long>` values — a two-pointer merge with zero allocation, vs the
   * hash-set build of `array_intersect` per pair. With it, a Jaccard over
   * pre-sorted shingle sets is `inter / (|a| + |b| - inter)` and the whole
   * near-dup verify stage stays allocation-free.
   *
   * Inputs MUST be sorted ascending and distinct
   * (`sort_array(array_distinct(…))` upstream — computed once per document,
   * not per pair).
   */
  def sortedIntersect(x: ArrayData, y: ArrayData): Long = {
    val nx = x.numElements()
    val ny = y.numElements()
    var i  = 0
    var j  = 0
    var c  = 0L
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }
}
