package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/**
 * `graft_int8_qsim`: quantized-cosine shortlist score for int8
 * scalar-quantized retrieval — the compiled form of the
 * `transform`/`array_max`/`round` HOF chain in `Similarity.int8TopKRerank`.
 *
 * Rationale (§4 of the optimization guide): higher-order functions
 * evaluate their lambdas interpreted, per element — and the HOF spelling
 * embeds the `array_max` subtree INSIDE the per-element lambda, so each
 * row pays O(dim²), three times (dot + the two norm uses). [[qsim]] is one
 * O(dim) pass per row, bit-identical on the values (spec-enforced).
 */
object Int8QSimKernel {

  /** Spark's `round(x, 0)` for doubles: NaN/Infinity pass through, else
    * HALF_UP on the decimal string value (matches RoundBase for
    * DoubleType). */
  def roundHalfUp(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Per-vector symmetric int8 quantization scale denominator — replays
    * `greatest(array_max(transform(v, abs)), 1e-30)`: nulls skipped,
    * NaN greatest (Spark's double ordering), empty/all-null → 1e-30. */
  private def maxAbs(v: ArrayData, isFloat: Boolean): Double = {
    val n = v.numElements()
    var m = 1e-30
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val d = math.abs(x)
        if (java.lang.Double.compare(d, m) > 0) m = d
      }
      i += 1
    }
    m
  }

  /** Quantized cosine of a raw vector against a pre-quantized query:
    * `graft_dot(zc, zq) / (fnorm(zc) * zqNorm)` with
    * `zc_i = round(x_i * (127 / maxAbs(v)))` — the one-pass compiled form
    * of the HOF chain in `Similarity.int8TopKRerank` (bit-identical:
    * same quantization arithmetic, same sequential fold order, nulls
    * skipped exactly like graft_dot/fnorm skip them). */
  def qsim(v: ArrayData, isFloat: Boolean, zq: Array[Double], zqNorm: java.lang.Double): Double = {
    val s   = 127.0 / maxAbs(v, isFloat)
    val n   = v.numElements()
    val nq  = zq.length
    var dot = 0.0
    var n2  = 0.0
    var i   = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        val z = roundHalfUp(x * s)
        n2 += z * z
        if (i < nq) dot += z * zq(i)
      }
      i += 1
    }
    dot / (math.sqrt(n2) * zqNorm.doubleValue)
  }

  /** Driver-side replay of the same quantization for the query literal
    * (what `ConstantFolding` evaluated in the HOF spelling). */
  def quantize(q: Array[Double]): Array[Double] = {
    var m = 1e-30
    var i = 0
    while (i < q.length) {
      val d = math.abs(q(i))
      if (java.lang.Double.compare(d, m) > 0) m = d
      i += 1
    }
    val s   = 127.0 / m
    val out = new Array[Double](q.length)
    i = 0
    while (i < q.length) { out(i) = roundHalfUp(q(i) * s); i += 1 }
    out
  }

  /** `fnorm(zq)` — ascending-index sequential sum of squares, one sqrt. */
  def norm(zq: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < zq.length) { s += zq(i) * zq(i); i += 1 }
    math.sqrt(s)
  }
}
