package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Small compiled row-local kernels replacing interpreted HOF lambdas in
 * query hot paths (§4). Each replicates its HOF spelling exactly on the
 * operator's input domain (spec-enforced).
 */
object SnapKernels {

  /** Unit-normalized 1e-6-lattice snap of a vector — the compiled form of
    * `transform(v, x => round(x / norm(v) * 1e6)::long)` where the HOF
    * spelling embedded the WHOLE norm subtree inside the per-element
    * lambda (O(dim²) interpreted per row). norm = sqrt of the ascending
    * sequential non-null Σx² (graft_dot's fold); null elements stay null.
    * NaN/±Inf coordinates are out of the operator's domain (the SQL cast
    * would raise under ANSI; here they clamp like Java's (long) cast). */
  def unitSnap(v: ArrayData, isFloat: Boolean): ArrayData = {
    val n  = v.numElements()
    var s2 = 0.0
    var i  = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s2 += x * x
      }
      i += 1
    }
    val norm = math.sqrt(s2)
    val out  = new Array[Any](n)
    i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        out(i) = java.lang.Long.valueOf(Int8QSimKernel.roundHalfUp(x / norm * 1000000.0).toLong)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Overlapping 2-character substrings of a word (code-point semantics,
    * like `substring(w, i, 2)`) — the compiled form of the byte-pair
    * histogram's per-occurrence `transform(sequence(1, length-1), ...)`.
    * Defined for words of ≥ 2 characters (the operator filters shorter
    * ones first); shorter inputs return an empty array. */
  def charBigrams(w: UTF8String): ArrayData = {
    val nc = w.numChars()
    if (nc < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nc - 1)
    var i   = 0
    while (i < nc - 1) { out(i) = w.substring(i, i + 2); i += 1 }
    new GenericArrayData(out)
  }
}
