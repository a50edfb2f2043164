package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * BPE merge replay over a single word form — the compiled form of the
 * per-merge `aggregate` fold (`TextAnalysis.greedyMergeFold`) plus the
 * character tokenization and adjacent-pair `transform` lambdas around it.
 *
 * Rationale (§4): BPE training/encoding runs these HOF lambdas
 * interpreted, per element, once per vocabulary word PER MERGE ROUND —
 * and each round's output vocabulary had to be pinned (a localCheckpoint
 * job per merge) so the next round could read it. Replaying the whole
 * learned merge sequence from the character tokens in one compiled pass
 * per word makes each training round a single aggregation job over the
 * static word histogram and drops the per-merge pins entirely. The
 * greedy pass is the identical left-to-right non-overlapping scan, merge
 * by merge, so the final tokenization of every word form is unchanged
 * (spec-enforced against the HOF fold).
 */
object BpeReplayKernel {

  /** Character tokens (code-point semantics, like `substring(w, i, 1)`)
    * with the merges applied in learned order, each as one greedy
    * left-to-right non-overlapping pass (the [[graft.pipeline.TextAnalysis]]
    * fold: a fused token can pair again on the NEXT pass, never within
    * its own). */
  def tokens(
      w: UTF8String,
      lhs: Array[UTF8String],
      rhs: Array[UTF8String],
      cat: Array[UTF8String]): Array[UTF8String] = {
    val nc   = w.numChars()
    var toks = new Array[UTF8String](nc)
    var i    = 0
    while (i < nc) { toks(i) = w.substring(i, i + 1); i += 1 }
    var m = 0
    while (m < lhs.length) {
      val x  = lhs(m)
      val y  = rhs(m)
      val xy = cat(m)
      // greedy pass, replicating the fold's "" sentinel semantics: prev
      // starts empty; an (x, y) adjacency fuses into prev; otherwise prev
      // flushes to the output and the token becomes the new prev
      val out  = new Array[UTF8String](toks.length)
      var o    = 0
      var prev = UTF8String.EMPTY_UTF8
      var j    = 0
      while (j < toks.length) {
        val t = toks(j)
        if (prev.equals(x) && t.equals(y)) prev = xy
        else if (prev.numBytes() == 0) prev = t // the fold's "" sentinel
        else { out(o) = prev; o += 1; prev = t }
        j += 1
      }
      val fin = new Array[UTF8String](o + 1)
      System.arraycopy(out, 0, fin, 0, o)
      fin(o) = prev
      toks = fin
      m += 1
    }
    toks
  }

  def applyArray(
      w: UTF8String,
      lhs: Array[UTF8String],
      rhs: Array[UTF8String],
      cat: Array[UTF8String]): ArrayData =
    new GenericArrayData(tokens(w, lhs, rhs, cat).asInstanceOf[Array[Any]])

  /** Adjacent `(l, r)` token pairs after the replay — what each training
    * round explodes and weight-counts. Empty for one-token words (the old
    * `size(toks) >= 2` filter). */
  def pairsArray(
      w: UTF8String,
      lhs: Array[UTF8String],
      rhs: Array[UTF8String],
      cat: Array[UTF8String]): ArrayData = {
    val toks = tokens(w, lhs, rhs, cat)
    val n    = toks.length
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var i   = 0
    while (i < n - 1) {
      out(i) = new GenericInternalRow(Array[Any](toks(i), toks(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
