package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Binary-payload kernels behind `graft_rms_windows` and `graft_blockhash`:
 * ONE compiled pass over the bytes each, replacing the
 * `transform(sequence(1, n), i → conv(hex(substring(payload, i, 1)), 16,
 * 10))` byte explode plus the per-window `slice`/`aggregate` lambda chains.
 * Catalyst higher-order functions evaluate their lambdas INTERPRETED per
 * element, and the per-byte substring/hex/conv allocated three transient
 * strings per sample — measured ~1.2 µs/byte on the mm energy gates.
 */
object ByteWindows {

  /** Per-window RMS energy of a payload read as unsigned PCM8 samples
    * around the 128 midpoint: element `w` is
    * `sqrt(Σ_{i ∈ window w} (b_i − 128)² / n_w)` over `window`-byte frames
    * (the last frame is the remainder; an empty payload yields an empty
    * array). Bit-identical to the expression chain it replaces: exact int
    * `(b−128)²`, exact long frame sums, ONE double divide + `Math.sqrt` per
    * frame. */
  def rmsWindows(bytes: Array[Byte], window: Int): ArrayData = {
    val n   = bytes.length
    val nw  = if (n == 0) 0 else (n + window - 1) / window
    val out = new Array[Double](nw)
    var w = 0
    while (w < nw) {
      val start = w * window
      val end   = math.min(start + window, n)
      var s = 0L
      var i = start
      while (i < end) { val d = (bytes(i) & 0xFF) - 128; s += d * d; i += 1 }
      out(w) = math.sqrt(s.toDouble / (end - start).toDouble)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** 62-bit-max blockhash signature: the payload splits into `blocks`
    * equal slices of `ceil(n / blocks)` bytes (the tail slice is the
    * remainder; slices past the end are skipped exactly as an empty
    * `slice()` fails the old chain's `size > 0` guard), and bit `b` sets
    * when slice `b`'s unsigned-byte mean exceeds the whole payload's mean —
    * compared in EXACT integer cross-multiplication (`Σ_b · n > Σ_total ·
    * n_b`), never a float divide, exactly as the `aggregate`/`slice` lambda
    * chain it replaces computed it. */
  def blockhash(bytes: Array[Byte], blocks: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val bl = (n + blocks - 1) / blocks
    var ts = 0L
    var i  = 0
    while (i < n) { ts += (bytes(i) & 0xFF); i += 1 }
    var sig = 0L
    var b   = 0
    while (b < blocks) {
      val start = b * bl
      if (start < n) {
        val end = math.min(start + bl, n)
        var s = 0L
        var j = start
        while (j < end) { s += (bytes(j) & 0xFF); j += 1 }
        if (s * n > ts * (end - start)) sig |= 1L << b
      }
      b += 1
    }
    sig
  }
}
