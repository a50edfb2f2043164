package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Portable polynomial hashing and the signature kernels of the dedup
 * operators (`graft_poly_hash`, `graft_shingles`, `graft_word_hashes`,
 * `graft_winnow`, `graft_winnow_fps`, `graft_cdc_chunks`, `graft_minhash`,
 * `graft_simhash`). The HOF formulations (`transform` + `array_min` / 64 ×
 * `aggregate`) evaluate an interpreted lambda per array element — for a
 * minhash signature that is `numHashes × |shingles|` lambda invocations per
 * document. These methods run the same arithmetic as tight compiled loops.
 *
 * `poly(word) = fold over code points of (acc * base + cp) mod (2^31-1)`,
 * seeded — plain modular arithmetic that an external SQL engine (the
 * DuckDB correctness oracle, see [[graft.OracleGen]]) reproduces
 * bit-for-bit, unlike xxhash64. The wide (~62-bit) variant combines two
 * independent bases: `h131 * P + h137`, still inside a signed long.
 *
 * The fast path folds raw UTF-8 bytes (== code points for ASCII); a word
 * containing a non-ASCII byte falls back to a per-code-point fold so the
 * definition stays "code points" everywhere.
 */
object PortableHash {
  val P31 = 2147483647L // 2^31 - 1
  val P31b = 2147483629L // 2^31 - 19 (prime) — independent reduction modulus
  val FallbackMod = 1L << 55 // short-doc fold modulus (see shingleSet)
  val WindowBase  = 1000003L // k-window combine coefficient base

  // second-lane rehash constants (see lane2)
  val L2A1 = 1000003L
  val L2C1 = 65537L
  val L2A2 = 1000033L
  val L2C2 = 131071L

  /**
   * Second 64-bit lane for the 128-bit SimHash, derived from a wide
   * (~62-bit, non-negative) word hash by two INDEPENDENT modular
   * reductions: `h mod P31` and `h mod P31b` together determine
   * `h mod (P31*P31b)` (CRT), so the full entropy of the input survives —
   * then each residue is rehashed affinely and the two 31-bit results are
   * recombined below 2^62. Plain `*`/`+`/`%` on non-negative longs: the
   * DuckDB oracle replays it bit-for-bit, and no intermediate exceeds
   * 2^62 (ANSI-mode safe).
   */
  def lane2(h: Long): Long = {
    val g1 = ((h % P31) * L2A1 + L2C1) % P31
    val g2 = ((h % P31b) * L2A2 + L2C2) % P31
    g1 * P31 + g2
  }

  /**
   * 128-bit SimHash over a wide word-hash array, packed into two
   * NON-NEGATIVE longs: `lo` bit b = sign of the ±1 vote sum over bit b of
   * each word hash (positions 0-63), `hi` likewise over the [[lane2]]
   * rehash (positions 64-127). Input hashes are < 2^62, so vote positions
   * 62/63/126/127 are always negative and bits 62-63 of both words stay 0
   * — the packed longs never go negative on either engine.
   */
  def simHash128(wh: ArrayData): ArrayData = {
    val n = wh.numElements()
    val votes = new Array[Int](128)
    var i = 0
    while (i < n) {
      val a = wh.getLong(i)
      val b = lane2(a)
      var j = 0
      while (j < 64) {
        if (((a >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        if (((b >>> j) & 1L) == 1L) votes(64 + j) += 1 else votes(64 + j) -= 1
        j += 1
      }
      i += 1
    }
    var lo = 0L
    var hi = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) lo |= 1L << j
      if (votes(64 + j) > 0) hi |= 1L << j
      j += 1
    }
    new GenericArrayData(Array(lo, hi))
  }

  /** polynomial fold over the code points of bytes[from, to). Each step
    * reduces with `floorMod`, i.e. SQL `pmod`, so a negative seed or base
    * folds exactly as the HOF form does. */
  def wordPoly(bytes: Array[Byte], from: Int, to: Int, base: Long, seed: Long): Long = {
    var acc   = seed
    var i     = from
    var ascii = true
    while (i < to && ascii) { if (bytes(i) < 0) ascii = false else i += 1 }
    if (ascii) {
      i = from
      while (i < to) { acc = Math.floorMod(acc * base + bytes(i), P31); i += 1 }
      acc
    } else {
      val s  = new String(bytes, from, to - from, java.nio.charset.StandardCharsets.UTF_8)
      var ci = 0
      acc = seed
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        acc = Math.floorMod(acc * base + cp, P31)
        ci += Character.charCount(cp)
      }
      acc
    }
  }

  /** [[wordPoly]] over a whole string; NULL or empty gives `seed`. The
    * body of `graft_poly_hash`, value-identical to the HOF reference form
    * [[graft.pipeline.Dedup.polyHash]]. */
  def polyHash(s: UTF8String, base: Long, seed: Long): Long =
    if (s == null || s.numBytes == 0) seed
    else wordPoly(s.getBytes, 0, s.numBytes, base, seed)

  /** MinHash permutation parameters `(a_i, b_i)`, one seeded sequence
    * shared by `graft_minhash` and the HOF form
    * [[graft.pipeline.Dedup.minhashSignature]]. */
  def minhashPerms(numHashes: Int): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Array.fill(numHashes)((1L + rnd.nextInt(Int.MaxValue - 1).toLong, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature over a hashed-shingle array: for each permutation
    * i, `min over shingles of floorMod(floorMod(h, P) * as(i) + bs(i), P)`
    * with P = 2^31-1 — value-identical to the HOF form. */
  def minhash(shingles: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val n   = shingles.numElements()
    val acc = Array.fill(as.length)(Long.MaxValue)
    var i   = 0
    while (i < n) {
      val base = Math.floorMod(shingles.getLong(i), P31)
      var j    = 0
      while (j < as.length) {
        val x = Math.floorMod(base * as(j) + bs(j), P31)
        if (x < acc(j)) acc(j) = x
        j += 1
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  /** word boundaries of a single-space split, KEEPING empty words —
    * matches `split(text, " ")` (Spark limit=-1) and DuckDB
    * `string_split(text, ' ')`. Returns flat [start0,end0,start1,end1,…]. */
  private def wordBounds(bytes: Array[Byte]): Array[Int] = {
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) n += 1; i += 1 }
    val bounds = new Array[Int](2 * n)
    var w      = 0
    var start  = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) {
        bounds(2 * w) = start; bounds(2 * w + 1) = i
        w += 1; start = i + 1
      }
      i += 1
    }
    bounds(2 * w) = start; bounds(2 * w + 1) = bytes.length
    bounds
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (i == 0 || a(i) != a(i - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** sorted distinct k-word shingle hashes — value-identical to the HOF
    * reference form [[graft.pipeline.Dedup.shingleSet]]. */
  def shingleSet(text: UTF8String, k: Int): ArrayData = {
    val bytes  = text.getBytes
    val bounds = wordBounds(bytes)
    val nw     = bounds.length / 2
    val wh     = new Array[Long](nw)
    var i      = 0
    while (i < nw) { wh(i) = wordPoly(bytes, bounds(2 * i), bounds(2 * i + 1), 131L, 7L); i += 1 }
    val sh =
      if (nw >= k) {
        val out = new Array[Long](nw - k + 1)
        i = 0
        while (i <= nw - k) {
          var s = 0L
          var j = 0
          while (j < k) { s += wh(i + j) * (WindowBase * (j + 1)); j += 1 }
          out(i) = s
          i += 1
        }
        out
      } else {
        var acc = 0L
        i = 0
        while (i < nw) { acc = (acc * 31L + wh(i)) % FallbackMod; i += 1 }
        Array(acc)
      }
    new GenericArrayData(sortedDistinct(sh))
  }

  /**
   * Winnowing selection (Schleimer, Wilkerson & Aiken 2003) over char
   * `k`-grams in ONE O(n) pass: rolling polynomial gram hashes (seed 7,
   * base 31, mod 2^31−1 over code points — the same fold every portable
   * hash here uses) + a monotonic-deque sliding-window minimum with the
   * RIGHTMOST tie rule (an equal later hash evicts the earlier one, so
   * the deque front among tied minima is the rightmost). Returns the
   * selected fingerprints as packed longs `pos·2^32 + fp` (1-based pos;
   * both halves < 2^31), in increasing position, each selected position
   * exactly once (a repeated pick across adjacent windows emits once —
   * identical to DISTINCT over per-window argmins, since a position can
   * only win in consecutive windows). Value-identical to the HOF
   * reference form [[graft.pipeline.Dedup.winnowFingerprintsHof]].
   */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray // = length()/ascii() semantics
    val n   = cps.length
    val g   = n - k + 1
    if (g < w) return new GenericArrayData(Array.empty[Long])
    val P     = P31
    val pow   = { var x = 1L; var e = 0; while (e < k - 1) { x = x * 31L % P; e += 1 }; x }
    val seedK = { var x = 7L; var e = 0; while (e < k) { x = x * 31L % P; e += 1 }; x }
    val hs    = new Array[Long](g)
    var h     = 7L
    var i     = 0
    while (i < k) { h = (h * 31L + cps(i)) % P; i += 1 }
    hs(0) = h
    var p = 1
    while (p < g) {
      // roll: strip the seed term, drop c_{p−1}·31^{k−1}, shift, add c_{p+k−1}
      var t = (h - seedK + P) % P
      t = (t - cps(p - 1) * pow % P + P) % P
      h = (t * 31L + cps(p + k - 1) + seedK) % P
      hs(p) = h
      p += 1
    }
    val deque = new Array[Int](g)
    var head  = 0
    var tail  = 0 // exclusive
    val out   = new Array[Long](g - w + 1)
    var m     = 0
    var last  = -1
    i = 0
    while (i < g) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      val s = i - w + 1 // window start whose last slot is i
      if (s >= 0) {
        while (deque(head) < s) head += 1
        val f = deque(head)
        if (f != last) { out(m) = ((f + 1).toLong << 32) + hs(f); m += 1; last = f }
      }
      i += 1
    }
    new GenericArrayData(if (m == out.length) out else java.util.Arrays.copyOf(out, m))
  }

  /** SORTED DISTINCT winnowing fingerprint VALUES — [[winnow]] with the
    * positions dropped and the per-document dedup done inside the kernel,
    * so a pair miner explodes distinct `(doc, fp)` rows directly and
    * never shuffles a corpus of positional picks through a relational
    * DISTINCT. */
  def winnowFpSet(text: UTF8String, k: Int, w: Int): ArrayData = {
    val packed = winnow(text, k, w)
    val m      = packed.numElements()
    val fps    = new Array[Long](m)
    var i      = 0
    while (i < m) { fps(i) = packed.getLong(i) & 0xFFFFFFFFL; i += 1 }
    new GenericArrayData(sortedDistinct(fps))
  }

  /** sorted distinct wide (~62-bit) word hashes (simhash input) —
    * value-identical to [[graft.pipeline.Dedup.wordHashes]]. */
  def wordHashSet(text: UTF8String): ArrayData = {
    val bytes  = text.getBytes
    val bounds = wordBounds(bytes)
    val nw     = bounds.length / 2
    val wh     = new Array[Long](nw)
    var i      = 0
    while (i < nw) {
      val h1 = wordPoly(bytes, bounds(2 * i), bounds(2 * i + 1), 131L, 7L)
      val h2 = wordPoly(bytes, bounds(2 * i), bounds(2 * i + 1), 137L, 11L)
      wh(i) = h1 * P31 + h2
      i += 1
    }
    new GenericArrayData(sortedDistinct(wh))
  }

  /**
   * Content-defined chunk list over the single-space word stream, ONE
   * compiled pass: word `i` CLOSES a chunk when its polynomial hash
   * (base 131, seed 7 — [[wordPoly]]) is ≡ 0 mod `divisor`; the last word
   * always closes the final chunk. Each element packs
   * `n_words · 2^32 + chunk_hash`, where the chunk hash is the base-131
   * seed-7 fold of the chunk's word hashes mod P31 (< 2^31, so the pack
   * is lossless for documents under 2^31 words). Value-identical to the
   * HOF reference form [[graft.pipeline.Dedup.cdcChunksHof]]
   * (spec-asserted), element order = chunk order.
   */
  def cdcChunkList(text: UTF8String, divisor: Int): ArrayData = {
    val bytes  = text.getBytes
    val bounds = wordBounds(bytes)
    val nw     = bounds.length / 2
    val tmp    = new Array[Long](nw)
    var nc     = 0
    var acc    = 7L
    var len    = 0
    var i      = 0
    while (i < nw) {
      val wh = wordPoly(bytes, bounds(2 * i), bounds(2 * i + 1), 131L, 7L)
      acc = (acc * 131L + wh) % P31
      len += 1
      if (wh % divisor == 0 || i == nw - 1) {
        tmp(nc) = (len.toLong << 32) | acc
        nc += 1; acc = 7L; len = 0
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(tmp, nc))
  }
}
