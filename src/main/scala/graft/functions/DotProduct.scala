package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.call_function

/**
 * Native dot product over two numeric array columns (`array<float>` or
 * `array<double>`, mixed allowed).
 *
 * Rationale: Spark's higher-order functions (`zip_with` + `aggregate`)
 * evaluate their lambdas per element outside whole-stage codegen — on a
 * 100 TB embedding corpus the similarity kernel dominates the plan. This
 * expression compiles to a tight primitive loop in generated code (plus an
 * equally tight interpreted fallback): the "custom Catalyst `Expression`
 * beats UDF beats HOF" escalation path.
 *
 * Semantics: sequential left-to-right double sum (deterministic and
 * reproducible — matches the portable HOF fold bit-for-bit); null elements
 * contribute 0; a length mismatch uses the common prefix.
 */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def elementType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _                        => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elementType(left).isDefined && elementType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<float|double> inputs, got ${left.dataType.catalogString} / ${right.dataType.catalogString}")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  private def get(arr: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case _         => arr.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x  = a.asInstanceOf[ArrayData]
    val y  = b.asInstanceOf[ArrayData]
    val lt = elementType(left).get
    val rt = elementType(right).get
    val n  = math.min(x.numElements(), y.numElements())
    var s  = 0.0
    var i  = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += get(x, i, lt) * get(y, i, rt)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i    = ctx.freshName("i")
      val n    = ctx.freshName("n")
      val acc  = ctx.freshName("acc")
      def getter(v: String, e: Expression) =
        if (elementType(e).contains(FloatType)) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ${getter(a, left)} * ${getter(b, right)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Native ascending-sorted sequential double sum — the codegen'd form of
 * the portable fold `aggregate(array_sort(xs), 0.0d, (a, x) -> a + x)`
 * that every retrieval scorer uses for cross-engine bit-identity.
 *
 * Rationale: the HOF spelling evaluates its lambda interpreted, per
 * element, outside whole-stage codegen; on a batch-retrieval plan the
 * final aggregation often lands in ONE AQE-coalesced partition, so the
 * interpreted fold single-threads the whole scoring stage (measured
 * ~0.9 s of a 2 s rt_bm25_join at sf0.1). This compiles to
 * copy → `Arrays.sort` → tight add loop. Value-identical for the finite
 * inputs the scorers produce (ascending IEEE order, same left fold; null
 * elements are skipped — the HOF form never sees one).
 */
case class SortedFoldSum(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_fold_sum requires array<double>, got ${other.catalogString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_fold_sum"

  override protected def nullSafeEval(v: Any): Any = {
    val a   = v.asInstanceOf[ArrayData]
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

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i   = ctx.freshName("i")
      val n   = ctx.freshName("n")
      val m   = ctx.freshName("m")
      val buf = ctx.freshName("buf")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |final double[] $buf = new double[$n];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) { $buf[$m++] = $a.getDouble($i); }
         |}
         |java.util.Arrays.sort($buf, 0, $m);
         |double $acc = 0.0;
         |for (int $i = 0; $i < $m; $i++) { $acc += $buf[$i]; }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Registration for the engine's native functions (session-scoped). */
object GraftFunctions {

  val registry: Seq[(String, Seq[Expression] => Expression, ExpressionInfo)] = Seq(
    ("graft_dot",
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1)),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot")),
    ("graft_fold_sum",
      (exprs: Seq[Expression]) => SortedFoldSum(exprs.head),
      new ExpressionInfo(classOf[SortedFoldSum].getName, "graft_fold_sum")),
    ("graft_sorted_intersect",
      (exprs: Seq[Expression]) => SortedIntersectCount(exprs.head, exprs(1)),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_intersect")),
    ("graft_minhash",
      (exprs: Seq[Expression]) => MinHashSignature(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash")),
    ("graft_simhash",
      (exprs: Seq[Expression]) => SimHashSignature(exprs.head),
      new ExpressionInfo(classOf[SimHashSignature].getName, "graft_simhash")),
    ("graft_shingles",
      (exprs: Seq[Expression]) => ShingleSet(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[ShingleSet].getName, "graft_shingles")),
    ("graft_word_hashes",
      (exprs: Seq[Expression]) => WordHashSet(exprs.head),
      new ExpressionInfo(classOf[WordHashSet].getName, "graft_word_hashes")),
    ("graft_winnow",
      (exprs: Seq[Expression]) => WinnowFingerprints(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[WinnowFingerprints].getName, "graft_winnow")),
    ("graft_winnow_fps",
      (exprs: Seq[Expression]) => WinnowFpSet(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[WinnowFpSet].getName, "graft_winnow_fps")),
    ("graft_lsh_buckets",
      (exprs: Seq[Expression]) => LshBuckets(exprs.head,
        exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets")),
    ("graft_nearest_centroid",
      (exprs: Seq[Expression]) => {
        val cents = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
        val norms = exprs(2).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
        NearestCentroid(exprs.head, cents, norms, exprs(3).eval().asInstanceOf[Number].intValue())
      },
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest_centroid")),
    ("graft_cdc_chunks",
      (exprs: Seq[Expression]) => CdcChunks(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[CdcChunks].getName, "graft_cdc_chunks")),
    ("graft_rms_windows",
      (exprs: Seq[Expression]) => RmsWindows(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[RmsWindows].getName, "graft_rms_windows")),
    ("graft_blockhash",
      (exprs: Seq[Expression]) => BlockhashSig(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[BlockhashSig].getName, "graft_blockhash")),
    ("graft_min_eucl",
      (exprs: Seq[Expression]) => {
        val cents = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
        MinEuclDist(exprs.head, cents, exprs(2).eval().asInstanceOf[Number].intValue())
      },
      new ExpressionInfo(classOf[MinEuclDist].getName, "graft_min_eucl")),
    ("graft_ts_slope_median",
      (exprs: Seq[Expression]) => TheilSenSlopeMedian(exprs.head, exprs(1)),
      new ExpressionInfo(classOf[TheilSenSlopeMedian].getName, "graft_ts_slope_median")),
    ("graft_ts_resid_median",
      (exprs: Seq[Expression]) => TheilSenResidMedian(exprs.head, exprs(1), exprs(2)),
      new ExpressionInfo(classOf[TheilSenResidMedian].getName, "graft_ts_resid_median")),
    ("graft_pq_encode",
      (exprs: Seq[Expression]) => {
        val cents = exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
        PqEncode(exprs.head, cents,
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue(),
          exprs(4).eval().asInstanceOf[Number].intValue())
      },
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode")),
    ("graft_collect_capped",
      (exprs: Seq[Expression]) => CappedCollectSorted(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[CappedCollectSorted].getName, "graft_collect_capped")),
    ("graft_topk_sum",
      (exprs: Seq[Expression]) => TopKSum(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()),
      new ExpressionInfo(classOf[TopKSum].getName, "graft_topk_sum")),
    ("graft_sole_latest",
      (exprs: Seq[Expression]) => SoleLatest(exprs.head, exprs(1)),
      new ExpressionInfo(classOf[SoleLatest].getName, "graft_sole_latest")),
    ("graft_int8_qsim",
      (exprs: Seq[Expression]) => Int8QSim(exprs.head,
        exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()),
      new ExpressionInfo(classOf[Int8QSim].getName, "graft_int8_qsim")),
    ("graft_bpe_apply",
      (exprs: Seq[Expression]) => BpeApplyTokens(exprs.head,
        utf8Array(exprs(1)), utf8Array(exprs(2))),
      new ExpressionInfo(classOf[BpeApplyTokens].getName, "graft_bpe_apply")),
    ("graft_bpe_pairs",
      (exprs: Seq[Expression]) => BpeAdjacentPairs(exprs.head,
        utf8Array(exprs(1)), utf8Array(exprs(2))),
      new ExpressionInfo(classOf[BpeAdjacentPairs].getName, "graft_bpe_pairs")),
    ("graft_unit_snap",
      (exprs: Seq[Expression]) => UnitSnap(exprs.head),
      new ExpressionInfo(classOf[UnitSnap].getName, "graft_unit_snap")),
    ("graft_char_bigrams",
      (exprs: Seq[Expression]) => CharBigrams(exprs.head),
      new ExpressionInfo(classOf[CharBigrams].getName, "graft_char_bigrams")),
    ("graft_poly_hash",
      (exprs: Seq[Expression]) => PolyHash(exprs.head, exprs(1), exprs(2)),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"))
  )

  private def utf8Array(e: Expression): Array[org.apache.spark.unsafe.types.UTF8String] =
    e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toObjectArray(org.apache.spark.sql.types.StringType)
      .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit =
    registry.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** Column-level dot product (requires [[register]] on the session). */
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Common-element count of two sorted distinct long arrays (requires [[register]]). */
  def sortedIntersect(a: Column, b: Column): Column = call_function("graft_sorted_intersect", a, b)

  /** Ascending-sorted sequential sum of a double array — the codegen'd
    * portable fold (requires [[register]]). */
  def foldSum(xs: Column): Column = call_function("graft_fold_sum", xs)

  /** portable polynomial hash of a string column, one compiled call per
    * row; NULL gives `seed` (requires [[register]]). */
  def polyHash(s: Column, base: Long, seed: Long): Column =
    call_function("graft_poly_hash", s,
      org.apache.spark.sql.functions.lit(base), org.apache.spark.sql.functions.lit(seed))

  /** MinHash signature of a hashed-shingle array (requires [[register]]). */
  def minhash(shingleHashes: Column, numHashes: Int): Column =
    call_function("graft_minhash", shingleHashes, org.apache.spark.sql.functions.lit(numHashes))

  /** Bounded sorted collect: the group's bigint ids as a sorted array, or
    * NULL when the group exceeds `cap` elements (requires [[register]]). */
  def collectCapped(id: Column, cap: Int): Column =
    call_function("graft_collect_capped", id, org.apache.spark.sql.functions.lit(cap))

  /** `array(sum, count)` of the group's `k` largest bigint values
    * (requires [[register]]). */
  def topKSum(v: Column, k: Int): Column =
    call_function("graft_topk_sum", v, org.apache.spark.sql.functions.lit(k))

  /** int8-quantized cosine of a raw vector column against a PRE-QUANTIZED
    * query array, one compiled pass (requires [[register]]). */
  def int8QSim(vec: Column, zq: Array[Double]): Column =
    call_function("graft_int8_qsim", vec, org.apache.spark.sql.functions.lit(zq))

  /** a word's BPE token array after replaying `merges` in learned order,
    * one compiled pass (requires [[register]]). */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_apply", word,
      org.apache.spark.sql.functions.lit(merges.map(_._1).toArray),
      org.apache.spark.sql.functions.lit(merges.map(_._2).toArray))

  /** adjacent `(l, r)` token pairs of the replayed tokenization — one BPE
    * training round's explode input (requires [[register]]). */
  def bpePairs(word: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_pairs", word,
      org.apache.spark.sql.functions.lit(merges.map(_._1).toArray),
      org.apache.spark.sql.functions.lit(merges.map(_._2).toArray))

  /** unit-normalized 1e-6-lattice snap of a vector column, one compiled
    * pass (requires [[register]]). */
  def unitSnap(vec: Column): Column = call_function("graft_unit_snap", vec)

  /** overlapping 2-character substrings of a ≥2-char word, one compiled
    * pass (requires [[register]]). */
  def charBigrams(word: Column): Column = call_function("graft_char_bigrams", word)

  /** one-pass `struct(ns, last, nl, key)` sole-latest fold: row count,
    * max(ord), rows at the max, smallest key at the max (requires
    * [[register]]). */
  def soleLatest(ord: Column, key: Column): Column =
    call_function("graft_sole_latest", ord, key)

  /** 128-bit SimHash signature of a word-hash array, packed as two
    * non-negative longs `[lo, hi]` (requires [[register]]). */
  def simhash(wordHashes: Column): Column = call_function("graft_simhash", wordHashes)

  /** content-defined chunk list of a text column as packed
    * `n_words·2^32+chunk_hash` longs in chunk order (requires [[register]]). */
  def cdcChunks(text: Column, divisor: Int): Column =
    call_function("graft_cdc_chunks", text,
      org.apache.spark.sql.functions.lit(divisor))

  /** per-`window` RMS energy array of a binary payload read as unsigned
    * PCM8 around the 128 midpoint (requires [[register]]). */
  def rmsWindows(payload: Column, window: Int): Column =
    call_function("graft_rms_windows", payload,
      org.apache.spark.sql.functions.lit(window))

  /** blockhash mean-vs-global-mean bit signature of a binary payload
    * (requires [[register]]). */
  def blockhashSig(payload: Column, blocks: Int): Column =
    call_function("graft_blockhash", payload,
      org.apache.spark.sql.functions.lit(blocks))

  /** sorted distinct k-word shingle hashes of a text column (requires [[register]]). */
  def shingles(text: Column, k: Int): Column =
    call_function("graft_shingles", text, org.apache.spark.sql.functions.lit(k))

  /** sorted distinct wide word hashes of a text column (requires [[register]]). */
  def wordHashes(text: Column): Column = call_function("graft_word_hashes", text)

  /** winnowing fingerprints of a text column as packed `pos·2^32+fp`
    * longs (requires [[register]]). */
  def winnow(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))

  /** sorted DISTINCT winnowing fingerprint values of a text column
    * (requires [[register]]). */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow_fps", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))

  /** 0-based index of the cosine-nearest centroid, one pass over the
    * vector (requires [[register]]). Norms are derived here with the same
    * sequential fold the kernel uses. */
  def nearestCentroid(vec: Column, cents: Seq[Array[Double]]): Column = {
    val dim  = cents.head.length
    val flat = cents.iterator.flatMap(_.iterator).toArray
    val norms = cents.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }.toArray
    call_function("graft_nearest_centroid", vec,
      org.apache.spark.sql.functions.lit(flat),
      org.apache.spark.sql.functions.lit(norms),
      org.apache.spark.sql.functions.lit(dim))
  }

  /** `m` PQ sub-codes (L2-nearest sub-centroid per subspace) of a vector
    * column against a literal subspace-major codebook, one pass over the
    * vector (requires [[register]]). `centsFlat(((j*kpq)+c)*dsub + i)`. */
  def pqEncode(vec: Column, centsFlat: Array[Double], m: Int, dsub: Int, kpq: Int): Column =
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.lit(centsFlat),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(dsub),
      org.apache.spark.sql.functions.lit(kpq))

  /** minimum Euclidean distance of a vector column to a literal center
    * set, one compiled pass (requires [[register]]). */
  def minEuclDist(vec: Column, cents: Seq[Array[Double]]): Column = {
    val dim  = cents.head.length
    val flat = cents.iterator.flatMap(_.iterator).toArray
    call_function("graft_min_eucl", vec,
      org.apache.spark.sql.functions.lit(flat),
      org.apache.spark.sql.functions.lit(dim))
  }

  /** median of all pairwise Theil–Sen slopes over collected grid arrays
    * (requires [[register]]). */
  def tsSlopeMedian(xs: Column, vs: Column): Column =
    call_function("graft_ts_slope_median", xs, vs)

  /** median of the per-point residuals `v − slope·x` over collected grid
    * arrays (requires [[register]]). */
  def tsResidMedian(xs: Column, vs: Column, slope: Column): Column =
    call_function("graft_ts_resid_median", xs, vs, slope)

  /** per-table LSH sign buckets of a vector column against literal
    * hyperplane tables, one pass over the vector (requires [[register]]). */
  def lshBuckets(vec: Column, tablePlanes: Seq[Array[Array[Double]]]): Column = {
    val k   = tablePlanes.head.length
    val dim = tablePlanes.head.head.length
    val flat: Array[Double] = tablePlanes.iterator.flatMap(_.iterator.flatMap(_.iterator)).toArray
    call_function("graft_lsh_buckets", vec,
      org.apache.spark.sql.functions.lit(flat),
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(dim))
  }
}

/**
 * `SparkSessionExtensions` entry point: enable with
 * `spark.sql.extensions=graft.functions.GraftSparkExtensions` to get the
 * native functions in every session (incl. pure SQL users).
 */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.registry.foreach { case (name, builder, info) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
