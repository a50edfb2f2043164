package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/**
 * The one Catalyst shape of every scalar graft function: the SQL function
 * `name` is the static method `method` of the kernel object `owner`. The
 * replacement is a `StaticInvoke`, so generated code calls the method
 * directly and the interpreted path calls it by reflection: graft writes no
 * codegen of its own, and each kernel's arithmetic exists once, in its
 * method. The method's arguments are `children` (the column arguments,
 * checked against `inputTypes` and never cast) followed by `constants`
 * (literals that [[GraftFunctions.registry]] evaluated and validated once,
 * when the call was resolved). A NULL column argument gives NULL unless
 * `propagateNull` is off; `returnNullable` marks a result that may be NULL
 * for a non-NULL input.
 */
case class Kernel(
    name: String,
    owner: Class[_],
    method: String,
    override val dataType: DataType,
    inputTypes: Seq[Seq[DataType]],
    children: Seq[Expression],
    constants: Seq[Literal],
    returnNullable: Boolean,
    propagateNull: Boolean)
    extends RuntimeReplaceable {

  // an array argument matches whatever its element nullability
  private def accepts(t: DataType, actual: DataType): Boolean = (t, actual) match {
    case (ArrayType(e, _), ArrayType(a, _)) => e == a
    case _                                  => t == actual
  }

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(inputTypes).zipWithIndex.collectFirst {
      case ((c, ts), i) if !ts.exists(accepts(_, c.dataType)) =>
        TypeCheckResult.TypeCheckFailure(s"$name requires ${ts.map(_.catalogString).mkString(" or ")} " +
          s"as argument ${i + 1}, got ${c.dataType.catalogString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override lazy val replacement: Expression =
    StaticInvoke(owner, dataType, method, children ++ constants,
      propagateNull = propagateNull, returnNullable = returnNullable)

  override def prettyName: String = name
  // print as the SQL call, not as the wrapper's fields
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression = copy(children = c)
}

/** The engine's native functions: the [[registry]] every graft session
  * installs through [[GraftSparkExtensions]], and the column helpers that
  * call them by name. */
object GraftFunctions {

  type Entry = (String, Seq[Expression] => Expression, ExpressionInfo)

  private val Vector  = Seq(ArrayType(FloatType), ArrayType(DoubleType))
  private val Longs   = Seq(ArrayType(LongType))
  private val Doubles = Seq(ArrayType(DoubleType))
  private val Text    = Seq(StringType)
  private val Bytes   = Seq(BinaryType)
  private val LongSet = ArrayType(LongType, containsNull = false)

  /** One scalar row: `name` calls `owner.method` with its leading column
    * arguments (one per `inputTypes` entry), then the literals `constants`
    * builds from the remaining, constant, arguments. `constants` sees the
    * column arguments too, for a vector's element type. */
  private def scalar(name: String, owner: AnyRef, method: String, dataType: DataType,
      inputTypes: Seq[Seq[DataType]], returnNullable: Boolean = false, propagateNull: Boolean = true)(
      constants: (Seq[Expression], Seq[Expression]) => Seq[Literal] = (_, _) => Nil): Entry =
    (name, { (exprs: Seq[Expression]) =>
      val (cols, consts) = exprs.splitAt(inputTypes.length)
      Kernel(name, owner.getClass, method, dataType, inputTypes, cols, constants(cols, consts),
        returnNullable, propagateNull)
    }, new ExpressionInfo(classOf[Kernel].getName, name))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def ints(es: Seq[Expression]): Seq[Literal] = es.map(e => Literal(int(e)))
  private def doubles(e: Expression): Array[Double] = e.eval().asInstanceOf[ArrayData].toDoubleArray()
  private def strings(e: Expression): Array[UTF8String] =
    e.eval().asInstanceOf[ArrayData].toObjectArray(StringType).map(_.asInstanceOf[UTF8String])
  // arrays ride as object references: never re-marshalled per row, never
  // printed into generated source
  private def ref(a: AnyRef): Literal = Literal.fromObject(a)
  // a vector kernel reads float or double elements; the vector is never cast
  private def isFloat(e: Expression): Literal =
    Literal(e.dataType match { case ArrayType(FloatType, _) => true; case _ => false })

  private def bpeMerges(k: Seq[Expression]): Seq[Literal] = {
    val (lhs, rhs) = (strings(k(0)), strings(k(1)))
    require(lhs.length == rhs.length, "merge lhs/rhs tables must have equal length")
    Seq(lhs, rhs, lhs.zip(rhs).map { case (x, y) => UTF8String.concat(x, y) }).map(ref)
  }

  /** A container decoder: the payload, then its constant caps, then the
    * fixed `probes`; a NULL payload answers `format = 'raw'`, not NULL. */
  private def decoder(name: String, method: String, dataType: StructType, probes: Int*): Entry =
    scalar(name, ContainerKernels, method, dataType, Seq(Bytes), propagateNull = false)(
      (_, k) => ints(k) ++ probes.map(Literal(_)))

  val registry: Seq[Entry] = Seq(
    scalar("graft_dot", ArrayKernels, "dot", DoubleType, Seq(Vector, Vector))((c, _) => c.map(isFloat)),
    scalar("graft_fold_sum", ArrayKernels, "foldSum", DoubleType, Seq(Doubles))(),
    scalar("graft_sorted_intersect", ArrayKernels, "sortedIntersect", LongType, Seq(Longs, Longs))(),
    scalar("graft_minhash", PortableHash, "minhash", LongSet, Seq(Longs)) { (_, k) =>
      val perms = PortableHash.minhashPerms(int(k(0)))
      Seq(ref(perms.map(_._1)), ref(perms.map(_._2)))
    },
    scalar("graft_simhash", PortableHash, "simHash128", LongSet, Seq(Longs))(),
    scalar("graft_shingles", PortableHash, "shingleSet", LongSet, Seq(Text))((_, k) => ints(k)),
    scalar("graft_word_hashes", PortableHash, "wordHashSet", LongSet, Seq(Text))(),
    scalar("graft_winnow", PortableHash, "winnow", LongSet, Seq(Text))((_, k) => ints(k)),
    scalar("graft_winnow_fps", PortableHash, "winnowFpSet", LongSet, Seq(Text))((_, k) => ints(k)),
    scalar("graft_cdc_chunks", PortableHash, "cdcChunkList", LongSet, Seq(Text)) { (_, k) =>
      require(int(k(0)) >= 2, "divisor must be >= 2")
      ints(k)
    },
    // a NULL string hashes to `seed`, as the HOF form does
    scalar("graft_poly_hash", PortableHash, "polyHash", LongType, Seq(Text), propagateNull = false) { (_, k) =>
      require(k.size == 2 && k.forall(e => e.foldable && e.eval() != null),
        "graft_poly_hash requires non-null constant base and seed")
      k.map(e => Literal(e.eval().asInstanceOf[Number].longValue()))
    },
    scalar("graft_lsh_buckets", LshKernel, "buckets", LongSet, Seq(Vector)) { (c, k) =>
      val (planes, kk, dim) = (doubles(k(0)), int(k(1)), int(k(2)))
      require(kk >= 1 && dim >= 1 && planes.length % (kk * dim) == 0,
        s"planesFlat length ${planes.length} must be a multiple of k*dim = ${kk * dim}")
      Seq(isFloat(c(0)), ref(planes), Literal(kk), Literal(dim))
    },
    scalar("graft_nearest_centroid", CentroidKernel, "nearest", IntegerType, Seq(Vector)) { (c, k) =>
      val (cents, norms, dim) = (doubles(k(0)), doubles(k(1)), int(k(2)))
      require(dim >= 1 && cents.length == norms.length * dim,
        s"centsFlat length ${cents.length} must equal norms.length*dim = ${norms.length * dim}")
      Seq(isFloat(c(0)), ref(cents), ref(norms), Literal(dim))
    },
    scalar("graft_min_eucl", MinEuclKernel, "minDist", DoubleType, Seq(Vector), returnNullable = true) { (c, k) =>
      val (cents, dim) = (doubles(k(0)), int(k(1)))
      require(dim >= 1 && cents.length % dim == 0,
        s"centsFlat length ${cents.length} must be a multiple of dim = $dim")
      Seq(isFloat(c(0)), ref(cents), Literal(dim))
    },
    scalar("graft_pq_encode", PqKernel, "encode", ArrayType(IntegerType, containsNull = false), Seq(Vector)) {
      (c, k) =>
        val (cents, m, dsub, kpq) = (doubles(k(0)), int(k(1)), int(k(2)), int(k(3)))
        require(m >= 1 && dsub >= 1 && kpq >= 1 && cents.length == m * kpq * dsub,
          s"centsFlat length ${cents.length} must equal m*kpq*dsub = ${m * kpq * dsub}")
        Seq(isFloat(c(0)), ref(cents), Literal(m), Literal(dsub), Literal(kpq))
    },
    scalar("graft_rms_windows", ByteWindows, "rmsWindows", ArrayType(DoubleType, containsNull = false), Seq(Bytes)) {
      (_, k) =>
        require(int(k(0)) >= 1, "window must be >= 1")
        ints(k)
    },
    scalar("graft_blockhash", ByteWindows, "blockhash", LongType, Seq(Bytes)) { (_, k) =>
      val blocks = int(k(0))
      require(blocks >= 1 && blocks <= 62, "blocks must be in [1, 62]")
      Seq(Literal(blocks))
    },
    scalar("graft_ts_slope_median", TheilSenMedians, "slopesMedian", DoubleType, Seq(Longs, Doubles))(),
    scalar("graft_ts_resid_median", TheilSenMedians, "residMedian", DoubleType,
      Seq(Longs, Doubles, Seq(DoubleType)))(),
    // the query norm rides boxed, as a reference, like the arrays
    scalar("graft_int8_qsim", Int8QSimKernel, "qsim", DoubleType, Seq(Vector), returnNullable = true) { (c, k) =>
      val zq = doubles(k(0))
      Seq(isFloat(c(0)), ref(zq), ref(java.lang.Double.valueOf(Int8QSimKernel.norm(zq))))
    },
    scalar("graft_bpe_apply", BpeReplayKernel, "applyArray", ArrayType(StringType, containsNull = false),
      Seq(Text), returnNullable = true)((_, k) => bpeMerges(k)),
    scalar("graft_bpe_pairs", BpeReplayKernel, "pairsArray",
      ArrayType(StructType(Seq(StructField("l", StringType, nullable = false),
        StructField("r", StringType, nullable = false))), containsNull = false),
      Seq(Text), returnNullable = true)((_, k) => bpeMerges(k)),
    scalar("graft_unit_snap", SnapKernels, "unitSnap", ArrayType(LongType, containsNull = true), Seq(Vector),
      returnNullable = true)((c, _) => Seq(isFloat(c(0)))),
    scalar("graft_char_bigrams", SnapKernels, "charBigrams", ArrayType(StringType, containsNull = false),
      Seq(Text), returnNullable = true)(),
    decoder("graft_container_meta", "containerMeta", ContainerKernels.ContainerMetaType),
    decoder("graft_av_container_meta", "avContainerMeta", ContainerKernels.AvMetaType),
    decoder("graft_gif_frames", "gifFrameCount", ContainerKernels.GifFramesType),
    decoder("graft_tiff_meta", "tiffMeta", ContainerKernels.TiffMetaType),
    decoder("graft_tiff_exif_meta", "tiffExifMeta", ContainerKernels.TiffExifType),
    decoder("graft_png_chunks", "pngChunkWalk", ContainerKernels.PngChunksType, ContainerKernels.NameProbe),
    decoder("graft_zip_directory", "zipCentralDirectory", ContainerKernels.ZipDirType,
      ContainerKernels.NameProbe, ContainerKernels.EocdScan),
    decoder("graft_tar_headers", "tarHeaderWalk", ContainerKernels.TarHeadersType, ContainerKernels.NameProbe),
    // the aggregates keep their own expressions
    ("graft_collect_capped", (e: Seq[Expression]) => CappedCollectSorted(e.head, int(e(1))),
      new ExpressionInfo(classOf[CappedCollectSorted].getName, "graft_collect_capped")),
    ("graft_topk_sum", (e: Seq[Expression]) => TopKSum(e.head, int(e(1))),
      new ExpressionInfo(classOf[TopKSum].getName, "graft_topk_sum")),
    ("graft_sole_latest", (e: Seq[Expression]) => SoleLatest(e.head, e(1)),
      new ExpressionInfo(classOf[SoleLatest].getName, "graft_sole_latest"))
  )

  /** Column-level dot product. */
  def dotProduct(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Common-element count of two sorted distinct long arrays. */
  def sortedIntersect(a: Column, b: Column): Column = call_function("graft_sorted_intersect", a, b)

  /** Ascending-sorted sequential sum of a double array — the compiled
    * portable fold. */
  def foldSum(xs: Column): Column = call_function("graft_fold_sum", xs)

  /** portable polynomial hash of a string column, one compiled call per
    * row; NULL gives `seed`. */
  def polyHash(s: Column, base: Long, seed: Long): Column =
    call_function("graft_poly_hash", s,
      org.apache.spark.sql.functions.lit(base), org.apache.spark.sql.functions.lit(seed))

  /** MinHash signature of a hashed-shingle array. */
  def minhash(shingleHashes: Column, numHashes: Int): Column =
    call_function("graft_minhash", shingleHashes, org.apache.spark.sql.functions.lit(numHashes))

  /** Bounded sorted collect: the group's bigint ids as a sorted array, or
    * NULL when the group exceeds `cap` elements. */
  def collectCapped(id: Column, cap: Int): Column =
    call_function("graft_collect_capped", id, org.apache.spark.sql.functions.lit(cap))

  /** `array(sum, count)` of the group's `k` largest bigint values. */
  def topKSum(v: Column, k: Int): Column =
    call_function("graft_topk_sum", v, org.apache.spark.sql.functions.lit(k))

  /** int8-quantized cosine of a raw vector column against a PRE-QUANTIZED
    * query array, one compiled pass. */
  def int8QSim(vec: Column, zq: Array[Double]): Column =
    call_function("graft_int8_qsim", vec, org.apache.spark.sql.functions.lit(zq))

  /** a word's BPE token array after replaying `merges` in learned order,
    * one compiled pass. */
  def bpeApply(word: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_apply", word,
      org.apache.spark.sql.functions.lit(merges.map(_._1).toArray),
      org.apache.spark.sql.functions.lit(merges.map(_._2).toArray))

  /** adjacent `(l, r)` token pairs of the replayed tokenization — one BPE
    * training round's explode input. */
  def bpePairs(word: Column, merges: Seq[(String, String)]): Column =
    call_function("graft_bpe_pairs", word,
      org.apache.spark.sql.functions.lit(merges.map(_._1).toArray),
      org.apache.spark.sql.functions.lit(merges.map(_._2).toArray))

  /** unit-normalized 1e-6-lattice snap of a vector column, one compiled
    * pass. */
  def unitSnap(vec: Column): Column = call_function("graft_unit_snap", vec)

  /** overlapping 2-character substrings of a ≥2-char word, one compiled
    * pass. */
  def charBigrams(word: Column): Column = call_function("graft_char_bigrams", word)

  /** one-pass `struct(ns, last, nl, key)` sole-latest fold: row count,
    * max(ord), rows at the max, smallest key at the max. */
  def soleLatest(ord: Column, key: Column): Column =
    call_function("graft_sole_latest", ord, key)

  /** 128-bit SimHash signature of a word-hash array, packed as two
    * non-negative longs `[lo, hi]`. */
  def simhash(wordHashes: Column): Column = call_function("graft_simhash", wordHashes)

  /** content-defined chunk list of a text column as packed
    * `n_words·2^32+chunk_hash` longs in chunk order. */
  def cdcChunks(text: Column, divisor: Int): Column =
    call_function("graft_cdc_chunks", text,
      org.apache.spark.sql.functions.lit(divisor))

  /** per-`window` RMS energy array of a binary payload read as unsigned
    * PCM8 around the 128 midpoint. */
  def rmsWindows(payload: Column, window: Int): Column =
    call_function("graft_rms_windows", payload,
      org.apache.spark.sql.functions.lit(window))

  /** blockhash mean-vs-global-mean bit signature of a binary payload. */
  def blockhashSig(payload: Column, blocks: Int): Column =
    call_function("graft_blockhash", payload,
      org.apache.spark.sql.functions.lit(blocks))

  /** sorted distinct k-word shingle hashes of a text column. */
  def shingles(text: Column, k: Int): Column =
    call_function("graft_shingles", text, org.apache.spark.sql.functions.lit(k))

  /** sorted distinct wide word hashes of a text column. */
  def wordHashes(text: Column): Column = call_function("graft_word_hashes", text)

  /** winnowing fingerprints of a text column as packed `pos·2^32+fp`
    * longs. */
  def winnow(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))

  /** sorted DISTINCT winnowing fingerprint values of a text column. */
  def winnowFps(text: Column, k: Int, w: Int): Column =
    call_function("graft_winnow_fps", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(w))

  /** 0-based index of the cosine-nearest centroid, one pass over the
    * vector. Norms are derived here with the same
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
    * vector. `centsFlat(((j*kpq)+c)*dsub + i)`. */
  def pqEncode(vec: Column, centsFlat: Array[Double], m: Int, dsub: Int, kpq: Int): Column =
    call_function("graft_pq_encode", vec,
      org.apache.spark.sql.functions.lit(centsFlat),
      org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(dsub),
      org.apache.spark.sql.functions.lit(kpq))

  /** minimum Euclidean distance of a vector column to a literal center
    * set, one compiled pass. */
  def minEuclDist(vec: Column, cents: Seq[Array[Double]]): Column = {
    val dim  = cents.head.length
    val flat = cents.iterator.flatMap(_.iterator).toArray
    call_function("graft_min_eucl", vec,
      org.apache.spark.sql.functions.lit(flat),
      org.apache.spark.sql.functions.lit(dim))
  }

  /** median of all pairwise Theil–Sen slopes over collected grid arrays. */
  def tsSlopeMedian(xs: Column, vs: Column): Column =
    call_function("graft_ts_slope_median", xs, vs)

  /** median of the per-point residuals `v − slope·x` over collected grid
    * arrays. */
  def tsResidMedian(xs: Column, vs: Column, slope: Column): Column =
    call_function("graft_ts_resid_median", xs, vs, slope)

  /** per-table LSH sign buckets of a vector column against literal
    * hyperplane tables, one pass over the vector. */
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
 * `SparkSessionExtensions` entry point, and the one place graft functions
 * are installed: `GraftSession.builder` sets
 * `spark.sql.extensions=graft.functions.GraftSparkExtensions`, so every
 * graft session, each `newSession()` of it and pure SQL users get the
 * [[GraftFunctions.registry]] functions.
 */
class GraftSparkExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.registry.foreach { case (name, builder, info) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}
