package graft.pipeline

import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GraftFunctions, PortableHash}

/**
 * Deduplication operators for training-data pipelines, each designed for
 * the 100 TB path:
 *
 *  - exact: hash-groupBy on a digest (shuffles 16-byte keys, never the text)
 *  - n-gram Jaccard: candidate pairs restricted by a cheap blocking key,
 *    verified with exact set arithmetic
 *  - MinHash+LSH: shingle → signature → band buckets → bucket join;
 *    only near-identical docs ever meet in a shuffle
 *  - SimHash: 128-bit sign-sum signature (two packed longs), banded
 *    4×32 bits for Hamming-radius lookup
 *
 * All column-only (whole-stage codegen, no UDFs). Bucket joins cap bucket
 * width to bound worst-case skew (a degenerate key at 100 TB would
 * otherwise produce a quadratic bucket).
 */
object Dedup {

  /**
   * Exact dedup: group by content digest, keep the smallest id as the
   * representative. Shuffles md5 digests instead of full documents —
   * at 100 TB the shuffle payload is ~32 bytes/doc.
   */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  // ---- shared shingling --------------------------------------------------

  /** word k-shingles as strings (whole text when shorter than k words). */
  def shingles(text: Column, k: Int): Column = {
    val w = split(text, " ")
    when(size(w) >= k,
      transform(sequence(lit(0), size(w) - k), i => concat_ws(" ", slice(w, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", w)))
  }

  /**
   * Portable polynomial word hash: fold over code points of
   * `(acc*base + cp) mod (2^31-1)`. Plain arithmetic both Spark and the
   * DuckDB oracle can evaluate bit-for-bit ([[graft.OracleGen.wordPolySql]])
   * — unlike xxhash64, which made the signature operators unverifiable.
   * HOF reference form; operators run the value-identical native kernel
   * [[graft.functions.PortableHash.wordPoly]].
   */
  def polyHash(s: Column, base: Long, seed: Long): Column =
    when(length(s) > 0,
      aggregate(sequence(lit(1), length(s)), lit(seed),
        (acc, i) => pmod(acc * lit(base) + ascii(s.substr(i, lit(1))), lit(PortableHashP))))
      .otherwise(lit(seed))

  private val PortableHashP = graft.functions.PortableHash.P31

  /**
   * Distinct shingle-hash set, SORTED ascending. Each word is hashed once
   * (portable polynomial, 31-bit) and k-windows combine word hashes
   * arithmetically — no per-shingle string building; window sums stay
   * inside a long under ANSI mode (Spark 4 throws on overflow). Sorted so
   * the native merge-intersect can verify pairs; longs shuffle instead of
   * strings. HOF reference form of [[graft.functions.PortableHash.shingleSet]] (the
   * native kernel the operators use) — a spec asserts they are
   * value-identical.
   */
  def shingleSet(text: Column, k: Int): Column = {
    val w  = split(text, " ")
    val wh = transform(w, polyHash(_, 131L, 7L))
    def windowHash(i: Column): Column =
      (0 until k).map(j => element_at(wh, i + j + 1) * lit(1000003L * (j + 1))).reduce(_ + _)
    val hashes = when(size(w) >= k, transform(sequence(lit(0), size(w) - k), windowHash(_)))
      .otherwise(array(aggregate(wh, lit(0L), (acc, h) => pmod(acc * lit(31L) + h, lit(1L << 55)))))
    sort_array(array_distinct(hashes))
  }

  /** exact Jaccard similarity of two pre-hashed shingle set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** allocation-free Jaccard over SORTED distinct arrays via the native
    * two-pointer intersect (requires GraftFunctions.register). */
  private def fastJaccard(a: Column, b: Column): Column = {
    val inter = GraftFunctions.sortedIntersect(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  // ---- n-gram Jaccard dedup ----------------------------------------------

  /**
   * Word-bigram Jaccard near-dup pairs within a blocking key (e.g. source):
   * candidates = same block, verified by exact distinct-bigram Jaccard.
   * The blocking key bounds the join fan-out; at scale, block on a cheap
   * signature (e.g. the minimum shingle hash) rather than metadata.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      blockCols: Seq[String],
      threshold: Double,
      k: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // the composite blocking key bounds the quadratic fan-out: tighter
    // blocks (more columns) trade recall across blocks for join size;
    // for a metadata-free scale path see [[ngramJaccardPairsBanded]]
    val prepped = df.select(
      col(idCol).as("id"),
      // "\u0001" separator (written escaped — it is invisible as a raw
      // literal) so block values cannot collide across column boundaries
      // (("ab","c") vs ("a","bc")), matching the oracle's per-column
      // equality semantics
      concat_ws("\u0001", blockCols.map(col): _*).as("block"),
      GraftFunctions.shingles(col(textCol), k).as("sh")
    )
    val a = prepped.alias("a")
    val b = prepped.alias("b")
    a.join(b, col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(
        col("a.id").as("id_a"),
        col("b.id").as("id_b"),
        round(fastJaccard(col("a.sh"), col("b.sh")), 4).as("jaccard")
      )
      .filter(col("jaccard") >= threshold)
  }

  /**
   * n-gram Jaccard with SIGNATURE-based blocking — the 100 TB path when no
   * trustworthy metadata blocking key exists: candidates come from banded
   * minhash buckets over the same k-word shingles, verification is the same
   * exact Jaccard. Sub-quadratic: only bucket-mates meet in a shuffle, and
   * `maxBucket` caps degenerate buckets. Recall for a pair with true
   * Jaccard J is `1-(1-J^rows)^bands` — size rows/bands to the threshold
   * (defaults suit near-dup sweeps, J ≳ 0.5; a low-threshold sweep over a
   * tiny-vocabulary corpus needs metadata blocking instead, because
   * random-pair J stops being negligible and the buckets degenerate).
   */
  def ngramJaccardPairsBanded(
      df: DataFrame,
      threshold: Double,
      k: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    minhashLshPairs(df, threshold, numHashes, bands, k, maxBucket, textCol, idCol)

  // ---- MinHash + LSH -----------------------------------------------------

  private val MhPrime = 2147483647L // 2^31 - 1: keeps a*h + b inside a long

  /** minhash signature (array of numHashes longs) over a hashed-shingle-set
    * column — portable HOF form; the LSH pipeline uses the value-identical
    * native [[graft.functions.PortableHash.minhash]] kernel. */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column = {
    val perms = PortableHash.minhashPerms(numHashes)
    val base  = transform(shingleHashes, h => pmod(h, lit(MhPrime)))
    array(perms.map { case (a, b) =>
      array_min(transform(base, h => pmod(h * lit(a) + lit(b), lit(MhPrime))))
    }.toIndexedSeq: _*)
  }

  /**
   * MinHash+LSH near-dup pairs: signature banded into `bands`; docs sharing
   * any band bucket become candidates; candidates verified with exact
   * shingle-set Jaccard. `maxBucket` drops degenerate buckets (boilerplate
   * explosion guard — logged nowhere, but deterministic).
   */
  def minhashLshPairs(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    // signatures and shingle sets are reused on both sides of the bucket
    // join and in the verify — materialize once, with lineage truncated so
    // the blocks are reclaimed by the ContextCleaner once the result is
    // dropped (Dataset.cache would pin them in the CacheManager for the
    // session lifetime; at 100 TB: write the signature table out instead)
    val prepped = df
      .select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhash(col("sh"), numHashes))
      .pinned

    // dedupe candidate id pairs FIRST (bare longs), join shingles back after
    val candidates = lshCandidatePairs(prepped, bands, rows, maxBucket)
    val sh = prepped.select(col("id"), col("sh"))
    candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(fastJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * [[minhashLshPairs]] materialized for SHARING across many consumers in
   * one session: identical algebra and output, but the result persists with
   * FULL LINEAGE (`Dataset.persist`, not `localCheckpoint`), so downstream
   * operators' standard on-entry `Checkpoints.free(pairs)` is a no-op — the
   * same discipline as [[graft.operators.Star.coPurchaseEdgesShared]]. The
   * signature relation persists only for the one materialization and is
   * released before returning. At 100 TB the equivalent is writing the
   * mined pair table out once and pointing every graph/report consumer at
   * it; release with `pairs.unpersist()` when the session retires it.
   */
  def minhashLshPairsShared(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    val prepped = df
      .select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhash(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = lshCandidatePairs(prepped, bands, rows, maxBucket)
    val sh = prepped.select(col("id"), col("sh"))
    val out = candidates
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(fastJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once; every sharer scans the cached relation
    prepped.unpersist(false) // lineage intact: a lost block just recomputes
    out
  }

  /**
   * The OPEN-THRESHOLD scored candidate relation, materialized for SHARING:
   * every LSH candidate pair with its signature-estimated AND exact
   * verified Jaccard — the superset every minhash-family readout derives
   * from. `filter(jaccard >= t).select(id_a, id_b, jaccard)` IS
   * [[minhashLshPairs]] at threshold `t` (same 4-dp snap, same null-drop
   * semantics); [[minhashErrorReportFrom]] and [[similarityHistogramFrom]]
   * are projections/aggregations of the same rows. One mining pass serves
   * the whole family; same persist discipline as [[minhashLshPairsShared]].
   */
  def minhashScoredCandidatesShared(
      df: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    val prepped = df
      .select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhash(col("sh"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = lshCandidatePairs(prepped, bands, rows, maxBucket)
    val side = prepped.select(col("id"), col("sh"), col("sig"))
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes
    val out = candidates
      .join(side.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a")), "id_a")
      .join(side.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(est, 4).as("est_jaccard"),
        round(fastJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once; every sharer scans the cached relation
    prepped.unpersist(false) // lineage intact: a lost block just recomputes
    out
  }

  /** [[minhashErrorReport]] over the PREBUILT scored candidate relation
    * ([[minhashScoredCandidatesShared]]) — no re-mining, identical rows. */
  def minhashErrorReportFrom(scored: DataFrame): DataFrame =
    scored.withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))

  /** [[similarityHistogram]] over the PREBUILT scored candidate relation —
    * the threshold-0 filter replays [[minhashLshPairs]]'s null-drop before
    * binning, so rows match the mining path exactly. */
  def similarityHistogramFrom(scored: DataFrame): DataFrame =
    scored.filter(col("jaccard") >= 0.0)
      .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long").as("sim_bin"))
      .agg(count(lit(1)).as("n_pairs"))

  /** All co-bucket `(id_a < id_b)` pairs of a bucketed `(bucketCols..., id)`
    * relation, ONE ROW PER SHARED BUCKET: the single-aggregation form of the
    * count-buckets → semi-join-small → self-join chain every LSH miner here
    * used to run. Each bucket's ids collect into a sorted array via the
    * bounded `graft_collect_capped` kernel (buffer clipped at `maxBucket+1`,
    * so a degenerate boilerplate bucket costs O(maxBucket) memory and drops
    * via IS NOT NULL — the exact cut the old count pass made), and pairs
    * enumerate IN-ROW from the sorted array (`posexplode` + `slice`, both
    * codegen'd builtins): sorted ids make position `i < j` ⇔ `id_a < id_b`,
    * the old join predicate. One Exchange (the bucket groupBy) replaces
    * three (count, semi-join, self-join), and only `(bucket, id)` ever
    * shuffles. Inputs must be DISTINCT per (bucket, id) — every caller's
    * relation is, by construction. */
  private[graft] def cappedBucketPairs(
      rel: DataFrame, bucketCols: Seq[String], maxBucket: Int): DataFrame = {
    GraftFunctions.register(rel.sparkSession)
    rel.groupBy(bucketCols.map(col): _*)
      .agg(GraftFunctions.collectCapped(col("id"), maxBucket).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
      .select(posexplode(col("__ids")).as(Seq("__i", "id_a")), col("__ids"))
      .select(col("id_a"),
        explode(slice(col("__ids"), col("__i") + lit(2),
          size(col("__ids")) - col("__i") - lit(1))).as("id_b"))
  }

  /** Distinct candidate id pairs `(id_a, id_b)`, `id_a < id_b`, of a
    * signature relation `(id, sig, ...)`: band the signatures, cap
    * pathological buckets, enumerate bucket-mate pairs ([[cappedBucketPairs]]
    * — one bounded aggregation, no self-join). The banded relation carries
    * ONLY `(id, band, bucket)` — payloads never ride through the explode or
    * the candidate shuffle. Shared by every LSH-mined pair family (Jaccard,
    * edit-distance). */
  private def lshCandidatePairs(
      sigRel: DataFrame, bands: Int, rows: Int, maxBucket: Int): DataFrame =
    cappedBucketPairs(bandBuckets(sigRel, bands, rows), Seq("band", "bucket"), maxBucket)
      .distinct()

  /**
   * Edit-distance-verified near-dup pairs: LSH candidate mining (shingle →
   * minhash → capped band buckets — the same sub-quadratic shape as
   * [[minhashLshPairs]]) followed by an exact `levenshtein` verify on the
   * raw texts. The classic "same doc, few edits" detector: character-level
   * edits barely move word-shingle Jaccard, so high-similarity pairs
   * survive banding, and the exact distance runs only on the mined
   * candidates (bare id pairs; texts join back after the distinct). The
   * verify uses the THRESHOLDED `levenshtein(a, b, maxDist)` — a banded
   * O(len·maxDist) DP that abandons a pair the moment its distance
   * provably exceeds the budget and returns -1 — so `dist >= 0` is
   * exactly the old `levenshtein(a, b) <= maxDist` filter (within the
   * budget the thresholded form returns the same exact distance; nulls
   * drop under both predicates). Emits `(id_a, id_b, edit_dist, sim)`
   * with `sim = 1 - dist / max(len_a, len_b)` rounded to 4 dp.
   */
  def editDistancePairs(
      df: DataFrame,
      maxDist: Int,
      numHashes: Int = 32,
      bands: Int = 8,
      shingleK: Int = 2,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    val prepped = df
      .select(col(idCol).as("id"), col(textCol).as("txt"),
        GraftFunctions.minhash(GraftFunctions.shingles(col(textCol), shingleK), numHashes).as("sig"))
      .pinned
    val candidates = lshCandidatePairs(prepped.select(col("id"), col("sig")), bands, rows, maxBucket)
    val t   = prepped.select(col("id"), col("txt"))
    candidates
      .join(t.select(col("id").as("id_a"), col("txt").as("t_a")), "id_a")
      .join(t.select(col("id").as("id_b"), col("txt").as("t_b")), "id_b")
      .withColumn("__d", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("__d") >= 0)
      .select(col("id_a"), col("id_b"),
        col("__d").cast("long").as("edit_dist"),
        round(lit(1.0) - col("__d").cast("double") /
          greatest(length(col("t_a")), length(col("t_b"))).cast("double"), 4).as("sim"))
  }

  // ---- content-defined chunking ------------------------------------------

  /**
   * CONTENT-DEFINED CHUNKS: split each document at positions where the
   * word's rolling hash ≡ 0 (mod `divisor`) — boundaries move WITH the
   * content, so an insertion early in a document shifts every fixed-window
   * chunk but leaves all content-defined chunks after the edit identical
   * (the rsync/backup-dedup principle, applied at word granularity).
   * Expected chunk length ≈ `divisor` words. Emits `(doc_id, chunk_idx,
   * chunk_hash, n_words)`; the chunk hash is a polynomial fold of the
   * span's word hashes. One generator projection, zero shuffles — the
   * chunking itself is ONE native pass per document
   * ([[graft.functions.PortableHash.cdcChunkList]], packed
   * `n_words·2^32+chunk_hash` longs); the HOF reference form
   * [[cdcChunksHof]] states the same semantics declaratively and a spec
   * asserts row-identity (the [[graft.functions.PortableHash.shingleSet]] /
   * winnow discipline applied to the chunker — its interpreted per-word
   * transform + per-chunk slice/aggregate lambdas were the d_cdc floor).
   */
  def cdcChunks(
      df: DataFrame,
      divisor: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2")
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"),
        posexplode(GraftFunctions.cdcChunks(col(textCol), divisor))
          .as(Seq("chunk_idx", "__p")))
      .select(
        col("id").as(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("__p").bitwiseAND(lit(0xFFFFFFFFL)).as("chunk_hash"),
        shiftright(col("__p"), 32).as("n_words"))
  }

  /** [[cdcChunks]]' declarative HOF reference form — same rows, stated in
    * portable builtins (the spec's ground truth for the native kernel). */
  def cdcChunksHof(
      df: DataFrame,
      divisor: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(divisor >= 2, "divisor must be >= 2")
    val wh = transform(split(col(textCol), " "), w => polyHash(w, 131L, 7L))
    val n  = size(col("__wh"))
    df.select(col(idCol).as("id"), wh.as("__wh"))
      .withColumn("__ends",
        array_sort(array_distinct(concat(
          filter(sequence(lit(1), n),
            i => pmod(element_at(col("__wh"), i), lit(divisor.toLong)) === 0),
          array(n)))))
      .select(col("id"), col("__wh"),
        posexplode(expr(
          """transform(__ends, (e, j) -> struct(
            |  CASE WHEN j = 0 THEN 1 ELSE element_at(__ends, j) + 1 END AS s, e AS e))"""
            .stripMargin)).as(Seq("chunk_idx", "se")))
      .select(
        col("id").as(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        expr(s"aggregate(slice(__wh, se.s, se.e - se.s + 1), CAST(7 AS BIGINT), " +
          s"(a, b) -> pmod(a * 131 + b, ${PortableHashP}L))").as("chunk_hash"),
        (col("se.e") - col("se.s") + 1).cast("long").as("n_words"))
  }

  /**
   * PARTIAL-OVERLAP PAIRS over content-defined chunks: documents sharing
   * `minShared`+ chunks of `minWords`+ words. Catches CONTAINMENT and
   * splice reuse (a paragraph lifted into an otherwise-different document)
   * that whole-document Jaccard dilutes below any practical threshold.
   * Same scale shape as the LSH miners: per-doc DISTINCT bare
   * `(id, chunk_hash)` pairs, degenerate buckets capped BEFORE the
   * self-join, shuffle carries ids and 8-byte hashes only.
   */
  def cdcOverlapPairs(
      df: DataFrame,
      divisor: Int = 8,
      minWords: Int = 3,
      minShared: Long = 2L,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val chunks = cdcChunks(df, divisor, textCol, idCol)
      .filter(col("n_words") >= minWords)
      .select(col(idCol).as("id"), col("chunk_hash"))
      .distinct()
    cappedBucketPairs(chunks, Seq("chunk_hash"), maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /**
   * WINNOWING FINGERPRINTS (Schleimer, Wilkerson & Aiken 2003,
   * "Winnowing: local algorithms for document fingerprinting" — the MOSS
   * selection rule): hash every char `k`-gram with the portable
   * polynomial, then each window of `w` consecutive gram positions
   * records its MINIMUM hash, rightmost position on ties. The guarantee
   * fixed-stride sampling can't give: any substring match of at least
   * `w + k − 1` chars shares at least one fingerprint, at an expected
   * density of only 2/(w+1) positions — and unlike whole-document
   * MinHash, a single lifted paragraph still collides (the span-level
   * complement to [[cdcOverlapPairs]]' word-chunk containment).
   *
   * Emits `(idCol, pos, fp)` — one row per SELECTED gram position.
   * Scale shape: ONE native O(len) pass per document (rolling hash +
   * monotonic-deque window minimum, [[graft.functions.PortableHash
   * .winnow]]) emits packed `pos·2^32+fp` longs; the explode/unpack is
   * the only relational work and the text never shuffles. The HOF
   * reference form [[winnowFingerprintsHof]] (interpreted nested folds +
   * a per-doc window pass) states the same semantics declaratively;
   * a spec asserts value-identity.
   */
  def winnowFingerprints(
      df: DataFrame,
      k: Int = 8,
      w: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k >= 2 && k <= 32, "gram size k must be in [2,32]")
    require(w >= 2 && w <= 64, "window w must be in [2,64]")
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol), explode(GraftFunctions.winnow(col(textCol), k, w)).as("__pk"))
      .select(col(idCol), shiftright(col("__pk"), 32).as("pos"),
        col("__pk").bitwiseAND(lit(0xFFFFFFFFL)).as("fp"))
  }

  /** HOF reference form of [[winnowFingerprints]] — the declarative
    * spelling of the same selection (per-position polynomial fold, window
    * min-struct with negated-position rightmost ties), kept for the
    * kernel-parity spec. BMP-only: `split(text, "")` separates UTF-16
    * units, so astral chars diverge from the code-point kernel/oracle. */
  private[graft] def winnowFingerprintsHof(
      df: DataFrame,
      k: Int,
      w: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val codes = transform(split(col(textCol), ""), c => ascii(c))
    // gram hash = the [[polyHash]] fold over the k char codes at p —
    // seed 7, base 31, mod 2^31−1, mirrored literally in the oracle
    val hashes = when(col("__g") >= 1,
      transform(sequence(lit(1), col("__g")),
        p => aggregate(sequence(p, p + (k - 1)), lit(7L),
          (acc, i) => pmod(acc * lit(31L) + element_at(col("__cs"), i), lit(PortableHashP)))))
      .otherwise(array().cast("array<bigint>"))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    df.select(col(idCol).as("id"), codes.as("__cs"),
        // gram count from length(), NOT size(codes): regex split("") may
        // emit a trailing empty element (code 0) that must never gram
        (length(col(textCol)) - (k - 1)).as("__g"))
      .select(col("id"), col("__g"), posexplode(hashes).as(Seq("__p0", "__fp")))
      .select(col("id"), col("__g"), (col("__p0") + 1).cast("long").as("pos"), col("__fp"))
      // window start s = pos: min struct picks (smallest fp, then the
      // LARGEST pos — negated — exactly the rightmost-tie rule); only
      // COMPLETE windows select (a short tail window is not a window)
      .withColumn("__pick", min(struct(col("__fp").as("f"), (-col("pos")).as("np"))).over(win))
      .filter(col("pos") <= col("__g") - (w - 1))
      .select(col("id").as(idCol), (-col("__pick.np")).as("pos"), col("__pick.f").as("fp"))
      .distinct()
  }

  /**
   * Document pairs sharing `minShared`+ DISTINCT winnowing fingerprints —
   * the MOSS match surface: catches splice reuse and containment at
   * character granularity, with the [[winnowFingerprints]] guarantee that
   * any ≥ `w + k − 1`-char common substring contributes. Same scale shape
   * as every LSH miner here: bare `(id, fp)` rows, degenerate fingerprint
   * buckets (boilerplate grams everywhere) capped BEFORE the self-join,
   * the shuffle carries ids and 8-byte hashes only.
   */
  def winnowPairs(
      df: DataFrame,
      k: Int = 8,
      w: Int = 4,
      minShared: Long = 2L,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k >= 2 && k <= 32, "gram size k must be in [2,32]")
    require(w >= 2 && w <= 64, "window w must be in [2,64]")
    // per-doc dedup happens INSIDE the kernel (sorted-distinct fp values),
    // so the explode emits distinct (id, fp) rows directly — no relational
    // DISTINCT shuffle over the corpus-sized positional picks
    GraftFunctions.register(df.sparkSession)
    val fps = df.select(col(idCol).as("id"),
      explode(GraftFunctions.winnowFps(col(textCol), k, w)).as("fp"))
    winnowPairsFrom(fps, minShared, maxBucket)
  }

  /**
   * The corpus's DISTINCT `(id, fp)` winnowing fingerprint relation,
   * materialized for SHARING across consumers in one session: one native
   * fingerprint pass serves [[winnowPairsOn]] AND [[winnowContainmentOn]]
   * (before, each gate re-ran the per-character winnow kernel over the
   * whole corpus). Full-lineage persist, same discipline as
   * [[minhashLshPairsShared]]; at 100 TB this is the persisted
   * [[winnowFpIndex]] table. Release with `fps.unpersist()`.
   */
  def winnowFpsShared(
      df: DataFrame,
      k: Int = 16,
      w: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k >= 2 && k <= 32, "gram size k must be in [2,32]")
    require(w >= 2 && w <= 64, "window w must be in [2,64]")
    GraftFunctions.register(df.sparkSession)
    val fps = df.select(col(idCol).as("id"),
        explode(GraftFunctions.winnowFps(col(textCol), k, w)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    fps.count() // materialize once; every sharer scans the cached relation
    fps
  }

  /** [[winnowPairs]] over a PREBUILT `(id, fp)` relation
    * ([[winnowFpsShared]]) — no re-fingerprinting, identical rows. */
  def winnowPairsOn(fps: DataFrame, minShared: Long = 2L, maxBucket: Int = 1000): DataFrame =
    winnowPairsFrom(fps, minShared, maxBucket)

  /** [[winnowContainment]] over a PREBUILT `(id, fp)` relation — the
    * shared relation replaces the per-call pin, identical rows. */
  def winnowContainmentOn(
      fps: DataFrame,
      minShared: Long = 2L,
      maxBucket: Int = 200
  ): DataFrame =
    winnowContainmentFrom(winnowPairsFrom(fps, minShared, maxBucket), fps)

  /** [[winnowContainment]]'s fraction readout over a PREBUILT pair
    * relation ([[winnowPairsOn]]'s rows at the same params) plus the
    * `(id, fp)` relation for the denominators — identical rows. When the
    * pair relation is session-shared, the fp self-join (the dominant
    * term) is paid once for both the pair gate and this readout. */
  def winnowContainmentFrom(pairs: DataFrame, fps: DataFrame): DataFrame = {
    val counts = fps.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    pairs
      .join(counts.select(col("id").as("id_a"), col("nfp").as("__na")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("nfp").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__na").cast("double"), 6).as("frac_a"),
        round(col("n_shared").cast("double") / col("__nb").cast("double"), 6).as("frac_b"))
  }

  /** the bucket-capped shared-fingerprint pair count over a prepared
    * `(id, fp)` DISTINCT relation — shared by [[winnowPairs]] and
    * [[winnowContainment]] (which pins the relation for reuse). */
  private def winnowPairsFrom(fps: DataFrame, minShared: Long, maxBucket: Int): DataFrame =
    cappedBucketPairs(fps, Seq("fp"), maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /**
   * WINNOW CONTAINMENT — [[winnowPairs]] plus the per-side coverage
   * fractions `n_shared / |fps(doc)|`: the "how MUCH of this document is
   * lifted" readout (a near-1 `frac_a` with a small `frac_b` says doc A
   * is essentially a fragment of doc B — the asymmetric signal symmetric
   * pair counts and Jaccard both hide). The uncapped per-doc fingerprint
   * counts are the denominators, so a boilerplate-capped bucket lowers a
   * fraction but never inflates it.
   *
   * Scale shape: identical to [[winnowPairs]] (the `(id, fp)` relation
   * pins once and feeds the pair join AND the two count joins); the
   * fractions are one rounded division per surviving pair.
   */
  def winnowContainment(
      df: DataFrame,
      k: Int = 16,
      w: Int = 8,
      minShared: Long = 2L,
      maxBucket: Int = 200,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k >= 2 && k <= 32, "gram size k must be in [2,32]")
    require(w >= 2 && w <= 64, "window w must be in [2,64]")
    import graft.pipeline.Checkpoints.PinOps
    GraftFunctions.register(df.sparkSession)
    val fps = df.select(col(idCol).as("id"),
      explode(GraftFunctions.winnowFps(col(textCol), k, w)).as("fp")).pinned
    val counts = fps.groupBy(col("id")).agg(count(lit(1)).as("nfp"))
    winnowPairsFrom(fps, minShared, maxBucket)
      .join(counts.select(col("id").as("id_a"), col("nfp").as("__na")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("nfp").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__na").cast("double"), 6).as("frac_a"),
        round(col("n_shared").cast("double") / col("__nb").cast("double"), 6).as("frac_b"))
  }

  /**
   * Persisted-index face of [[winnowPairs]]: the corpus's DISTINCT
   * `(id, fp)` winnowing fingerprints, one native pass per document —
   * write it once (parquet, e.g. partitioned/bucketed by `fp`) and every
   * future ingest batch gates against it without re-fingerprinting the
   * archive (the [[signatureIndex]] contract, at span granularity).
   */
  def winnowFpIndex(
      df: DataFrame,
      k: Int = 16,
      w: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(k >= 2 && k <= 32, "gram size k must be in [2,32]")
    require(w >= 2 && w <= 64, "window w must be in [2,64]")
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), explode(GraftFunctions.winnowFps(col(textCol), k, w)).as("fp"))
  }

  /**
   * Ingest-time SPAN gate — the winnowing complement of
   * [[gateAgainstCorpus]]'s whole-document Jaccard: a new document is
   * rejected when it shares `minShared`+ distinct fingerprints with ANY
   * single corpus document (a lifted ≥ `w+k−1`-char span is guaranteed to
   * collide), which catches splice reuse that whole-document similarity
   * dilutes below every threshold. `maxBucket` caps degenerate CORPUS
   * fingerprints (ubiquitous boilerplate spans) before the join, so they
   * cannot quadratically amplify a batch. Scale shape: the batch side is
   * micro-batch-sized (AQE broadcasts it into the index scan); the only
   * aggregations are fp-keyed and (batch×corpus-candidate)-keyed skinny
   * int rows. Returns the surviving rows of `newDocs`.
   */
  def winnowGateAgainstCorpus(
      newDocs: DataFrame,
      corpusFps: DataFrame,
      minShared: Long = 2L,
      maxBucket: Int = 200,
      k: Int = 16,
      w: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val small  = corpusFps.groupBy(col("fp")).count().filter(col("count") <= maxBucket).select("fp")
    val capped = corpusFps.join(small, Seq("fp"), "left_semi")
    val fresh  = winnowFpIndex(newDocs, k, w, textCol, idCol)
      .select(col("id").as("__id_new"), col("fp"))
    val matched = fresh.join(capped, "fp")
      .groupBy(col("__id_new"), col("id"))
      .agg(count(lit(1)).as("__n_shared"))
      .filter(col("__n_shared") >= minShared)
      .select(col("__id_new").as(idCol))
      .distinct()
    newDocs.join(matched, Seq(idCol), "left_anti")
  }

  /** `(id, band, bucket)` LSH band relation of a signature table: bucket =
    * the band's signature slice itself (string concat — equality is all
    * that matters, and it stays engine-portable for the oracle). */
  private def bandBuckets(sigRel: DataFrame, bands: Int, rows: Int): DataFrame =
    sigRel.select(
      col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => concat_ws(",", slice(col("sig"), b * rows + 1, lit(rows)))))
        .as(Seq("band", "bucket")))

  // ---- corpus-gated dedup (the ingest path) ------------------------------

  /**
   * MinHash signature index of a corpus: `(id, sh, sig)`. Built once and
   * persisted as parquet; every future ingest batch's
   * near-dup gate joins against it instead of re-shingling 100 TB of
   * history. Growing the corpus = appending the accepted batch's rows.
   */
  def signatureIndex(
      df: DataFrame,
      numHashes: Int = 64,
      shingleK: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhash(col("sh"), numHashes))
  }

  /**
   * The capped corpus band relation `(id, band, bucket)` with degenerate
   * buckets already dropped — the ONE corpus-wide aggregation the gate
   * needs.
   */
  private def bandedIndex(
      corpusIndex: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucket: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val banded = bandBuckets(corpusIndex, bands, numHashes / bands)
    val smallBuckets = banded.groupBy(col("band"), col("bucket")).count()
      .filter(col("count") <= maxBucket)
      .select(col("band"), col("bucket"))
    banded.join(smallBuckets, Seq("band", "bucket"), "left_semi")
  }

  /**
   * Ingest-time near-dup gate: the rows of `newDocs` with NO near-duplicate
   * (shingle Jaccard ≥ threshold) in the corpus behind `corpusIndex` (a
   * [[signatureIndex]]). LSH band buckets restrict the join — a new doc
   * only ever meets corpus docs sharing a band bucket — and `maxBucket`
   * caps degenerate CORPUS buckets, so boilerplate the corpus already
   * holds thousands of copies of cannot quadratically amplify every
   * future batch. Scale shape: the index is a parquet table; the batch
   * side is micro-batch-sized, so AQE broadcasts the batch bands against
   * the corpus bucket scan and the only wide shuffle is the corpus bucket
   * count. Candidates dedupe on bare id pairs before the shingle arrays
   * join back for the verify (same discipline as [[minhashLshPairs]]).
   */
  def gateAgainstCorpus(
      newDocs: DataFrame,
      corpusIndex: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(newDocs.sparkSession)
    val rows  = numHashes / bands
    val fresh = signatureIndex(newDocs, numHashes, shingleK, textCol, idCol).pinned

    val freshBanded  = bandBuckets(fresh, bands, rows)
    val cappedCorpus = bandedIndex(corpusIndex, numHashes, bands, maxBucket)

    val candidates = freshBanded.alias("n")
      .join(cappedCorpus.alias("c"), col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
      .select(col("n.id").as("id_new"), col("c.id").as("id_corpus"))
      .distinct()
    val matched = candidates
      .join(fresh.select(col("id").as("id_new"), col("sh").as("sh_new")), "id_new")
      .join(corpusIndex.select(col("id").as("id_corpus"), col("sh").as("sh_corpus")), "id_corpus")
      .filter(round(fastJaccard(col("sh_new"), col("sh_corpus")), 4) >= threshold)
      .select(col("id_new"))
      .distinct()
    newDocs.join(matched.select(col("id_new").as(idCol)), Seq(idCol), "left_anti")
  }

  /**
   * Eval-set decontamination — the n-gram-collision rule: drop every
   * corpus doc sharing ANY k-word shingle with the eval/benchmark corpus
   * (k ≈ 13 in practice; contamination is verbatim overlap, not
   * similarity, so this is exact collision, not LSH). Scale shape: the
   * eval side is benchmark-sized, so its distinct shingle-hash set
   * BROADCASTS; the corpus side is one map-side pass — explode shingles,
   * broadcast-join, distinct contaminated ids — the corpus itself never
   * shuffles, only the (tiny) contaminated-id set does.
   */
  def decontaminate(
      df: DataFrame,
      evalDf: DataFrame,
      shingleK: Int = 13,
      textCol: String = "text",
      idCol: String = "doc_id",
      evalTextCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val evalSh = evalDf
      .select(explode(GraftFunctions.shingles(col(evalTextCol), shingleK)).as("sh"))
      .distinct()
    val contaminated = df
      .select(col(idCol), explode(GraftFunctions.shingles(col(textCol), shingleK)).as("sh"))
      .join(broadcast(evalSh), "sh")
      .select(col(idCol))
      .distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Bloom-prefiltered exact decontamination — the same contract as
   * [[decontaminate]] (corpus docs sharing NO k-shingle with the eval set
   * survive), shaped for the scale where even the broadcast eval-shingle
   * hash join is the corpus-side bottleneck: a Bloom filter over the eval
   * shingles (~10 bits/element at fpp 1% vs 8 bytes/hash for the exact
   * set) rides to every task and discards almost every corpus shingle
   * BEFORE any join, so only probable hits reach the exact confirm.
   * Bloom filters admit false positives but never false negatives, and
   * each prefilter survivor is re-checked by the exact broadcast join —
   * the result is row-identical to [[decontaminate]]: gate `d_bloom`
   * shares `d_decon`'s oracle SQL, proving the equivalence cross-engine.
   *
   * The `mightContainLong` probe is a Scala UDF (Spark's native
   * BloomFilterMightContain expression is internal to runtime-filter
   * injection); it is a cheap long→bool on already-hashed shingles and
   * sits before the explode's shuffle boundary, so the non-codegen hop
   * costs far less than the join traffic it removes.
   */
  def decontaminateBloom(
      df: DataFrame,
      evalDf: DataFrame,
      shingleK: Int = 13,
      fpp: Double = 0.01,
      textCol: String = "text",
      idCol: String = "doc_id",
      evalTextCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // read twice (bloom build + confirm join): pin, release with the result
    val evalSh = evalDf
      .select(explode(GraftFunctions.shingles(col(evalTextCol), shingleK)).as("sh"))
      .distinct()
      .pinned
    val expected = evalSh.count()
    if (expected == 0L) return df // empty eval set: nothing can be contaminated
                                  // (and Spark's bloom_filter_agg NPEs on zero rows)
    val bloom    = evalSh.stat.bloomFilter("sh", expected, fpp)
    val bc       = df.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
    val contaminated = df
      .select(col(idCol), explode(GraftFunctions.shingles(col(textCol), shingleK)).as("sh"))
      .filter(mightContain(col("sh"))) // map-side: ~all clean shingles die here
      .join(broadcast(evalSh), "sh")   // exact confirm: false positives die here
      .select(col(idCol))
      .distinct()
    df.join(contaminated, Seq(idCol), "left_anti")
  }

  /**
   * Containment near-dup pairs: ASYMMETRIC containment |A∩B|/|A| (and
   * |A∩B|/|B|) instead of Jaccard. Catches subset duplication — a short
   * doc pasted inside a much longer one scores low on Jaccard (the union
   * is dominated by the long side) but ~1.0 on the short side's
   * containment. Minhash banding is the WRONG candidate miner here (a
   * band agrees with probability ~J^rows, and subset pairs have low J by
   * construction), so candidates come from the capped shingle inverted
   * index, like [[cdcOverlapPairs]]: explode distinct shingle hashes, drop
   * buckets above `maxBucket` (boilerplate guard — capped shingles are
   * excluded from the intersect, deterministically on both engines), and
   * the per-pair match count of the bucket self-join IS |A∩B| — no
   * second verify pass. `minShared` prunes the pair aggregation's long
   * single-shared-shingle tail before the size join. Emits every pair
   * where EITHER direction reaches `threshold`, with both fractions.
   */
  def containmentPairs(
      df: DataFrame,
      threshold: Double,
      shingleK: Int = 3,
      minShared: Long = 2L,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // read three times (inverted index + the two size joins): pin once
    val sh = df
      .select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .pinned
    val sizes = sh.select(col("id"), size(col("sh")).cast("double").as("n"))
    val e     = sh.select(col("id"), explode(col("sh")).as("h"))
    val shared = cappedBucketPairs(e, Seq("h"), maxBucket)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).cast("double").as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
      .withColumn("ca", col("shared") / col("n_a"))
      .withColumn("cb", col("shared") / col("n_b"))
      .filter(greatest(col("ca"), col("cb")) >= threshold) // unrounded, like the oracle
      .select(col("id_a"), col("id_b"),
        round(col("ca"), 4).as("contain_a"), round(col("cb"), 4).as("contain_b"))
  }

  /**
   * Per-doc NOVELTY score — the boilerplate detector: the fraction of a
   * doc's distinct k-shingles that appear in NO other document
   * (`novelty = 1 − shared/total`; 0 = pure template text, 1 = fully
   * original). Complements the pairwise dedup family with a rankable
   * per-doc signal — filter at a novelty floor to drop mirror/template
   * pages without mining a single pair. Shape: one shingle explode, one
   * count-docs-per-shingle aggregation (map-side combined, bare hashes),
   * one join back, one per-doc aggregation — no self-join, no pair blowup,
   * all counts exact integers.
   */
  def noveltyScores(
      df: DataFrame,
      shingleK: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val e = df
      .select(col(idCol), explode(GraftFunctions.shingles(col(textCol), shingleK)).as("h"))
      .pinned // read twice: the shingle-frequency agg and the join back
    val freq = e.groupBy(col("h")).agg(count(lit(1)).as("__docs"))
    val out = e.join(freq, "h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__docs") > 1L, 1L).otherwise(0L)).as("shared_shingles"))
      .withColumn("novelty",
        round(lit(1.0) - col("shared_shingles").cast("double") / col("n_shingles").cast("double"), 4))
    out
  }

  /**
   * Per-source dedup health report: doc count, duplicate count (docs that
   * are NOT their cluster's representative) and the duplicate rate for
   * each source — the dashboard number for "how much of this feed is
   * redundant", fed by [[duplicateClusters]]'s CC labeling. One metadata
   * join + one |sources|-row aggregation on top of the labeling; the
   * division is double-cast on both engines before the 4-dp snap.
   */
  def dedupReport(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    dedupReportFromPairs(
      minhashLshPairs(df, threshold, numHashes, bands, shingleK, maxBucket, textCol, idCol)
        .select(col("id_a"), col("id_b")),
      df, sourceCol, idCol)

  /** [[dedupReport]] over PREBUILT near-dup pairs (consumed) — the
    * shared-mining path: one [[minhashLshPairsShared]] relation can feed
    * this report, [[componentWeightsFromPairs]] and the CC labeling without
    * re-mining per consumer. */
  def dedupReportFromPairs(
      pairsIn: DataFrame,
      df: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame =
    dedupReportFromClusters(duplicateClustersFromPairs(pairsIn, df, idCol), df, sourceCol, idCol)

  /** [[dedupReport]]'s readout over a PREBUILT CC labeling
    * ([[duplicateClustersShared]]) — the report is one join + one
    * aggregation over the labeling; re-running the convergence loop per
    * readout was the cost, not the readout. Identical rows. */
  def dedupReportFromClusters(
      clusters: DataFrame,
      df: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame =
    df.select(col(idCol), col(sourceCol))
      .join(clusters, idCol)
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col(idCol) === col("rep"), 0L).otherwise(1L)).as("n_dups"))
      .withColumn("dup_rate",
        round(col("n_dups").cast("double") / col("n_docs").cast("double"), 4))

  /**
   * CROSS-SOURCE DUPLICATE FLOW — the near-dup pair counts per (unordered)
   * source pair: which crawls/feeds copy from each other, and how much of
   * each source's duplication is internal (the diagonal). The routing
   * report a multi-source ingest consults before deciding which feed to
   * drop; [[dedupReport]] gives the per-source rate, this gives the
   * between-source structure.
   *
   * Scale shape: the mined pair list (bare ids, bucket-capped) joins the
   * `(id, source)` projection twice on the id — two key joins at pair
   * cardinality, never doc×doc; the final matrix is ≤ |sources|² rows.
   * `least/greatest` collapse the unordered pair so A→B and B→A count as
   * one cell.
   */
  def crossSourceDuplicates(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    crossSourceDuplicatesFromPairs(
      minhashLshPairs(df, threshold, numHashes, bands, shingleK, maxBucket, textCol, idCol),
      df, sourceCol, idCol)

  /** [[crossSourceDuplicates]] over PREBUILT near-dup pairs — the
    * shared-mining path (see [[dedupReportFromPairs]]). */
  def crossSourceDuplicatesFromPairs(
      pairsIn: DataFrame,
      df: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame = {
    val pairs = pairsIn.select(col("id_a"), col("id_b")).distinct()
    val src = df.select(col(idCol), col(sourceCol))
    pairs
      .join(src.toDF("id_a", "__sa"), "id_a")
      .join(src.toDF("id_b", "__sb"), "id_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /**
   * Contamination REPORT — the audit companion to [[decontaminate]]:
   * for every corpus doc sharing at least `minHits` distinct k-word
   * shingles with the eval corpus, the number of shared shingles.
   * `minHits > 1` is the standard guard against single short common
   * n-grams flagging benign docs. Scale shape is identical to
   * [[decontaminate]]: eval shingles broadcast, the corpus explodes
   * map-side into the broadcast join, and only matched `(id, shingle)`
   * rows reach the count aggregation (map-side combined) — the corpus
   * itself never shuffles.
   */
  def contaminationReport(
      df: DataFrame,
      evalDf: DataFrame,
      shingleK: Int = 13,
      minHits: Long = 1L,
      textCol: String = "text",
      idCol: String = "doc_id",
      evalTextCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val evalSh = evalDf
      .select(explode(GraftFunctions.shingles(col(evalTextCol), shingleK)).as("sh"))
      .distinct()
    df
      // shingles() yields the DISTINCT shingle set per doc, so a plain
      // count after the join is the distinct-overlap count
      .select(col(idCol), explode(GraftFunctions.shingles(col(textCol), shingleK)).as("sh"))
      .join(broadcast(evalSh), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /**
   * Cross-document repeated spans — the exact-substring-dedup signal
   * (cf. Lee et al. 2021, "Deduplicating Training Data Makes Language
   * Models Better", arXiv:2107.06499, which mines verbatim repeated
   * sequences with a suffix array): every k-word span hash appearing in at
   * least `minDocs` DISTINCT documents, with its document frequency.
   * Suffix-array construction doesn't distribute; the Spark-native
   * equivalent for a fixed span length is this shingle-hash document-
   * frequency count: one map-side pass explodes each doc's distinct span
   * hashes ([[shingleSet]] — distinct per doc, so a plain count IS the doc
   * frequency), partial aggregation combines map-side, and only per-hash
   * partial counts shuffle — the corpus text itself never moves.
   */
  def repeatedSpans(
      df: DataFrame,
      spanK: Int = 50,
      minDocs: Long = 2L,
      textCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df
      .select(explode(GraftFunctions.shingles(col(textCol), spanK)).as("span_hash"))
      .groupBy(col("span_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /**
   * Documents containing at least one cross-document repeated span: the
   * audit/scrub-candidate list that follows [[repeatedSpans]] — per doc,
   * how many of its spans are corpus-repeated. The repeated-span relation
   * is a vanishing fraction of the span universe (only hashes with
   * `n_docs ≥ minDocs` survive), so it broadcasts back onto the one
   * map-side span scan of the corpus.
   */
  def spanContaminatedDocs(
      df: DataFrame,
      spanK: Int = 50,
      minDocs: Long = 2L,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val repeated = repeatedSpans(df, spanK, minDocs, textCol).select(col("span_hash"))
    df
      .select(col(idCol), explode(GraftFunctions.shingles(col(textCol), spanK)).as("span_hash"))
      .join(broadcast(repeated), "span_hash")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_repeated_spans"))
  }

  /**
   * TRUE duplicate clusters: connected components over the verified
   * near-dup pair graph, every doc labeled with the smallest id in its
   * component (`rep`) — the union-find step large corpus-dedup pipelines
   * run after LSH pair mining, which [[minhashLshDuplicates]]'s single
   * pass only approximates (it misses transitive chains A~B~C where A≁C).
   *
   * Iterative min-label propagation: each round joins labels across the
   * EDGE set (near-dup pairs — a vanishing fraction of the corpus; the
   * corpus itself is never re-scanned) and keeps the per-node minimum,
   * converging in O(component diameter) rounds — near-dup clusters are
   * near-cliques, so typically 2-4. `localCheckpoint` truncates lineage
   * each round (no exponentially growing plan), and the fixpoint test is
   * an `isEmpty` probe on changed labels, not a full count.
   */
  def duplicateClusters(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxIters: Int = 50
  ): DataFrame = {
    duplicateClustersFromPairs(
      minhashLshPairs(df, threshold, numHashes, bands, shingleK, maxBucket, textCol, idCol)
        .select(col("id_a"), col("id_b")),
      df, idCol, maxIters)
  }

  /** [[duplicateClusters]]' labeling loop over PREBUILT near-dup pairs
    * (consumed) — the shared-mining path for compositions that need the
    * same pair list twice (e.g. CC vs LPA agreement scoring): mine once,
    * checkpoint, hand each consumer its own pinned handle. */
  def duplicateClustersFromPairs(
      pairsIn: DataFrame,
      df: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 50
  ): DataFrame = {
    // materialize the pairs BEFORE the bidirectional union — both union
    // branches reference this plan, and unchecked a lazy mining pipeline
    // would run twice in one job; the pin truncates lineage, so freeing
    // the input handle releases any mining pins beneath it
    val pairs = pairsIn.select(col("id_a"), col("id_b")).pinned
    Checkpoints.free(pairsIn) // input consumed: release the caller's handle
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")).toDF("id_a", "id_b"))
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("rep", col("id")).pinned
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // the previous label rides the union as a second column (every id
      // has exactly ONE row in `labels`, so max-over-group recovers it),
      // making the convergence probe a filter SCAN of the pinned round
      // result instead of a join of two label frames per round
      val fromNeighbors = edges
        .join(labels.select(col("id").as("__nid"), col("rep")), col("id_b") === col("__nid"))
        .select(col("id_a").as("id"), col("rep"), lit(null).cast("long").as("__prev"))
      val next = fromNeighbors
        .union(labels.select(col("id"), col("rep"), col("rep").as("__prev")))
        .groupBy(col("id")).agg(min(col("rep")).as("rep"), max(col("__prev")).as("__prev"))
        .pinned
      converged = next.filter(col("rep") =!= col("__prev")).isEmpty
      // the probe was this round's last read of the previous labels —
      // free its blocks now instead of waiting on GC (a long session
      // otherwise accumulates one dead frame per round per call)
      Checkpoints.free(labels)
      labels = next.select(col("id"), col("rep"))
      i += 1
    }
    // the edge relation (and the pairs checkpoint beneath it) is dead once
    // iteration stops: the result below reads only df and the final labels
    Checkpoints.free(pairs)
    // exact result or loud failure — a silently non-minimal labeling would
    // under-merge clusters (only reachable via a >maxIters-diameter chain)
    if (!converged) {
      Checkpoints.free(labels)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIters rounds — raise maxIters for ultra-long near-dup chains")
    }
    // docs in no pair are their own singleton cluster
    df.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("rep"), col(idCol)).as("rep"))
  }

  /**
   * [[duplicateClustersFromPairs]]' labeling, materialized for SHARING:
   * the per-call convergence loop runs VERBATIM (same algebra, same
   * checkpoint-truncated rounds — truncation keeps per-action planning
   * O(round), which is the whole reason the per-call path checkpoints:
   * a full-lineage variant was measured at 1.5–5 s of pure driver-side
   * re-analysis PER READ of the memoized frame, the iterative plan
   * re-canonicalized on every consumer action). The final labeling is
   * then persisted, materialized once, and the now-read-dead checkpoint
   * beneath the cache is released HERE — so a consumer's
   * [[Checkpoints.free]] on a frame derived from it finds no live
   * checkpoint leaves and is behaviorally a no-op (spec-asserted). One
   * convergence loop serves the labeling gate, the size histogram, the
   * per-source report, the sampling weights and the ARI agreement.
   * Lifecycle: the cache is MEMORY_AND_DISK — an evicted block moves to
   * disk, it is never silently dropped; materialize once, then scan.
   */
  def duplicateClustersShared(
      pairsIn: DataFrame,
      df: DataFrame,
      idCol: String = "doc_id",
      maxIters: Int = 50
  ): DataFrame = {
    val out = duplicateClustersFromPairs(pairsIn, df, idCol, maxIters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once; every sharer scans the cached relation
    Checkpoints.free(out) // final labels checkpoint: dead for reads now
    out
  }

  /**
   * CANARY LEAKAGE SCAN — count, per planted canary string, the documents
   * whose text CONTAINS it verbatim (plain substring, no tokenization, no
   * wildcard semantics — a canary with `%` or `_` in it must not become a
   * pattern), plus the smallest containing doc id as the audit pointer.
   * Canaries that never occur report `n_docs = 0` with a NULL pointer.
   * The memorization/extraction audit run against a corpus before AND
   * after training-set assembly ([[decontaminate]] guards against EVAL
   * overlap; this guards against known planted secrets).
   *
   * Scale shape: the canary list is tiny and BROADCAST; one corpus scan
   * evaluates all containments, one partial-aggregated groupBy on the
   * canary. Text never shuffles.
   */
  def canaryScan(
      df: DataFrame,
      canaries: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(canaries.nonEmpty, "canaries must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val canDf = canaries.toDF("canary")
    val hits = df.select(col(idCol), col(textCol))
      .crossJoin(broadcast(canDf))
      .filter(col(textCol).contains(col("canary")))
      .groupBy(col("canary"))
      .agg(count(lit(1)).as("__n"), min(col(idCol)).as("first_doc"))
    canDf.join(hits, Seq("canary"), "left")
      .select(col("canary"), coalesce(col("__n"), lit(0L)).as("n_docs"), col("first_doc"))
  }

  /**
   * DUPLICATED k-GRAM RATE per group — the memorization-risk summary from
   * the dedup literature: of all per-doc-DISTINCT k-gram postings in a
   * group, what fraction are cross-document repeats
   * (`(Σc − #grams) / Σc` where `c` is each gram's doc frequency).
   * Per-doc distinct shingles keep intra-doc repetition (tx_rep's axis)
   * out of the number; [[repeatedSpans]] lists the offending spans, this
   * is the one-row-per-source dashboard figure above it.
   *
   * Scale shape: one map-side span explode (hashes, never strings), one
   * partial-aggregated groupBy on (group, gram hash), one tiny per-group
   * rollup. The corpus text never shuffles.
   */
  def duplicatedNgramRate(
      df: DataFrame,
      k: Int = 8,
      groupCol: String = "source",
      textCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df.select(col(groupCol), explode(GraftFunctions.shingles(col(textCol), k)).as("__g"))
      .groupBy(col(groupCol), col("__g"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(
        sum(col("__c")).as("n_postings"),
        count(lit(1)).as("n_distinct"),
        sum(col("__c") - 1L).as("__dup"))
      .select(col(groupCol), col("n_postings"), col("n_distinct"),
        round(col("__dup").cast("double") / col("n_postings").cast("double"), 6).as("dup_rate"))
  }

  /**
   * DUPLICATE-AWARE SAMPLING WEIGHTS — the soft alternative to dropping
   * near-dups: every document weighs `1 / |its near-dup component|`, so
   * each component contributes ONE document's worth of mass to the
   * training mix (singletons weigh 1). The standard middle ground when
   * hard dedup is too blunt: variants stay in the corpus for coverage,
   * their over-count is neutralized. Feed the `weight` column to
   * [[Sampling.weightedSample]] / loss weighting downstream.
   *
   * Scale shape: [[duplicateClusters]]' bounded CC labeling + one
   * rep-keyed count + one id-keyed join; weights are one exact divide,
   * snapped to 6 dp.
   */
  def componentWeights(
      df: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    componentWeightsFromPairs(
      minhashLshPairs(df, threshold, numHashes, bands, shingleK, maxBucket, textCol, idCol)
        .select(col("id_a"), col("id_b")),
      df, idCol)

  /** [[componentWeights]] over PREBUILT near-dup pairs (consumed) — the
    * shared-mining path (see [[dedupReportFromPairs]]). */
  def componentWeightsFromPairs(
      pairsIn: DataFrame,
      df: DataFrame,
      idCol: String = "doc_id"
  ): DataFrame =
    componentWeightsFromClusters(duplicateClustersFromPairs(pairsIn, df, idCol), idCol)

  /** [[componentWeights]]' readout over a PREBUILT CC labeling
    * ([[duplicateClustersShared]]) — size counts + the 1/size weight are
    * two cheap passes over the labeling; identical rows. */
  def componentWeightsFromClusters(
      cc: DataFrame,
      idCol: String = "doc_id"
  ): DataFrame = {
    val sizes = cc.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "rep")
      .select(col(idCol), col("rep"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("weight"))
  }

  /**
   * Cluster-size HISTOGRAM over a [[duplicateClusters]] labeling — the
   * dedup health report ("how much of the corpus is singletons vs
   * near-dup families, and how big do families get"): `(cluster_size,
   * n_clusters)`. Two map-side-combined aggregations over id-sized
   * relations; pure integers.
   */
  def clusterSizeHistogram(clusters: DataFrame, repCol: String = "rep"): DataFrame =
    clusters.groupBy(col(repCol)).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))

  /**
   * Dedup by LSH pairs: ids that have a near-duplicate with a smaller id.
   * (Single-pass approximation of connected components — exact CC needs
   * iteration, unnecessary for keep-one-representative semantics.)
   */
  def minhashLshDuplicates(df: DataFrame, threshold: Double): DataFrame =
    minhashLshPairs(df, threshold).select(col("id_b").as("doc_id")).distinct()

  /** The deduplicated corpus: drop every doc that has a near-duplicate with
    * a smaller id (left-anti join against the duplicate set). */
  def deduplicated(df: DataFrame, threshold: Double, idCol: String = "doc_id"): DataFrame =
    df.join(minhashLshDuplicates(df, threshold).withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")

  // ---- SimHash -----------------------------------------------------------

  /** second-lane word rehash — HOF mirror of
    * [[graft.functions.PortableHash.lane2]]: two independent modular
    * reductions (mod P, mod P31b) rehashed affinely and recombined < 2^62.
    * `pmod == %` here because wide word hashes are non-negative. */
  def lane2Hash(h: Column): Column = {
    import graft.functions.{PortableHash => PH}
    val g1 = pmod(pmod(h, lit(PH.P31)) * lit(PH.L2A1) + lit(PH.L2C1), lit(PH.P31))
    val g2 = pmod(pmod(h, lit(PH.P31b)) * lit(PH.L2A2) + lit(PH.L2C2), lit(PH.P31))
    g1 * lit(PH.P31) + g2
  }

  /**
   * 128-bit SimHash signature packed into two non-negative longs
   * `[lo, hi]`: per position, sign of the sum of ±1 over word hashes
   * (positions 0-63 from the wide hash bits, 64-127 from the [[lane2Hash]]
   * rehash bits). HOF reference form of the native
   * [[graft.functions.PortableHash.simHash128]] — a spec asserts identity.
   */
  def simhashSignature(hashesCol: Column): Column = {
    def packed(hs: Column): Column =
      (0 until 64).map { b =>
        when(
          aggregate(hs, lit(0),
            (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)
          ) > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    array(packed(hashesCol), packed(transform(hashesCol, lane2Hash(_))))
  }

  /** sorted distinct wide (~62-bit) word hashes of a text column (input to
    * [[simhashSignature]]): two independent portable polynomial hashes
    * combined as `h131 * P + h137` — engine-portable, unlike xxhash64, so
    * the oracle can replay the signature. Bits 62-63 are ~always 0 (the
    * value is uniform below P² ≈ 2^62): those signature positions are
    * constant on both engines and contribute 0 to every Hamming distance.
    * HOF reference form of the native [[graft.functions.PortableHash.wordHashSet]]. */
  def wordHashes(text: Column): Column =
    sort_array(array_distinct(transform(split(text, " "),
      w => polyHash(w, 131L, 7L) * lit(PortableHashP) + polyHash(w, 137L, 11L))))

  /**
   * SimHash near-dup pairs within Hamming distance `maxHamming`, using
   * 4×32-bit band buckets over the 128-bit signature (a pair within
   * Hamming ≤ 3 must agree exactly on at least one of 4 bands —
   * pigeonhole). 32-bit buckets keep random collisions at ~n²/2³⁰ per
   * band (the earlier 64-bit/4×16 layout collided at n²/2¹⁶ — quadratic
   * noise at scale), and `maxBucket` caps what remains, same guard as
   * [[minhashLshPairs]]. The verify is two codegen'd builtins
   * (`bit_count(xor)`) over the packed words — no per-bit HOF fold.
   */
  def simhashPairs(
      df: DataFrame,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // signatures are reused on both sides of the bucket join and for the
    // final Hamming check — materialize once, with lineage truncated so the
    // blocks are reclaimed by the ContextCleaner once the result is dropped
    // (at 100 TB: write the signature table out instead)
    val prepped = df
      .select(col(idCol).as("id"), GraftFunctions.simhash(GraftFunctions.wordHashes(col(textCol))).as("sig"))
      .select(col("id"), element_at(col("sig"), 1).as("lo"), element_at(col("sig"), 2).as("hi"))
      .pinned
    val m32 = lit(4294967295L) // 2^32 - 1: low-word mask (lo/hi are non-negative)
    val banded = prepped.select(
      col("id"),
      posexplode(array(
        col("lo").bitwiseAND(m32), shiftright(col("lo"), 32),
        col("hi").bitwiseAND(m32), shiftright(col("hi"), 32))).as(Seq("band", "bucket"))
    )
    // cap pathological buckets (degenerate content — e.g. empty docs —
    // would otherwise go quadratic); pairs enumerate in-row from each
    // bucket's bounded sorted id array — no self-join
    val candidates = cappedBucketPairs(banded, Seq("band", "bucket"), maxBucket)
      .distinct()
    candidates
      .join(prepped.select(col("id").as("id_a"), col("lo").as("lo_a"), col("hi").as("hi_a")), "id_a")
      .join(prepped.select(col("id").as("id_b"), col("lo").as("lo_b"), col("hi").as("hi_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (bit_count(col("lo_a").bitwiseXOR(col("lo_b"))) +
         bit_count(col("hi_a").bitwiseXOR(col("hi_b")))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * MINHASH ESTIMATION-ERROR REPORT: per LSH candidate pair, the Jaccard
   * the SIGNATURES estimate (fraction of agreeing minhash positions)
   * against the exact set Jaccard, with the absolute error — the
   * index-quality check that tells you whether `numHashes` is sized right
   * for the threshold you run dedup at (mean error ~ 1/√numHashes). Same
   * mining shape as [[minhashLshPairs]]; one extra signature comparison
   * per surviving pair.
   */
  def minhashErrorReport(
      df: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    GraftFunctions.register(df.sparkSession)
    val rows = numHashes / bands
    val prepped = df
      .select(col(idCol).as("id"), GraftFunctions.shingles(col(textCol), shingleK).as("sh"))
      .withColumn("sig", GraftFunctions.minhash(col("sh"), numHashes))
      .pinned
    val candidates = lshCandidatePairs(prepped, bands, rows, maxBucket)
    val side = prepped.select(col("id"), col("sh"), col("sig"))
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / numHashes
    candidates
      .join(side.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a")), "id_a")
      .join(side.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(est, 4).as("est_jaccard"),
        round(fastJaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
  }

  /**
   * SIMILARITY HISTOGRAM: the distribution of exact Jaccard over the LSH
   * candidate pairs, in 0.1-wide bins (`sim_bin` = 0 ⇒ [0, 0.1), …, 9 ⇒
   * [0.9, 1.0]) — the tuning report that answers "where should the dedup
   * threshold sit for THIS corpus" before committing to a full pass.
   * Exactly [[minhashLshPairs]]'s mining shape (capped buckets, bare-id
   * candidates, verify join) with the threshold open and a |bins|-row
   * aggregation on top; both engines bin the SAME 4-dp-snapped jaccard,
   * so floor can never disagree.
   */
  def similarityHistogram(
      df: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    minhashLshPairs(df, 0.0, numHashes, bands, shingleK, maxBucket, textCol, idCol)
      .groupBy(least(floor(col("jaccard") * 10), lit(9L)).cast("long").as("sim_bin"))
      .agg(count(lit(1)).as("n_pairs"))

  /**
   * Segment-level boilerplate removal — the corpus-wide "line dedup" pass
   * of web-crawl curation (CCNet removes duplicated paragraphs, RefinedWeb
   * duplicated lines, before any document-level dedup runs), adapted to
   * newline-less corpora: the dedup unit is a fixed `segWords`-word
   * non-overlapping segment. A segment whose exact content appears in at
   * least `minDocs` DISTINCT documents is boilerplate (headers, nav bars,
   * license blocks); every occurrence is dropped and each document's text
   * is reassembled from its surviving segments in order.
   *
   * Output: `(doc_id, clean_text, n_segments, n_removed)` — one row per
   * input document (fully-boilerplate docs keep a row with empty text, so
   * the caller can filter or count them).
   *
   * 100 TB shape: segments shuffle as 16-byte md5 digests, never text
   * (`freq` groups on the digest; the boilerplate-key semi-join carries
   * digests only). The reassembly groups each doc's surviving segments —
   * the same `doc_id`-keyed shuffle the explode produced, no extra
   * exchange beyond the frequency aggregation. The boilerplate key set is
   * tiny relative to the corpus (repeated content only), so AQE turns the
   * anti-join into a broadcast at runtime.
   */
  def segmentDedup(
      df: DataFrame,
      segWords: Int = 4,
      minDocs: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(segWords > 0, "segWords must be positive")
    require(minDocs >= 2, "minDocs must be >= 2 (1 would drop every segment)")
    val ws = split(col(textCol), " ")
    val segs = df
      .select(col(idCol), ws.as("ws"))
      .select(col(idCol),
        posexplode(sequence(lit(0), size(col("ws")) - 1, lit(segWords))).as(Seq("seg_idx", "st")),
        col("ws"))
      .select(col(idCol), col("seg_idx"),
        array_join(slice(col("ws"), col("st") + 1, lit(segWords)), " ").as("seg"))
      .withColumn("digest", md5(col("seg")))
      .pinned // read twice: frequency agg + anti-join back
    val boiler = segs
      .groupBy(col("digest"))
      .agg(count_distinct(col(idCol)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("digest")
    val kept = segs.join(boiler, Seq("digest"), "left_anti")
    val perDoc = segs.groupBy(col(idCol)).agg(count(lit(1)).as("n_segments"))
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(
        array_join(array_sort(collect_list(struct(col("seg_idx"), col("seg")))) // sorts by seg_idx
          .getField("seg"), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    perDoc
      .join(reassembled, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segments"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
