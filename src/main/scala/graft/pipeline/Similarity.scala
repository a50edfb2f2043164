package graft.pipeline

import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Three tiers:
 *  - brute-force cosine top-k: the exact baseline; one scan, one
 *    TakeOrdered — optimal when k is small and the corpus fits a scan
 *  - random-hyperplane LSH: signature buckets prune the scan to
 *    near-neighbors only — the 100 TB path for pair mining
 *  - IVF (inverted file): coarse centroids partition the corpus; queries
 *    probe the closest `nprobe` partitions — the 100 TB path for top-k
 *
 * Dot products run as codegen'd `zip_with`+`aggregate` folds (sequential,
 * deterministic order — reproducible across runs and engines).
 */
object Similarity {

  /** sequential-fold dot product of two array columns (cast to double).
    * Portable HOF form — DataFrame-level operators below use the native
    * codegen'd [[graft.functions.ArrayKernels.dot]] instead (same semantics:
    * sequential double sum). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** native fast path (requires GraftFunctions.register on the session). */
  private def fdot(a: Column, b: Column): Column = GraftFunctions.dotProduct(a, b)
  private def fnorm(a: Column): Column           = sqrt(fdot(a, a))

  /** vector dimensionality from the first row; 1 on an EMPTY input (any
    * plane dim works when no row is ever evaluated — an empty streaming
    * micro-batch must flow through the gate, not throw). */
  private def inferDim(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head(1).headOption.fold(1)(_.getInt(0))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  // ---- brute force -------------------------------------------------------

  /**
   * Exact cosine top-k against a literal query vector. The scan is
   * embarrassingly parallel; `orderBy+limit` compiles to a per-partition
   * top-k merge (`TakeOrderedAndProject`), so no full sort ever happens.
   */
  def bruteForceTopK(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val q = lit(queryVec.map(_.toDouble).toArray)
    df.select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** exact cosine near-dup pairs (quadratic — correctness baseline only).
    * Norms are computed once per vector in the projection, so each pair
    * costs a single dot product instead of three. */
  def cosinePairs(
      df: DataFrame,
      threshold: Double,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    // cast float→double once per row, not once per pair
    val vd      = transform(col(vecCol), x => x.cast("double"))
    val prepped = df.select(col(idCol).as("id"), vd.as("v"), fnorm(col(vecCol)).as("n"))
    val a = prepped.alias("a")
    val b = prepped.alias("b")
    a.join(b, col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(fdot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  // ---- random hyperplane LSH ---------------------------------------------

  /** deterministic pseudo-random hyperplanes (seeded, driver-side, tiny). */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits against `planes`, packed into a long.
    * Uses the portable HOF dot so it works without function registration. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, lit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- scale sizing ------------------------------------------------------
  //
  // Fixed plane counts are small-data tuning: random sign-bit collisions
  // produce ~L·n²/2^k candidate pairs, so any constant k goes quadratic as
  // n grows. The rule that survives a 100× scale-up:
  //
  //   k = ceil(log2 n) + margin   →  buckets outnumber vectors 2^margin:1,
  //                                  expected NOISE pairs/table ≈ n/2^(margin+1)
  //                                  (linear in n, forever)
  //   L = ln(1-recall)/ln(1-p^k)  →  tables re-amplified to hold recall at
  //                                  the target similarity, p = 1-acos(s)/π
  //
  // Total candidate work then scales as n^(1+ρ) with ρ = log(p)/log(2)·…<1
  // — the classic sub-quadratic LSH exponent — instead of n².

  /** planes per table for a corpus of `n` vectors: `ceil(log2 n) + margin`.
    * Every doubling of the corpus adds one sign bit, keeping expected
    * random-bucket occupancy constant at 2^-margin. */
  def planesFor(n: Long, margin: Int = 2): Int = {
    val log2n = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) // ceil(log2 n)
    math.max(4, log2n + margin)
  }

  /** tables needed so a pair at cosine `simTarget` survives with
    * probability ≥ `recall` given `planes` sign bits per table:
    * `1-(1-p^k)^L ≥ recall`, p = 1 - acos(s)/π (Goemans–Williamson). */
  def tablesFor(planes: Int, simTarget: Double, recall: Double = 0.95): Int =
    tablesFromPerTableProb(perTableProb(planes, simTarget), recall)

  /** [[tablesFor]] under 1-bit multi-probe: a table also collides when
    * exactly one sign bit disagrees, so the per-table survival probability
    * rises to `p^k + k·p^(k-1)·(1-p)` — typically several-fold fewer
    * tables for the same recall, at (k+1)× the per-table probe volume. */
  def tablesForMultiProbe(planes: Int, simTarget: Double, recall: Double = 0.95): Int = {
    val p = probAgree(simTarget)
    val q = math.pow(p, planes) + planes * math.pow(p, planes - 1) * (1 - p)
    tablesFromPerTableProb(q, recall)
  }

  private def probAgree(simTarget: Double): Double = {
    require(simTarget > -1.0 && simTarget < 1.0)
    1.0 - math.acos(simTarget) / math.Pi
  }
  private def perTableProb(planes: Int, simTarget: Double): Double =
    math.pow(probAgree(simTarget), planes)
  private def tablesFromPerTableProb(q: Double, recall: Double): Int = {
    require(recall > 0 && recall < 1)
    math.max(1, math.ceil(math.log1p(-recall) / math.log1p(-q)).toInt)
  }

  /**
   * [[lshCosinePairs]] with corpus-derived parameters: one count() sizes
   * `planesPerTable` to the data (log2 n + margin) and `tables` to hold
   * `recall` at `simTarget` — the similarity level whose pairs must not be
   * missed (near-dup mining: ~0.85+), distinct from the verify `threshold`
   * that merely filters the reported pairs.
   */
  def lshCosinePairsAuto(
      df: DataFrame,
      threshold: Double,
      simTarget: Double = 0.85,
      recall: Double = 0.95,
      margin: Int = 2,
      multiProbe: Boolean = false,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    val k = planesFor(df.count(), margin)
    val l = if (multiProbe) tablesForMultiProbe(k, simTarget, recall) else tablesFor(k, simTarget, recall)
    lshCosinePairs(df, threshold, k, l, multiProbe = multiProbe, vecCol = vecCol, idCol = idCol)
  }

  /**
   * Multi-table random-hyperplane LSH (OR-amplification): `tables` hash
   * tables of `planesPerTable` sign bits each; vectors agreeing on ALL bits
   * of ANY table become candidates, then exact cosine verifies. Recall
   * ≈ 1-(1-p^k)^L with p = 1-θ/π — tune k (precision) vs L (recall).
   * Sub-quadratic: only bucket-mates ever meet in the join. Explicit
   * plane/table counts are for oracle-lockstep gates and tests; real
   * corpora should size them with [[planesFor]]/[[tablesFor]] (or use
   * [[lshCosinePairsAuto]]) so candidates stay sub-quadratic in n.
   */
  def lshCosinePairs(
      df: DataFrame,
      threshold: Double,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1, // -1: infer from the data (zip_with null-pads on mismatch!)
      multiProbe: Boolean = false,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val tablePlanes = (0 until tables).map(t => hyperplanes(planesPerTable, d, seed = 42L + t))
    // ALL table buckets from one native kernel call: the vector is read
    // once per row (not tables×planes times) and the plan stays a single
    // expression regardless of how planesFor/tablesFor scale the counts —
    // value-identical per bit to the portable HOF fold in lshBucket
    val buckets = df.select(col(idCol).as("id"),
      posexplode(GraftFunctions.lshBuckets(col(vecCol), tablePlanes)).as(Seq("table", "bucket")))
    // 1-bit multi-probe: the probing side also visits every bucket one
    // sign-flip away, so a pair disagreeing on a single bit of a table
    // still collides there — one side expands (k+1)× ([[tablesForMultiProbe]]
    // sizes L for the improved per-table probability); the other side stays
    // at its true bucket, which finds every unordered pair exactly via its
    // smaller-id orientation
    val probeSide =
      if (!multiProbe) buckets
      else {
        val masks = lit((0 until planesPerTable).map(j => 1L << j).toArray)
        buckets.select(col("id"), col("table"),
          explode(concat(array(col("bucket")),
            transform(masks, m => col("bucket").bitwiseXOR(m)))).as("bucket"))
      }
    val a = probeSide.alias("a")
    val b = buckets.alias("b")
    // dedupe candidate ids FIRST (cheap longs), join vectors back after
    val candidates = a
      .join(b, col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"), fnorm(col(vecCol)).as("n"))
    candidates
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(fdot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding twin of [[Dedup.deduplicated]]: drop every vector with a
    * smaller-id cosine near-duplicate (single LSH pass — pairwise, the
    * within-batch guard; run [[semDedup]]/[[lshCosinePairs]] + connected
    * components for corpus-wide transitive dedup). */
  def deduplicated(
      df: DataFrame,
      threshold: Double,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    val dropped = lshCosinePairs(df, threshold, planesPerTable, tables, dim,
      vecCol = vecCol, idCol = idCol)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dropped, Seq(idCol), "left_anti")
  }

  // ---- corpus-gated embedding dedup (the ingest path) --------------------

  /**
   * LSH vector index of a corpus: `(id, v, n, buckets)` — the embedding,
   * its norm, and the per-table sign buckets from one kernel pass. Built
   * once and persisted as parquet; every ingest batch's near-dup gate
   * joins against it, so the corpus is never re-hashed. Plane/table
   * params must match the gate's (size real corpora with
   * [[planesFor]]/[[tablesFor]]).
   */
  def vectorIndex(
      df: DataFrame,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val tablePlanes = (0 until tables).map(t => hyperplanes(planesPerTable, d, seed = 42L + t))
    df.select(col(idCol).as("id"), col(vecCol).as("v"), fnorm(col(vecCol)).as("n"),
      GraftFunctions.lshBuckets(col(vecCol), tablePlanes).as("buckets"))
  }

  /**
   * Embedding twin of [[Dedup.gateAgainstCorpus]]: the rows of `newVecs`
   * with NO cosine near-duplicate (sim ≥ threshold) in the corpus behind
   * `corpusIndex` (a [[vectorIndex]]). Candidates = bucket-mates in any
   * table (corpus buckets read pre-hashed from the index, the batch pays
   * one kernel pass); exact cosine verifies; survivors anti-join out with
   * the full input schema. Candidate ids dedupe before vectors join back.
   */
  def gateAgainstCorpus(
      newVecs: DataFrame,
      corpusIndex: DataFrame,
      threshold: Double,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    val fresh = vectorIndex(newVecs, planesPerTable, tables, dim, vecCol, idCol).pinned
    def explodeBuckets(ix: DataFrame) =
      ix.select(col("id"), posexplode(col("buckets")).as(Seq("table", "bucket")))
    val candidates = explodeBuckets(fresh).alias("f")
      .join(explodeBuckets(corpusIndex).alias("c"),
        col("f.table") === col("c.table") && col("f.bucket") === col("c.bucket"))
      .select(col("f.id").as("id_new"), col("c.id").as("id_corpus"))
      .distinct()
    val matched = candidates
      .join(fresh.select(col("id").as("id_new"), col("v").as("vn"), col("n").as("nn")), "id_new")
      .join(corpusIndex.select(col("id").as("id_corpus"), col("v").as("vc"), col("n").as("nc")), "id_corpus")
      .filter(round(fdot(col("vn"), col("vc")) / (col("nn") * col("nc")), 4) >= threshold)
      .select(col("id_new"))
      .distinct()
    newVecs.join(matched.select(col("id_new").as(idCol)), Seq(idCol), "left_anti")
  }

  /**
   * Batch ANN retrieval JOIN — for every query vector, its top-`k` cosine
   * neighbors in the corpus behind `corpusIndex` (a [[vectorIndex]]):
   * the "embed a batch, retrieve context for each" shape. Returns
   * `(query_id, id, sim, rank)` with rank 1 = nearest.
   *
   * Scale shape: the corpus is pre-hashed ONCE in the persisted index —
   * a query batch pays one kernel pass over itself, bucket-joins against
   * the index (only bucket-mates ever meet), exact-cosine-scores the
   * deduped candidates, and takes the per-query top-k with a rank window
   * that Spark compiles to a `WindowGroupLimit` — every partition
   * pre-prunes to its local top-k per query BEFORE the single shuffle on
   * `query_id`. Self-matches (same id on both sides) are excluded.
   * `multiProbe` expands the query side to 1-bit-flip buckets —
   * [[tablesForMultiProbe]] then holds recall with several-fold fewer
   * tables, shrinking the persisted index proportionally.
   */
  def annJoin(
      queries: DataFrame,
      corpusIndex: DataFrame,
      k: Int,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      multiProbe: Boolean = false,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fresh = vectorIndex(queries, planesPerTable, tables, dim, vecCol, idCol).pinned
    def explodeBuckets(ix: DataFrame) =
      ix.select(col("id"), posexplode(col("buckets")).as(Seq("table", "bucket")))
    val qBuckets = explodeBuckets(fresh)
    val probeSide =
      if (!multiProbe) qBuckets
      else {
        val masks = lit((0 until planesPerTable).map(j => 1L << j).toArray)
        qBuckets.select(col("id"), col("table"),
          explode(concat(array(col("bucket")),
            transform(masks, m => col("bucket").bitwiseXOR(m)))).as("bucket"))
      }
    val candidates = probeSide.alias("q")
      .join(explodeBuckets(corpusIndex).alias("c"),
        col("q.table") === col("c.table") && col("q.bucket") === col("c.bucket") &&
          col("q.id") =!= col("c.id"))
      .select(col("q.id").as("query_id"), col("c.id").as("id"))
      .distinct()
    val scored = candidates
      .join(fresh.select(col("id").as("query_id"), col("v").as("vq"), col("n").as("nq")), "query_id")
      .join(corpusIndex.select(col("id"), col("v").as("vc"), col("n").as("nc")), "id")
      .select(col("query_id"), col("id"),
        round(fdot(col("vq"), col("vc")) / (col("nq") * col("nc")), 4).as("sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * K-NN LABEL PROPAGATION — predict a label for every query vector by
   * MAJORITY VOTE over its `k` approximate nearest neighbors (ties broken
   * by the smaller label, so the prediction is total and deterministic).
   * The weak-supervision primitive: spread a small labeled seed set over
   * an unlabeled corpus, auto-label evaluation pools, sanity-check
   * embedding quality against known classes.
   *
   * Rides [[annJoin]] unchanged for retrieval (persisted LSH index,
   * optional multi-probe), then one shuffle join of the |queries|·k
   * neighbor list against the label relation on the neighbor id (AQE
   * broadcasts the neighbor side when the query batch is small), one
   * map-side-combined vote count, and a `WindowGroupLimit`-pruned
   * rank-1 window. Votes are integers — nothing to round.
   *
   * Labels are cast to long on the way in so the output type is stable
   * regardless of the storage width (the parquet label is int32).
   */
  /**
   * Hard-negative mining for contrastive training: each query's ANN
   * neighbors BELOW a near-duplicate cutoff — similar enough to make the
   * training signal hard, not so similar they are unlabeled positives
   * (the classic false-negative trap in contrastive batches). Retrieval
   * is the [[annJoin]] chain (bucketed LSH probe, per-query top-`searchK`
   * window); mining drops neighbors at `sim >= dupCut` (on the 4-dp
   * rounded score, so both engines agree at the boundary), re-ranks the
   * remainder per query, and keeps `m`. The second window shares the
   * first's `query_id` partitioning — no extra exchange — and
   * WindowGroupLimit prunes both map-side.
   */
  def hardNegatives(
      queries: DataFrame,
      corpusIndex: DataFrame,
      m: Int,
      dupCut: Double,
      searchK: Int,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      multiProbe: Boolean = false,
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = annJoin(queries, corpusIndex, searchK, planesPerTable, tables, dim, multiProbe,
      idCol = idCol)
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id"))
    nn.filter(col("sim") < dupCut)
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= m)
      .select(col("query_id"), col("id"), col("sim"), col("neg_rank"))
  }

  /**
   * MARGIN-BASED PAIR MINING — mutual best matches between two vector
   * sets under the ratio margin of Artetxe & Schwenk 2019 ("Margin-based
   * Parallel Corpus Mining with Multilingual Sentence Embeddings"): the
   * paired-data curation primitive (bitext mining, caption↔image pairing,
   * query↔doc alignment). Plain cosine thresholds fail on hubs — vectors
   * similar to EVERYTHING; the margin rescales each candidate pair's
   * cosine by the mean cosine of both endpoints' `k` nearest candidates,
   * `margin(x,y) = cos(x,y) / ((avgNN_k(x) + avgNN_k(y)) / 2)`, so a hub's
   * inflated neighborhood deflates its own pairs. A pair survives iff it
   * is the margin-argmax of BOTH endpoints (mutual best) and the margin
   * clears `threshold`.
   *
   * Scale shape: candidates come from the shared LSH bucket join (never
   * all-pairs; only cross-set bucket-mates), carrying `(id_a, id_b, sim)`
   * only. Cosines snap to an integer 1e-4 lattice, so the top-`k`
   * neighborhood sums are exact BIGINT arithmetic — margins are then
   * bit-identical on any engine and any fold order (the oracle replays
   * them in SQL). Two rank windows + two map-side-combined sum
   * aggregations over the candidate relation; nothing corpus-sized ever
   * shuffles with a payload.
   */
  def marginPairs(
      a: DataFrame,
      b: DataFrame,
      k: Int = 4,
      threshold: Double = 1.0,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    require(k > 0, "need k > 0 neighborhood size")
    // the per-half indexes are pure seed-fixed projections (row-local
    // kernel over the input scan): the sims job reads each twice (bucket
    // explode + vector join-back), and recomputing that projection twice
    // is cheaper than a checkpoint job per half — at 100 TB a double scan
    // of columnar input beats materializing a full index copy
    val ixA = vectorIndex(a, planesPerTable, tables, dim, vecCol, idCol)
    val ixB = vectorIndex(b, planesPerTable, tables, dim, vecCol, idCol)
    def explodeBuckets(ix: DataFrame) =
      ix.select(col("id"), posexplode(col("buckets")).as(Seq("table", "bucket")))
    val cand = explodeBuckets(ixA).alias("qa")
      .join(explodeBuckets(ixB).alias("qb"),
        col("qa.table") === col("qb.table") && col("qa.bucket") === col("qb.bucket"))
      .select(col("qa.id").as("id_a"), col("qb.id").as("id_b"))
      .distinct()
    // integer 1e-4 cosine lattice: round to 4 dp first (the family's
    // engine-portable snap), then scale — sums over the lattice are exact
    val sims = cand
      .join(ixA.select(col("id").as("id_a"), col("v").as("va"), col("n").as("na")), "id_a")
      .join(ixB.select(col("id").as("id_b"), col("v").as("vb"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(round(fdot(col("va"), col("vb")) / (col("na") * col("nb")), 4) * 10000, 0)
          .cast("long").as("__s"))
    // neighborhood sums via the BOUNDED top-k aggregate (graft_topk_sum,
    // O(k) buffer per endpoint) instead of rank windows: the top-k SUM is
    // rank-tie-invariant (boundary ties carry equal __s values), so this is
    // the window form's exact result without a full sort of the candidate
    // relation — two map-side-combined aggregations replace two
    // shuffle+sort passes [guide §2.4]
    val simsP = sims.pinned // feeds both neighborhood aggs + the margin join
    import graft.functions.GraftFunctions
    GraftFunctions.register(a.sparkSession)
    def topk(side: String) = simsP.groupBy(col(side))
      .agg(GraftFunctions.topKSum(col("__s"), k).as("__t"))
    val aggA = topk("id_a").select(col("id_a"),
      element_at(col("__t"), 1).as("__sa"), element_at(col("__t"), 2).as("__ca"))
    val aggB = topk("id_b").select(col("id_b"),
      element_at(col("__t"), 1).as("__sb"), element_at(col("__t"), 2).as("__cb"))
    val denom = (col("__sa") / col("__ca") + col("__sb") / col("__cb")) / lit(2.0)
    val margins = simsP.join(aggA, "id_a").join(aggB, "id_b")
      .filter(denom > 0.0) // degenerate all-negative neighborhoods drop out
      .withColumn("__m", col("__s") / denom)
      .pinned // feeds both argmax aggregations
    Checkpoints.free(simsP) // margins is materialized; simsP is read-dead
    // mutual best = each endpoint's margin-ARGMAX row (min over the negated
    // margin with the id tiebreak — exactly row_number()'s (__m DESC, id)
    // rank-1 pick), met from BOTH sides: two partial-aggregated argmaxes +
    // a join of the two bounded argmax tables replace two more full window
    // sorts. (id_a, id_b) is unique per margins row, so the struct order
    // never consults the payload fields.
    val bestA = margins.groupBy(col("id_a"))
      .agg(min(struct((-col("__m")).as("nm"), col("id_b").as("b"),
        col("__s").as("s"), col("__m").as("m"))).as("p"))
      .select(col("id_a"), col("p.b").as("id_b"), col("p.s").as("__s"), col("p.m").as("__m"))
    val bestB = margins.groupBy(col("id_b"))
      .agg(min(struct((-col("__m")).as("nm"), col("id_a").as("a"))).as("p"))
      .select(col("id_b"), col("p.a").as("id_a"))
    bestA.join(bestB, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"),
        (col("__s") / 10000.0).as("sim"),
        round(col("__m"), 4).as("margin"))
      .filter(col("margin") >= threshold)
  }

  /**
   * Contrastive training triplets — the end-to-end composition tying the
   * text-dedup and vector-retrieval families together: anchors are the
   * docs that HAVE a text near-duplicate ([[Dedup.minhashLshPairs]]; the
   * positive is the smallest paired id — deterministic), negatives are
   * the anchor embedding's hard negatives (the [[annJoin]] chain, with
   * neighbors at `sim >= dupCut` AND the positive itself excluded BEFORE
   * the re-rank — the positive is by construction an unlabeled positive).
   * Emits `(anchor_id, positive_id, negative_id, sim, neg_rank)` rows
   * ready for a bi-encoder trainer. Assumes doc ids and vector ids align
   * (the corpus embedding contract).
   */
  def contrastiveTriplets(
      docsDf: DataFrame,
      embDf: DataFrame,
      jaccardThreshold: Double,
      m: Int,
      dupCut: Double,
      searchK: Int,
      planesPerTable: Int = 6,
      tables: Int = 8,
      docIdCol: String = "doc_id",
      vecIdCol: String = "vec_id",
      pairsIn: Option[DataFrame] = None,
      corpusIn: Option[DataFrame] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // a prebuilt mined-pair relation (the session-shared
    // Dedup.minhashLshPairsShared) replaces the per-call mining pass —
    // identical relation, so identical triplets
    val minedPairs = pairsIn.getOrElse(
      Dedup.minhashLshPairs(docsDf, jaccardThreshold, idCol = docIdCol))
    val pos = minedPairs
      .groupBy(col("id_a")).agg(min(col("id_b")).as("positive_id"))
      .pinned // read twice: the anchor semi-join and the positive-exclusion join
    val anchors = embDf.join(pos.select(col("id_a").as(vecIdCol)), Seq(vecIdCol), "left_semi")
    // a prebuilt full-corpus index (the session-shared persisted one)
    // replaces the per-call build + pin — [[vectorIndex]] is row-local
    // under seed-fixed planes, so it is the identical relation
    val corpus = corpusIn.getOrElse(vectorIndex(embDf, planesPerTable, tables).pinned)
    val nn = annJoin(anchors, corpus, searchK, planesPerTable, tables, idCol = vecIdCol)
    val w  = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("id"))
    nn.join(broadcast(pos.withColumnRenamed("id_a", "query_id")), "query_id")
      .filter(col("sim") < dupCut && col("id") =!= col("positive_id"))
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= m)
      .select(col("query_id").as("anchor_id"), col("positive_id"),
        col("id").as("negative_id"), col("sim"), col("neg_rank"))
  }

  def knnClassify(
      queries: DataFrame,
      corpusIndex: DataFrame,
      labels: DataFrame,
      k: Int,
      planesPerTable: Int = 6,
      tables: Int = 8,
      dim: Int = -1,
      multiProbe: Boolean = false,
      labelCol: String = "label",
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nn = annJoin(queries, corpusIndex, k, planesPerTable, tables, dim, multiProbe,
      idCol = idCol)
    val votes = nn
      .join(labels.select(col(idCol).as("id"), col(labelCol).cast("long").as("label")), "id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("__r", row_number().over(w)).filter(col("__r") === 1).drop("__r")
  }

  // ---- IVF ---------------------------------------------------------------

  /** An IVF index: per-vector inverted-list assignment + the centroid
    * vectors (tiny, driver-side) used to route queries. */
  final case class IvfIndex(assigned: DataFrame, centroids: Map[Long, Seq[Float]])

  /**
   * Build an IVF index: seed `nlist` centroids from the data, optionally
   * refine with Lloyd iterations (assign → per-cluster elementwise mean →
   * reassign), then return assignments + centroid vectors. The mean step is
   * a single explode/groupBy pipeline — fully distributed, no driver math
   * beyond collecting `nlist` centroid vectors.
   */
  /**
   * Nearest-centroid assignment as a SINGLE PROJECTION: the centroid list
   * is tiny and driver-resident, so each row computes an array of cosines
   * against literal centroid vectors and takes the argmax position —
   * zero Exchange, no crossJoin row explosion, no `groupBy(id)` shuffle of
   * the embedding payload. (The previous shape — crossJoin(broadcast) ×
   * nlist then groupBy — reshuffled every vector nlist times; at 100 TB
   * that shuffle IS the job.) Ties resolve to the lowest centroid id
   * (first max position; centroids evaluated in ascending-cid order).
   */
  private def assignByProjection(
      df: DataFrame,
      cents: Map[Long, Seq[Float]],
      vecCol: String,
      idCol: String
  ): DataFrame = {
    val entries = cents.toSeq.sortBy(_._1)
    val cids    = entries.map(_._1).toArray
    // single native kernel call: each row reads its vector once and scans
    // all centroids over primitive locals — plan size independent of nlist
    // (the expression form it replaces built an nlist-branch cosine array
    // per row; at nlist ≈ √n that tree IS the plan). Arithmetic and
    // first-max tiebreak are replicated exactly (CentroidKernel.nearest).
    val pos = GraftFunctions.nearestCentroid(col(vecCol),
      entries.map(_._2.map(_.toDouble).toArray))
    df.select(col(idCol).as("id"), col(vecCol).as("v"),
      element_at(lit(cids), pos + 1).as("centroid"))
  }

  /** inverted lists for a corpus of `n` vectors: `ceil(sqrt n)` — the
    * standard IVF balance point (probe cost ≈ list size ≈ √n, so query
    * work grows as √n instead of n). sqrt is correctly rounded IEEE on
    * every engine, so derived sizings replay exactly. */
  def nlistFor(n: Long): Int = math.max(1, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toInt)

  /** probes for a given `nlist`: a quarter of the lists (recall-leaning
    * default; tune down for latency). */
  def nprobeFor(nlist: Int): Int = math.max(1, (nlist + 3) / 4)

  /** [[ivfBuild]] with corpus-derived `nlist` — one count() sizes the
    * index to √n, the sizing that keeps per-query work sub-linear as the
    * corpus scales. */
  def ivfBuildAuto(
      df: DataFrame,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): IvfIndex =
    ivfBuild(df, nlistFor(df.count()), refineIterations, vecCol, idCol)

  def ivfBuild(
      df: DataFrame,
      nlist: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): IvfIndex = {
    GraftFunctions.register(df.sparkSession)
    var cents: Map[Long, Seq[Float]] = df.orderBy(col(idCol)).limit(nlist).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap

    var assigned = assignByProjection(df, cents, vecCol, idCol)
    for (_ <- 0 until refineIterations) {
      // per-cluster elementwise mean: explode components, average, regroup.
      // Means are rounded to 6 dp before the float cast so the result is
      // independent of partial-aggregation order (reproducible across
      // partitionings and engines — the oracle replays this exactly).
      // Known residual risk (accepted): if a mean lands within float-sum
      // noise of a 0.5e-6 rounding boundary, the 6-dp value can still flip
      // between partitionings/engines and cascade into different centroids;
      // not observed at any tested SF, and recall-level behavior is covered
      // by the PipelineSpec planted-neighbour cases either way.
      val means = assigned
        .select(col("centroid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("centroid"), col("i"))
        .agg(round(avg(col("x")), 6).as("m"))
        .groupBy(col("centroid"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))), s => s("m").cast("float")).as("cvec"))
      cents = means.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
      assigned = assignByProjection(df, cents, vecCol, idCol)
    }
    IvfIndex(assigned, cents)
  }

  /**
   * IVF index: take `nlist` deterministic seed vectors as coarse centroids
   * (a k-means step would refine them; seeds suffice for a recall-tunable
   * index), assign every vector to its nearest centroid in one shuffle-free
   * projection. Returns the assignment DataFrame — at scale this is
   * written bucketed-by-centroid so probes touch only `nprobe` files.
   */
  def ivfAssign(
      df: DataFrame,
      nlist: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val cents: Map[Long, Seq[Float]] = df.orderBy(col(idCol)).limit(nlist).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assignByProjection(df, cents, vecCol, idCol)
  }

  /**
   * Persist an IVF index partitioned by centroid — the real 100 TB layout:
   * each inverted list is its own parquet directory, so a probe reads
   * `nprobe`/`nlist` of the corpus from disk (directory-level partition
   * pruning, no row-level filtering of unprobed lists). Centroid vectors
   * ride along in a `_centroids` side table.
   */
  def ivfWrite(index: IvfIndex, path: String): Unit = {
    index.assigned.write.partitionBy("centroid").mode("overwrite").parquet(path)
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.toSeq.map { case (cid, v) => (cid, v) }
      .toDF("centroid", "vec").write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Reload a persisted IVF index. The assignment scan stays lazy — probes
    * against it prune to the probed `centroid=` directories. */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/_centroids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    IvfIndex(spark.read.parquet(path), cents)
  }

  /** driver-side cosine with the same left-to-right dim-order folds the
    * SQL oracle replays (`.sum` = foldLeft) — probe selection must agree
    * bit-for-bit across engines. */
  private def cosSeq(a: Seq[Float], b: Seq[Float]): Double = {
    val d  = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
    d / (na * nb)
  }

  /** the `nprobe` centroid ids cosine-closest to the query, ties by cid
    * ascending — map iteration order must never decide which partitions
    * get probed. */
  private def probeList(cents: Map[Long, Seq[Float]], queryVec: Seq[Float], nprobe: Int): Seq[Long] =
    cents.toSeq.sortBy { case (cid, v) => (-cosSeq(v, queryVec), cid) }
      .take(nprobe).map(_._1)

  /** IVF top-k: probe the `nprobe` centroids closest to the query. */
  def ivfTopK(
      assigned: DataFrame,
      centroidVecs: Map[Long, Seq[Float]],
      queryVec: Seq[Float],
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val probed = probeList(centroidVecs, queryVec, nprobe)
    GraftFunctions.register(assigned.sparkSession)
    val q = lit(queryVec.map(_.toDouble).toArray)
    assigned
      .filter(col("centroid").isin(probed: _*)) // partition pruning at scale
      .select(col("id"), (fdot(col("v"), q) / (fnorm(col("v")) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col("id"))
      .limit(k)
  }

  // ---- product quantization ----------------------------------------------

  /** PQ codebook + encoded corpus: `codes` = (`id`, `codes` array<int> of
    * `m` sub-codes); `cents(j)(c)` = sub-centroid `c` of subspace `j`
    * (`dsub` floats each). */
  final case class PqIndex(codes: DataFrame, cents: Array[Array[Array[Float]]],
                           m: Int, dsub: Int, kpq: Int)

  /**
   * PRODUCT QUANTIZATION index (Jégou et al. 2011, TPAMI "Product
   * quantization for nearest neighbor search"): split the `m*dsub`-dim
   * space into `m` subspaces, quantize each subspace to `kpq` sub-centroids,
   * and store each vector as `m` small codes — `m*log2(kpq)` bits instead
   * of `4*dim` bytes (this configuration: 8 ints vs 256 bytes of floats;
   * packed, 4 bytes). The compression is what lets a 100 TB embedding
   * corpus's index live in cluster RAM while IVF/LSH still scan raw
   * vectors from disk.
   *
   * Codebook: the sub-vectors of the first `kpq` vectors by id — the same
   * deterministic seeds-suffice choice as [[ivfAssign]] (a Lloyd pass per
   * subspace would tighten cells; seeds keep the build one scan and the
   * oracle replayable). The codebook is `m*kpq*dsub` floats — driver-side
   * by construction (a bounded `kpq`-row collect), broadcast as an
   * expression literal. Encoding is ONE kernel pass per row
   * ([[graft.functions.PqKernel]]), plan size independent of the codebook.
   */
  def pqBuild(
      df: DataFrame,
      m: Int = 8,
      kpq: Int = 16,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): PqIndex = {
    val dim = inferDim(df, vecCol)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub  = dim / m
    val seeds = df.orderBy(col(idCol)).limit(kpq)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    require(seeds.length == kpq, s"corpus has ${seeds.length} < kpq=$kpq vectors")
    val cents = Array.tabulate(m, kpq, dsub)((j, c, i) => seeds(c)(j * dsub + i))
    val flat  = new Array[Double](m * kpq * dsub)
    for (j <- 0 until m; c <- 0 until kpq; i <- 0 until dsub)
      flat((j * kpq + c) * dsub + i) = cents(j)(c)(i).toDouble
    GraftFunctions.register(df.sparkSession)
    val codes = df.select(col(idCol).as("id"),
      GraftFunctions.pqEncode(col(vecCol), flat, m, dsub, kpq).as("codes"))
    PqIndex(codes, cents, m, dsub, kpq)
  }

  /**
   * PQ top-k by asymmetric distance computation (ADC): precompute the
   * `m × kpq` table of squared L2 distances from the RAW query sub-vectors
   * to every sub-centroid (driver-side — it is codebook-sized), then each
   * candidate's approximate distance is `m` table lookups summed in
   * subspace order — no vector is ever decoded. Returns the `k` smallest
   * `(id, adist)`.
   *
   * The lookup-sum is a codegen'd fold over the code array against the
   * broadcast table literal; ties break by id. Table entries and the
   * ascending-subspace sum are fixed IEEE op chains, so the DuckDB oracle
   * replays them bit-identically ([[graft.OracleGen.pqTopKSql]]).
   */
  /** the query's `m × kpq` squared-L2 distance table (ascending-dim
    * accumulation per entry — the order the oracle replays). */
  private def adcTable(ix: PqIndex, queryVec: Seq[Float]): Array[Double] = {
    require(queryVec.length == ix.m * ix.dsub,
      s"query dim ${queryVec.length} != ${ix.m * ix.dsub}")
    val tbl = new Array[Double](ix.m * ix.kpq)
    for (j <- 0 until ix.m; c <- 0 until ix.kpq) {
      var d = 0.0
      var i = 0
      while (i < ix.dsub) {
        val t = queryVec(j * ix.dsub + i).toDouble - ix.cents(j)(c)(i).toDouble
        d += t * t
        i += 1
      }
      tbl(j * ix.kpq + c) = d
    }
    tbl
  }

  /** ADC of a code-array column against the broadcast table literal:
    * `m` lookups summed in subspace order (codegen'd fold). */
  private def adcDistance(codes: Column, tbl: Array[Double], kpq: Int): Column = {
    val lut = lit(tbl)
    aggregate(
      transform(codes, (c, j) => element_at(lut, j * kpq + c + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  def pqTopK(
      ix: PqIndex,
      queryVec: Seq[Float],
      k: Int,
      dp: Int = 4
  ): DataFrame = {
    val adist = adcDistance(col("codes"), adcTable(ix, queryVec), ix.kpq)
    ix.codes.select(col("id"), adist.as("adist"))
      .orderBy(col("adist").asc, col("id"))
      .limit(k)
      .select(col("id"), round(col("adist"), dp).as("adist"))
  }

  /**
   * PQ + EXACT RE-RANK — the standard two-stage retrieval: ADC over the
   * compressed codes selects `nCand` candidates (cheap, whole corpus),
   * then exact cosine against the RAW vectors of only those candidates
   * picks the final `k` — quantization error capped at the re-rank
   * boundary instead of the result list. The candidate id list broadcasts
   * (it is `nCand` rows by construction); only the candidates' vectors are
   * re-read.
   */
  def pqTopKRerank(
      ix: PqIndex,
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      nCand: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    GraftFunctions.register(df.sparkSession)
    val cand = pqTopK(ix, queryVec, nCand).select(col("id"))
    val q    = lit(queryVec.map(_.toDouble).toArray)
    df.join(broadcast(cand), df(idCol) === cand("id"))
      .select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), dp).as("sim"))
  }

  /**
   * Matryoshka / prefix-dimension progressive retrieval (Kusupati et al.
   * 2022, "Matryoshka Representation Learning"): MRL-trained embeddings
   * pack coarse semantics into their leading dimensions, so the shortlist
   * scores cosine over only the first `dPrefix` components — a
   * `dPrefix/dim` fraction of the flops, and of the BYTES when the prefix
   * is stored as its own column/file (the production layout; here the
   * slice of the full vector keeps the gate honest about arithmetic, not
   * storage). Exact full-dimension cosine then re-ranks the `nCand`
   * shortlist. Same two-stage shape as [[pqTopKRerank]]: one fused
   * scan + TakeOrdered for the shortlist, a broadcast semi-join touching
   * `nCand` raw vectors for the re-rank.
   */
  def matryoshkaTopK(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      nCand: Int,
      dPrefix: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    require(dPrefix > 0 && dPrefix <= queryVec.length, "dPrefix must be in [1, dim]")
    GraftFunctions.register(df.sparkSession)
    val qPre = lit(queryVec.take(dPrefix).map(_.toDouble).toArray)
    val pre  = slice(col(vecCol), 1, dPrefix)
    val cand = df
      .select(col(idCol).as("id"), (fdot(pre, qPre) / (fnorm(pre) * fnorm(qPre))).as("psim"))
      .orderBy(col("psim").desc, col("id"))
      .limit(nCand)
      .select(col("id"))
    val q = lit(queryVec.map(_.toDouble).toArray)
    df.join(broadcast(cand), df(idCol) === cand("id"))
      .select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), dp).as("sim"))
  }

  /**
   * 1-bit (sign) quantized two-stage retrieval — the far end of the
   * compression spectrum after int8 and PQ: each dimension keeps only its
   * sign (32× smaller than fp32 stored packed), the shortlist ranks by
   * HAMMING distance between sign patterns (for mean-centered embeddings,
   * sign agreement is a monotone proxy for cosine — the same fact
   * hyperplane LSH exploits with random projections), and exact fp cosine
   * re-ranks the `nCand` candidates. The sign-mismatch count is pure
   * integer arithmetic (`zip_with` + `filter` + `size`, all codegen'd) —
   * bit-for-bit portable across engines with no rounding pinning. At
   * 100 TB pack the signs into `ceil(dim/64)` longs and XOR/bit_count;
   * the gate checks the semantics on the unpacked form.
   */
  def oneBitTopKRerank(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      nCand: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    GraftFunctions.register(df.sparkSession)
    val q   = lit(queryVec.map(_.toDouble).toArray)
    val ham = size(filter(
      zip_with(col(vecCol), q, (x, y) => (x >= 0) =!= (y >= 0)), b => b))
    val cand = df
      .select(col(idCol).as("id"), ham.as("ham"))
      .orderBy(col("ham").asc, col("id"))
      .limit(nCand)
      .select(col("id"))
    df.join(broadcast(cand), df(idCol) === cand("id"))
      .select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), dp).as("sim"))
  }

  /**
   * Scalar-quantized (int8) two-stage retrieval — the other standard
   * compression point next to PQ: per-vector symmetric quantization
   * (`scale = 127/max|x_i|`, one byte per dimension stored at scale =
   * 4× smaller than fp32, no codebook to train), integer-dot shortlist,
   * exact fp re-rank. All shortlist arithmetic is integral-valued doubles
   * (exact) plus one IEEE-correctly-rounded sqrt per norm — so the scores,
   * unlike PQ's trained codebooks, are engine-portable with no rounding
   * pinning. Here the quantized form is derived inline from the raw
   * vector (the gate checks arithmetic, not storage); at 100 TB the
   * quantized column is precomputed and persisted, and the raw vectors
   * are only fetched for the `nCand` re-rank rows.
   */
  def int8TopKRerank(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      nCand: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    GraftFunctions.register(df.sparkSession)
    // quantized-cosine shortlist in ONE compiled pass per row — the HOF
    // spelling (transform + array_max inside the lambda) evaluated
    // interpreted at O(dim²) per row, three times per row (§4); the kernel
    // is bit-identical (spec'd) so the shortlist is the same set
    val zq = graft.functions.Int8QSimKernel.quantize(queryVec.map(_.toDouble).toArray)
    val cand = df
      .select(col(idCol).as("id"), GraftFunctions.int8QSim(col(vecCol), zq).as("qsim"))
      .orderBy(col("qsim").desc, col("id"))
      .limit(nCand)
      .select(col("id"))
    val q = lit(queryVec.map(_.toDouble).toArray)
    df.join(broadcast(cand), df(idCol) === cand("id"))
      .select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), dp).as("sim"))
  }

  /**
   * IVF-PQ — the production ANN composition (FAISS's IVFPQ / the Jégou
   * et al. 2011 IVFADC system): a coarse quantizer ([[ivfAssign]]'s
   * deterministic seed centroids) prunes the corpus to the `nprobe`
   * cosine-closest inverted lists, and PQ ADC ranks ONLY those lists'
   * members — per query: `nprobe/nlist` of the data touched, `m` table
   * lookups per candidate, no vector decoded.
   *
   * Shape: one corpus scan (coarse-assign kernel → probed-list filter →
   * PQ-encode kernel → ADC fold, all in one codegen stage) + one
   * TakeOrdered. At 100 TB the assignment+codes are precomputed and
   * persisted `partitionBy(centroid)` ([[ivfWrite]]'s layout, codes in
   * place of raw vectors), so the filter becomes directory-level partition
   * pruning and the scan reads `nprobe` lists of 4-byte codes; the
   * query-time arithmetic here is identical either way.
   */
  def ivfPqTopK(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      kpq: Int = 16,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 4
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val cents: Map[Long, Seq[Float]] = df.orderBy(col(idCol)).limit(nlist).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val probed = probeList(cents, queryVec, nprobe)
    val ix     = pqBuild(df, m, kpq, vecCol, idCol)
    val flat   = new Array[Double](ix.m * ix.kpq * ix.dsub)
    for (j <- 0 until ix.m; c <- 0 until ix.kpq; i <- 0 until ix.dsub)
      flat((j * ix.kpq + c) * ix.dsub + i) = ix.cents(j)(c)(i).toDouble
    val tbl = adcTable(ix, queryVec)
    assignByProjection(df, cents, vecCol, idCol)
      .filter(col("centroid").isin(probed: _*))
      .select(col("id"),
        adcDistance(GraftFunctions.pqEncode(col("v"), flat, ix.m, ix.dsub, ix.kpq),
          tbl, ix.kpq).as("adist"))
      .orderBy(col("adist").asc, col("id"))
      .limit(k)
      .select(col("id"), round(col("adist"), dp).as("adist"))
  }

  // ---- semantic dedup ----------------------------------------------------

  /**
   * SemDeDup-style semantic deduplication (cf. Abbas et al. 2023,
   * arXiv:2303.09540): k-means-cluster the embedding space ([[ivfBuild]] —
   * deterministic seeds + Lloyd refinement), then within each cluster drop
   * every vector whose cosine similarity to a smaller-id cluster member is
   * ≥ `tau` — the smaller id survives as the representative. Returns every
   * input id with its cluster and a `kept` flag.
   *
   * Scale shape — the embedding-space analogue of banded text dedup:
   * pairwise cosine runs ONLY inside a cluster, so with nlist ≈ √n the
   * quadratic term is bounded at ~n per cluster-pairing overall; the
   * self-join shuffles each side once on `centroid` (at 100 TB the
   * assignment is written `partitionBy(centroid)` via [[ivfWrite]], making
   * the join co-located and shuffle-free). A pathologically dense cluster
   * (all members mutually ≥ tau) degrades to its own size squared —
   * exactly the condition under which almost all of it is dropped; raise
   * `nlist` (finer clusters) rather than capping, since unlike LSH buckets
   * a k-means cluster IS the semantic neighborhood being deduped.
   */
  /**
   * Cluster-balanced (diversity) selection — the composition complement
   * of [[semDedup]]: assign every vector to its nearest (once-refined)
   * centroid, rank within each cluster by PROTOTYPICALITY (cosine to the
   * cluster centroid, id tiebreak) and keep the top `perCluster` — caps
   * any one semantic region's contribution to a training mix, the
   * cluster-balanced subset selection used to diversify web-crawl slices.
   * The per-cluster rank is WindowGroupLimit-pruned map-side; driver
   * state is the `nlist` centroid vectors (6-dp-snapped means, so both
   * engines rank against identical floats).
   */
  def clusterBalancedSample(
      df: DataFrame,
      nlist: Int,
      perCluster: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types._
    val ix = ivfBuild(df, nlist, refineIterations, vecCol, idCol)
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(ix.centroids.toSeq.sortBy(_._1).map { case (cid, v) =>
        org.apache.spark.sql.Row(cid, v.map(_.toDouble))
      }: _*)
    val seeds = df.sparkSession.createDataFrame(seedRows,
      StructType(Seq(StructField("centroid", LongType), StructField("cv", ArrayType(DoubleType)))))
    val proto = fdot(col("v"), col("cv")) / (fnorm(col("v")) * fnorm(col("cv")))
    val w = Window.partitionBy(col("centroid")).orderBy(col("proto").desc, col("id"))
    ix.assigned.join(broadcast(seeds), "centroid")
      .withColumn("proto", proto)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCluster)
      .select(col("id"), col("centroid"), round(col("proto"), 4).as("proto_sim"))
  }

  /**
   * RECALL@K EVALUATION: how much of the exact top-k an approximate
   * retrieval found — `(k, hits, recall)` in one row. The evaluation
   * harness every ANN deployment runs before trusting an index: feed it
   * any `(approx, exact)` result pair (IVF vs brute force, LSH vs brute
   * force, a quantized shortlist vs its float baseline). Declarative —
   * a left join + one aggregation, no driver collect — so it composes
   * into scheduled index-health checks over persisted indexes.
   */
  def recallAtK(
      approx: DataFrame,
      exact: DataFrame,
      idCol: String = "id"
  ): DataFrame =
    exact.select(col(idCol))
      .join(approx.select(col(idCol).as("__a")), col(idCol) === col("__a"), "left_outer")
      .agg(count(lit(1)).as("k"), count(col("__a")).as("hits"))
      .select(col("k"), col("hits"),
        round(col("hits").cast("double") / col("k").cast("double"), 4).as("recall"))

  /**
   * CLUSTER-QUALITY REPORT: per k-means cluster (the [[ivfBuild]]
   * assignment), its member count and COHESION — the mean cosine of the
   * members to their refined centroid. The inspection panel behind
   * [[semDedup]]/[[clusterBalancedSample]] threshold choices: low-cohesion
   * clusters are where semantic dedup over- or under-fires.
   *
   * The mean is fixed-point portable: each cosine snaps to an integer at
   * 1e-6 (`round(sim·10⁶)::long`), the per-cluster sum is exact integer
   * arithmetic (order-free), and ONE final division produces the 6-dp
   * cohesion — no float-summation-order sensitivity on either engine.
   * One broadcast join + one |nlist|-row aggregation on top of the
   * assignment scan.
   */
  def clusterReport(
      df: DataFrame,
      nlist: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.types._
    val ix = ivfBuild(df, nlist, refineIterations, vecCol, idCol)
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(ix.centroids.toSeq.sortBy(_._1).map { case (cid, v) =>
        org.apache.spark.sql.Row(cid, v.map(_.toDouble))
      }: _*)
    val seeds = df.sparkSession.createDataFrame(seedRows,
      StructType(Seq(StructField("centroid", LongType), StructField("cv", ArrayType(DoubleType)))))
    val sim = fdot(col("v"), col("cv")) / (fnorm(col("v")) * fnorm(col("cv")))
    ix.assigned.join(broadcast(seeds), "centroid")
      .select(col("centroid"), round(sim * lit(1000000.0)).cast("long").as("__s6"))
      .groupBy(col("centroid"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("__s6")).cast("double") / (count(lit(1)).cast("double") * 1000000.0), 6)
          .as("cohesion"))
  }

  /**
   * CLUSTER OUTLIERS — the members FARTHEST from their own centroid,
   * z-scored within their cluster: `z = (cos − mean_c)/std_c` over each
   * cluster's member-to-centroid cosines, bottom-`k` across the corpus.
   * The embedding-quality audit next to [[clusterReport]]'s per-cluster
   * cohesion: a very negative z marks a vector the coarse quantizer
   * placed badly (mislabeled point, encoder glitch, genuine novelty) —
   * the candidates a curation pass re-embeds, re-labels, or routes to
   * human review first.
   *
   * Determinism: member cosines snap to 1e-6 FIXED POINT (the
   * [[clusterReport]] spelling), so per-cluster n/Σ are exact int64 and
   * Σ² folds exactly in decimal(38,0) — mirroring the oracle's HUGEINT;
   * each s6² is ~1e12, so an int64 fold would silently wrap past ~9.2M
   * members — before one cast to double; mean/variance/z are then a
   * fixed arithmetic tree; the bottom-k orders by the unrounded z with
   * id ties. Singleton and zero-variance
   * clusters are excluded (no z exists).
   *
   * Scale shape: the [[ivfBuild]] assignment + one broadcast centroid
   * join + one partial-aggregated per-cluster moment pass + a TakeOrdered
   * bottom-k. Nothing pairwise, nothing per-cluster beyond 3 numbers.
   */
  def clusterOutliers(
      df: DataFrame,
      nlist: Int,
      k: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    import org.apache.spark.sql.types._
    require(k >= 1, "k must be >= 1")
    val ix = ivfBuild(df, nlist, refineIterations, vecCol, idCol)
    val seedRows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(ix.centroids.toSeq.sortBy(_._1).map { case (cid, v) =>
        org.apache.spark.sql.Row(cid, v.map(_.toDouble))
      }: _*)
    val seeds = df.sparkSession.createDataFrame(seedRows,
      StructType(Seq(StructField("centroid", LongType), StructField("cv", ArrayType(DoubleType)))))
    val sim = fdot(col("v"), col("cv")) / (fnorm(col("v")) * fnorm(col("cv")))
    val scored = ix.assigned.join(broadcast(seeds), "centroid")
      .select(col("id"), col("centroid"),
        round(sim * lit(1000000.0)).cast("long").as("__s6"))
      .pinned // one pass feeds both the moment aggregation and the z join
    val moments = scored.groupBy(col("centroid"))
      .agg(count(lit(1)).as("__n"), sum(col("__s6")).as("__ss"),
        sum((col("__s6") * col("__s6")).cast("decimal(38,0)")).cast("double").as("__qq"))
    val nD  = col("__n").cast("double")
    val ssD = col("__ss").cast("double")
    val out = scored.join(moments, "centroid")
      .withColumn("__mean", ssD / nD)
      .withColumn("__var", (col("__qq") - ssD * ssD / nD) / (col("__n") - 1L).cast("double"))
      .filter(col("__n") > 1L && col("__var") > 0.0)
      .withColumn("__z", (col("__s6").cast("double") - col("__mean")) / sqrt(col("__var")))
      .orderBy(col("__z"), col("id"))
      .limit(k)
      .select(col("id").as(idCol), col("centroid"),
        round(col("__s6").cast("double") / 1000000.0, 6).as("sim"),
        round(col("__z"), 6).as("z"))
    out // scored's pin rides the result lineage; the caller's free releases it
  }

  /**
   * CLUSTER PURITY against ground-truth labels — per k-means cluster, the
   * majority label's share: the label-side health check of the IVF/
   * SemDeDup clustering ([[clusterReport]] scores geometric cohesion;
   * this scores semantic coherence — a cluster mixing labels dilutes
   * [[semDedup]]'s within-cluster comparisons and [[clusterBalancedSample]]'s
   * coverage). Ties on the majority count resolve to the smaller label.
   * All counts exact int64; one division per cluster, snapped to 6 dp.
   *
   * Scale shape: the [[ivfBuild]] assignment (its own bounded paths) +
   * one id-keyed label join + two partial-aggregated groupBys — the
   * argmax is `min(struct(-count, label))`, never a window.
   */
  def clusterPurity(
      df: DataFrame,
      nlist: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      labelCol: String = "label"
  ): DataFrame = {
    val ix  = ivfBuild(df, nlist, refineIterations, vecCol, idCol)
    val lab = df.select(col(idCol).as("id"), col(labelCol).cast("long").as("__l"))
    ix.assigned.join(lab, "id")
      .groupBy(col("centroid"), col("__l")).agg(count(lit(1)).as("c"))
      .groupBy(col("centroid"))
      .agg(
        sum(col("c")).as("n_vectors"),
        min(struct((-col("c")).as("nc"), col("__l").as("l"))).as("m"))
      .select(col("centroid"), col("n_vectors"),
        col("m.l").as("top_label"), (-col("m.nc")).as("top_count"),
        round((-col("m.nc")).cast("double") / col("n_vectors").cast("double"), 6).as("purity"))
  }

  def semDedup(
      df: DataFrame,
      tau: Double,
      nlist: Int,
      refineIterations: Int = 1,
      vecCol: String = "embedding",
      idCol: String = "vec_id"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val assigned = ivfBuild(df, nlist, refineIterations, vecCol, idCol).assigned
      // feeds BOTH self-join sides and the final kept-flag projection —
      // materialize once so the scan + centroid-assignment kernel doesn't
      // run three times (at scale, persist via ivfWrite partitioned by
      // centroid and run [[semDedupWith]] over the reloaded index instead:
      // the self-join is then co-located per centroid directory)
      .pinned
    semDedupWith(assigned, tau)
  }

  /**
   * [[semDedup]] over a PREBUILT assignment (`(id, v, centroid)` — e.g.
   * [[ivfRead]] of a persisted, centroid-partitioned index): the 100 TB
   * path. The index is built and written once; dedup (and re-dedup at a
   * different tau) never re-runs k-means, and the within-cluster self-join
   * reads co-located centroid partitions.
   */
  def semDedupWith(assignedIn: DataFrame, tau: Double): DataFrame = {
    GraftFunctions.register(assignedIn.sparkSession)
    // norms once per vector, pairs pay one dot product each
    val assigned = assignedIn.select(col("id"), col("centroid"), col("v"), fnorm(col("v")).as("n"))
    val a = assigned.alias("a")
    val b = assigned.alias("b")
    val dropped = a
      .join(b, col("a.centroid") === col("b.centroid") && col("a.id") < col("b.id"))
      .filter(round(fdot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n")), 4) >= tau)
      .select(col("b.id").as("id"))
      .distinct()
    assigned
      .select(col("id"), col("centroid"))
      .join(dropped.withColumn("dup", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), col("centroid"), col("dup").isNull.as("kept"))
  }

  /**
   * PCA-REDUCED TWO-STAGE RETRIEVAL — "reduce then index" made concrete:
   * project the corpus to its top `kDims` principal coordinates
   * ([[pcaProject]]), shortlist `nCand` candidates by cosine in the
   * REDUCED space (a `kDims`-component fold instead of a full-dimension
   * one — the scan the reduced index replaces), then re-rank the
   * candidates by exact full-dimension cosine. [[matryoshkaTopK]] does
   * the same two-stage with prefix dimensions a model was TRAINED to
   * concentrate; this is the classical post-hoc alternative when the
   * encoder wasn't (PCA concentrates the variance instead).
   *
   * Determinism: projected coordinates come 6-dp-snapped off
   * [[pcaProject]], so the shortlist cosine folds identical doubles on
   * both engines; the re-rank is `ann_topk`'s proven cosine/round
   * spelling. The query's projected vector is one bounded head() — the
   * same one-row-collect class as every literal-query gate.
   */
  def pcaTopKRerank(
      df: DataFrame,
      qid: Long,
      k: Int,
      nCand: Int,
      kDims: Int = 4,
      iters: Int = 12,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    pcaRerankOn(pcaProject(df, kDims, iters, idCol, vecCol), df, qid, k, nCand, kDims, vecCol, idCol, dp)
  }

  /** [[pcaTopKRerank]] off a prebuilt [[PcaModel]] (`kDims ≤ model.kMax`):
    * the reduced-scan shortlist reads the shared snapped relation instead
    * of re-fitting the basis per call. */
  def pcaTopKRerankFrom(
      model: Option[PcaModel],
      df: DataFrame,
      qid: Long,
      k: Int,
      nCand: Int,
      kDims: Int = 4,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 3
  ): DataFrame = {
    require(nCand >= k, "nCand must be >= k")
    pcaRerankOn(pcaProjectFrom(model, df, kDims, idCol), df, qid, k, nCand, kDims, vecCol, idCol, dp)
  }

  private def pcaRerankOn(
      proj: DataFrame, df: DataFrame, qid: Long, k: Int, nCand: Int,
      kDims: Int, vecCol: String, idCol: String, dp: Int
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val pv = proj.select(col(idCol).as("id"),
      array((1 to kDims).map(i => col(s"pc$i")): _*).as("__v"))
      .localCheckpoint(true) // the query row and the shortlist scan share one projection
    // the pv checkpoint truncates lineage, so pcaProject's internal pin
    // (the snapped vector column) would otherwise leak — free it now
    Checkpoints.free(proj)
    val qRow = pv.filter(col("id") === qid).head(1)
    require(qRow.nonEmpty, s"query id $qid not found")
    val qv = lit(qRow(0).getSeq[Double](1).toArray)
    // an all-zero projection would make psim 0/0 = NaN, and NaN sorts
    // ABOVE every real double in a descending order — pin it to -1 so a
    // degenerate vector can never crowd real candidates out of the shortlist
    val cand = pv
      .select(col("id"), when(fnorm(col("__v")) === 0, lit(-1.0))
        .otherwise(fdot(col("__v"), qv) / (fnorm(col("__v")) * fnorm(qv))).as("psim"))
      .orderBy(col("psim").desc, col("id"))
      .limit(nCand)
      .select(col("id"))
    val qFull = df.filter(col(idCol) === qid).select(col(vecCol)).head().getSeq[Float](0)
    val q = lit(qFull.map(_.toDouble).toArray)
    df.join(broadcast(cand), df(idCol) === cand("id"))
      .select(col(idCol), (fdot(col(vecCol), q) / (fnorm(col(vecCol)) * fnorm(q))).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("sim"), dp).as("sim"))
  }

  /**
   * K-CENTER GREEDY CORESET over the embedding column (farthest-point
   * traversal, the classic 2-approximation to the k-center cover): start
   * from the smallest id, then `k−1` times pick the vector FARTHEST from
   * every center chosen so far — the maximally-diverse subset selection
   * used for active-learning seed sets, eval-panel picking and
   * diversity-first data pruning (the opposite end of the spectrum from
   * [[semDedup]], which removes the redundant middle). Returns the
   * selection order `(rank, vec_id, dist)` — `dist` is the pick's
   * min-distance to the prior centers, a non-increasing sequence that
   * doubles as the coverage-radius curve (stop where it elbows).
   *
   * Determinism: distances are the sequential per-dim Euclidean fold
   * (identical IEEE sequence in the oracle's `list_distance`), the
   * min-over-centers is order-free, and each candidate's min-distance
   * SNAPS to `dp` BEFORE the argmax (ties by id) — so a 1-ulp fold
   * difference can never flip a pick.
   *
   * Scale shape: k full scans, each against ≤ k BROADCAST literal center
   * vectors (k·dim doubles — the bounded-collect class, enforced k ≤ 64);
   * the argmax is one `TakeOrdered(1)`. No pairwise matrix, no shuffle
   * beyond the top-1 reductions. Each scan's min-distance is ONE compiled
   * kernel pass ([[graft.functions.MinEuclKernel]], round 17) — the former
   * per-center `zip_with`/`aggregate` chain evaluated its lambdas
   * INTERPRETED per element and re-read the vector once per center.
   */
  def kCenterCoreset(
      df: DataFrame,
      k: Int,
      vecCol: String = "embedding",
      idCol: String = "vec_id",
      dp: Int = 6
  ): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k (k scans, k collected vectors)")
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val seed = src.orderBy(col("id")).head(1)
    if (seed.isEmpty) return Seq.empty[(Long, Long, Double)].toDF("rank", idCol, "dist")
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Float](1).iterator.map(_.toDouble).toArray
    val picks = scala.collection.mutable.ArrayBuffer((seed(0).getLong(0), 0.0))
    var centers = Vector(vecOf(seed(0)))
    var exhausted = false // fewer than k vectors: stop issuing empty-remainder scans
    var round_ = 2
    graft.functions.GraftFunctions.register(spark)
    while (round_ <= k && !exhausted) {
      val minD = graft.functions.GraftFunctions.minEuclDist(col("v"), centers)
      val chosenIds = picks.map(_._1).toSeq
      val best = src.filter(!col("id").isin(chosenIds: _*))
        .select(col("id"), col("v"), round(minD, dp).as("d"))
        .orderBy(col("d").desc, col("id")).head(1)
      best.headOption match {
        case Some(r) =>
          picks += ((r.getLong(0), r.getDouble(2)))
          centers :+= vecOf(r)
        case None => exhausted = true
      }
      round_ += 1
    }
    picks.toSeq.zipWithIndex
      .map { case ((id, d), i) => (i + 1L, id, d) }
      .toDF("rank", idCol, "dist")
  }

  /**
   * RANKING-QUALITY EVALUATION of a retrieval result against label
   * relevance — per query: ln-discount DCG, nDCG, MRR and precision@k.
   * The order-sensitive half of the eval harness ([[recallAtK]] grades
   * set overlap with the exact top-k; this grades ORDER against ground
   * truth: are same-class vectors ranked first?).
   *
   * `neighbors` is any `(query_id, id, rank)` frame ([[annJoin]], an IVF
   * probe, a brute-force baseline); `labels` maps ids to classes; a
   * neighbor is relevant iff its label equals the query's. DCG uses the
   * `1/ln(rank+1)` discount — the conventional log2 rescales numerator
   * and denominator alike, so nDCG is unchanged and ln is the
   * engine-portable primitive; the ideal DCG fills the first
   * min(#relevant, k) ranks. Queries with no relevant neighbor score 0
   * across the board (never NULL); queries with no candidates at all
   * emit no row.
   *
   * Scale shape: two id-keyed label joins, one groupBy(query) with
   * k-bounded sorted-list folds — every fold ascending-rank so the
   * oracle replays the identical IEEE sequence.
   */
  def rankEval(
      neighbors: DataFrame,
      labels: DataFrame,
      k: Int,
      labelCol: String = "label",
      idCol: String = "vec_id"
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val lab = labels.select(col(idCol).as("__id"), col(labelCol).cast("long").as("__l"))
    val rel = neighbors
      .join(lab.select(col("__id").as("query_id"), col("__l").as("__ql")), "query_id")
      .join(lab.select(col("__id").as("id"), col("__l").as("__nl")), "id")
      .select(col("query_id"), col("rank"),
        (col("__ql") === col("__nl")).cast("long").as("rel"))
    val dcgOf = (rr: Column) => aggregate(rr, lit(0.0), (a, e) =>
      a + e.getField("rel").cast("double") / log(e.getField("rank").cast("double") + lit(1.0)))
    rel.groupBy(col("query_id")).agg(
        sort_array(collect_list(struct(col("rank"), col("rel")))).as("rr"),
        sum(col("rel")).as("n_rel"),
        min(when(col("rel") === 1, col("rank"))).as("__frank"))
      .select(col("query_id"), col("n_rel"),
        round(dcgOf(col("rr")), 6).as("dcg"),
        when(col("n_rel") === 0, lit(0.0)).otherwise(
          round(dcgOf(col("rr")) /
            aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))), lit(0.0),
              (a, i) => a + lit(1.0) / log(i.cast("double") + lit(1.0))), 6)).as("ndcg"),
        when(col("__frank").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("__frank").cast("double"), 6)).as("mrr"),
        round(col("n_rel").cast("double") / lit(k.toDouble), 6).as("p_at_k"))
  }

  /**
   * EMBEDDING DISTRIBUTION DRIFT between two vector sets (yesterday's
   * corpus vs today's batch, model v1 vs v2 re-embeds): the cosine
   * between the two MEAN vectors and the L2 distance between them — the
   * one-row health check that catches an encoder swap, a domain shift or
   * a pipeline bug (zeroed dims) before an index rebuild bakes it in.
   * [[graft.pipeline.TextAnalysis]] `tx_drift` is the token-side twin.
   *
   * Determinism: coordinates snap to the 1e-4 lattice so each side's
   * per-dim sums are exact int64 (one pipelined explode + partial
   * aggregation per side — d rows to the driver, the bounded-collect
   * class); the means, the ascending-dim dot/norm folds, and the final
   * divisions/sqrt are the identical IEEE sequence the oracle replays.
   * Degenerate zero-mean sides floor the cosine denominator at 1e-12.
   */
  /**
   * ISOTROPY REPORT of an embedding cloud — the representation-health
   * scalar pair behind "embeddings collapse" audits: for the UNIT-
   * normalized vectors `u`, the exact mean pairwise cosine over all
   * distinct pairs via the identity `Σ_{i≠j} u_i·u_j = ‖Σu‖² − Σ‖u‖²`
   * (one pass, never a pair join), and the centroid norm `‖mean(u)‖`
   * (≈0 for an isotropic cloud, →1 as directions collapse). A cloud
   * whose mean cosine drifts up is losing contrast — ANN shortlists and
   * [[semDedup]] thresholds silently degrade long before recall metrics
   * notice.
   *
   * Determinism: coordinates normalize on doubles (the kernel fold) and
   * SNAP to the 1e-6 lattice, so per-dim sums `S_i` and per-row `Σq²`
   * are exact int64; `ΣS_i²` AND the corpus-wide `Σq²` fold in
   * decimal(38,0) (S_i is up to n·10⁶ — its square overflows int64 long
   * before 100-TB row counts; each row's q² is ~10¹², wrapping an int64
   * sum at ~9.2M rows), and each
   * side casts to double ONCE for the final two divisions. Zero vectors
   * drop (no direction to report). n = 1 emits no pair mean (null).
   *
   * Scale shape: one row-local projection + one per-dim partial-aggregated
   * groupBy (dim rows) + two scalar aggregations — no pair join anywhere.
   */
  def isotropyReport(
      df: DataFrame,
      vecCol: String = "embedding"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    val norm = fnorm(col(vecCol))
    // compiled unit-snap: the HOF spelling embedded the norm subtree
    // inside the per-element lambda, costing O(dim²) interpreted per row
    // (§4); the kernel is the identical arithmetic in one O(dim) pass
    val q = df.filter(norm > 0.0).select(
      GraftFunctions.unitSnap(col(vecCol)).as("u"))
      .select(col("u"),
        expr("aggregate(u, 0L, (a, b) -> a + b * b)").as("__q2"),
        size(col("u")).cast("long").as("__dim"))
    // Σq² folds in decimal(38,0) like ΣS²: each unit row contributes ~1e12
    // on the 1e-6 lattice, so a plain int64 sum would wrap at ~9.2M rows —
    // far below the corpora this report targets (round-14 advice item)
    val tot = q.agg(count(lit(1)).as("n"),
      sum(col("__q2").cast("decimal(38,0)")).as("__sq2"),
      max(col("__dim")).as("dim"))
    val ss = q.select(posexplode(col("u")).as(Seq("__i", "__ui")))
      .groupBy(col("__i")).agg(sum(col("__ui")).as("__s"))
      .agg(sum(col("__s").cast("decimal(19,0)") * col("__s").cast("decimal(19,0)"))
        .as("__ss"))
    tot.crossJoin(ss).select(
      col("n"), col("dim"),
      when(col("n") > 1L,
        round((col("__ss") - col("__sq2")).cast("double") /
          (col("n").cast("double") * (col("n").cast("double") - 1.0) * lit(1e12)), 6))
        .as("mean_pair_cos"),
      round(sqrt(col("__ss").cast("double")) / (col("n").cast("double") * lit(1000000.0)), 6)
        .as("centroid_norm"))
  }

  def embeddingDrift(
      a: DataFrame,
      b: DataFrame,
      vecCol: String = "embedding"
  ): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    // BOTH sides' dim sums ride one union action (§2.6): the two scans
    // schedule concurrently inside one job instead of two sequential
    // driver round-trips; grouping by side keeps the per-side sums exact
    def snap = transform(col(vecCol),
      x => round(x.cast("double") * lit(10000.0), 0).cast("long")).as("q")
    val both = a.select(lit(0).as("__side"), snap)
      .unionAll(b.select(lit(1).as("__side"), snap))
      .select(col("__side"), posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("__side", "i").agg(count(lit(1)).as("n"), sum("qi").as("s"))
      .collect()
    def side(s: Int): Array[(Int, Long, Long)] = both.filter(_.getInt(0) == s)
      .map(r => (r.getInt(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    val sa = side(0)
    val sb = side(1)
    if (sa.isEmpty || sb.isEmpty)
      return Seq.empty[(Long, Long, Double, Double)]
        .toDF("n_a", "n_b", "mean_cosine", "mean_l2_shift")
    require(sa.length == sb.length, s"dim mismatch: ${sa.length} vs ${sb.length}")
    val nA = sa.head._2; val nB = sb.head._2
    val ma = sa.map(t => t._3.toDouble / (10000.0 * nA))
    val mb = sb.map(t => t._3.toDouble / (10000.0 * nB))
    var num = 0.0; var qa2 = 0.0; var qb2 = 0.0; var d2 = 0.0
    var i = 0
    while (i < ma.length) { // ascending-dim folds, mirrored in the oracle
      num += ma(i) * mb(i)
      qa2 += ma(i) * ma(i)
      qb2 += mb(i) * mb(i)
      d2  += (ma(i) - mb(i)) * (ma(i) - mb(i))
      i += 1
    }
    val cos = num / math.max(math.sqrt(qa2) * math.sqrt(qb2), 1e-12)
    Seq((nA, nB, cos, math.sqrt(d2))).toDF("n_a", "n_b", "__c", "__l")
      .select(col("n_a"), col("n_b"),
        round(col("__c"), 6).as("mean_cosine"),
        round(col("__l"), 6).as("mean_l2_shift"))
  }

  // ---- PCA (fixed-round power iteration over a lattice covariance) -------

  private def r6(x: Double): Double = OracleCompat.r6(x)

  /** Covariance + top-k eigenpairs of the embedding cloud; shared core of
    * [[pcaProject]] / [[pcaVarianceReport]]. Returns None on empty input.
    *
    * Engine-portable determinism, end to end:
    *  1. coordinates snap to the 1e-4 integer lattice (`round(x·10⁴)::long`)
    *     so the d dim sums and d² pair-product sums are EXACT int64
    *     aggregations — order-free; int64 holds them to ~10¹⁰ vectors at
    *     |x| ≤ 3.
    *  2. the covariance (in snapped-int space — eigenvectors are scale
    *     invariant) derives from those integer sums by one spelled-out
    *     IEEE op sequence: `Sij/n − (Si/n)·(Sj/n)`.
    *  3. `iters` power-iteration rounds run over the d×d matrix ON THE
    *     DRIVER (d² doubles — the bounded-collect class, like
    *     [[Sampling.tokenBudget]]'s bucket table), every matvec / norm /
    *     Rayleigh fold in ascending dimension order, the vector snapped
    *     to 6 dp each round and the eigenvalue before deflation
    *     (`C ← C − λ·v·vᵀ`), so the oracle's unrolled-round CTEs over
    *     dim-ordered list folds reproduce every bit, sign included. A
    *     fixed round count is the contract (cf. [[graft.operators.Graph
    *     .pageRank]]): near-degenerate eigengaps slow convergence but
    *     never determinism.
    *
    * Scale shape: ONE pipelined explode of the d² per-row products into a
    * partial aggregation — the shuffle carries d² partial sums PER
    * PARTITION (at d=64: 4096 longs), never per row. The explode could
    * halve via symmetry; full d² keeps the index arithmetic trivial.
    */
  /** The lattice snap shared by every PCA entry point: `(idCol, q)` with
    * `q` the 1e-4-lattice int64 coordinates. */
  private def pcaSnap(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
      transform(col(vecCol), x => round(x.cast("double") * lit(10000.0), 0).cast("long")).as("q"))

  private def pcaCore(
      df: DataFrame, k: Int, iters: Int, idCol: String, vecCol: String
  ): Option[(DataFrame, Array[Double], Array[Array[Double]], Array[Double], Double)] = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1 && iters <= 256, "iters must be in [1,256]")
    val snapped = pcaSnap(df, idCol, vecCol)
      .pinned // materialize the snap: the d² explode must read a stored
              // column, not re-evaluate the transform per product
    pcaSpectrum(snapped, k, iters) match {
      case None => Checkpoints.free(snapped); None
      case Some((means, comps, lams, trace)) => Some((snapped, means, comps, lams, trace))
    }
  }

  /** Covariance spectrum over a MATERIALIZED snapped relation — the driver-
    * side half of [[pcaCore]], factored out so a session-shared persisted
    * snap ([[pcaModelShared]]) runs it once for many consumers. */
  private def pcaSpectrum(
      snapped: DataFrame, k: Int, iters: Int
  ): Option[(Array[Double], Array[Array[Double]], Array[Double], Double)] = {
    val dimRows = snapped.select(posexplode(col("q")).as(Seq("i", "qi")))
      .groupBy("i").agg(count(lit(1)).as("c"), sum("qi").as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    if (dimRows.isEmpty) return None
    val d = dimRows.length
    require(k <= d, s"k=$k exceeds embedding dim $d")
    val nD = dimRows.head._2.toDouble
    val si = dimRows.map(_._3)
    // upper triangle only — the covariance is symmetric, so the dominant
    // explode halves to d(d+1)/2 products per row; keys stay in full-matrix
    // space (i*d+j), and the driver mirrors (j,i) from (i,j). Exact integer
    // sums mean the halved pass produces bit-identical covariance values.
    val prods = flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        struct((i * lit(d) + j).as("ij"),
          (element_at(col("q"), i + lit(1)) * element_at(col("q"), j + lit(1))).as("p")))))
    val ps = snapped.select(explode(prods).as("e"))
      .groupBy(col("e.ij").as("ij")).agg(sum(col("e.p")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val c = Array.tabulate(d, d)((i, j) =>
      ps(math.min(i, j) * d + math.max(i, j)).toDouble / nD -
        (si(i).toDouble / nD) * (si(j).toDouble / nD))
    var trace = 0.0
    locally { var i = 0; while (i < d) { trace += c(i)(i); i += 1 } } // pre-deflation
    val comps = Array.ofDim[Array[Double]](k)
    val lams  = Array.ofDim[Double](k)
    for (ci <- 0 until k) {
      var v = Array.fill(d)(1.0)
      for (_ <- 1 to iters) {
        val w = Array.tabulate(d) { i =>
          var acc = 0.0; var j = 0
          while (j < d) { acc += c(i)(j) * v(j); j += 1 }
          acc
        }
        var nn = 0.0
        locally { var i = 0; while (i < d) { nn += w(i) * w(i); i += 1 } }
        val nrm = math.max(math.sqrt(nn), 1e-12) // zero-matrix guard
        v = w.map(x => r6(x / nrm))
      }
      val mv = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
      var lam = 0.0
      locally { var i = 0; while (i < d) { lam += v(i) * mv(i); i += 1 } }
      val lamR = r6(lam)
      comps(ci) = v
      lams(ci) = lamR
      for (i <- 0 until d; j <- 0 until d) c(i)(j) = c(i)(j) - (lamR * v(i)) * v(j)
    }
    Some((si.map(_.toDouble / nD), comps, lams, trace))
  }

  /**
   * Session-shareable PCA model: the snapped relation persisted with FULL
   * LINEAGE (`Dataset.persist`, not `localCheckpoint` — consumers' frees
   * are no-ops on it, the [[graft.operators.Star.coPurchaseEdgesShared]]
   * discipline) plus the driver-side spectrum computed ONCE at `kMax`
   * components. Deflation is strictly sequential, so components `1..k` of
   * a `kMax`-run are bit-identical to a dedicated `k`-run for any
   * `k ≤ kMax` — one model serves projection, whitening, the variance
   * report and the reduced-scan re-rank without re-running the covariance
   * pass per consumer. At 100 TB the equivalent is fitting the reducer
   * once and persisting `(snapped table, basis)` as index artifacts.
   */
  final case class PcaModel(
      snapped: DataFrame,
      means: Array[Double],
      comps: Array[Array[Double]],
      lams: Array[Double],
      trace: Double)

  def pcaModelShared(
      df: DataFrame,
      kMax: Int,
      iters: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Option[PcaModel] = {
    require(kMax >= 1, "kMax must be >= 1")
    require(iters >= 1 && iters <= 256, "iters must be in [1,256]")
    val snapped = pcaSnap(df, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    snapped.count() // materialize once; every consumer scans the cached snap
    pcaSpectrum(snapped, kMax, iters) match {
      case None =>
        snapped.unpersist(false); None
      case Some((means, comps, lams, trace)) =>
        Some(PcaModel(snapped, means, comps, lams, trace))
    }
  }

  /** [[pcaProject]] off a prebuilt [[PcaModel]] (`k ≤ model.kMax`); `df`
    * only shapes the empty frame when the model is absent (empty input). */
  def pcaProjectFrom(
      model: Option[PcaModel],
      df: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      whiten: Boolean = false
  ): DataFrame = model match {
    case None =>
      df.limit(0).select(col(idCol) +: (1 to k).map(i => lit(0.0).as(s"pc$i")): _*)
    case Some(m) =>
      require(k >= 1 && k <= m.comps.length, s"k=$k exceeds model components ${m.comps.length}")
      m.snapped.select(col(idCol) +: pcaProjCols(m.means, m.comps, m.lams, k, whiten): _*)
  }

  /** [[pcaVarianceReport]] off a prebuilt [[PcaModel]]. */
  def pcaVarianceReportFrom(model: Option[PcaModel], spark: org.apache.spark.sql.SparkSession, k: Int): DataFrame = {
    import spark.implicits._
    model match {
      case None =>
        Seq.empty[(Long, Double, Double)].toDF("component", "eigenvalue", "explained_ratio")
      case Some(m) =>
        require(k >= 1 && k <= m.lams.length, s"k=$k exceeds model components ${m.lams.length}")
        m.lams.take(k).zipWithIndex.map { case (l, i) => ((i + 1).toLong, l, m.trace) }.toSeq
          .toDF("component", "__lam", "__tr")
          .select(col("component"),
            round(col("__lam") / lit(100000000.0), 6).as("eigenvalue"),
            round(col("__lam") / col("__tr"), 6).as("explained_ratio"))
    }
  }

  /**
   * Per-vector coordinates along the top-k principal components of the
   * embedding cloud, in ORIGINAL units (the lattice scale divides back
   * out), snapped to 6 dp — `(idCol, pc1..pck)`. This is the portable
   * core of PCA reduction before ANN indexing: project to the top
   * directions, index the small vectors ([[pcaCore]] documents the
   * determinism and scale story). The projection is one codegen'd
   * ordered fold per component over the pinned snapped column.
   */
  def pcaProject(
      df: DataFrame,
      k: Int = 2,
      iters: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      whiten: Boolean = false
  ): DataFrame = pcaCore(df, k, iters, idCol, vecCol) match {
    case None =>
      df.limit(0).select(col(idCol) +: (1 to k).map(i => lit(0.0).as(s"pc$i")): _*)
    case Some((snapped, means, comps, lams, _)) =>
      snapped.select(col(idCol) +: pcaProjCols(means, comps, lams, k, whiten): _*)
  }

  /** The per-component projection folds over a snapped relation's `q`
    * column — shared by [[pcaProject]] and [[pcaProjectFrom]]. */
  private def pcaProjCols(
      means: Array[Double], comps: Array[Array[Double]], lams: Array[Double],
      k: Int, whiten: Boolean): Seq[Column] = {
    val mLit = array(means.map(lit): _*)
    comps.take(k).zipWithIndex.map { case (v, ci) =>
      val vLit = array(v.map(lit): _*)
      val fold = aggregate(sequence(lit(0), lit(means.length - 1)), lit(0.0), (acc, i) =>
        acc + element_at(vLit, i + lit(1)) *
          (element_at(col("q"), i + lit(1)).cast("double") - element_at(mLit, i + lit(1))))
      val proj = fold / lit(10000.0)
      // whitening rescales each axis to unit variance (÷√λ in original
      // units, floored against degenerate flat axes) — the standard
      // preconditioning before cosine/L2 indexing of the reduced vectors
      val out = if (whiten) proj / lit(math.sqrt(math.max(lams(ci) / 1.0e8, 1e-12))) else proj
      round(out, 6).as(s"pc${ci + 1}")
    }.toSeq
  }

  /**
   * Spectrum summary of [[pcaProject]]'s components — `(component,
   * eigenvalue, explained_ratio)`: the eigenvalue back in original units
   * (int-space λ / 1e8) and its share of TOTAL variance (the
   * pre-deflation trace; scale cancels). The k-component cutoff this
   * reports is the dimensionality-reduction decision itself: how much of
   * the cloud's variance the reduced index preserves.
   */
  def pcaVarianceReport(
      df: DataFrame,
      k: Int = 2,
      iters: Int = 12,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    pcaCore(df, k, iters, idCol, vecCol) match {
      case None =>
        Seq.empty[(Long, Double, Double)].toDF("component", "eigenvalue", "explained_ratio")
      case Some((snapped, _, _, lams, trace)) =>
        Checkpoints.free(snapped) // the report never reads the vectors again
        lams.zipWithIndex.map { case (l, i) => ((i + 1).toLong, l, trace) }.toSeq
          .toDF("component", "__lam", "__tr")
          .select(col("component"),
            round(col("__lam") / lit(100000000.0), 6).as("eigenvalue"),
            round(col("__lam") / col("__tr"), 6).as("explained_ratio"))
    }
  }
}
