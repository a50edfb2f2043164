package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Keyword retrieval and rank fusion over the document corpus — the lexical
 * half of a training-data retrieval stack ([[Similarity]] owns the vector
 * half). BM25 is the classic probabilistic ranking function (Robertson &
 * Spärck Jones; the Okapi BM25 formulation with the Lucene `ln(1 + ...)`
 * idf, which keeps idf non-negative when a term hits more than half the
 * corpus); reciprocal rank fusion (Cormack, Clarke & Buettcher, SIGIR '09)
 * combines ranked lists using only INTEGER ranks — engine-portable by
 * construction, no score normalization needed.
 *
 * Scale shapes:
 *  - BM25 never builds the full inverted index for a query: tokens are
 *    filtered to the query's terms BEFORE any aggregation, so the shuffled
 *    relation is `(doc, query_term)` hits only. Per-term document
 *    frequencies are a ≤|terms|-row broadcast. Document length and the
 *    corpus-wide `avgdl` come from one map-side-combined count (two scalar
 *    values to the driver — bounded, like the ANN auto-sizing counts).
 *  - At 100 TB the corpus is tokenized ONCE into a persisted [[TermIndex]]
 *    (postings laid out by term for row-group pruning — the lexical
 *    [[Similarity.vectorIndex]]); queries and [[bm25Join]] batches read
 *    postings for their terms only, never the text.
 *  - Fusion ranks only the bounded top-`n` candidate lists (TakeOrdered on
 *    each side), so the rank windows run over ≤n rows — never a global
 *    single-partition window over the corpus.
 *  - Per-candidate scores are ascending-sorted sequential folds of the
 *    per-term weights ([[foldSum]]), so they are bit-identical across
 *    engines and summation orders for ANY number of query terms.
 */
object Retrieval {

  /** ascending-sorted sequential fold — the order-insensitive double sum
    * (each weight is itself a fixed IEEE op chain, so sorting + left fold
    * pins the one remaining source of cross-engine drift). Runs as the
    * native compiled kernel [[graft.functions.ArrayKernels.foldSum]]
    * (value-identical to `aggregate(array_sort(xs), 0.0, _+_)`): the
    * interpreted HOF form single-threaded AQE-coalesced scoring stages. */
  private def foldSum(xs: Column): Column = graft.functions.GraftFunctions.foldSum(xs)

  /** shared Okapi scoring over hit relations: `tf` = (extraGroupCols*,
    * idCol, __term, __tf), `dfreq` = (__term, __df), `dl` = (idCol, __dl).
    * Every scoring path — corpus scan, index, batch join (which groups by
    * the extra query id) — funds the SAME expression tree, so their
    * scores (and the DuckDB oracle replay) are bit-identical. */
  private def scoreHits(
      tf: DataFrame,
      dfreq: DataFrame,
      dl: DataFrame,
      n: Long,
      avgdl: Double,
      k1: Double,
      b: Double,
      idCol: String,
      extraGroupCols: Seq[String] = Nil
  ): DataFrame = {
    val idf = log(lit(1.0) + (lit(n.toDouble) - col("__df") + 0.5) / (col("__df") + 0.5))
    val wt  = col("__idf") * (col("__tf") * (k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("__dl") / avgdl))
    tf.join(broadcast(dfreq.withColumn("__idf", idf)), "__term")
      .join(dl, idCol)
      .groupBy((extraGroupCols :+ idCol).map(col): _*)
      .agg(foldSum(collect_list(wt)).as("score"))
  }

  /**
   * BM25 score per document over `terms` (documents matching no term are
   * absent — score 0 by definition). Tokenization is whitespace split,
   * matching the corpus convention ([[TextAnalysis.words]]).
   *
   * Arithmetic is shaped for cross-engine determinism: tf/df/dl/N are
   * exact integers, `avgdl = sum(dl)/N` is one exact division, each term's
   * weight is a fixed multiply/divide chain, and the per-document sum is a
   * sorted fold ([[foldSum]]) — bit-identical end to end.
   */
  def bm25Scores(
      docs: DataFrame,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val toks = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("__term"))
    val dl   = toks.groupBy(col(idCol)).agg(count(lit(1)).as("__dl"))
    val Array(n, sumDl) = dl.agg(count(lit(1)), sum(col("__dl"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    require(n > 0, "empty corpus")
    val tf = toks.filter(col("__term").isin(terms: _*))
      .groupBy(col(idCol), col("__term")).agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = tf.groupBy(col("__term")).agg(count(lit(1)).cast("double").as("__df"))
    scoreHits(tf, dfreq, dl, n, sumDl.toDouble / n, k1, b, idCol)
  }

  /**
   * BOOLEAN RETRIEVAL — the exact-match complement to [[bm25Scores]]'
   * ranked list: documents containing EVERY `must` term AND NONE of the
   * `mustNot` terms (classic AND/NOT postings algebra; `n_hits` reports
   * the total `must`-term occurrences for a downstream ranker). The
   * filter-first discipline of the BM25 scan applies: tokens cut to the
   * query's terms BEFORE any aggregation, so the shuffled relation is
   * query-term hits only; the NOT side is a distinct-id left-anti join
   * (never a per-token scan of the exclusion list). Exact integers only.
   */
  def booleanMatches(
      docs: DataFrame,
      must: Seq[String],
      mustNot: Seq[String] = Nil,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(must.nonEmpty, "need at least one required term")
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.words(col(textCol))).as("__term"))
    val hits = toks.filter(col("__term").isin(must: _*))
      .groupBy(col(idCol))
      .agg(count_distinct(col("__term")).as("__nm"), count(lit(1)).as("n_hits"))
      .filter(col("__nm") === must.distinct.size.toLong)
    val kept =
      if (mustNot.isEmpty) hits
      else hits.join(
        toks.filter(col("__term").isin(mustNot: _*)).select(col(idCol)).distinct(),
        Seq(idCol), "left_anti")
    kept.select(col(idCol), col("n_hits"))
  }

  // ---- persisted inverted index (the tokenize-once 100 TB path) --------

  /** Inverted-index relations: `postings` = (term, idCol, tf), `doclens` =
    * (idCol, dl), plus the two corpus scalars BM25 needs. Build once with
    * [[termIndex]], persist with [[writeTermIndex]], query forever without
    * touching the text again.
    *
    * `statsIn` optionally carries the MATERIALIZED per-term statistics
    * `(term, __df, __cf)` — document frequency and collection frequency,
    * exact longs (round 17: every indexed scoring path used to re-derive
    * df/cf from the postings with one aggregation Exchange per query;
    * a df-bearing index answers them with a filter over a vocab-sized
    * cached relation). [[termStats]] falls back to the identical
    * derivation when absent, so readers of on-disk indexes and ad-hoc
    * pinned indexes keep their former shape and values. */
  case class TermIndex(postings: DataFrame, doclens: DataFrame, n: Long, sumDl: Long,
      statsIn: Option[DataFrame] = None) {
    /** per-term `(term, __df, __cf)` — materialized when the index was
      * built for sharing, derived from the postings otherwise (same rows:
      * df = docs per term, cf = Σ tf per term, exact longs; a query's
      * term filter pushes below the fallback aggregation, the group key). */
    def termStats: DataFrame = statsIn.getOrElse(
      postings.groupBy(col("term"))
        .agg(count(lit(1)).as("__df"), sum(col("tf")).as("__cf")))
  }

  /** Tokenize the corpus into [[TermIndex]] relations. Doclens derive from
    * the postings (`dl = Σ tf`), so only ONE aggregation reads the token
    * stream; the scalars are one 2-value collect through it. The returned
    * frames are lazy — pin or persist `postings` (the gates use
    * [[graft.pipeline.Checkpoints.pin]]; [[writeTermIndex]] writes it)
    * before fanning multiple queries over them, or each materialization
    * re-tokenizes. */
  def termIndex(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): TermIndex = {
    val toks     = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
    val postings = toks.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
    val doclens  = postings.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    val Array(n, sumDl) = doclens.agg(count(lit(1)), sum(col("dl"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    TermIndex(postings, doclens, n, sumDl)
  }

  /** [[termIndex]] with the postings PINNED (eager local checkpoint)
    * before anything reads them: the corpus is tokenized exactly once,
    * and every downstream query runs against the one materialization.
    * Doclens do NOT aggregate the postings: `dl = Σ tf` is just the doc's
    * token count, so they come from a second NARROW corpus scan
    * (`size(words(text))` — no explode, no shuffle), which beats
    * re-shuffling the full term×doc postings relation by a wide margin.
    * The equality holds row-for-row: `explode` drops null arrays exactly
    * as the `isNotNull` filter does, and `split` emits every token
    * (empties included) that the postings count. [[termIndex]] by
    * contrast computes its scalars through a lazy postings frame, so a
    * caller who pins AFTERWARDS has already paid one throwaway
    * tokenization — the gates that fan several passes over one ad-hoc
    * index belong here. The pins release through [[Checkpoints.free]] on
    * any frame derived from the index (they sit in its lineage), or
    * [[Checkpoints.scoped]]. */
  def termIndexPinned(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): TermIndex = {
    import graft.pipeline.Checkpoints.PinOps
    val toks     = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
    val postings = toks.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf")).pinned
    val doclens  = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(TextAnalysis.words(col(textCol))).cast("long").as("dl")).pinned
    val Array(n, sumDl) = doclens.agg(count(lit(1)), sum(col("dl"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    TermIndex(postings, doclens, n, sumDl)
  }

  /** [[termIndexPinned]] built for SHARING across many queries in one
    * session: the two relations persist (MEMORY_AND_DISK) instead of
    * local-checkpointing. Lineage survives, and — decisively for a shared
    * index — [[Checkpoints.free]] on a frame DERIVED from the index cannot
    * evict it (free unpersists only the `LogicalRDD` leaves a local
    * checkpoint leaves behind), so a per-query result cleanup never tears
    * the index out from under the next query. Same discipline as the
    * gates' shared synthetic-media memo; release explicitly with
    * `ix.postings.unpersist()` / `ix.doclens.unpersist()` when the
    * session retires the index. Build cost: one tokenization shuffle for
    * the postings + one narrow corpus scan for the doclens, both
    * materialized here. */
  def termIndexPersisted(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): TermIndex = {
    import org.apache.spark.storage.StorageLevel
    val toks     = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
    val postings = toks.groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val doclens  = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(TextAnalysis.words(col(textCol))).cast("long").as("dl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val Array(n, sumDl) = doclens.agg(count(lit(1)), sum(col("dl"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    postings.count() // materialize: every sharer scans the cached relation
    // per-term df/cf materialize WITH the shared index (one aggregation
    // over the cached postings) so no query pays the derivation again
    val stats = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("__df"), sum(col("tf")).as("__cf"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    stats.count()
    TermIndex(postings, doclens, n, sumDl, Some(stats))
  }

  /** serializes [[appendToTermIndex]] writers on one index: JVM monitor
    * per normalized path (two engines in-process), plus an advisory file
    * lock on `path/.lock` when the path is a plain local one (two driver
    * PROCESSES) — the [[graft.catalog.Warehouse]] write-lock pattern.
    * Scheme-qualified URIs get the monitor only; see the
    * [[appendToTermIndex]] contract. */
  private val indexMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withIndexLock[A](path: String)(body: => A): A = {
    val local = !path.contains("://")
    val key =
      if (local) java.nio.file.Paths.get(path).toAbsolutePath.normalize.toString else path
    indexMonitors.computeIfAbsent(key, _ => new Object).synchronized {
      if (!local) body
      else {
        val dir = java.nio.file.Paths.get(key)
        java.nio.file.Files.createDirectories(dir)
        val ch = java.nio.channels.FileChannel.open(
          dir.resolve(".lock"),
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
        try { val fl = ch.lock(); try body finally fl.release() } finally ch.close()
      }
    }
  }

  /** the persisted-postings projection shared by [[writeTermIndex]] and
    * [[appendToTermIndex]] — term-partitioned, term-sorted for row-group
    * pruning; one source of the tokenization. REBALANCE (not a bare
    * `repartition(term)`) sizes the written files from the DATA via AQE's
    * advisory partition size instead of inheriting
    * `spark.sql.shuffle.partitions` — a small batch writes one file, a
    * 100 TB index writes ~size/advisory files; the plain-shuffle fallback
    * without AQE is the old repartition [guide §6 output file sizing]. */
  private def postingsOf(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
      .groupBy(col("term"), col(idCol)).agg(count(lit(1)).as("tf"))
      .hint("rebalance", col("term")).sortWithinPartitions(col("term"), col(idCol))

  /** Persist the index under `path`: postings are repartitioned by term and
    * sorted within partitions, so a query's `term IN (...)` prunes parquet
    * row groups by min/max stats instead of scanning the postings table.
    * TRUE tokenize-once: the corpus is read exactly one time (the postings
    * write); doclens and the scalars aggregate the written postings. */
  def writeTermIndex(
      docs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): Unit = {
    postingsOf(docs, textCol, idCol)
      .write.mode("overwrite").parquet(s"$path/postings")
    val doclens = docs.sparkSession.read.parquet(s"$path/postings")
      .groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
      .hint("rebalance") // data-sized files, not one per shuffle partition
    doclens.write.mode("overwrite").parquet(s"$path/doclens")
    val s = docs.sparkSession.read.parquet(s"$path/doclens")
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("sum_dl"))
    s.write.mode("overwrite").parquet(s"$path/stats")
  }

  def readTermIndex(spark: org.apache.spark.sql.SparkSession, path: String): TermIndex = {
    val s = spark.read.parquet(s"$path/stats").head()
    TermIndex(spark.read.parquet(s"$path/postings"), spark.read.parquet(s"$path/doclens"),
      s.getLong(0), s.getLong(1))
  }

  /**
   * INCREMENTAL INDEX MAINTENANCE: append a new document batch to a
   * persisted [[writeTermIndex]] layout without touching the indexed
   * corpus — the ingest-time posture at 100 TB, where re-tokenizing the
   * archive per arriving batch is the thing an index exists to avoid.
   * Batch postings append as new term-partitioned, term-sorted parquet
   * files (row-group pruning holds per file); batch doclens aggregate
   * the same pinned batch postings the append writes (`Σ tf`, the base
   * build's own formula); the two corpus scalars are read, bumped by the batch's own
   * aggregate, and rewritten. No rebuild is needed for correctness:
   * [[bm25ScoresIndexed]] derives document frequencies from the matched
   * postings at QUERY time and takes n/avgdl from the refreshed stats,
   * so an appended index scores identically to a from-scratch rebuild
   * (spec-asserted; the `rt_bm25_app` gate's oracle is the plain
   * whole-corpus scan).
   *
   * CONTRACT: batch ids must be NEW — an id already indexed would
   * double-count its doclen and postings. The append is not
   * crash-atomic: stats rewrite LAST, so a failure between the appends
   * leaves postings over-complete and scalars stale — rebuild with
   * [[writeTermIndex]] on any doubt (the same recovery posture as an
   * interrupted compaction rewrite).
   *
   * CONCURRENCY: the whole append (postings → doclens → stats
   * read-bump-rewrite) runs under the warehouse write-lock pattern — a
   * JVM monitor keyed by the normalized index path plus, for local
   * paths, an OS advisory lock on `$$path/.lock` — so two drivers
   * appending the same index serialize and their stats bumps SUM instead
   * of last-writer-wins clobbering one batch's counts. On object-store
   * URIs (s3://, hdfs://) no file lock exists; there the monitor covers
   * one JVM and cross-process appends remain the caller's single-writer
   * contract (exactly the posture of a streaming sink's one owning
   * query).
   */
  def appendToTermIndex(
      docs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): Unit = withIndexLock(path) {
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    val spark = docs.sparkSession
    import spark.implicits._
    // one tokenization: the pinned batch postings feed the postings
    // append, the doclens (the base build's own Σ tf formula), and the
    // scalar bump
    val batchPostings = postingsOf(docs, textCol, idCol).pinned
    batchPostings.write.mode("append").parquet(s"$path/postings")
    val batchDoclens = batchPostings.groupBy(col(idCol)).agg(sum(col("tf")).as("dl"))
    batchDoclens.hint("rebalance").write.mode("append").parquet(s"$path/doclens")
    val b = batchDoclens.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).head()
    Checkpoints.free(batchPostings)
    val s = spark.read.parquet(s"$path/stats").head()
    Seq((s.getLong(0) + b.getLong(0), s.getLong(1) + b.getLong(1)))
      .toDF("n", "sum_dl")
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** [[bm25Scores]] against a prebuilt [[TermIndex]] — identical arithmetic
    * (the `rt_bm25_idx` gate shares the corpus-scan oracle), but reads only
    * the matched postings, never the text. */
  def bm25ScoresIndexed(
      ix: TermIndex,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(ix.n > 0, "empty corpus")
    val tf = ix.postings.filter(col("term").isin(terms: _*))
      .select(col(idCol), col("term").as("__term"), col("tf").cast("double").as("__tf"))
    // df off the index's per-term stats — a vocab-sized filter instead of
    // a per-query aggregation Exchange over the postings (same exact long)
    val dfreq = ix.termStats.filter(col("term").isin(terms: _*))
      .select(col("term").as("__term"), col("__df").cast("double").as("__df"))
    val dl    = ix.doclens.select(col(idCol), col("dl").as("__dl"))
    scoreHits(tf, dfreq, dl, ix.n, ix.sumDl.toDouble / ix.n, k1, b, idCol)
  }

  /** [[bm25TopK]] over the index path. */
  def bm25TopKIndexed(
      ix: TermIndex,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame =
    bm25ScoresIndexed(ix, terms, k1, b, idCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("score"), dp).as("score"))

  /**
   * BATCH retrieval join — the lexical [[Similarity.annJoin]]: for every
   * query row `(qidCol, termsCol array)`, the top-`k` documents by BM25
   * against the prebuilt index. Repeated terms within one query count once
   * (set semantics, deterministic under any term order).
   *
   * Scale shape: the query set broadcasts (it is the small side by
   * definition); postings are read for the queries' DISTINCT terms only;
   * the Okapi weight is query-INDEPENDENT per `(term, doc)`, so the
   * doclens join and the weight arithmetic run on the un-expanded
   * posting subset — the query fan-out is a broadcast join that feeds
   * straight into the one data-sized `(query, doc)` grouping shuffle;
   * and the per-query rank window is `WindowGroupLimit`-pruned map-side
   * to `k` before its exchange, so a common term never funnels a
   * corpus-sized candidate list through one partition.
   */
  def bm25Join(
      queries: DataFrame,
      ix: TermIndex,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      qidCol: String = "query_id",
      termsCol: String = "terms",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(ix.n > 0, "empty corpus")
    val avgdl = ix.sumDl.toDouble / ix.n
    val qt     = queries.select(col(qidCol), explode(col(termsCol)).as("__term")).distinct()
    val qterms = qt.select(col("__term")).distinct()
    // postings restricted to the query vocabulary — the pre-expansion
    // relation both df-counting and scoring read
    val tpost = ix.postings.join(broadcast(qterms), col("term") === col("__term"))
      .select(col("__term"), col(idCol), col("tf").cast("double").as("__tf"))
    // df off the index's per-term stats restricted to the query vocabulary
    val dfreq = ix.termStats
      .join(broadcast(qterms), col("term") === col("__term"))
      .select(col("__term"), col("__df").cast("double").as("__df"))
    // the SAME idf/wt expression trees scoreHits builds — kept literally
    // identical so batch-join scores stay bit-equal to the single-query
    // paths and the oracle replay
    val idf = log(lit(1.0) + (lit(ix.n.toDouble) - col("__df") + 0.5) / (col("__df") + 0.5))
    val wt = col("__idf") * (col("__tf") * (k1 + 1)) /
      (col("__tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("__dl") / avgdl))
    val wts = tpost
      .join(broadcast(dfreq.withColumn("__idf", idf)), "__term")
      .join(ix.doclens.select(col(idCol), col("dl").as("__dl")), idCol)
      .select(col("__term"), col(idCol), wt.as("__wt"))
    val scored = wts.join(broadcast(qt), "__term")
      .groupBy(col(qidCol), col(idCol))
      .agg(foldSum(collect_list(col("__wt"))).as("score"))
    val w = Window.partitionBy(col(qidCol)).orderBy(col("score").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("score", round(col("score"), dp))
  }

  /**
   * MEAN RECIPROCAL RANK of a batch-retrieval result against a relevance
   * relation — the lexical-side quality eval next to the vector family's
   * recall@k/nDCG: per query, the reciprocal of the FIRST relevant hit's
   * rank (0 when nothing relevant surfaced), averaged over ALL `nQueries`
   * (missed queries count against the mean — the standard definition).
   *
   * Arithmetic portability: ranks are exact ints, each reciprocal is one
   * IEEE division, the sum is the ascending-sorted fold, and the mean is
   * one mirrored division. Scale shape: one semi-join of the result list
   * (already ≤ queries×k rows) against the relevance pairs, a per-query
   * min, and a single-group fold over ≤ one-value-per-query reciprocals —
   * query-batch-sized throughout, never corpus-sized.
   */
  def mrrAtK(
      results: DataFrame,
      relevant: DataFrame,
      nQueries: Long,
      dp: Int = 6,
      qidCol: String = "query_id",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(nQueries > 0, "nQueries must be positive")
    val firsts = results.join(relevant, Seq(qidCol, idCol), "left_semi")
      .groupBy(col(qidCol)).agg(min(col("rank")).as("__fr"))
    firsts
      .agg(
        count(lit(1)).as("n_hit"),
        graft.functions.GraftFunctions
          .foldSum(collect_list(lit(1.0) / col("__fr").cast("double"))).as("__s"))
      .select(
        lit(nQueries).as("n_queries"),
        col("n_hit"),
        round(coalesce(col("__s"), lit(0.0)) / lit(nQueries.toDouble), dp).as("mrr"))
  }

  /**
   * KENDALL RANK AGREEMENT between two top-k retrieval lists (e.g. BM25
   * vs query-likelihood over the same query): over the documents BOTH
   * scorers surfaced, the fraction of pairs they order the same way —
   * `τ = (concordant − discordant) / C(m, 2)`. The inter-scorer agreement
   * eval next to [[mrrAtK]]/rankEval's ground-truth evals: τ → 1 means a
   * second scorer adds nothing; τ near 0 flags rankings worth fusing
   * ([[hybridTopK]]) or A/B-ing.
   *
   * Both lists re-rank HERE by `(score desc, id)` over their REPORTED
   * (rounded) scores — deterministic cross-engine by construction, since
   * the rounded scores are themselves gate-proven identical. Ranks are
   * then distinct ints, so no tie terms in τ. Everything after the two
   * input scans is k-bounded: a k-row intersection join, a C(k,2) pair
   * product (bounded nested-loop — k ≤ 1000 enforced), three exact int
   * counts, one division.
   */
  def rankAgreement(
      a: DataFrame,
      b: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "score",
      dp: Int = 6,
      maxK: Int = 1000
  ): DataFrame = {
    def ranked(df: DataFrame, out: String) = {
      val rows = df.limit(maxK + 1).count()
      require(rows <= maxK, s"rank list exceeds maxK=$maxK (C(k,2) pair product)")
      df.select(col(idCol).as("id"),
        row_number().over(
          Window.orderBy(col(scoreCol).desc, col(idCol))).as(out))
    }
    val j = ranked(a, "ra").join(ranked(b, "rb"), "id")
    val x = j.select(col("id").as("i1"), col("ra").as("ra1"), col("rb").as("rb1"))
    val y = j.select(col("id").as("i2"), col("ra").as("ra2"), col("rb").as("rb2"))
    val s = (col("ra1") - col("ra2")) * (col("rb1") - col("rb2"))
    val pairs = x.join(y, col("i1") < col("i2"))
      .select(when(s > 0, 1L).otherwise(0L).as("__c"), when(s < 0, 1L).otherwise(0L).as("__d"))
    // the common-id count folds in-plan (1-row aggregate crossJoined onto
    // the 1-row pair aggregate) — one action instead of a separate driver
    // count job over the same k-bounded join [guide §2.6, §5]
    val m = j.agg(count(lit(1)).as("__m"))
    pairs.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("__c")).as("n_concordant"),
        sum(col("__d")).as("n_discordant"))
      .crossJoin(broadcast(m))
      .select(col("__m").as("n_common"), col("n_pairs"),
        coalesce(col("n_concordant"), lit(0L)).as("n_concordant"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        when(col("n_pairs") === 0, lit(0.0)).otherwise(
          round((coalesce(col("n_concordant"), lit(0L)) - coalesce(col("n_discordant"), lit(0L)))
            .cast("double") / col("n_pairs").cast("double"), dp)).as("tau"))
  }

  /**
   * RANK-BIASED OVERLAP (Webber et al. 2010), the bounded min-RBO at
   * depth `k`: `(1−p) · Σ_{d≤k} p^{d−1} · |A_{:d} ∩ B_{:d}| / d` — the
   * TOP-WEIGHTED agreement measure next to [[rankAgreement]]'s Kendall τ
   * (τ weighs all intersection pairs equally and ignores non-conjoint
   * tails; RBO is built for top-k lists that only partially overlap, and
   * `p` sets how top-heavy the comparison is). Each common document at
   * ranks `(ra, rb)` contributes to every depth `d ≥ max(ra, rb)`, so the
   * whole double sum collapses to one bounded per-id fold over a LITERAL
   * weight table `p^{d−1}/d` — the literals are computed once here and
   * the oracle embeds the identical doubles, so no `pow` is ever
   * re-evaluated cross-engine.
   *
   * Lists re-rank by their reported (rounded, gate-proven) scores like
   * [[rankAgreement]]; ranks beyond `k` drop. Everything after the two
   * input scans is k-bounded.
   */
  def rankBiasedOverlap(
      a: DataFrame,
      b: DataFrame,
      k: Int,
      p: Double = 0.9,
      idCol: String = "doc_id",
      scoreCol: String = "score",
      dp: Int = 6
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(p > 0.0 && p < 1.0, "p must be in (0, 1)")
    val wOverD = (1 to k).map(d => math.pow(p, d - 1) / d).toArray
    def ranked(df: DataFrame, out: String) =
      df.select(col(idCol).as("id"),
        row_number().over(Window.orderBy(col(scoreCol).desc, col(idCol))).as(out))
    val j = ranked(a, "ra").join(ranked(b, "rb"), "id")
      .filter(col("ra") <= k && col("rb") <= k)
    val m = greatest(col("ra"), col("rb"))
    val contrib = aggregate(
      slice(lit(wOverD), m, lit(k) - m + 1), lit(0.0), (acc, w) => acc + w)
    j.select(contrib.as("__c"))
      .agg(count(lit(1)).as("n_common"),
        round(lit(1.0 - p) *
          foldSum(collect_list(col("__c"))), dp).as("rbo"))
  }

  /** Top-`k` documents by [[bm25Scores]], ties broken by id; the score is
    * rounded AFTER the ordering (the unrounded value sorts). */
  def bm25TopK(
      docs: DataFrame,
      terms: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame =
    bm25Scores(docs, terms, k1, b, textCol, idCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("score"), dp).as("score"))

  /**
   * POSITIONAL POSTINGS — the `(term, doc_id, pos)` relation behind exact
   * phrase search: one `posexplode` scan of the corpus. Persist it
   * partitioned by term (like [[writeTermIndex]]) and phrase queries
   * never rescan the corpus; the relation is also the building block for
   * proximity scoring and span queries.
   */
  def positionalPostings(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    docs.select(col(idCol), posexplode(TextAnalysis.words(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col(idCol), col("pos"))

  /**
   * QUERY-LIKELIHOOD retrieval with Dirichlet smoothing (Zhai & Lafferty
   * 2004) — the language-model scorer next to [[bm25TopK]]'s tf-idf one;
   * the two disagree most exactly where LM smoothing matters (short docs,
   * common terms), which makes the pair a useful fusion/diagnostic set:
   *
   *   `score(d) = Σ_t ln( (tf_{d,t} + μ·cf_t/|C|) / (dl_d + μ) )`
   *
   * over the DISTINCT query terms present in the corpus (a term with zero
   * corpus frequency has no defined smoothed probability and no
   * discriminating power — dropped, documented contract). Only documents
   * matching at least one term rank (the standard candidate rule); their
   * missing terms still contribute the smoothing-only component.
   *
   * Arithmetic is cross-engine-portable exactly like BM25's: tf/cf/dl/|C|
   * are exact int64s, the weight is one fixed multiply/divide/ln chain,
   * the per-doc sum is the ascending-sorted fold, and the top-k orders on
   * the UNROUNDED score (ties by id) with rounding applied after.
   *
   * Scale shape: one tokenize pass for the per-term stats (map-side
   * combined, vocab-sized shuffles), a narrow scan for doclens, the
   * candidate×term grid is candidates × |terms| rows (terms broadcast),
   * and the global top-k is a TakeOrdered — no corpus-wide window.
   */
  def qlTopK(
      docs: DataFrame,
      terms: Seq[String],
      k: Int,
      mu: Double = 2000.0,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(mu > 0.0, "Dirichlet mu must be positive")
    val ts   = terms.distinct
    val toks = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("__term"))
    val dl   = docs.filter(col(textCol).isNotNull)
      .select(col(idCol), size(TextAnalysis.words(col(textCol))).cast("long").as("__dl"))
    val totC = dl.agg(sum(col("__dl"))).head().getLong(0)
    require(totC > 0, "empty corpus")
    val qtoks = toks.filter(col("__term").isin(ts: _*))
    val cf    = qtoks.groupBy(col("__term")).agg(count(lit(1)).as("__cf"))
    val tf    = qtoks.groupBy(col(idCol), col("__term")).agg(count(lit(1)).as("__tf"))
    val wt = log((coalesce(col("__tf"), lit(0L)).cast("double") +
        lit(mu) * col("__cf").cast("double") / lit(totC.toDouble)) /
      (col("__dl").cast("double") + lit(mu)))
    val scored = tf.select(col(idCol)).distinct()
      .join(dl, idCol)
      .crossJoin(broadcast(cf))
      .join(tf, Seq(idCol, "__term"), "left")
      .groupBy(col(idCol))
      .agg(graft.functions.GraftFunctions.foldSum(collect_list(wt)).as("score"))
    scored.orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("score"), dp).as("score"))
  }

  /**
   * [[qlTopK]] over a prebuilt [[TermIndex]] — no corpus read: `tf` is the
   * postings subset for the query terms, `cf_t = Σ tf` over that subset
   * (exactly the token-occurrence count the scan path tallies), doclens
   * and `|C|` come off the index. Same fold, same rounding, identical
   * rows — the scan/index parity class of [[bm25TopKIndexed]].
   */
  def qlTopKIndexed(
      ix: TermIndex,
      terms: Seq[String],
      k: Int,
      mu: Double = 2000.0,
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(mu > 0.0, "Dirichlet mu must be positive")
    require(ix.sumDl > 0, "empty corpus")
    val ts = terms.distinct
    val tf = ix.postings.filter(col("term").isin(ts: _*))
      .select(col(idCol), col("term").as("__term"), col("tf").as("__tf"))
    // collection frequency off the index's per-term stats (same exact long)
    val cf = ix.termStats.filter(col("term").isin(ts: _*))
      .select(col("term").as("__term"), col("__cf").as("__cf"))
    val dl = ix.doclens.select(col(idCol), col("dl").as("__dl"))
    val wt = log((coalesce(col("__tf"), lit(0L)).cast("double") +
        lit(mu) * col("__cf").cast("double") / lit(ix.sumDl.toDouble)) /
      (col("__dl").cast("double") + lit(mu)))
    val scored = tf.select(col(idCol)).distinct()
      .join(dl, idCol)
      .crossJoin(broadcast(cf))
      .join(tf, Seq(idCol, "__term"), "left")
      .groupBy(col(idCol))
      .agg(graft.functions.GraftFunctions.foldSum(collect_list(wt)).as("score"))
    scored.orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), round(col("score"), dp).as("score"))
  }

  /**
   * BEST SNIPPET per document: the `width`-token window holding the most
   * query-term hits (ties: more DISTINCT terms, then the earliest window)
   * — the result-page highlight extractor, and the "show me where it
   * matched" face of the positional-postings family.
   *
   * Windows are fixed `pos div width` buckets, so scoring is a plain
   * partial-aggregated count per `(doc, bucket)` — no self-join over
   * positions — and the per-doc top-1 rides a `WindowGroupLimit`-pruned
   * rank. The snippet text itself is sliced from the word array at the
   * end, only for the single winning bucket per doc.
   */
  def bestSnippets(
      docs: DataFrame,
      queryTerms: Seq[String],
      width: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(width >= 1, "width must be >= 1")
    val scored = positionalPostings(docs, textCol, idCol)
      .filter(col("term").isin(queryTerms: _*))
      .withColumn("bucket", expr(s"pos div $width").cast("long"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("term")).as("n_terms"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("n_hits").desc, col("n_terms").desc, col("bucket"))
    scored.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .join(docs.select(col(idCol), TextAnalysis.words(col(textCol)).as("__ws")), idCol)
      .select(col(idCol), (col("bucket") * width).as("snippet_start"),
        col("n_hits"), col("n_terms"),
        array_join(slice(col("__ws"), (col("bucket") * width + 1).cast("int"), lit(width)), " ")
          .as("snippet"))
  }

  /**
   * EXACT PHRASE MATCH — documents containing the words of `phrase`
   * CONSECUTIVELY, with the number of (overlapping) occurrences. The
   * lexical primitive BM25's bag-of-words scoring cannot express.
   *
   * Shape: each phrase term selects its postings (a term-pushdown scan —
   * against a term-partitioned persisted relation this reads only the
   * phrase's partitions), then an equi-join per additional term on
   * `(doc_id, pos − offset)` aligns consecutive positions — never an
   * inequality join, never a corpus rescan; the per-doc count is
   * map-side combined. Counts are integers.
   */
  def phraseMatches(
      postings: DataFrame,
      phrase: Seq[String],
      idCol: String = "doc_id"
  ): DataFrame = {
    require(phrase.size >= 2, "phrase must have at least two terms")
    def side(t: String, off: Int) =
      postings.filter(col("term") === t)
        .select(col(idCol), (col("pos") - off).as("pos"))
    val aligned = phrase.zipWithIndex.tail.foldLeft(side(phrase.head, 0)) {
      case (acc, (t, i)) => acc.join(side(t, i), Seq(idCol, "pos"))
    }
    aligned.groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /**
   * Persist [[positionalPostings]] term-partitioned and term-sorted (the
   * [[writeTermIndex]] layout): a phrase/near query then reads ONLY its
   * terms' row groups (min/max pruning on the sorted term column) — at
   * 100 TB a phrase query touches megabytes of postings, never the
   * corpus.
   */
  def writePositionalIndex(
      docs: DataFrame,
      path: String,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): Unit =
    positionalPostings(docs, textCol, idCol)
      .repartition(col("term")).sortWithinPartitions(col("term"), col(idCol), col("pos"))
      .write.mode("overwrite").parquet(path)

  /**
   * PROXIMITY MATCH (span-near) — documents where `second` occurs within
   * `slop` positions AFTER `first`, with the pair count. Generalizes
   * [[phraseMatches]] (`slop = 1` with two terms is the exact bigram);
   * the standard "terms near each other" relevance primitive.
   *
   * The position window is an EQUI-join: the second term's postings
   * explode over the `slop` offsets (`pos − 1 … pos − slop`) and join on
   * `(doc_id, pos)` — never an inequality join, and output is bounded by
   * `slop × |postings(second)|`. Counts are integers.
   */
  def nearMatches(
      postings: DataFrame,
      first: String,
      second: String,
      slop: Int,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(slop >= 1, "slop must be at least 1")
    val pa = postings.filter(col("term") === first).select(col(idCol), col("pos"))
    val pb = postings.filter(col("term") === second)
      .select(col(idCol), explode(sequence(lit(1), lit(slop))).as("__d"), col("pos"))
      .select(col(idCol), (col("pos") - col("__d")).as("pos"))
    pa.join(pb, Seq(idCol, "pos"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_matches"))
  }

  /**
   * KEYWORD EXTRACTION — the `k` most salient terms per document by
   * tf·idf (smooth `ln(N/df)` idf; ties broken by term, so the ranking is
   * total and deterministic). The standard corpus-analysis primitive for
   * topic labeling and index-term selection.
   *
   * Scale shape: two map-side-combined aggregations over the token stream
   * (postings + document frequencies), a broadcast of the df relation is
   * NOT possible (it is term-cardinality-sized), so the join shuffles on
   * `term` — the natural key; the per-doc rank window is
   * `WindowGroupLimit`-pruned to `k` map-side. Scores are one multiply of
   * exact-integer-derived doubles — bit-identical across engines.
   */
  def topTfIdfTerms(
      docs: DataFrame,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val n = docs.count()
    require(n > 0, "empty corpus")
    val toks = docs.select(col(idCol), explode(TextAnalysis.words(col(textCol))).as("term"))
    val tf   = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("__df"))
    val score = col("__tf") * log(lit(n.toDouble) / col("__df"))
    val w     = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .select(col(idCol), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("score", round(col("score"), dp))
  }

  /**
   * [[topTfIdfTerms]] over a prebuilt [[TermIndex]] — no corpus read: the
   * postings ARE the `(doc, term, tf)` relation the scan path aggregates,
   * and df derives from them identically. `nDocs` is passed in (the scan
   * path counts ALL docs, including null-text rows the index omits — the
   * caller supplies the same count for row-identical output).
   */
  def topTfIdfTermsIndexed(
      ix: TermIndex,
      nDocs: Long,
      k: Int,
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(k > 0, "k must be positive")
    require(nDocs > 0, "empty corpus")
    val tf = ix.postings.select(col(idCol), col("term"), col("tf").cast("double").as("__tf"))
    val dfreq = ix.termStats.select(col("term"), col("__df").cast("double").as("__df"))
    val score = col("__tf") * log(lit(nDocs.toDouble) / col("__df"))
    val w     = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))
    tf.join(dfreq, "term")
      .select(col(idCol), col("term"), score.as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("score", round(col("score"), dp))
  }

  /**
   * FUZZY TERM MATCH — typo-tolerant retrieval: documents containing any
   * corpus term within Levenshtein distance `maxDist` of the query term,
   * with the per-doc hit count (occurrences of all matching variants).
   * The recall net under misspellings that exact/BM25 matching drops.
   *
   * Scale shape: the DISTINCT vocabulary of the [[TermIndex]] postings
   * (orders of magnitude smaller than the corpus) is scanned once with the
   * codegen'd `levenshtein` — never the corpus text; the surviving variant
   * terms broadcast into a postings join.
   *
   * All-integer arithmetic (distances, counts) — nothing to drift.
   */
  def fuzzyMatchesIndexed(
      ix: TermIndex,
      term: String,
      maxDist: Int = 1,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val variants = ix.postings.select(col("term")).distinct()
      .filter(levenshtein(col("term"), lit(term)) <= maxDist)
    ix.postings.join(broadcast(variants), "term")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_matches"),
        count(lit(1)).cast("long").as("n_variants"))
  }

  /**
   * PRF EXPANSION TERMS — pseudo-relevance feedback term mining (the text
   * half of Rocchio): run the original query, assume its top `nSeed` hits
   * are relevant, and rank the terms they contain by
   * `(Σ tf over seed docs) × ln(N / df)` — frequent in the feedback set,
   * rare in the corpus. Returns the `nExpand` best terms (original query
   * terms excluded) with their weights.
   *
   * Scale shape: everything runs off the prebuilt [[TermIndex]] — the
   * corpus text is never touched. The seed list is a hard-bounded
   * shortlist (≤ `nSeed` ids — collected driver-side, the MMR-shortlist
   * discipline) that filters the postings directly; the seed docs'
   * vocabulary (pinned, one pass) broadcasts into the postings semi-join
   * computing df for the candidate terms — the only data-sized work.
   *
   * Determinism: Σtf and df are exact integers, the weight is one
   * `ln` + one multiply per term, and the top-`nExpand` cut breaks ties
   * by term — so the selected set is stable across engines (the oracle
   * replays the same arithmetic).
   */
  def prfExpansionTerms(
      ix: TermIndex,
      terms: Seq[String],
      nSeed: Int = 10,
      nExpand: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(nSeed > 0 && nExpand > 0, "nSeed and nExpand must be positive")
    import graft.pipeline.Checkpoints.PinOps
    // the seed list is a HARD-BOUNDED shortlist (≤ nSeed rows by the
    // limit) — collect the ids and filter the postings directly (the MMR
    // shortlist discipline): left lazy, the seed's scoring subtree
    // re-executed inside stf, stf inside dfa AND the final join — the
    // multiplicative re-execution was the whole rt_prf floor (measured
    // 8.5 s where single index passes cost ~0.14 s each)
    val seedIds = bm25ScoresIndexed(ix, terms, k1, b, idCol)
      .orderBy(col("score").desc, col(idCol)).limit(nSeed)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    val seedPost =
      if (seedIds.isEmpty) ix.postings.filter(lit(false))
      else ix.postings.filter(col(idCol).isin(seedIds: _*))
    // the seed docs' vocabulary (stf) feeds BOTH the df semi-join and the
    // final weight join — pin it so the pass runs once
    val stf = seedPost
      .groupBy(col("term")).agg(sum(col("tf")).as("__stf")).pinned
    // global df per seed-vocabulary term off the index's per-term stats
    // (the former semi-join + aggregation over the full postings)
    val dfa = ix.termStats.join(broadcast(stf.select(col("term"))), "term")
      .select(col("term"), col("__df"))
    stf.join(dfa, "term")
      .filter(!col("term").isin(terms: _*))
      .withColumn("__w",
        col("__stf").cast("double") * log(lit(ix.n.toDouble) / col("__df").cast("double")))
      .orderBy(col("__w").desc, col("term")).limit(nExpand)
      .select(col("term"), round(col("__w"), dp).as("weight"))
  }

  /**
   * PRF TOP-K — BM25 retrieval with pseudo-relevance-feedback query
   * expansion: the final ranking runs the original terms UNION the
   * [[prfExpansionTerms]] against the index. The classic recall lever for
   * short queries — documents discussing the topic in the feedback set's
   * vocabulary surface even when they share no term with the original
   * query. The expansion is a hard-bounded shortlist (≤ `nExpand` rows)
   * collected driver-side, so the final ranking IS [[bm25TopKIndexed]]
   * over the widened term set — index passes only, zero corpus scans,
   * and no subtree executes more than once per call.
   */
  def prfTopK(
      ix: TermIndex,
      terms: Seq[String],
      k: Int,
      nSeed: Int = 10,
      nExpand: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75,
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    require(k > 0, "k must be positive")
    import graft.pipeline.Checkpoints
    // the expansion is a HARD-BOUNDED shortlist (≤ nExpand rows by the
    // limit) — collect it and the final pass IS the single-query indexed
    // retrieval over the widened term set (same tf filter, same df
    // aggregate, same scoreHits trees — bit-equal scores). Left lazy, the
    // whole expansion mining re-executed inside BOTH scoreHits branches.
    val expansion = prfExpansionTerms(ix, terms, nSeed, nExpand, k1, b, idCol)
    val qterms = (expansion.select(col("term")).collect().map(_.getString(0))
      ++ terms).distinct.toSeq
    Checkpoints.free(expansion) // collected: the mining pin is dead
    bm25TopKIndexed(ix, qterms, k, k1, b, idCol, dp)
  }

  /**
   * HYBRID RETRIEVAL — reciprocal rank fusion of the BM25 lexical list and
   * the exact-cosine vector list: each candidate scores
   * `Σ 1/(rrfK + rank)` over the lists it appears in (rank 1-based within
   * the top-`n` of each list; absent → no contribution). Returns the
   * top-`k` by fused score with both ranks exposed (null = not in that
   * list). Ranks are integers, so the fused score is bit-identical across
   * engines.
   *
   * `docs.idCol` and `embeddings.vecIdCol` are the same id space (the
   * corpus convention: one embedding row per document).
   */
  def hybridTopK(
      docs: DataFrame,
      embeddings: DataFrame,
      terms: Seq[String],
      queryVec: Seq[Float],
      k: Int,
      n: Int = 100,
      rrfK: Int = 60,
      textCol: String = "text",
      idCol: String = "doc_id",
      vecCol: String = "embedding",
      vecIdCol: String = "vec_id",
      ix: Option[TermIndex] = None
  ): DataFrame = {
    // both rank windows run over ≤n rows (post-TakeOrdered) — bounded
    val bmRank  = Window.orderBy(col("score").desc, col(idCol))
    val cosRank = Window.orderBy(col("sim").desc, col(vecIdCol))
    // a prebuilt index replaces the lexical half's corpus scan (the
    // scan/index parity class — row-identical scores either way)
    val bmScores = ix match {
      case Some(index) => bm25ScoresIndexed(index, terms, idCol = idCol)
      case None        => bm25Scores(docs, terms, textCol = textCol, idCol = idCol)
    }
    val bm = bmScores
      .orderBy(col("score").desc, col(idCol)).limit(n)
      .select(col(idCol).as("__id"), row_number().over(bmRank).cast("long").as("r_bm25"))
    val cos = Similarity.bruteForceTopK(embeddings, queryVec, n, vecCol, vecIdCol)
      .select(col(vecIdCol).as("__id"), row_number().over(cosRank).cast("long").as("r_cos"))
    val contrib = (r: String) =>
      coalesce(lit(1.0) / (lit(rrfK.toDouble) + col(r)), lit(0.0))
    val fused = contrib("r_bm25") + contrib("r_cos")
    bm.join(cos, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol), col("r_bm25"), col("r_cos"), fused.as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
      .withColumn("rrf", round(col("rrf"), 6))
  }

  /**
   * MMR DIVERSIFIED RE-RANK (Carbonell & Goldstein 1998): greedily pick
   * `k` results from a BM25 shortlist maximizing
   * `λ·rel − (1−λ)·max_{s∈selected} sim(d, s)` — relevance traded against
   * redundancy with what is already shown, the standard fix for a results
   * page of near-identical hits. `sim` is word-set Jaccard (deterministic,
   * engine-portable); `rel` is the 4-dp-snapped BM25 score.
   *
   * Scale shape: the corpus-wide work is the BM25 scoring scan — UNLESS a
   * prebuilt [[TermIndex]] is passed (`ix`), in which case the shortlist
   * scores through the postings ([[bm25TopKIndexed]]) and the word sets
   * for the Jaccard sims come from the shortlist docs' postings rows (a
   * doc's distinct-term set IS its posting terms — same `split(text," ")`
   * tokenizer both sides), so the TEXT is never read at all. The greedy
   * loop runs driver-side over the `kCand`-row shortlist (≤ ~100 rows,
   * O(kCand²) sims) — by construction bounded, the same class as
   * [[graft.pipeline.Sampling.tokenBudget]]'s bucket scan. Every float
   * compare happens on arithmetic both engines perform on identical
   * inputs (`λ·rel − (1−λ)·sim` with 4-dp-snapped rel/sim), so selection
   * order is reproducible bit-for-bit; ties break on doc id. The two
   * paths share one oracle (the `rt_mmr` / `rt_mmr_idx` gates).
   *
   * Returns `(rank, doc_id, mmr_score)` with rank 1..k in pick order.
   */
  def mmrRerank(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 5,
      kCand: Int = 20,
      lambda: Double = 0.7,
      textCol: String = "text",
      idCol: String = "doc_id",
      ix: Option[TermIndex] = None
  ): DataFrame = {
    require(k > 0 && kCand >= k, "need 0 < k <= kCand")
    val spark = docs.sparkSession
    def round4(x: Double): Double =
      BigDecimal.valueOf(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val short = ix match {
      case None =>
        bm25TopK(docs, terms, kCand, textCol = textCol, idCol = idCol)
          .join(docs.select(col(idCol), array_distinct(split(col(textCol), " ")).as("__w")), idCol)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[String](2).toSet))
      case Some(index) =>
        // one scoring job for the ≤ kCand shortlist, then one postings
        // pass with the ids as a pushed-down IN filter for the word sets
        val shortRows = bm25TopKIndexed(index, terms, kCand, idCol = idCol).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val wordSets = index.postings
          .filter(col(idCol).isin(shortRows.map(_._1): _*))
          .groupBy(col(idCol)).agg(collect_set(col("term")).as("__w"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
        shortRows.map { case (id, score) => (id, score, wordSets(id)) }
    }
    val sim = scala.collection.mutable.Map.empty[(Long, Long), Double]
    def simOf(a: (Long, Double, Set[String]), b: (Long, Double, Set[String])): Double =
      sim.getOrElseUpdate((a._1, b._1),
        round4((a._3 & b._3).size.toDouble / (a._3 | b._3).size.toDouble))
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var remaining = short.toList
    var rank = 1L
    while (rank <= k && remaining.nonEmpty) {
      val scoredCands = remaining.map { c =>
        val ms = if (selected.isEmpty) 0.0
                 else selected.map(s => simOf(c, short.find(_._1 == s._2).get)).max
        (c, lambda * c._2 - (1.0 - lambda) * ms)
      }
      val (best, mmr) = scoredCands.minBy { case (c, m) => (-m, c._1) }
      selected += ((rank, best._1, round4(mmr)))
      remaining = remaining.filterNot(_._1 == best._1)
      rank += 1
    }
    spark.createDataFrame(selected.toSeq).toDF("rank", idCol, "mmr_score")
  }

  /**
   * TF-IDF DOC–DOC COSINE top-k — all-pairs lexical similarity through
   * the inverted index: `w(d,t) = tf·ln(N/df)`, documents l2-normalized,
   * pairs enumerated by joining postings ON THE TERM (the sparse-dot
   * identity: only co-occurring terms contribute), ranked by cosine. The
   * third lexical-similarity modality next to MinHash (set overlap) and
   * embeddings (dense semantics) — tf-idf weighs WHICH terms are shared,
   * so two docs sharing three rare terms outrank two sharing thirty
   * stopwords.
   *
   * `maxDfFrac` drops terms appearing in more than that FRACTION of docs
   * from the vector space entirely (weights AND norms) — the standard
   * stop-term cut, fraction-scaled so the same setting works at every
   * corpus size, and the bound that keeps the term-join fan-out at
   * `Σ_t df(t)² ≤ (maxDfFrac·N)·Σ df` (the [[graft.pipeline.Dedup]]
   * maxBucket discipline).
   *
   * Determinism: norms and dots fold term-sorted ([[foldSum]]); the
   * top-k orders by the unrounded cosine with id ties, output snapped to
   * 6 dp. Scale shape: one tokenization (pinned postings), two
   * partial-aggregated groupBys, the capped term join, TakeOrdered.
   */
  def tfidfDocSim(
      docs: DataFrame,
      k: Int = 50,
      maxDfFrac: Double = 0.2,
      maxDfCap: Long = Long.MaxValue,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame =
    tfidfDocSimOn(termIndexPinned(docs, textCol, idCol), k, maxDfFrac, maxDfCap, idCol,
      consumeIndex = true)

  /** [[tfidfDocSim]] over a prebuilt [[TermIndex]] — no corpus read and the
    * index is NOT consumed (a session-shared index survives the call). */
  def tfidfDocSimIndexed(
      ix: TermIndex,
      k: Int = 50,
      maxDfFrac: Double = 0.2,
      maxDfCap: Long = Long.MaxValue,
      idCol: String = "doc_id"
  ): DataFrame = tfidfDocSimOn(ix, k, maxDfFrac, maxDfCap, idCol, consumeIndex = false)

  private def tfidfDocSimOn(
      ix: TermIndex, k: Int, maxDfFrac: Double, maxDfCap: Long, idCol: String,
      consumeIndex: Boolean
  ): DataFrame = {
    import graft.pipeline.Checkpoints.PinOps
    require(k >= 1, "k must be >= 1")
    require(maxDfFrac > 0.0 && maxDfFrac <= 1.0, "maxDfFrac must be in (0, 1]")
    require(maxDfCap >= 1, "maxDfCap must be >= 1")
    // the stop-term cut scales WITH the corpus (a fixed count would drop
    // every term once N grows past it): terms in more than maxDfFrac of
    // docs leave the vector space; fan-out stays ≤ (maxDfFrac·N)·Σdf.
    // `maxDfCap` is the absolute ceiling on top — the knob for corpora
    // whose per-term df does NOT grow with N (federated/sharded unions of
    // disjoint vocabularies), where a pure fraction would loosen the cut
    // as N grows and let df² fan-out creep back in
    val maxDf = math.min(math.ceil(ix.n * maxDfFrac).toLong, maxDfCap)
    // df off the index's per-term stats — the length guard filters GROUPS
    // (term is the grouping key), so filtering the stats rows is identical
    val dfreq = ix.termStats.filter(length(col("term")) > 0)
      .select(col("term"), col("__df"))
      .filter(col("__df") <= maxDf)
    val w = ix.postings.join(dfreq, "term")
      .select(col(idCol).as("id"), col("term"),
        (col("tf").cast("double") * log(lit(ix.n.toDouble) / col("__df").cast("double"))).as("w"))
      .pinned // feeds the norm pass and BOTH sides of the term join
    // w is materialized: an OWNED index's pins are dead weight now (they
    // are NOT in w's truncated lineage, so the caller's free can't reach
    // them); a shared index is left alone
    if (consumeIndex) graft.pipeline.Checkpoints.free(ix.postings, ix.doclens)
    val norms = w.groupBy(col("id"))
      .agg(foldSum(expr(
        "transform(array_sort(collect_list(named_struct('t', term, 'p', w * w))), s -> s.p)")).as("__nsq"))
      .select(col("id"), sqrt(col("__nsq")).as("__nrm"))
    val dots = w.select(col("id").as("id_a"), col("term"), col("w").as("__wa"))
      .join(w.select(col("id").as("id_b"), col("term"), col("w").as("__wb")), "term")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        foldSum(expr(
          "transform(array_sort(collect_list(named_struct('t', term, 'p', __wa * __wb))), s -> s.p)")).as("__dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("__nrm").as("__na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("__nrm").as("__nb")), "id_b")
      .withColumn("__sim", col("__dot") / (col("__na") * col("__nb")))
      .orderBy(col("__sim").desc, col("id_a"), col("id_b"))
      .limit(k)
      .select(col("id_a"), col("id_b"), col("n_shared"), round(col("__sim"), 6).as("sim"))
  }
}
