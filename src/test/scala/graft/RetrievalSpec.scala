package graft

import graft.pipeline.Retrieval

/** BM25 scoring and reciprocal-rank-fusion semantics. */
class RetrievalSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "spark shuffle join spark spark"), // tf(spark)=3, dl=5
    (1L, "spark window"),                   // tf(spark)=1, dl=2
    (2L, "window window sort"),             // no query term
    (3L, "sort merge join sort")            // no query term
  ).toDF("doc_id", "text")

  "Retrieval.bm25Scores" should "match a hand-computed BM25 score" in {
    val out = Retrieval.bm25Scores(docs, Seq("spark")).orderBy("doc_id").collect()
    out.map(_.getLong(0)) shouldBe Array(0L, 1L) // docs without the term are absent
    // N=4, df=2, avgdl=14/4=3.5; idf = ln(1 + 2.5/2.5) = ln 2
    val idf = math.log(2.0)
    def w(tf: Double, dl: Double) =
      idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.5))
    out(0).getDouble(1) shouldBe w(3, 5) +- 1e-9
    out(1).getDouble(1) shouldBe w(1, 2) +- 1e-9
  }

  it should "rank higher-tf docs first at equal length" in {
    val d = Seq((0L, "x y z"), (1L, "x x z")).toDF("doc_id", "text")
    val top = Retrieval.bm25TopK(d, Seq("x"), k = 2).collect()
    top.map(_.getLong(0)) shouldBe Array(1L, 0L)
  }

  "Retrieval.qlTopK" should "match hand-computed Dirichlet query likelihood" in {
    // corpus |C|=14; cf(spark)=4, cf(join)=2; candidates = docs 0,1,3
    val mu = 10.0
    def p(tf: Double, cf: Double, dl: Double) = math.log((tf + mu * cf / 14.0) / (dl + mu))
    val out = Retrieval.qlTopK(docs, Seq("spark", "join"), k = 4, mu = mu, dp = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.keySet shouldBe Set(0L, 1L, 3L) // doc 2 matches no term -> not a candidate
    def snap(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out(0L) shouldBe snap(p(3, 4, 5) + p(1, 2, 5)) +- 1e-9   // both terms present
    out(1L) shouldBe snap(p(1, 4, 2) + p(0, 2, 2)) +- 1e-9   // join smoothing-only
    out(3L) shouldBe snap(p(0, 4, 4) + p(1, 2, 4)) +- 1e-9
    // a term absent from the whole corpus is dropped, not -inf
    val same = Retrieval.qlTopK(docs, Seq("spark", "join", "zzz"), k = 4, mu = mu, dp = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    same shouldBe out
  }

  "Retrieval.mrrAtK" should "average first-relevant reciprocals over ALL queries" in {
    val results = Seq(
      (1L, 10L, 1L), (1L, 11L, 2L),  // q1: relevant 11 at rank 2
      (2L, 11L, 1L), (2L, 12L, 2L),  // q2: relevant 12 at rank 2, 13 never surfaces
      (3L, 10L, 1L)                  // q3: nothing relevant
    ).toDF("query_id", "doc_id", "rank")
    val rel = Seq((1L, 11L), (2L, 12L), (2L, 13L), (3L, 99L)).toDF("query_id", "doc_id")
    val r = Retrieval.mrrAtK(results, rel, nQueries = 3L).head()
    (r.getLong(0), r.getLong(1)) shouldBe ((3L, 2L))
    r.getDouble(2) shouldBe BigDecimal((0.5 + 0.5) / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // no relevant hits anywhere -> mrr 0, not null
    val none = Retrieval.mrrAtK(results, Seq((9L, 9L)).toDF("query_id", "doc_id"), nQueries = 3L).head()
    (none.getLong(1), none.getDouble(2)) shouldBe ((0L, 0.0))
  }

  "Retrieval.hybridTopK" should "fuse lexical and vector ranks reciprocally" in {
    // vectors: doc 2 is the query's nearest neighbor, doc 0 second, doc 1 far
    val emb = Seq(
      (0L, Seq(1.0f, 1.0f)), (1L, Seq(-1.0f, 0.2f)),
      (2L, Seq(1.0f, 0.0f)), (3L, Seq(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Retrieval.hybridTopK(docs, emb, Seq("spark"), Seq(1.0f, 0.0f),
      k = 4, n = 3, rrfK = 60).collect()
    val byId = out.map(r => r.getLong(0) ->
      (Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getDouble(3))).toMap
    // bm25 list: 0 (rank 1), 1 (rank 2); cosine top-3: 2, 3, 0
    byId(0L)._1 shouldBe Some(1L)
    byId(0L)._2 shouldBe Some(3L)
    byId(2L)._1 shouldBe None
    byId(2L)._2 shouldBe Some(1L)
    byId(2L)._3 shouldBe (1.0 / 61) +- 1e-6
    byId(1L)._1 shouldBe Some(2L)
    // doc 0 fuses two lists: 1/61 + 1/63 beats any single-list score
    out.head.getLong(0) shouldBe 0L
  }

  it should "bound both rank lists at n" in {
    val emb = (0L to 3L).map(i => (i, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val out = Retrieval.hybridTopK(docs, emb, Seq("spark"), Seq(1.0f, 0.0f),
      k = 1, n = 1).collect()
    out should have length 1
    // only rank-1 entries exist on each side
    Option(out.head.get(1)).foreach(_ shouldBe 1L)
    Option(out.head.get(2)).foreach(_ shouldBe 1L)
  }

  "Retrieval.termIndex" should "score identically to the corpus scan through a persisted round-trip" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-termindex").toString
    try {
      Retrieval.writeTermIndex(docs, dir)
      val ix = Retrieval.readTermIndex(spark, dir)
      ix.n shouldBe 4L
      ix.sumDl shouldBe 14L
      val direct  = Retrieval.bm25TopK(docs, Seq("spark", "sort"), k = 4).collect()
      val indexed = Retrieval.bm25TopKIndexed(ix, Seq("spark", "sort"), k = 4).collect()
      indexed.map(r => (r.getLong(0), r.getDouble(1))) shouldBe
        direct.map(r => (r.getLong(0), r.getDouble(1)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  "Retrieval.appendToTermIndex" should "score identically to a full rebuild after the batch append" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixappend").toString
    try {
      Retrieval.writeTermIndex(docs.filter($"doc_id" <= 1L), dir)
      Retrieval.appendToTermIndex(docs.filter($"doc_id" > 1L), dir)
      val ix = Retrieval.readTermIndex(spark, dir)
      // refreshed scalars equal the full corpus'
      ix.n shouldBe 4L
      ix.sumDl shouldBe 14L
      // appended index ≡ from-scratch scan, scores included
      val direct   = Retrieval.bm25TopK(docs, Seq("spark", "sort"), k = 4).collect()
      val appended = Retrieval.bm25TopKIndexed(ix, Seq("spark", "sort"), k = 4).collect()
      appended.map(r => (r.getLong(0), r.getDouble(1))) shouldBe
        direct.map(r => (r.getLong(0), r.getDouble(1)))
      // an empty batch is a no-op on the scalars
      Retrieval.appendToTermIndex(docs.filter($"doc_id" < 0L), dir)
      Retrieval.readTermIndex(spark, dir).n shouldBe 4L
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  it should "serialize concurrent appends so the stats bumps sum (index write-lock)" in {
    // two threads appending disjoint batches at once: without the lock the
    // stats read-bump-rewrite races and one batch's counts vanish
    // (last-writer-wins); under it the final scalars are the exact sums
    val dir = java.nio.file.Files.createTempDirectory("graft-ixlock").toString
    try {
      Retrieval.writeTermIndex(docs.filter($"doc_id" === 0L), dir)
      val batches = Seq(docs.filter($"doc_id" === 1L),
        docs.filter($"doc_id" === 2L), docs.filter($"doc_id" === 3L))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[Unit]] = batches.map { b =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit = Retrieval.appendToTermIndex(b, dir)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.foreach(_.get()) // rethrows failures
      } finally pool.shutdown()
      val ix = Retrieval.readTermIndex(spark, dir)
      ix.n shouldBe 4L      // 1 base + 3 appended, none clobbered
      ix.sumDl shouldBe 14L // the full corpus' token mass
      // and the index still scores exactly like the from-scratch scan
      val direct   = Retrieval.bm25TopK(docs, Seq("spark", "sort"), k = 4).collect()
      val appended = Retrieval.bm25TopKIndexed(ix, Seq("spark", "sort"), k = 4).collect()
      appended.map(r => (r.getLong(0), r.getDouble(1))) shouldBe
        direct.map(r => (r.getLong(0), r.getDouble(1)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  "Retrieval.phraseMatches" should "count overlapping consecutive occurrences only" in {
    val corpus = Seq(
      (0L, "a b a b a"),   // "a b a": positions 0 and 2 (overlapping) → 2
      (1L, "a c b a x"),   // a and b present but never consecutive as "a b a"
      (2L, "b a b")        // contains "a b" once, "a b a" never
    ).toDF("doc_id", "text")
    val p = Retrieval.positionalPostings(corpus)
    Retrieval.phraseMatches(p, Seq("a", "b", "a")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 2L))
    Retrieval.phraseMatches(p, Seq("a", "b")).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 2L), (2L, 1L))
    // the term filter must reach the postings scan (pushdown at a
    // term-partitioned persisted relation = partition pruning)
    val plan = Retrieval.phraseMatches(p, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    withClue(plan) { plan should include("Filter") }
  }

  "Retrieval.bestSnippets" should "pick the densest window with deterministic ties" in {
    val corpus = Seq(
      // window [0,3): one 'q'; window [3,6): 'q z q' → 2 hits wins, starts at 3
      (0L, "q x y q z q"),
      // equal hit counts (1 each): earliest window wins
      (1L, "q a b c q d"),
      (2L, "nothing matches here")
    ).toDF("doc_id", "text")
    val out = Retrieval.bestSnippets(corpus, Seq("q", "z"), width = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
    out shouldBe Array(
      (0L, 3L, 3L, "q z q"),   // 2 q's + 1 z in the second window
      (1L, 0L, 1L, "q a b"))   // tie on hits → earliest bucket; doc 2 absent
  }

  "Retrieval positional index persistence" should "reproduce live results with term pushdown" in {
    val corpus = Seq((0L, "a b a b a"), (1L, "a c b a x"), (2L, "b a b")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_posix_").toString
    Retrieval.writePositionalIndex(corpus, dir)
    val persisted = spark.read.parquet(dir)
    val live = Retrieval.phraseMatches(Retrieval.positionalPostings(corpus), Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Retrieval.phraseMatches(persisted, Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe live
    // the term selection must reach the parquet scan
    val plan = Retrieval.phraseMatches(persisted, Seq("a", "b"))
      .queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("PushedFilters: [")
      plan should not include "PushedFilters: []"
    }
  }

  "Retrieval.nearMatches" should "match within slop, ordered, counting pairs" in {
    val corpus = Seq(
      (0L, "a x x b"),   // b is 3 after a: slop 3 hits, slop 2 misses
      (1L, "b x a"),     // b BEFORE a: ordered near must not match
      (2L, "a b x a x b") // pairs within slop 3: (0,1), (3,5); (0,5) is 5 apart
    ).toDF("doc_id", "text")
    val p = Retrieval.positionalPostings(corpus)
    Retrieval.nearMatches(p, "a", "b", slop = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L), (2L, 2L))
    Retrieval.nearMatches(p, "a", "b", slop = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((2L, 2L))
  }

  "Retrieval.topTfIdfTerms" should "surface each doc's distinctive terms first" in {
    val out = Retrieval.topTfIdfTerms(docs, k = 2).orderBy("doc_id", "rank").collect()
    out.length shouldBe 8 // every doc has >= 2 distinct terms
    // doc 0: spark (tf 3, df 2) far outranks shuffle/join (tf 1)
    out(0).getString(1) shouldBe "spark"
    out(0).getDouble(2) shouldBe 3.0 * math.log(4.0 / 2.0) +- 5e-5 // score is rounded to 4 dp
    // doc 2: window (tf 2, df 2) beats sort (tf 1, df 2)
    out.filter(_.getLong(0) == 2L).map(_.getString(1)).toSeq shouldBe Seq("window", "sort")
    // rank-limit pushdown: the per-doc window prunes map-side
    Retrieval.topTfIdfTerms(docs, k = 2).queryExecution.executedPlan.toString should
      include("WindowGroupLimit")
  }

  "Retrieval.bm25Join" should "rank per query with set-semantics terms" in {
    val queries = Seq(
      (10L, Seq("spark", "spark")), // duplicate term counts once
      (20L, Seq("sort", "merge"))
    ).toDF("query_id", "terms")
    val out = Retrieval.bm25Join(queries, Retrieval.termIndex(docs), k = 2)
      .orderBy("query_id", "rank").collect()
    // q10 matches docs 0,1 (term spark); q20 matches 3 (sort+merge) and 2 (sort)
    out.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) shouldBe
      Array((10L, 0L, 1L), (10L, 1L, 2L), (20L, 3L, 1L), (20L, 2L, 2L))
    // the duplicated query term contributes once: q10/doc0 equals the
    // single-term top-k score
    val single = Retrieval.bm25TopK(docs, Seq("spark"), k = 1).head().getDouble(1)
    out.head.getDouble(2) shouldBe single
  }

  "Retrieval.fuzzyMatchesIndexed" should "count occurrences of all edit-distance variants" in {
    val d = Seq(
      (0L, "spark sparks spork x"), // spark(0), sparks(1), spork(1) all match
      (1L, "sprk and nothing"),     // sprk is distance 1 (deletion)
      (2L, "stork swam away")       // stork is distance 2: excluded
    ).toDF("doc_id", "text")
    val out = Retrieval.fuzzyMatchesIndexed(Retrieval.termIndex(d), "spark", maxDist = 1).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((0L, 3L, 3L), (1L, 1L, 1L))
  }

  "Retrieval.prfExpansionTerms" should "mine feedback-set terms excluding the query" in {
    // query 'spark' -> seed (nSeed=2) = docs 0,1; their vocabulary is
    // {spark, shuffle, join, window}; 'spark' is excluded as a query term,
    // 'window' scores 1*ln(4/2), 'shuffle' and 'join' 1*ln(4/2) and
    // 1*ln(4/2)... weights: shuffle stf=1 df=1 -> ln4; join stf=1 df=2 ->
    // ln2; window stf=1 df=2 -> ln2 (tie with join broken by term)
    val ix = Retrieval.termIndex(docs)
    val out = Retrieval.prfExpansionTerms(ix, Seq("spark"), nSeed = 2, nExpand = 3)
      .collect()
    out.map(_.getString(0)) shouldBe Array("shuffle", "join", "window")
    out.head.getDouble(1) shouldBe math.log(4.0) +- 1e-4
  }

  "Retrieval.mmrRerank" should "demote a near-duplicate of an already-selected result" in {
    // docs 10/11 are identical (sim 1.0) and most relevant; pure relevance
    // order would put them 1-2, MMR must interleave the distinct doc 12
    val dup = Seq(
      (10L, "spark shuffle join spark"),
      (11L, "spark shuffle join spark"),
      (12L, "spark window sort"),
      (13L, "merge sort window")
    ).toDF("doc_id", "text")
    val out = Retrieval.mmrRerank(dup, Seq("spark", "join"), k = 3, kCand = 4, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1)))
    out.map(_._2).take(2) shouldBe Array(10L, 12L) // 11 pushed below the distinct doc
    out.map(_._2) should contain(11L)              // but still surfaces at rank 3
  }

  it should "produce the identical ranking through the prebuilt index without reading text" in {
    val dup = Seq(
      (10L, "spark shuffle join spark"),
      (11L, "spark shuffle join spark"),
      (12L, "spark window sort"),
      (13L, "merge sort window")
    ).toDF("doc_id", "text")
    val scan = Retrieval.mmrRerank(dup, Seq("spark", "join"), k = 3, kCand = 4, lambda = 0.5)
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ix = Retrieval.termIndex(dup)
    // only the index relations go in — the text never feeds the ix path
    // (the docs frame is still required for the signature's corpus handle)
    import org.apache.spark.sql.functions.{col, lit}
    val idx = Retrieval.mmrRerank(dup.select(col("doc_id"), lit("").as("text")),
        Seq("spark", "join"), k = 3, kCand = 4, lambda = 0.5, ix = Some(ix))
      .orderBy("rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    idx shouldBe scan
  }

  it should "reduce to pure relevance order at lambda = 1" in {
    val byRel = Retrieval.bm25TopK(docs, Seq("spark"), k = 3).collect().map(_.getLong(0))
    val mmr   = Retrieval.mmrRerank(docs, Seq("spark"), k = 3, kCand = 4, lambda = 1.0)
      .orderBy("rank").collect().map(_.getLong(1))
    mmr shouldBe byRel
  }

  "Retrieval.prfTopK" should "surface docs that only match expansion terms" in {
    // doc 3 shares no term with the query 'spark', but the expansion
    // (shuffle/join from the seed docs) reaches it through 'join'
    val ix = Retrieval.termIndex(docs)
    val ids = Retrieval.prfTopK(ix, Seq("spark"), k = 4, nSeed = 2, nExpand = 2)
      .collect().map(_.getLong(0)).toSet
    ids should contain(3L)
    // doc 2 (window window sort) matches neither query nor expansion terms
    ids should not contain 2L
  }

  "Retrieval.rankBiasedOverlap" should "score identical lists (1-p^k)-normalized full and disjoint lists 0" in {
    val a = Seq((0L, 3.0), (1L, 2.0), (2L, 1.0)).toDF("doc_id", "score")
    // identical lists at k = depth: min-RBO = (1−p)·Σ_{d≤k} p^{d−1} (the
    // bounded bound, < 1 by construction — it climbs to 1 as k → ∞)
    val p = 0.9
    val expect = (1 - p) * (1 to 3).map(d => math.pow(p, d - 1)).sum
    val same = Retrieval.rankBiasedOverlap(a, a, k = 3, p = p).head()
    same.getLong(0) shouldBe 3L
    same.getDouble(1) shouldBe (math.rint(expect * 1e6) / 1e6)
    // disjoint lists: zero overlap at every depth
    val other = Seq((7L, 1.0)).toDF("doc_id", "score")
    val none = Retrieval.rankBiasedOverlap(a, other, k = 3, p = p).head()
    (none.getLong(0), none.getDouble(1)) shouldBe ((0L, 0.0))
    // top-weighting: sharing ONLY the rank-1 doc (0.1·1.72 = 0.172)
    // outscores sharing BOTH tail docs (0.1·0.99 = 0.099)
    val topAgree  = Seq((0L, 9.0), (8L, 2.0), (9L, 1.0)).toDF("doc_id", "score")
    val tailAgree = Seq((5L, 9.0), (1L, 2.0), (2L, 1.0)).toDF("doc_id", "score")
    val hi = Retrieval.rankBiasedOverlap(a, topAgree, k = 3, p = p).head().getDouble(1)
    val lo = Retrieval.rankBiasedOverlap(a, tailAgree, k = 3, p = p).head().getDouble(1)
    hi shouldBe 0.172
    lo shouldBe 0.099
  }

  "Retrieval.rankAgreement" should "score identical rankings 1, reversals -1, and mixes between" in {
    val a = Seq((0L, 3.0), (1L, 2.0), (2L, 1.0)).toDF("doc_id", "score")
    val same = Retrieval.rankAgreement(a, a).head()
    same.getLong(0) shouldBe 3L  // n_common
    same.getLong(1) shouldBe 3L  // C(3,2) pairs
    same.getDouble(4) shouldBe 1.0
    val rev = Seq((0L, 1.0), (1L, 2.0), (2L, 3.0)).toDF("doc_id", "score")
    Retrieval.rankAgreement(a, rev).head().getDouble(4) shouldBe -1.0
    // one swapped adjacent pair out of three: τ = (2 − 1)/3
    val mix = Seq((0L, 3.0), (1L, 1.0), (2L, 2.0)).toDF("doc_id", "score")
    Retrieval.rankAgreement(a, mix).head().getDouble(4) shouldBe 0.333333
    // disjoint lists: no common docs, τ = 0 by convention
    val other = Seq((7L, 1.0)).toDF("doc_id", "score")
    val none = Retrieval.rankAgreement(a, other).head()
    none.getLong(0) shouldBe 0L
    none.getDouble(4) shouldBe 0.0
  }
}
