package graft

import org.apache.spark.sql.functions.col

/**
 * Always-on plan-shape guards over EVERY gate query: the properties that
 * make the plans survive a 100× scale-up must not regress silently when a
 * gate is added or an operator is refactored.
 */
class PlanShapeSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // intentionally brute-force baselines (bounded-id oracle cross-checks)
  private val bruteForceAllowed = Set("d_embed_exact")

  // NOTE: gates whose closure computes eagerly on the driver (bounded
  // collects — tx_doremi, ev_markov, d_ari, pca, ...) return literal
  // frames here, so this guard covers only their FINAL plan; their real
  // join shapes are asserted by the operator-level cases below and in
  // RelationalSpec/PipelineSpec.
  "every gate query" should "plan without a cartesian product" in {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      if (!bruteForceAllowed(name))
        withClue(s"$name:\n$plan\n") { plan should not include "CartesianProduct" }
    }
  }

  it should "push predicate filters into the parquet scan" in {
    val plan = SparkEntry.queries("p_eq")(spark, dir).queryExecution.executedPlan.toString
    plan should include("PushedFilters: [")
    plan should not include "PushedFilters: []"
  }

  it should "prune per-group rank windows map-side (WindowGroupLimit)" in {
    // a corpus-common query term must not funnel a corpus-sized candidate
    // list through one partition of the per-query rank exchange
    val plan = SparkEntry.queries("rt_bm25_join")(spark, dir).queryExecution.executedPlan.toString
    withClue(plan) { plan should include("WindowGroupLimit") }
  }

  private def exchanges(plan: String): Int =
    plan.sliding("Exchange".length).count(_ == "Exchange")

  "the grid scan operators" should "pay exactly two shuffles (resample + per-key collect)" in {
    // the recurrence folds (EWMA/CUSUM/Holt/ACF) must stay inside the
    // collected array — a third Exchange would mean a window or join crept in
    // (the GATES add one more Exchange for their deterministic output sort,
    // so assert on the operators directly)
    import spark.implicits._
    import graft.operators.TimeSeries
    val df = Seq(("a", 0L, 1.0), ("a", 10L, 2.0), ("b", 0L, 3.0)).toDF("k", "ts", "v")
    val shapes = Seq(
      "ewma"  -> TimeSeries.ewmaScan(df, Seq("k"), "ts", "v", 10L),
      "cusum" -> TimeSeries.cusumScan(df, Seq("k"), "ts", "v", 10L),
      "holt"  -> TimeSeries.holtScan(df, Seq("k"), "ts", "v", 10L),
      "acf"   -> TimeSeries.acfProfile(df, Seq("k"), "ts", "v", 10L, maxLag = 2))
    shapes.foreach { case (name, out) =>
      val plan = out.queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan\n") { exchanges(plan) shouldBe 2 }
    }
  }

  "the PQ operators" should "encode via the one-pass kernel, not an expression tree" in {
    // plans show a kernel as the method its StaticInvoke calls
    val plan = SparkEntry.queries("ann_pq")(spark, dir).queryExecution.executedPlan.toString
    withClue(plan) { plan should include("PqKernel.encode(") }
    // IVF-PQ: assign + filter + encode + ADC fuse into one scan — the only
    // Exchange left is the TakeOrdered's singlePartition collect
    val ivfpq = SparkEntry.queries("ann_ivfpq")(spark, dir).queryExecution.executedPlan.toString
    withClue(ivfpq) {
      ivfpq should include("PqKernel.encode(")
      ivfpq should not include "SortMergeJoin"
    }
  }

  "the round-9 additions" should "keep their prescribed shuffle shapes" in {
    import graft.pipeline.{Dedup, TextAnalysis}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // bloom decon: the eval-shingle confirm join broadcasts onto the
    // corpus-side explode (the id anti-join at the end is AQE's call —
    // statically SMJ, broadcast at runtime once the tiny hit set is sized)
    val bl = Dedup.decontaminateBloom(
      docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0), shingleK = 5)
      .queryExecution.executedPlan.toString
    withClue(bl) {
      bl should include("BroadcastHashJoin")
      bl should not include "CartesianProduct"
    }
    // containment: inverted-index self-join + pair agg + two size joins —
    // never a cartesian/nested-loop fallback
    val cp = Dedup.containmentPairs(docs, 0.8).queryExecution.executedPlan.toString
    withClue(cp) {
      cp should not include "CartesianProduct"
      cp should not include "BroadcastNestedLoopJoin"
    }
    // DSIR: the vocabulary log-ratio table broadcasts onto the exploded
    // corpus — the corpus-side explode shuffles only on doc_id (final agg)
    val dw = TextAnalysis.importanceWeights(docs, docs.filter(col("source") === "src0"))
      .queryExecution.executedPlan.toString
    withClue(dw) {
      dw should include("BroadcastHashJoin")
      dw should not include "CartesianProduct"
    }
    // top-fraction selection is TakeOrderedAndProject, not a global Sort
    val tf = graft.pipeline.Sampling.topFractionBy(
      docs.withColumn("weight", col("n_chars").cast("double")), 0.25, "weight")
      .queryExecution.executedPlan.toString
    withClue(tf) { tf should include("TakeOrderedAndProject") }
  }

  "the round-12 additions" should "keep their prescribed shuffle shapes" in {
    import graft.pipeline.{Dedup, Retrieval}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // QL retrieval: global top-k is a TakeOrdered, the per-term stats
    // broadcast, and the score fold runs the native kernel (an interpreted
    // HOF here would single-thread the AQE-coalesced scoring stage)
    val qlQe = Retrieval.qlTopK(docs, Seq("spark", "join"), k = 20).queryExecution
    val ql   = qlQe.executedPlan.toString
    withClue(ql) {
      ql should include("TakeOrderedAndProject")
      ql should not include "CartesianProduct"
      // the kernel lives in TakeOrdered's (unprinted) project list — assert
      // on the optimized plan, where the expression tree is spelled out
      qlQe.optimizedPlan.toString should include("ArrayKernels.foldSum(")
    }
    // winnow pairs: fingerprints come distinct from the one native pass —
    // no relational Distinct before the bucket-capped self-join
    val wp = Dedup.winnowPairs(docs, k = 16, w = 8).queryExecution.executedPlan.toString
    withClue(wp) {
      wp should include("PortableHash.winnowFpSet(")
      wp should not include "CartesianProduct"
    }
    // NB scoring: the only nested-loop is the intended tiny
    // stats-broadcast cross join; the count-cell join hashes
    val scored = graft.pipeline.TextAnalysis.nbScoredShared(docs)
    val nbCached = spark.sharedState.cacheManager
      .lookupCachedData(scored.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    scored.unpersist()
    nbCached should not be empty
    val nbPlan = nbCached.get.cachedRepresentation.cacheBuilder.cachedPlan.toString
    withClue(nbPlan) { nbPlan should not include "CartesianProduct" }
    // the per-(doc, label) fold is the compiled kernel (the aggregate's
    // physical string hides its result expressions)
    nbCached.get.plan.toString should include("graft_fold_sum(")
  }

  "the round-12 second-wave additions" should "keep their prescribed shuffle shapes" in {
    import spark.implicits._
    import graft.operators.TimeSeries
    import graft.pipeline.TextAnalysis
    // Theil–Sen: the pair blow-up is an EQUI join on the keys (hash or
    // sort-merge) with the x<y filter applied after — never a nested-loop
    // product over the grid
    val df = Seq(("a", 0L, 1.0), ("a", 10L, 2.0), ("a", 20L, 4.0)).toDF("k", "ts", "v")
    val tsPlan = TimeSeries.theilSen(df, Seq("k"), "ts", "v", 10L)
      .queryExecution.executedPlan.toString
    withClue(tsPlan) {
      tsPlan should not include "CartesianProduct"
      tsPlan should not include "BroadcastNestedLoopJoin"
    }
    // KL shift: the vocab join is full-outer on the term (the natural
    // key); the three folds run the native sorted kernel in ONE final
    // single-group aggregation
    val corpus = Seq((0L, "x y"), (1L, "y z")).toDF("doc_id", "text")
    val klQe = TextAnalysis.tokenKlShift(corpus, corpus).queryExecution
    withClue(klQe.executedPlan.toString) {
      klQe.executedPlan.toString should not include "CartesianProduct"
      klQe.optimizedPlan.toString should include("ArrayKernels.foldSum(")
    }
    // burstiness: the top-k is a TakeOrdered, never a global sort
    val btPlan = TextAnalysis.burstyTerms(corpus, k = 5, minCount = 1L)
      .queryExecution.executedPlan.toString
    withClue(btPlan) {
      btPlan should include("TakeOrderedAndProject")
      btPlan should not include "CartesianProduct"
    }
  }

  "the star-schema gates" should "broadcast every dimension side" in {
    // q3/q5: dims (customer slice, supplier, nation, region) broadcast;
    // only the fact-fact order-key join may shuffle. If a dim ever falls
    // back to sort-merge, the 100 TB plan pays a fact-sized exchange.
    Seq("st_shipprio", "st_localrev", "st_mktshare", "st_profit").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan") {
        plan should include("BroadcastHashJoin")
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
    // q13/q22: the outer/anti order join may shuffle (both sides fact-
    // sized), but nothing may degrade to a nested-loop product. The ONE
    // sanctioned nested-loop is q22's balance-stats attach: a broadcast
    // of a single aggregate row (__tot, __n) carrying the exact
    // cross-multiplied average comparison — a scalar fold riding the
    // fact scan, not a join degradation (build side is 1 row by
    // construction; anything else nested-loop is still a failure)
    Seq("st_custdist", "st_dormant", "st_priority", "st_shipdelay",
      "st_latesupp", "st_noorders").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan") {
        plan should not include "CartesianProduct"
        val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
        if (name == "st_dormant" || name == "st_noorders") {
          bnlj should be <= 1
          if (bnlj == 1) plan should include("__tot")
        } else withClue("unexpected nested-loop join:") { bnlj shouldBe 0 }
      }
    }
    // q1: a single partial-aggregated scan — two exchanges total (the
    // 6-group final agg + the 6-row output sort), no join anywhere
    val q1 = SparkEntry.queries("st_pricing")(spark, dir).queryExecution.executedPlan.toString
    withClue(q1) {
      q1 should not include "Join"
      exchanges(q1) shouldBe 2
    }
  }

  "the round-10 additions" should "keep their prescribed shuffle shapes" in {
    import spark.implicits._
    // PCA projection: per-row folds over the persisted snapped column —
    // ZERO exchanges in the returned frame (all cross-row work happened
    // inside the bounded collected-sums pass)
    val vecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 2.0f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val model = graft.pipeline.Similarity.pcaModelShared(vecs, kMax = 1, iters = 2)
    val pca = graft.pipeline.Similarity.pcaProjectFrom(model, vecs, k = 1)
    val pcaPlan = pca.queryExecution.executedPlan.toString
    model.foreach(_.snapped.unpersist())
    withClue(pcaPlan) { exchanges(pcaPlan) shouldBe 0 }
    // LPA and modularity: join + partial-aggregate rounds only — no
    // window function may creep into either (the argmin is min(struct))
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
    val lpPlan = graft.operators.Graph.labelPropagation(edges, nodes, rounds = 2)
      .queryExecution.executedPlan.toString
    withClue(lpPlan) { lpPlan should not include "Window" }
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L).toDF("doc_id", "community")
    val mPlan = graft.operators.Graph
      .modularity(Seq((1L, 2L)).toDF("id_a", "id_b"), labels)
      .queryExecution.executedPlan.toString
    withClue(mPlan) {
      mPlan should not include "Window"
      mPlan should not include "CartesianProduct"
    }
  }

  "the round-9 star additions" should "keep their prescribed shuffle shapes" in {
    // q7/q10/q14/q17/q19: part/nation-tagged dims broadcast; only the
    // fact-fact order-key join (q7/q10) or the slice window (q17) shuffles
    Seq("st_volume", "st_returned", "st_promo", "st_smallqty", "st_discrev").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan") {
        plan should include("BroadcastHashJoin")
        plan should not include "CartesianProduct"
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
    // q18: the HAVING-reduced big-order set must broadcast into orders —
    // a sort-merge there would shuffle orders at fact size
    val q18 = SparkEntry.queries("st_bigorders")(spark, dir).queryExecution.executedPlan.toString
    withClue(q18) {
      q18 should include("BroadcastHashJoin")
      q18 should not include "CartesianProduct"
    }
    // q6: single filtered scan + scalar agg — no join, filters pushed
    val q6 = SparkEntry.queries("st_revchange")(spark, dir).queryExecution.executedPlan.toString
    withClue(q6) {
      q6 should not include "Join"
      q6 should include("PushedFilters: [IsNotNull(l_shipdate)")
    }
  }

  "the round-9 tail additions" should "keep their prescribed shuffle shapes" in {
    // windowed star rollups: the window/self-join runs AFTER the month
    // reduction — aggregated input, never fact-sized through a window
    Seq("st_monthly", "st_yoy").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      withClue(s"$name:\n$plan") {
        plan should include("HashAggregate")
        plan should not include "BroadcastNestedLoopJoin"
      }
    }
    // power users: the top-frac cut is a distributed TakeOrdered, never a
    // global single-partition rank window over the user frame
    val pu = SparkEntry.queries("ev_powerusers")(spark, dir).queryExecution.executedPlan.toString
    withClue(pu) {
      pu should include("TakeOrderedAndProject")
      pu should not include "Window"
    }
    // A/B report: two aggregations, nothing else — no join, no window
    val ab = SparkEntry.queries("ev_abtest")(spark, dir).queryExecution.executedPlan.toString
    withClue(ab) {
      ab should not include "Join"
      ab should not include "Window"
    }
  }

  "the round-8 additions" should "keep their prescribed shuffle shapes" in {
    import graft.pipeline.{Multimodal, Sampling, TextAnalysis}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // chunking is a pure generator projection: fan-out with ZERO shuffles
    val chunk = TextAnalysis.chunkDocuments(docs, 32, 24).queryExecution.executedPlan.toString
    withClue(chunk) { exchanges(chunk) shouldBe 0 }
    // weighted sampling decides per-row: a single filtered scan
    val ws = Sampling.weightedHashSample(docs, 0.5, "n_chars")
      .queryExecution.executedPlan.toString
    withClue(ws) { exchanges(ws) shouldBe 0 }
    // content dedup shuffles ONCE, on the 32-byte digest (partial agg map-side)
    val hd = Multimodal.contentDedup(Multimodal.withPayload(docs))
      .queryExecution.executedPlan.toString
    withClue(hd) { exchanges(hd) shouldBe 1 }
    // attribution rides the asof union+window shape: never a nested-loop or
    // per-key cartesian fallback
    val at = SparkEntry.queries("ev_attr")(spark, dir).queryExecution.executedPlan.toString
    withClue(at) {
      at should not include "BroadcastNestedLoopJoin"
      at should not include "CartesianProduct"
    }
  }

  "the container decode gates" should "run whole-stage codegen with no fallback" in {
    // each gate decodes with one kernel call per row, so its generated code
    // must compile: with the fallback off, a whole-stage compile failure
    // (Janino's 64 KB method limit) throws here instead of the stage
    // silently running without codegen. The node bound guards plan growth,
    // counted on the physical plan before AQE wraps it (the wrapped plan is
    // one leaf node).
    val gates = Seq("mm_meta", "mm_dims", "mm_av", "mm_wavvad", "mm_gif", "mm_exif", "mm_exif2",
      "mm_pngtext", "mm_zipdir", "mm_tar")
    val key = "spark.sql.codegen.fallback"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try gates.foreach { g =>
      val df = SparkEntry.queries(g)(spark, dir)
      val nodes = graft.PlanAudit.digest(df.queryExecution.sparkPlan).toMap.apply("nodes")
      withClue(s"$g plan nodes = $nodes") { nodes should be < 120 }
      withClue(g) { df.collect() should not be empty }
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  "fuzzy retrieval" should "broadcast the variant terms, never sort-merge the postings" in {
    val plan = SparkEntry.queries("rt_fuzzy")(spark, dir).queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("BroadcastHashJoin")
      plan should not include "SortMergeJoin"
    }
  }

  "the rollup/segment additions" should "keep their prescribed shuffle shapes" in {
    import graft.operators.Rollup
    val docs   = spark.read.parquet(s"$dir/documents.parquet")
    val events = spark.read.parquet(s"$dir/events.parquet")
    // rollup build: ONE shuffle (the partial-aggregated group), no joins
    val rb = Rollup.build(
      events.selectExpr("event_type", "unix_micros(ts::timestamp) AS ts", "value"),
      Seq("event_type"), "ts", "value", 3600000000L).queryExecution.executedPlan.toString
    withClue(rb) { exchanges(rb) shouldBe 1; rb should not include "Join" }
    // segment dedup: digests shuffle, never a nested-loop/cartesian product
    val sd = graft.pipeline.Dedup.segmentDedup(docs).queryExecution.executedPlan.toString
    withClue(sd) {
      sd should not include "CartesianProduct"
      sd should not include "BroadcastNestedLoopJoin"
    }
    // rollup-served temporal gate: the plan aggregates the stats table,
    // never the raw event scan (no mirror-column filter, tiny input)
    val served = SparkEntry.queries("i_roll_count")(spark, dir)
      .queryExecution.executedPlan.toString
    withClue(served) {
      served should include("bucket") // cell arithmetic, not per-row timestamps
      served should not include "unix_millis" // raw-path derived-ts marker
    }
  }
}
