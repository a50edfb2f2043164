package graft

import org.apache.spark.sql.DataFrame
import graft.pipeline.Dedup
import graft.operators.Star

/** The session-shared relation builders must be ROW-IDENTICAL to the
  * per-call paths they replace: a shared relation is an optimization of
  * WHERE the computation runs, never of WHAT it computes. Each case
  * builds both paths on the same fixture and compares collected rows.
  */
class SharedRelationParitySpec extends SparkTestBase {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private lazy val docsFx = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over a sleepy dog again and again"),
    (3L, "completely unrelated text about spark joins and shuffle plans"),
    (4L, "completely unrelated text about spark joins and shuffle plans"),
    (5L, "short one"),
    (6L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  behavior of "minhashScoredCandidatesShared"

  it should "reproduce minhashLshPairs at any threshold via filter" in {
    val scored = Dedup.minhashScoredCandidatesShared(docsFx, numHashes = 16, bands = 4)
    try {
      for (t <- Seq(0.0, 0.5, 0.9)) {
        val direct = rows(Dedup.minhashLshPairs(docsFx, t, numHashes = 16, bands = 4)
          .orderBy("id_a", "id_b"))
        val shared = rows(scored.filter($"jaccard" >= t)
          .select("id_a", "id_b", "jaccard").orderBy("id_a", "id_b"))
        shared shouldBe direct
      }
    } finally scored.unpersist()
  }

  it should "reproduce the error report and the similarity histogram" in {
    val scored = Dedup.minhashScoredCandidatesShared(docsFx, numHashes = 16, bands = 4)
    try {
      rows(Dedup.minhashErrorReportFrom(scored).orderBy("id_a", "id_b")) shouldBe
        rows(Dedup.minhashErrorReport(docsFx, numHashes = 16, bands = 4).orderBy("id_a", "id_b"))
      rows(Dedup.similarityHistogramFrom(scored).orderBy("sim_bin")) shouldBe
        rows(Dedup.similarityHistogram(docsFx, numHashes = 16, bands = 4).orderBy("sim_bin"))
    } finally scored.unpersist()
  }

  behavior of "winnowFpsShared"

  it should "reproduce winnowPairs and winnowContainment" in {
    val fps = Dedup.winnowFpsShared(docsFx, k = 8, w = 4)
    try {
      rows(Dedup.winnowPairsOn(fps, minShared = 1L, maxBucket = 1000)
        .orderBy("id_a", "id_b")) shouldBe
        rows(Dedup.winnowPairs(docsFx, k = 8, w = 4, minShared = 1L, maxBucket = 1000)
          .orderBy("id_a", "id_b"))
      rows(Dedup.winnowContainmentFrom(Dedup.winnowPairsOn(fps, minShared = 1L, maxBucket = 1000), fps)
        .orderBy("id_a", "id_b")) shouldBe
        rows(Dedup.winnowContainment(docsFx, k = 8, w = 4, minShared = 1L, maxBucket = 1000)
          .orderBy("id_a", "id_b"))
    } finally fps.unpersist()
  }

  behavior of "duplicateClustersShared / labelPropagationShared"

  it should "reproduce the per-call CC and LPA labelings and their readouts" in {
    // two chained families (0-1-2 via transitivity, 3-4) + singletons 5, 6
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val cc  = Dedup.duplicateClustersShared(pairs, docsFx)
    val lpa = graft.operators.Graph.labelPropagationShared(pairs, docsFx, rounds = 4)
    try {
      val ccRows  = rows(cc.orderBy("doc_id"))
      val lpaRows = rows(lpa.orderBy("doc_id"))
      ccRows shouldBe
        rows(Dedup.duplicateClustersFromPairs(pairs, docsFx).orderBy("doc_id"))
      lpaRows shouldBe
        rows(graft.operators.Graph.labelPropagation(pairs, docsFx, rounds = 4).orderBy("doc_id"))
      // the builders release the dead checkpoint beneath the cache, so a
      // consumer's Checkpoints.free on a derived frame is behaviorally a
      // no-op: later readers still scan the materialized relation
      graft.pipeline.Checkpoints.free(cc.orderBy("doc_id"), lpa.orderBy("doc_id"))
      rows(cc.orderBy("doc_id")) shouldBe ccRows
      rows(lpa.orderBy("doc_id")) shouldBe lpaRows
      rows(Dedup.dedupReportFromClusters(cc, docsFx.withColumn("source", $"doc_id" % 2))
        .orderBy("source")) shouldBe
        rows(Dedup.dedupReportFromPairs(pairs, docsFx.withColumn("source", $"doc_id" % 2))
          .orderBy("source"))
      rows(Dedup.componentWeightsFromClusters(cc).orderBy("doc_id")) shouldBe
        rows(Dedup.componentWeightsFromPairs(pairs, docsFx).orderBy("doc_id"))
      // modularity over the shared labeling ≡ over the per-call labeling
      rows(graft.operators.Graph.modularity(pairs, lpa).orderBy("community")) shouldBe
        rows(graft.operators.Graph.modularity(pairs,
          graft.operators.Graph.labelPropagation(pairs, docsFx, rounds = 4)).orderBy("community"))
    } finally { cc.unpersist(); lpa.unpersist() }
  }

  behavior of "coPurchaseEdgesShared"

  it should "carry support and feed coPurchasePairsOn row-identically" in {
    // orders: 10 holds parts {1,2,3}; 11 holds {1,2}; 12 holds {2,3}; 13 {1,2}
    val li = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L),
      (12L, 2L), (12L, 3L),
      (13L, 1L), (13L, 2L)
    ).toDF("l_orderkey", "l_partkey")
    val shared = Star.coPurchaseEdgesShared(li, minSupport = 2L)
    try {
      shared.columns shouldBe Array("id_a", "id_b", "support")
      rows(Star.coPurchasePairsOn(shared, li, topK = 50)) shouldBe
        rows(Star.coPurchasePairs(li, minSupport = 2L, topK = 50))
    } finally shared.unpersist()
  }
}
