package graft

import java.nio.file.Files
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The registry of session-shared relations drives prebuild, release and
  * builder-gate eviction from one declaration per relation. Runs on an
  * events-only directory, as `PrebuildSharedSpec` does: the relations over
  * documents/embeddings/TPC-H tables fail to build there, the events ones
  * build. */
class SharedRegistrySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val dir = {
    val d  = Files.createTempDirectory("graft_registry_").toString
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    (0 until 40).map(i => (i.toLong, t0.plusMinutes(i * 17L), (i % 5).toLong, s"t${i % 3}", i * 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  private def persistedRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  "prebuildShared" should "build the 17 relations in their declared order" in {
    try {
      SparkEntry.prebuildShared(spark, dir).map(_.name) shouldBe Seq(
        "media_frames", "events_by_user", "term_index", "copurchase_edges",
        "minhash_candidates", "winnow_fps", "winnow_pairs", "pca_model", "nb_scored",
        "vector_index", "hourly_grid", "grid_series", "cc_labeling", "lpa_labeling",
        "rankings_top20", "bm25_batch", "positional_postings")
    } finally SparkEntry.releaseShared(spark, dir)
  }

  "timedBuilderGates" should "list the six builder gates, each a gate of the board" in {
    SparkEntry.timedBuilderGates shouldBe Map(
      "d_minhash"    -> "minhash_candidates",
      "d_winnow"     -> "winnow_fps+winnow_pairs",
      "d_cc"         -> "cc_labeling",
      "d_labelprop"  -> "lpa_labeling",
      "ts_resample"  -> "hourly_grid",
      "rt_bm25_join" -> "bm25_batch")
    SparkEntry.queries.keySet should contain allElementsOf SparkEntry.timedBuilderGates.keySet
  }

  "a builder gate" should "rebuild its relation while a consumer gate reuses it" in {
    val grid = SparkEntry.shared.all.find(_.name == "hourly_grid").get
    def current = grid(spark, dir).asInstanceOf[DataFrame]
    try {
      SparkEntry.prebuildShared(spark, dir)
      val prebuilt = current
      SparkEntry.queries("ts_gapfill")(spark, dir).count()
      current should be theSameInstanceAs prebuilt
      val before = persistedRddIds
      SparkEntry.queries("ts_resample")(spark, dir).count()
      current should not be theSameInstanceAs(prebuilt)
      // the prebuilt grid's cache is gone and a fresh one took its place
      (before -- persistedRddIds).size shouldBe 1
      (persistedRddIds -- before).size shouldBe 1
    } finally SparkEntry.releaseShared(spark, dir)
  }

  "releaseShared" should "unpersist every frame the prebuild persisted" in {
    val before = persistedRddIds.size
    SparkEntry.prebuildShared(spark, dir)
    persistedRddIds.size should be > before
    SparkEntry.releaseShared(spark, dir) shouldBe empty
    persistedRddIds.size shouldBe before
    SparkEntry.shared.all.filter(_.isCached(spark, dir)) shouldBe empty
  }

  private def frame(i: Int): DataFrame = Seq(i).toDF("v").persist()

  "release" should "remove every entry and return the releases that threw" in {
    val reg   = new Shared.Registry
    val boom  = new IllegalStateException("boom")
    val a     = reg.frame("a")((_, _) => frame(1))
    val bad   = reg[DataFrame]("bad", _ => throw boom)((_, _, _) => frame(2))
    val c     = reg.frame("c")((_, _) => frame(3))
    val Seq(fa, fbad, fc) = Seq(a, bad, c).map(_(spark, dir))
    reg.release(spark, dir) shouldBe Seq(Shared.Failure("bad", boom))
    Seq(a, bad, c).filter(_.isCached(spark, dir)) shouldBe empty
    fa.storageLevel shouldBe StorageLevel.NONE
    fc.storageLevel shouldBe StorageLevel.NONE
    fbad.unpersist()
  }

  "rebuild" should "evict every relation of the gate and then throw the first release failure" in {
    val reg    = new Shared.Registry
    val first  = new IllegalStateException("first")
    val second = new IllegalStateException("second")
    val g      = Some("g")
    val bad1   = reg[DataFrame]("bad1", _ => throw first, gate = g)((_, _, _) => frame(1))
    val ok     = reg.frame("ok", gate = g)((_, _) => frame(2))
    val bad2   = reg[DataFrame]("bad2", _ => throw second, gate = g)((_, _, _) => frame(3))
    val other  = reg.frame("other")((_, _) => frame(4))
    val frames = Seq(bad1, ok, bad2, other).map(_(spark, dir))
    reg.builderGates shouldBe Map("g" -> "bad1+ok+bad2")
    val thrown = the[IllegalStateException] thrownBy reg.rebuild("g", spark, dir)
    // reverse declaration order: the later relation is released first
    thrown shouldBe second
    thrown.getSuppressed.toSeq shouldBe Seq(first)
    Seq(bad1, ok, bad2).filter(_.isCached(spark, dir)) shouldBe empty
    other.isCached(spark, dir) shouldBe true
    reg.release(spark, dir) shouldBe empty
    frames.foreach(_.unpersist())
  }

  "a build" should "drop a stopped session's entries from every relation" in {
    val throwaway = spark.newSession()
    @volatile var stopped = false
    val reg = new Shared.Registry {
      override protected def stale(s: SparkSession): Boolean = stopped && (s eq throwaway)
    }
    val a = reg.frame("a")((s, _) => s.range(1).toDF())
    val b = reg.frame("b")((s, _) => s.range(2).toDF())
    a(throwaway, dir); b(throwaway, dir)
    stopped = true
    a(spark, dir)
    a.isCached(throwaway, dir) shouldBe false
    b.isCached(throwaway, dir) shouldBe false
    a.isCached(spark, dir) shouldBe true
  }
}
