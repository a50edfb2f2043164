package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.pipeline.Dedup

/** The bounded bucket-pair aggregation ([[graft.functions.CappedCollectSorted]]
  * + in-row enumeration) against the join form it replaced, and the bounded
  * top-k sum ([[graft.functions.TopKSum]]) against its window-rank reference.
  * Inputs are spread over many partitions so partial/merge paths execute. */
class CappedCollectSpec extends SparkTestBase {

  import spark.implicits._

  "Dedup.cappedBucketPairs" should "match the count+semi-join+self-join reference, cap included" in {
    // buckets: 10 → {1,2,3}; 20 → {2,3}; 30 → {4} (singleton); 40 → over-cap
    // {1,2,3,4,5}; 50 → {1,3} (pair seen in two buckets → two rows)
    val rel = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 2L), (20L, 3L),
      (30L, 4L),
      (40L, 1L), (40L, 2L), (40L, 3L), (40L, 4L), (40L, 5L),
      (50L, 1L), (50L, 3L)
    ).toDF("b", "id").repartition(7) // force partial aggregation merges
    val maxBucket = 4

    val got = Dedup.cappedBucketPairs(rel, Seq("b"), maxBucket)
      .orderBy("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))

    // the replaced chain, verbatim
    val small = rel.groupBy(col("b")).count().filter(col("count") <= maxBucket).select("b")
    val capped = rel.join(small, Seq("b"), "left_semi")
    val ref = capped.alias("a")
      .join(capped.alias("x"), col("a.b") === col("x.b") && col("a.id") < col("x.id"))
      .select(col("a.id"), col("x.id"))
      .orderBy("a.id", "x.id").collect().map(r => (r.getLong(0), r.getLong(1)))

    got should contain theSameElementsInOrderAs ref
    // and the over-cap bucket contributed nothing
    got.count(_ == (4L, 5L)) shouldBe 0
  }

  it should "clip degenerate buckets at cap+1 elements under partial merges" in {
    val rel = (1L to 5000L).map(i => (1L, i)).toDF("b", "id").repartition(16)
    val agg = rel.groupBy(col("b"))
      .agg(GraftFunctions.collectCapped(col("id"), 100).as("ids"))
      .head()
    agg.isNullAt(1) shouldBe true // over cap ⇒ NULL, not a 5000-element array
    Dedup.cappedBucketPairs(rel, Seq("b"), 100).count() shouldBe 0L
  }

  "TopKSum" should "equal the window rank<=k sum/count, ties and short groups included" in {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      ("a", 5L), ("a", 5L), ("a", 3L), ("a", 9L), ("a", 1L), ("a", 5L),
      ("b", 2L),
      ("c", -4L), ("c", -1L), ("c", -9L), ("c", -1L)
    ).toDF("k", "v").repartition(5)
    val k = 3
    val got = df.groupBy(col("k")).agg(GraftFunctions.topKSum(col("v"), k).as("t"))
      .select(col("k"), element_at(col("t"), 1).as("s"), element_at(col("t"), 2).as("c"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
    val ref = df.withColumn("r", row_number().over(w)).filter(col("r") <= k)
      .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got should contain theSameElementsInOrderAs ref
  }
}
