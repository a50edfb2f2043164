package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** The one-pass sole-latest fold ([[graft.functions.SoleLatest]]) against
  * the three-aggregation reference it replaced (per-group max/count +
  * join-back + tie count/min key). Inputs spread over many partitions so
  * the partial/merge path executes; tie, singleton, null-ord and
  * all-null groups are all present. */
class SoleLatestSpec extends SparkTestBase {

  import spark.implicits._

  "graft_sole_latest" should "match the stats + join-back + re-aggregate reference" in {
    // g=1: sole latest (supplier 7 at ts 30, two others below)
    // g=2: TIE at the max (suppliers 4 and 9 both at ts 50) — nl = 2
    // g=3: singleton group
    // g=4: null ord rows ignored; 2 live rows, sole latest supplier 2
    // g=5: all ord null — ns = 0, last/key null
    val rows: Seq[(Long, java.lang.Long, java.lang.Long)] = Seq(
      (1L, Long.box(30L), Long.box(7L)), (1L, Long.box(10L), Long.box(1L)),
      (1L, Long.box(20L), Long.box(9L)),
      (2L, Long.box(50L), Long.box(9L)), (2L, Long.box(50L), Long.box(4L)),
      (2L, Long.box(40L), Long.box(1L)),
      (3L, Long.box(5L), Long.box(3L)),
      (4L, null, Long.box(8L)), (4L, Long.box(60L), Long.box(2L)),
      (4L, Long.box(55L), Long.box(6L)),
      (5L, null, Long.box(1L)), (5L, null, Long.box(2L)))
    val df = rows.toDF("g", "ord", "key").repartition(7) // force merges

    val got = df.groupBy(col("g"))
      .agg(GraftFunctions.soleLatest(col("ord"), col("key")).as("st"))
      .select(col("g"), col("st.ns"), col("st.last"), col("st.nl"), col("st.key"))
      .orderBy("g")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else Long.box(r.getLong(2)), r.getLong(3),
        if (r.isNullAt(4)) null else Long.box(r.getLong(4))))

    // the replaced chain, verbatim: per-group stats, then tie stats at the max
    val live = df.filter(col("ord").isNotNull)
    val per = live.groupBy(col("g"))
      .agg(count(lit(1)).as("ns"), max(col("ord")).as("last"))
    val atMax = live.join(per, "g").filter(col("ord") === col("last"))
      .groupBy(col("g")).agg(count(lit(1)).as("nl"), min(col("key")).as("k"))
    val ref = per.join(atMax, Seq("g"))
      .select(col("g"), col("ns"), col("last"), col("nl"), col("k"))
      .orderBy("g").collect()
      .map(r => (r.getLong(0), r.getLong(1), Long.box(r.getLong(2)), r.getLong(3),
        Long.box(r.getLong(4))))

    // groups with at least one live row match the reference exactly
    got.filter(_._2 > 0L) should contain theSameElementsInOrderAs ref
    // the all-null group folds to the empty state
    got.find(_._1 == 5L).get shouldBe ((5L, 0L, null, 0L, null))
    // the tie group reports both suppliers at the max with the least key
    got.find(_._1 == 2L).get shouldBe ((2L, 3L, Long.box(50L), 2L, Long.box(4L)))
  }

  it should "keep the fold a HashAggregate (flat buffer, no sort)" in {
    val df = Seq((1L, 2L, 3L)).toDF("g", "ord", "key")
    val plan = df.groupBy(col("g"))
      .agg(GraftFunctions.soleLatest(col("ord"), col("key")).as("st"))
      .queryExecution.executedPlan.toString
    withClue(plan) {
      plan should include("HashAggregate")
      plan should not include "SortAggregate"
    }
  }
}
