package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Skew-handling utilities for hot keys at scale. AQE's skew-join split
 * covers sort-merge joins; these cover the aggregation and broadcast-able
 * cases where pre-salting is the right tool.
 */
object Skew {

  /**
   * Two-phase salted aggregation: partial aggregate on (key, salt) spreads
   * a hot key over `saltFactor` reducers, then the final aggregate merges
   * the partials. Use for algebraic aggregates (count/sum/min/max) over
   * heavily skewed keys.
   *
   * {{{
   *   Skew.saltedAgg(events, Seq("event_type"), saltFactor = 16,
   *     partial = Map("cnt" -> (df => count(lit(1)))),
   *     merge   = Map("cnt" -> (c => sum(c))))
   * }}}
   */
  def saltedCount(df: DataFrame, keys: Seq[String], saltFactor: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltFactor)))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("count"))
  }

  /** generic salted sum over a numeric column. */
  def saltedSum(df: DataFrame, keys: Seq[String], valueCol: String, saltFactor: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltFactor)))
    salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("sum"))
  }

  /**
   * Salted skew join for a large skewed left side against a small-ish right
   * side: the left gets a random salt in [0, saltFactor), the right is
   * replicated `saltFactor` times, and the join key becomes (key, salt) —
   * a hot key's rows land on `saltFactor` different reducers.
   */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltFactor: Int = 8,
      joinType: String = "inner"
  ): DataFrame = {
    val saltedLeft = left.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltFactor)))
    val replicatedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1)).cast("array<long>")))
    saltedLeft
      .join(replicatedRight, Seq(key, "__salt"), joinType)
      .drop("__salt")
  }

  /**
   * HOT-KEY REPORT — the evidence a salting decision reads: the `topK`
   * heaviest join/group keys with their row count, share of all rows,
   * cumulative share, and load relative to the MEAN key (`x_mean` ≫ 1 on
   * the top key = salt it; `cum_share` of the top handful ≈ 1 = consider
   * a broadcast side-channel for just those keys). Run this before
   * choosing [[saltedJoin]]/[[saltedCount]] factors — at 100 TB the report
   * is one partial-aggregated pass, the per-key counts never leave the
   * executors, and only `topK` rows reach the final window.
   *
   * Determinism: counts are exact int64; ties on `n` break by the key
   * columns ascending in BOTH the top-k cut and the cumulative window, so
   * the report is stable across engines and parallelism.
   */
  def hotKeys(df: DataFrame, keys: Seq[String], topK: Int = 20, dp: Int = 6): DataFrame = {
    require(keys.nonEmpty, "keys must be non-empty")
    require(topK >= 1, "topK must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val tot = counts.agg(
      sum(col("n")).as("__t"), count(lit(1)).as("__k"))
    val ord = col("n").desc +: keys.map(col(_).asc)
    val top = counts.orderBy(ord: _*).limit(topK)
    // the window runs over the topK-row result only — unpartitioned is fine
    val w = Window.orderBy(ord: _*)
    top.crossJoin(broadcast(tot))
      .select(
        keys.map(col) ++ Seq(
          col("n"),
          round(col("n").cast("double") / col("__t").cast("double"), dp).as("share"),
          round(sum(col("n")).over(w).cast("double") / col("__t").cast("double"), dp)
            .as("cum_share"),
          round(col("n").cast("double") * col("__k").cast("double") / col("__t").cast("double"), dp)
            .as("x_mean")): _*)
  }
}
