package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Incrementally-maintained pre-aggregated rollups — the Spark-native
 * analogue of the reference's write-time facet indexes (NSDb maintains
 * count/sum taxonomy facets per shard as data arrives,
 * `nsdb-core/src/main/scala/io/radicalbit/nsdb/index/AllFacetIndexes.scala:147-169`,
 * so serving-layer aggregations never rescan raw points). Here the rollup
 * is a SUFFICIENT-STATISTICS table `(keys…, bucket, n, vsum, vmin, vmax)`:
 * every serving aggregate (count/sum/avg/min/max, any coarser time grain)
 * derives from it, and appending a new batch of raw events never touches
 * the already-rolled history — [[build]] the delta, [[merge]] two stats
 * tables. Merge is associative/commutative, so maintenance parallelizes
 * and re-orders freely (the property NSDb's per-shard facet merge relies
 * on, `post_proc/package.scala:261-321`).
 *
 * 100 TB shape: [[build]] is one map-side-combined aggregation (the only
 * shuffle carries pre-aggregated `(key, bucket)` rows, not events);
 * [[merge]] unions two already-tiny stats tables and re-aggregates — at
 * 1000 executors the rollup of a 100 TB day is MBs, so serving queries on
 * it are interactive while the raw table stays cold.
 */
object Rollup {

  /** exact long floor-to-bucket (correct pre-epoch, exact above 2^53). */
  private def bucketExpr(tsCol: String, step: Long) =
    expr(s"(($tsCol - pmod($tsCol, ${step}L)) div ${step}L) * ${step}L")

  /**
   * Roll raw events up to `(keys…, bucket)` sufficient statistics. `step`
   * is the bucket width in `tsCol` units; `bucket` is the bucket's lower
   * edge in the same units.
   */
  def build(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long
  ): DataFrame = {
    require(step > 0, "step must be positive")
    df.groupBy(keys.map(col) :+ bucketExpr(tsCol, step).as("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("vsum"),
        min(col(valueCol)).as("vmin"),
        max(col(valueCol)).as("vmax"))
  }

  /**
   * [[build]] with EXCLUSIVE-LOWER / INCLUSIVE-UPPER cells `(U-step, U]`,
   * keyed by the upper edge `U` — the grain the engine's temporal serving
   * path needs: dialect buckets are `(upper-len, upper]` (reference
   * anchoring, `TimeRangeManager.scala:83-89`), so only upper-keyed cells
   * tile them exactly. Plain [[build]] keeps the conventional `[b, b+step)`
   * floor cells for analytics use.
   */
  def buildForServing(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long
  ): DataFrame = {
    require(step > 0, "step must be positive")
    val u = expr(s"((($tsCol - 1) - pmod($tsCol - 1, ${step}L)) div ${step}L) * ${step}L + ${step}L")
    df.groupBy(keys.map(col) :+ u.as("bucket"): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol)).as("vsum"),
        min(col(valueCol)).as("vmin"),
        max(col(valueCol)).as("vmax"))
  }

  /**
   * Merge two sufficient-statistics tables (same keys + bucket grain):
   * the incremental-maintenance step. `merge(build(a), build(b)) ==
   * build(a ∪ b)` up to float-sum ordering — the gate proves it against
   * a full recompute in a different engine.
   */
  def merge(a: DataFrame, b: DataFrame): DataFrame =
    coalesceStats(a.unionByName(b))

  /** Re-aggregate a stats table that holds several segments per group
    * (the single-frame half of [[merge]]; also the warehouse's merge-at-read
    * step over its appended rollup segments). */
  def coalesceStats(stats: DataFrame): DataFrame = {
    val groupCols = stats.columns.filterNot(Set("n", "vsum", "vmin", "vmax")).toSeq
    stats
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))
  }

  /**
   * Serving view over a stats table: the five standard aggregates with the
   * float sums snapped to a decimal lattice (`round(sum, sumDp)` absorbs
   * summation-order noise; the avg divides the snapped sum — one exact
   * IEEE op, cross-engine stable, see [[TimeSeries.resample]]).
   */
  def serve(rollup: DataFrame, sumDp: Int = 3): DataFrame = {
    val groupCols = rollup.columns.filterNot(Set("n", "vsum", "vmin", "vmax")).toSeq
    rollup.select(
      groupCols.map(col) ++ Seq(
        col("n"),
        round(col("vsum"), sumDp).as("total"),
        col("vmin"),
        col("vmax"),
        (round(col("vsum"), 6) / col("n")).as("mean")): _*)
  }

  /**
   * TRAILING-WINDOW SERVING from the stats table — per key and cell, the
   * last-`windowSteps`-cells aggregate (count/total/min/max/mean) WITHOUT
   * touching raw events: the "last 24 h" dashboard panel served from
   * hourly sufficient statistics, the moving companion to [[regrain]]'s
   * coarse re-grain. A RANGE frame over the bucket VALUE (not row
   * position) makes gap cells contribute nothing instead of silently
   * stretching the window.
   *
   * Determinism: per-cell sums snap to 6 dp and then to the micro-unit
   * INTEGER lattice (`round(v6*1e6)` as long) before the window fold, so
   * the fold itself is exact integer arithmetic on any engine/version —
   * no window-internal add/remove float-order sensitivity at all. The
   * single divide back to units is one exact IEEE op. Scale shape: one
   * shuffle on the key, per-key frames bounded by the CELL count
   * (≤ hours in retention), never the event count.
   */
  def movingWindow(
      rollup: DataFrame,
      step: Long,
      windowSteps: Int,
      sumDp: Int = 3
  ): DataFrame = {
    require(windowSteps >= 1, "windowSteps must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val groupCols = rollup.columns.filterNot(Set("bucket", "n", "vsum", "vmin", "vmax")).toSeq
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bucket"))
      .rangeBetween(-step * (windowSteps - 1), 0)
    val micro = round(round(col("vsum"), 6) * lit(1e6), 0).cast("long")
    val t6 = sum(micro).over(w).cast("double") / lit(1e6)
    rollup.select(groupCols.map(col) ++ Seq(
      col("bucket"),
      sum(col("n")).over(w).as("w_n"),
      round(t6, sumDp).as("w_total"),
      min(col("vmin")).over(w).as("w_min"),
      max(col("vmax")).over(w).as("w_max"),
      (t6 / sum(col("n")).over(w)).as("w_mean")): _*)
  }

  /**
   * Re-grain a stats table to a coarser bucket (e.g. hourly → daily)
   * without touching raw data — `coarseStep` must be a multiple of the
   * built step for exact containment.
   */
  def regrain(rollup: DataFrame, coarseStep: Long): DataFrame = {
    require(coarseStep > 0, "coarseStep must be positive")
    val groupCols = rollup.columns.filterNot(Set("bucket", "n", "vsum", "vmin", "vmax")).toSeq
    rollup
      .withColumn("bucket", bucketExpr("bucket", coarseStep))
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("vsum")).as("vsum"),
        min(col("vmin")).as("vmin"),
        max(col("vmax")).as("vmax"))
  }
}
