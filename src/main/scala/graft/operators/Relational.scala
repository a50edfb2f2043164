package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational operators Spark lacks natively, re-expressed in shapes that
 * survive scale — no inequality-only joins, no cartesian products.
 */
object Relational {

  /**
   * AS-OF JOIN: for every left row, the LATEST right row with
   * `right.tsCol <= left.tsCol` within the same `keys` (the
   * "price as of the trade", "last click before the purchase" join).
   *
   * Spark has no ASOF join; an inequality join would be a per-key
   * cartesian. The scalable shape is union + running window:
   * tag both sides, ONE shuffle on `keys`, sort each key group by
   * `(ts, side)` with right rows first at equal ts (so a same-timestamp
   * right row IS visible — `<=` semantics), carry the last non-null
   * right payload forward, keep the left rows. Cost: one shuffle + one
   * in-partition sort over |left| + |right| — the same as a plain join,
   * at any scale.
   *
   * Right payload columns (everything except `keys` and `rightTsCol`)
   * come back NULL when no prior right row exists (left-outer
   * semantics). Determinism contract: the right side must be unique per
   * `(keys, ts)` — pre-aggregate it otherwise (several right rows at the
   * same instant have no defined "latest").
   */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTsCol: String,
      rightTsCol: String
  ): DataFrame = {
    val rightVals = right.columns.filterNot(c => keys.contains(c) || c == rightTsCol)
    val leftVals  = left.columns.filterNot(keys.contains)
    val shared    = leftVals.toSet.intersect(rightVals.toSet)
    require(shared.isEmpty,
      s"asofJoin payload columns must be disjoint (rename or drop on one side): ${shared.mkString(", ")}")
    val rvStruct  = struct(rightVals.map(col): _*)
    val rvSchema  = right.select(rightVals.map(col): _*).schema
    val lvStruct  = struct(leftVals.map(col): _*)
    val lvSchema  = left.select(leftVals.map(col): _*).schema

    val rTagged = right.select(
      keys.map(col) ++ Seq(
        col(rightTsCol).as("__ts"), lit(0).as("__side"),
        rvStruct.as("__rv"), lit(null).cast(lvSchema).as("__lv")): _*)
    val lTagged = left.select(
      keys.map(col) ++ Seq(
        col(leftTsCol).as("__ts"), lit(1).as("__side"),
        lit(null).cast(rvSchema).as("__rv"), lvStruct.as("__lv")): _*)

    // right rows (side 0) sort before left rows at the same ts: <= semantics
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rTagged.unionByName(lTagged)
      .withColumn("__asof", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val leftOut  = keys.map(col) ++ leftVals.map(c => col("__lv").getField(c).as(c))
    val rightOut = rightVals.map(c => col("__asof").getField(c).as(c))
    carried.select(leftOut ++ rightOut: _*)
  }

  /**
   * SESSIONIZE: assign every row a per-key session index — a new session
   * starts when the gap since the key's previous event exceeds
   * `gap` (classic gaps-and-islands). Returns the input plus
   * `session_idx` (0-based per key, in time order).
   *
   * Scale shape: ONE shuffle on `keys`; the lag and the running
   * session-count windows share that partitioning, so Catalyst plans a
   * single Exchange with two stacked in-partition window passes. State is
   * nothing — it's a batch operator (for streams, Structured Streaming's
   * `session_window` owns the same semantics with watermark eviction).
   */
  def sessionize(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gap: Long
  ): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val prev  = lag(col(tsCol), 1).over(byKey)
    // two projections: a window function cannot nest inside another —
    // both share the byKey partitioning, so it is still ONE Exchange
    df.withColumn("__new", when(prev.isNull || col(tsCol) - prev > gap, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("__new")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1L)
      .drop("__new")
  }

  /**
   * Per-session aggregate over [[sessionize]]: event count, start/end
   * timestamps and duration per `(keys, session_idx)` — the session table
   * an events pipeline materializes. Map-side-combinable aggregation over
   * the sessionized frame (same single shuffle).
   */
  def sessionStats(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      gap: Long
  ): DataFrame =
    sessionize(df, keys, tsCol, gap)
      .groupBy((keys :+ "session_idx").map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        (max(col(tsCol)) - min(col(tsCol))).as("duration"))

  /**
   * COHORT RETENTION: bucket time at `bucketLen`, assign every key to the
   * bucket of its first event (its cohort), and count distinct keys
   * active at each `(cohort, bucket_offset)` — the retention triangle.
   *
   * Scale shape: first-seen is one map-side-combined aggregation on the
   * key; the join back shuffles on the same key (co-partitioned with the
   * aggregation — no extra exchange for the probe side under AQE reuse);
   * the distinct + final count shuffle only `(cohort, offset, key)`
   * triples, partial-combined.
   */
  def retention(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      bucketLen: Long
  ): DataFrame = {
    require(bucketLen > 0, "bucketLen must be positive")
    // true floor division in long arithmetic (see rangeJoin): correct for
    // pre-epoch timestamps, exact above 2^53
    def floorDiv(c: String): String = s"(($c - pmod($c, ${bucketLen}L)) div ${bucketLen}L)"
    val firstSeen = df.groupBy(col(keyCol)).agg(min(col(tsCol)).as("__first"))
    df.join(firstSeen, keyCol)
      .select(
        col(keyCol),
        expr(floorDiv("__first")).as("cohort"),
        (expr(floorDiv(tsCol)) - expr(floorDiv("__first"))).as("bucket_offset"))
      .distinct()
      .groupBy(col("cohort"), col("bucket_offset"))
      .agg(count(lit(1)).as("n_keys"))
  }

  /**
   * FUNNEL: per key, the furthest stage of `stages` reached IN ORDER,
   * each stage matched at the earliest event strictly after the previous
   * match (greedy-earliest — the standard funnel semantics; greedy is
   * optimal, matching a stage as early as possible never hurts later
   * stages). Returns `(keys*, stage_reached)` with 0 = none.
   *
   * Scale shape: one shuffle on `keys`, events fold per key as a sorted
   * in-memory list (bounded by per-key event count — the usual funnel
   * assumption; cap upstream for adversarial keys).
   */
  def funnel(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stageCol: String,
      stages: Seq[String]
  ): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val stagesLit = lit(stages.toArray)
    val evs  = sort_array(collect_list(struct(col(tsCol).as("t"), col(stageCol).as("s"))))
    val init = struct(lit(0).as("m"), lit(Long.MinValue).as("t"))
    val reached = aggregate(evs, init, (acc, e) =>
      when(
        acc.getField("m") < stages.size &&
          e.getField("s") === element_at(stagesLit, acc.getField("m") + 1) &&
          e.getField("t") > acc.getField("t"),
        struct((acc.getField("m") + 1).as("m"), e.getField("t").cast("long").as("t")))
        .otherwise(acc)).getField("m")
    df.groupBy(keys.map(col): _*).agg(reached.as("stage_reached"))
  }

  /**
   * TIME-BOXED FUNNEL: like [[funnel]], but every stage must complete
   * within `windowTs` of the key's FIRST stage-1 event (the conversion-
   * window semantics of product funnels: "purchased within 3 days of the
   * first view"). Anchor = the earliest stage-1 event; within a fixed
   * anchor, taking the earliest eligible event per stage is optimal (it
   * maximizes the remaining window), so the greedy fold is exact. Same
   * one-shuffle collect-and-fold shape as [[funnel]].
   */
  def funnelWithin(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stageCol: String,
      stages: Seq[String],
      windowTs: Long
  ): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    require(windowTs > 0, "windowTs must be positive")
    val stagesLit = lit(stages.toArray)
    val evs  = sort_array(collect_list(struct(col(tsCol).as("t"), col(stageCol).as("s"))))
    val init = struct(lit(0).as("m"), lit(Long.MinValue).as("t"), lit(Long.MinValue).as("dl"))
    val reached = aggregate(evs, init, (acc, e) =>
      when(
        acc.getField("m") === 0 && e.getField("s") === element_at(stagesLit, 1),
        struct(lit(1).as("m"), e.getField("t").cast("long").as("t"),
          (e.getField("t") + windowTs).cast("long").as("dl")))
        .when(
          acc.getField("m") > 0 && acc.getField("m") < stages.size &&
            e.getField("s") === element_at(stagesLit, acc.getField("m") + 1) &&
            e.getField("t") > acc.getField("t") && e.getField("t") <= acc.getField("dl"),
          struct((acc.getField("m") + 1).as("m"), e.getField("t").cast("long").as("t"),
            acc.getField("dl").cast("long").as("dl")))
        .otherwise(acc)).getField("m")
    df.groupBy(keys.map(col): _*).agg(reached.as("stage_reached"))
  }

  /** [[funnelCounts]] over the time-boxed [[funnelWithin]]. */
  def funnelCountsWithin(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stageCol: String,
      stages: Seq[String],
      windowTs: Long
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val reached = funnelWithin(df, keys, tsCol, stageCol, stages, windowTs)
    val hits = reached
      .filter(col("stage_reached") > 0)
      .select(explode(sequence(lit(1), col("stage_reached"))).as("stage_idx"))
      .groupBy("stage_idx").agg(count(lit(1)).as("n_keys"))
    val all = stages.zipWithIndex.map { case (s, i) => (i + 1, s) }.toDF("stage_idx", "stage")
    all.join(hits, Seq("stage_idx"), "left_outer")
      .select(col("stage_idx"), col("stage"), coalesce(col("n_keys"), lit(0L)).as("n_keys"))
  }

  /**
   * Funnel conversion table over [[funnel]]: for every stage, how many
   * keys reached at least it — zero-filled so every stage always reports.
   */
  def funnelCounts(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stageCol: String,
      stages: Seq[String]
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val reached = funnel(df, keys, tsCol, stageCol, stages)
    val hits = reached
      .filter(col("stage_reached") > 0)
      .select(explode(sequence(lit(1), col("stage_reached"))).as("stage_idx"))
      .groupBy("stage_idx").agg(count(lit(1)).as("n_keys"))
    val all = stages.zipWithIndex.map { case (s, i) => (i + 1, s) }.toDF("stage_idx", "stage")
    all.join(hits, Seq("stage_idx"), "left_outer")
      .select(col("stage_idx"), col("stage"), coalesce(col("n_keys"), lit(0L)).as("n_keys"))
  }

  /**
   * INTER-EVENT GAP PROFILE: per event type, the median and p90 of the
   * gaps between a user's consecutive events of that type — the arrival-
   * cadence panel (billing heartbeats, crawler politeness, bot detection).
   * One window shuffle on `(user, type)` to difference the timestamps,
   * then a bounded `|types|`-row aggregate. Ties in `ts` leave the gap
   * MULTISET unchanged (consecutive differences of a sorted multiset), so
   * the result is deterministic under any tie order. Exact interpolated
   * percentiles over integer gaps — engine-portable per the interpolated-
   * median rule; for unbounded continuous domains at 100 TB flip
   * `approx = true` (same call shape, `approx_percentile` sketch state).
   */
  def interEventGaps(
      events: DataFrame,
      typeCol: String = "event_type",
      userCol: String = "user_id",
      tsCol: String = "ts",
      approx: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    val w = Window.partitionBy(col(userCol), col(typeCol)).orderBy(col(tsCol))
    // the double cast keeps the schema stable across the approx flag
    // (approx_percentile returns its INPUT type, exact percentile a double)
    def pct(p: Double) =
      if (approx) s"approx_percentile(__gap, $p, $approxAccuracy)"
      else s"percentile(__gap, $p)"
    events
      .withColumn("__gap", (col(tsCol) - lag(col(tsCol), 1).over(w)).cast("double"))
      .filter(col("__gap").isNotNull)
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n_gaps"),
        expr(pct(0.5)).as("p50_gap"),
        expr(pct(0.9)).as("p90_gap"))
  }

  /**
   * PERCENT-RANK NORMALIZATION within groups: each row's value becomes its
   * empirical percentile `(rank - 1) / (n - 1)` among its group (0 for a
   * singleton group) — the scale-free normalization that makes thresholds
   * comparable across heterogeneous strata (quality scores across sources,
   * latencies across endpoints). One shuffle on the group key; the rank is
   * a sort within each partition group, no global sort. The value is a
   * ratio of small integers, so it is bit-identical across engines.
   */
  def percentRankWithin(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      outCol: String = "pct_rank"
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(valueCol))
    df.withColumn(outCol, round(percent_rank().over(w), 4))
  }

  /**
   * LAST-TOUCH ATTRIBUTION: credit each conversion event to the most
   * recent preceding touch event of the same user (the classic marketing
   * attribution model), then aggregate conversions and value per touch
   * type. Conversions with no prior touch are credited to `'direct'`.
   *
   * Composition of [[asofJoin]] (the scale-safe union+running-window
   * shape — one shuffle, no inequality join) with a map-side-combined
   * aggregate over at most `touchTypes.size + 1` groups. Touches are
   * pre-aggregated to one row per `(user, ts)` (max type as the
   * deterministic tie-break), satisfying the as-of determinism contract.
   */
  def lastTouchAttribution(
      events: DataFrame,
      touchTypes: Seq[String],
      conversionType: String,
      tsCol: String = "ts",
      userCol: String = "user_id",
      typeCol: String = "event_type",
      valueCol: String = "value"
  ): DataFrame = {
    require(touchTypes.nonEmpty, "touchTypes must be non-empty")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol), col(tsCol), col(valueCol).as("conv_value"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .groupBy(col(userCol), col(tsCol)).agg(max(col(typeCol)).as("touch"))
    asofJoin(conv, touch, Seq(userCol), tsCol, tsCol)
      .groupBy(coalesce(col("touch"), lit("direct")).as("touch"))
      .agg(
        count(lit(1)).as("n_conversions"),
        round(sum(col("conv_value")), 3).as("attributed_value"))
  }

  /**
   * WINSORIZED MEAN per group: clamp values to the group's [pLo, pHi]
   * percentiles, then average — the standard outlier-robust aggregate.
   * Two passes sharing one shuffle key: percentiles first, cutoffs
   * broadcast back, then a plain map-side-combined average of the clamped
   * value.
   *
   * `approx = false` (default) uses Spark's exact `percentile`, which
   * keeps a per-group counts-map of DISTINCT values — fine for bounded or
   * discretized domains. For unbounded continuous domains at 100 TB that
   * state grows with distinct-value count, so `approx = true` switches
   * the SAME call shape to `approx_percentile` (fixed-size t-digest-style
   * sketch state, rank error ≤ 1/`approxAccuracy`) — the scale path is a
   * flag, not an edit. A spec bounds the approx-vs-exact drift.
   */
  def winsorizedMean(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      pLo: Double,
      pHi: Double,
      dp: Int = 3,
      approx: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    def pct(p: Double) =
      if (approx) s"approx_percentile($valueCol, $p, $approxAccuracy)"
      else s"percentile($valueCol, $p)"
    val cuts = df.groupBy(keys.map(col): _*)
      .agg(
        expr(pct(pLo)).cast("double").as("__lo"),
        expr(pct(pHi)).cast("double").as("__hi"))
    df.join(broadcast(cuts), keys)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        round(avg(greatest(col("__lo"), least(col("__hi"), col(valueCol)))), dp)
          .as("winsorized_mean"))
  }

  /**
   * RANGE (interval) JOIN: all `(left, right)` pairs within the same
   * `keys` with `right.ts` in `[left.ts + lower, left.ts + upper]`
   * (the "events within an hour of each other" join).
   *
   * A plain inequality join degenerates to per-key cartesian; the
   * scalable shape buckets time at the window width and joins on
   * `(keys, bucket)` equality: each left row probes its own bucket and,
   * when its window straddles a boundary, the adjacent one (explode ×≤2 —
   * the window spans `upper - lower = width - 1` ticks, so it touches at
   * most two width-sized buckets), then the exact range predicate
   * filters. Candidates are bounded by bucket occupancy — work scales
   * with the true match density, not |L|×|R| per key.
   */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTsCol: String,
      rightTsCol: String,
      lower: Long,
      upper: Long
  ): DataFrame = {
    require(upper >= lower, "upper bound must be >= lower bound")
    val width = math.max(1L, upper - lower + 1)
    // exact integer floor division: pmod is always in [0, width), so the
    // numerator is exactly divisible and `div` stays in long arithmetic.
    // (`floor(col / width)` would double-divide — loses precision above
    // 2^53, i.e. for nanosecond epochs — and plain `div` truncates toward
    // zero, mis-bucketing negative `ts + lower` values.)
    def floorDiv(c: String): String = s"(($c - pmod($c, ${width}L)) div ${width}L)"
    // left probes the buckets its window [ts+lower, ts+upper] can touch
    val lB = left
      .withColumn("__lo", col(leftTsCol) + lower)
      .withColumn("__hi", col(leftTsCol) + upper)
      .withColumn("__bucket", explode(sequence(
        expr(floorDiv("__lo")), expr(floorDiv("__hi")))))
      .drop("__lo", "__hi")
    val rB = right
      .withColumn("__rts", col(rightTsCol))
      .withColumn("__bucket", expr(floorDiv("__rts")))
      .drop("__rts")
    lB.join(rB, keys :+ "__bucket")
      .filter(col(rightTsCol).between(col(leftTsCol) + lower, col(leftTsCol) + upper))
      .drop("__bucket")
  }

  /**
   * TRANSITION MATRIX — per-key consecutive event pairs counted by
   * `(from_state, to_state)`: the empirical Markov chain behind
   * user-pathing analytics ("after a view, what happens next?") and
   * funnel discovery.
   *
   * ONE shuffle on `keys` for the lead window; the pair count is
   * map-side combined over at most `|states|²` groups. Requires unique
   * `(keys, tsCol)` rows for a deterministic successor (holds for event
   * streams with point timestamps); counts are integers.
   */
  def transitionCounts(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCol: String
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("__next", lead(col(stateCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(stateCol).as("from_state"), col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * STEP-INDEXED TRANSITIONS — [[transitionCounts]] broken out by journey
   * position: how many keys went `from → to` as their step-1 move, their
   * step-2 move, … up to `maxStep`. The Sankey/flow-diagram input (what
   * the first N hops of the user journey look like in aggregate), and the
   * per-position drop-off complement to [[topPaths]]' whole-prefix counts.
   *
   * Same scale shape as [[transitionCounts]]: one per-key window (lead +
   * row_number ride the same sort), then a ≤ `maxStep·|states|²`-row
   * count aggregation.
   */
  def stepTransitions(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCol: String,
      maxStep: Int = 5
  ): DataFrame = {
    require(maxStep >= 1, "maxStep must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.withColumn("__next", lead(col(stateCol), 1).over(w))
      .withColumn("__step", row_number().over(w).cast("long"))
      .filter(col("__next").isNotNull && col("__step") <= maxStep)
      .groupBy(col("__step").as("step"), col(stateCol).as("from_state"),
        col("__next").as("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * TOP PATHS — the most common early journeys: each key's first `pathLen`
   * states in time order joined into one `a>b>c` path string, counted
   * across keys, top-`k` by frequency (ties by path). The funnel-DISCOVERY
   * complement to [[funnel]], which checks one KNOWN sequence; this
   * surfaces which sequences exist — onboarding-flow and drop-off triage.
   *
   * One shuffle on `keys` (map-side-combined collect of a bounded-prefix
   * list), one on the path string (count), then TakeOrdered — no windows,
   * no joins. Ties in `tsCol` order deterministically by state (the
   * collected structs sort totally), so the path string is reproducible
   * under any partitioning.
   */
  def topPaths(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      stateCol: String,
      pathLen: Int = 5,
      k: Int = 20
  ): DataFrame = {
    require(pathLen > 0 && k > 0, "pathLen and k must be positive")
    df.groupBy(keys.map(col): _*)
      .agg(array_join(
        slice(transform(array_sort(collect_list(struct(col(tsCol), col(stateCol)))),
          s => s(stateCol)), 1, pathLen), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_keys"))
      .orderBy(col("n_keys").desc, col("path"))
      .limit(k)
  }

  /**
   * COHORT LTV CURVES: group users by first-seen period ("cohort"), then
   * for each cohort age (periods since the cohort started) report active
   * users, period revenue, cumulative revenue and cumulative revenue per
   * cohort member — the lifetime-value table behind retention economics.
   *
   * Engine-portable arithmetic: period revenue snaps to 2 dp; the
   * cumulative sum runs over the SNAPPED values in age order (a total
   * order per cohort), so both engines perform the identical addition
   * sequence; the per-user division divides two already-identical numbers.
   * Shuffle shape: one user-grain aggregation (first event), one
   * (cohort, age) aggregation, a broadcast of the |cohorts|-row size
   * table, and a per-cohort window — each key-bounded.
   */
  def cohortLtv(
      events: DataFrame,
      periodTs: Long,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value"
  ): DataFrame = {
    require(periodTs > 0, "periodTs must be positive")
    val firsts = events.groupBy(col(userCol))
      .agg(min(col(tsCol)).as("__first"))
      .withColumn("cohort",
        expr(s"((__first - pmod(__first, ${periodTs}L)) div ${periodTs}L) * ${periodTs}L"))
    val cohortSizes = firsts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    val aged = events.join(firsts.select(col(userCol), col("cohort")), userCol)
      .withColumn("age", expr(s"(($tsCol - cohort) - pmod($tsCol - cohort, ${periodTs}L)) div ${periodTs}L"))
    val per = aged.groupBy(col("cohort"), col("age"))
      .agg(
        count_distinct(col(userCol)).as("active_users"),
        round(sum(col(valueCol)), 2).as("period_rev"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
    per
      .withColumn("cum_rev", round(sum(col("period_rev")).over(w), 2))
      .join(broadcast(cohortSizes), "cohort")
      .select(col("cohort"), col("age"), col("active_users"), col("period_rev"),
        col("cum_rev"),
        round(col("cum_rev") / col("cohort_size").cast("double"), 4).as("ltv_per_user"))
  }

  /**
   * RFM SCORING: per-user Recency / Frequency / Monetary quintiles — the
   * classic customer-value segmentation. Each user gets three 1–5 scores
   * (5 = best: most recent, most frequent, highest spend) assigned by
   * `ntile(5)` over a TOTAL order (metric, then user id as tie-break), so
   * bucket assignment is identical across engines; `monetary` is snapped
   * to 2 dp BEFORE ordering so float-sum ulps can never flip the order.
   *
   * Scale shape: events collapse to one row per user in a single
   * map-side-combined aggregation; with `approx = false` (default, exact)
   * the three ntile windows then run over the |users| table — orders of
   * magnitude smaller than the event log, but still a single-partition
   * sort per window, since exact quintiles need a total order by
   * definition. Beyond ~4M users set `approx = true`: quintile CUTOFFS
   * come from one `approx_percentile` reduction (fixed-size sketch state,
   * map-side combined, rank error ≤ 1/`approxAccuracy`), broadcast back
   * as a single row, and each user scores row-locally by threshold
   * comparison — no window, no sort, fully partitioned. The semantic
   * difference is only at bucket boundaries: ntile splits ties across
   * buckets by user id to equalize sizes; thresholds land all ties of a
   * boundary value in one bucket (a spec pins the two paths equal
   * everywhere off those boundary values).
   */
  def rfmScores(
      events: DataFrame,
      nowTs: Long,
      tsCol: String = "ts",
      userCol: String = "user_id",
      valueCol: String = "value",
      approx: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    val per = events
      .groupBy(col(userCol))
      .agg(
        max(col(tsCol)).as("last_ts"),
        count(lit(1)).as("frequency"),
        round(sum(col(valueCol)), 2).as("monetary"))
    val scored =
      if (!approx) {
        def score(order: Column*): Column =
          (lit(6) - ntile(5).over(Window.orderBy(order: _*))).cast("long")
        per
          .withColumn("r_score", score(col("last_ts").desc, col(userCol).asc))
          .withColumn("f_score", score(col("frequency").desc, col(userCol).asc))
          .withColumn("m_score", score(col("monetary").desc, col(userCol).asc))
      } else {
        // one reduction carrying three 4-cutoff sketches, broadcast back
        def cuts(c: String) =
          expr(s"approx_percentile($c, array(0.2, 0.4, 0.6, 0.8), $approxAccuracy)")
        val cutRow = per.agg(
          cuts("last_ts").as("__rc"), cuts("frequency").as("__fc"), cuts("monetary").as("__mc"))
        // higher metric = better: 1 + number of strictly-exceeded cutoffs
        def score(v: Column, cutsCol: String): Column =
          (1 to 4).map(i => when(v > element_at(col(cutsCol), i), 1L).otherwise(0L))
            .reduce(_ + _) + lit(1L)
        per.crossJoin(broadcast(cutRow))
          .withColumn("r_score", score(col("last_ts"), "__rc"))
          .withColumn("f_score", score(col("frequency"), "__fc"))
          .withColumn("m_score", score(col("monetary"), "__mc"))
          .drop("__rc", "__fc", "__mc")
      }
    scored
      .withColumn("recency", lit(nowTs) - col("last_ts"))
      .select(col(userCol), col("recency"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
  }

  /**
   * STICKINESS (DAU/WAU) — per day: distinct active users that day, the
   * trailing-7-day distinct actives, and their ratio (the standard
   * engagement metric; 1.0 = every weekly user shows up daily). The
   * trailing-window distinct NEVER re-scans events per day: the distinct
   * `(user, day)` pairs explode to the ≤7 observation days each supports
   * (`day + 0..6` — activity at `day` lies within those days' trailing
   * windows) and a second distinct count collapses multi-day users. Both
   * aggregations are map-side-combined shuffles on bounded keys; the
   * explode multiplies only the PAIRS frame (users×days, already
   * deduplicated), never the raw stream.
   */
  def stickiness(
      events: DataFrame,
      tsCol: String = "ts",
      userCol: String = "user_id",
      dayUs: Long = 86400000000L
  ): DataFrame = {
    val pairs = events
      .select(col(userCol), expr(s"$tsCol div ${dayUs}L").as("__day"))
      .distinct()
    val dau = pairs.groupBy(col("__day")).agg(count(lit(1)).as("dau"))
    val wau = pairs
      .withColumn("__o", explode(sequence(lit(0L), lit(6L))))
      .select(col(userCol), (col("__day") + col("__o")).as("__obs"))
      .distinct()
      .groupBy(col("__obs")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("__day") === col("__obs"))
      .select(col("__day").as("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  /**
   * POWER-USER CONCENTRATION — the Pareto question every usage report
   * opens with: what share of all events comes from the top `frac` of
   * users (by event count)? One per-user aggregation; the top slice is
   * selected with `orderBy(...).limit(k)` — Spark's distributed
   * TakeOrdered, per-partition top-k then a k-row merge, NEVER a global
   * single-partition row_number window over the user frame (the classic
   * scale trap at 10⁹ users; for k beyond driver memory, switch to a
   * count-threshold filter from `approx_percentile`). `k = ceil(frac·n)`
   * uses the same IEEE product both engines compute, so the boundary row
   * is identical; ties on the count break by user id.
   */
  def powerUserConcentration(
      events: DataFrame,
      frac: Double = 0.2,
      userCol: String = "user_id"
  ): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    val spark = events.sparkSession
    val per = events.groupBy(col(userCol)).agg(count(lit(1)).as("__c"))
    val row = per.agg(count(lit(1)), sum(col("__c"))).head()
    val nUsers = row.getLong(0)
    // empty input: sum(__c) is NULL and every share is undefined — return
    // the zeroed one-row report instead of tripping getLong on a null
    if (nUsers == 0L)
      return spark.range(1).select(
        lit(0L).as("n_users"), lit(0L).as("top_users"),
        lit(null).cast("long").as("top_events"), lit(0L).as("total_events"),
        lit(null).cast("double").as("top_share"))
    val total = row.getLong(1)
    val k = math.ceil(frac * nUsers.toDouble).toLong
    require(k <= Int.MaxValue,
      s"top slice of $k users exceeds the TakeOrdered path — use an approx_percentile count threshold at this scale")
    per.orderBy(col("__c").desc, col(userCol))
      .limit(k.toInt)
      .agg(sum(col("__c")).as("top_events"))
      .select(
        lit(nUsers).as("n_users"),
        lit(k).as("top_users"),
        col("top_events"),
        lit(total).as("total_events"),
        (col("top_events").cast("double") / lit(total).cast("double")).as("top_share"))
  }

  /**
   * A/B TEST REPORT — Welch two-sample t-test of per-user metric value
   * (revenue per user) between two deterministically-assigned variants:
   * users with `userCol % 2 = 0` are arm A, `= 1` arm B (an id-parity
   * split, stable across engines and reruns — a hash split would need the
   * same hash function on both sides), and a user's metric is their total
   * `valueCol` over `metricEvent` events (0.0 for users who never emit
   * it — the per-USER unit keeps the test valid under per-user event-count
   * skew, and a mean metric can't saturate the way a binary conversion
   * flag does on a heavy-usage corpus). Emits one row per arm pair:
   * `t = (μ_b − μ_a) / √(s²_a/n_a + s²_b/n_b)`.
   *
   * Scale shape: one map-side-combined per-user aggregation, then a
   * 2-group reduction carrying (n, Σm, Σm²); no window, no join, no
   * driver math. Float portability: the per-user total snaps to 2 dp (its
   * input lattice) and the arm-level Σm/Σm² snap to 6 dp, so parallel
   * summation-order noise never reaches the emitted doubles; mean/var/t
   * then derive in one projection whose operation order the oracle
   * mirrors exactly.
   */
  def abTestReport(
      events: DataFrame,
      metricEvent: String,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      valueCol: String = "value"
  ): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(round(sum(when(col(typeCol) === metricEvent, col(valueCol)).otherwise(0.0)), 2)
        .as("__m"))
      .withColumn("__arm", pmod(col(userCol), lit(2L)))
    val arms = perUser
      .groupBy()
      .agg(
        sum(when(col("__arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        round(sum(when(col("__arm") === 0L, col("__m")).otherwise(0.0)), 6).as("__sa"),
        round(sum(when(col("__arm") === 1L, col("__m")).otherwise(0.0)), 6).as("__sb"),
        round(sum(when(col("__arm") === 0L, col("__m") * col("__m")).otherwise(0.0)), 6).as("__qa"),
        round(sum(when(col("__arm") === 1L, col("__m") * col("__m")).otherwise(0.0)), 6).as("__qb"))
    def mean(s: Column, n: Column)              = s / n.cast("double")
    def variance(q: Column, s: Column, n: Column) =
      (q - s * s / n.cast("double")) / (n - 1L).cast("double")
    val (na, nb) = (col("n_a"), col("n_b"))
    val ma = mean(col("__sa"), na); val mb = mean(col("__sb"), nb)
    val va = variance(col("__qa"), col("__sa"), na)
    val vb = variance(col("__qb"), col("__sb"), nb)
    arms.select(
      na, nb,
      // degenerate arms: an empty arm has no mean (ANSI divide-by-zero),
      // an n <= 1 arm no sample variance — emit NULL rather than an
      // engine-divergent inf/NaN (the oracle mirrors each CASE guard)
      when(na > 0L, ma).as("mean_a"), when(nb > 0L, mb).as("mean_b"),
      when(na > 0L && nb > 0L, mb - ma).as("lift"),
      when(na > 1L && nb > 1L,
        (mb - ma) / sqrt(va / na.cast("double") + vb / nb.cast("double")))
        .as("t_stat"))
  }

  /**
   * CUPED-ADJUSTED A/B REPORT (Deng et al. 2013, "Improving the
   * Sensitivity of Online Controlled Experiments"): regression-adjust the
   * per-user metric with a pre-experiment covariate —
   * `Y' = Y − θ(X − mean(X))`, `θ = cov(X,Y)/var(X)` pooled across arms —
   * the industry-standard variance-reduction that shrinks required sample
   * sizes by the metric's covariate R². The covariate here is the user's
   * total event COUNT (exact integer, no pre-period boundary to agree
   * on); the metric is the user's 2-dp-rounded value sum over
   * `metricEvent` rows — [[abTestReport]]'s exact spelling, so the two
   * reports compare like-for-like. Arms split deterministically by
   * `user_id % 2` (the fixture convention).
   *
   * Emits one row: θ, the covariate R² (= achieved variance-reduction
   * fraction), per-arm ADJUSTED means, adjusted lift, and the adjusted
   * t-statistic. Degenerate guards mirror [[abTestReport]]: NULL (never
   * inf/NaN) when an arm is empty/singleton or var(X) = 0.
   *
   * Determinism: everything reduces to six global sums (n, ΣX, ΣY, ΣX²,
   * ΣXY, ΣY²) plus per-arm (n, ΣX, ΣY) — each rounded to 6 dp at the
   * aggregate exactly like the sibling report, so both engines fold the
   * same doubles; θ/means/t are a fixed arithmetic tree over those.
   * Scale shape: one map-side-combined per-user aggregation, one global
   * fold. Nothing per-user survives the second aggregation.
   */
  def cupedReport(
      events: DataFrame,
      metricEvent: String,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      valueCol: String = "value"
  ): DataFrame = {
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        round(sum(when(col(typeCol) === metricEvent, col(valueCol)).otherwise(0.0)), 2).as("__y"),
        count(lit(1)).as("__x"))
      .withColumn("__arm", pmod(col(userCol), lit(2L)))
    val x = col("__x").cast("double")
    val g = perUser.groupBy().agg(
      count(lit(1)).as("n"),
      sum(col("__x")).as("sx"), // exact integer
      round(sum(col("__y")), 6).as("sy"),
      sum(col("__x") * col("__x")).as("sxx"), // exact integer
      round(sum(x * col("__y")), 6).as("sxy"),
      round(sum(col("__y") * col("__y")), 6).as("syy"),
      sum(when(col("__arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("__arm") === 0L, col("__x")).otherwise(0L)).as("sxa"),
      sum(when(col("__arm") === 1L, col("__x")).otherwise(0L)).as("sxb"),
      round(sum(when(col("__arm") === 0L, col("__y")).otherwise(0.0)), 6).as("sya"),
      round(sum(when(col("__arm") === 1L, col("__y")).otherwise(0.0)), 6).as("syb"))
    val n  = col("n").cast("double")
    val (na, nb) = (col("n_a"), col("n_b"))
    val naD = na.cast("double"); val nbD = nb.cast("double")
    val mx  = col("sx").cast("double") / n
    val covXY = col("sxy") - col("sx").cast("double") * col("sy") / n
    val varX  = col("sxx").cast("double") - col("sx").cast("double") * col("sx").cast("double") / n
    val varY  = col("syy") - col("sy") * col("sy") / n
    val theta = covXY / varX
    val r2    = covXY * covXY / (varX * varY)
    // adjusted arm mean: mean_arm(Y) − θ·(mean_arm(X) − mean(X))
    val adjA = col("sya") / naD - theta * (col("sxa").cast("double") / naD - mx)
    val adjB = col("syb") / nbD - theta * (col("sxb").cast("double") / nbD - mx)
    // adjusted pooled variance: var(Y)·(1 − R²) / (n−1), per arm via the
    // pooled residual variance (the standard CUPED t approximation)
    val varAdj = (varY - covXY * covXY / varX) / (n - 1.0)
    val ok = varX > 0.0
    g.select(
      na, nb,
      when(ok, round(theta, 6)).as("theta"),
      when(ok && varY > 0.0, round(r2, 6)).as("r2"),
      when(ok && na > 0L, round(adjA, 6)).as("adj_mean_a"),
      when(ok && nb > 0L, round(adjB, 6)).as("adj_mean_b"),
      when(ok && na > 0L && nb > 0L, round(adjB - adjA, 6)).as("adj_lift"),
      // varAdj can round to a hair below zero when the covariate explains
      // ~all variance — guard the sqrt, don't emit NaN
      when(ok && na > 1L && nb > 1L && varAdj > 0.0,
        round((adjB - adjA) / sqrt(varAdj / naD + varAdj / nbD), 6)).as("t_stat"))
  }

  /**
   * DIFFERENCE-IN-DIFFERENCES READOUT — the quasi-experimental companion
   * to [[abTestReport]]: per user, the 2-dp metric sum splits at
   * `boundaryTs` into pre/post cells (absent cells are exact 0 — the
   * user universe is everyone seen anywhere), and the estimate is the
   * classic `DiD = (B_post − B_pre) − (A_post − A_pre)` over per-arm cell
   * means, with the t computed from the per-user PAIRED differences
   * `d_u = y_post − y_pre` (Welch over the two arms' d-variances) — the
   * pre-period baseline absorbs persistent user-level heterogeneity the
   * plain lift cannot.
   *
   * Determinism/scale: [[cupedReport]]'s exact discipline — one per-user
   * aggregation (conditional sums), one global fold of 6-dp-rounded
   * sums; NULL guards (never NaN) on empty/singleton arms.
   */
  def didReport(
      events: DataFrame,
      metricEvent: String,
      boundaryTs: Long,
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts",
      valueCol: String = "value"
  ): DataFrame = {
    val isMetric = col(typeCol) === metricEvent
    val perUser = events
      .groupBy(col(userCol))
      .agg(
        round(sum(when(isMetric && col(tsCol) < boundaryTs, col(valueCol)).otherwise(0.0)), 2).as("__pre"),
        round(sum(when(isMetric && col(tsCol) >= boundaryTs, col(valueCol)).otherwise(0.0)), 2).as("__post"))
      .withColumn("__arm", pmod(col(userCol), lit(2L)))
      .withColumn("__d", col("__post") - col("__pre"))
    val g = perUser.groupBy().agg(
      sum(when(col("__arm") === 0L, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__arm") === 1L, 1L).otherwise(0L)).as("n_b"),
      round(sum(when(col("__arm") === 0L, col("__pre")).otherwise(0.0)), 6).as("pa"),
      round(sum(when(col("__arm") === 0L, col("__post")).otherwise(0.0)), 6).as("qa"),
      round(sum(when(col("__arm") === 1L, col("__pre")).otherwise(0.0)), 6).as("pb"),
      round(sum(when(col("__arm") === 1L, col("__post")).otherwise(0.0)), 6).as("qb"),
      round(sum(when(col("__arm") === 0L, col("__d")).otherwise(0.0)), 6).as("sda"),
      round(sum(when(col("__arm") === 1L, col("__d")).otherwise(0.0)), 6).as("sdb"),
      round(sum(when(col("__arm") === 0L, col("__d") * col("__d")).otherwise(0.0)), 6).as("qda"),
      round(sum(when(col("__arm") === 1L, col("__d") * col("__d")).otherwise(0.0)), 6).as("qdb"))
    val (na, nb) = (col("n_a"), col("n_b"))
    val naD = na.cast("double"); val nbD = nb.cast("double")
    val did = (col("qb") / nbD - col("pb") / nbD) - (col("qa") / naD - col("pa") / naD)
    val vda = (col("qda") - col("sda") * col("sda") / naD) / (na - 1L).cast("double")
    val vdb = (col("qdb") - col("sdb") * col("sdb") / nbD) / (nb - 1L).cast("double")
    g.select(na, nb,
      when(na > 0L, round(col("pa") / naD, 6)).as("pre_a"),
      when(na > 0L, round(col("qa") / naD, 6)).as("post_a"),
      when(nb > 0L, round(col("pb") / nbD, 6)).as("pre_b"),
      when(nb > 0L, round(col("qb") / nbD, 6)).as("post_b"),
      when(na > 0L && nb > 0L, round(did, 6)).as("did"),
      when(na > 1L && nb > 1L && (vda / naD + vdb / nbD) > 0.0,
        round(did / sqrt(vda / naD + vdb / nbD), 6)).as("t_stat"))
  }

  /**
   * SAMPLE-RATIO-MISMATCH CHECK — the first gate every experiment readout
   * must pass: with a deterministic 50/50 split (`user_id % 2`), is the
   * realized arm imbalance within chance? Emits the arm counts, the
   * imbalance z-score `(n_b − n_a)/√n` and the χ² statistic `z²`; |z| > 3
   * (χ² > 9) is the conventional "diagnose the assignment pipeline before
   * reading the metric" alarm. One count-only aggregation; integer until
   * the final two float ops.
   */
  def srmCheck(
      events: DataFrame,
      userCol: String = "user_id"
  ): DataFrame = {
    val arms = events.select(col(userCol)).distinct()
      .groupBy()
      .agg(
        sum(when(pmod(col(userCol), lit(2L)) === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(pmod(col(userCol), lit(2L)) === 1L, 1L).otherwise(0L)).as("n_b"))
    val n = (col("n_a") + col("n_b")).cast("double")
    val z = (col("n_b") - col("n_a")).cast("double") / sqrt(n)
    arms.select(col("n_a"), col("n_b"),
      when(n > 0.0, round(z, 6)).as("srm_z"),
      when(n > 0.0, round(z * z, 6)).as("srm_chi2"))
  }

  /**
   * GINI COEFFICIENT of per-key activity — the standard concentration
   * measure over the event log (0 = everyone equally active, → 1 = all
   * activity from one key), the summary number behind
   * [[powerUserConcentration]]'s top-share slice. EXACT integer
   * combinatorics end to end: per-key counts bucket by VALUE (distinct
   * activity levels, not keys), and within a bucket of `m` keys at count
   * `c` holding ranks `r+1..r+m`, the rank-weighted sum contributes
   * `c·(m·r + m(m+1)/2)` — so
   * `G = 2·T/(n·S) − (n+1)/n` needs no per-key sort, ever.
   *
   * Scale shape: one map-side-combined per-key count, one count-of-counts
   * aggregation. Distinct activity levels are SMALL for any Zipfian
   * activity log (bounded by the max count) — that histogram cumulates on
   * the driver in ascending count order. But they are NOT bounded in
   * adversarial distributions (near-distinct counts → one bucket per key),
   * so above `maxDriverBuckets` the same integer combinatorics run as a
   * distributed two-phase prefix sum instead
   * ([[graft.pipeline.Sampling.tokenBudget]]'s degenerate-bucket shape):
   * per-partition local folds in ascending-count range partitions, then
   * one ≤ #partitions-row collect of (t_local, Σc·m, Σm) composes the
   * global rank offsets. Both paths are pure integer arithmetic until the
   * final two divisions, so they agree bit-for-bit. Two divisions and one
   * subtraction are the only float ops, in the oracle's spelled order.
   */
  /**
   * LORENZ CURVE of a count distribution at decile resolution — for each
   * bottom-`d/deciles` slice of keys (ascending activity), the share of
   * total events that slice holds: the CURVE under [[giniConcentration]]'s
   * scalar (gini = 1 − 2·area under this), and the "bottom 90 % of users
   * produce x % of events" statement a sampling or capping decision
   * quotes. EXACT at every point: the boundary key count `k_d = ⌊d·n/D⌋`
   * is integer math and the straddling equivalence class contributes
   * exactly `(k_d − users_below)·c` events — no interpolation.
   *
   * Scale shape: the same count-of-counts histogram as
   * [[joinSkewReport]] (rows bounded by the heaviest key's size, never by
   * key count), one running cumulative over it, a |deciles|-row join.
   */
  def lorenzCurve(
      df: DataFrame,
      keyCol: String,
      deciles: Int = 10,
      dp: Int = 6
  ): DataFrame = {
    require(deciles >= 1, "deciles must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val hist = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col("__c")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cu", sum(col("__m")).over(w))
      .withColumn("__ce", sum(col("__c") * col("__m")).over(w))
    val tot = cum.agg(max(col("__cu")).as("n_keys"), max(col("__ce")).as("n_events"))
    val ds  = (1 to deciles).map(_.toLong).toDF("decile")
    val kD  = expr(s"(decile * n_keys) div $deciles")
    // the straddling class: users strictly below it < k_d ≤ users through it
    ds.crossJoin(tot)
      .withColumn("__k", kD)
      .join(cum, col("__cu") - col("__m") < col("__k") && col("__k") <= col("__cu"), "left")
      .select(col("decile"), col("__k").as("n_bottom_keys"),
        when(col("__k") === 0L, lit(0.0)).otherwise(
          round((col("__ce") - (col("__cu") - col("__k")) * col("__c")).cast("double")
            / col("n_events").cast("double"), dp)).as("event_share"))
  }

  /**
   * POWER-LAW TAIL EXPONENT of a count distribution — the discrete MLE
   * (Clauset, Shalizi & Newman 2009, eq. 3.7 approximation):
   * `α̂ = 1 + n / Σ ln(x_i / (xmin − ½))` over observations `x ≥ xmin`.
   * The one-number heaviness summary of per-user activity (or per-key
   * group sizes): α near 2 = extremely heavy tail (whale users dominate;
   * expect skew everywhere downstream), α ≥ 3 = finite variance, tame.
   * The token-side twin of [[graft.pipeline.TextAnalysis]]'s Zipf fit,
   * pointed at behavior; pairs with [[giniConcentration]] (concentration
   * NOW) as the generative-shape diagnosis.
   *
   * Determinism: each x is an exact int64, each `ln(x/(xmin−½))` one
   * division + one ln of identical operands, the sum the ascending-sorted
   * fold, then one division — the oracle replays every op. Scale shape:
   * one map-side-combined count per key, one |tail|-element single-group
   * fold (tail-bounded; raise `xmin` on corpora whose tail alone is
   * huge — the estimator only needs the tail by definition).
   */
  def powerLawAlpha(
      df: DataFrame,
      keyCol: String,
      xmin: Long = 5L,
      dp: Int = 6
  ): DataFrame = {
    require(xmin >= 1, "xmin must be >= 1")
    val tail = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__x"))
      .filter(col("__x") >= xmin)
    tail.agg(
        count(lit(1)).as("n_tail"),
        graft.functions.GraftFunctions.foldSum(
          collect_list(log(col("__x").cast("double") / lit(xmin - 0.5)))).as("__s"))
      .select(col("n_tail"), lit(xmin).as("xmin"),
        when(col("__s") > 0.0,
          round(lit(1.0) + col("n_tail").cast("double") / col("__s"), dp)).as("alpha"))
  }

  /**
   * JOIN-SKEW REPORT for a prospective shuffle key — the numbers that
   * decide between a plain shuffle join, AQE skew splitting and explicit
   * salting ([[graft.pipeline.Skew.saltedJoin]]): per-key row counts
   * summarized as max, EXACT p99 and the max/mean skew factor. A key
   * whose max is 100× its mean hot-spots one reducer at any cluster size;
   * this report is the measurement that precedes the fix.
   *
   * Scale shape: one map-side-combined count per key, then a COUNT-OF-
   * COUNTS histogram (rows = distinct class sizes — bounded by the
   * heaviest key, not by key count) carries the exact p99 as a running
   * cumulative over that tiny relation; no corpus-sized window anywhere.
   * `ceil(0.99·n)` is exact integer arithmetic; the one float op is the
   * final skew division.
   */
  def joinSkewReport(
      df: DataFrame,
      keyCol: String,
      percentile: Int = 99,
      dp: Int = 6
  ): DataFrame = {
    require(percentile >= 1 && percentile <= 100, "percentile must be in [1, 100]")
    val cls  = df.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val hist = cls.groupBy(col("__c")).agg(count(lit(1)).as("__m"))
    val w    = Window.orderBy(col("__c")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum  = hist.withColumn("__cum", sum(col("__m")).over(w))
    val tot  = cum.agg(
      sum(col("__m")).as("n_keys"),
      sum(col("__c") * col("__m")).as("n_rows"),
      max(col("__c")).as("max_per_key"))
    // smallest class size whose cumulative key count reaches ceil(p·n)
    val pRank = expr(s"($percentile * n_keys + ${100 - 1}) div 100")
    cum.crossJoin(tot)
      .filter(col("__cum") >= pRank)
      .agg(min(col("__c")).as(s"p${percentile}_per_key"),
        max(col("n_keys")).as("n_keys"), max(col("n_rows")).as("n_rows"),
        max(col("max_per_key")).as("max_per_key"))
      .select(col("n_keys"), col("n_rows"), col("max_per_key"), col(s"p${percentile}_per_key"),
        round(col("max_per_key").cast("double") /
          (col("n_rows").cast("double") / col("n_keys").cast("double")), dp).as("skew_factor"))
  }

  /**
   * K-ANONYMITY AUDIT over a quasi-identifier combination — before a
   * behavioral table ships to a training pipeline, how re-identifiable
   * are its rows? Groups rows by the `quasiCols` tuple and reports, for
   * each threshold in `ks`: how many equivalence classes fall below it
   * and what fraction of ROWS sits in those classes (the re-identification
   * exposure; a singleton class IS an identified individual). One
   * map-side-combined aggregation + one |classes|-row pass; every number
   * an exact int64 except the one exposure division per threshold.
   */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[String],
      ks: Seq[Int] = Seq(2, 5, 10),
      dp: Int = 6
  ): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(ks.nonEmpty && ks.forall(_ >= 2), "thresholds must be >= 2")
    val classes = df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__c"))
    val aggs = Seq(
      count(lit(1)).as("n_classes"),
      sum(col("__c")).as("n_rows"),
      min(col("__c")).as("min_class"),
      sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_singletons")) ++
      ks.flatMap(k => Seq(
        sum(when(col("__c") < k, 1L).otherwise(0L)).as(s"classes_lt_$k"),
        sum(when(col("__c") < k, col("__c")).otherwise(0L)).as(s"__rows_lt_$k")))
    classes.agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("n_classes"), col("n_rows"), col("min_class"), col("n_singletons")) ++
        ks.flatMap(k => Seq(col(s"classes_lt_$k"),
          round(col(s"__rows_lt_$k").cast("double") / col("n_rows").cast("double"), dp)
            .as(s"exposure_lt_$k"))): _*)
  }

  /**
   * LINEAR MULTI-TOUCH ATTRIBUTION — every touch inside the lookback
   * window before a conversion shares the conversion's value EQUALLY
   * (the fairness counterpoint to [[lastTouchAttribution]]'s
   * winner-take-all). Credit is an EXACT integer split on the cent
   * lattice: each touch gets the FLOOR share `(cents - pmod(cents, k)) / k`
   * and the LAST touch (by ts, then touch id — a total order, so duplicate
   * timestamps can't double-credit) absorbs the non-negative floor-mod
   * remainder, so per-channel credits sum to the converted revenue to the
   * cent FOR ANY SIGN of the value (refunds included) — conservation is
   * an invariant, not a rounding hope. The windows partition by CONVERSION id
   * (state bounded by one conversion's touch count, never a user's
   * history); credit sums fold in decimal(38,0) and cast back.
   */
  def linearAttribution(
      ev: DataFrame,
      convType: String = "purchase",
      windowUs: Long = 7L * 86400000000L,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      userCol: String = "user_id",
      valueCol: String = "value",
      idCol: String = "event_id"
  ): DataFrame = {
    require(windowUs >= 1, "windowUs must be >= 1")
    val cv = ev.filter(col(typeCol) === convType)
      .select(col(idCol).as("__cid"), col(userCol).as("__u"), col(tsCol).as("__ct"),
        round(col(valueCol) * 100, 0).cast("long").as("__cents"))
    val tc = ev.filter(col(typeCol) =!= convType)
      .select(col(userCol).as("__u"), col(idCol).as("__tid"), col(tsCol).as("__tt"),
        col(typeCol).as("__ty"))
    val j = cv.join(tc, Seq("__u"))
      .filter(col("__tt") <= col("__ct") && col("__tt") > col("__ct") - windowUs)
    val wLast = Window.partitionBy(col("__cid")).orderBy(col("__tt").desc, col("__tid").desc)
    val wK    = Window.partitionBy(col("__cid"))
    // FLOOR-division split: base = (cents - floormod) / k is exact for ANY
    // sign of cents (Spark's `div` truncates toward zero but the numerator
    // is a multiple of k, so every convention agrees), and base·k + m
    // always reconstitutes cents — a negative conversion (a refund) keeps
    // the conservation invariant that `cents div k` + pmod broke
    // (-5 div 2 = -2 but pmod(-5,2) = 1: -2·2+1 = -3 ≠ -5).
    j.withColumn("__rn", row_number().over(wLast))
      .withColumn("__k", count(lit(1)).over(wK))
      .withColumn("__m", pmod(col("__cents"), col("__k")))
      .select(col("__ty").as(typeCol),
        (expr("(__cents - __m) div __k") +
          when(col("__rn") === 1, col("__m")).otherwise(0L))
          .as("__credit"))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("__credit").cast("decimal(38,0)")).cast("long").as("credit_cents"))
  }

  /**
   * FUNNEL STEP TRANSITION TIMES — for each consecutive step pair of a
   * named funnel, the distribution of the time users take to move from
   * their FIRST occurrence of step `i` to their FIRST occurrence of step
   * `i+1`: user count plus EXACT type-1 p50/p90 on the whole-second
   * lattice. The "users convert, but HOW FAST" readout funnel counts
   * ([[funnel]]) can't answer — a checkout whose median time doubles is
   * broken long before its conversion rate moves.
   *
   * Determinism: first-occurrence timestamps are exact int64 µs minima;
   * deltas floor to whole seconds (`div` — the only convention two
   * engines can't disagree on); percentiles are type-1 lower quantiles
   * picked from the per-pair delta HISTOGRAM via a cumulative window (the
   * [[exactQuantiles]] shape — a window over the histogram, never the
   * users). Only ordered transitions count (`ts_b >= ts_a`); a user who
   * did step `i+1` before ever doing step `i` is not a transition.
   *
   * Scale shape: one partial-aggregated (user, step) min-ts groupBy, one
   * equi-join per step pair on the user key, then histogram-sized windows
   * — never a sort of the user list.
   */
  def stepTransitionTimes(
      ev: DataFrame,
      steps: Seq[String],
      tsCol: String = "ts",
      typeCol: String = "event_type",
      userCol: String = "user_id"
  ): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    require(steps.distinct.size == steps.size, "funnel steps must be distinct")
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    val first = ev.filter(col(typeCol).isin(steps: _*))
      .groupBy(col(userCol).as("__u"), col(typeCol).as("__s"))
      .agg(min(col(tsCol)).as("__t")).pinned
    val pairs = steps.zip(steps.tail).zipWithIndex.map { case ((a, b), i) =>
      first.filter(col("__s") === a).select(col("__u"), col("__t").as("__ta"))
        .join(first.filter(col("__s") === b).select(col("__u"), col("__t").as("__tb")), "__u")
        .filter(col("__tb") >= col("__ta"))
        .select(lit(i).as("__i"), lit(a).as("step_from"), lit(b).as("step_to"),
          expr("(__tb - __ta) div 1000000").as("__d"))
    }.reduce(_ unionAll _)
    val hist = pairs.groupBy(col("__i"), col("step_from"), col("step_to"), col("__d"))
      .agg(count(lit(1)).as("__m"))
    val w = Window.partitionBy(col("__i")).orderBy(col("__d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("__m")).over(w))
      .withColumn("__n", sum(col("__m")).over(Window.partitionBy(col("__i"))))
    val out = cum.groupBy(col("__i"), col("step_from"), col("step_to"))
      .agg(max(col("__n")).as("n_users"),
        min(when(col("__cum") >= expr("(50 * __n + 99) div 100"), col("__d"))).as("p50_s"),
        min(when(col("__cum") >= expr("(90 * __n + 99) div 100"), col("__d"))).as("p90_s"))
      .orderBy(col("__i"))
      .select(col("step_from"), col("step_to"), col("n_users"), col("p50_s"), col("p90_s"))
      .pinned
    Checkpoints.free(first)
    out
  }

  /**
   * EXACT PER-GROUP VALUE PERCENTILES from the count-of-counts histogram —
   * p50/p90/p99 of the cent-lattice value per group with NO row-level
   * sort: the value histogram (one partial-aggregated groupBy) is
   * cumulated per group (a window over the HISTOGRAM — bounded by
   * distinct values, not rows), and percentile p is the smallest value
   * whose cumulative count reaches `ceil(p·n/100)` (type-1 / lower
   * quantile — the only definition two engines can't disagree on, no
   * interpolation). The latency-band readout (`approx_percentile` gives
   * the fast approximate path; this is the exact, still-scale-safe one).
   */
  def exactQuantiles(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      percents: Seq[Int] = Seq(50, 90, 99)
  ): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be in [1, 100]")
    val cents = round(col(valueCol) * 100, 0).cast("long")
    val hist = df.select(col(keyCol).as("__k"), cents.as("__c"))
      .groupBy(col("__k"), col("__c")).agg(count(lit(1)).as("__m"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("__m")).over(w))
      .withColumn("__n", sum(col("__m")).over(Window.partitionBy(col("__k"))))
    val aggs = count(lit(1)).as("n_values") +:
      max(col("__n")).as("n_rows") +:
      percents.map(p =>
        min(when(col("__cum") >= expr(s"($p * __n + 99) div 100"), col("__c")))
          .as(s"p${p}_cents"))
    cum.groupBy(col("__k").as(keyCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /**
   * DETERMINISTIC POISSON BOOTSTRAP of a per-key mean — the standard-error
   * readout for a metric whose distribution is too skewed to trust the
   * normal formula (revenue per user): `replicas` resamples, each giving
   * every key a Poisson(1) weight, mean recomputed per replica, SE = the
   * replica means' standard deviation. NO RNG anywhere: the weight is the
   * Poisson(1) inverse-CDF of the portable id⊕replica hash (the
   * [[graft.pipeline.Sampling.hashSample]] polynomial over `"id#b"`,
   * thresholds = the cumulative pmf on the 1e-4 lattice, capped at 6) —
   * identical on any engine, any partitioning, any rerun; this is the
   * map-side bootstrap shape that needs ONE pass at 100 TB (explode ×B,
   * never B shuffles of the data). Per-replica weighted sums fold in
   * decimal(38,0) (`w ≤ 6`, so the per-row product stays in int64 for any
   * per-key value below 1.5e18); the replica-mean moments fold sorted by
   * replica index. Replicas whose weights all landed 0 are excluded (the
   * divisor is the surviving replica count).
   */
  def bootstrapMeanSe(
      df: DataFrame,
      idCol: String,
      valueCol: String,
      replicas: Int = 32,
      seed: Long = 7L,
      dp: Int = 6
  ): DataFrame = {
    require(replicas >= 2 && replicas <= 1024, "replicas must be in [2, 1024]")
    // the decimal(38,0) weighted-sum guarantee is stated on an INTEGER
    // lattice — a fractional value column would be silently truncated by
    // the long cast, so reject it at plan time: scale to cents/micros
    // explicitly first (round-14 advice item)
    val vt = df.schema(valueCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(vt),
      s"$valueCol must be an integral column (scale to a cent/micro lattice first); got $vt")
    val per = df.select(col(idCol).as("__id"), col(valueCol).cast("long").as("__x"))
      .groupBy(col("__id")).agg(sum(col("__x")).as("__x"))
    val pt = per.agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"))
    val h = col("__h")
    // Poisson(1) inverse CDF on the 1e-4 hash lattice: cum pmf ·10⁴
    val w = when(h < 3679L, 0L).when(h < 7358L, 1L).when(h < 9197L, 2L)
      .when(h < 9810L, 3L).when(h < 9963L, 4L).when(h < 9994L, 5L).otherwise(6L)
    val reps = per
      .select(col("__id"), col("__x"),
        explode(sequence(lit(0L), lit(replicas - 1L))).as("__b"))
      // the hash is its own column, so the CASE WHEN reads it once per row
      // instead of re-hashing in each of its branches
      .withColumn("__h", graft.pipeline.Sampling.sampleHash(
        concat_ws("#", col("__id"), col("__b")), seed))
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum(col("__w")).as("__sw"),
        sum((col("__w") * col("__x")).cast("decimal(38,0)")).as("__swx"))
      .filter(col("__sw") > 0L)
      .select(col("__b"), (col("__swx").cast("double") / col("__sw").cast("double")).as("__m"))
    val stats = reps
      .agg(array_sort(collect_list(struct(col("__b"), col("__m")))).as("__a"))
      .select(expr("transform(__a, q -> q.__m)").as("__ms"))
      .select(col("__ms"), size(col("__ms")).cast("long").as("n_replicas"),
        expr("aggregate(__ms, CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("__sm"))
      .withColumn("__mbar", col("__sm") / col("n_replicas").cast("double"))
      .select(col("n_replicas"),
        // a degenerate run (one surviving replica) must yield null, not
        // the NaN a 0-divisor sqrt would emit
        when(col("n_replicas") > 1L,
          sqrt(expr(
            "aggregate(transform(__ms, x -> (x - __mbar) * (x - __mbar)), " +
              "CAST(0.0 AS DOUBLE), (a, y) -> a + y)")
            / (col("n_replicas").cast("double") - 1.0))).as("__se"))
    pt.crossJoin(stats).select(
      col("n"),
      round(col("__sx").cast("double") / col("n").cast("double"), dp).as("mean"),
      col("n_replicas"),
      round(col("__se"), dp).as("boot_se"))
  }

  /**
   * CONVERSION RATE WITH WILSON 95% INTERVAL per time bucket — the
   * funnel-health readout with honest uncertainty: per bucket, the share
   * of `fromType` users who also fired `toType`, bounded by the Wilson
   * score interval (the small-n-safe interval — a 3-user bucket at 100%
   * reports [0.44, 1], where the naive ±1.96·se collapses to a point).
   * Counts are exact distinct-user integers; the interval is one fixed
   * double-arithmetic chain per bucket, spelled identically in the
   * oracle. One (bucket, user) pre-aggregation + one per-bucket
   * reduction — both partial-aggregated, no window anywhere.
   */
  def conversionWilson(
      ev: DataFrame,
      fromType: String,
      toType: String,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      userCol: String = "user_id",
      bucketUs: Long = 7L * 86400000000L,
      z: Double = 1.96,
      dp: Int = 6
  ): DataFrame = {
    require(bucketUs >= 1, "bucketUs must be >= 1")
    require(z > 0.0, "z must be positive")
    val per = ev
      .select(expr(s"$tsCol div ${bucketUs}L").as("bucket"), col(userCol),
        col(typeCol))
      .groupBy(col("bucket"), col(userCol))
      .agg(max(when(col(typeCol) === fromType, 1L).otherwise(0L)).as("__f"),
        max(when(col(typeCol) === toType, 1L).otherwise(0L)).as("__t"))
      .filter(col("__f") === 1L)
    val z2 = z * z
    val agg = per.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_base"), sum(col("__t")).as("n_conv"))
    val nd    = col("n_base").cast("double")
    val p     = col("n_conv").cast("double") / nd
    val denom = lit(1.0) + lit(z2) / nd
    val center = (p + lit(z2) / (lit(2.0) * nd)) / denom
    val half = (lit(z) * sqrt((p * (lit(1.0) - p) + lit(z2) / (lit(4.0) * nd)) / nd)) / denom
    agg.select(col("bucket"), col("n_base"), col("n_conv"),
      round(p, dp).as("rate"),
      round(center - half, dp).as("wilson_lo"),
      round(center + half, dp).as("wilson_hi"))
  }

  /**
   * L-DIVERSITY AUDIT — [[kAnonymity]]'s necessary companion: a class can
   * be k-anonymous yet leak everything if all k rows share one SENSITIVE
   * value (the "homogeneity attack"). Groups rows by the `quasiCols`
   * tuple and reports, for each threshold in `ls`: how many equivalence
   * classes carry fewer than `l` DISTINCT sensitive values and the
   * fraction of rows inside them, plus the global minimum diversity and
   * the count of fully-homogeneous classes (diversity 1 — every row's
   * sensitive value is disclosed by class membership alone). Exact
   * distincts (one two-level aggregation: (QI, sensitive) → QI), exact
   * int64 counts, one exposure division per threshold.
   */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      ls: Seq[Int] = Seq(2, 3),
      dp: Int = 6
  ): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(ls.nonEmpty && ls.forall(_ >= 2), "thresholds must be >= 2")
    val qi = quasiCols.map(col)
    val classes = df
      .groupBy(qi :+ col(sensitiveCol): _*).agg(count(lit(1)).as("__c"))
      .groupBy(qi: _*)
      .agg(sum(col("__c")).as("__n"), count(lit(1)).as("__d"))
    val aggs = Seq(
      count(lit(1)).as("n_classes"),
      sum(col("__n")).as("n_rows"),
      min(col("__d")).as("min_diversity"),
      sum(when(col("__d") === 1L, 1L).otherwise(0L)).as("n_homogeneous")) ++
      ls.flatMap(l => Seq(
        sum(when(col("__d") < l, 1L).otherwise(0L)).as(s"classes_lt_$l"),
        sum(when(col("__d") < l, col("__n")).otherwise(0L)).as(s"__rows_lt_$l")))
    classes.agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("n_classes"), col("n_rows"), col("min_diversity"),
        col("n_homogeneous")) ++
        ls.flatMap(l => Seq(col(s"classes_lt_$l"),
          round(col(s"__rows_lt_$l").cast("double") / col("n_rows").cast("double"), dp)
            .as(s"exposure_lt_$l"))): _*)
  }

  /**
   * SPEARMAN RANK CORRELATION between two metrics over one population —
   * "do users who DO more also SPEND more", monotone association robust
   * to the metric scales (Pearson on ranks). Ranks are the TOTAL ORDER
   * `(metric, id)` — id tie-break instead of statistical average ranks —
   * so both engines assign identical integer ranks and every moment
   * (`Σr`, `Σr²`, `Σr_x·r_y`) is an exact int64; rho's closed form then
   * divides identical doubles (exact below 2^53, the [[Graph]] ARI
   * convention beyond).
   *
   * Scale shape: two rank windows over the population — a global sort
   * each, so this is an EVAL statistic for bounded populations (cohorts,
   * panels), guarded by `maxRows` like `markovSteadyState.maxStates`;
   * the corpus-scale path would range-partition the rank prefix like
   * [[giniConcentration]]'s fallback. One |rows|-row aggregation ends it.
   */
  def rankCorrelation(
      df: DataFrame,
      xCol: String,
      yCol: String,
      idCol: String,
      maxRows: Long = 100000L,
      dp: Int = 6
  ): DataFrame = {
    val n = df.count()
    require(n > 0, "empty population")
    require(n <= maxRows,
      s"population $n exceeds maxRows=$maxRows (two global rank sorts); pre-aggregate or sample")
    val rx = row_number().over(Window.orderBy(col(xCol), col(idCol))).cast("long")
    val ry = row_number().over(Window.orderBy(col(yCol), col(idCol))).cast("long")
    val ranked = df.select(col(idCol), col(xCol), col(yCol))
      .withColumn("__rx", rx).withColumn("__ry", ry)
    val nD = lit(n.toDouble)
    val num = nD * col("__sxy").cast("double") - col("__sx").cast("double") * col("__sy").cast("double")
    val dnx = nD * col("__sxx").cast("double") - col("__sx").cast("double") * col("__sx").cast("double")
    val dny = nD * col("__syy").cast("double") - col("__sy").cast("double") * col("__sy").cast("double")
    ranked.agg(
        sum(col("__rx")).as("__sx"), sum(col("__ry")).as("__sy"),
        sum(col("__rx") * col("__rx")).as("__sxx"), sum(col("__ry") * col("__ry")).as("__syy"),
        sum(col("__rx") * col("__ry")).as("__sxy"))
      .select(lit(n).as("n"),
        when(lit(n) === 1L, lit(0.0))
          .otherwise(round(num / sqrt(dnx * dny), dp)).as("rho"))
  }

  def giniConcentration(
      events: DataFrame,
      keyCol: String = "user_id",
      maxDriverBuckets: Long = 1L << 20
  ): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val hist = events.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
      .groupBy(col("__c")).agg(count(lit(1)).as("__m"))
    // size-probe AND driver fetch in ONE scan: head(limit+1) collects at
    // most one row past the cap — when the histogram fits (the common,
    // Zipfian case) those rows ARE the buckets, no second aggregation;
    // only an over-cap histogram pays a second (distributed-path) scan
    val probeLimit = math.min(maxDriverBuckets, Int.MaxValue.toLong - 1L).toInt
    val probe = hist.head(probeLimit + 1)
    if (probe.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("n_keys", "n_events", "gini")
    val (n, s, t) =
      if (probe.length <= probeLimit) {
        val buckets = probe.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        var n = 0L; var s = 0L; var t = 0L; var r = 0L
        buckets.foreach { case (c, m) =>
          n += m
          s += c * m
          t += c * (m * r + m * (m + 1) / 2)
          r += m
        }
        (n, s, t)
      } else {
        // near-distinct counts: fold each ascending-count range partition
        // locally — t needs only the partition's STARTING rank, which is
        // the prefix sum of earlier partitions' key masses (Σm), composed
        // from a ≤ #partitions-row collect. c values are distinct by
        // construction (they're group keys), so range boundaries never
        // split a bucket.
        val parts = hist
          .repartitionByRange(col("__c"))
          .sortWithinPartitions(col("__c"))
          .as[(Long, Long)]
          .mapPartitions { it =>
            var lr = 0L; var tLoc = 0L; var cm = 0L
            it.foreach { case (c, m) =>
              tLoc += c * (m * lr + m * (m + 1) / 2)
              cm += c * m
              lr += m
            }
            Iterator.single((tLoc, cm, lr))
          }
          .toDF("__t", "__cm", "__m")
          .withColumn("__pid", spark_partition_id())
          .collect().map(r => (r.getInt(3), r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1) // pid order IS ascending-count order under range partitioning
        var n = 0L; var s = 0L; var t = 0L
        parts.foreach { case (_, tLoc, cm, m) =>
          t += tLoc + cm * n // global rank offset = key mass of earlier partitions
          s += cm
          n += m
        }
        (n, s, t)
      }
    val gini = (2.0 * t.toDouble) / (n * s).toDouble - (n + 1).toDouble / n.toDouble
    Seq((n, s, gini)).toDF("n_keys", "n_events", "__g")
      .select(col("n_keys"), col("n_events"), round(col("__g"), 6).as("gini"))
  }

  /**
   * MARKOV STEADY STATE of the event-type chain — where the user journey
   * spends its time in the long run. The transition matrix row-normalizes
   * [[transitionCounts]] (dangling states — no outgoing transition —
   * self-loop, the standard fix that keeps the matrix stochastic); the
   * stationary distribution comes from `rounds` synchronous power-
   * iteration steps `π ← πP` from uniform, renormalized and snapped to
   * 6 dp each round (the [[graft.pipeline.Sampling.domainReweight]]
   * determinism recipe — a fixed round count IS the contract, cf.
   * [[Graph.pageRank]]).
   *
   * Scale shape: one corpus pass builds the S×S count table (S = event
   * types, single digits); the iteration runs on the driver over that
   * bounded matrix, every fold in ascending state order so the oracle's
   * relational mat-vec rounds replay the identical IEEE sequence. The
   * bound is ENFORCED: `maxStates` is checked against the live distinct
   * count before anything is collected, so a mistakenly high-cardinality
   * `stateCol` fails loud instead of materializing an S² driver array.
   */
  def markovSteadyState(
      events: DataFrame,
      rounds: Int = 8,
      idCol: String = "user_id",
      tsCol: String = "ts",
      stateCol: String = "event_type",
      maxStates: Int = 1000
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 64, "rounds must be in [1,64]")
    val spark = events.sparkSession
    import spark.implicits._
    // the S×S matrix is a DRIVER structure: guard the cardinality BEFORE
    // collecting the transitions, so a high-cardinality stateCol (user ids
    // passed by mistake) fails loud instead of OOMing the driver. The
    // count comes from the already-needed transition table (persisted
    // around the probe), NOT a second full scan of `events` — the matrix
    // is built from tc's from/to states, so that is also the exact bound.
    val tcDf = transitionCounts(events, Seq(idCol), tsCol, stateCol).persist()
    val tc =
      try {
        val nStates = tcDf.select(col("from_state").as("s"))
          .union(tcDf.select(col("to_state").as("s")))
          .agg(countDistinct(col("s"))).head().getLong(0)
        require(nStates <= maxStates,
          s"markovSteadyState: $nStates distinct '$stateCol' states exceed maxStates=$maxStates — " +
            "the steady state is a driver-side S×S power iteration; pass a low-cardinality state " +
            "column (event types, not ids), or raise maxStates if S^2 doubles genuinely fit in driver memory")
        tcDf.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      } finally tcDf.unpersist()
    if (tc.isEmpty)
      return Seq.empty[(String, Double)].toDF("state", "steady_prob")
    val states = (tc.map(_._1) ++ tc.map(_._2)).distinct
      .sorted(graft.pipeline.OracleCompat.utf8Ordering) // the oracle's ORDER BY is UTF-8 bytes
    val s = states.length
    val idx = states.zipWithIndex.toMap
    val c = Array.ofDim[Long](s, s)
    tc.foreach { case (f, t, n) => c(idx(f))(idx(t)) = n }
    val rsum = c.map(_.sum)
    val p = Array.tabulate(s, s)((i, j) =>
      if (rsum(i) == 0L) { if (i == j) 1.0 else 0.0 }
      else c(i)(j).toDouble / rsum(i).toDouble)
    import graft.pipeline.OracleCompat.r6
    var pi = Array.fill(s)(1.0 / s)
    for (_ <- 1 to rounds) {
      val nx = Array.tabulate(s) { j =>
        var a = 0.0; var i = 0
        while (i < s) { a += p(i)(j) * pi(i); i += 1 } // ascending-state fold
        a
      }
      var sw = 0.0
      var j = 0
      while (j < s) { sw += nx(j); j += 1 }
      pi = nx.map(x => r6(x / sw))
    }
    states.zip(pi).toSeq.toDF("state", "steady_prob")
  }

  /**
   * KAPLAN–MEIER SURVIVAL CURVE of user lifetimes with right-censoring —
   * the churn-analysis face of the event log. A user's lifetime is
   * last-seen − first-seen, floored to `bucketUs` buckets; users still
   * active within `horizonUs` of the corpus' latest event are CENSORED:
   * their lifetime is only a lower bound, so dropping them would bias
   * survival down and counting them as churned would bias it up — KM is
   * the standard estimator that uses both correctly (censored users
   * leave the risk set at their observed lifetime without counting as
   * deaths). One row per lifetime with ≥1 churn:
   * `(t, n_risk, n_churned, survival)` where
   * `S(t) = Π_{s≤t} (1 − d_s/n_s)`.
   *
   * Scale shape: one per-user min/max aggregation (map-side combined),
   * then a bounded `(lifetime, censored)` count table — distinct
   * lifetimes ≤ span/bucket (hundreds for years of days) — cumulated on
   * the driver like [[graft.pipeline.Sampling.tokenBudget]]'s bucket
   * pass; suffix at-risk counts and the ascending-lifetime product fold
   * run over that bounded list, never a corpus-wide window. Counts are
   * exact int64; the per-step `1 − d/n` and running product are the
   * identical IEEE sequence the oracle's list scan replays.
   */
  def survivalCurve(
      events: DataFrame,
      bucketUs: Long,
      horizonUs: Long,
      idCol: String = "user_id",
      tsCol: String = "ts"
  ): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    require(horizonUs >= 0, "horizonUs must be >= 0")
    val spark = events.sparkSession
    import spark.implicits._
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    val per = events.groupBy(col(idCol))
      .agg(min(col(tsCol)).as("__f"), max(col(tsCol)).as("__l"))
      .pinned // read twice (corpus horizon + lifetime counts)
    val mxRow = per.agg(max(col("__l"))).head(1) // driver scalar, never a global window
    if (mxRow.isEmpty || mxRow(0).isNullAt(0)) { // empty input → NULL max
      Checkpoints.free(per)
      return Seq.empty[(Long, Long, Long, Double)].toDF("t", "n_risk", "n_churned", "survival")
    }
    val mx = mxRow(0).getLong(0)
    val counts = per
      .select(expr(s"(__l - __f) div $bucketUs").as("t"),
        (lit(mx) - col("__l") > lit(horizonUs)).cast("long").as("churn"))
      .groupBy(col("t"), col("churn")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    Checkpoints.free(per)
    if (counts.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)].toDF("t", "n_risk", "n_churned", "survival")
    val byT = counts.groupBy(_._1).map { case (t, rs) =>
      (t, rs.filter(_._2 == 1L).map(_._3).sum, rs.map(_._3).sum)
    }.toArray.sortBy(_._1) // (t, deaths, total) ascending
    val n = byT.map(_._3).sum
    var cum = 0L
    var s = 1.0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
    byT.foreach { case (t, d, tot) =>
      cum += tot
      val nRisk = n - cum + tot
      if (d > 0) {
        s = s * (1.0 - d.toDouble / nRisk.toDouble)
        out += ((t, nRisk, d, s))
      }
    }
    out.toSeq.toDF("t", "n_risk", "n_churned", "__s")
      .select(col("t"), col("n_risk"), col("n_churned"), round(col("__s"), 6).as("survival"))
  }

  /**
   * BENFORD first-digit audit of a positive value column — the classic
   * organic-vs-synthetic screen: naturally-generated magnitudes follow
   * `P(d) = log10(1 + 1/d)`; flat or spiky digit histograms flag
   * fabricated/defaulted/capped values feeding the pipeline. Values snap
   * to the engine's exact cent lattice first, and the leading digit is
   * read from the INTEGER's decimal string — no float log10 at the digit
   * boundary, so the histogram is bit-portable by construction.
   *
   * Returns `(digit 1-9, n, pct, benford)` with the observed and ideal
   * shares side by side. Scale shape: one row-local projection, one
   * 9-row aggregation; the total re-joins as a 1-row broadcast.
   */
  def benfordDigits(df: DataFrame, valueCol: String = "value"): DataFrame = {
    val agg = df
      .filter(col(valueCol).isNotNull && col(valueCol) > 0)
      .select(round(col(valueCol) * 100, 0).cast("long").as("__cents"))
      .filter(col("__cents") >= 1)
      .select(substring(col("__cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    agg.crossJoin(broadcast(agg.agg(sum(col("n")).as("__tot"))))
      .select(
        col("digit"),
        col("n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6).as("pct"),
        round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) / log(lit(10.0)), 6)
          .as("benford"))
  }
}
