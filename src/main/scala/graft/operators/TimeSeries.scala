package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Time-series analytics beyond the reference's dialect (its temporal surface
 * stops at backward-anchored bucket aggregates —
 * `nsdb-core/.../statement/StatementParser.scala` temporal grouping): grid
 * resampling, gap-fill with interpolation, counter-reset-aware rates,
 * time-range rolling aggregates and z-score outlier flagging — the ops a
 * monitoring/feature pipeline runs over an events table.
 *
 * Every shape is one-or-two-shuffle and per-key windowed; nothing touches
 * the driver, nothing is quadratic, nothing generates a global time grid
 * (gaps are enumerated per consecutive-observation pair, so output size is
 * `observed + filled`, never `keys × full-span`).
 */
object TimeSeries {

  /** exact integer floor division in long arithmetic (see
    * [[Relational.rangeJoin]]): correct pre-epoch, exact above 2^53. */
  private def floorDiv(c: String, w: Long): String = s"(($c - pmod($c, ${w}L)) div ${w}L)"

  /**
   * OLS TREND + FORECAST per key, fit on the [[resample]] grid: slope and
   * intercept of value over grid index, plus the extrapolated value
   * `horizon` steps past each key's last observation — the cheapest
   * capacity-planning forecast (Holt without smoothing state).
   *
   * Engine-portable closed form: the regressors are small integers (grid
   * index from the key's first bucket) and the responses snap to a 1e-6
   * lattice, so every Σx, Σy, Σxy, Σx² is an EXACT integer sum (order-free
   * at any parallelism — magnitudes stay far below 2^53); slope and
   * intercept then divide identical numbers on both engines. Keys with a
   * single grid point report a flat forecast (slope 0).
   *
   * Scale shape: the resample's one map-side-combined aggregation, a
   * per-key min-bucket broadcast-back, and one |keys|-row aggregation.
   */
  def trendForecast(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      horizon: Int = 1,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(horizon >= 0, "horizon must be non-negative")
    val grid = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
    val kc   = keys.map(col)
    val mins = grid.groupBy(kc: _*).agg(min(col(tsCol)).as("__t0"))
    val xy = grid.join(mins, keys)
      .withColumn("__x", expr(s"($tsCol - __t0) div ${step}L")) // small int
      .withColumn("__y6", round(col(valueCol) * 1000000.0).cast("long")) // 1e-6 lattice
    val n   = count(lit(1)).cast("double")
    val sx  = sum(col("__x")).cast("double")
    val sy  = sum(col("__y6")).cast("double") / 1000000.0
    val sxy = sum(col("__x") * col("__y6")).cast("double") / 1000000.0
    val sxx = sum(col("__x") * col("__x")).cast("double")
    val den = n * sxx - sx * sx
    val slope     = when(den === 0.0, 0.0).otherwise((n * sxy - sx * sy) / den)
    val intercept = (sy - slope * sx) / n
    xy.groupBy(kc: _*)
      .agg(
        count(lit(1)).as("n_points"),
        max(col("__x")).as("__xmax"),
        max(col(tsCol)).as("__tmax"),
        round(slope, 6).as("slope"),
        round(intercept, 6).as("intercept"))
      .select(kc ++ Seq(
        col("n_points"),
        col("slope"), col("intercept"),
        (col("__tmax") + lit(horizon) * lit(step)).as("forecast_ts"),
        round(col("intercept") + col("slope") * (col("__xmax") + lit(horizon)).cast("double"), 6)
          .as("forecast")): _*)
  }

  /**
   * THEIL–SEN ROBUST TREND per key, fit on the [[resample]] grid: the
   * slope is the exact MEDIAN of all pairwise grid slopes
   * `(v_j − v_i)/(x_j − x_i)`, the intercept the median of the residuals
   * `v_i − slope·x_i` — the estimator that shrugs off the outliers that
   * bend [[trendForecast]]'s OLS line (breakdown point 29 %, vs 0 for
   * OLS). Run both over the same grid and a gap between the two slopes IS
   * the outlier alarm.
   *
   * Engine-portable determinism: grid values come off [[resample]]'s
   * 1e-6-lattice snap, the grid index is an exact long, so each pairwise
   * slope is ONE IEEE division of identical operands on both engines; the
   * exact median (middle order statistic; mean of the two middles when
   * even — `sum/count` over the ≤2 selected values, spelled identically
   * in the oracle) never interpolates beyond that one addition. The
   * intercept reuses the 6 dp-ROUNDED slope, so its residuals are again
   * identical doubles.
   *
   * Scale shape (round 17 — kernel form): the per-key grid is BOUNDED by
   * contract (`maxPoints`, refused up front with the coarser-step hint —
   * the probe is one tiny aggregate over the already-downsampled grid),
   * so the whole estimator is ONE grouped collect of the `(x, value)`
   * grid arrays plus two compiled per-key kernels
   * ([[graft.functions.TheilSenMedians]]): pairwise-slope median and
   * residual median, ≤ C(maxPoints, 2) ≈ 64 MB scratch per key — the
   * same bound that capped the former C(points,2) pair SELF-JOIN, whose
   * `keys × C(points,2)`-row frame and per-key window sort dominated the
   * gate while computing exactly these selections. Same IEEE divisions,
   * same positional median (sum of middles / count), same 6-dp snaps.
   */
  def theilSen(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      maxPoints: Int = 4096,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(maxPoints >= 2, "maxPoints must be >= 2")
    import graft.functions.GraftFunctions
    val kc = keys.map(col)
    val grid = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
      .withColumn("__x", expr(floorDiv(tsCol, step)))
      .localCheckpoint(true) // read twice below (maxPoints probe, series)
    val worst = grid.groupBy(kc: _*).agg(count(lit(1)).as("n"))
      .agg(max(col("n"))).head(1).headOption.flatMap(r => Option(r.get(0)))
    worst.foreach(n => require(n.asInstanceOf[Long] <= maxPoints,
      s"a key has $n grid points > maxPoints=$maxPoints (C(n,2) pair slopes); use a coarser step"))
    // one grouped collect; sort_array orders by x (distinct per key), so
    // the kernels see a deterministic layout. Keys with a single grid
    // point have no pair slope — the former inner join against the pair
    // frame dropped them; the filter keeps that contract.
    val series = grid
      .groupBy(kc: _*)
      .agg(count(lit(1)).as("n_points"),
        sort_array(collect_list(struct(col("__x").as("x"), col(valueCol).as("v")))).as("__sv"))
      .filter(col("n_points") >= 2L)
      .withColumn("slope",
        round(GraftFunctions.tsSlopeMedian(col("__sv.x"), col("__sv.v")), 6))
    // the grid pin stays live under the returned (lazy) frame — the caller
    // releases it via Checkpoints.free(result), the standard lifecycle
    series.select(kc ++ Seq(
      col("n_points"),
      expr("n_points * (n_points - 1) div 2").as("n_pairs"),
      col("slope"),
      round(GraftFunctions.tsResidMedian(col("__sv.x"), col("__sv.v"), col("slope")), 6)
        .as("intercept")): _*)
  }

  /**
   * RESAMPLE to a fixed grid: floor each timestamp to its `step` bucket and
   * average the values per `(keys, bucket)`. Returns `(keys*, tsCol,
   * valueCol)` with `tsCol` on the grid (bucket lower edge). One map-side-
   * combined aggregation — the standard downsampling primitive.
   *
   * The bucket average is `round(bucket sum, sumDp) / bucket count`, not a
   * rounded `avg`: the sum snap absorbs summation-order noise without ever
   * sitting on a decimal half (a 2 dp lattice input can't produce one at
   * 6 dp), and the division is one exact IEEE op — whereas `round(avg, 6)`
   * of e.g. a 16-sample bucket of 2 dp readings lands exactly on
   * `x.xxxxx5`, where a 1-ulp summation difference decides the rounding
   * side and engines split.
   */
  def resample(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      sumDp: Int = 6
  ): DataFrame = {
    require(step > 0, "step must be positive")
    df.groupBy(keys.map(col) :+ (expr(floorDiv(tsCol, step)) * step).as(tsCol): _*)
      .agg((round(sum(col(valueCol)), sumDp) / count(lit(1))).as(valueCol))
  }

  /**
   * WALD–WOLFOWITZ RUNS TEST per key over the [[resample]] grid — is the
   * series RANDOM around its median, or does it trend/oscillate? Each
   * grid value classifies above/below the key's exact type-1 lower
   * median (ties ON the median drop, the standard treatment); a run is a
   * maximal same-side stretch in time order; the z-score compares the
   * observed run count against the exact permutation moments
   * μ = 2·n1·n2/(n1+n2) + 1 and σ² = 2n1n2(2n1n2 − n1 − n2) /
   * ((n1+n2)²(n1+n2−1)). Too FEW runs = trending/clustered (z < 0), too
   * MANY = oscillating (z > 0) — the distribution-free companion to
   * [[turningPoints]]. Engine-portable: run/side counts are exact
   * integers, the moments are one fixed double chain off exact longs,
   * and z is null when σ = 0 (degenerate n1/n2). Scale shape: the
   * resample aggregation, one value-histogram median per key, one
   * per-key time-ordered lag — never a global sort.
   */
  def runsTest(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    val grid = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
    val kc   = keys.map(col)
    // exact type-1 lower median from the per-key value histogram
    val h  = grid.groupBy(kc :+ col(valueCol).as("__v"): _*).agg(count(lit(1)).as("__m"))
    val cw = Window.partitionBy(kc: _*).orderBy(col("__v"))
    val nw = Window.partitionBy(kc: _*)
    val med = h
      .withColumn("__cum", sum(col("__m")).over(cw))
      .withColumn("__n", sum(col("__m")).over(nw))
      .filter(col("__cum") >= expr("(__n + 1) div 2"))
      .groupBy(kc: _*).agg(min(col("__v")).as("__med"))
    val signed = grid.join(med, keys)
      .filter(col(valueCol) =!= col("__med"))
      .select(kc :+ col(tsCol) :+
        when(col(valueCol) > col("__med"), 1L).otherwise(-1L).as("__s"): _*)
    val tw = Window.partitionBy(kc: _*).orderBy(col(tsCol))
    val agg = signed
      .withColumn("__p", lag(col("__s"), 1).over(tw))
      .groupBy(kc: _*)
      .agg(
        sum(when(col("__s") === 1L, 1L).otherwise(0L)).as("n_above"),
        sum(when(col("__s") === -1L, 1L).otherwise(0L)).as("n_below"),
        sum(when(col("__p").isNull || col("__s") =!= col("__p"), 1L).otherwise(0L))
          .as("n_runs"))
    val n1 = col("n_above"); val n2 = col("n_below"); val nn = n1 + n2
    val two = lit(2L) * n1 * n2 // ≤ 2·(n/2)² — exact long far below 2^53
    val mu  = two.cast("double") / nn.cast("double") + 1.0
    val varNum = (two * (two - nn)).cast("double")
    val varDen = (nn * nn * (nn - 1L)).cast("double")
    agg.select(kc ++ Seq(
      n1, n2, col("n_runs"),
      when(n1 > 0L && n2 > 0L && nn > 1L && varNum > 0.0,
        round((col("n_runs").cast("double") - mu) / sqrt(varNum / varDen), 4))
        .as("z")): _*)
  }

  /**
   * PERMUTATION ENTROPY (Bandt–Pompe, order m=3) per key over the
   * [[resample]] grid — the model-free COMPLEXITY readout: slide a
   * 3-tick window along the series, classify each window by the ORDINAL
   * PATTERN of its values (which of the 6 orderings the triple forms),
   * and score the normalized Shannon entropy of the pattern histogram.
   * ≈1 = the six patterns equiprobable (noise-like), ≈0 = one pattern
   * dominates (monotone ramps, strict cycles) — the regime-detection
   * companion to [[runsTest]] (randomness around a LEVEL) and
   * [[turningPointTest]] (extrema count): this one sees ORDER structure.
   *
   * Determinism: windows with any TIE among the three values are
   * excluded (strict ordinal patterns only — on the cent lattice ties
   * are exact, never float-adjacent), pattern counts are exact integers,
   * and the entropy folds its ≤6 `p·ln(1/p)` terms VALUE-SORTED
   * ([[graft.functions.GraftFunctions.foldSum]]) before one division by
   * ln 6. Scale shape: the resample aggregation, one per-key ordered
   * window (two leads), one |keys × ≤6|-row aggregation — never a
   * global sort.
   */
  def permutationEntropy(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    import graft.functions.GraftFunctions
    import GraftFunctions.foldSum
    val grid = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
    val kc = keys.map(col)
    val tw = Window.partitionBy(kc: _*).orderBy(col(tsCol))
    val v1 = col("__v1"); val v2 = col("__v2"); val v3 = col("__v3")
    val pat = when(v1 < v2 && v2 < v3, 0L)
      .when(v1 < v3 && v3 < v2, 1L)
      .when(v2 < v1 && v1 < v3, 2L)
      .when(v2 < v3 && v3 < v1, 3L)
      .when(v3 < v1 && v1 < v2, 4L)
      .otherwise(5L)
    val wins = grid
      .select(kc :+ col(valueCol).as("__v1") :+
        lead(col(valueCol), 1).over(tw).as("__v2") :+
        lead(col(valueCol), 2).over(tw).as("__v3"): _*)
      .filter(v2.isNotNull && v3.isNotNull &&
        v1 =!= v2 && v1 =!= v3 && v2 =!= v3)
      .select(kc :+ pat.as("__p"): _*)
    val counts = wins.groupBy(kc :+ col("__p"): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(kc: _*)))
    val term = (col("__c").cast("double") / col("__n").cast("double")) *
      log(col("__n").cast("double") / col("__c").cast("double"))
    counts
      .select(kc :+ col("__c") :+ col("__n") :+ term.as("__t"): _*)
      .groupBy(kc: _*)
      .agg(
        max(col("__n")).as("n_windows"),
        count(lit(1)).as("n_patterns"),
        round(foldSum(collect_list(col("__t"))) / math.log(6.0), 6).as("pentropy"))
  }

  /**
   * DOMINANT-PERIOD DETECTION — which cycle length explains a key's grid
   * best: for every candidate period `P` in `[minPeriod, maxPeriod]`, the
   * ANOVA periodicity strength `SS_between(P) / SS_total` (the share of
   * variance explained by grouping ticks into `P` phases — the folded-
   * profile statistic; 1.0 = a perfect P-cycle, 0 = no structure at P),
   * reporting each key's argmax period. The auto-detect that feeds
   * [[decompose]]/[[seasonalProfile]] their `period` argument instead of
   * assuming 24. Unlike a DFT periodogram it needs NO transcendentals —
   * `cos` differs in the last ulp across math libraries, while this is
   * exact integer phase sums + one fixed double chain, so the oracle
   * replays it bit-identically.
   *
   * Determinism: grid values snap to the 1e-6 lattice (exact int64 phase
   * sums; squares fold in decimal(38,0)); per-(key, P) the phase terms
   * fold ASCENDING BY VALUE ([[graft.functions.GraftFunctions.foldSum]]'s
   * kernel order); ties on strength break to the smaller period.
   * Keys with zero total variance (constant series) are absent — there is
   * no period to report. Scale shape: the grid explodes ×|periods| (a
   * bounded constant), then two partial-aggregated groupBys and a per-key
   * argmax — no window over the corpus, no driver-side series.
   */
  def dominantPeriod(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      minPeriod: Int = 2,
      maxPeriod: Int = 24,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(minPeriod >= 2, "minPeriod must be >= 2")
    require(maxPeriod >= minPeriod, "maxPeriod must be >= minPeriod")
    import graft.functions.GraftFunctions
    import GraftFunctions.foldSum
    import graft.pipeline.Checkpoints.PinOps
    val v = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
      .select(keys.map(col) :+ expr(s"$tsCol div ${step}L").as("__idx") :+
        round(col(valueCol) * lit(1000000.0)).cast("long").as("__v6"): _*)
      .pinned // one grid pass feeds both the totals and the phase explode
    val tot = v.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(col("__v6")).as("__s"),
        sum(col("__v6").cast("decimal(19,0)") * col("__v6").cast("decimal(19,0)"))
          .as("__ss"))
    val ph = v
      .select(keys.map(col) ++ Seq(col("__idx"), col("__v6"),
        explode(sequence(lit(minPeriod.toLong), lit(maxPeriod.toLong))).as("__p")): _*)
      .groupBy(keys.map(col) ++ Seq(col("__p"), pmod(col("__idx"), col("__p")).as("__ph")): _*)
      .agg(count(lit(1)).as("__np"), sum(col("__v6")).as("__sp"))
    val mean = col("__s").cast("double") / col("__n").cast("double")
    val term = col("__np").cast("double") *
      (col("__sp").cast("double") / col("__np").cast("double") - mean) *
      (col("__sp").cast("double") / col("__np").cast("double") - mean)
    val strength = ph.join(tot, keys)
      .select(keys.map(col) ++ Seq(col("__p"), col("__ph"),
        col("__ss"), col("__s"), col("__n"), term.as("__t")): _*)
      .groupBy(keys.map(col) ++ Seq(col("__p")): _*)
      .agg(foldSum(collect_list(col("__t"))).as("__ssb"),
        max(col("__ss")).as("__ss"), max(col("__s")).as("__s"), max(col("__n")).as("__n"))
      .withColumn("__sst",
        col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") / col("__n").cast("double"))
      .filter(col("__sst") > 0.0)
      .withColumn("__r", col("__ssb") / col("__sst"))
    val out = strength
      .groupBy(keys.map(col): _*)
      .agg(min(struct((-col("__r")).as("nr"), col("__p").as("p"))).as("__b"))
      .select(keys.map(col) ++ Seq(
        col("__b.p").as("period"),
        round(-col("__b.nr"), 6).as("strength")): _*)
    out // the grid's pin rides the result lineage; the caller's free releases it
  }

  /**
   * GAP-FILL a gridded series (e.g. the output of [[resample]]): emit one
   * row per `step` tick between each key's first and last observation,
   * synthesizing the missing ticks. `mode`:
   *  - `"linear"` — interpolate between the surrounding observations
   *  - `"locf"`   — last observation carried forward
   * A `filled` boolean marks synthesized rows.
   *
   * `maxGap`: gaps longer than this are NOT filled (the PromQL "don't
   * connect across outages" rule) — the surrounding observations still
   * appear, the interior ticks don't.
   *
   * Scale shape: ONE shuffle on `keys` for the lead window, then a
   * per-row `sequence` explode bounded by that row's own gap length —
   * output is `observed + filled` rows, no key ever materializes the full
   * time span, and no driver-side grid exists.
   *
   * The output is deliberately NOT rounded: the interpolation fraction
   * `(t - t0) / (t1 - t0)` is a ratio of exact longs and the surrounding
   * observations come in rounded (e.g. from [[resample]]), so the whole
   * chain is bit-identical across engines as-is — whereas re-rounding a
   * lattice-valued input (2 dp readings averaged over 2 or 4 samples)
   * lands EXACTLY on decimal halves, where string-based (Spark) and
   * binary (C engines) round() legitimately disagree.
   */
  def gapFill(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      mode: String = "linear",
      maxGap: Option[Long] = None
  ): DataFrame = {
    require(step > 0, "step must be positive")
    require(mode == "linear" || mode == "locf", s"unknown gap-fill mode: $mode")
    val w  = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    // materialize the lead columns first: a window expression cannot ride
    // inside the generator
    val nt = col("__nt")
    // `nt − ts >= step` guards off-grid input: a successor closer than one
    // step (duplicate or sub-step timestamps) has no interior ticks, and
    // sequence(ts, nt − step) would throw on its inverted boundaries
    val fillable = nt.isNotNull && nt - col(tsCol) >= step &&
      maxGap.fold(lit(true))(g => nt - col(tsCol) <= g)
    val ticks = when(fillable, sequence(col(tsCol), nt - step, lit(step)))
      .otherwise(array(col(tsCol)))
    val g = df
      .withColumn("__nt", lead(col(tsCol), 1).over(w))
      .withColumn("__nv", lead(col(valueCol), 1).over(w))
      .withColumn("__t", explode(ticks))
    val frac = (col("__t") - col(tsCol)) / (col("__nt") - col(tsCol))
    val interp = mode match {
      case "linear" => col(valueCol) + (col("__nv") - col(valueCol)) * frac
      case "locf"   => col(valueCol)
    }
    g.select(
      keys.map(col) ++ Seq(
        col("__t").as(tsCol),
        when(col("__t") === col(tsCol), col(valueCol)).otherwise(interp).as(valueCol),
        (col("__t") =!= col(tsCol)).as("filled")): _*)
  }

  /**
   * COUNTER RATE with reset detection (the monitoring-counter semantic):
   * per key in time order, the sample-to-sample delta is `value - prev`,
   * except a decrease means the counter reset and the delta is the raw
   * `value`. Returns per key: sample count, total `increase` and
   * `rate_per_s` (increase over the observed span; null for keys with a
   * single sample). `tsCol` is microseconds. Requires unique
   * `(keys, tsCol)` rows — with timestamp ties the lag predecessor (and
   * so the reset detection) is not deterministic.
   *
   * ONE shuffle on `keys`: the lag window and the final aggregation share
   * the partitioning, and the aggregation is map-side combinable.
   */
  def counterRate(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      dpIncrease: Int = 3,
      dpRate: Int = 6
  ): DataFrame = {
    val w     = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val prev  = lag(col(valueCol), 1).over(w)
    val delta = when(prev.isNull, lit(0.0))
      .when(col(valueCol) >= prev, col(valueCol) - prev)
      .otherwise(col(valueCol)) // reset: the counter restarted below prev
    df.withColumn("__d", delta)
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_samples"),
        round(sum(col("__d")), dpIncrease).as("increase"),
        round(
          when(max(col(tsCol)) > min(col(tsCol)),
            sum(col("__d")) / ((max(col(tsCol)) - min(col(tsCol))) / lit(1000000.0))),
          dpRate).as("rate_per_s"))
  }

  /**
   * ROLLING time-range aggregate: for every row, the count and average of
   * `valueCol` over the trailing `window` (inclusive of the current row)
   * within the same key — `RANGE BETWEEN window PRECEDING AND CURRENT ROW`.
   * Rows at equal timestamps are frame peers (both included), so the
   * result is deterministic under timestamp ties.
   *
   * ONE shuffle on `keys`; the range frame is evaluated with a sliding
   * cursor inside each sorted partition — no self-join, no per-row rescan.
   *
   * `roll_avg` is `round(frame sum, sumDp) / frame count` rather than a
   * rounded `avg`: the sum snap absorbs summation-order noise (engines
   * disagree at ~1 ulp — segment-tree vs sequential folds) WITHOUT ever
   * sitting on a decimal half (inputs on a lattice coarser than
   * 10^-sumDp, e.g. 2 dp readings, can't produce one at 6 dp), and the
   * division is then one exact IEEE op — bit-identical across engines,
   * where `round(avg, 3)` of a 2-or-4-sample frame of 2 dp readings lands
   * exactly on `x.xxx5` and string-based vs binary round() split.
   */
  def rolling(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      window: Long,
      sumDp: Int = 6
  ): DataFrame = {
    require(window > 0, "window must be positive")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol)).rangeBetween(-window, 0)
    df.withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_avg", round(sum(col(valueCol)).over(w), sumDp) / count(lit(1)).over(w))
  }

  /**
   * Z-SCORE OUTLIERS: rows whose value deviates from their key's mean by
   * more than `threshold` sample standard deviations. Constant series
   * (stddev 0 or a single row) produce no outliers. Returns the flagged
   * rows plus a rounded `z` column.
   *
   * ZERO shuffles of the rows themselves: per-key mean/stddev come from
   * ONE map-side-combined aggregation (the shuffle carries per-partition
   * partial moments, not rows) broadcast back onto the scan — the former
   * unbounded-window spelling shuffled AND sorted every raw row by key to
   * compute the same two numbers, and a single hot key owned a whole
   * window partition. Assumes the per-key stats table broadcasts (bounded
   * key cardinality — the metric/tag model throughout this engine); the
   * null-safe join keys keep null-keyed groups flagged exactly as the
   * window partition did.
   */
  def zscoreOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      threshold: Double,
      dp: Int = 3
  ): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val stats = df
      .groupBy(keys.map(col): _*)
      .agg(avg(col(valueCol)).as("__m"), stddev_samp(col(valueCol)).as("__sd"))
      .select(keys.map(k => col(k).as(s"__k_$k")) ++ Seq(col("__m"), col("__sd")): _*)
    val joinCond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val z: Column = (col(valueCol) - col("__m")) / col("__sd")
    df.join(broadcast(stats), joinCond)
      .withColumn("__z", when(col("__sd") > 0, z))
      .filter(abs(col("__z")) > threshold)
      .withColumn("z", round(col("__z"), dp))
      .drop("__z" +: "__m" +: "__sd" +: keys.map(k => s"__k_$k"): _*)
  }

  /**
   * ANOMALY INTERVALS — [[zscoreOutliers]] over the [[resample]]d grid,
   * then consecutive flagged ticks merged into islands (`start_ts`,
   * `end_ts`, tick count, peak |z|): what a paging system actually wants —
   * one alert per EPISODE, not one per tick. The classic gaps-and-islands
   * anchor (`ts − step·row_number`) groups step-adjacent ticks exactly:
   * both terms are exact longs, so island identity is engine-portable.
   *
   * Scale shape: the resample's map-side-combined aggregation, the per-key
   * z window, then one window + one aggregation over only the FLAGGED
   * ticks (a tail of the grid, not the raw stream).
   */
  def anomalyIntervals(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      threshold: Double,
      dp: Int = 3,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    // z-flags via an unbounded window INLINE over the grid: the input here
    // is the already-aggregated resample frame (key × bucket cardinality,
    // tiny at any corpus scale), so one window pass beats zscoreOutliers'
    // raw-stream shape (stats aggregation + join back), which would either
    // re-execute the resample per branch or pay an extra materialization
    val wk = Window.partitionBy(keys.map(col): _*)
    val m  = avg(col(valueCol)).over(wk)
    val sd = stddev_samp(col(valueCol)).over(wk)
    val flagged = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
      .withColumn("__z", when(sd > 0, (col(valueCol) - m) / sd))
      .filter(abs(col("__z")) > threshold)
      .withColumn("z", round(col("__z"), dp))
      .drop("__z")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    flagged
      .withColumn("__anchor", col(tsCol) - lit(step) * row_number().over(w))
      .groupBy(keys.map(col) :+ col("__anchor"): _*)
      .agg(
        min(col(tsCol)).as("start_ts"),
        max(col(tsCol)).as("end_ts"),
        count(lit(1)).as("n_ticks"),
        max(abs(col("z"))).as("peak_z"))
      .select(keys.map(col) ++ Seq(col("start_ts"), col("end_ts"), col("n_ticks"), col("peak_z")): _*)
  }

  /**
   * SEASONAL PROFILE — the per-key average value by cyclic phase (e.g.
   * hour-of-day with `period = 24 h buckets of width 1 h`): the baseline
   * a seasonality-aware monitor compares live traffic against. Returns
   * `(keys*, phase, n, avg_value)` where `phase = (ts div width) mod
   * period`.
   *
   * ONE map-side-combined aggregation over `keys × period` groups — a
   * bounded-cardinality result at any corpus size. The average is
   * `round(sum, sumDp) / count` (see [[resample]] for why this and not
   * a rounded `avg`); phase arithmetic is pure int64.
   */
  def seasonalProfile(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      width: Long,
      period: Int,
      sumDp: Int = 6
  ): DataFrame = {
    require(width > 0, "width must be positive")
    require(period > 0, "period must be positive")
    df.groupBy(keys.map(col) :+ expr(s"($tsCol div ${width}L) % $period").as("phase"): _*)
      .agg(
        count(lit(1)).as("n"),
        (round(sum(col(valueCol)), sumDp) / count(lit(1))).as("avg_value"))
  }

  /**
   * MAD OUTLIERS — the robust sibling of [[zscoreOutliers]]: rows whose
   * absolute deviation from their key's MEDIAN exceeds `threshold` times
   * the key's median-absolute-deviation (the Hampel/robust-z test, the
   * standard choice when the series itself contains the spikes you are
   * hunting — mean and stddev are dragged by outliers, median and MAD are
   * not). Constant series (MAD 0) produce no outliers. Returns the flagged
   * rows plus a rounded `rz` robust-z column (`|x − med| / mad`).
   *
   * ONE shuffle on `keys`: both exact medians ride unbounded windows over
   * the same partitioning (the second stacks on the first — same
   * Exchange, two Window nodes), then a plain filter. Exact `percentile`
   * holds per-key sorted state, which is fine for per-key monitoring
   * cardinalities; an unbounded value domain at 100 TB would switch to
   * `approx_percentile` — same plan shape.
   *
   * Float portability: the even-count median interpolates the two middle
   * lattice values with one multiply-add (both engines use
   * `lo + (hi−lo)·frac`), deviations are exact IEEE subtracts of those,
   * and the threshold compare multiplies exact doubles — no rounding sits
   * on a decision boundary. Callers gate with a threshold the data clears
   * by a wide margin (see the `ts_mad` entry note).
   */
  def madOutliers(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      threshold: Double,
      dp: Int = 3
  ): DataFrame = {
    require(threshold > 0, "threshold must be positive")
    val w   = Window.partitionBy(keys.map(col): _*)
    val med = percentile(col(valueCol), lit(0.5)).over(w)
    df.withColumn("__ad", abs(col(valueCol) - med))
      .withColumn("__mad", percentile(col("__ad"), lit(0.5)).over(w))
      .filter(col("__mad") > 0 && col("__ad") > lit(threshold) * col("__mad"))
      .withColumn("rz", round(col("__ad") / col("__mad"), dp))
      .drop("__ad", "__mad")
  }

  /**
   * LARGEST DELTAS — the `k` biggest sample-to-sample jumps per key:
   * `|value − lag(value)|` in time order, ranked descending (ties broken
   * by timestamp). The "what moved most" screen over a metric family —
   * deploy-impact triage, level-shift detection, top-movers dashboards.
   *
   * ONE shuffle on `keys`: the lag window and the rank window share the
   * partitioning (one Exchange, stacked Window nodes), and the rank
   * filter is `WindowGroupLimit`-pruned to `k` map-side, so a hot key
   * never funnels its full history through the rank.
   *
   * Deltas of lattice-valued inputs (e.g. 2 dp readings) are exact IEEE
   * subtracts — no rounding anywhere, bit-identical across engines.
   * Requires unique `(keys, tsCol)` rows for a deterministic predecessor
   * (see [[counterRate]]).
   */
  def largestDeltas(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val wt = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    val wr = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("delta").desc, col(tsCol))
    df.withColumn("delta", abs(col(valueCol) - lag(col(valueCol), 1).over(wt)))
      .filter(col("delta").isNotNull)
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k)
  }

  /** [[resample]] to the `step` grid, then collect each key's series as one
    * ts-sorted struct array — the shared front half of the scan operators
    * ([[ewmaScan]], [[cusumScan]]). Two shuffles total (resample agg +
    * per-key collect); the collected array is the DOWNSAMPLED grid, whose
    * length is span/step per key (hours-in-a-year ≈ 8.8k entries), not the
    * raw sample count — so a key's series stays executor-sized even when
    * its raw history does not. `(keys, ts)` is unique post-resample, so the
    * struct sort is a deterministic total order. */
  private def gridSeries(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      gridIn: Option[DataFrame]
  ): DataFrame = gridIn match {
    // a PRE-COLLECTED series relation ([[collectedGridSeries]]) passes
    // straight through: ~13 scan-fold gates fold the same per-key arrays,
    // so the session can pay the collect once instead of once per gate
    case Some(g) if g.columns.contains("__pts") => g
    case _ =>
      gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
        .groupBy(keys.map(col): _*)
        .agg(array_sort(collect_list(struct(col(tsCol), col(valueCol)))).as("__pts"))
  }

  /** The collected per-key series of an ALREADY-RESAMPLED grid — each key's
    * `(ts, value)` structs as one ts-sorted array, the exact frame
    * [[gridSeries]] builds per call. Build it once over a shared grid and
    * pass it through any scan operator's `gridIn` (recognized by its
    * `__pts` column): the struct sort is a deterministic total order
    * ((keys, ts) is unique post-resample), so the shared frame is
    * bit-identical to the per-gate collect it replaces. */
  def collectedGridSeries(
      grid: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value"
  ): DataFrame =
    grid.groupBy(keys.map(col): _*)
      .agg(array_sort(collect_list(struct(col(tsCol), col(valueCol)))).as("__pts"))

  /** explode `(pts, scans*)` arrays back to one output row per grid tick. */
  private def explodeScan(
      grid: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      scanCols: Seq[String]
  ): DataFrame = {
    val zipped = grid.withColumn("__e",
      explode(arrays_zip(col("__pts") +: scanCols.map(col): _*)))
    zipped.select(keys.map(col) ++ Seq(
      col(s"__e.__pts.$tsCol").as(tsCol),
      col(s"__e.__pts.$valueCol").as(valueCol)) ++
      scanCols.map(c => col(s"__e.$c").as(c.stripPrefix("__"))): _*)
  }

  /**
   * EWMA SCAN — exponentially weighted moving average over the [[resample]]d
   * grid: per key, in time order, `s1 = x1` and
   * `si = alpha*xi + (1-alpha)*s(i-1)` (Hunter's EWMA control-chart
   * recurrence). The standard smoothing/trend-extraction primitive a
   * monitoring pipeline runs after downsampling.
   *
   * The recurrence is inherently sequential PER KEY, so the distributed
   * shape is: downsample first (map-side-combined agg), then one fold over
   * each key's own grid array — a codegen'd `aggregate` higher-order
   * function, no UDF, no window-per-row O(n^2), no driver involvement.
   * Keys scan in parallel; a 1000-executor cluster runs 1000 series at a
   * time.
   *
   * Float portability: the scan is emitted UNROUNDED. The grid values
   * arrive 6 dp-snapped from [[resample]] and both engines fold the SAME
   * ts-ordered list with the SAME literal (`CAST(alpha AS DOUBLE)` here,
   * `alpha::DOUBLE` in the oracle), so every intermediate is the same IEEE
   * op sequence — bit-identical by construction, per the sorted-fold rule
   * (see `MEMORY`: oracle-float-portability). `alpha` must round-trip its
   * decimal literal (any Scala double literal does).
   */
  def ewmaScan(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      alpha: Double = 0.25,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val a = s"CAST($alpha AS DOUBLE)"
    val scan =
      s"""aggregate(slice(__pts, 2, size(__pts) - 1),
         |  array(__pts[0].$valueCol),
         |  (acc, x) -> array_append(acc,
         |    $a * x.$valueCol + (CAST(1.0 AS DOUBLE) - $a) * element_at(acc, -1)))""".stripMargin
    val grid = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__ewma", expr(scan))
    explodeScan(grid, keys, tsCol, valueCol, Seq("__ewma"))
  }

  /**
   * CUSUM SCAN — Page's cumulative-sum change-point statistic over the
   * [[resample]]d grid: per key, with `mu` = the key's grid mean and
   * `slack` the per-step allowance,
   * `hi(i) = max(0, hi(i-1) + xi - mu - slack)` (upward shifts) and
   * `lo(i) = max(0, lo(i-1) + mu - xi - slack)` (downward shifts), both
   * from `hi(0) = lo(0) = 0`. A sustained level shift grows one side
   * linearly while noise keeps resetting it to ~0 — the classic
   * change-detection complement to the pointwise [[zscoreOutliers]] /
   * [[madOutliers]] flags.
   *
   * Same distributed shape as [[ewmaScan]]: downsample, then one codegen'd
   * fold per key. `mu` is itself a fold over the SAME ts-sorted list (not
   * a separate shuffled `avg`) so its summation order — and therefore its
   * low-order bits — is reproducible across engines; the scan uses a `0.0`
   * sentinel head (CUSUM's s0 = 0) that is sliced off afterwards. No
   * rounding anywhere: every emitted double is the same IEEE op sequence
   * in both engines. The statistic is emitted WITHOUT an alarm threshold
   * on purpose — thresholding a float statistic is the caller's call (and
   * a cross-engine hash trap; see madOutliers' margin note).
   */
  def cusumScan(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      slack: Double = 0.5,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(slack >= 0.0, "slack must be non-negative")
    val kk   = s"CAST($slack AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val mu   = s"aggregate(__pts, $zero, (a, x) -> a + x.$valueCol) / size(__pts)"
    def scan(stepExpr: String) =
      s"""slice(aggregate(__pts, array($zero),
         |  (acc, x) -> array_append(acc, greatest($zero, $stepExpr))),
         |  2, size(__pts))""".stripMargin
    val grid = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__mu", expr(mu))
      .withColumn("__cusum_hi",
        expr(scan(s"element_at(acc, -1) + x.$valueCol - __mu - $kk")))
      .withColumn("__cusum_lo",
        expr(scan(s"element_at(acc, -1) + __mu - x.$valueCol - $kk")))
    explodeScan(grid, keys, tsCol, valueCol, Seq("__cusum_hi", "__cusum_lo"))
  }

  /**
   * CHANGEPOINT ESTIMATE per key — the classic CUSUM location statistic:
   * the grid index maximizing `|Σ_{i≤k}(x_i − x̄)|` marks the most
   * likely single level-shift point (ties → earliest). One row per key:
   * `(keys*, cp_ts, n_points, magnitude)` with the |S| peak as the
   * magnitude (0 = dead flat). [[cusumScan]] ALARMS on drift in stream
   * order; this LOCATES the break after the fact — the segmentation
   * seed for "when did this metric change regime".
   *
   * Same shape as the other grid scans (folds over the key's own array,
   * the [[gridSeries]] two-shuffle budget); the argmax fold keeps the
   * FIRST maximum (strict >), mirrored by the oracle's
   * (|S| DESC, k ASC) rank over identical doubles.
   */
  def changePoint(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    val zero = "CAST(0.0 AS DOUBLE)"
    val mu   = s"aggregate(__pts, $zero, (a, x) -> a + x.$valueCol) / size(__pts)"
    val scan =
      s"""slice(aggregate(__pts, array($zero),
         |  (acc, x) -> array_append(acc, element_at(acc, -1) + (x.$valueCol - __mu))),
         |  2, size(__pts))""".stripMargin
    val am =
      s"""aggregate(sequence(1, size(__ss)),
         |  named_struct('i', 0, 'm', CAST(-1.0 AS DOUBLE)),
         |  (acc, k) -> IF(abs(element_at(__ss, k)) > acc.m,
         |    named_struct('i', CAST(k AS INT), 'm', abs(element_at(__ss, k))), acc))""".stripMargin
    gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__mu", expr(mu))
      .withColumn("__ss", expr(scan))
      .withColumn("__am", expr(am))
      .select(keys.map(col) ++ Seq(
        expr(s"element_at(__pts, __am.i).$tsCol").as("cp_ts"),
        size(col("__pts")).cast("long").as("n_points"),
        round(col("__am.m"), 6).as("magnitude")): _*)
  }

  /** The Holt state-scan expression — the ONE source of the recurrence,
    * shared by [[holtScan]] and [[holtBacktest]] (whose whole contract is
    * scoring exactly this scan's forecasts). */
  private def holtStateScanExpr(valueCol: String, alpha: Double, beta: Double): String = {
    val a    = s"CAST($alpha AS DOUBLE)"
    val b    = s"CAST($beta AS DOUBLE)"
    val one  = "CAST(1.0 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val prev = "element_at(acc, -1)"
    val lNew = s"$a * x.$valueCol + ($one - $a) * ($prev.l + $prev.b)"
    s"""aggregate(slice(__pts, 2, size(__pts) - 1),
       |  array(named_struct('l', CAST(__pts[0].$valueCol AS DOUBLE), 'b', $zero)),
       |  (acc, x) -> array_append(acc, named_struct(
       |    'l', $lNew,
       |    'b', $b * (($lNew) - $prev.l) + ($one - $b) * $prev.b)))""".stripMargin
  }

  /** [[holtWintersScan]]'s state fold: `{l, b, sv[period]}` per tick; the
    * step-t phase is `size(acc) % period` (0-based), and only that slot of
    * the seasonal vector updates. `lNew` is spelled inline everywhere it
    * appears (the [[holtStateScanExpr]] rule) so both engines run the
    * identical op sequence. */
  private def hwStateScanExpr(
      valueCol: String, alpha: Double, beta: Double, gamma: Double, period: Int): String = {
    val a    = s"CAST($alpha AS DOUBLE)"
    val b    = s"CAST($beta AS DOUBLE)"
    val g    = s"CAST($gamma AS DOUBLE)"
    val one  = "CAST(1.0 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val prev = "element_at(acc, -1)"
    val phi  = s"(size(acc) % $period)"
    val sPrev = s"element_at($prev.sv, $phi + 1)"
    val lNew  = s"$a * (x.$valueCol - $sPrev) + ($one - $a) * ($prev.l + $prev.b)"
    s"""aggregate(slice(__pts, 2, size(__pts) - 1),
       |  array(named_struct('l', CAST(__pts[0].$valueCol AS DOUBLE), 'b', $zero,
       |    'sv', array_repeat($zero, $period))),
       |  (acc, x) -> array_append(acc, named_struct(
       |    'l', $lNew,
       |    'b', $b * (($lNew) - $prev.l) + ($one - $b) * $prev.b,
       |    'sv', transform($prev.sv, (v, j) -> CASE WHEN j = $phi
       |      THEN $g * (x.$valueCol - ($lNew)) + ($one - $g) * v ELSE v END))))""".stripMargin
  }

  /**
   * HOLT–WINTERS SCAN — triple exponential smoothing (additive seasonal)
   * over the [[resample]]d grid: [[holtScan]]'s level/trend recurrence
   * plus a rolling `period`-slot seasonal vector,
   * `l = α(x − s_prev) + (1−α)(l' + b')`, `b = β(l − l') + (1−β)b'`,
   * `s_φ = γ(x − l) + (1−γ)s_prev` (only the tick's own phase slot
   * updates), seeded `l₁ = x₁, b₁ = 0, s = 0⃗` — the forecaster that
   * tracks BOTH a trend and a daily cycle where [[holtScan]] smears the
   * cycle into the trend. Emits level/trend/seasonal and the one-step
   * forecast `l + b + s_{next phase}` per tick, unrounded (fixed IEEE op
   * chains, every literal spelled identically in the oracle).
   *
   * Same shape as [[holtScan]]: one codegen'd fold per key over the grid
   * array (state O(period) per step), then one explode — no window
   * functions, no joins beyond the resample shuffle.
   */
  def holtWintersScan(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      period: Int = 24,
      alpha: Double = 0.5,
      beta: Double = 0.25,
      gamma: Double = 0.25,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(period >= 2, "period must be >= 2")
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    require(gamma >= 0.0 && gamma <= 1.0, "gamma must be in [0, 1]")
    val scan = hwStateScanExpr(valueCol, alpha, beta, gamma, period)
    gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__hw", expr(scan))
      .select(keys.map(col) :+
        posexplode(arrays_zip(col("__pts"), col("__hw"))).as(Seq("__i", "__e")): _*)
      .select(keys.map(col) ++ Seq(
        col(s"__e.__pts.$tsCol").as(tsCol),
        col(s"__e.__pts.$valueCol").as(valueCol),
        col("__e.__hw.l").as("level"),
        col("__e.__hw.b").as("trend"),
        expr(s"element_at(__e.__hw.sv, (__i % $period) + 1)").as("seasonal"),
        (col("__e.__hw.l") + col("__e.__hw.b") +
          expr(s"element_at(__e.__hw.sv, ((__i + 1) % $period) + 1)")).as("forecast")): _*)
  }

  /**
   * HOLT SCAN — double exponential smoothing (Holt's linear-trend method)
   * over the [[resample]]d grid: per key, in time order,
   * `level = alpha*x + (1-alpha)*(level' + trend')` and
   * `trend = beta*(level - level') + (1-beta)*trend'`, seeded
   * `level1 = x1, trend1 = 0`. Emits `level`, `trend` and the one-step
   * forecast `level + trend` per tick — the forecasting upgrade of
   * [[ewmaScan]] (EWMA lags a trending series; Holt tracks it).
   *
   * Same distributed shape as [[ewmaScan]]: downsample, then one codegen'd
   * fold per key with a struct accumulator. Float portability: the coupled
   * recurrence means `level` appears INSIDE the `trend` expression — it is
   * spelled out twice (not bound to a variable) in BOTH engines, so the op
   * sequence stays identical; alpha/beta default to exactly-representable
   * binary fractions and everything is emitted unrounded.
   */
  def holtScan(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      alpha: Double = 0.5,
      beta: Double = 0.25,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    val scan = holtStateScanExpr(valueCol, alpha, beta)
    val grid = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__hs", expr(scan))
      .withColumn("__e", explode(arrays_zip(col("__pts"), col("__hs"))))
    grid.select(keys.map(col) ++ Seq(
      col(s"__e.__pts.$tsCol").as(tsCol),
      col(s"__e.__pts.$valueCol").as(valueCol),
      col("__e.__hs.l").as("level"),
      col("__e.__hs.b").as("trend"),
      (col("__e.__hs.l") + col("__e.__hs.b")).as("forecast")): _*)
  }

  /**
   * ONE-STEP-AHEAD BACKTEST of the [[holtScan]] forecaster — per key, the
   * MAE and RMSE of predicting each grid point from the state at the
   * PREVIOUS point (`forecastᵢ₋₁ = lᵢ₋₁ + bᵢ₋₁` vs `valueᵢ`): the
   * standard walk-forward evaluation that answers "how good is this
   * smoother as a forecaster on this metric", without holding out data
   * (every point after the first is an out-of-sample one-step target).
   * Keys whose grid has a single point have nothing to forecast and emit
   * no row.
   *
   * Same shape as [[holtScan]] (whose state scan it reuses verbatim):
   * everything folds over the key's own grid array inside one codegen'd
   * projection — errors, their absolute/squared ascending folds, the two
   * final divisions and the sqrt; no window functions, no joins, the
   * [[gridSeries]] two-shuffle budget unchanged. abs/sqrt/÷ are portable
   * single IEEE ops, so the 6-dp outputs hash-match the oracle's replay.
   */
  def holtBacktest(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      alpha: Double = 0.5,
      beta: Double = 0.25,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    val scan = holtStateScanExpr(valueCol, alpha, beta)
    val errs =
      s"""transform(sequence(2, size(__pts)), i ->
         |  CAST(element_at(__pts, i).$valueCol AS DOUBLE)
         |    - (element_at(__hs, i - 1).l + element_at(__hs, i - 1).b))""".stripMargin
    gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .filter(size(col("__pts")) >= 2)
      .withColumn("__hs", expr(scan))
      .withColumn("__errs", expr(errs))
      .withColumn("__nf", (size(col("__pts")) - 1).cast("long"))
      .select(keys.map(col) ++ Seq(
        col("__nf").as("n_forecasts"),
        round(expr("aggregate(__errs, CAST(0.0 AS DOUBLE), (a2, x) -> a2 + abs(x))")
          / col("__nf").cast("double"), 6).as("mae"),
        round(sqrt(expr("aggregate(__errs, CAST(0.0 AS DOUBLE), (a2, x) -> a2 + x * x)")
          / col("__nf").cast("double")), 6).as("rmse")): _*)
  }

  /**
   * MASE BACKTEST — [[holtBacktest]]'s MAE scaled by the in-sample NAIVE
   * (lag-1) forecaster's MAE over the SAME one-step horizon (Hyndman &
   * Koehler's scale-free error): `mase < 1` means the model beats "predict
   * yesterday", the only forecast-quality readout comparable ACROSS keys
   * whose value scales differ. A per-key `mase` that drifts above 1 says
   * the fitted trend is now worse than no model — retire it.
   *
   * Float portability: both error channels fold ascending over the key's
   * own grid array with identical literals; `mase` divides the two raw
   * SUMS (the `1/nf` cancels — one division, not three). A flat series
   * (naive MAE 0) emits a null mase. Same two-shuffle in-array shape as
   * [[holtBacktest]]; per-element work O(n) fold steps.
   */
  def maseBacktest(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      alpha: Double = 0.5,
      beta: Double = 0.25,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    val scan = holtStateScanExpr(valueCol, alpha, beta)
    val errs =
      s"""transform(sequence(2, size(__pts)), i ->
         |  CAST(element_at(__pts, i).$valueCol AS DOUBLE)
         |    - (element_at(__hs, i - 1).l + element_at(__hs, i - 1).b))""".stripMargin
    val naive =
      s"""transform(sequence(2, size(__pts)), i ->
         |  CAST(element_at(__pts, i).$valueCol AS DOUBLE)
         |    - CAST(element_at(__pts, i - 1).$valueCol AS DOUBLE))""".stripMargin
    val sumAbs = "aggregate(%s, CAST(0.0 AS DOUBLE), (a2, x) -> a2 + abs(x))"
    gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .filter(size(col("__pts")) >= 2)
      .withColumn("__hs", expr(scan))
      .withColumn("__me", expr(sumAbs.format(errs)))
      .withColumn("__mn", expr(sumAbs.format(naive)))
      .withColumn("__nf", (size(col("__pts")) - 1).cast("long"))
      .select(keys.map(col) ++ Seq(
        col("__nf").as("n_forecasts"),
        round(col("__me") / col("__nf").cast("double"), 6).as("mae"),
        round(col("__mn") / col("__nf").cast("double"), 6).as("naive_mae"),
        when(col("__mn") > 0.0, round(col("__me") / col("__mn"), 6)).as("mase")): _*)
  }

  /**
   * SEASONAL DECOMPOSITION — classical additive decomposition of each
   * key's [[resample]]d grid with period `p` (hourly grid, `p`=24 → daily
   * seasonality): `value = trend + seasonal + resid`, where
   *
   *  - `trend` is the centered 2×`p` moving average (half weights at the
   *    window edges — the standard even-period centering), defined only
   *    where the full window fits;
   *  - `seasonal` is the per-phase mean of the detrended series
   *    (`phase = (ts/step) mod p`);
   *  - `resid` is the remainder — the de-seasonalized anomaly signal that
   *    a plain z-score misses when the metric has a daily cycle.
   *
   * Same shape as [[acfProfile]]: everything folds over the key's own grid
   * array — the trend window, the per-phase sums and the subtraction all
   * run inside one codegen'd projection; no window functions, no joins,
   * two shuffles total. Per-element work is O(p + n) inner-fold steps.
   *
   * Float portability: the trend's middle sum and the phase sums are
   * ascending folds (non-matching positions contribute an EXACT `+ 0.0`),
   * every literal is spelled identically in the oracle, and the outputs
   * are emitted unrounded — bit-identical per the sorted-fold rule.
   */
  def decompose(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      period: Int = 24,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(period >= 2 && period % 2 == 0, "period must be even and >= 2")
    val h    = period / 2
    val half = "CAST(0.5 AS DOUBLE)"
    val zero = "CAST(0.0 AS DOUBLE)"
    val p    = s"CAST($period.0 AS DOUBLE)"
    val trend =
      s"""transform(__vs, (x, i) -> CASE WHEN i >= $h AND i < size(__vs) - $h THEN
         |  ($half * element_at(__vs, i - $h + 1)
         |   + aggregate(slice(__vs, i - $h + 2, ${period - 1}), $zero, (a, b) -> a + b)
         |   + $half * element_at(__vs, i + $h + 1)) / $p
         |END)""".stripMargin
    def phase(i: String) = s"pmod(element_at(__tss, $i) div ${step}L, $period)"
    val seasonal =
      s"""transform(sequence(0, ${period - 1}), j -> CASE WHEN
         |  size(filter(sequence(1, size(__vs)), i -> ${phase("i")} = j AND element_at(__tr, i) IS NOT NULL)) > 0 THEN
         |  aggregate(sequence(1, size(__vs)), $zero,
         |    (a, i) -> a + CASE WHEN ${phase("i")} = j AND element_at(__tr, i) IS NOT NULL
         |              THEN element_at(__vs, i) - element_at(__tr, i) ELSE $zero END)
         |  / size(filter(sequence(1, size(__vs)), i -> ${phase("i")} = j AND element_at(__tr, i) IS NOT NULL))
         |END)""".stripMargin
    val grid = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__tss", expr(s"transform(__pts, s -> s.$tsCol)"))
      .withColumn("__vs", expr(s"transform(__pts, s -> s.$valueCol)"))
      .withColumn("__tr", expr(trend))
      .withColumn("__sm", expr(seasonal))
      .withColumn("__e", explode(arrays_zip(col("__pts"), col("__tr"))))
    grid.select(keys.map(col) ++ Seq(
      col(s"__e.__pts.$tsCol").as(tsCol),
      col(s"__e.__pts.$valueCol").as(valueCol),
      col("__e.__tr").as("trend"),
      expr(s"element_at(__sm, CAST(pmod(__e.__pts.$tsCol div ${step}L, $period) AS INT) + 1)").as("seasonal"),
      (col(s"__e.__pts.$valueCol") - col("__e.__tr") -
        expr(s"element_at(__sm, CAST(pmod(__e.__pts.$tsCol div ${step}L, $period) AS INT) + 1)")).as("resid")): _*)
  }

  /**
   * SEASONAL / TREND STRENGTH per key (Hyndman & Athanasopoulos FPP):
   * `F_T = max(0, 1 − Var(R)/Var(T+R))` and
   * `F_S = max(0, 1 − Var(R)/Var(S+R))` over [[decompose]]'s channels at
   * the points where the centered-MA trend exists — the two numbers that
   * triage a metric fleet: F_S ≈ 1 → model the cycle ([[decompose]] +
   * [[seasonalAnomalies]]); F_T ≈ 1 → fit the line ([[trendForecast]] /
   * [[theilSen]]); both ≈ 0 → plain [[zscoreOutliers]] is enough.
   *
   * Determinism: each variance is the two-pass population form — the mean
   * an ascending-sorted fold over the channel, then the squared-deviation
   * fold — so both engines replay identical IEEE sequences; `T+R` and
   * `S+R` are per-row additions of [[decompose]]'s (unrounded,
   * bit-identical) channel values. Degenerate channels (zero variance)
   * score 0. Scale shape: the decomposition's per-key grid folds, one
   * |keys|-row means table broadcast back, one more |keys|-row
   * aggregation.
   */
  def seasonStrength(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      period: Int = 24,
      dp: Int = 6,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    import graft.functions.GraftFunctions
    val kc = keys.map(col)
    val dec = decompose(df, keys, tsCol, valueCol, step, period, gridIn)
      .filter(col("trend").isNotNull)
      .select(kc :+ col("resid").as("__r") :+
        (col("trend") + col("resid")).as("__tr") :+
        (col("seasonal") + col("resid")).as("__sr"): _*)
      .localCheckpoint(true) // the means pass and the deviations pass share it
    def fs(c: Column) = GraftFunctions.foldSum(collect_list(c))
    val nD = count(lit(1)).cast("double")
    val means = dec.groupBy(kc: _*).agg(
      count(lit(1)).as("n_points"),
      (fs(col("__r")) / nD).as("__mr"),
      (fs(col("__tr")) / nD).as("__mtr"),
      (fs(col("__sr")) / nD).as("__msr"))
    def dev(c: String, m: String) = fs((col(c) - col(m)) * (col(c) - col(m)))
    def strength(v: Column, den: Column) =
      when(den <= 0.0, lit(0.0))
        .otherwise(round(greatest(lit(0.0), lit(1.0) - v / den), dp))
    dec.join(broadcast(means), keys)
      .groupBy(kc: _*)
      .agg(
        max(col("n_points")).as("n_points"),
        (dev("__r", "__mr") / nD).as("__vr"),
        (dev("__tr", "__mtr") / nD).as("__vtr"),
        (dev("__sr", "__msr") / nD).as("__vsr"))
      .select(kc ++ Seq(col("n_points"),
        strength(col("__vr"), col("__vtr")).as("trend_strength"),
        strength(col("__vr"), col("__vsr")).as("seasonal_strength")): _*)
  }

  /**
   * SEASONAL ANOMALIES — [[decompose]]'s residual channel turned into an
   * alarm: flag grid points whose residual exceeds `k` times the key's
   * residual RMS. The de-seasonalized counterpart of [[zscoreOutliers]]:
   * a nightly dip that is NORMAL for the metric's daily cycle no longer
   * alarms, while the same dip at noon does.
   *
   * The per-key RMS is a ts-sorted array fold over the non-null residuals
   * (`collect_list` re-sorted by ts, squares summed ascending, one
   * division, one IEEE sqrt) — bit-identical across engines per the
   * sorted-fold rule, so the `|resid| > k·rms` cut needs no rounding at
   * all. The RMS table is |keys| rows and broadcast-joins back.
   */
  def seasonalAnomalies(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      period: Int = 24,
      k: Double = 3.0,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val dec = decompose(df, keys, tsCol, valueCol, step, period, gridIn)
    val rms = dec.filter(col("resid").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(expr(s"array_sort(collect_list(struct($tsCol AS t, resid AS r)))").as("__rs"))
      .select(keys.map(col) :+
        sqrt(expr("aggregate(transform(__rs, s -> s.r * s.r), CAST(0.0 AS DOUBLE), (a, b) -> a + b)")
          / size(col("__rs"))).as("rms"): _*)
    dec.join(broadcast(rms), keys)
      .filter(abs(col("resid")) > lit(k) * col("rms"))
      .select(keys.map(col) ++ Seq(col(tsCol), col(valueCol), col("resid"), col("rms")): _*)
  }

  /**
   * ACF PROFILE — sample autocorrelation of each key's [[resample]]d grid
   * at lags `1..maxLag`: `acf_k = sum_i (x_i - mu)(x_(i+k) - mu) /
   * sum_i (x_i - mu)^2` (the standard biased estimator; Box-Jenkins
   * identification). High `acf_24` on an hourly grid = daily seasonality;
   * fast decay = short memory — the numeric companion to
   * [[seasonalProfile]]'s per-phase means.
   *
   * Output is WIDE — one row per key with `n` (grid length) and
   * `acf_1..acf_maxLag` — a bounded `|keys| x (maxLag+2)` profile table.
   * Same distributed shape as [[ewmaScan]]: all lags are folds over the
   * key's own ts-sorted array, codegen'd, no second shuffle, keys in
   * parallel. Lags with fewer than `k+1` grid points, and constant series
   * (zero denominator — an EXACT comparison, not an epsilon), yield null.
   *
   * Float portability: mean, denominator and every lag numerator are
   * ts-ordered folds spelled identically in the DuckDB oracle, then ONE
   * division each — bit-identical unrounded, per the sorted-fold rule.
   */
  def acfProfile(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      maxLag: Int = 6,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val zero = "CAST(0.0 AS DOUBLE)"
    val foldSum = (terms: String) =>
      s"aggregate($terms, $zero, (a, x) -> a + x)"
    val base = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__vs", expr(s"transform(__pts, p -> p.$valueCol)"))
      .withColumn("__mu", expr(s"${foldSum(s"__vs")} / size(__vs)"))
      .withColumn("__den",
        expr(foldSum("transform(__vs, x -> (x - __mu) * (x - __mu))")))
    val withLags = (1 to maxLag).foldLeft(base) { (acc, k) =>
      val num = foldSum(
        s"""zip_with(slice(__vs, 1, size(__vs) - $k),
           |         slice(__vs, 1 + $k, size(__vs) - $k),
           |         (p, q) -> (p - __mu) * (q - __mu))""".stripMargin)
      acc.withColumn(s"acf_$k", expr(
        s"CASE WHEN size(__vs) > $k AND __den > $zero THEN $num / __den END"))
    }
    withLags.select(keys.map(col) ++
      (expr("size(__vs)").cast("long").as("n") +:
        (1 to maxLag).map(k => col(s"acf_$k"))): _*)
  }

  /**
   * DURBIN–LEVINSON recursion as ENGINE-PORTABLE expression strings: each
   * step defines one named scalar over previously-named ones, so both
   * engines evaluate the identical arithmetic tree — Spark via a
   * `withColumn(name, expr(s))` fold, DuckDB via one CTE layer per
   * order-`k` block. `acf(k)` supplies the autocorrelation column name at
   * lag k. The Σ's spell as fixed left-to-right additions (IEEE order
   * pinned); a zero innovation denominator yields NULL, and a NULL acf
   * propagates through the recursion naturally in both engines.
   */
  def pacfExprs(maxLag: Int, acf: Int => String): Seq[(String, String)] = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    out += (("phi_1_1", acf(1)))
    for (k <- 2 to maxLag) {
      val num = s"(${acf(k)} - (${(1 until k).map(j => s"phi_${k - 1}_$j * ${acf(k - j)}").mkString(" + ")}))"
      val den = s"(1.0 - (${(1 until k).map(j => s"phi_${k - 1}_$j * ${acf(j)}").mkString(" + ")}))"
      out += ((s"phi_${k}_$k", s"CASE WHEN $den <> 0.0 THEN $num / $den END"))
      for (j <- 1 until k)
        out += ((s"phi_${k}_$j", s"phi_${k - 1}_$j - phi_${k}_$k * phi_${k - 1}_${k - j}"))
    }
    out.toSeq
  }

  /**
   * PACF PROFILE — partial autocorrelation of each key's grid at lags
   * `1..maxLag` via the Durbin–Levinson recursion over [[acfProfile]]'s
   * estimates: `pacf_k` is the lag-k correlation with lags 1..k−1
   * regressed out — the AR-ORDER identification companion to the ACF
   * (an AR(p) series' PACF cuts off after p; the ACF alone cannot
   * distinguish AR from MA signatures). Output mirrors [[acfProfile]]:
   * one bounded row per key, `n` + `pacf_1..pacf_maxLag` (6 dp).
   *
   * Scale shape: [[acfProfile]]'s one-shuffle fold plus a LITERAL
   * arithmetic tree of O(maxLag²) scalar columns — no extra pass over
   * data. Null acf (short/constant series) nulls the dependent orders.
   */
  def pacfProfile(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      maxLag: Int = 4,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    val base = acfProfile(df, keys, tsCol, valueCol, step, maxLag, gridIn)
    val withPhi = pacfExprs(maxLag, k => s"acf_$k").foldLeft(base) {
      case (acc, (name, e)) => acc.withColumn(name, expr(e))
    }
    withPhi.select(keys.map(col) ++ (col("n") +:
      (1 to maxLag).map(k => round(col(s"phi_${k}_$k"), 6).as(s"pacf_$k"))): _*)
  }

  /**
   * LTTB DOWNSAMPLING — Largest-Triangle-Three-Buckets (Steinarsson 2013,
   * "Downsampling Time Series for Visual Representation"): reduce each
   * key's grid to `nOut` points keeping the visual shape — first and last
   * points fixed, the middle split into `nOut−2` equal-index buckets, and
   * from each bucket the point forming the largest triangle with the
   * PREVIOUSLY SELECTED point and the NEXT bucket's average. The standard
   * dashboard-serving reduction (render 50k points from 50M) that naive
   * striding or per-bucket max both distort.
   *
   * The selection is sequential per key (each pick depends on the last),
   * so like [[ewmaScan]]/[[holtScan]] it runs as ONE in-array fold over
   * the key's own grid: bucket bounds and bucket averages precompute as
   * small arrays (exact integer index arithmetic + ordered double folds),
   * then a fold over bucket ids carries the selected-index list. Keys
   * scan in parallel; per-key state is the grid array (the accepted
   * resample-family bound). Keys with ≤ `nOut` grid points pass through
   * whole.
   *
   * Float portability: triangle areas multiply/subtract the same snapped
   * grid doubles in the same order on both engines, argmax keeps the
   * FIRST maximal candidate (strict `>`), and bucket averages are
   * ordered folds — selections are bit-identical, per the sorted-fold
   * rule.
   */
  def lttb(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      nOut: Int,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(nOut >= 3, "nOut must be >= 3 (first + last + at least one middle point)")
    val m    = nOut - 2
    val zero = "CAST(0.0 AS DOUBLE)"
    val n    = "size(__pts)"
    def pts(i: String)  = s"element_at(__pts, ($i) + 1)" // 0-based index
    def bAt(a: String, b: String) = s"element_at($a, ($b) + 1)"
    // candidate area vs (prev selected, next-bucket average); c/b/acc are
    // lambda-bound. The LAST middle bucket's "next" is the final point.
    // bucket averages read acc.bax/acc.bay — FIELDS of the fold state, not
    // projection aliases: Catalyst inlines deterministic Project aliases
    // into the (interpreted) fold, so a __bax COLUMN would re-derive the
    // whole bucket-average array per area term (measured ~n× slowdown);
    // state fields evaluate once per row at fold init.
    def area(c: String, b: String, prev: String) = {
      val px = s"CAST(${pts(prev)}.$tsCol AS DOUBLE)"
      val py = s"${pts(prev)}.$valueCol"
      val nx = s"CASE WHEN $b = $m - 1 THEN CAST(${pts(s"$n - 1")}.$tsCol AS DOUBLE) ELSE ${bAt("acc.bax", s"$b + 1")} END"
      val ny = s"CASE WHEN $b = $m - 1 THEN ${pts(s"$n - 1")}.$valueCol ELSE ${bAt("acc.bay", s"$b + 1")} END"
      val cx = s"CAST(${pts(c)}.$tsCol AS DOUBLE)"
      val cy = s"${pts(c)}.$valueCol"
      s"abs((($px) - ($nx)) * (($cy) - ($py)) - (($px) - ($cx)) * (($ny) - ($py)))"
    }
    // areas materialize ONCE per candidate in the transform; the fold then
    // compares plain struct fields (the interpreted HOF would otherwise
    // re-evaluate the area expression per comparison). Strict `>` keeps
    // the FIRST maximal candidate, as the oracle's list_position does.
    val argmax =
      s"""aggregate(
         |  transform(sequence(${bAt("__bs", "b")}, ${bAt("__be", "b")} - 1),
         |    c -> named_struct('bi', c, 'ba', ${area("c", "b", "element_at(acc.sel, -1)")})),
         |  named_struct('bi', -1, 'ba', CAST(-1.0 AS DOUBLE)),
         |  (a2, x) -> CASE WHEN x.ba > a2.ba THEN x ELSE a2 END).bi""".stripMargin
    // guarded behind n > nOut: a pass-through key has empty buckets whose
    // zero-width average would trip the ANSI divide-by-zero check
    def bucketAvg(field: String, cast: Boolean) = {
      val term = if (cast) s"CAST(${pts("i")}.$field AS DOUBLE)" else s"${pts("i")}.$field"
      s"""CASE WHEN $n > $nOut THEN transform(sequence(0, $m - 1), b ->
         |  aggregate(sequence(${bAt("__bs", "b")}, ${bAt("__be", "b")} - 1), $zero,
         |    (a, i) -> a + $term)
         |  / CAST(${bAt("__be", "b")} - ${bAt("__bs", "b")} AS DOUBLE))
         |ELSE array() END""".stripMargin
    }
    val sel =
      s"""CASE WHEN $n <= $nOut THEN sequence(0, $n - 1)
         |ELSE array_append(
         |  aggregate(sequence(0, $m - 1),
         |    named_struct('sel', array(0),
         |      'bax', ${bucketAvg(tsCol, cast = true)},
         |      'bay', ${bucketAvg(valueCol, cast = false)}),
         |    (acc, b) -> named_struct('sel', array_append(acc.sel, $argmax),
         |      'bax', acc.bax, 'bay', acc.bay)).sel,
         |  $n - 1) END""".stripMargin
    val grid = gridSeries(df, keys, tsCol, valueCol, step, gridIn)
      .withColumn("__bs", expr(
        s"transform(sequence(0, $m - 1), b -> CAST(1 + (b * ($n - 2)) div $m AS INT))"))
      .withColumn("__be", expr(
        s"transform(sequence(0, $m - 1), b -> CAST(1 + ((b + 1) * ($n - 2)) div $m AS INT))"))
      .withColumn("__sel", expr(sel))
      .withColumn("__i", explode(col("__sel")))
    grid.select(keys.map(col) ++ Seq(
      expr(s"${pts("__i")}.$tsCol").as(tsCol),
      expr(s"${pts("__i")}.$valueCol").as(valueCol)): _*)
  }

  /**
   * LAGGED CROSS-CORRELATION between two series of one keyed table (does
   * `error` follow `click` by k hours?): both series [[resample]] onto the
   * shared grid in ONE pass (conditional aggregation, not two scans), only
   * ticks where BOTH observed survive, and
   * `xcorr_k = Σ (a_i − μ_a)(b_{i+k} − μ_b) / √(Σ(a−μ_a)² · Σ(b−μ_b)²)`
   * for k = 0..maxLag — positive k means `b` LAGS `a` by k steps.
   *
   * Scale shape: one map-side-combined groupBy(tick) over the two-key
   * slice, then a single collect into one (per-pair) ts-sorted array pair —
   * the array length is the grid size (bounded by span/step, not row
   * count), the same per-key state bound every scan operator here accepts.
   * Every statistic is a fold over that sorted array (codegen'd
   * higher-order functions, no UDF, no window), so the unrounded doubles
   * are bit-identical across engines per the sorted-fold rule; the final
   * normalization is one IEEE sqrt of an exact product on both sides.
   */
  def crossCorrelation(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      step: Long,
      seriesA: String,
      seriesB: String,
      maxLag: Int = 6
  ): DataFrame = {
    require(maxLag >= 0, "maxLag must be >= 0")
    val zero = "CAST(0.0 AS DOUBLE)"
    val foldSum = (terms: String) => s"aggregate($terms, $zero, (a, x) -> a + x)"
    val tick = (expr(floorDiv(tsCol, step)) * step).as(tsCol)
    // one pass: per tick, the rounded per-series resample means side by side
    val paired = df.filter(col(keyCol).isin(seriesA, seriesB))
      .groupBy(tick)
      .agg(
        (round(sum(when(col(keyCol) === seriesA, col(valueCol))), 6)
          / count(when(col(keyCol) === seriesA, lit(1)))).as("__va"),
        (round(sum(when(col(keyCol) === seriesB, col(valueCol))), 6)
          / count(when(col(keyCol) === seriesB, lit(1)))).as("__vb"))
      .filter(col("__va").isNotNull && col("__vb").isNotNull)
    val base = paired
      .agg(array_sort(collect_list(struct(col(tsCol), col("__va"), col("__vb")))).as("__pts"))
      .withColumn("__vas", expr("transform(__pts, p -> p.__va)"))
      .withColumn("__vbs", expr("transform(__pts, p -> p.__vb)"))
      .withColumn("__mua", expr(s"${foldSum("__vas")} / size(__vas)"))
      .withColumn("__mub", expr(s"${foldSum("__vbs")} / size(__vbs)"))
      .withColumn("__dena", expr(foldSum("transform(__vas, x -> (x - __mua) * (x - __mua))")))
      .withColumn("__denb", expr(foldSum("transform(__vbs, x -> (x - __mub) * (x - __mub))")))
    val withLags = (0 to maxLag).foldLeft(base) { (acc, k) =>
      val num = foldSum(
        s"""zip_with(slice(__vas, 1, size(__vas) - $k),
           |         slice(__vbs, 1 + $k, size(__vbs) - $k),
           |         (p, q) -> (p - __mua) * (q - __mub))""".stripMargin)
      acc.withColumn(s"xcorr_$k", expr(
        s"CASE WHEN size(__vas) > $k AND __dena > $zero AND __denb > $zero " +
          s"THEN $num / sqrt(__dena * __denb) END"))
    }
    withLags.select(
      expr("size(__vas)").cast("long").as("n") +:
        (0 to maxLag).map(k => col(s"xcorr_$k")): _*)
  }

  /**
   * TURNING-POINT RANDOMNESS TEST (Kendall) per series — counts interior
   * STRICT local extrema on the cent lattice and scores the one-sample z
   * against the i.i.d.-noise expectation `E[T] = 2(n−2)/3`,
   * `Var[T] = (16n−29)/90`: |z| small ⇒ the series is indistinguishable
   * from noise (a metric whose "trend" an anomaly pass should not chase),
   * z strongly negative ⇒ smooth/trending, strongly positive ⇒
   * oscillating faster than noise (a polling/aliasing artifact). The
   * cheap is-there-even-signal preflight before [[theilSen]]/[[decompose]]
   * spend real compute.
   *
   * Determinism: values snap to the cent lattice BEFORE comparison, so a
   * turning point is an exact integer predicate (ties in the lattice are
   * NOT extrema — strict inequalities both sides, the only convention two
   * engines can't disagree on); T and n are exact ints; z is one double
   * chain snapped to `dp`. Series shorter than 3 grid points yield null z.
   *
   * Scale shape: one per-(key, tick) pre-aggregation, then lag/lead
   * windows partitioned BY KEY (state = one series per partition — the
   * [[resample]] contract that keys fan out, points per key stay bounded)
   * and a per-key count. No collect, no cross-key shuffle beyond the one
   * groupBy.
   */
  def turningPointTest(
      df: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCol: String,
      step: Long,
      dp: Int = 6,
      gridIn: Option[DataFrame] = None
  ): DataFrame = {
    require(step >= 1, "step must be >= 1")
    val kc = keys.map(col)
    val grid = gridIn.getOrElse(resample(df, keys, tsCol, valueCol, step))
      .select(kc :+ col(tsCol) :+
        round(col(valueCol) * 100, 0).cast("long").as("__c"): _*)
    val w = Window.partitionBy(kc: _*).orderBy(col(tsCol))
    val tp = grid
      .withColumn("__p", lag(col("__c"), 1).over(w))
      .withColumn("__n", lead(col("__c"), 1).over(w))
      .withColumn("__t",
        when(col("__p").isNotNull && col("__n").isNotNull &&
          ((col("__c") > col("__p") && col("__c") > col("__n")) ||
            (col("__c") < col("__p") && col("__c") < col("__n"))), 1L).otherwise(0L))
    val nD = col("n").cast("double")
    tp.groupBy(kc: _*)
      .agg(count(lit(1)).as("n"), sum(col("__t")).as("turning_points"))
      .select(kc ++ Seq(col("n"), col("turning_points"),
        when(col("n") >= 3L,
          round((col("turning_points").cast("double") - lit(2.0) * (nD - 2.0) / 3.0) /
            sqrt((lit(16.0) * nD - 29.0) / 90.0), dp)).as("z")): _*)
  }
}
