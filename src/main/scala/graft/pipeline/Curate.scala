package graft.pipeline

import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end corpus curation — the composed pipeline a training-data run
 * actually executes over raw documents:
 *
 *   1. exact dedup: keep the smallest-id representative per distinct text
 *   2. language allowlist (marker-word language ID)
 *   3. quality floor (length/stopword/punctuation heuristic)
 *   4. token-count bounds
 *
 * Plan shape at 100 TB: ONE digest-only shuffle (the dedup groupBy carries
 * md5 + id, never text), one semi-join back on the id, and a single
 * projection computing every metric (the [[TextAnalysis]] column
 * expressions compose — no metrics joins). Near-dup stages
 * ([[Dedup.minhashLshPairs]] etc.) chain after this when needed.
 */
object Curate {

  def curate(
      df: DataFrame,
      keepLangs: Seq[String] = Seq("en"),
      minQuality: Double = 0.5,
      minTokens: Long = 5,
      maxTokens: Long = 100000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // exact-dedup representatives: digest-only shuffle
    val reps = df
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    val (nTokens, _, _, quality) = TextAnalysis.qualityCols(col(textCol))
    val (lang, _)                = TextAnalysis.langIdCols(col(textCol))
    df.join(reps, Seq(idCol), "left_semi")
      .select(col(idCol), lang.as("predicted_lang"), nTokens.as("n_tokens"), quality.as("quality"))
      .filter(
        col("predicted_lang").isin(keepLangs: _*) &&
          col("quality") >= minQuality &&
          col("n_tokens").between(minTokens, maxTokens))
  }

  /**
   * Per-source document cap: keep the `k` highest-quality documents of
   * every source (ties broken by ascending id — fully deterministic). The
   * standard "no single domain dominates the mix" curation rule.
   *
   * Plan shape at 100 TB: `row_number` over (source, quality DESC, id) is
   * rank-limit-pushed by Spark into a `WindowGroupLimit` — every input
   * partition pre-prunes to its local top-k PER GROUP before the single
   * shuffle on `source`, so the exchange carries at most
   * k × sources × partitions rows, not the corpus. A skewed giant source
   * is already pre-shrunk map-side (the spec asserts the WindowGroupLimit
   * is in the plan).
   */
  def capPerGroup(
      df: DataFrame,
      k: Int,
      groupCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, _, _, quality) = TextAnalysis.qualityCols(col(textCol))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("quality").desc, col(idCol))
    df.select(col(idCol), col(groupCol), quality.as("quality"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .drop("rn")
  }

  /**
   * The whole training-mix pipeline, composed end-to-end — what a corpus
   * run chains between raw documents and the tokenizer:
   *
   *   0. (optional) [[TextAnalysis.scrubPii]]: redact emails/IPs/phones
   *      BEFORE anything hashes or scores the text
   *   1. [[curate]] membership (exact dedup + language allowlist +
   *      quality floor + token bounds)
   *   2. (optional) repetition reject ([[TextAnalysis.repetitionCols]]) —
   *      a row-local filter fused into the survivor scan, zero shuffle
   *   3. (optional) per-source cap ([[capPerGroup]] semantics: k
   *      best-quality docs per source, quality recomputed row-locally in
   *      the same fused projection as the repetition reject — one
   *      WindowGroupLimit-pruned shuffle on `source`, no extra join)
   *   4. [[Dedup.decontaminate]]: drop eval-set n-gram collisions
   *   5. [[Dedup.duplicateClusters]]: keep one representative per
   *      near-dup connected component
   *   6. [[Sampling.stratifiedHashSample]]: deterministic per-language mix
   *   7. [[Sampling.packSequences]]: chunk the survivors' token stream
   *      into training sequences
   *
   * Returns `(doc_id, n_tokens, seq_id)`. Every stage is individually
   * oracle-gated (`tx_scrub`, `tx_curate`, `tx_rep`, `tx_cap`, `d_decon`,
   * `d_cc`, `tx_sample`, `tx_pack`) and the composition twice over
   * (`tx_mix` = default stages, `tx_mix2` = all stages on); it is
   * deterministic end to end — rerunning it (anywhere, at any
   * parallelism) rebuilds the identical mix.
   */
  def trainingMix(
      df: DataFrame,
      evalDf: DataFrame,
      mixRates: Map[String, Double],
      seqTokens: Long,
      keepLangs: Seq[String] = Seq("en", "de"),
      minQuality: Double = 0.5,
      nearDupThreshold: Double = 0.5,
      deconShingleK: Int = 13,
      scrub: Boolean = false,
      maxRepetition: Option[(Double, Double, Double)] = None,
      perSourceCap: Option[Int] = None,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    // scrub is materialized up front: every downstream stage (digest
    // groupBy, langid/quality/repetition projections, shingles, packing)
    // reads the scrubbed text as a plain column. Left lazy, the 3-regex
    // chain would be INLINED into every occurrence of the word array in
    // the fused survivor projection — a tree big enough to fall out of
    // whole-stage codegen, where nothing de-duplicates the repeated regex
    // evaluation (measured 5-10x on the composed mix).
    val base =
      if (scrub) TextAnalysis.scrubPii(df, textCol).drop("pii_hits").pinned
      else df
    // curated feeds BOTH the survivors semi-join and the withLang join —
    // materialize once so the curation subtree (digest shuffle + metric
    // projection) doesn't execute twice per mix.
    val curated = curate(base, keepLangs, minQuality, textCol = textCol, idCol = idCol)
      .select(col(idCol), col("predicted_lang"))
      .pinned
    // membership is always the cheap left_semi; the optional repetition
    // reject and per-source cap share ONE fused projection over the
    // survivor scan — the cap's quality recomputes row-locally there
    // (quality is a pure function of the text, so the value is identical
    // to the curation pass's), instead of riding a wide inner join that
    // would shuffle the text a second time just to carry one column back.
    val survivors0 = base.join(curated.select(col(idCol)), Seq(idCol), "left_semi")
    // repetition reject fuses into the survivor scan — row-local, no shuffle
    val survivors1 = maxRepetition.fold(survivors0) { case (dw, tw, db) =>
      val (_, _, _, repetitive) = TextAnalysis.repetitionCols(col(textCol), dw, tw, db)
      survivors0.filter(!repetitive)
    }
    val survivors = perSourceCap.fold(survivors1) { k =>
      import org.apache.spark.sql.expressions.Window
      val (_, _, _, quality) = TextAnalysis.qualityCols(col(textCol))
      val w = Window.partitionBy(col(sourceCol)).orderBy(col("__q").desc, col(idCol))
      survivors1
        .withColumn("__q", quality)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .drop("rn", "__q")
    }
    // with optional stages on, the survivor frame ends a LONG fused
    // projection (langid + quality + repetition expressions and a window);
    // downstream decon/CC/join would re-execute it per consumer — and a
    // projection that big can fall out of whole-stage codegen, making
    // each re-execution interpreted. Materialize once; the default-stage
    // mix keeps its lean shape (a plain semi-join recomputes cheaply).
    val survMat =
      if (scrub || maxRepetition.isDefined || perSourceCap.isDefined) survivors.pinned
      else survivors
    val clean = Dedup.decontaminate(survMat, evalDf, deconShingleK, textCol, idCol)
      .pinned // feeds CC mining, the reps semi-join and withLang
    val clusters = Dedup.duplicateClusters(clean, nearDupThreshold, textCol = textCol, idCol = idCol)
    val reps     = clusters.filter(col(idCol) === col("rep")).select(col(idCol))
    val deduped  = clean.join(reps, Seq(idCol), "left_semi")
    val withLang = deduped.join(curated.select(col(idCol), col("predicted_lang")), Seq(idCol))
    val mixed    = Sampling.stratifiedHashSample(withLang, "predicted_lang", mixRates, idCol = idCol)
    val packed   = Sampling.packSequences(mixed, seqTokens, textCol, idCol)
    // packSequences pins its range-partitioned prefix frame eagerly, so the
    // whole upstream graph has ALREADY executed by this point — the returned
    // frame reads only that pin (plus a driver-built broadcast). Every stage
    // materialization above is therefore dead NOW; release it
    // deterministically instead of leaving ~6 checkpointed frames per run to
    // GC + ContextCleaner timing (the long-session scale-killer). The caller
    // releases the result itself with `Checkpoints.free(result)` when done.
    Checkpoints.free(
      Seq(clean, clusters, curated) ++
        (if (base ne df) Seq(base) else Nil) ++
        (if (survMat ne survivors) Seq(survMat) else Nil): _*)
    packed
  }

  /**
   * TABLE PROFILE — the per-column data-quality report every ingest runs
   * before a table enters the training mix: per column, row count, null
   * count, exact distinct count, and min/max (rendered to strings so one
   * schema serves every column type; min/max compute on the NATIVE type
   * first, so numerics order numerically). The report that catches the
   * all-null column, the constant column, and the id that isn't unique.
   *
   * Plan shape at 100 TB: ONE aggregation pass — Spark plans the multiple
   * exact `count(DISTINCT)`s as a single Expand (one scan, rows × columns
   * intermediate) with partial aggregation on every path; the unpivot to
   * one row per column happens on the 1-row aggregate result. No joins,
   * no window, nothing driver-sized. For very wide tables at extreme
   * scale, profile column batches (the Expand factor is `cols.size`).
   */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__d_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val tot = df.agg(count(lit(1)).as("__rows"), aggs: _*)
    val rows = cols.map { c =>
      struct(
        lit(c).as("col_name"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__n_$c")).as("n_null"),
        col(s"__d_$c").as("n_distinct"),
        col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"))
    }
    tot.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /**
   * REFERENTIAL-INTEGRITY AUDIT — one row: child rows, orphan rows (child
   * key with NO matching parent key), and the 6-dp orphan rate. The
   * ingest gate that catches a late or truncated dimension load before a
   * silently-shrinking inner join does (an orphan-producing join drops
   * those child rows without a trace; this report names the loss first).
   *
   * Scale shape: one left-anti join on the key (the parent side is
   * distinct-projected to keys only — broadcast when it fits, shuffle
   * otherwise) + two scalar counts. Nothing driver-sized.
   */
  def orphanReport(
      child: DataFrame,
      parent: DataFrame,
      childKey: String,
      parentKey: String
  ): DataFrame = {
    val c = child.select(col(childKey).as("__k"))
    val p = parent.select(col(parentKey).as("__k")).distinct()
    val tot = c.agg(count(lit(1)).as("n_rows"))
    val orp = c.join(p, Seq("__k"), "left_anti").agg(count(lit(1)).as("n_orphans"))
    tot.crossJoin(orp).select(
      col("n_rows"), col("n_orphans"),
      round(col("n_orphans").cast("double") / col("n_rows").cast("double"), 6)
        .as("orphan_rate"))
  }

  /**
   * PRIMARY-KEY VIOLATION REPORT — the key values that appear more than
   * once, heaviest first: the actionable companion to [[profile]]'s
   * `n_distinct < n_rows` signal (profile says THE key isn't unique; this
   * names WHICH values, for the upstream-dedup ticket). One
   * partial-aggregated groupBy + a TakeOrdered top-k; ties break by the
   * key ascending, so the report is stable across engines.
   */
  def pkViolations(df: DataFrame, key: String, topK: Int = 20): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L)
      .orderBy(col("n").desc, col(key))
      .limit(topK)
  }

  /**
   * FRESHNESS / STALENESS REPORT per category — for each `typeCol` value:
   * event count, last-seen timestamp, lag behind the GLOBAL newest event,
   * and the count inside the trailing `windowUs` window (anchored at the
   * global max, so every category is judged against the same "now"). The
   * pipeline-health dashboard that catches a stalled producer: a category
   * whose `lag_us` grows while its `n_window` hits zero stopped flowing.
   *
   * Scale shape: one scalar max (broadcast back as a 1-row cross join) +
   * one partial-aggregated groupBy over (type). Exact integers only.
   */
  def freshness(
      ev: DataFrame,
      typeCol: String = "event_type",
      tsCol: String = "ts",
      windowUs: Long = 86400000000L
  ): DataFrame = {
    val g = ev.agg(max(col(tsCol)).as("__gmax"))
    ev.select(col(typeCol), col(tsCol))
      .crossJoin(broadcast(g))
      .groupBy(col(typeCol))
      .agg(
        count(lit(1)).as("n_events"),
        max(col(tsCol)).as("last_ts"),
        max(col("__gmax")).as("__g"),
        sum(when(col(tsCol) > col("__gmax") - windowUs, 1L).otherwise(0L)).as("n_window"))
      .select(col(typeCol), col("n_events"), col("last_ts"),
        (col("__g") - col("last_ts")).as("lag_us"), col("n_window"))
  }

  /**
   * PARTITION-VOLUME OUTLIER REPORT — which ingest partitions (a source,
   * a crawl day, a shard) carry anomalous row counts: per-key counts
   * scored with the ROBUST z `(c − median) / (1.4826 · MAD)` — median and
   * MAD instead of mean/stddev because volume anomalies are exactly the
   * rows that would poison the moments used to find them. The
   * double-this-partition / half-that-partition ingest regression is the
   * most common silent corpus skew, and it is invisible to per-row QA.
   *
   * Determinism: counts are exact int64; median and MAD are TYPE-1 lower
   * medians picked from count HISTOGRAMS via cumulative windows (the
   * [[graft.operators.Relational.exactQuantiles]] shape — a window over
   * the histogram, never the keys), so both are exact integers; z is one
   * double chain snapped to `dp`. MAD = 0 (over half the partitions share
   * one count) yields null z for off-median keys rather than ±∞.
   *
   * Scale shape: one partial-aggregated count per key, two histogram
   * aggregations (bounded by DISTINCT count values, not keys), and two
   * single-row broadcast attachments. Never a sort of the key list.
   */
  def volumeOutliers(
      df: DataFrame,
      keyCol: String,
      zCut: Double = 3.5,
      dp: Int = 6
  ): DataFrame = {
    require(zCut > 0.0, "zCut must be positive")
    import org.apache.spark.sql.expressions.Window
    val cnt = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c")).pinned
    // type-1 lower median of a histogram: smallest value whose cumulative
    // count reaches ceil(n/2). Computed IN-PLAN as a 1-row frame — the
    // median and MAD used to collect in two sequential driver jobs; both
    // now ride the single output action as broadcast 1-row crossJoins
    // over the pinned count frame (same window-over-histogram algebra,
    // same values, two fewer job barriers) [guide §2.6, §5]
    def medianFrame(values: DataFrame, outName: String): DataFrame = {
      val h = values.groupBy(col("v")).agg(count(lit(1)).as("m"))
      val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
      h.withColumn("__cum", sum(col("m")).over(w))
        .withColumn("__n", sum(col("m")).over(Window.partitionBy()))
        .filter(col("__cum") >= expr("(__n + 1) div 2"))
        .agg(coalesce(min(col("v")), lit(0L)).as(outName))
    }
    val medF = medianFrame(cnt.select(col("c").as("v")), "__med")
    val madF = medianFrame(
      cnt.crossJoin(broadcast(medF)).select(abs(col("c") - col("__med")).as("v")), "__mad")
    val z = when(col("__mad") > 0L,
      round((col("c") - col("__med")).cast("double") / (lit(1.4826) * col("__mad")), dp))
      .otherwise(when(col("c") === col("__med"), lit(0.0)))
    val out = cnt.crossJoin(broadcast(medF)).crossJoin(broadcast(madF))
      .select(col("k").as(keyCol), col("c").as("n_rows"),
        col("__med").as("median_rows"), z.as("z"),
        (z.isNotNull && abs(z) > zCut).as("is_outlier"))
      .orderBy(col(keyCol)).pinned
    Checkpoints.free(cnt)
    out
  }

  /**
   * FUNCTIONAL-DEPENDENCY AUDIT — does column `detCol` determine column
   * `depCol`? Counts determinant values mapping to MORE than one distinct
   * dependent value — the "one order, two customers" class of silent
   * referential corruption that a null/orphan audit ([[profile]],
   * `qa_orphans`) cannot see because every row looks locally fine. Exact
   * distinct counts (never approximate — an FD audit that can
   * false-negative is worse than none); the example is the SMALLEST
   * violating determinant, so reruns name the same row to go look at.
   *
   * Scale shape: one partial-aggregated two-level groupBy (pairs, then
   * determinants) + one scalar aggregation. Nulls: a null dependent is a
   * VALUE for FD purposes (two rows, one null one 'x' → violation);
   * null determinants group like any other key.
   */
  def functionalDependency(
      df: DataFrame,
      detCol: String,
      depCol: String,
      dp: Int = 6
  ): DataFrame = {
    val pairs = df.select(col(detCol).as("__k"), col(depCol).as("__v"))
      .groupBy(col("__k"), col("__v")).agg(count(lit(1)).as("__c"))
    val perKey = pairs.groupBy(col("__k")).agg(count(lit(1)).as("__nd"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("__nd") > 1L, 1L).otherwise(0L)).as("n_violating"),
      max(col("__nd")).as("max_images"),
      min(when(col("__nd") > 1L, col("__k"))).as("example_key"))
      .select(col("n_keys"), col("n_violating"),
        // null (not NaN) on empty input — the convention bootstrapMeanSe
        // and degreeAssortativity already follow
        when(col("n_keys") > 0L,
          round(col("n_violating").cast("double") / col("n_keys").cast("double"), dp))
          .as("violation_rate"),
        col("max_images"), col("example_key"))
  }

  /**
   * CROSS-TABLE TOTALS AUDIT — does every order's stored total equal the
   * sum of its line items under the pricing formula
   * `Σ round(extprice·(1−disc)·(1+tax), 2)`? The classic
   * header/detail consistency invariant; a pipeline that re-derives
   * revenue from lineitem while dashboards read o_totalprice silently
   * disagrees by exactly what this reports. All comparison on the cent
   * lattice: per-line cents round once (one fixed double chain, identical
   * in both engines), then integer sums; the diff distribution reports
   * max and mean |diff| in cents. Orders with NO line items compare
   * against 0 (a header with no details is itself a finding).
   */
  def totalsAudit(
      orders: DataFrame,
      lineitem: DataFrame,
      dp: Int = 2
  ): DataFrame = {
    // explicit double casts pin the "one fixed double chain" contract in
    // code: were the price columns ever DECIMAL, DuckDB's exact decimal
    // round could diverge from this double round at half-cent boundaries
    val li = lineitem.select(col("l_orderkey").as("__ok"),
      round(col("l_extendedprice").cast("double") *
        (lit(1.0) - col("l_discount").cast("double")) *
        (lit(1.0) + col("l_tax").cast("double")) * 100.0, 0).cast("long").as("__lc"))
      .groupBy(col("__ok")).agg(sum(col("__lc")).as("__cents"))
    val j = orders.select(col("o_orderkey").as("__ok"),
        round(col("o_totalprice").cast("double") * 100, 0).cast("long").as("__oc"))
      .join(li, Seq("__ok"), "left_outer")
      .select(col("__ok"), (col("__oc") - coalesce(col("__cents"), lit(0L))).as("__d"))
    j.agg(
      count(lit(1)).as("n_orders"),
      sum(when(col("__d") =!= 0L, 1L).otherwise(0L)).as("n_mismatched"),
      max(abs(col("__d"))).as("max_abs_diff_cents"),
      sum(abs(col("__d")).cast("decimal(38,0)")).as("__sad"))
      .select(col("n_orders"), col("n_mismatched"),
        // null (not NaN) rates on an empty orders input
        when(col("n_orders") > 0L,
          round(col("n_mismatched").cast("double") / col("n_orders").cast("double"), 6))
          .as("mismatch_rate"),
        col("max_abs_diff_cents"),
        when(col("n_orders") > 0L,
          round(col("__sad").cast("double") / col("n_orders").cast("double") / 100.0, dp))
          .as("mean_abs_diff"))
  }

  /**
   * TEMPORAL REFERENTIAL-CONSISTENCY AUDIT — can a child event precede
   * its parent? `datediff(child_ts, parent_ts) < 0` joined on the key:
   * lineitems shipped before their order was placed, events stamped
   * before the account existed — the impossible-sequence class of data
   * bug (clock skew, timezone double-conversion, backfilled defaults).
   * Reports the violation count/rate, the most-negative lead in days,
   * and a concrete example key to pull. All exact integer day math; the
   * rate is null (not NaN) on an empty join.
   */
  def temporalConsistency(
      child: DataFrame,
      parent: DataFrame,
      childKey: String,
      parentKey: String,
      childTs: String,
      parentTs: String,
      dp: Int = 6
  ): DataFrame = {
    val j = child.select(col(childKey).as("__k"), col(childTs).as("__ct"))
      .join(parent.select(col(parentKey).as("__k"), col(parentTs).as("__pt")), Seq("__k"))
      .select(col("__k"), datediff(col("__ct"), col("__pt")).cast("long").as("__d"))
    j.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("__d") < 0L, 1L).otherwise(0L)).as("n_violations"),
      min(col("__d")).as("min_lead_days"),
      min(when(col("__d") < 0L, col("__k"))).as("example_key"))
      .select(col("n_pairs"), col("n_violations"),
        when(col("n_pairs") > 0L,
          round(col("n_violations").cast("double") / col("n_pairs").cast("double"), dp))
          .as("violation_rate"),
        col("min_lead_days"), col("example_key"))
  }

  /**
   * JOIN-CARDINALITY PREFLIGHT — the EXACT output size of
   * `left ⨝ right ON leftKey = rightKey`, computed from the two key
   * histograms WITHOUT executing the join: `|A ⨝ B| = Σ_k cntA(k)·cntB(k)`.
   * The 100-TB "will this enrichment join explode" check — two
   * partial-aggregated groupBys and a histogram-sized join cost orders of
   * magnitude less than the join they predict, and `max_key_rows`/`top_key`
   * name the skew key a blowup would come from (feed it to
   * [[Skew.saltedJoin]]). NULL keys never match an equi-join, so both
   * histograms drop them. Per-key products fold in decimal(38,0) — two
   * 1e9-row skewed sides would overflow an int64 product sum — and the
   * total casts back to BIGINT only if it fits (callers at that scale read
   * `join_rows` as the signal it is).
   */
  def joinCardinality(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String
  ): DataFrame = {
    val la = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("__cl"))
    val ra = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("__cr"))
    val lt = left.agg(count(lit(1)).as("n_left"),
      count_distinct(col(leftKey)).as("n_left_keys"))
    val rt = right.agg(count(lit(1)).as("n_right"),
      count_distinct(col(rightKey)).as("n_right_keys"))
    val prod = la.join(ra, "__k")
      .select(col("__k"), (col("__cl") * col("__cr")).as("__p"))
      .agg(
        count(lit(1)).as("n_shared_keys"),
        sum(col("__p").cast("decimal(38,0)")).cast("long").as("join_rows"),
        max(col("__p")).as("max_key_rows"),
        min(struct((-col("__p")).as("np"), col("__k").as("k"))).as("__top"))
    lt.crossJoin(rt).crossJoin(prod).select(
      col("n_left"), col("n_right"), col("n_left_keys"), col("n_right_keys"),
      col("n_shared_keys"), col("join_rows"), col("max_key_rows"),
      col("__top.k").as("top_key"))
  }

  /**
   * POPULATION STABILITY INDEX between two snapshots of a numeric column —
   * the industry-standard "did this feature's distribution move" scalar
   * ([[snapshotDiff]] counts row churn; this scores DISTRIBUTION drift
   * even when row counts barely change): values band into a FIXED
   * `maxBins`-bin universe (`least(value div binWidth, maxBins−1)`, so
   * both engines agree on empty bins), per-bin shares Laplace-smooth by
   * +1 over the bin count (PSI's ln explodes on empty bins otherwise),
   * and `PSI = Σ (p−q)·ln(p/q)` folds ASCENDING BY BIN — one fixed double
   * chain per bin, engine-identical. Rule of thumb: <0.1 stable, 0.1–0.25
   * drifting, >0.25 investigate. Also names the top-contributing bin.
   * Two partial-aggregated histogram passes + a bins-sized join: the 100-TB
   * cost is two scans, never a shuffle of the data itself.
   */
  def psiReport(
      oldDf: DataFrame,
      newDf: DataFrame,
      valueCol: String,
      binWidth: Long,
      maxBins: Int = 20,
      dp: Int = 6
  ): DataFrame = {
    require(binWidth >= 1, "binWidth must be >= 1")
    require(maxBins >= 2 && maxBins <= 1000, "maxBins must be in [2, 1000]")
    import graft.functions.GraftFunctions
    import GraftFunctions.foldSum
    // clamp BOTH ends into the [0, maxBins) universe: a negative value
    // otherwise lands in a negative bin the universe join silently drops
    // while still inflating the denominator — per-bin shares stop summing
    // to 1 and the PSI quietly understates (round-14 advice item)
    def hist(df: DataFrame, cnt: String): DataFrame =
      df.select(greatest(lit(0L),
          least(expr(s"$valueCol div ${binWidth}L"), lit(maxBins - 1L))).as("__b"))
        .groupBy(col("__b")).agg(count(lit(1)).as(cnt))
    val universe = oldDf.sparkSession.range(0, maxBins).select(col("id").as("__b"))
    val no = oldDf.count()
    val nn = newDf.count()
    val bD = maxBins.toDouble
    val p  = (coalesce(col("__co"), lit(0L)) + 1L).cast("double") / (lit(no.toDouble) + bD)
    val q  = (coalesce(col("__cn"), lit(0L)) + 1L).cast("double") / (lit(nn.toDouble) + bD)
    val contrib = (p - q) * log(p / q)
    universe
      .join(hist(oldDf, "__co"), Seq("__b"), "left_outer")
      .join(hist(newDf, "__cn"), Seq("__b"), "left_outer")
      .select(col("__b"), contrib.as("__c"))
      .agg(
        foldSum(collect_list(col("__c"))).as("__psi"),
        min(struct((-col("__c")).as("nc"), col("__b").as("b"), col("__c").as("c")))
          .as("__top"))
      .select(lit(no).as("n_old"), lit(nn).as("n_new"),
        round(col("__psi"), dp).as("psi"),
        col("__top.b").as("top_bin"),
        round(col("__top.c"), dp).as("top_contrib"))
  }

  /**
   * SNAPSHOT DIFF between two versions of a table keyed by `pk` — how many
   * rows were ADDED, REMOVED, CHANGED (same key, any `compareCols` value
   * differs — null-safe, so NULL→value and value→NULL both count), or
   * UNCHANGED. The ingest-regression tripwire between two pipeline runs:
   * "yesterday's crawl vs today's" in one row, long before a downstream
   * metric notices. One full-outer key join; per-column comparison happens
   * on the joined row (no canonicalization hash, so column types stay
   * native and engines can't disagree on a serialization).
   */
  def snapshotDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      pk: String,
      compareCols: Seq[String]
  ): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    val o = oldDf.select(col(pk).as("__k") +: lit(true).as("__ho") +:
      compareCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newDf.select(col(pk).as("__k") +: lit(true).as("__hn") +:
      compareCols.map(c => col(c).as(s"__n_$c")): _*)
    val j = o.join(n, Seq("__k"), "full_outer")
    val differs = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c")))
      .reduce(_ || _)
    j.agg(
      sum(when(col("__ho").isNotNull, 1L).otherwise(0L)).as("n_old"),
      sum(when(col("__hn").isNotNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(col("__ho").isNull, 1L).otherwise(0L)).as("n_added"),
      sum(when(col("__hn").isNull, 1L).otherwise(0L)).as("n_removed"),
      sum(when(col("__ho").isNotNull && col("__hn").isNotNull && differs, 1L)
        .otherwise(0L)).as("n_changed"),
      sum(when(col("__ho").isNotNull && col("__hn").isNotNull && !differs, 1L)
        .otherwise(0L)).as("n_unchanged"))
  }
}
