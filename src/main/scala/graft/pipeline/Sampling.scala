package graft.pipeline

import graft.functions.GraftFunctions
import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Corpus sampling and budget selection for training-data mixes.
 *
 * Everything here is DETERMINISTIC — a rerun (or a different cluster
 * size, or a different engine replaying the recipe) produces the exact
 * same corpus. That is the property training-data lineage needs and
 * `rand()`/`sampleBy` cannot give: sampling decisions are pure functions
 * of the document id, not of partition layout or RNG draw order.
 */
object Sampling {

  /** The sampling hash: portable polynomial over the id's decimal digits,
    * reduced mod 10000 — two engines computing it agree bit-for-bit
    * ([[graft.OracleGen]] replays it in SQL). One compiled call per row
    * ([[GraftFunctions.polyHash]], registered on `df`'s session), value-
    * identical to the HOF reference form [[Dedup.polyHash]]. */
  private[graft] def sampleHash(df: DataFrame, idCol: Column, seed: Long): Column = {
    GraftFunctions.register(df.sparkSession)
    pmod(GraftFunctions.polyHash(idCol.cast("string"), 131L, seed), lit(10000L))
  }

  /** Keep ~`rate` of rows, chosen by id hash: a doc is in or out of the
    * sample forever, independent of partitioning and order. */
  def hashSample(df: DataFrame, rate: Double, seed: Long = 7L, idCol: String = "doc_id"): DataFrame = {
    require(rate >= 0 && rate <= 1, "rate must be in [0,1]")
    df.filter(sampleHash(df, col(idCol), seed) < lit(math.round(rate * 10000)))
  }

  /**
   * Weight-proportional deterministic sampling: a row is kept with
   * probability `fraction * w / max(w)` (so the heaviest row is kept with
   * probability `fraction`, the rest pro-rata), decided by the same
   * id-hash as [[hashSample]] — in or out of the sample forever,
   * independent of partitioning and order. The standard "sample by size"
   * primitive (token-weighted corpus subsampling). One 1-row max
   * aggregation, then a single filtered pass — no shuffle, full pushdown.
   *
   * The per-row threshold `round(10000·fraction·w / maxW)` is computed
   * with the identical IEEE operation order in the DuckDB oracle, so the
   * kept set is engine-portable (both engines round half away from zero
   * for positives).
   */
  def weightedHashSample(
      df: DataFrame,
      fraction: Double,
      weightCol: String,
      seed: Long = 7L,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    val maxRow = df.agg(max(col(weightCol)).cast("double")).collect()(0)
    if (maxRow.isNullAt(0)) return df.filter(lit(false)) // empty / all-null weights
    val maxW = maxRow.getDouble(0)
    require(maxW > 0, s"$weightCol must have a positive maximum, got $maxW")
    df.filter(sampleHash(df, col(idCol), seed) <
      round(lit(10000.0 * fraction) * col(weightCol).cast("double") / lit(maxW), 0))
  }

  /**
   * Per-stratum deterministic rates — the "training mix" primitive: e.g.
   * `Map("en" -> 0.5, "de" -> 1.0)` keeps half the English corpus and all
   * the German one. Strata absent from `rates` are dropped (an explicit
   * mix is a whitelist). One scan, no shuffle: the decision is a pure
   * row-local predicate, so at 100 TB this is a single filtered pass with
   * full predicate pushdown on the stratum column.
   */
  def stratifiedHashSample(
      df: DataFrame,
      stratumCol: String,
      rates: Map[String, Double],
      seed: Long = 7L,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val h = sampleHash(df, col(idCol), seed)
    val keep = rates.toSeq.sortBy(_._1).map { case (stratum, rate) =>
      col(stratumCol) === lit(stratum) && h < lit(math.round(rate * 10000))
    }.reduceOption(_ || _).getOrElse(lit(false))
    df.filter(keep)
  }

  /**
   * Temperature-based mix rates from the LIVE stratum counts — the
   * standard multilingual sampling rule: stratum share ∝ count^(1/T), so
   * T > 1 upweights low-resource strata (T = 2 is the common choice).
   * `totalFraction` fixes the overall kept share of the corpus; a stratum
   * whose temperature share exceeds its size clamps at rate 1.
   *
   * One tiny map-side-combined count aggregation (|strata| rows to the
   * driver); rates are rounded to 4 dp HALF_UP before the hash cutoffs so
   * the sampled set is reproducible across engines — `pow` is not
   * bit-identical across libm implementations, and after rounding a flip
   * would need the unrounded rate within 5e-5 of a boundary (same
   * accepted residual-risk class as the 6 dp Lloyd means).
   */
  def temperatureMixRates(
      df: DataFrame,
      stratumCol: String,
      temperature: Double,
      totalFraction: Double
  ): Map[String, Double] = {
    require(temperature > 0, "temperature must be positive")
    require(totalFraction > 0 && totalFraction <= 1, "totalFraction must be in (0,1]")
    // null strata can't carry a rate (stratifiedHashSample matches by
    // equality, which is never true for NULL) — exclude them up front so
    // getString can't NPE and the temperature shares cover real strata only.
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1) // sorted: deterministic fold order
    if (counts.isEmpty) return Map.empty // empty corpus: z = 0 would make every rate NaN
    val total = counts.map(_._2).sum.toDouble
    val pw    = counts.map { case (s, c) => (s, c, math.pow(c.toDouble, 1.0 / temperature)) }
    val z     = pw.map(_._3).sum
    pw.map { case (s, c, p) =>
      val rate = math.min(1.0, p / z * total * totalFraction / c)
      s -> BigDecimal(rate).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /**
   * DETERMINISTIC HOLDOUT SPLIT — label every row `train`/`val`/`test`
   * (any names) by the id hash against cumulative weight cutoffs: weights
   * `[("train",0.8),("val",0.1),("test",0.1)]` send hash values
   * `[0,8000)/[8000,9000)/[9000,10000)` to the three splits. The property
   * a training pipeline needs from its split — membership is a pure
   * function of the id, so a document NEVER migrates between train and
   * test across reruns, cluster sizes, or engines, and adding documents
   * never reassigns existing ones (the re-shuffle leakage bug in
   * `randomSplit`-style splitting).
   *
   * Zero shuffle: one row-local codegen'd predicate chain per row —
   * at 100 TB this is a mapped scan. Weights must sum to 1 (±1e-9) so
   * every row lands in exactly one split.
   */
  /**
   * Deterministic top-fraction selection: the `ceil(fraction·n)` rows with
   * the highest `orderCol`, ties broken by `tieCol` — the selection half
   * of importance resampling ([[TextAnalysis.importanceWeights]] scores,
   * this picks the target-looking slice). `orderBy.limit` compiles to
   * TakeOrderedAndProject: per-partition top-k then a single k-row merge
   * on the driver — no global sort materializes at any scale. Keep
   * `orderCol` pre-rounded (the weights come 6-dp-snapped) so the ordering
   * agrees across engines.
   */
  def topFractionBy(
      df: DataFrame,
      fraction: Double,
      orderCol: String,
      tieCol: String = "doc_id"
  ): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    val k = math.ceil(fraction * df.count()).toInt
    df.orderBy(col(orderCol).desc, col(tieCol)).limit(k)
  }

  def holdoutSplit(
      df: DataFrame,
      weights: Seq[(String, Double)],
      seed: Long = 7L,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    require(weights.forall(_._2 >= 0), "weights must be non-negative")
    require(math.abs(weights.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val h = sampleHash(df, col(idCol), seed)
    // cumulative integer cutoffs on the same 10000-lattice as the hash;
    // the last split takes the remainder so rounding can't orphan a row
    val cuts  = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }.tail
    val label = weights.init.zip(cuts.init).foldRight(lit(weights.last._1): Column) {
      case (((name, _), cut), rest) => when(h < cut, lit(name)).otherwise(rest)
    }
    df.withColumn("split", label)
  }

  /**
   * K-FOLD ASSIGNMENT — deterministic cross-validation folds by the
   * portable id hash: every row gets `fold ∈ [0, k)` forever, independent
   * of partitioning, order, parallelism or engine — so fold `i`'s
   * train/eval complement reproduces anywhere, with no RNG state and no
   * shuffle ([[holdoutSplit]] is the named-weights sibling; this is the
   * uniform-k rotation CV wants). Row-local projection; folds are
   * near-uniform (exactly uniform when k divides the 10000 hash lattice).
   */
  def kfold(df: DataFrame, k: Int, seed: Long = 7L, idCol: String = "doc_id"): DataFrame = {
    require(k >= 2 && k <= 10000, "k must be in [2, 10000]")
    df.withColumn("fold", pmod(sampleHash(df, col(idCol), seed), lit(k.toLong)))
  }

  /** [[stratifiedHashSample]] with [[temperatureMixRates]]-derived rates —
    * corpus-driven, no hand-pinned per-language numbers. */
  def temperatureSample(
      df: DataFrame,
      stratumCol: String,
      temperature: Double,
      totalFraction: Double,
      seed: Long = 7L,
      idCol: String = "doc_id"
  ): DataFrame =
    stratifiedHashSample(df, stratumCol,
      temperatureMixRates(df, stratumCol, temperature, totalFraction), seed, idCol)

  /**
   * Pack documents into fixed-size training sequences: doc `i` (in id
   * order) starts at token offset `prefixSum(tokens before i)` and lands
   * in `seq_id = floor(start / seqTokens)` — deterministic chunking of
   * the corpus token stream into `seqTokens`-sized windows.
   *
   * The prefix sum is the textbook distributed two-phase form, NOT a
   * global ordered window (which would serialize 100 TB through one
   * partition): range-partition by id, per-partition running sums in one
   * local pass, per-partition totals cumulated on the driver (one row per
   * partition) and broadcast back as exclusive offsets. The local pass is
   * a `mapPartitions` rather than a `partitionBy(pid)` window on purpose —
   * Catalyst cannot prove `spark_partition_id()` matches the physical
   * layout and would re-shuffle the whole corpus a second time on pid;
   * the iterator pass reuses the range exchange's co-location for free.
   * Range boundaries may vary run to run — the result does not, because
   * pid order follows id order and offsets are computed from the actual
   * partition contents. The range-partitioned frame is MATERIALIZED
   * (localCheckpoint) before its two uses: RangePartitioner samples its
   * boundaries with an rdd.id-derived seed, so re-evaluating the plan for
   * the totals collect and again for the final join could place rows in
   * different partitions between the two runs — the offsets would then be
   * joined against a layout they were not computed from. Pinning one
   * execution makes both reads see the same __pid→rows mapping.
   * Ids are assumed UNIQUE (the doc-id contract):
   * with duplicate ids the order among equal keys — and thus their seq
   * assignment — would be partition-placement dependent.
   */
  def packSequences(
      df: DataFrame,
      seqTokens: Long,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(seqTokens > 0, "seqTokens must be positive")
    import df.sparkSession.implicits._
    val local = df
      .select(col(idCol).cast("long"), size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
      .as[(Long, Long)]
      .mapPartitions { it =>
        var acc = 0L
        it.map { case (id, n) => acc += n; (id, n, acc) }
      }
      .toDF(idCol, "n_tokens", "__local")
      .withColumn("__pid", spark_partition_id())
      .pinned // pin ONE range partitioning for both reads below

    // one row per partition on the driver: exclusive prefix offsets
    val partTotals = local.groupBy(col("__pid")).agg(max(col("__local")).as("total"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = partTotals.scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) => (pid, acc + tot) }
    val offsetDf = local.sparkSession
      .createDataFrame(partTotals.map(_._1).zip(offsets.map(_._2)).toSeq)
      .toDF("__pid", "__off")

    local.join(broadcast(offsetDf), "__pid")
      .select(col(idCol), col("n_tokens"),
        floor((col("__off") + col("__local") - col("n_tokens")) / lit(seqTokens)).as("seq_id"))
  }

  /**
   * Packing-efficiency report over a [[packSequences]] result, graded
   * under the TRUNCATE-AT-BOUNDARY consumption model: each sequence is
   * fed exactly the documents that START in it ([[packSequences]]
   * assigns by start offset) and is cut at `seqTokens`. Per sequence:
   * how many documents start there, the tokens they carry
   * (`used_tokens`, which may exceed capacity before the cut), `waste`
   * (pad tokens after the cut: capacity minus starting-doc tokens,
   * floored at 0) and `overflow` (starting-doc tokens dropped by the
   * cut). Summing `waste`/`overflow` gives corpus-level pad and
   * truncation loss for that consumption mode. NOTE: under the
   * spill-continuation reading of the packed stream (a boundary-crossing
   * doc keeps filling the next sequence) every interior sequence is
   * exactly full by construction and sequences covered entirely by
   * spill carry no starting doc — so they have no row here; this report
   * is only meaningful for the truncation mode. Pure integer arithmetic
   * over one map-side-combined aggregation.
   */
  def packingReport(packed: DataFrame, seqTokens: Long): DataFrame =
    packed
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("used_tokens"))
      .select(col("seq_id"), col("n_docs"), col("used_tokens"),
        greatest(lit(seqTokens) - col("used_tokens"), lit(0L)).as("waste"),
        greatest(col("used_tokens") - lit(seqTokens), lit(0L)).as("overflow"))

  /**
   * DOMAIN-MIXTURE REWEIGHTING in the spirit of DoReMi (Xie et al. 2023,
   * "Doremi: Optimizing Data Mixtures Speeds Up Language Model
   * Pretraining"): start from uniform domain weights and repeatedly tilt
   * the mixture toward domains with EXCESS LOSS — here the per-domain
   * mean quality deficit `loss_d = 1 − mean(quality)` stands in for the
   * proxy-model excess loss. Each of `rounds` steps computes the
   * mixture-weighted mean loss `m = Σ w_d·loss_d`, applies the
   * multiplicative update `w_d ← w_d · (1 + lr·(loss_d − m))` and
   * renormalizes; the final weights are smoothed with the uniform
   * distribution (`(1−s)·w + s/D`) exactly as the paper regularizes its
   * learned mixture. The update is deliberately EXP-FREE (the linearized
   * multiplicative-weights rule, not `exp(lr·excess)`): +,−,×,÷ are
   * IEEE-exact and engine-portable, `exp` is not — so a DuckDB oracle
   * replaying the identical op sequence gets bit-identical weights.
   *
   * Scale shape: ONE map-side-combined aggregation over the corpus
   * produces D domain rows (quality snapped to its 4-dp integer lattice,
   * summed as exact int64 — the snap-then-divide pattern); the
   * `rounds`·D-step loop runs on the driver over that bounded list
   * (domains, not documents — the same bounded-collect class as
   * [[tokenBudget]]'s bucket table), with every fold in sorted-domain
   * order so the oracle's ordered list_reduce matches bit-for-bit.
   */
  def domainReweight(
      df: DataFrame,
      domainCol: String = "lang",
      textCol: String = "text",
      rounds: Int = 3,
      lr: Double = 0.5,
      smoothing: Double = 0.1
  ): DataFrame = {
    require(rounds >= 0 && rounds <= 64, "rounds must be in [0,64]")
    require(lr > 0.0 && lr <= 1.0, "lr must be in (0,1]")
    require(smoothing >= 0.0 && smoothing < 1.0, "smoothing must be in [0,1)")
    val spark = df.sparkSession
    import spark.implicits._
    val (_, _, _, quality) = TextAnalysis.qualityCols(col(textCol))
    val qInt = round(quality * 10000, 0).cast("long")
    val agg = df
      .filter(col(domainCol).isNotNull)
      .select(col(domainCol).cast("string").as("domain"), qInt.as("__q"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n"), sum(col("__q")).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)(OracleCompat.utf8Ordering) // the oracle folds in UTF-8 byte order
    val d = agg.length
    if (d == 0)
      return Seq.empty[(String, Long, Double, Double)]
        .toDF("domain", "n_docs", "loss", "weight")
    // one division + one subtraction from exact integers: both engines
    // perform the identical IEEE op sequence on identical inputs
    val loss = agg.map { case (_, n, s) => 1.0 - s.toDouble / (10000.0 * n) }
    val w = mwLoop(loss, rounds, lr)
    // smoothing + the 6-dp snap happen as Spark column ops so the rounding
    // semantics are the same ROUND_HALF_UP both engines apply elsewhere
    agg.indices.map { i => (agg(i)._1, agg(i)._2, loss(i), w(i)) }
      .toDF("domain", "n_docs", "__loss", "__w")
      .select(col("domain"), col("n_docs"),
        round(col("__loss"), 6).as("loss"),
        round(lit(1.0 - smoothing) * col("__w") + lit(smoothing / d), 6).as("weight"))
  }

  /** [[domainReweight]]'s bounded multiplicative-weights loop: uniform
    * init, `rounds` × (tilt by excess over the mixture mean, renormalize),
    * every fold in the caller's sorted-domain array order. */
  private def mwLoop(loss: Array[Double], rounds: Int, lr: Double): Array[Double] = {
    val d = loss.length
    val w = Array.fill(d)(1.0 / d)
    for (_ <- 1 to rounds) {
      var m = 0.0
      var i = 0
      while (i < d) { m += w(i) * loss(i); i += 1 } // sorted-domain fold
      i = 0
      while (i < d) { w(i) = w(i) * (1.0 + lr * (loss(i) - m)); i += 1 }
      var sw = 0.0
      i = 0
      while (i < d) { sw += w(i); i += 1 }          // sorted-domain fold
      i = 0
      while (i < d) { w(i) = w(i) / sw; i += 1 }
    }
    w
  }

  /**
   * Highest-quality docs whose cumulative token count fits `budget`,
   * in (quality DESC, id ASC) priority order — "fill a 1T-token training
   * budget with the best documents".
   *
   * Scale shape: the naive form is a running sum over a GLOBAL ordering —
   * one partition doing all the work. Instead quality (already rounded to
   * 4 dp) is bucketed to 2 dp: per-bucket token totals (≤ ~121 buckets)
   * aggregate tree-style and cumulate on the driver, which pins the
   * boundary bucket; buckets above it are kept whole with a plain filter,
   * buckets below dropped, and only the boundary bucket's rows — one
   * quality-centile of the corpus — pay a two-phase distributed prefix
   * sum for the exact remainder (never a single-partition window, even
   * when a degenerate quality distribution puts everything in one
   * bucket). Semantics are EXACTLY the global prefix: floor-bucketing is
   * order-preserving, and equal-quality rows always share a bucket, where
   * the prefix sum applies the same (quality DESC, id ASC) order.
   */
  def tokenBudget(
      df: DataFrame,
      budget: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      // above this many boundary-bucket rows the exact remainder switches
      // from a (bounded) single-partition window to the distributed
      // prefix sum — 4M sorted rows in one task is fine, a degenerate
      // whole-corpus bucket is not
      maxWindowRows: Long = 1L << 22
  ): DataFrame = {
    val (nTokens, _, _, quality) = TextAnalysis.qualityCols(col(textCol))
    val scored = df
      .withColumn("__toks", nTokens)
      .withColumn("__q", quality)
      .withColumn("__qb", floor(col("__q") * 100).cast("int"))

    // ≤ ~121 rows on the driver (quality ∈ [-0.0x, 1.1] after weighting).
    // Prefix semantics: once the running total would cross the budget the
    // boundary is pinned; later (lower-quality) buckets can never re-enter
    // — cumulative sums are monotone, so a crossed budget stays crossed.
    val bucketStats = scored.groupBy(col("__qb"))
      .agg(sum("__toks").as("toks"), count(lit(1)).as("rows"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(-_._1)
    var acc = 0L
    var boundary = Int.MinValue
    var aboveSum = 0L
    var boundaryRowCount = 0L
    bucketStats.foreach { case (qb, toks, nRows) =>
      if (boundary == Int.MinValue) {
        if (acc + toks <= budget) acc += toks
        else { boundary = qb; aboveSum = acc; boundaryRowCount = nRows }
      }
    }
    if (boundary == Int.MinValue) df // everything fits
    else {
      // whole buckets above the boundary: a row-local filter, NO join —
      // the bulk of the corpus never shuffles
      val whole   = scored.filter(col("__qb") > boundary)
      val rem     = budget - aboveSum
      val bScored = scored.filter(col("__qb") === boundary)
      val boundaryRows =
        if (boundaryRowCount <= maxWindowRows) {
          // one quality-centile, bounded size: a single-partition ordered
          // window is the cheapest exact plan
          val w = org.apache.spark.sql.expressions.Window.orderBy(col("__q").desc, col(idCol).asc)
          bScored.withColumn("__cum", sum(col("__toks")).over(w))
            .filter(col("__cum") <= rem)
            .drop("__cum")
        } else {
          // degenerate distribution (e.g. the whole corpus in one bucket):
          // the same two-phase prefix sum [[packSequences]] uses, ordered
          // (quality DESC, id) — stays parallel at any bucket size
          import df.sparkSession.implicits._
          val bLocal = bScored
            .select(col("__q"), col(idCol).cast("long").as("__id"), col("__toks"))
            .repartitionByRange(col("__q").desc, col("__id"))
            .sortWithinPartitions(col("__q").desc, col("__id"))
            .as[(Double, Long, Long)]
            .mapPartitions { it =>
              var racc = 0L
              it.map { case (_, id, n) => racc += n; (id, racc) }
            }
            .toDF("__id", "__local")
            .withColumn("__pid", spark_partition_id())
            // same materialization contract as [[packSequences]]: the
            // totals collect and the offsets join must read the SAME
            // range partitioning, not two samples of it
            .pinned
          val totals = bLocal.groupBy(col("__pid")).agg(max(col("__local")).as("t"))
            .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
          val offs  = totals.scanLeft((0, 0L)) { case ((_, a), (pid, t)) => (pid, a + t) }
          val offDf = bScored.sparkSession
            .createDataFrame(totals.map(_._1).zip(offs.map(_._2)).toSeq)
            .toDF("__pid", "__off")
          val keptIds = bLocal.join(broadcast(offDf), "__pid")
            .filter(col("__off") + col("__local") <= rem)
            .select(col("__id").cast("long").as(idCol))
          bScored.join(keptIds, Seq(idCol), "left_semi")
        }
      whole.union(boundaryRows).drop("__toks", "__q", "__qb")
    }
  }

  /**
   * TRAINING-SHARD ASSIGNMENT: deal documents into `nShards` output shards
   * so per-shard token totals balance — the final step before a training
   * run writes its data files. Longest-processing-time-first intuition in
   * deterministic form: docs are dealt SNAKE-wise (0,1,…,n-1,n-1,…,1,0)
   * in (token count DESC, doc id) order, so each shard pairs a large doc
   * with a small one every two passes — plain round-robin systematically
   * overloads shard 0 with every pass's largest doc, the snake cancels it.
   * Returns `(doc_id, n_tokens, shard)`.
   *
   * The round-robin needs a global rank over |docs|; `row_number` over an
   * unpartitioned window is the exact plan (fine to ~4M docs — the
   * |docs| table, not the corpus bytes). Beyond that, the two-phase
   * per-partition rank offset scheme of [[packSequences]] swaps in
   * without changing the assignment (rank order is total and engine-free).
   */
  def assignShards(
      df: DataFrame,
      nShards: Int,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__toks").desc, col(idCol).asc)
    val pos = (row_number().over(w) - 1) % (2 * nShards)
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("__toks"))
      .withColumn("__pos", pos)
      .withColumn("shard",
        when(col("__pos") < nShards, col("__pos")).otherwise(lit(2 * nShards - 1) - col("__pos")))
      .select(col(idCol), col("__toks").as("n_tokens"), col("shard").cast("long").as("shard"))
  }

  /** Per-shard balance report over [[assignShards]]: doc count and token
    * total per shard — the check that the deal actually balanced. */
  def shardBalance(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))

  /**
   * DETERMINISTIC SOURCE-INTERLEAVED TRAINING ORDER — the order a trainer
   * should read a multi-source corpus in: round-robin across sources
   * (every source appears once before any appears twice, proportional
   * exposure without a curriculum cliff of one feed followed by another),
   * with WITHIN-source order decided by the portable id hash (the
   * [[hashSample]] polynomial — shuffled-looking, yet identical on any
   * engine, any partitioning, any rerun; an RNG shuffle is exactly what a
   * reproducible data order cannot be built on). The global order key is
   * `(round, source, hash, id)` where `round` is the row's rank inside
   * its source: sources with fewer docs simply run out and the remaining
   * feeds keep alternating.
   *
   * Returns the FIRST `k` positions as `(pos, source, doc_id)` — the
   * deterministic order prefix (a data-order audit, a warmup slice). The
   * top-k cut runs as TakeOrdered over the rank key, never a global sort;
   * the per-source rank is one window whose state is a counter.
   */
  def interleaveBySource(
      df: DataFrame,
      k: Int = 100,
      srcCol: String = "source",
      idCol: String = "doc_id",
      seed: Long = 7L
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val h = sampleHash(df, col(idCol), seed)
    val w = Window.partitionBy(col(srcCol)).orderBy(h.asc, col(idCol).asc)
    df.select(col(srcCol), col(idCol), h.as("__h"))
      .withColumn("__rn", row_number().over(w))
      .orderBy(col("__rn"), col(srcCol), col("__h"), col(idCol))
      .limit(k)
      .select(
        row_number().over(
          Window.orderBy(col("__rn"), col(srcCol), col("__h"), col(idCol)))
          .cast("long").as("pos"),
        col(srcCol), col(idCol))
  }
}
