package graft.pipeline

import graft.functions.GraftFunctions
import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * token counting, quality scoring, language identification and document
 * fingerprinting. Everything is built from codegen'd built-in functions —
 * no UDFs — so the operators scale to arbitrary corpus sizes with no
 * serialization overhead and full whole-stage codegen.
 */
object TextAnalysis {

  /** whitespace words of a text column. */
  def words(text: Column): Column = split(text, " ")

  // ---- token counting ----------------------------------------------------

  /** GPT-style pre-tokenizer regex: letter runs, digit runs, punct runs. */
  val BpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"

  /**
   * Token statistics per document: whitespace tokens, distinct tokens,
   * BPE-ish regex tokens, average word length.
   */
  def tokenStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    val w = words(col(textCol))
    df.select(
      col("doc_id"),
      size(w).cast("long").as("n_tokens"),
      size(array_distinct(w)).cast("long").as("n_distinct_tokens"),
      // r'…' raw literal: a plain SQL string would swallow the \s escape
      size(expr(s"regexp_extract_all($textCol, r'$BpeTokenPattern', 0)")).cast("long").as("n_bpe_tokens"),
      round(length(regexp_replace(col(textCol), " ", "")).cast("double") / size(w), 4).as("avg_word_len")
    )
  }

  /**
   * LEXICAL DIVERSITY per document: type–token ratio and the hapax
   * fraction (share of types occurring exactly once) — the vocabulary-
   * richness half of quality filtering ([[tokenStats]] counts volume;
   * this scores variety). Template/boilerplate docs sit at low TTR with
   * near-zero hapax share; gibberish sits at TTR → 1 with hapax → 1; real
   * prose lands between, which is exactly what makes both tails cheap
   * curation cuts.
   *
   * Scale shape: one map-side-combined `(doc, term)` count, one per-doc
   * aggregation — no windows, no joins. Both ratios divide exact int64
   * counts (one IEEE division each, snapped), so the oracle replays them
   * bit-identically.
   */
  def lexicalDiversity(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 6
  ): DataFrame = {
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t")).agg(count(lit(1)).as("__c"))
    tf.groupBy(col(idCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(idCol),
        col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens").cast("double"), dp).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), dp).as("hapax_frac"))
  }

  // ---- document chunking -------------------------------------------------

  /**
   * Sliding-window document chunking: each document becomes overlapping
   * chunks of `chunkSize` whitespace tokens starting every `stride` tokens
   * (stride < chunkSize ⇒ overlap of `chunkSize - stride`) — the standard
   * pre-tokenization step that turns variable-length documents into
   * model-window-sized training sequences (feed the result to
   * [[Sampling.packSequences]]). Emits `(doc_id, chunk_idx, chunk_text,
   * n_tokens)`; the final chunk per doc may be shorter than `chunkSize`.
   *
   * Scale shape: one generator projection (explode of the per-doc start
   * offsets) — map-side only, zero shuffles, fan-out ≈ tokens/stride per
   * row, and everything stays inside whole-stage codegen.
   */
  def chunkDocuments(
      df: DataFrame,
      chunkSize: Int,
      stride: Int,
      textCol: String = "text"
  ): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(stride > 0 && stride <= chunkSize, "stride must be in [1, chunkSize]")
    df.select(col("doc_id"), words(col(textCol)).as("ws"))
      .select(col("doc_id"), col("ws"),
        posexplode(sequence(lit(0), size(col("ws")) - 1, lit(stride))).as(Seq("chunk_idx", "start")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(slice(col("ws"), col("start") + 1, lit(chunkSize)), " ").as("chunk_text"),
        least(size(col("ws")) - col("start"), lit(chunkSize)).cast("long").as("n_tokens"))
  }

  // ---- quality scoring ---------------------------------------------------

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "it")

  /**
   * Heuristic quality score in [0,1]: length saturation, stopword presence,
   * punctuation moderation — the standard cheap pre-filter shape for
   * pretraining corpora (cf. C4/Gopher rules).
   */
  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (nTokens, stopRatio, punctRatio, quality) = qualityCols(col(textCol))
    df.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      stopRatio.as("stopword_ratio"),
      punctRatio.as("punct_ratio"),
      quality.as("quality")
    )
  }

  /** the quality-metric expressions `(n_tokens, stopword_ratio,
    * punct_ratio, quality)` — reusable inside larger one-pass projections
    * (e.g. [[Curate]]) without a metrics join. */
  def qualityCols(text: Column): (Column, Column, Column, Column) = {
    val w        = words(text)
    val nWords   = size(w).cast("double")
    val stopHits = size(filter(w, x => array_contains(lit(Stopwords.toArray), x))).cast("double")
    val puncts   = length(text) - length(regexp_replace(text, "[.,!?;:]", ""))
    val lenScore  = least(nWords / lit(64.0), lit(1.0))
    val stopScore = least(stopHits / greatest(nWords * 0.1, lit(1.0)), lit(1.0))
    val punctPen  = least(puncts.cast("double") / greatest(nWords, lit(1.0)), lit(1.0))
    (size(w).cast("long"),
      round(stopHits / nWords, 4),
      round(puncts.cast("double") / length(text), 4),
      round(lenScore * 0.5 + stopScore * 0.4 - punctPen * 0.1 + 0.1, 4))
  }

  // ---- corpus rollup report ----------------------------------------------

  /**
   * Corpus report over every CUBE grouping of `lang` × `source`: doc
   * count, token sum and mean quality per (lang, source), per lang, per
   * source, and the grand total, tagged with `grouping_id` — the one-pass
   * dashboard aggregate (Spark expands the cube with a single shuffle and
   * partial aggregation; no per-grouping re-scan of the corpus).
   *
   * The mean quality uses snap-then-divide: the 4-dp quality is scaled to
   * an integer (`round(q·10000)::long` — the explicit round recovers the
   * intended integer from the ±1-ulp representation of the 4-dp value;
   * a bare cast would truncate in Spark but round in DuckDB), summed
   * exactly, and divided once at the end — so the group mean is
   * bit-identical across engines regardless of summation order.
   */
  def corpusReport(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (nTokens, _, _, quality) = qualityCols(col(textCol))
    df.select(col("lang"), col("source"), nTokens.as("n_toks"), quality.as("q"))
      .cube(col("lang"), col("source"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(round(col("q") * 10000, 0).cast("long")).as("__sq"))
      .select(col("lang"), col("source"), col("gid"), col("n_docs"), col("n_tokens"),
        round(col("__sq").cast("double") / (col("n_docs").cast("double") * lit(10000.0)), 6)
          .as("avg_quality"))
  }

  // ---- distribution drift ------------------------------------------------

  /**
   * SOURCE DRIFT — KL divergence of each source's unigram distribution
   * from the whole corpus's: `KL(p_s ‖ q) = Σ_w p_s(w)·ln(p_s(w)/q(w))`
   * (0 = indistinguishable from the corpus mix; large = the source speaks
   * its own language — the standard distribution-shift alarm for a
   * pipeline ingesting from many feeds).
   *
   * Scale shape: two token-count aggregations (per `(source, word)` and
   * per word) and a broadcast of the |sources|-row totals; the per-source
   * KL folds over a VOCABULARY-bounded term array (token-sorted — not
   * corpus-size-bounded state, the [[tokenQuantiles]] class). Portability:
   * the fold runs in token order with identically-spelled terms on both
   * sides, one `ln` per term (agreeing across engines on this data, the
   * `tx_lm`/`tx_pmi` precedent), snapped to 6 dp once at the end.
   */
  def sourceDrift(df: DataFrame, textCol: String = "text", groupCol: String = "source"): DataFrame = {
    val toks = df.select(col(groupCol), explode(words(col(textCol))).as("w"))
    val sw   = toks.groupBy(col(groupCol), col("w")).agg(count(lit(1)).cast("double").as("c_sw"))
    val wt   = toks.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c_w"))
    val st   = toks.groupBy(col(groupCol)).agg(count(lit(1)).cast("double").as("n_s"))
    val n    = toks.count().toDouble // one 1-row count job
    val term = (col("c_sw") / col("n_s")) *
      log((col("c_sw") / col("n_s")) / (col("c_w") / lit(n)))
    sw.join(wt, "w").join(broadcast(st), groupCol)
      .select(col(groupCol), struct(col("w"), term.as("t")).as("wt"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(col("wt"))).as("__ts"), count(lit(1)).as("n_terms"))
      .select(col(groupCol), col("n_terms"),
        round(expr("aggregate(transform(__ts, s -> s.t), CAST(0.0 AS DOUBLE), (a, b) -> a + b)"), 6)
          .as("kl"))
  }

  /**
   * Gopher-style document quality rule panel (Rae et al. 2021, Gopher
   * appendix A1.1, adapted to this corpus's single-space plain text):
   * word count within `[minWords, maxWords]`, mean word length within
   * `[minMeanLen, maxMeanLen]`, symbol character ratio at most
   * `maxSymbolRatio`, and at least `minStopHits` DISTINCT stopwords
   * present (the "real prose" signal). Emits the per-doc metrics, one
   * flag per rule, and the composite `keep` — so a pipeline can both
   * filter on `keep` and report per-rule rejection counts. Everything is
   * a row-local codegen'd projection: mean word length is exact integer
   * arithmetic over the single-space contract (`(chars − (n−1)) / n`),
   * ratios snap to 4 dp once.
   */
  def gopherRules(
      df: DataFrame,
      minWords: Long = 30,
      maxWords: Long = 100000,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minStopHits: Long = 2,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val w        = words(col(textCol))
    val n        = size(w).cast("long")
    val meanLen  = (length(col(textCol)).cast("double") - (n.cast("double") - lit(1.0))) / n.cast("double")
    val symbols  = length(regexp_replace(col(textCol), "[A-Za-z0-9 ]", "")) // chars LEFT after removing word/space chars
    val symRatio = symbols.cast("double") / length(col(textCol)).cast("double")
    val stopHits = size(array_intersect(w, lit(Stopwords.toArray))).cast("long")
    val wordsOk  = n.between(minWords, maxWords)
    val lenOk    = meanLen.between(minMeanLen, maxMeanLen)
    val symOk    = symRatio <= maxSymbolRatio
    val stopOk   = stopHits >= minStopHits
    df.select(col(idCol), n.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symRatio, 4).as("symbol_ratio"),
      stopHits.as("stop_hits"),
      wordsOk.as("words_ok"), lenOk.as("len_ok"), symOk.as("symbol_ok"), stopOk.as("stop_ok"),
      (wordsOk && lenOk && symOk && stopOk).as("keep"))
  }

  /**
   * Cross-corpus bigram scoring — the CCNet-style perplexity filter
   * (Wenzek et al. 2020): score every candidate doc under a bigram LM
   * trained on a TARGET corpus (add-one smoothing over the target
   * vocabulary; unseen words/bigrams coalesce to zero counts). Low scores
   * read as "unlike the target domain" — the standard cut for noisy crawl
   * slices. Differs from [[bigramLogProb]] (self-corpus fluency) in that
   * the model corpus and the scored corpus are decoupled, and from
   * [[importanceWeights]] in modeling word ORDER, not just unigram mix.
   *
   * Scale shape: the target unigram table broadcasts; the target bigram
   * table joins un-hinted (vocab²-bounded, AQE broadcasts it while it
   * fits); candidate rows shuffle only on their own doc id. The per-doc
   * fold sorts the log-prob VALUES ([[bigramLogProb]]'s portability
   * trick), one `ln` per joined row, 4-dp snap at the end.
   */
  def crossBigramScore(
      df: DataFrame,
      targetDf: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    import graft.pipeline.Checkpoints.PinOps
    def bigrams(src: DataFrame, cols: Column*) = src
      .select(cols :+ words(col(textCol)).as("__ws"): _*)
      .filter(size(col("__ws")) >= 2)
      .select(cols :+ explode(expr(
        "transform(sequence(1, size(__ws) - 1), i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))")).as("__b"): _*)
      .select(cols :+ col("__b.w1").as("w1") :+ col("__b.w2").as("w2"): _*)
    val bg   = bigrams(df, col(idCol))
    val tUni = targetDf.select(explode(words(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__c1")).pinned
    val v    = tUni.count().toDouble
    val tBi  = bigrams(targetDf).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
    val lp = log((coalesce(col("__c2"), lit(0L)).cast("double") + lit(1.0)) /
      (coalesce(col("__c1"), lit(0L)).cast("double") + lit(v)))
    bg.join(tBi, Seq("w1", "w2"), "left_outer").join(broadcast(tUni), Seq("w1"), "left_outer")
      .select(col(idCol), lp.as("__lp"))
      .groupBy(col(idCol))
      .agg(round(
        aggregate(array_sort(collect_list(col("__lp"))), lit(0.0), (a, x) => a + x) /
          count(lit(1)), dp).as("xent_score"))
  }

  /**
   * CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
   * doc against a target-corpus LM ([[crossBigramScore]]) and split the
   * corpus into `head` / `middle` / `tail` thirds — head reads most like
   * the target (highest log-prob), tail least; CCNet keeps head+middle
   * and drops or down-weights tail.
   *
   * `approx = false` (default): assignment is `ntile(3)` over the TOTAL
   * order (4-dp-snapped score DESC, doc id), so buckets are
   * engine-identical — but the ntile sorts the |docs| score table in one
   * partition, fine to ~4M docs. Beyond that set `approx = true`: the two
   * tercile CUTOFFS come from one `approx_percentile` reduction
   * (fixed-size sketch, map-side combined), broadcast back, and each doc
   * buckets row-locally by threshold — no window, no global sort.
   * Boundary ties then land together in the lower bucket instead of being
   * split by doc id to equalize sizes (a spec pins the two paths equal
   * off those boundary score values).
   */
  def perplexityBuckets(
      df: DataFrame,
      targetDf: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      approx: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    val scored = crossBigramScore(df, targetDf, textCol, idCol)
    if (!approx) {
      val w = Window.orderBy(col("xent_score").desc, col(idCol).asc)
      scored.withColumn("ppl_bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")), ntile(3).over(w)))
    } else {
      val cutRow = scored.agg(expr(
        s"approx_percentile(xent_score, array(${1.0 / 3}, ${2.0 / 3}), $approxAccuracy)")
        .as("__cuts"))
      scored.crossJoin(broadcast(cutRow))
        .withColumn("ppl_bucket",
          when(col("xent_score") > element_at(col("__cuts"), 2), "head")
            .when(col("xent_score") > element_at(col("__cuts"), 1), "middle")
            .otherwise("tail"))
        .drop("__cuts")
    }
  }

  /**
   * DSIR-style importance weights (Xie et al. 2023, "Data Selection for
   * Language Models via Importance Resampling"): how much more likely each
   * doc's unigrams are under a TARGET corpus's distribution than under the
   * candidate corpus's own — the per-doc mean over its words of
   * `ln P̂_target(w) − ln P̂_source(w)`, add-one-smoothed over the union
   * vocabulary so words unseen on one side stay finite. High scores look
   * like the target domain; feed the weights to
   * [[Sampling.weightedHashSample]] for the resampling half, tilting a
   * raw crawl toward a curated target mix.
   *
   * Scale shape: two word-count aggregations (map-side combined), one
   * vocabulary-sized full-outer join producing a BROADCAST log-ratio
   * table joined map-side onto the exploded corpus, then one per-doc
   * aggregation — corpus rows never shuffle on anything but their own
   * doc id, and driver state is three scalars. Portability: per-doc terms
   * fold in token order (the [[sourceDrift]] fold), one `ln` pair per
   * vocab entry, a single 6-dp snap at the end; all totals are
   * integer-valued doubles, exact well below 2^53.
   */
  /** The vocabulary→log-ratio table behind [[importanceWeights]]:
    * `(w, lr)` with `lr = ln P̂_target(w) − ln P̂_source(w)`, add-one
    * smoothed over the union vocabulary. */
  private def importanceLogRatios(
      df: DataFrame,
      targetDf: DataFrame,
      textCol: String
  ): DataFrame = {
    import graft.pipeline.Checkpoints.PinOps
    val srcW = df.select(explode(words(col(textCol))).as("w"))
    val tgtW = targetDf.select(explode(words(col(textCol))).as("w"))
    val sc   = srcW.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c_s"))
    val tc   = tgtW.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c_t"))
    val vocab = sc.join(tc, Seq("w"), "full_outer")
      .select(col("w"),
        coalesce(col("c_s"), lit(0.0)).as("c_s"),
        coalesce(col("c_t"), lit(0.0)).as("c_t"))
      .pinned // read twice: totals + log-ratio projection
    val totals = vocab.agg(
      count(lit(1)).cast("double"), sum(col("c_s")), sum(col("c_t"))).head()
    val (nv, ts, tt) =
      if (totals.isNullAt(1)) (1.0, 0.0, 0.0) // empty corpora: plan still builds
      else (totals.getDouble(0), totals.getDouble(1), totals.getDouble(2))
    vocab.select(col("w"),
      (log((col("c_t") + lit(1.0)) / lit(tt + nv)) -
       log((col("c_s") + lit(1.0)) / lit(ts + nv))).as("lr"))
  }

  def importanceWeights(
      df: DataFrame,
      targetDf: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val srcW = df.select(col(idCol), explode(words(col(textCol))).as("w"))
    val lr   = importanceLogRatios(df, targetDf, textCol)
    srcW.join(broadcast(lr), "w")
      .select(col(idCol), struct(col("w"), col("lr")).as("wt"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("wt"))).as("__ts"), count(lit(1)).as("n_words"))
      .select(col(idCol), col("n_words"),
        round(expr("aggregate(transform(__ts, s -> s.lr), CAST(0.0 AS DOUBLE), (a, b) -> a + b)")
          / col("n_words"), 6).as("weight"))
  }

  // ---- language identification -------------------------------------------

  /** marker words per language (tiny public profiles; argmax with a fixed tie order). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "in", "that", "it"),
    "de" -> Seq("der", "die", "und", "ist", "das", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "et", "est", "les", "des", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不")
  )

  /**
   * N-gram/marker-word language ID: distinct-word overlap with each
   * language profile, argmax with ties resolved in `LangMarkers` order.
   * The same arithmetic is expressible in ANSI SQL, so the operator is
   * oracle-checkable.
   */
  def langId(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (pred, enHits) = langIdCols(col(textCol))
    df.select(
      col("doc_id"),
      pred.as("predicted_lang"),
      enHits.as("en_hits")
    )
  }

  /** the `(predicted_lang, en_hits)` expressions — reusable inside larger
    * one-pass projections (e.g. [[Curate]]). */
  def langIdCols(text: Column): (Column, Column) = {
    val distinctWords = array_distinct(words(text))
    val hits = LangMarkers.map { case (lang, markers) =>
      lang -> size(array_intersect(distinctWords, lit(markers.toArray)))
    }
    // argmax via a strict CASE chain: first language whose hit count is
    // >= every later one wins (deterministic tie order)
    val pred = hits.zipWithIndex.foldRight(lit(LangMarkers.last._1)) {
      case (((lang, h), i), elseCol) =>
        val laterHits = hits.drop(i + 1).map(_._2)
        val isMax     = laterHits.foldLeft(lit(true))((acc, other) => acc && h >= other)
        when(isMax, lit(lang)).otherwise(elseCol)
    }
    (pred, hits.head._2.cast("long"))
  }

  /** corpus-level langid accuracy against a labeled column. */
  def langIdAccuracy(df: DataFrame, labelCol: String = "lang"): DataFrame =
    langId(df)
      .join(df.select(col("doc_id"), col(labelCol)), "doc_id")
      .groupBy(col(labelCol))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("predicted_lang") === col(labelCol), 1L).otherwise(0L)).as("correct")
      )
      .orderBy(col(labelCol))

  // ---- statistical-LM quality --------------------------------------------

  /**
   * Unigram language-model score — the cheap statistical proxy for
   * KenLM-style perplexity filtering (cf. CCNet, Wenzek et al. 2020):
   * build the corpus unigram table once, keep the top `vocabSize` words
   * (ties broken by word — deterministic), and score every document by
   * the mean log-probability of its words; out-of-vocabulary words score
   * at the count-1 floor. Low scores flag gibberish / rare-token soup,
   * high scores flag natural in-distribution text.
   *
   * Scale shape: ONE map-side-combined word-count aggregation (vocab-sized
   * shuffle, not corpus-sized), the top-V table re-broadcasts onto a
   * second map-side pass (left join + per-doc partial mean) — corpus text
   * never shuffles; only per-doc partials do. The count relation is
   * materialized once (`localCheckpoint`) because the total-token scalar
   * and the top-V table both read it.
   */
  def unigramLogProb(
      df: DataFrame,
      vocabSize: Int = 100000,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val w      = df.select(col(idCol), explode(words(col(textCol))).as("word"))
    val counts = w.groupBy(col("word")).agg(count(lit(1)).as("c")).pinned
    // sum over an EMPTY corpus is null — default 1.0 so the (empty) plan
    // still builds instead of NPE-ing on the scalar collect
    val total  = counts.agg(sum(col("c"))).head() match {
      case r if r.isNullAt(0) => 1.0
      case r                  => r.getLong(0).toDouble
    }
    val vocab  = counts.orderBy(col("c").desc, col("word")).limit(vocabSize)
    val logp = when(col("c").isNull, lit(math.log(1.0 / total)))
      .otherwise(log(col("c").cast("double") / total))
    w.join(broadcast(vocab), Seq("word"), "left_outer")
      .select(col(idCol), logp.as("logp"))
      .groupBy(col(idCol))
      .agg(round(avg(col("logp")), 4).as("lm_score"))
  }

  /**
   * BIGRAM LM SCORE — per-document mean log-likelihood under an add-one-
   * smoothed corpus bigram model: `P(w2|w1) = (C(w1,w2)+1) / (C(w1)+V)`,
   * score = mean over the document's bigrams of `ln P`. The context-aware
   * upgrade of [[unigramLogProb]] (word-salad documents score low even
   * when every WORD is common — the fluency signal CCNet-style pipelines
   * threshold on).
   *
   * Scale shape: the bigram count table is corpus-sized, so the doc-bigram
   * ↔ corpus-bigram join is an honest data-sized shuffle on the bigram key
   * (NOT broadcastable — this is the one LM op that pays a real join);
   * unigram counts ride the same rows, V is one scalar count. Per-doc
   * means are ascending-sorted folds divided by the bigram count —
   * bit-identical across engines per the sorted-fold rule.
   */
  def bigramLogProb(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    val w = df.select(col(idCol), words(col(textCol)).as("__ws"))
    // the exploded doc-bigram frame feeds BOTH the corpus bigram counts
    // and the probe side of the scoring join — pinned, the corpus
    // tokenizes + explodes once instead of twice (round 17)
    val bg = w.filter(size(col("__ws")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(__ws) - 1), i -> struct(__ws[i-1] AS w1, __ws[i] AS w2))")).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .pinned
    val uni = df.select(explode(words(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("__c1")).pinned
    val v   = uni.count().toDouble
    val bc  = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("__c2"))
    val lp  = log((col("__c2").cast("double") + lit(1.0)) /
      (col("__c1").cast("double") + lit(v)))
    // uni stays pinned (the count above materialized it; the join below
    // reads it lazily) — it remains a leaf of the returned plan, so the
    // caller's Checkpoints.free(result) releases it after the last action
    bg.join(bc, Seq("w1", "w2")).join(uni, "w1")
      .select(col(idCol), lp.as("__lp"))
      .groupBy(col(idCol))
      .agg(round(
        aggregate(array_sort(collect_list(col("__lp"))), lit(0.0), (a, x) => a + x) /
          count(lit(1)), dp).as("lm2_score"))
  }

  // ---- repetition signals ------------------------------------------------

  /**
   * Gopher-style repetition signals per document (cf. Rae et al. 2021,
   * "Scaling Language Models", Table A1 — repetition filters):
   *
   *  - `dup_word_ratio`   — 1 − distinct words / total words
   *  - `top_word_ratio`   — occurrences of the most frequent word / total
   *  - `dup_bigram_ratio` — 1 − distinct word bigrams / total bigrams
   *  - `repetitive`       — the standard reject flag (any signal above its
   *                         conventional threshold)
   *
   * Everything is a single row-local projection over codegen'd collection
   * functions — per-document work is O(words × distinct words) with ~100-word
   * documents, there is NO explode, NO shuffle, and the operator streams
   * over a 100 TB corpus at full scan speed. The same arithmetic is
   * expressible in ANSI SQL list functions, so the operator is
   * oracle-checkable bit-for-bit.
   */
  def repetitionSignals(
      df: DataFrame,
      textCol: String = "text",
      dupWordMax: Double = 0.7,
      topWordMax: Double = 0.2,
      dupBigramMax: Double = 0.9
  ): DataFrame = {
    val (dupWord, topWord, dupBigram, repetitive) =
      repetitionCols(col(textCol), dupWordMax, topWordMax, dupBigramMax)
    df.select(
      col("doc_id"),
      dupWord.as("dup_word_ratio"),
      topWord.as("top_word_ratio"),
      dupBigram.as("dup_bigram_ratio"),
      repetitive.as("repetitive")
    )
  }

  /** the repetition-signal expressions `(dup_word_ratio, top_word_ratio,
    * dup_bigram_ratio, repetitive)` — reusable inside larger one-pass
    * projections/filters (e.g. [[Curate.trainingMix]]) with no join. */
  def repetitionCols(
      text: Column,
      dupWordMax: Double = 0.7,
      topWordMax: Double = 0.2,
      dupBigramMax: Double = 0.9
  ): (Column, Column, Column, Column) = {
    val w       = words(text)
    val nWords  = size(w)
    val nDist   = size(array_distinct(w))
    // most-frequent-word count = the longest equal-run in the SORTED word
    // list — one O(n log n) pass. (The naive shape, transform(distinct,
    // d -> count of d in w), is O(distinct × words) per row through two
    // nested lambda evaluations; it measured as the single hottest
    // expression of the composed curation mix.)
    val topCnt  = aggregate(
      array_sort(w),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (s, x) => {
        val run = when(x === s.getField("prev"), s.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"), greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    // guarded: zero-length slices for single-word docs. zip_with over two
    // shifted slices, NOT transform(sequence, i -> element_at(w, i)): a
    // lambda body referencing the outer `w` alias re-inlines the split()
    // per element — O(words²) per row, the measured hot spot of the
    // composed mix — while slice/zip_with evaluate the array once.
    val bigrams = when(nWords >= 2,
      zip_with(slice(w, lit(1), nWords - 1), slice(w, lit(2), nWords - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))
    val nBi     = size(bigrams)
    val nBiDist = size(array_distinct(bigrams))
    val dupWord   = round(lit(1.0) - nDist.cast("double") / nWords, 4)
    val topWord   = round(topCnt.cast("double") / nWords, 4)
    // single-word docs have zero bigrams: repetition ratio is 0 by convention
    val dupBigram = when(nBi > 0, round(lit(1.0) - nBiDist.cast("double") / nBi, 4)).otherwise(lit(0.0))
    (dupWord, topWord, dupBigram,
      dupWord > dupWordMax || topWord > topWordMax || dupBigram > dupBigramMax)
  }

  // ---- normalization -----------------------------------------------------

  /**
   * Canonical text normalization — the step that runs BEFORE any hashing
   * or dedup so near-identical docs differing only in case/whitespace
   * collapse together: lowercase, strip control characters, collapse
   * whitespace runs to single spaces, trim. Pure codegen'd string
   * functions; the identical transform is expressible in ANSI SQL, so the
   * operator is oracle-checkable. Returns the frame with `textCol`
   * normalized in place plus an `n_chars_norm` length column.
   */
  def normalizeText(df: DataFrame, textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[\\p{Cntrl}]", " "),
      "\\s+", " "))
    df.withColumn(textCol, norm)
      .withColumn("n_chars_norm", length(col(textCol)).cast("long"))
  }

  // ---- PII scrubbing -----------------------------------------------------

  /** redaction patterns, applied IN ORDER — emails, then IPv4, then phone
    * numbers: the phone pattern (digits with dot/dash/space separators)
    * would otherwise swallow dotted IPv4 strings. The regex subset used is
    * identical under Java regex and RE2, so the oracle replays it. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("\\+?[0-9][0-9()\\-. ]{7,}[0-9]", "<PHONE>")
  )

  /**
   * PII redaction over the text column: chained codegen'd `regexp_replace`
   * (no UDF — one projection, streams at scan speed over any corpus size).
   * Returns the input frame with `text` scrubbed and a `pii_hits` count of
   * redacted spans. Hits are counted stage-sequentially (each pattern
   * counts on the text AFTER the previous replacements), so an IPv4
   * already redacted to `<IP>` is not double-counted by the phone pattern.
   */
  def scrubPii(df: DataFrame, textCol: String = "text"): DataFrame = {
    val (scrubbed, hits) = PiiPatterns.foldLeft((col(textCol), lit(0L))) {
      case ((c, h), (re, token)) =>
        (regexp_replace(c, re, token),
          h + size(regexp_extract_all(c, lit(re), lit(0))).cast("long"))
    }
    df.withColumn("pii_hits", hits).withColumn(textCol, scrubbed)
  }

  // ---- distribution quantiles --------------------------------------------

  /**
   * Per-group percentiles of the whitespace token count. The default is
   * EXACT (linear interpolation — the ANSI `quantile_cont` definition, so
   * the oracle replays it): Spark's exact `percentile` aggregate keeps a
   * counts-map of DISTINCT values per group; token counts are small
   * bounded integers, so state stays tiny even over a 100 TB corpus (the
   * partial aggregation is map-side combined — only per-group value:count
   * maps shuffle). `approx = true` switches the same call shape to
   * `approx_percentile` (fixed-size sketch state, rank error ≤
   * 1/`approxAccuracy`, nearest-rank rather than interpolated) for
   * unbounded/continuous scoring domains — the 100 TB path is a flag, not
   * an edit; a spec bounds the drift against the exact form.
   */
  def tokenQuantiles(
      df: DataFrame,
      groupCol: String = "lang",
      textCol: String = "text",
      ps: Seq[Double] = Seq(0.5, 0.9),
      approx: Boolean = false,
      approxAccuracy: Int = 10000
  ): DataFrame = {
    val base = df.select(col(groupCol), size(words(col(textCol))).cast("double").as("n"))
    def pct(p: Double) =
      if (approx) s"approx_percentile(n, $p, $approxAccuracy)" else s"percentile(n, $p)"
    val aggs = ps.map(p => round(expr(pct(p)).cast("double"), 4).as(s"p${(p * 100).round}_tokens"))
    base.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /**
   * Keep documents at or above their group's p-th token-count percentile —
   * the "drop the shortest X% per language" curation step. The per-group
   * cutoffs are a tiny aggregate (one row per group) broadcast back onto
   * the corpus: one map-side-combined shuffle for the cutoffs, zero
   * shuffle of the corpus itself.
   */
  def filterByTokenQuantile(
      df: DataFrame,
      p: Double,
      groupCol: String = "lang",
      textCol: String = "text",
      approx: Boolean = false
  ): DataFrame = {
    val cuts = tokenQuantiles(df, groupCol, textCol, Seq(p), approx)
      .withColumnRenamed(s"p${(p * 100).round}_tokens", "cutoff")
    df.join(broadcast(cuts), groupCol)
      .filter(size(words(col(textCol))).cast("double") >= col("cutoff"))
      .drop("cutoff")
  }

  // ---- document fingerprinting -------------------------------------------

  private val FpMod = 1000000007L

  /**
   * Order-sensitive polynomial rolling fingerprint over the word sequence:
   * wordcode = (len(w)*131 + ascii(first char)) mod p, folded left with
   * acc*31 + code mod p. Engine-portable (pure integer arithmetic, no
   * platform hash), collision-tolerant for near-dup bucketing.
   */
  def fingerprint(df: DataFrame, textCol: String = "text"): DataFrame = {
    val codes = transform(words(col(textCol)),
      w => (length(w) * lit(131L) + ascii(substring(w, 1, 1))) % lit(FpMod))
    // seed with the first element to mirror a no-init reduce
    val fp = aggregate(
      slice(codes, lit(2), size(codes) - 1),
      element_at(codes, 1).cast("long"),
      (acc, x) => (acc * lit(31L) + x) % lit(FpMod)
    )
    df.select(col("doc_id"), fp.as("fingerprint"))
  }

  /**
   * GREENLIST WATERMARK DETECTION (Kirchenbauer et al. 2023 shape) — is a
   * document statistically biased toward a hash-keyed "green" half of the
   * vocabulary, the signature a watermarking sampler leaves in generated
   * text? Per doc: the green-token fraction and the one-proportion
   * z-score `(2g − n)/√n` against the null p=1/2; |z| ≥ 4 is parts-per-
   * million false-positive territory. Greenlist membership is the
   * portable word hash's parity — the same seeded polynomial the sampling
   * ops replay in SQL — so the score is RNG-free and engine-identical.
   * The synthetic-data-contamination audit a human-text corpus runs
   * before training. ROW-LOCAL end to end — the per-doc counts are
   * in-array folds (a nested hash fold inside the token fold), so there
   * is NO shuffle anywhere and the op is streaming-safe as-is (the
   * [[graft.pipeline.Chat.chatGateStream]] stateless-gate shape); exact
   * int64 counts, one fixed double chain.
   */
  /**
   * ENCODING-ANOMALY REPORT per source — the mojibake detector: counts
   * CONTROL characters (codepoints < 0x20 except tab/LF/CR) and U+FFFD
   * REPLACEMENT characters (the residue of a wrong-charset decode) per
   * feed. A crawler that silently switched from UTF-8 to Latin-1 poisons
   * every downstream tokenizer; per-row QA never sees it because each
   * row still "has text". Counting is `length(text) −
   * length(regexp_replace(text, class, ''))` — an explicit codepoint
   * class (no locale-dependent shorthand like `\p{Cntrl}`), so the Java
   * and RE2 engines agree character for character. Rates are per 10k
   * characters on one double division, 6-dp snap; `worst_doc` is the
   * smallest doc id attaining the max per-doc anomaly count.
   *
   * Scale shape: one row-local projection (two codegen'd regex passes
   * over the text) + one partial-aggregated groupBy on the source key.
   */
  def encodingAnomalies(
      df: DataFrame,
      srcCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 6
  ): DataFrame = {
    val ctl  = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]"
    val repl = "\\uFFFD"
    val scored = df.select(col(srcCol).as("__s"), col(idCol).as("__id"),
      length(col(textCol)).cast("long").as("__n"),
      (length(col(textCol)) - length(regexp_replace(col(textCol), ctl, "")))
        .cast("long").as("__c"),
      (length(col(textCol)) - length(regexp_replace(col(textCol), repl, "")))
        .cast("long").as("__r"))
    scored.groupBy(col("__s").as(srcCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__n")).as("n_chars"),
        sum(col("__c")).as("n_control"),
        sum(col("__r")).as("n_replacement"),
        min(struct((-(col("__c") + col("__r"))).as("na"), col("__id").as("id"))).as("__w"))
      .select(col(srcCol), col("n_docs"), col("n_chars"), col("n_control"),
        col("n_replacement"),
        round(col("n_control").cast("double") * 10000.0 /
          greatest(col("n_chars"), lit(1L)).cast("double"), dp).as("control_per_10k"),
        round(col("n_replacement").cast("double") * 10000.0 /
          greatest(col("n_chars"), lit(1L)).cast("double"), dp).as("replacement_per_10k"),
        col("__w.id").as("worst_doc"))
  }

  def watermarkScores(
      df: DataFrame,
      seed: Long = 7L,
      minTokens: Long = 16L,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(minTokens >= 1, "minTokens must be >= 1")
    GraftFunctions.register(df.sparkSession)
    val ws = filter(words(col(textCol)), w => length(w) >= 1)
    val green = (acc: Column, w: Column) =>
      acc + when(pmod(GraftFunctions.polyHash(w, 131L, seed), lit(2L)) === 0L, 1L).otherwise(0L)
    df.select(col(idCol),
        size(ws).cast("long").as("n_tokens"),
        aggregate(ws, lit(0L), green).as("n_green"))
      .filter(col("n_tokens") >= minTokens)
      .select(col(idCol), col("n_tokens"), col("n_green"),
        round(col("n_green").cast("double") / col("n_tokens").cast("double"), 6)
          .as("green_frac"),
        round((lit(2.0) * col("n_green").cast("double") - col("n_tokens").cast("double"))
          / sqrt(col("n_tokens").cast("double")), 6).as("z"))
  }

  /**
   * TOKEN ENTROPY — per-document Shannon entropy of the token
   * distribution, `−Σ p·ln p` in nats: the classic gibberish/boilerplate
   * signal (repeated-template docs score near 0, natural prose sits in a
   * narrow band, random token soup scores near `ln(vocab)`); pairs with
   * [[repetitionSignals]] in a quality filter.
   *
   * ONE shuffle on the doc id: per-term counts and the per-doc total ride
   * the same partitioning (window over the grouped counts — no join
   * back). Portability: `n` is an exact integer sum, each `p·ln p` is a
   * fixed IEEE chain, and the per-doc sum is an ascending-sorted fold
   * (the [[graft.pipeline.Retrieval]] BM25 idiom) so summation order is
   * pinned across engines; the single `ln` + 4 dp round is the accepted
   * BM25/tf-idf residual class.
   */
  def tokenEntropy(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 4
  ): DataFrame = {
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).cast("double").as("__c"))
    val n = sum(col("__c")).over(Window.partitionBy(col(idCol)))
    val plnp = (col("__c") / n) * log(col("__c") / n)
    tf.withColumn("__e", plnp)
      .groupBy(col(idCol))
      .agg(round(-aggregate(array_sort(collect_list(col("__e"))), lit(0.0),
        (acc, x) => acc + x), dp).as("entropy"))
  }

  /**
   * EFFECTIVE VOCABULARY per group — the inverse Simpson index
   * `N² / Σ c_t²`: "how many equally-common terms would produce this
   * distribution". Where [[tokenEntropy]] scores per-document surprise
   * and [[vocabStats]] counts raw types, this is the diversity number
   * that doesn't move when a million once-off typos join the tail — a
   * Zipfian slice with vocab 30 000 can have an effective vocabulary of
   * 40, and THAT is the number token-budget and mixing decisions should
   * weigh. Both moments are exact int64 sums (one map-side-combined
   * count, one per-group aggregation), so the single closing division is
   * engine-portable; `ratio = eff/vocab` (snapped) is the tail-heaviness
   * score directly comparable across groups.
   */
  def effectiveVocab(
      df: DataFrame,
      groupCol: String = "lang",
      textCol: String = "text",
      dp: Int = 6
  ): DataFrame = {
    val tf = df.select(col(groupCol), explode(words(col(textCol))).as("__t"))
      .groupBy(col(groupCol), col("__t")).agg(count(lit(1)).as("__c"))
    tf.groupBy(col(groupCol))
      .agg(
        sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(col("__c") * col("__c")).as("__sq"))
      .select(col(groupCol), col("n_tokens"), col("vocab"),
        round((col("n_tokens").cast("double") * col("n_tokens").cast("double"))
          / col("__sq").cast("double"), dp).as("eff_vocab"),
        round(((col("n_tokens").cast("double") * col("n_tokens").cast("double"))
          / col("__sq").cast("double")) / col("vocab").cast("double"), dp).as("eff_ratio"))
  }

  /**
   * BURSTY TERMS — the `k` terms with the highest variance-to-mean ratio
   * of their per-document counts (zeros included): a term that spreads
   * evenly (function words) sits near the Poisson baseline 1; a term
   * whose occurrences CLUMP into few documents scores ≫ 1 — the classic
   * burstiness signal for topical/template vocabulary, complementing
   * [[pmiCollocations]] (which finds sticky pairs) and DF (which can't
   * tell 1-per-doc from 100-in-one-doc). `minCount` drops rare-term
   * noise; ties after rounding break by the term.
   *
   * With zeros included the moments collapse to three exact int64s per
   * term (doc frequency, Σc, Σc²) plus the corpus doc count N:
   * `VMR = (Σc²/N − (Σc/N)²) / (Σc/N)` — a short fixed chain of IEEE ops
   * over identical operands, snapped to 6 dp BEFORE the top-k ordering so
   * the cut is engine-portable. Scale shape: one map-side-combined
   * `(doc, term)` count, one per-term aggregation, a `TakeOrdered` top-k;
   * N is one bounded scalar.
   */
  def burstyTerms(
      df: DataFrame,
      k: Int,
      minCount: Long = 5L,
      textCol: String = "text",
      idCol: String = "doc_id",
      dp: Int = 6
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val n = df.count()
    require(n > 0, "empty corpus")
    val tf = df.select(col(idCol), explode(words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("__c"))
    val nD   = lit(n.toDouble)
    val mean = col("__tot").cast("double") / nD
    val exsq = col("__sq").cast("double") / nD
    tf.groupBy(col("term"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__c")).as("__tot"),
        sum(col("__c") * col("__c")).as("__sq"))
      .filter(col("__tot") >= minCount)
      .select(col("term"), col("n_docs"), col("__tot").as("total"),
        round((exsq - mean * mean) / mean, dp).as("burstiness"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(k)
  }

  /**
   * TOKEN-DISTRIBUTION SHIFT between two corpus slices — add-1-smoothed
   * KL divergence both ways plus the symmetric Jensen–Shannon divergence
   * over the union vocabulary: the one-row drift check that catches a
   * train/val split leaning on different domains, a crawl snapshot
   * drifting from its predecessor, or a filtered subset losing a
   * register. JS is bounded by ln 2, so it doubles as a normalized
   * 0..0.693 score; the KL asymmetry says WHICH side holds mass the
   * other lacks.
   *
   * `p(t) = (c_a(t)+1)/(N_a+V)`, `q(t)` likewise; every count is an exact
   * int64, each per-term contribution a short fixed chain of IEEE ops,
   * and the three totals fold through the ascending-sorted kernel
   * ([[graft.functions.GraftFunctions.foldSum]]) — so the oracle replays
   * the identical sequence. Scale shape: one map-side-combined count per
   * side, one full-outer term join (shuffle on the term — the natural
   * key), one vocab-bounded single-group fold; nothing corpus-sized ever
   * reaches one task (the fold list is V doubles — at web scale cap the
   * vocab upstream, e.g. min-count or hash-bucket terms first).
   */
  def tokenKlShift(
      a: DataFrame,
      b: DataFrame,
      textCol: String = "text",
      dp: Int = 6
  ): DataFrame = {
    GraftFunctions.register(a.sparkSession)
    def counts(df: DataFrame, out: String) =
      df.select(explode(words(col(textCol))).as("__t"))
        .groupBy(col("__t")).agg(count(lit(1)).as(out))
    val joined = counts(a, "__ca").join(counts(b, "__cb"), Seq("__t"), "full_outer")
      .select(coalesce(col("__ca"), lit(0L)).as("__ca"), coalesce(col("__cb"), lit(0L)).as("__cb"))
    val tots = joined.agg(
      sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"), count(lit(1)).as("__v"))
    val p = (col("__ca") + 1L).cast("double") / (col("__na") + col("__v")).cast("double")
    val q = (col("__cb") + 1L).cast("double") / (col("__nb") + col("__v")).cast("double")
    val m = (col("__p") + col("__q")) / 2.0
    joined.crossJoin(tots)
      .select(col("__na"), col("__nb"), col("__v"), p.as("__p"), q.as("__q"))
      .select(col("__na"), col("__nb"), col("__v"),
        (col("__p") * log(col("__p") / col("__q"))).as("__kab"),
        (col("__q") * log(col("__q") / col("__p"))).as("__kba"),
        (col("__p") * log(col("__p") / m)).as("__jp"),
        (col("__q") * log(col("__q") / m)).as("__jq"))
      .groupBy(col("__na").as("n_tokens_a"), col("__nb").as("n_tokens_b"), col("__v").as("n_terms"))
      .agg(
        round(GraftFunctions.foldSum(collect_list(col("__kab"))), dp).as("kl_ab"),
        round(GraftFunctions.foldSum(collect_list(col("__kba"))), dp).as("kl_ba"),
        round(lit(0.5) * GraftFunctions.foldSum(collect_list(col("__jp")))
          + lit(0.5) * GraftFunctions.foldSum(collect_list(col("__jq"))), dp).as("js"))
  }

  /**
   * PMI COLLOCATIONS — the `k` strongest two-word collocations by
   * pointwise mutual information, `ln(p(ab) / (p(a)·p(b)))` with unigram
   * probabilities over the token total `T` and bigram probability over
   * the bigram total `N`: the classic collocation/multi-word-expression
   * miner (raw bigram counts surface "of the"; PMI surfaces "machine
   * learning"). `minCount` drops the rare-pair noise PMI is famously
   * fragile to. Ties after 4 dp rounding break by the gram text.
   *
   * Scale shape: bigram counts are ONE map-side-combined aggregation
   * (same shifted-`zip_with` build as [[topNgrams]]); the two unigram
   * joins shuffle on the word — the natural key; `T` and `N` are one
   * row-local doc-level aggregate broadcast in; the global top-k is
   * `TakeOrderedAndProject`. The PMI ratio is a fixed left-associated
   * chain of IEEE ops over exact integer-valued doubles, so both engines
   * compute identical bits into the final `ln` (`ln`/`round` at 4 dp is
   * the same accepted-residual class as the BM25/tf-idf gates).
   */
  def pmiCollocations(
      df: DataFrame,
      k: Int,
      minCount: Long = 5L,
      textCol: String = "text"
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val toks  = words(col(textCol))
    val glen  = greatest(size(toks) - 1, lit(0))
    val grams = zip_with(slice(toks, lit(1), glen), slice(toks, lit(2), glen),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    // T (tokens) and N (bigrams) from one row-local doc aggregate
    val totals = df.select(size(toks).cast("long").as("t"), glen.cast("long").as("g"))
      .agg(sum(col("t")).as("T"), sum(col("g")).as("N"))
    val uni = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val big = df.select(explode(grams).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    // fixed evaluation order: (((n_ab * T) * T) / ((N * n_a) * n_b))
    val ratio = (col("n_ab").cast("double") * col("T") * col("T")) /
      (col("N").cast("double") * col("n_a") * col("n_b"))
    big
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", col("w1"), col("w2")).as("ngram"), col("n_ab"),
        round(log(ratio), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("ngram"))
      .limit(k)
  }

  /**
   * VOCABULARY STATS per group — document count, token count, distinct
   * vocabulary size and the type-token ratio: the corpus-health panel
   * behind diversity monitoring (a collapsing TTR flags boilerplate
   * flooding a language/source).
   *
   * TTR is emitted as integer parts-per-million (`vocab·10⁶ div total`) —
   * pure int64 arithmetic, bit-identical across engines, no float
   * rounding anywhere (a 6 dp rounded ratio of two counts CAN sit exactly
   * on a decimal half, where string-based and binary round() split).
   *
   * ONE shuffle of the token stream: the two distincts (doc ids, tokens)
   * partial-aggregate map-side under Expand. Exact distincts keep the
   * oracle replayable; at an unbounded 100 TB vocabulary the same call
   * shape switches to `approx_count_distinct` via `approx = true`.
   */
  def vocabStats(
      df: DataFrame,
      groupCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      approx: Boolean = false
  ): DataFrame = {
    val toks = df.select(col(groupCol), col(idCol), explode(words(col(textCol))).as("tok"))
    def dist(c: String) =
      if (approx) approx_count_distinct(col(c)) else count_distinct(col(c))
    toks.groupBy(col(groupCol))
      .agg(
        dist(idCol).as("n_docs"),
        count(lit(1)).as("total_tokens"),
        dist("tok").as("vocab"))
      .withColumn("ttr_ppm", expr("(vocab * 1000000L) div total_tokens"))
  }

  /**
   * CORPUS TOP-K N-GRAMS — the `k` most frequent word `n`-grams across the
   * whole corpus (ties broken by the gram text). The corpus-statistics
   * primitive behind boilerplate detection, template mining and
   * vocabulary/BPE seeding.
   *
   * Scale shape: per-doc gram lists come from an array `zip_with` of
   * shifted `slice`s (pure codegen, no self-join, docs shorter than `n`
   * contribute nothing), the count is ONE map-side-combined aggregation
   * on the gram, and the global top-k is `TakeOrderedAndProject` — never
   * a single-partition rank window over the full vocabulary. Counts are
   * integers; nothing to round.
   */
  def topNgrams(
      df: DataFrame,
      n: Int,
      k: Int,
      textCol: String = "text"
  ): DataFrame = {
    require(n >= 2, "n must be at least 2 (use tokenStats for unigrams)")
    require(k > 0, "k must be positive")
    val toks  = words(col(textCol))
    // docs shorter than n tokens yield an empty gram list (slice rejects
    // negative lengths, so clamp at zero — explode then drops the row)
    val glen  = greatest(size(toks) - (n - 1), lit(0))
    // gram i = tokens[i..i+n-1]: fold zip_with over the n-1 shifted views
    val grams = (2 to n).foldLeft(slice(toks, lit(1), glen)) {
      case (acc, off) => zip_with(acc, slice(toks, lit(off), glen),
        (a, b) => concat_ws(" ", a, b))
    }
    df.select(explode(grams).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram"))
      .limit(k)
  }

  /**
   * BPE FIRST-MERGE PAIR COUNTS — the corpus statistic a byte-pair-
   * encoding tokenizer trainer computes each merge round (Sennrich et al.
   * 2016, "Neural Machine Translation of Rare Words with Subword Units"):
   * the frequency of every ADJACENT CHARACTER PAIR inside whitespace
   * words, over the whole corpus. The top pair is the first merge; a
   * trainer loop re-runs this on the re-segmented corpus (driver-side
   * iteration, one such aggregation per round — this op is that round).
   *
   * Scale shape: per row, one `transform(sequence(...))` builds the
   * word's length−1 pairs in place (codegen, no UDF); the only shuffle is
   * the map-side-combined pair count — the same bounded-key aggregation
   * as [[topNgrams]] (the pair domain is ≤ |alphabet|², tiny). Top-k
   * orders by `(count desc, pair)` so the cut is deterministic.
   */
  /**
   * ZIPF FIT — the log-log OLS line through the top-`n` term frequencies
   * (`ln(freq) ≈ intercept + slope·ln(rank)`): natural corpora sit near
   * slope ≈ −1 (Zipf's law); a badly skewed or synthetic corpus drifts
   * off it, so the slope is a one-number corpus-health signal next to
   * [[vocabulary]] coverage.
   *
   * Scale shape: one map-side-combined term count, a distributed top-n
   * (TakeOrdered — never a global rank window), then ALL float work
   * happens inside one collected n-row array: ranks assign by sorted
   * position and every OLS sum is an ordered in-array fold, so both
   * engines add the same ln terms in the same order (the sorted-fold
   * portability rule) and the slope/intercept doubles agree exactly
   * before the final 6 dp snap.
   */
  /**
   * HEAPS' LAW FIT — vocabulary growth `V(N) = k·N^β` over the corpus in
   * doc-id order: the standard "how fast does this corpus stop teaching
   * new words" curve (β ≈ 0.4–0.6 for natural text; a β near 1 means
   * near-random token soup, near 0 a closed template vocabulary) — the
   * companion diagnostic to [[zipfFit]]'s frequency slope, and the number
   * a tokenizer-vocab-size or dedup-aggressiveness decision reads.
   *
   * The curve samples at `bins` exact-integer doc-id checkpoints
   * `c_j = ⌊j·maxId/bins⌋`: `N_j` = tokens in docs ≤ c_j, `V_j` =
   * distinct terms whose FIRST doc ≤ c_j. β/ln k fit by least squares
   * over the (ln N_j, ln V_j) points (positive-N checkpoints only, folded
   * in ascending-bin order — the oracle replays the IEEE sequence).
   * Emits one row: checkpoint count, total tokens/vocab, β, ln k.
   *
   * Scale shape: NOTHING cumulates per-doc — per-doc token counts and
   * per-term first-occurrence docs histogram into `bins` buckets (two
   * map-side-combined aggregations over a bounded key space), and the
   * running sums walk the ≤`bins`-row histogram. The checkpoint lattice
   * rides as a broadcast one-row max; no global window over docs, ever.
   */
  def heapsFit(
      df: DataFrame,
      bins: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(bins >= 2, "bins must be >= 2")
    val zero = "CAST(0.0 AS DOUBLE)"
    def foldSum(terms: String) = s"aggregate($terms, $zero, (a, x) -> a + x)"
    // bin of a doc id: smallest j in 1..bins with floor(j*maxId/bins) >= id
    def binOf(c: Column): Column =
      size(filter(expr(s"transform(sequence(1, $bins), j -> (j * __m) div $bins)"),
        x => x < c)) + 1
    val mx = df.agg(max(col(idCol).cast("long")).as("__m"))
    val tok = df.select(col(idCol).cast("long").as("__d"),
        size(filter(words(col(textCol)), w => length(w) > 0)).cast("long").as("__nt"))
      .crossJoin(broadcast(mx))
      .groupBy(binOf(col("__d")).as("__bin"))
      .agg(sum(col("__nt")).as("__t"))
    val voc = df.select(col(idCol).cast("long").as("__d"), explode(words(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w"))
      .agg(min(col("__d")).as("__fd"))
      .crossJoin(broadcast(mx))
      .groupBy(binOf(col("__fd")).as("__bin"))
      .agg(count(lit(1)).as("__v"))
    val base = df.sparkSession.range(1, bins + 1).select(col("id").cast("int").as("__bin"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__bin")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = base
      .join(tok, Seq("__bin"), "left").join(voc, Seq("__bin"), "left")
      .select(col("__bin"),
        sum(coalesce(col("__t"), lit(0L))).over(w).as("__N"),
        sum(coalesce(col("__v"), lit(0L))).over(w).as("__V"))
      .filter(col("__N") > 0L && col("__V") > 0L)
    curve
      .agg(array_sort(collect_list(struct(col("__bin"), col("__N"), col("__V")))).as("__pts"))
      .withColumn("__xs", expr("transform(__pts, p -> ln(p.__N))"))
      .withColumn("__ys", expr("transform(__pts, p -> ln(p.__V))"))
      .withColumn("__len", size(col("__pts")).cast("double"))
      .withColumn("__sx", expr(foldSum("__xs")))
      .withColumn("__sy", expr(foldSum("__ys")))
      .withColumn("__sxy", expr(foldSum("zip_with(__xs, __ys, (x, y) -> x * y)")))
      .withColumn("__sxx", expr(foldSum("transform(__xs, x -> x * x)")))
      .withColumn("__beta", expr(
        "(__len * __sxy - __sx * __sy) / (__len * __sxx - __sx * __sx)"))
      .select(
        col("__len").cast("long").as("n_points"),
        expr("element_at(__pts, -1).__N").as("n_tokens"),
        expr("element_at(__pts, -1).__V").as("n_vocab"),
        round(col("__beta"), 6).as("beta"),
        round(expr("(__sy - __beta * __sx) / __len"), 6).as("ln_k"))
  }

  def zipfFit(
      df: DataFrame,
      n: Int = 100,
      textCol: String = "text"
  ): DataFrame = {
    val zero = "CAST(0.0 AS DOUBLE)"
    def foldSum(terms: String) = s"aggregate($terms, $zero, (a, x) -> a + x)"
    df.select(explode(words(col(textCol))).as("__t"))
      .filter(length(col("__t")) > 0)
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("__t"))
      .limit(n)
      // negated count in the sort key: array_sort ascending == count desc
      .agg(array_sort(collect_list(struct((-col("__n")).as("__neg"), col("__t"), col("__n"))))
        .as("__top"))
      .withColumn("__ns", expr("transform(__top, p -> p.__n)"))
      .withColumn("__len", size(col("__ns")).cast("double"))
      // Spark lambda index is 0-based: rank = i + 1
      .withColumn("__sx", expr(foldSum("transform(__ns, (v, i) -> ln(i + 1))")))
      .withColumn("__sy", expr(foldSum("transform(__ns, v -> ln(v))")))
      .withColumn("__sxy", expr(foldSum("transform(__ns, (v, i) -> ln(i + 1) * ln(v))")))
      .withColumn("__sxx", expr(foldSum("transform(__ns, (v, i) -> ln(i + 1) * ln(i + 1))")))
      .withColumn("__slope", expr(
        "(__len * __sxy - __sx * __sy) / (__len * __sxx - __sx * __sx)"))
      .select(
        col("__len").cast("long").as("n_terms"),
        round(col("__slope"), 6).as("slope"),
        round(expr("(__sy - __slope * __sx) / __len"), 6).as("intercept"))
  }

  def bpePairCounts(
      df: DataFrame,
      k: Int = 50,
      textCol: String = "text"
  ): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    df
      .select(explode(words(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 2)
      // compiled bigram enumeration — the transform lambda ran interpreted
      // per word OCCURRENCE, corpus-wide (§4); same code-point substrings
      .select(explode(GraftFunctions.charBigrams(col("__w"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /**
   * BPE MERGE TRAINING (Sennrich et al. 2016, "Neural Machine Translation
   * of Rare Words with Subword Units"): starting from character tokens,
   * repeatedly merge the corpus-wide most frequent adjacent token pair —
   * `merges` rounds, ties to the lexicographically smallest (lhs, rhs).
   * Returns the learned merge table `(step, lhs, rhs, pair_count)` — the
   * tokenizer artifact itself ([[bpePairCounts]] is just round 1's
   * histogram). Merging is the standard greedy left-to-right
   * non-overlapping scan within word boundaries.
   *
   * Scale shape: training runs over the WORD HISTOGRAM, never the corpus
   * — the classic BPE optimization: ONE corpus explode+count builds
   * `(word, cnt)`, and each merge round then costs one pair explode +
   * partial-aggregated weighted count over DISTINCT word forms
   * (vocabulary-sized, corpus-size-independent) plus a TakeOrdered(1).
   * Per-round vocab frames pin and free like the other bounded
   * iterations. Counts are exact int64 and the tie-break total, so the
   * oracle's unrolled MATERIALIZED rounds reproduce the exact merge
   * sequence; the greedy merge itself is a sequential fold (`aggregate`
   * HOF here, `list_reduce` there) over identical token lists.
   */
  def bpeTrain(df: DataFrame, merges: Int = 8, textCol: String = "text"): DataFrame = {
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    require(merges >= 1 && merges <= 64, "merges must be in [1,64]")
    val spark = df.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    // the WORD HISTOGRAM is the only materialized state: each round's
    // tokenization is replayed from the character tokens by the compiled
    // graft_bpe_pairs kernel (identical greedy pass per learned merge —
    // sequential replay ≡ the former incremental per-round fold), so a
    // round is ONE aggregation job over this pinned frame instead of an
    // interpreted pair-explode + fold + per-round localCheckpoint (§4,
    // §2.6: 2 jobs/round → 1, and the lambdas leave the interpreter)
    val wh = df.select(explode(words(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 1)
      .groupBy(col("__w")).agg(count(lit(1)).as("cnt"))
      .pinned
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= merges && !dry) {
      val soFar = learned.toSeq.map(t => (t._2, t._3))
      val top = wh
        .select(explode(GraftFunctions.bpePairs(col("__w"), soFar)).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r")).agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1)
        .collect()
      if (top.isEmpty) dry = true // every word fully merged: no pair left to learn
      else {
        val (x, y, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((step.toLong, x, y, n))
      }
      step += 1
    }
    Checkpoints.free(wh)
    learned.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** One greedy left-to-right non-overlapping merge pass of the pair (x, y)
    * over a token array — the scan [[bpeTrain]] applies per learned merge
    * and [[bpeEncode]] replays at tokenization time. Carries the last
    * pending token; an (x, y) adjacency fuses into the pending slot (so the
    * fused token can pair again on the NEXT pass, never within this one);
    * "" is the no-pending sentinel. */
  // package-visible: the portable HOF reference form the compiled
  // graft_bpe_apply/graft_bpe_pairs kernels replicate (bit-parity spec)
  private[graft] def greedyMergeFold(toks: Column, x: String, y: String): Column = {
    val zero = struct(array().cast("array<string>").as("out"), lit("").as("prev"))
    aggregate(toks, zero,
      (acc, t) => when(acc.getField("prev") === lit(x) && t === lit(y),
          struct(acc.getField("out").as("out"), lit(x + y).as("prev")))
        .when(acc.getField("prev") === lit(""),
          struct(acc.getField("out").as("out"), t.as("prev")))
        .otherwise(struct(concat(acc.getField("out"), array(acc.getField("prev"))).as("out"),
          t.as("prev"))),
      acc => concat(acc.getField("out"), array(acc.getField("prev"))))
  }

  /**
   * BPE ENCODE — apply a learned [[bpeTrain]] merge table to tokenize the
   * corpus, completing the tokenizer loop (train → encode): token counts
   * become REAL subword-BPE counts instead of whitespace words. Each merge
   * applies in learned order with the identical greedy left-to-right
   * non-overlapping scan training used, so a word's final tokenization is
   * exactly the training vocabulary's end state for that word form.
   * Emits one row per document: `(doc_id, n_words, n_tokens)`.
   *
   * Scale shape: the merge replay runs over the DISTINCT word forms
   * (vocabulary-sized, corpus-size-independent — the same histogram trick
   * training uses), one bounded pinned frame per merge; the corpus is
   * touched exactly once, by the word explode that joins each occurrence
   * to its form's token length (AQE broadcasts the vocab side when it
   * fits) and map-side-combines the per-document sum. All-integer output.
   */
  def bpeEncode(
      df: DataFrame,
      merges: Seq[(String, String)],
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    import graft.pipeline.Checkpoints.PinOps
    // zero merges is legal: a corpus whose training dried immediately (all
    // single-char words) encodes as plain character tokenization — the
    // identity replay, matching the oracle's dry-round vocab fallback
    require(merges.size <= 64, "need 0..64 learned merges")
    GraftFunctions.register(df.sparkSession)
    val corpusWords = df.select(col(idCol), explode(words(col(textCol))).as("__w"))
      .filter(length(col("__w")) >= 1)
    // the full merge sequence replays per DISTINCT word form in one
    // compiled kernel pass (identical greedy scans in learned order), so
    // the vocabulary pins ONCE — the former shape pinned once per merge
    // (§4, §2.6: merges+1 localCheckpoint jobs → 1)
    val vocab = corpusWords.select(col("__w")).distinct()
      .withColumn("__wt",
        size(GraftFunctions.bpeApply(col("__w"), merges)).cast("long"))
      .pinned
    corpusWords
      .join(vocab, "__w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__wt")).as("n_tokens"))
  }

  // ---- multinomial Naive Bayes (the corpus-scale linear classifier) -----

  /** `(doc_id, term)` token relation under the whitespace convention,
    * empty tokens dropped — the shared input of the NB family. */
  private def nbToks(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), explode(words(col(textCol))).as("__term"))
      .filter(length(col("__term")) >= 1)

  /**
   * MULTINOMIAL NAIVE BAYES — train per-label token counts from a labeled
   * column (`lang`, a quality flag, a source tag, ...): the classic cheap
   * linear classifier behind corpus-scale language/quality routing (cf.
   * the fastText gates of CCNet/CC-MultiLingual pipelines; NB is its
   * aggregation-only cousin — ONE groupBy trains it). Returns the top
   * `topK` highest-count terms per label (count desc, term asc — the
   * inspectable head of the model); the full count relation feeds
   * [[nbConfusion]] internally.
   *
   * Scale shape: one map-side-combined `(label, term)` count — shuffle is
   * vocab×labels-sized, never corpus-sized; the top-K is a
   * `WindowGroupLimit`-pruned rank per label.
   */
  def nbModel(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      topK: Int = 20
  ): DataFrame = {
    val cnt = nbToks(df, textCol, idCol)
      .join(df.select(col(idCol), col(labelCol)), idCol)
      .groupBy(col(labelCol), col("__term").as("term"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(labelCol)).orderBy(col("n").desc, col("term"))
    cnt.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(labelCol), col("term"), col("n"), col("rank"))
  }

  /**
   * NB self-prediction confusion matrix: train on the labeled corpus,
   * score every document against every label with Laplace-1 smoothing,
   * and roll up `(true label, argmax label, n)` — the model-quality
   * readout (the diagonal is the self-consistency of the labeling; heavy
   * off-diagonal cells flag confusable label pairs or mislabeled slices).
   *
   * The smoothed log-likelihood is computed in its DECOMPOSED form —
   * absent `(label, term)` cells contribute `ln(0+1) = 0` to the count
   * part, and the smoothing denominator factors out of the term sum:
   *
   * `score(d, l) = ln(nd_l) − ln(N) + Σ_{t: c_{l,t}>0} tf_t·ln(c_{l,t}+1)
   *                − dl_d · ln(tot_l + V)`
   *
   * so only NON-ZERO model cells are ever materialized: doc term
   * frequencies inner-join the count relation (a vocab-keyed shuffle of
   * skinny int rows), and the doc×label grid appears only as per-doc
   * lengths crossed with the tiny label-stats broadcast. A naive
   * `dtf × labels LEFT JOIN counts` grid is |dtf|·L rows of mostly
   * smoothing-only cells — this shape skips them entirely.
   *
   * Arithmetic is cross-engine-portable: every ln argument is an exact
   * int64, the per-term weight is one fixed multiply, the per-(doc,
   * label) count sum is the ascending-sorted fold ([[graft.functions
   * .GraftFunctions.foldSum]]), and the prior/length terms compose
   * left-to-right after it; argmax ties break by label asc on the
   * UNROUNDED score. Labels must be low-cardinality (it is a
   * CLASSIFIER — guarded); the only driver values are the two corpus
   * scalars (N docs, V vocab).
   */
  /** shared NB scoring chain of [[nbConfusion]] / [[nbMarginCalibration]]:
    * one row per (doc, label) with the Laplace-1 multinomial log-score in
    * the decomposed spelling both oracles replay. */
  private def nbScored(
      df: DataFrame,
      labelCol: String,
      textCol: String,
      idCol: String,
      maxLabels: Int
  ): DataFrame = nbScoredImpl(df, labelCol, textCol, idCol, maxLabels, shared = false)

  /** [[nbScored]] materialized for SHARING across consumers in one session
    * (the [[graft.pipeline.Dedup.minhashLshPairsShared]] discipline): the
    * scored relation persists with FULL LINEAGE and no pins, so consumers'
    * `Checkpoints.free` calls are no-ops on it — one training + scoring
    * pass serves the confusion matrix AND the calibration curve. At 100 TB
    * the equivalent is persisting the scored table once as a model-eval
    * artifact. Release with `scored.unpersist()` to retire it. */
  def nbScoredShared(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      maxLabels: Int = 100
  ): DataFrame = nbScoredImpl(df, labelCol, textCol, idCol, maxLabels, shared = true)

  private def nbScoredImpl(
      df: DataFrame,
      labelCol: String,
      textCol: String,
      idCol: String,
      maxLabels: Int,
      shared: Boolean
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val lab = df.select(col(idCol), col(labelCol).as("__lab"))
    val tk  = nbToks(df, textCol, idCol)
    val cnt0 = tk.join(lab, idCol)
      .groupBy(col("__lab"), col("__term")).agg(count(lit(1)).as("__c"))
    val cnt = if (shared) cnt0.persist(mad) else cnt0.pinned
    // per-label totals + doc counts: tiny (≤ labels rows); N and V are the
    // two bounded driver scalars
    val tot = cnt.groupBy(col("__lab")).agg(sum(col("__c")).as("__tot"))
    val nd  = df.groupBy(col(labelCol).as("__lab")).agg(count(lit(1)).as("__nd"))
    val stats0 = tot.join(nd, "__lab")
    val stats = if (shared) stats0.persist(mad) else stats0.pinned
    require(stats.count() <= maxLabels,
      s"nbConfusion: label cardinality exceeds $maxLabels — not a classification column")
    val nDocs = df.count()
    val vocab = tk.agg(countDistinct(col("__term"))).head().getLong(0)
    val dtf = tk.groupBy(col(idCol), col("__term")).agg(count(lit(1)).as("__tf"))
    // count part: only non-zero (label, term) cells — an INNER join on
    // term (absent cells contribute ln(1) = 0), folded per (doc, label)
    val wt = col("__tf").cast("double") * log((col("__c") + lit(1L)).cast("double"))
    val hits = dtf.join(cnt, "__term")
      .groupBy(col(idCol), col("__lab"))
      .agg(graft.functions.GraftFunctions.foldSum(collect_list(wt)).as("__fold"))
    // full doc × label grid: per-doc token length crossed with the tiny
    // stats broadcast; a label with no term hits still gets its prior and
    // smoothing-denominator terms (fold defaults to 0.0 — the empty fold)
    val dl = dtf.groupBy(col(idCol)).agg(sum(col("__tf")).as("__dl"))
    val scored = dl.crossJoin(broadcast(stats))
      .join(hits, Seq(idCol, "__lab"), "left")
      .withColumn("__score",
        log(col("__nd").cast("double")) - log(lit(nDocs.toDouble)) +
          coalesce(col("__fold"), lit(0.0)) -
          col("__dl").cast("double") * log((col("__tot") + lit(vocab)).cast("double")))
      .select(col(idCol), col("__lab"), col("__score"))
    if (!shared) scored
    else {
      val out = scored.persist(mad)
      out.count() // materialize once; every consumer scans the cached relation
      cnt.unpersist(false); stats.unpersist(false) // lineage intact
      out
    }
  }

  def nbConfusion(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      maxLabels: Int = 100
  ): DataFrame =
    nbConfusionFrom(nbScored(df, labelCol, textCol, idCol, maxLabels), df, labelCol, idCol)

  /** [[nbConfusion]] over a PREBUILT scored relation ([[nbScoredShared]])
    * — the shared-scoring path. */
  def nbConfusionFrom(
      scored: DataFrame,
      df: DataFrame,
      labelCol: String = "lang",
      idCol: String = "doc_id"
  ): DataFrame = {
    val lab    = df.select(col(idCol), col(labelCol).as("__lab"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__score").desc, col("__lab"))
    val pred = scored.withColumn("__r", row_number().over(w)).filter(col("__r") === 1)
      .select(col(idCol), col("__lab").as("pred"))
    // the pins (cnt, stats) stay in the result's lineage — the caller
    // releases them via Checkpoints.free(result) after its last action
    pred.join(lab, idCol)
      .groupBy(col("__lab").as(labelCol), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /**
   * NB MARGIN-CALIBRATION CURVE — does the classifier's CONFIDENCE mean
   * anything? Per margin bin (`margin` = top log-score minus runner-up,
   * binned at `binWidth`, top bin open-ended), the prediction accuracy
   * against the true label: a calibrated model's accuracy rises with the
   * bin; a flat curve says the margin carries no signal and confidence-
   * gated routing (auto-accept above a margin) is unsafe. Margin, not
   * softmax: `exp` is not IEEE-portable across engines, the log-score
   * difference is — every margin is the same fixed double chain the
   * `tx_nbconf` gate already replays, so `floor(margin / binWidth)` lands
   * identically. One windowed top-2 per doc + one bin aggregation.
   */
  def nbMarginCalibration(
      df: DataFrame,
      labelCol: String = "lang",
      textCol: String = "text",
      idCol: String = "doc_id",
      binWidth: Double = 0.25,
      bins: Int = 8,
      maxLabels: Int = 100
  ): DataFrame =
    nbMarginCalibrationFrom(nbScored(df, labelCol, textCol, idCol, maxLabels), df,
      labelCol, idCol, binWidth, bins)

  /** [[nbMarginCalibration]] over a PREBUILT scored relation
    * ([[nbScoredShared]]) — the shared-scoring path. */
  def nbMarginCalibrationFrom(
      scored: DataFrame,
      df: DataFrame,
      labelCol: String = "lang",
      idCol: String = "doc_id",
      binWidth: Double = 0.25,
      bins: Int = 8
  ): DataFrame = {
    require(binWidth > 0.0, "binWidth must be positive")
    require(bins >= 2, "bins must be >= 2")
    val w  = Window.partitionBy(col(idCol)).orderBy(col("__score").desc, col("__lab"))
    // ONE window pass, then a conditional-aggregation PIVOT of the two
    // rank rows onto one row per doc: the former rank-1 ⋈ rank-2
    // self-join computed the whole window subtree TWICE (each branch its
    // own exchange + sort) and paid a merge join. The groupBy inherits
    // the window's (id) partitioning and its (id, …) sort order, so the
    // pivot plans as a SortAggregate with NO new exchange and NO new
    // sort; min(when(r = …)) over exactly one non-null row per doc is
    // that row's value verbatim. Docs with a single scored label had no
    // rank-2 row — the isNotNull filter replays the former inner join.
    val rk = scored.withColumn("__r", row_number().over(w)).filter(col("__r") <= 2)
    val top2 = rk.groupBy(col(idCol))
      .agg(
        min(when(col("__r") === 1, col("__lab"))).as("__pred"),
        min(when(col("__r") === 1, col("__score"))).as("__s1"),
        min(when(col("__r") === 2, col("__score"))).as("__s2"))
      .filter(col("__s2").isNotNull)
    val lab = df.select(col(idCol), col(labelCol).as("__true"))
    top2.join(lab, idCol)
      .select(
        least(floor((col("__s1") - col("__s2")) / binWidth), lit(bins - 1L))
          .cast("long").as("bin"),
        when(col("__pred") === col("__true"), 1L).otherwise(0L).as("__ok"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__ok")).as("n_correct"))
      .select(col("bin"),
        round(col("bin").cast("double") * binWidth, 6).as("bin_lo"),
        col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs").cast("double"), 6)
          .as("accuracy"))
  }

  /**
   * TEXTRANK corpus keywords (Mihalcea & Tarau 2004): PageRank over the
   * word co-occurrence graph — adjacent-token pairs, undirected,
   * frequency-thresholded — surfaces the corpus's structurally central
   * vocabulary (terms that co-occur with many other frequent terms),
   * which raw counts and tf-idf both miss. The graph is BOUNDED by
   * construction: edges need `minCount`+ occurrences and only the top
   * `maxEdges` by (count desc, pair) enter the walk, so the PageRank
   * iteration runs on a ≤`maxEdges` local relation no matter the corpus
   * size.
   *
   * Scale shape: ONE corpus pass builds row-local adjacent pairs (no
   * shuffle until the pair count), one map-side-combined count, a global
   * top-`maxEdges` TakeOrdered. The kept edges are a BOUNDED model (like
   * a trained BPE merge table), so the PageRank recurrence runs as a
   * driver fold over the collected graph — the same per-round arithmetic
   * as [[graft.operators.Graph.pageRank]] (`round((1−d) + d·Σ r/deg, 6)`
   * per node per round, the 6-dp snap bridging summation orders exactly
   * as the distributed/oracle pair does) without 10 rounds × 2 Spark
   * jobs of 300-row frames. Returns the top `k` terms as
   * `(term, rank, pos)`.
   */
  def textRankKeywords(
      df: DataFrame,
      minCount: Long = 5L,
      maxEdges: Int = 300,
      iterations: Int = 10,
      damping: Double = 0.85,
      k: Int = 30,
      textCol: String = "text"
  ): DataFrame = {
    require(maxEdges >= 1 && maxEdges <= 100000, "maxEdges must be in [1, 100000]")
    val spark = df.sparkSession
    import spark.implicits._
    // undirected edges as canonical "lo hi" strings built in-place with
    // the [[topNgrams]] zip_with idiom (invalid pairs — empties,
    // self-loops — null out inside the lambda and drop post-explode);
    // tie-break on the canonical string, mirrored by the oracle
    val toks = words(col(textCol))
    val glen = greatest(size(toks) - 1, lit(0))
    val es = zip_with(slice(toks, lit(1), glen), slice(toks, lit(2), glen),
      (a, b) => when(length(a) >= 1 && length(b) >= 1 && a =!= b,
        when(a <= b, concat_ws(" ", a, b)).otherwise(concat_ws(" ", b, a))))
    val kept = df.select(explode(es).as("e"))
      .filter(col("e").isNotNull)
      .groupBy(col("e")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy(col("n").desc, col("e")).limit(maxEdges)
      .select(col("e"))
      .collect().map { r =>
        val s = r.getString(0); val i = s.indexOf(' ')
        (s.substring(0, i), s.substring(i + 1))
      }.toSeq
    val und     = kept.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg     = und.groupBy(_._1).map { case (n, es) => n -> es.size.toDouble }
    val nodes   = und.map(_._1).distinct.sorted
    val inbound = und.groupBy(_._2).map { case (v, es) => v -> es.map(_._1).sorted }
    def snap6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var rank = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iterations)
      rank = nodes.map { v =>
        val c = inbound.getOrElse(v, Nil).foldLeft(0.0)((acc, u) => acc + rank(u) / deg(u))
        v -> snap6(1.0 - damping + damping * c)
      }.toMap
    rank.toSeq.sortBy { case (t, r) => (-r, t) }.take(k).zipWithIndex
      .map { case ((t, r), i) => (t, r, (i + 1).toLong) }
      .toDF("term", "rank", "pos")
  }

  // ---- readability ------------------------------------------------------

  /**
   * FLESCH READING EASE panel per document — the classic readability
   * screen (`206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`),
   * with the standard cheap proxies: sentences = terminal-punctuation
   * count (min 1), syllables = vowel-group runs `[aeiouy]+` per lowercased
   * word (min 1 per word). Complements [[qualityScore]]/[[gopherRules]]:
   * those catch boilerplate and gibberish, this grades prose complexity
   * (a low-readability slice is jargon/code-soup; an implausibly high one
   * is listicle/menu text).
   *
   * Scale shape: fully row-local — two `regexp_replace` passes over the
   * lowered text count total vowel groups (vowel runs cannot span the
   * space separator, so the full-text count equals the per-word sum), a
   * filtered word array counts the vowel-less words (each contributes its
   * `min 1`), and the one float expression is computed at the end from
   * exact int64 counts. No shuffle, no explode.
   */
  def readability(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"
  ): DataFrame = {
    val lowered = lower(col(textCol))
    val toksF   = filter(split(lowered, " "), w => length(w) >= 1)
    val nw      = size(toksF).cast("long")
    val grp = (length(regexp_replace(lowered, "[aeiouy]+", "V")) -
      length(regexp_replace(lowered, "[aeiouy]+", ""))).cast("long")
    val novowel = size(filter(toksF, w => !w.rlike("[aeiouy]"))).cast("long")
    val nsents  = greatest(
      (length(col(textCol)) - length(regexp_replace(col(textCol), "[.!?]", ""))).cast("long"),
      lit(1L))
    df.select(
        col(idCol),
        nw.as("n_words"),
        nsents.as("n_sents"),
        (grp + novowel).as("n_syll"))
      .filter(col("n_words") >= 1)
      .withColumn("flesch",
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sents").cast("double")) -
          lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")), 4))
  }
}
