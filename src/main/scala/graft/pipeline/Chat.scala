package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

/**
 * Instruction / SFT conversation curation — the chat-structured face of
 * the corpus pipeline. Conversations travel either as a JSON column
 * (`[{"role":…,"content":…}, …]`, the interchange format of every public
 * SFT dataset) or as an exploded TURNS relation
 * `(conv_id, turn_idx, role, content)` with `turn_idx` dense from 1 —
 * [[parseTurns]] converts the former into the latter, everything else
 * operates on turns.
 *
 * Scale shape: every operator is one map-side-combined aggregation or one
 * `conv_id`-partitioned window over the turns relation — no unpartitioned
 * window, no join, nothing corpus-sized on the driver. Token counts are
 * whitespace tokens (the suite's convention, [[TextAnalysis]]); all
 * emitted numerics are BIGINT or 6-dp-rounded ratios of BIGINT sums, so
 * the DuckDB oracle replays them exactly.
 */
object Chat {

  private val turnSchema: ArrayType =
    ArrayType(StructType(Seq(
      StructField("role", StringType), StructField("content", StringType))))

  /** whitespace tokens; `split("", " ")` = one empty token, both engines.
    * NULL content counts 0 — the same net effect as an aggregate skipping
    * the NULL, so exploded and row-local shapes agree. */
  private def nTokens(content: Column): Column =
    coalesce(size(split(content, " ")).cast("long"), lit(0L))

  /**
   * Explode a JSON conversation column into the turns relation.
   * Malformed JSON parses to NULL → zero turns for that row (the
   * conversation simply disappears; count inputs vs distinct output convs
   * to audit). `turn_idx` is 1-based message order.
   */
  def parseTurns(
      df: DataFrame,
      convCol: String = "conversation",
      idCol: String = "conv_id"
  ): DataFrame =
    df.select(col(idCol), posexplode(from_json(col(convCol), turnSchema)).as(Seq("__i", "__t")))
      .select(col(idCol), (col("__i") + 1).cast("long").as("turn_idx"),
        col("__t.role").as("role"), col("__t.content").as("content"))

  /**
   * Structural validation per conversation — the schema gate SFT trainers
   * assume and raw data violates constantly: role alternation (no two
   * consecutive turns from the same role), a `user` opener, at least one
   * `assistant` turn. Emits one row per conversation:
   * `(conv_id, n_turns, first_role, n_violations, has_assistant, valid)`
   * with the flags as BIGINT 0/1 (portable hashing).
   *
   * One `conv_id` window (lag) feeding one aggregation on the same key —
   * a single exchange.
   */
  def validate(turns: DataFrame, idCol: String = "conv_id"): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("turn_idx"))
    turns
      .withColumn("__prev", lag(col("role"), 1).over(w))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_turns"),
        max(when(col("turn_idx") === 1, col("role"))).as("first_role"),
        sum(when(col("role") === col("__prev"), 1L).otherwise(0L)).as("n_violations"),
        max(when(col("role") === "assistant", 1L).otherwise(0L)).as("has_assistant"))
      .withColumn("valid",
        when(col("first_role") === "user" && col("n_violations") === 0 &&
          col("has_assistant") === 1, 1L).otherwise(0L))
  }

  /**
   * Loss-mask statistics per conversation: SFT loss runs over assistant
   * tokens only, so the assistant-token share IS the fraction of each
   * sequence that trains — too low and the batch is mostly masked
   * padding-equivalent, a data-efficiency metric every SFT mix tracks.
   * `(conv_id, n_turns, total_tokens, assistant_tokens, mask_ratio)`;
   * the ratio divides two exact BIGINT sums (6 dp).
   */
  def maskStats(turns: DataFrame, idCol: String = "conv_id"): DataFrame =
    turns
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(nTokens(col("content"))).as("total_tokens"),
        sum(when(col("role") === "assistant", nTokens(col("content"))).otherwise(0L))
          .as("assistant_tokens"))
      .withColumn("mask_ratio",
        round(col("assistant_tokens") / col("total_tokens"), 6))

  /**
   * ROW-LOCAL conversation analysis over a PARSED turns array column —
   * the streaming-safe face of [[validate]] + [[maskStats]]: every
   * signal (turn count, opener, alternation violations, assistant
   * presence/tokens) is a pure higher-order-function projection on the
   * in-row array, so the whole gate is stateless — append mode, no
   * window, no shuffle, scan speed on a 100 TB/day ingest stream. A spec
   * pins it signal-for-signal equal to the exploded-relation operators.
   *
   * Pass a PARSED ATTRIBUTE (`withColumn("t", from_json(…))` then
   * `col("t")`), not the `from_json` expression inline — Catalyst inlines
   * aliased expressions into each consumer, so an inline expression would
   * re-parse the JSON once per signal (the same alias-inlining trap
   * [[TextAnalysis.qualityCols]] documents for its fold state).
   *
   * Returns one struct column: `n_turns, first_role, n_violations,
   * has_assistant, valid` (BIGINT flags) and the two token sums. NULL
   * turns (malformed JSON) yield NULL fields → `valid` is 0.
   */
  def conversationCols(turns: Column): Column = {
    val n = size(turns)
    def tok(t: Column) = nTokens(t.getField("content"))
    // adjacent-pair role equality via shifted slices (one array traversal);
    // guarded: slice length would be -1 on a zero-turn array ("[]" parses
    // to an EMPTY array, not NULL, and must flow through, not throw)
    val pairs = when(n >= 2,
      zip_with(slice(turns, lit(1), n - 1), slice(turns, lit(2), n - 1),
        (a, b) => a.getField("role") === b.getField("role")))
      .otherwise(array().cast("array<boolean>"))
    val nViol        = size(filter(pairs, x => x)).cast("long")
    // get(), not element_at(): ANSI mode throws on index-into-empty, a
    // zero-turn conversation must yield NULL opener (→ valid = 0)
    val firstRole    = get(turns, lit(0)).getField("role")
    val hasAssistant = exists(turns, t => t.getField("role") === lit("assistant"))
    struct(
      n.cast("long").as("n_turns"),
      firstRole.as("first_role"),
      nViol.as("n_violations"),
      when(hasAssistant, 1L).otherwise(0L).as("has_assistant"),
      when(firstRole === "user" && nViol === 0 && hasAssistant, 1L).otherwise(0L).as("valid"),
      aggregate(turns, lit(0L), (acc, t) => acc + tok(t)).as("total_tokens"),
      aggregate(turns, lit(0L),
        (acc, t) => acc + when(t.getField("role") === "assistant", tok(t)).otherwise(0L))
        .as("assistant_tokens"))
  }

  /**
   * Stateless ingest gate for a stream of complete conversation-JSON
   * rows: parse once, keep structurally valid conversations whose
   * loss-mask share clears `minMaskRatio`, emit the row with `n_turns`
   * and the 6-dp `mask_ratio` appended. Works identically on a static
   * frame (the oracle gate) and a streaming one (append mode, no state).
   */
  def chatGateStream(
      stream: DataFrame,
      convCol: String = "conversation",
      idCol: String = "conv_id",
      minMaskRatio: Double = 0.0
  ): DataFrame = {
    val parsed = stream
      .withColumn("__turns", from_json(col(convCol), turnSchema))
      .withColumn("__c", conversationCols(col("__turns")))
    parsed
      .filter(col("__c.valid") === 1L &&
        round(col("__c.assistant_tokens") / col("__c.total_tokens"), 6) >= minMaskRatio)
      .select(col(idCol), col(convCol),
        col("__c.n_turns").as("n_turns"),
        round(col("__c.assistant_tokens") / col("__c.total_tokens"), 6).as("mask_ratio"))
  }

  /**
   * Preference-pair construction for DPO/RLHF-style training: per prompt,
   * the best- and worst-scored candidate become the `(chosen, rejected)`
   * pair, kept only when a real preference exists (distinct candidates,
   * score margin ≥ `minMargin`). Scores should arrive pre-snapped (e.g.
   * 2 dp) so boundary ties are engine-exact.
   *
   * One map-side-combined aggregation: chosen/rejected fall out of
   * `min(struct(...))` orderings (max score tie-broken by smaller
   * candidate id, min score likewise), so a prompt's candidates never
   * need a window or a self-join. Prompts where every candidate scores
   * equal have no preference and drop out (chosen = rejected). NULL
   * scores carry no preference signal and are dropped up front (struct
   * ordering would otherwise rank a NULL field FIRST and poison the
   * whole prompt's margin).
   */
  def preferencePairs(
      cands: DataFrame,
      promptCol: String = "prompt_id",
      candCol: String = "cand_id",
      scoreCol: String = "score",
      minMargin: Double = 0.0
  ): DataFrame =
    cands
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(promptCol))
      .agg(
        min(struct((-col(scoreCol)).as("s"), col(candCol).as("c"))).as("__best"),
        min(struct(col(scoreCol).as("s"), col(candCol).as("c"))).as("__worst"),
        count(lit(1)).as("n_cands"))
      .select(col(promptCol), col("n_cands"),
        col("__best.c").as("chosen_id"), col("__worst.c").as("rejected_id"),
        (-col("__best.s") - col("__worst.s")).as("margin"))
      .filter(col("chosen_id") =!= col("rejected_id") && col("margin") >= minMargin)

  /**
   * PREFERENCE-PAIR LENGTH-BIAS AUDIT — over a [[preferencePairs]] result
   * joined to per-candidate lengths: how often the CHOSEN side is simply
   * the LONGER one, and the mean length gap. The classic DPO data
   * pathology (reward models prefer verbosity; a pair set whose
   * chosen-longer rate is far from 0.5 trains a length prior, not a
   * quality prior) caught BEFORE training. Candidates with NULL length
   * drop on both sides (inner joins), so the audit only scores measured
   * pairs.
   *
   * One row out: `(n_pairs, n_chosen_longer, n_rejected_longer,
   * chosen_longer_rate, mean_len_diff)` — every count an exact int64,
   * the two ratios one division each. Scale shape: two id-keyed joins
   * (the pair frame is prompts-sized), one global aggregation.
   */
  def lengthBias(
      pairs: DataFrame,
      attrs: DataFrame,
      candCol: String = "cand_id",
      lenCol: String = "length"
  ): DataFrame = {
    val a = attrs.filter(col(lenCol).isNotNull)
      .select(col(candCol), col(lenCol).cast("long"))
    pairs
      .join(a.toDF("chosen_id", "__lc"), "chosen_id")
      .join(a.toDF("rejected_id", "__lr"), "rejected_id")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("__lc") > col("__lr"), 1L).otherwise(0L)).as("n_chosen_longer"),
        sum(when(col("__lc") < col("__lr"), 1L).otherwise(0L)).as("n_rejected_longer"),
        sum(col("__lc") - col("__lr")).as("__d"))
      .select(col("n_pairs"),
        coalesce(col("n_chosen_longer"), lit(0L)).as("n_chosen_longer"),
        coalesce(col("n_rejected_longer"), lit(0L)).as("n_rejected_longer"),
        when(col("n_pairs") === 0, lit(0.0)).otherwise(
          round(col("n_chosen_longer").cast("double") / col("n_pairs").cast("double"), 6))
          .as("chosen_longer_rate"),
        when(col("n_pairs") === 0, lit(0.0)).otherwise(
          round(col("__d").cast("double") / col("n_pairs").cast("double"), 6))
          .as("mean_len_diff"))
  }

  /**
   * Unbiased pass@k (Chen et al. 2021, the HumanEval estimator): per
   * prompt with `n` samples of which `c` passed,
   * `pass@k = 1 − C(n−c, k)/C(n, k)` — the probability at least one of
   * `k` drawn samples passes, computed without enumerating draws. The
   * eval-harness aggregate every sampled-code/gen benchmark reports.
   *
   * Computed in product form `1 − Π_{i<k} (n−c−i)/(n−i)` as a sequential
   * fold over exactly `k` factors, so both engines evaluate the same
   * double ops in the same order (no factorials, no overflow). Prompts
   * with fewer than `k` samples can't support the estimator and are
   * dropped (count inputs vs outputs to audit); `c = 0` is exactly 0 and
   * `n − c < k` exactly 1 without touching the product. One map-side-
   * combined aggregation; emits `(prompt_id, n_samples, n_passed,
   * pass_at_k)` with the estimate at 6 dp.
   */
  def passAtK(
      samples: DataFrame,
      k: Int,
      promptCol: String = "prompt_id",
      passedCol: String = "passed"
  ): DataFrame = {
    require(k > 0, "need k > 0")
    val agg = samples
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_samples"),
        sum(when(col(passedCol), 1L).otherwise(0L)).as("n_passed"))
      .filter(col("n_samples") >= k)
    val n = col("n_samples").cast("double")
    val c = col("n_passed").cast("double")
    // factor parenthesized: acc * ((n−c−i)/(n−i)), so the oracle's
    // transform-then-reduce shape performs the IDENTICAL double ops
    val prod = aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
      (acc, i) => acc * ((n - c - i) / (n - i)))
    agg.withColumn("pass_at_k",
      when(col("n_passed") === 0L, 0.0)
        .when(col("n_samples") - col("n_passed") < k, 1.0)
        .otherwise(round(lit(1.0) - prod, 6)))
  }

  /**
   * BEST-OF-N EXPECTED-MAX CURVE — for each prompt's candidate pool, the
   * unbiased estimate of the best score a sampler would get drawing a
   * uniform random `n`-subset, for every `n` in `ns`: with candidates at
   * ascending score rank `i` of `N`,
   * `E[max@n] = Σ_i s_(i) · C(i−1, n−1) / C(N, n)` — the order-statistics
   * companion to [[passAtK]] (that one grades binary pass/fail; this
   * grades a real-valued reward, the curve a BoN-sampling or
   * reranker-budget decision reads). `emax_1` is the pool mean and
   * `emax_N` the pool max, so the curve's endpoints self-check.
   *
   * The binomial ratio is computed in the [[passAtK]] product form —
   * `C(i−1,n−1)/C(N,n) = (Π_{j<n} (i−j)/(N−j)) · n/i`, each factor a
   * ratio of exact small ints — and the per-prompt sum folds through the
   * ascending-sorted kernel, so the oracle replays every IEEE op. Ranks
   * tie-break by candidate id; equal scores make the weight assignment
   * within a tied block arbitrary but the SUM invariant, so the estimate
   * is still deterministic. Prompts with fewer than `max(ns)` candidates
   * drop (the estimator needs the subset to exist), mirroring
   * [[passAtK]]'s filter.
   *
   * Scale shape: one prompt-partitioned window (rank + count), one
   * map-side-combined aggregation; pool-bounded lists, nothing
   * corpus-sized anywhere.
   */
  def bestOfN(
      cands: DataFrame,
      ns: Seq[Int],
      promptCol: String = "prompt_id",
      candCol: String = "cand_id",
      scoreCol: String = "score",
      dp: Int = 6
  ): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    graft.functions.GraftFunctions.register(cands.sparkSession)
    import graft.functions.GraftFunctions.foldSum
    val w = Window.partitionBy(col(promptCol)).orderBy(col(scoreCol).asc, col(candCol).asc)
    // null scores would rank first in Spark ASC but last in DuckDB — drop
    // them defensively (the sibling sft_prefs/sft_adv chains do the same)
    val ranked = cands.filter(col(scoreCol).isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(promptCol))))
    val iD = col("__i").cast("double")
    val nD = col("__n").cast("double")
    def weighted(n: Int): Column = {
      val prod = aggregate(sequence(lit(0), lit(n - 1)), lit(1.0),
        (acc, j) => acc * ((iD - j.cast("double")) / (nD - j.cast("double"))))
      when(col("__i") >= n, prod * (lit(n.toDouble) / iD) * col(scoreCol)).otherwise(lit(0.0))
    }
    ranked
      .select(Seq(col(promptCol), col(scoreCol)) ++
        ns.map(n => weighted(n).as(s"__c$n")): _*)
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("n_samples"),
        max(col(scoreCol)).as("best") +:
          ns.map(n => round(foldSum(collect_list(col(s"__c$n"))), dp).as(s"emax_$n")): _*)
      .filter(col("n_samples") >= ns.max)
  }

  /**
   * Group-relative advantages (the GRPO normalization): per prompt,
   * candidates' scores standardize against their OWN group —
   * `(score − mean) / (std + eps)` with the population std — so reward
   * scales cancel per prompt and a trainer consumes comparable
   * advantages across prompts. Degenerate groups (one candidate, or all
   * scores equal) yield advantage 0 through the eps floor.
   *
   * Engine-portable by construction: scores must arrive 2-dp-snapped;
   * they scale to exact BIGINT cents, so the per-group sum and
   * sum-of-squares are order-independent integers and every double op
   * after them replays identically in the oracle. One map-side-combined
   * aggregation + one broadcast-friendly join back; no window.
   */
  def groupAdvantages(
      cands: DataFrame,
      promptCol: String = "prompt_id",
      candCol: String = "cand_id",
      scoreCol: String = "score",
      eps: Double = 1e-6
  ): DataFrame = {
    val cents = round(col(scoreCol) * 100, 0).cast("long")
    val stats = cands
      .filter(col(scoreCol).isNotNull)
      .groupBy(col(promptCol))
      .agg(count(lit(1)).as("__n"), sum(cents).as("__s1"), sum(cents * cents).as("__s2"))
    val mean = col("__s1") / (col("__n") * lit(100.0))
    val varP = greatest(
      col("__s2") / (col("__n") * lit(10000.0)) - mean * mean, lit(0.0)) // clamp float residue
    cands
      .filter(col(scoreCol).isNotNull)
      .join(stats, promptCol)
      .select(col(promptCol), col(candCol), col(scoreCol),
        round((col(scoreCol) - mean) / (sqrt(varP) + lit(eps)), 6).as("advantage"))
  }

  /**
   * Render each conversation to its canonical transcript
   * (`role: content` lines, newline-joined in turn order) — the bridge
   * into every text-keyed operator: transcript-level exact/near dedup
   * ([[Dedup]]), sequence packing ([[Sampling.packSequences]] with
   * `idCol = "conv_id"`), quality scoring. One map-side-combined
   * aggregation; ordering comes from sorting the collected struct list
   * (turn_idx leads), not from any global sort.
   */
  def render(turns: DataFrame, idCol: String = "conv_id"): DataFrame =
    turns.groupBy(col(idCol)).agg(
      concat_ws("\n", transform(
        array_sort(collect_list(struct(col("turn_idx"), col("role"), col("content")))),
        t => concat(t.getField("role"), lit(": "), t.getField("content")))).as("text"))

  /**
   * Canned-reply mining: assistant contents repeated across `minCopies`+
   * conversations — template/boilerplate responses that collapse an SFT
   * mix's diversity (the chat-modality face of exact dedup). Groups by
   * content digest like [[Dedup.exact]], so the shuffle carries 32-char
   * digests, never transcripts. Emits
   * `(digest, n_copies, first_conv)` per repeated reply.
   */
  def cannedReplies(
      turns: DataFrame,
      minCopies: Long = 2L,
      idCol: String = "conv_id"
  ): DataFrame =
    turns.filter(col("role") === "assistant")
      .groupBy(md5(col("content")).as("digest"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("first_conv"))
      .filter(col("n_copies") >= minCopies)

  /**
   * Context-window trim: keep the longest SUFFIX of whole turns whose
   * token total fits `maxTokens` — the standard chat-history truncation
   * (recent turns matter most; a turn is kept whole or not at all). A
   * single turn longer than the budget drops out entirely, like every
   * chat template's truncation does.
   *
   * One reverse-ordered running sum per conversation (exact integer
   * window math), one filter. Emits the kept turns as
   * `(conv_id, turn_idx, role, n_tokens)`.
   */
  def trimToBudget(
      turns: DataFrame,
      maxTokens: Long,
      idCol: String = "conv_id"
  ): DataFrame = {
    require(maxTokens > 0, "need a positive token budget")
    val w = Window.partitionBy(col(idCol)).orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    turns
      .withColumn("__nt", nTokens(col("content")))
      .withColumn("__rev", sum(col("__nt")).over(w))
      .filter(col("__rev") <= maxTokens)
      .select(col(idCol), col("turn_idx"), col("role"), col("__nt").as("n_tokens"))
  }
}
