package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Rollup, TimeSeries}
import graft.pipeline.{Chat, Dedup, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis}
import graft.plan.TimeContext

/**
 * Driver contract: `queries` maps every implemented operator from SURVEY.md
 * §2 to a runnable DataFrame pipeline; `oracleSql` gives the DuckDB-
 * equivalent ANSI SQL for the hash-compare correctness gate.
 *
 * The engine queries run through the FULL stack (dialect parser → planner →
 * executor) over the `events` table registered as a metric
 * (timestamp = ts ns→ms, value, tags = event_type/user_id). All time
 * literals are fixed so results are deterministic across runs and engines;
 * NOW resolves against a pinned [[TimeContext]].
 */
object SparkEntry {

  /** pinned query-time "now": just past the newest event at every SF. */
  val Now = 1706659200000L
  implicit private val tc: TimeContext = TimeContext(Now)

  // fixed temporal window for interval queries (within the events range at all SFs)
  // trained BPE merge rules per sfDir (see tx_bpeenc): lets the bench's
  // min-of-runs isolate the encode phase without retiming training
  private val bpeMergesCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]

  private val T1   = 1704500000000L
  private val T2   = 1706500000000L
  private val Day  = 86400000L
  private val HourMs = 3600000L
  // hour-aligned bounds for the rollup-served gates: span (T1r, T2r] has
  // lo-1 = T1r and hi = T2r both on the hourly grain, len = 1 d = 24 cells
  private val T1r  = 1704499200000L // 473472 * 3600000
  private val T2r  = 1706500800000L // 474028 * 3600000
  private val NowMinus7d  = Now - 7 * Day
  private val GraceLo     = Now - 10 * Day // SINCE 10 d cutoff, > T1

  /** ns→ms with integer division (float division loses precision above 2^53). */
  private val TsMs = "epoch_ns(ts)//1000000"

  // one engine per (session, dir): registering re-reads parquet footers,
  // no need to repeat it for each of ~50 queries in a bench run
  private val engines = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), GraftEngine]()

  // the session-shared relations, in prebuild order: each declaration is
  // the relation's whole definition (name, build, release, builder gate)
  private[graft] val shared = new Shared.Registry

  // one SYNTHETIC MEDIA frame per (session, dir, kind): the mm_* gates wrap
  // the documents table in fixture containers whose hex-concat synthesis is
  // a large codegen'd expression tree — rebuilding it per gate, and up to
  // 3x inside wavEnergyWindows' meta/data/join references to the same
  // input, made mm_wavvad the board's single heaviest line (89 s cold in
  // the r15 driver sweep). persist (NOT localCheckpoint) is deliberate:
  // lineage survives, and Bench's Checkpoints.free on a result frame only
  // unpersists LogicalRDD leaves, so the shared input cannot be collapsed
  // out from under the memo. ~1.5 MB per frame at sf0.1 — the cache cost
  // is noise; at 100 TB the equivalent is writing the synthesized/decoded
  // container relation once and scanning it, not re-deriving it per query.
  // The prebuild builds the two kinds most gates read; the rest build on
  // first use.
  private val mediaFrames = shared.frames("media_frames", Seq("payload", "av")) { (s, d, kind) =>
    val synthesize: DataFrame => DataFrame = kind match {
      case "payload" => Multimodal.withPayload
      case "av"      => Multimodal.syntheticAvContainers
      case "png"     => Multimodal.syntheticContainers
      case "gif"     => Multimodal.syntheticAnimatedGifs
      case "tiff"    => Multimodal.syntheticTiffs
      case "exif2"   => Multimodal.syntheticExifTiffs
      case "pngc"    => Multimodal.syntheticPngChunks
      case "zip"     => Multimodal.syntheticZips
      case "tar"     => Multimodal.syntheticTars
    }
    Shared.persisted(synthesize(docs(s, d)))
  }
  private def mmPayload(s: SparkSession, d: String): DataFrame = mediaFrames(s, d, "payload")
  private def mmAv(s: SparkSession, d: String): DataFrame = mediaFrames(s, d, "av")

  // one USER-CLUSTERED events relation per (session, dir): ~25 ev_* gates
  // are windows/joins/aggregations keyed by user_id (sessionize, funnels,
  // journeys, as-of attribution, per-user panels) — each paid its own
  // Exchange of the same 100k-row stream to the same hash partitioning.
  // One repartition(user_id) + persist gives every consumer an input whose
  // HashPartitioning(user_id) already satisfies its ClusteredDistribution
  // (windows and groupBys on user_id — or on key lists CONTAINING user_id —
  // plan with no shuffle; a subset partitioning satisfies the
  // distribution). Same rows, same expressions, purely a layout decision:
  // at 100 TB this is the events table written bucketed/clustered by
  // user_id, the §2.4 "two operations keyed the same way share one
  // exchange" discipline. Build cost rides the prebuild report.
  private val sharedEvByUser = shared.frame("events_by_user") { (s, d) =>
    Shared.persisted(evUsAll(s, d).repartition(col("user_id")))
  }

  // one TERM INDEX per (session, dir) — the mm_* pinning discipline applied
  // to the rt_* family (round 17): six gates (bm25_idx, mmr_idx, prf,
  // bm25_join, mrr, ndcg) each re-derived the tokenized postings/doclens
  // per gate, so the driver sweep re-tokenized the corpus six times over.
  // termIndexPersisted uses persist (NOT localCheckpoint), so the bench
  // harness's per-query Checkpoints.free on a result frame cannot evict
  // the shared relations. At 100 TB the equivalent is the persisted
  // on-disk index (writeTermIndex) that rt_bm25_app exercises — which
  // deliberately keeps its own build, as incremental maintenance IS its
  // subject.
  private val sharedTermIndex = shared[Retrieval.TermIndex]("term_index", ix => {
    ix.postings.unpersist(false); ix.doclens.unpersist(false)
    ix.statsIn.foreach(_.unpersist(false))
  })((s, d, _) => Retrieval.termIndexPersisted(docs(s, d)))

  // one CO-PURCHASE edge relation per (session, dir) — the same shared-
  // input discipline for the graph-walk family: st_ppr, st_hops and
  // st_alsobought each re-ran the lineitem distinct + per-order self-join
  // + support cut (3 shuffles over the largest fact table) before their
  // actual walk. The persisted builder keeps full lineage (no pins), so
  // the walks' standard on-entry Checkpoints.free(edges) is a no-op.
  // the persisted relation carries (id_a, id_b, support): walks project the
  // support away; st_basket ranks by it — one lineitem self-join per session
  private val sharedCoPurchaseSupport = shared.frame("copurchase_edges") { (s, d) =>
    graft.operators.Star.coPurchaseEdgesShared(tbl(s, d, "lineitem"))
  }
  private def sharedCoPurchase(s: SparkSession, d: String): DataFrame =
    sharedCoPurchaseSupport(s, d).select("id_a", "id_b")

  // one MINED NEAR-DUP PAIR RELATION per (session, dir) — the shared-input
  // discipline (mm_* synthetic frames, rt_* term index, st_* co-purchase
  // edges) applied to the near-dup graph/report family: 17 d_* gates each
  // re-ran the whole shingle → minhash → capped-band self-join → Jaccard
  // verify mining pipeline (~1.2-1.5 s of every gate's floor) before their
  // actual graph walk or report aggregation. All of them consume the SAME
  // relation: minhashLshPairs(docs, 0.5) with default params. Full lineage
  // (persist, no pins), so consumers' on-entry Checkpoints.free(pairs) is
  // a no-op. At 100 TB the equivalent is writing the mined pair table once
  // and pointing every downstream consumer at it.
  // the persisted relation is the OPEN-threshold scored candidate superset
  // (id_a, id_b, est_jaccard, jaccard): filter(jaccard >= 0.5) IS the mined
  // pair relation the 17 graph/report gates consume, and the same rows also
  // serve the estimation-error report (d_esterr) and the similarity
  // histogram (d_simcurve) — which previously each re-ran the whole mining
  // pipeline at threshold 0.
  private val sharedScoredCandidates =
    shared.frame("minhash_candidates", gate = Some("d_minhash")) { (s, d) =>
      Dedup.minhashScoredCandidatesShared(docs(s, d))
    }
  private def sharedDupPairs(s: SparkSession, d: String): DataFrame =
    sharedScoredCandidates(s, d)
      .filter(col("jaccard") >= 0.5).select("id_a", "id_b", "jaccard")

  // one WINNOW FINGERPRINT relation (k=16, w=8) per (session, dir):
  // d_winnow and d_winnow_contain each re-ran the per-character winnowing
  // kernel over the corpus before their pair join — one pass serves both.
  private val sharedWinnowFps = shared.frame("winnow_fps", gate = Some("d_winnow")) { (s, d) =>
    Dedup.winnowFpsShared(docs(s, d), k = 16, w = 8)
  }

  // one winnow PAIR RELATION per (session, dir): d_winnow and
  // d_winnow_contain run the IDENTICAL bucket-capped fp self-join
  // (minShared=2, maxBucket=200) over the shared fps — the dominant term
  // of both floors; the containment gate adds only the two denominator
  // joins on top. Full-lineage persist, the standard discipline.
  private val sharedWinnowPairs = shared.frame("winnow_pairs", gate = Some("d_winnow")) { (s, d) =>
    Shared.persisted(Dedup.winnowPairsOn(sharedWinnowFps(s, d), minShared = 2L, maxBucket = 200))
  }

  // one PCA MODEL per (session, dir): ann_pca / ann_pcavar / ann_whiten /
  // ann_pca_topk each re-ran the full covariance pass (the d(d+1)/2
  // products explode + aggregation, ~2.5 s of each gate's floor) to fit
  // the same spectrum. kMax=4 covers k=2 (projection, whitening, variance
  // report) and kDims=4 (reduced-scan re-rank): deflation is strictly
  // sequential, so the top-2 of a kMax=4 fit are bit-identical to a
  // dedicated k=2 fit. Full-lineage persist on the snapped relation, same
  // sharing discipline as the other memos above.
  private val sharedPcaModel = shared[Option[Similarity.PcaModel]]("pca_model",
    _.foreach(_.snapped.unpersist(false)))(
    (s, d, _) => Similarity.pcaModelShared(emb(s, d), kMax = 4, iters = 12))

  // one NB SCORED RELATION per (session, dir): tx_nbconf and tx_calib each
  // trained and scored the same Laplace-1 multinomial NB (the corpus
  // tokenize + count + score chain) before their own small readout
  // aggregation — one shared scoring pass serves both.
  private val sharedNbScored = shared.frame("nb_scored") { (s, d) =>
    pipeline.TextAnalysis.nbScoredShared(docs(s, d))
  }

  // one (6, 8) LSH VECTOR INDEX per (session, dir): ann_join,
  // ann_negatives, ann_ndcg and ann_knn each rebuilt the identical
  // full-corpus index (same planes, same tables, same data) and
  // checkpointed it per gate — one persisted build serves all four
  // probes. Full lineage (persist, not localCheckpoint), so consumers'
  // Checkpoints.free stays a structural no-op. At 100 TB this is the
  // written ANN index every online query path reads.
  private val sharedVectorIndex68 = shared.frame("vector_index") { (s, d) =>
    Shared.persisted(Similarity.vectorIndex(emb(s, d), planesPerTable = 6, tables = 8))
  }

  // one HOURLY RESAMPLED GRID per (session, dir): ~20 ts_* gates each
  // re-ran the same resample aggregation (floor-to-bucket + snapped mean
  // over the full event stream) before their own per-key fold/window —
  // the single most-repeated subtree on the board. The persisted grid is
  // key × bucket cardinality (3,385 rows at sf0.1 vs 100k events), so
  // every consumer's input collapses to a cached scan. resample is NOT
  // idempotent (the 6-dp sum snap re-rounds), so operators take the grid
  // through an explicit gridIn hook rather than re-deriving it.
  private val sharedHourlyGrid = shared.frame("hourly_grid", gate = Some("ts_resample")) { (s, d) =>
    Shared.persisted(TimeSeries.resample(evUs(s, d), Seq("event_type"), "ts", "value", HourUs))
  }

  // one COLLECTED GRID SERIES per (session, dir): ~13 scan-fold ts gates
  // (ewma/cusum/holt/hw/backtest/mase/acf/pacf/cpt/decomp/sanom/strength/
  // lttb) fold the SAME per-key sorted struct arrays of the shared hourly
  // grid — each paid its own collect shuffle. The collect is a
  // deterministic total order ((key, ts) unique post-resample), so the
  // shared frame is bit-identical to the per-gate collect; operators
  // recognize it via the `__pts` column on their existing gridIn hook.
  private val sharedGridSeries = shared.frame("grid_series") { (s, d) =>
    Shared.persisted(TimeSeries.collectedGridSeries(sharedHourlyGrid(s, d), Seq("event_type")))
  }

  // one CC LABELING per (session, dir): d_cc, d_cc_hist, d_report,
  // d_ccweight and d_ari each re-ran the iterative min-label convergence
  // loop over the SAME shared pair relation (~1-2 s of every floor) before
  // their own cheap readout (order / histogram / per-source report / 1-per-
  // cluster weights / contingency agreement). duplicateClustersShared runs
  // the identical labeling algebra but materializes with FULL lineage
  // (persist, never localCheckpoint), so consumers' Checkpoints.free stays
  // a structural no-op on the memoized frame. At 100 TB the labeling is
  // the written dedup-cluster table every downstream readout scans.
  private val sharedCcClusters = shared.frame("cc_labeling", gate = Some("d_cc")) { (s, d) =>
    Dedup.duplicateClustersShared(sharedDupPairs(s, d).select("id_a", "id_b"), docs(s, d))
  }

  // one LPA LABELING per (session, dir): d_labelprop, d_modularity and
  // d_ari each re-ran the same 4-round synchronous propagation over the
  // shared pair relation before their own readout (order / modularity
  // decomposition / contingency agreement). Same full-lineage discipline.
  private val sharedLpaLabels = shared.frame("lpa_labeling", gate = Some("d_labelprop")) { (s, d) =>
    graft.operators.Graph.labelPropagationShared(
      sharedDupPairs(s, d).select("id_a", "id_b"), docs(s, d), rounds = 4)
  }

  // the two SINGLE-QUERY top-20 rankings (BM25 / QL over the shared term
  // index): the agreement gates rt_tau and rt_rbo each re-derived BOTH
  // rankings per run — and rankAgreement executes each input 2-3x (bound
  // probe + intersection join + count), so one un-persisted ranking ran
  // up to 6x per timed row. rt_bm25_idx / rt_ql deliberately keep
  // computing their own ranking (querying the index IS their subject;
  // these memos serve the list-comparison gates). 20-row frames — the
  // cache cost is nil; the saved work is the repeated index scoring.
  private val rankings = shared.frames("rankings_top20", Seq("bm25", "ql")) {
    case (s, d, "bm25") => Shared.persisted(
      Retrieval.bm25TopKIndexed(sharedTermIndex(s, d), Seq("spark", "join"), k = 20))
    case (s, d, "ql") => Shared.persisted(
      Retrieval.qlTopKIndexed(sharedTermIndex(s, d), Seq("spark", "join"), k = 20))
  }
  private def sharedBm25Top20(s: SparkSession, d: String): DataFrame = rankings(s, d, "bm25")
  private def sharedQlTop20(s: SparkSession, d: String): DataFrame = rankings(s, d, "ql")

  /** the batch-retrieval query set (every 100th doc's first 3 tokens) —
    * one definition shared by the batch gate and its two eval readouts. */
  private def rtBatchQueries(s: SparkSession, d: String): DataFrame =
    docs(s, d).filter(col("doc_id") % 100 === 0)
      .select(col("doc_id").as("query_id"), slice(split(col("text"), " "), 1, 3).as("terms"))

  // the BATCH BM25 RESULT (per-query top-5 of rtBatchQueries against the
  // shared index): rt_bm25_join, rt_mrr and rt_ndcg each re-ran the same
  // batch scoring join (the dominant term of all three floors) before
  // their own readout (row order / MRR fold / graded rankEval). One
  // scoring pass per session serves all three — the VERDICT-r16 item 3
  // "shared BM25 scoring chain", completing what the shared index began.
  private val sharedBm25Batch = shared.frame("bm25_batch", gate = Some("rt_bm25_join")) { (s, d) =>
    Shared.persisted(Retrieval.bm25Join(rtBatchQueries(s, d), sharedTermIndex(s, d), k = 5))
  }

  // one POSITIONAL POSTINGS relation per (session, dir): rt_phrase and
  // rt_near each re-tokenized the corpus with positions — the positional
  // analog of the shared term index and the last per-gate re-tokenization
  // in the rt family. At 100 TB this is the written positional index
  // (writePositionalIndex) every span query reads.
  private val sharedPositionalPostings = shared.frame("positional_postings") { (s, d) =>
    Shared.persisted(Retrieval.positionalPostings(docs(s, d)))
  }

  /** Build every session-shared relation for `(s, d)` UNTIMED — the bench
    * calls this between warm-up and pass 1 so a CONSUMER gate's timed row
    * measures the gate's own work, never the first-consumer build of a
    * shared relation. Returns per-relation build seconds so the bench can
    * report the session-level cost as a first-class artifact field
    * (amortized-but-attributed, VERDICT r17 item 1). Relations that have a
    * designated TIMED BUILDER gate ([[timedBuilderGates]]) are rebuilt
    * inside that gate's timed row as well — the prebuild here only keeps
    * earlier-sweeping consumers from absorbing the build. A relation whose
    * build throws does not stop the others: its entry carries the error. */
  def prebuildShared(s: SparkSession, d: String): Seq[Shared.Prebuilt] = shared.prebuild(s, d)

  /** The gates whose timed bench row INCLUDES (re)building their shared
    * relation — one designated builder per relation whose declared result
    * IS that relation (VERDICT r17 item 1: a bare `orderBy` over a
    * prebuilt cache times a cached sort, not the declared computation).
    * Each maps to the prebuild component it re-times; the bench JSON
    * carries this map so the double-build (one untimed prebuild for
    * earlier consumers + timed rebuilds in the builder's row) is explicit. */
  val timedBuilderGates: Map[String, String] = shared.builderGates

  /** Release every session-shared relation memoized for `(s, d)` — the
    * bench calls this after the tiny-SF warm-up so the warm-dir copies do
    * not occupy executor storage for the whole timed sweep. Every entry is
    * removed even if an unpersist throws; the failures are returned. */
  def releaseShared(s: SparkSession, d: String): Seq[Shared.Failure] = shared.release(s, d)

  /** raw events. Older driver testdata typed `ts` int64 epoch-nanos (the
    * legacy conf keeps that LongType; set before the read so it holds
    * regardless of query order); current testdata types it timestamp[us]
    * NTZ. Downstream derives time via [[tsUsCol]], so both flavors work. */
  private def evRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$d/events.parquet")
  }

  /** epoch-µs expression for `ts`, whatever its physical parquet type. The
    * NTZ→LTZ cast interprets the wall clock in the session timezone (UTC on
    * every graft session), matching DuckDB's epoch_us on naive timestamps. */
  private def tsUsCol(ev: DataFrame): org.apache.spark.sql.Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast("timestamp"))
      case dt => sys.error(s"events.ts: unsupported type $dt (expected int64 nanos or timestamp)")
    }

  /** events with `ts` replaced by epoch-µs — the relational-operator input. */
  private def evUsAll(s: SparkSession, d: String): DataFrame = {
    val ev = evRaw(s, d)
    ev.withColumn("ts", tsUsCol(ev))
  }

  private def engineFor(spark: SparkSession, dir: String): GraftEngine =
    engines.computeIfAbsent((spark, dir), { case (s, d) =>
      val ev = evRaw(s, d)
      val e  = new GraftEngine(s)
      // ts rides along as a raw-time mirror: span filters reach the parquet
      // scan (row-group skipping) despite the derived ms timestamp
      val (tsMsExpr, mirror) = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // int64 epoch-nanos
          (expr("ts div 1000000"), graft.exec.TimeMirror("ts", 1000000L))
        case dt @ (org.apache.spark.sql.types.TimestampType |
                   org.apache.spark.sql.types.TimestampNTZType) =>
          // µs-precision timestamp (NTZ for tz-less parquet). unix_millis of
          // the NTZ→LTZ cast uses the SESSION timezone, so the mirror bound
          // literal must be built in that same zone (TimeMirror.boundLit).
          (unix_millis(col("ts").cast("timestamp")),
            graft.exec.TimeMirror("ts", 1000L, tsType = Some(dt)))
        case dt =>
          sys.error(s"events.ts: unsupported type $dt (expected int64 nanos or timestamp)")
      }
      e.registerMetric("graft", "main", "events", ev,
        tsMsExpr, col("value"),
        tags = Set("event_type", "user_id"),
        timeMirror = Some(mirror))
      // twin metric with an attached hourly rollup: the i_roll_* gates
      // prove the facet-style serving path against the same DuckDB oracle
      e.registerMetric("graft", "main", "events_rolled", ev,
        tsMsExpr, col("value"),
        tags = Set("event_type", "user_id"),
        timeMirror = Some(mirror))
      val canonical = e.metricRef("graft", "main", "events_rolled").get.df
      // materialized ONCE per testdata dir as real parquet (the production
      // shape — Warehouse.append maintains the same stats table): the
      // served gates read a precomputed table, never a lazy re-derivation,
      // and the harness's per-query Checkpoints.free can't evict it
      // v2: keyed by event_type (path versioned so a schema change can
      // never silently reuse a stale stats table from a prior build)
      val statsPath = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_rollup_v2_${Integer.toHexString(d.hashCode)}").getPath
      if (!new java.io.File(statsPath).exists())
        graft.operators.Rollup.buildForServing(canonical, Seq("event_type"), "timestamp", "value", HourMs)
          .write.mode("overwrite").parquet(statsPath)
      e.attachRollup("graft", "main", "events_rolled", s.read.parquet(statsPath), HourMs)
        .left.foreach(err => sys.error(err))
      e
    })

  /** Run a dialect query through the full parse→plan→execute stack. */
  private def run(q: String)(spark: SparkSession, dir: String): DataFrame =
    engineFor(spark, dir).sql("graft", "main", q).fold(err => sys.error(s"[$q] $err"), identity)

  private def roundValue(dp: Int)(df: DataFrame): DataFrame =
    df.withColumn("value", round(col("value"), dp))

  /** DuckDB bucket arithmetic mirroring the backward-anchored temporal buckets. */
  private def temporalOracle(lo: Long, hi: Long, len: Long, agg: String,
                             extraCols: String = "value", wrap: String => String = identity,
                             lastN: Option[Int] = None): String = {
    val nB   = math.max(1L, (hi - lo + len - 1) / len)
    val base =
      s"""WITH b AS (SELECT $hi - least(($hi - ($TsMs))//$len, ${nB - 1})*$len AS ub, $extraCols FROM events WHERE $TsMs BETWEEN $lo AND $hi)
         |SELECT ub AS "timestamp", greatest($lo, ub - $len) AS "lowerBound", ub AS "upperBound", ${wrap(agg)} AS "value" FROM b GROUP BY ub ORDER BY ub""".stripMargin.replace("\n", " ")
    lastN.fold(base)(n =>
      s"""SELECT * FROM ($base DESC LIMIT $n) ORDER BY "timestamp"""")
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    run("select sum(value) from events group by event_type order by event_type")(
      spark, "/root/testdata/sf0.001")

  // --------------------------------------------------------------------
  // queries: one per operator from SURVEY.md §2 (engine-driven), plus the
  // training-data pipeline operators (direct DataFrame API)
  // --------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- C1/P1: scans + projection (timestamp/value always included)
    "s_star"  -> ((s, d) => run("select * from events where value > 150 order by event_id limit 200")(s, d)),
    "s_proj"  -> ((s, d) => run("select event_type from events where user_id >= 10 order by event_id limit 500")(s, d)),
    // ---- P2-P9: predicates
    "p_eq"    -> ((s, d) => run("select * from events where event_type = purchase order by event_id limit 300")(s, d)),
    "p_cmp"   -> ((s, d) => run("select * from events where value >= 50.5 and value < 150 order by event_id limit 300")(s, d)),
    "p_range" -> ((s, d) => run(s"select * from events where timestamp in ($T1, $T2) order by event_id limit 300")(s, d)),
    "p_like"  -> ((s, d) => run("select * from events where event_type like $ur$ order by event_id limit 300")(s, d)),
    "p_not"   -> ((s, d) => run("select * from events where not (value > 100 or event_type = click) order by event_id limit 300")(s, d)),
    "p_null"  -> ((s, d) => run("select * from events where props is not null and value <= 20 order by event_id limit 300")(s, d)),
    "p_now"   -> ((s, d) => run("select * from events where timestamp > now - 7 d order by event_id limit 300")(s, d)),
    // ---- A13: distinct
    "a_distinct" -> ((s, d) => run("select distinct event_type from events order by event_type")(s, d)),
    // ---- A1-A6: global aggregations
    "g_count"        -> ((s, d) => run("select count(*) from events")(s, d)),
    "g_count_clamp"  -> ((s, d) => run("select count(*) from events limit 100")(s, d)),
    "g_minmax"       -> ((s, d) => run("select min(*), max(*) from events")(s, d)),
    "g_sum"          -> ((s, d) => roundValue(3)(run("select sum(*) from events")(s, d).withColumnRenamed("sum", "value"))),
    "g_avg"          -> ((s, d) => roundValue(4)(run("select avg(*) from events")(s, d).withColumnRenamed("avg", "value"))),
    "g_count_dist"   -> ((s, d) => run("select count(distinct user_id) from events")(s, d)),
    "g_mixed"        -> ((s, d) => run("select event_type, count(*) from events where value > 120 order by event_id limit 50")(s, d)),
    // ---- A7-A12: group by tag
    "t_count"      -> ((s, d) => run("select count(*) from events group by event_type order by event_type")(s, d)),
    "t_sum"        -> ((s, d) => roundValue(3)(run("select sum(value) from events group by event_type order by event_type")(s, d))),
    "t_min"        -> ((s, d) => run("select min(value) from events group by event_type order by event_type")(s, d)),
    "t_max"        -> ((s, d) => run("select max(value) from events group by event_type order by event_type")(s, d)),
    "t_avg"        -> ((s, d) => roundValue(4)(run("select avg(value) from events group by event_type order by event_type")(s, d))),
    "t_count_dist" -> ((s, d) => run("select count(distinct user_id) from events group by event_type order by event_type")(s, d)),
    "t_first"      -> ((s, d) => run("select first(value) from events group by event_type order by event_type")(s, d)),
    "t_last"       -> ((s, d) => run("select last(value) from events group by event_type order by event_type")(s, d)),
    "t_topk"       -> ((s, d) => roundValue(3)(run("select sum(value) from events group by user_id order by value desc limit 5")(s, d))),
    // ---- T1-T7: temporal aggregation (backward-anchored buckets)
    "i_count"      -> ((s, d) => run(s"select count(*) from events where timestamp in ($T1, $T2) group by interval 1 d")(s, d)),
    "i_sum"        -> ((s, d) => roundValue(3)(run(s"select sum(value) from events where timestamp in ($T1, $T2) group by interval 1 d")(s, d))),
    "i_avg"        -> ((s, d) => roundValue(4)(run(s"select avg(value) from events where timestamp in ($T1, $T2) group by interval 1 d")(s, d))),
    // the SAME dialect queries on the rollup-attached twin metric: served
    // from hourly sufficient stats, never scanning raw points — and held
    // to the same raw-scan DuckDB oracle
    // global aggregations served from the same stats: unconstrained (all
    // cells) and time-bounded (aligned span) forms
    "g_roll_count" -> ((s, d) => run("select count(*) from events_rolled")(s, d)),
    "t_roll_count" -> ((s, d) => run("select count(*) from events_rolled group by event_type order by event_type")(s, d)),
    "t_roll_sum"   -> ((s, d) => roundValue(3)(run("select sum(value) from events_rolled group by event_type order by event_type")(s, d))),
    "g_roll_sum"   -> ((s, d) => roundValue(3)(run(s"select sum(*) from events_rolled where timestamp > $T1r and timestamp <= $T2r")(s, d).withColumnRenamed("sum", "value"))),
    "i_roll_count" -> ((s, d) => run(s"select count(*) from events_rolled where timestamp in (${T1r + 1}, $T2r) group by interval 1 d")(s, d)),
    "i_roll_sum"   -> ((s, d) => roundValue(3)(run(s"select sum(value) from events_rolled where timestamp in (${T1r + 1}, $T2r) group by interval 1 d")(s, d))),
    "i_roll_avg"   -> ((s, d) => roundValue(4)(run(s"select avg(value) from events_rolled where timestamp in (${T1r + 1}, $T2r) group by interval 1 d")(s, d))),
    "i_minmax"     -> ((s, d) => run(s"select max(value) from events where timestamp in ($T1, $T2) group by interval 1 d")(s, d)),
    "i_count_dist" -> ((s, d) => run(s"select count(distinct user_id) from events where timestamp in ($T1, $T2) group by interval 1 d")(s, d)),
    "i_since"      -> ((s, d) => run(s"select count(*) from events where timestamp in ($T1, $T2) group by interval 1 d since 10 d")(s, d)),
    "i_last_buckets" -> ((s, d) => run(s"select count(*) from events where timestamp in ($T1, $T2) group by interval 1 d limit 5")(s, d)),

    // ---- training-data pipeline: deduplication
    "d_exact"   -> ((s, d) => Dedup.exact(docs(s, d)).orderBy("doc_id")),
    "d_ngram"   -> ((s, d) => Dedup.ngramJaccardPairs(docs(s, d), Seq("source", "lang"), 0.1).orderBy("id_a", "id_b")),
    // the metadata-free scale path for ngram dedup (banded minhash buckets
    // over the same bigram shingles) — gated separately so the 100 TB plan
    // has its own correctness evidence, not just the blocked variant's
    "d_ngram_banded" -> ((s, d) => Dedup.ngramJaccardPairsBanded(docs(s, d), 0.5).orderBy("id_a", "id_b")),
    // DESIGNATED BUILDER for the minhash candidate relation: evicts it so
    // its timed row runs the full shingle → minhash → banded
    // self-join → Jaccard-verify mining, not a cached-frame sort
    "d_minhash" -> ((s, d) => {
      shared.rebuild("d_minhash", s, d)
      sharedDupPairs(s, d).orderBy("id_a", "id_b")
    }),
    // asymmetric containment over the capped shingle inverted index:
    // catches short-doc-inside-long-doc subset duplication Jaccard misses
    "d_contain" -> ((s, d) => Dedup.containmentPairs(docs(s, d), 0.8).orderBy("id_a", "id_b")),
    // edit-distance near-dup: LSH candidates verified with exact levenshtein
    // (DuckDB's independent levenshtein implementation is the oracle)
    "d_lev" -> ((s, d) => Dedup.editDistancePairs(docs(s, d), 20).orderBy("id_a", "id_b")),
    // content-defined chunking: partial-overlap/containment pairs that
    // whole-document Jaccard dilutes below any threshold
    "d_cdc" -> ((s, d) => Dedup.cdcOverlapPairs(docs(s, d)).orderBy("id_a", "id_b")),
    // MOSS winnowing: char-16-gram hashes, 8-window rightmost-min selection;
    // pairs sharing >= 2 distinct fingerprints (any >= 23-char common span
    // guarantees one). Short grams (k=8) are degenerate on prose — common
    // words alone made 76% of ALL doc pairs "share" fingerprints — so the
    // gate runs at span-length grams with a tight boilerplate bucket cap.
    // DESIGNATED BUILDER for the winnow fps + pair relations: the timed
    // row runs the per-character winnowing kernel AND the bucket-capped
    // fp self-join (d_winnow_contain stays a reader of both)
    "d_winnow" -> ((s, d) => {
      shared.rebuild("d_winnow", s, d)
      sharedWinnowPairs(s, d).orderBy("id_a", "id_b")
    }),
    // PageRank centrality over the near-dup graph: hub/template docs outrank
    // their copies (what connected components alone cannot tell apart)
    "d_pagerank" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Graph.pageRank(
        sharedDupPairs(s, d).select("id_a", "id_b"), dd).orderBy("doc_id")
    }),
    // HITS over the same graph, directed later→earlier: authorities are
    // the canonical originals, hubs the aggregator/re-post docs — the
    // role split pageRank's undirected centrality can't make
    "d_hits" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Graph.hits(
        sharedDupPairs(s, d).select("id_a", "id_b"), dd, rounds = 4).orderBy("doc_id")
    }),
    // clique structure of the near-dup graph: triangle triples + per-doc
    // participation counts (template-family detection beyond CC chains)
    "d_triangles" -> ((s, d) =>
      graft.operators.Graph.triangles(sharedDupPairs(s, d))
        .orderBy("a", "b", "c")),
    "d_tricount" -> ((s, d) =>
      graft.operators.Graph.triangleCounts(sharedDupPairs(s, d))
        .orderBy("doc_id")),
    // Adamic-Adar link prediction over the CO-PURCHASE part graph: parts
    // sharing several low-degree co-purchase partners but never bought
    // together — the "customers also bought" candidate ranking. (The
    // near-dup doc graph is transitively closed by construction — every
    // wedge is already an edge — so basket data is where AA has signal.)
    "st_alsobought" -> ((s, d) =>
      graft.operators.Graph.adamicAdar(sharedCoPurchase(s, d), topK = 50)),
    // exact BFS recommendation radius: parts one/two/three baskets away
    // from the seed, labeled with their first-reach hop. The edge frame
    // is the SHARED persisted relation, so the seed probe, this walk, and
    // the other graph gates all read one enumeration of the self-join.
    "st_hops" -> ((s, d) => {
      val edges = sharedCoPurchase(s, d)
      val seed = graft.operators.Star.walkSeed(edges)
      graft.operators.Graph.bfsHops(edges, seed, maxHops = 3).orderBy("hop", "id")
    }),
    // personalized PageRank from the smallest part in the co-purchase
    // graph: rank mass = proximity to the seed through shared baskets (the
    // recommendation walk; plain PageRank only scores global popularity)
    "st_ppr" -> ((s, d) => {
      val edges = sharedCoPurchase(s, d)
      val seed = graft.operators.Star.walkSeed(edges)
      graft.operators.Graph.personalizedPageRank(edges, Seq(seed),
        iterations = 5, damping = 0.85, topK = 50)
    }),
    // per-doc local clustering coefficient: clique-family (lcc→1) vs
    // shared-fragment-hub (lcc→0) topology over the same near-dup graph
    "d_lcc" -> ((s, d) =>
      graft.operators.Graph.localClusteringCoefficient(sharedDupPairs(s, d))
        .orderBy("doc_id")),
    // 2-core of the near-dup graph: strips dangling chain links before
    // community analysis (fixed 6-round peel, oracle unrolls the same)
    "d_kcore" -> ((s, d) =>
      graft.operators.Graph.kCore(sharedDupPairs(s, d), k = 2, rounds = 6)
        .orderBy("doc_id")),
    // degree assortativity of the near-dup graph: clique communities
    // (r > 0) vs template hubs (r < 0) — one exact-moment Pearson over
    // edge-endpoint degrees, decimal(38,0) sums, one double division
    "d_assort" -> ((s, d) =>
      graft.operators.Graph.degreeAssortativity(sharedDupPairs(s, d))),
    // 3-truss skeleton of the near-dup graph: edges surviving only while
    // triangle-supported (fixed 4-round peel, oracle unrolls the same) —
    // boilerplate hub spokes shear off where k-core keeps them
    "d_truss" -> ((s, d) =>
      graft.operators.Graph.kTruss(sharedDupPairs(s, d), k = 3, rounds = 4)),
    // synchronous label-propagation communities over the same pair graph:
    // the finer structure underneath d_cc (a single bridge doc never
    // outvotes a family's internal edges)
    // reads the session-shared LPA labeling (one 4-round propagation per
    // session serves this gate, the modularity decomposition and the ARI)
    // DESIGNATED BUILDER for the LPA labeling: the timed row runs the
    // 4-round synchronous propagation over the shared pair relation
    "d_labelprop" -> ((s, d) => {
      shared.rebuild("d_labelprop", s, d)
      sharedLpaLabels(s, d).orderBy("doc_id")
    }),
    // adjusted Rand index: how far the LPA communities differ from the
    // CC clusters over the same mined pair graph — BOTH labelings are the
    // session-shared relations (full lineage, so partitionAgreement's
    // input-consuming frees are structural no-ops on them)
    "d_ari" -> ((s, d) =>
      graft.operators.Graph.partitionAgreement(
        sharedCcClusters(s, d), sharedLpaLabels(s, d), "rep", "community")),
    // Newman modularity of the LPA partition, decomposed per community —
    // the shared labeling + the shared edge relation; only the three
    // modularity aggregations run per gate
    "d_modularity" -> ((s, d) =>
      graft.operators.Graph.modularity(
        sharedDupPairs(s, d).select("id_a", "id_b"), sharedLpaLabels(s, d))
        .orderBy("community")),
    // ingest-time corpus gate: docs with doc_id % 4 == 0 play the incoming
    // batch, the rest the historical corpus behind a signature index
    "d_gate" -> ((s, d) => {
      val all = docs(s, d)
      // materialized like the persisted index it stands in for: the corpus
      // is shingled once, not once per downstream reference
      val corpus = Dedup.signatureIndex(all.filter(col("doc_id") % 4 =!= 0)).localCheckpoint(true)
      Dedup.gateAgainstCorpus(all.filter(col("doc_id") % 4 === 0), corpus, 0.5)
        .select("doc_id").orderBy("doc_id")
    }),
    // asymmetric span coverage: n_shared / per-doc fingerprint count —
    // "fragment of" vs "contains" separation the symmetric pair count hides
    "d_winnow_contain" -> ((s, d) =>
      Dedup.winnowContainmentFrom(sharedWinnowPairs(s, d), sharedWinnowFps(s, d))
        .orderBy("id_a", "id_b")),
    // span-level ingest gate: batch docs sharing >= 2 winnow fingerprints
    // with any single archived doc are rejected (splice catcher at ingest)
    "d_winnow_gate" -> ((s, d) => {
      val all    = docs(s, d)
      val corpus = Dedup.winnowFpIndex(all.filter(col("doc_id") % 4 =!= 0)).localCheckpoint(true)
      Dedup.winnowGateAgainstCorpus(all.filter(col("doc_id") % 4 === 0), corpus)
        .select("doc_id").orderBy("doc_id")
    }),
    "d_simhash" -> ((s, d) => Dedup.simhashPairs(docs(s, d), 3).orderBy("id_a", "id_b")),
    // true duplicate clusters: connected components over the pair graph —
    // the labeling is the session-shared relation (one convergence loop
    // serves this gate, the histogram, the report, the weights, the ARI)
    // DESIGNATED BUILDER for the CC labeling: the timed row runs the
    // min-label convergence loop over the shared pair relation
    "d_cc" -> ((s, d) => {
      shared.rebuild("d_cc", s, d)
      sharedCcClusters(s, d).orderBy("doc_id")
    }),
    // dedup health report: cluster-size histogram over the CC labeling
    "d_cc_hist" -> ((s, d) =>
      Dedup.clusterSizeHistogram(sharedCcClusters(s, d)).orderBy("cluster_size")),
    // per-source duplicate-rate dashboard over the same labeling
    "d_report" -> ((s, d) =>
      Dedup.dedupReportFromClusters(sharedCcClusters(s, d), docs(s, d)).orderBy("source")),
    // duplicate-aware sampling weights: each near-dup component contributes
    // one doc's worth of mass (the soft alternative to dropping dups)
    "d_ccweight" -> ((s, d) =>
      Dedup.componentWeightsFromClusters(sharedCcClusters(s, d)).orderBy("doc_id")),
    // memorization-risk dashboard: per-source duplicated 8-gram posting rate
    "d_dupgrams" -> ((s, d) => Dedup.duplicatedNgramRate(docs(s, d), k = 8).orderBy("source")),
    // which sources copy from each other: near-dup pair counts per
    // unordered source pair (diagonal = within-source duplication)
    "d_crossdup" -> ((s, d) =>
      Dedup.crossSourceDuplicatesFromPairs(sharedDupPairs(s, d), docs(s, d))
        .orderBy("source_a", "source_b")),
    // boilerplate detector: per-doc fraction of shingles unique to the doc
    "d_novelty" -> ((s, d) => Dedup.noveltyScores(docs(s, d)).orderBy("doc_id")),
    // corpus-wide line/segment dedup: drop 4-word segments repeated across
    // >= 2 docs, reassemble surviving text per doc (CCNet/RefinedWeb pass)
    "d_lines" -> ((s, d) => Dedup.segmentDedup(docs(s, d), segWords = 4, minDocs = 2).orderBy("doc_id")),
    // threshold-tuning report: jaccard histogram over open LSH candidates
    "d_simcurve" -> ((s, d) =>
      Dedup.similarityHistogramFrom(sharedScoredCandidates(s, d)).orderBy("sim_bin")),
    // signature-quality report: estimated vs exact jaccard per candidate
    "d_esterr" -> ((s, d) =>
      Dedup.minhashErrorReportFrom(sharedScoredCandidates(s, d)).orderBy("id_a", "id_b")),
    // eval-set decontamination: docs with doc_id % 10 == 0 play the
    // benchmark; shingleK=5 (13 in practice) so the tiny fixture overlaps
    "d_decon" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.decontaminate(all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0), shingleK = 5)
        .select("doc_id").orderBy("doc_id")
    }),
    // Bloom-prefiltered twin of d_decon (SAME oracle SQL): bloom admits no
    // false negatives and the exact confirm join kills false positives, so
    // the green shared gate proves prefilter+confirm ≡ exact, cross-engine
    "d_bloom" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.decontaminateBloom(all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0), shingleK = 5)
        .select("doc_id").orderBy("doc_id")
    }),
    // Lee-et-al-style exact-substring signal: span hashes repeated across
    // >= 2 docs, and the per-doc repeated-span counts (spanK=5 at gate SF)
    // end-to-end split integrity: holdout split, then scrub every train
    // doc sharing a shingle with the TEST split (no eval leakage survives
    // the composed lineage — the guarantee a training pipeline ships)
    "d_split_decon" -> ((s, d) => {
      val split = Sampling.holdoutSplit(docs(s, d),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.decontaminate(
        split.filter(col("split") === "train"),
        split.filter(col("split") === "test"), shingleK = 5)
        .select("doc_id").orderBy("doc_id")
    }),
    "d_spans" -> ((s, d) => Dedup.repeatedSpans(docs(s, d), spanK = 5).orderBy("span_hash")),
    "d_span_docs" -> ((s, d) => Dedup.spanContaminatedDocs(docs(s, d), spanK = 5).orderBy("doc_id")),
    // audit companion of d_decon: per-doc shared-shingle counts, minHits=2
    // guards against single common n-grams
    "d_decon_hits" -> ((s, d) => {
      val all = docs(s, d)
      Dedup.contaminationReport(all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0),
        shingleK = 5, minHits = 2L).orderBy("doc_id")
    }),
    // near-dup mining runs the SCALABLE banded path (no cartesian join in
    // any gate plan); cosinePairs stays a brute-force baseline. Plane/table
    // counts are pinned literals because OracleGen must embed the same
    // hyperplane arrays in the DuckDB replay — real corpora derive them
    // from n via Similarity.planesFor/tablesFor (sizing is spec-covered)
    "d_embed"   -> ((s, d) => Similarity.lshCosinePairs(emb(s, d), 0.4, planesPerTable = 7, tables = 12).orderBy("id_a", "id_b")),
    // embedding twin of d_gate: vec_id % 4 == 0 plays the incoming batch
    // against a pre-hashed vector index of the rest
    "d_embed_gate" -> ((s, d) => {
      val all = emb(s, d)
      val corpus = Similarity.vectorIndex(all.filter(col("vec_id") % 4 =!= 0), planesPerTable = 7, tables = 12)
        .localCheckpoint(true) // stands in for the persisted index
      Similarity.gateAgainstCorpus(all.filter(col("vec_id") % 4 === 0), corpus, 0.4,
        planesPerTable = 7, tables = 12).select("vec_id").orderBy("vec_id")
    }),
    // exact cross-check over a BOUNDED id subset: unlike the LSH oracles
    // (which mirror the bucketing algorithm), this one is independent of
    // the LSH code path — a bucketing bug replicated into OracleGen would
    // fail here
    "d_embed_exact" -> ((s, d) => Similarity.cosinePairs(emb(s, d).filter(col("vec_id") < 500), 0.4).orderBy("id_a", "id_b")),
    // single-pass vector dedup: keep every vector with no smaller-id near-dup
    "d_embed_dedup" -> ((s, d) => Similarity.deduplicated(emb(s, d), 0.4,
      planesPerTable = 7, tables = 12).select("vec_id").orderBy("vec_id")),
    // ---- similarity search
    "ann_topk" -> ((s, d) => {
      val q = emb(s, d).filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb(s, d), q, 20).withColumn("sim", round(col("sim"), 3))
    }),
    // PCA by deterministic power iteration: top-2 coordinates per vector
    // (reduce-then-index) and the explained-variance spectrum report
    "ann_pca" -> ((s, d) =>
      Similarity.pcaProjectFrom(sharedPcaModel(s, d), emb(s, d), k = 2).orderBy("vec_id")),
    "ann_pcavar" -> ((s, d) =>
      Similarity.pcaVarianceReportFrom(sharedPcaModel(s, d), s, k = 2).orderBy("component")),
    "ann_whiten" -> ((s, d) =>
      Similarity.pcaProjectFrom(sharedPcaModel(s, d), emb(s, d), k = 2, whiten = true)
        .orderBy("vec_id")),
    // reduce-then-index end-to-end: PCA-reduced cosine shortlist (4 of 64
    // dims scanned), exact full-dimension re-rank of the candidates
    "ann_pca_topk" -> ((s, d) =>
      Similarity.pcaTopKRerankFrom(sharedPcaModel(s, d), emb(s, d), qid = 0L, k = 10, nCand = 50, kDims = 4)),
    // embedding distribution drift between the parity halves of the corpus
    "ann_drift" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.embeddingDrift(e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1))
    }),
    // isotropy health of the embedding space: exact mean pairwise cosine
    // via ||Σu||² − Σ||u||² (one pass, never a pair join) + centroid norm
    "ann_isotropy" -> ((s, d) => Similarity.isotropyReport(emb(s, d))),
    // FILTERED vector search (the vector-DB "metadata pre-filter" shape):
    // the predicate pushes into the scan BEFORE scoring, so a selective
    // filter shrinks the candidate set instead of post-filtering top-k —
    // at IVF scale the same predicate rides the centroid-partitioned scan
    "ann_filter" -> ((s, d) => {
      val q = emb(s, d).filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.bruteForceTopK(emb(s, d).filter(col("label") === 3), q, 10)
        .withColumn("sim", round(col("sim"), 3))
    }),
    "ann_lsh" -> ((s, d) => Similarity.lshCosinePairs(emb(s, d), 0.4).orderBy("id_a", "id_b")),
    // the AUTO-SIZED path a real corpus would call: k = log2(n)+margin sign
    // bits and L = recall-holding table count are DERIVED from the live
    // corpus count (one count() job), not pinned — the oracle derives the
    // same values from the same count via the same sizing functions
    "ann_lsh_auto" -> ((s, d) => Similarity.lshCosinePairsAuto(emb(s, d), 0.4,
      simTarget = 0.9, recall = 0.9, margin = 1).orderBy("id_a", "id_b")),
    // same derived sizing under 1-bit multi-probe: several-fold fewer
    // tables for the same recall (L sized by tablesForMultiProbe)
    "ann_lsh_mp" -> ((s, d) => Similarity.lshCosinePairsAuto(emb(s, d), 0.4,
      simTarget = 0.9, recall = 0.9, margin = 1, multiProbe = true).orderBy("id_a", "id_b")),
    "ann_ivf" -> ((s, d) => {
      val e   = emb(s, d)
      val idx = Similarity.ivfBuild(e, nlist = 16, refineIterations = 1)
      val q   = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.ivfTopK(idx.assigned, idx.centroids, q, 20, nprobe = 4)
        .withColumn("sim", round(col("sim"), 3))
    }),
    // product quantization: 8 subspaces x 16 sub-centroids (seeds-suffice
    // codebook), ADC top-20 — the compressed-domain ANN (codes are 32x
    // smaller than raw vectors; no vector is decoded at query time)
    "ann_pq" -> ((s, d) => {
      val e  = emb(s, d)
      val ix = Similarity.pqBuild(e, m = 8, kpq = 16)
      val q  = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.pqTopK(ix, q, k = 20)
    }),
    // two-stage retrieval: ADC shortlists 60 compressed-domain candidates,
    // exact cosine re-ranks the shortlist's raw vectors to the final 20
    "ann_pq_rerank" -> ((s, d) => {
      val e  = emb(s, d)
      val ix = Similarity.pqBuild(e, m = 8, kpq = 16)
      val q  = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.pqTopKRerank(ix, e, q, k = 20, nCand = 60)
    }),
    // 1-bit sign quantization: Hamming shortlist (32x smaller packed),
    // exact fp re-rank — the far end of the compression spectrum
    "ann_1bit" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.oneBitTopKRerank(e, q, k = 20, nCand = 60)
    }),
    // int8 scalar quantization: integer-dot shortlist (4x smaller stored
    // form, codebook-free), exact fp re-rank of 60 candidates
    "ann_int8" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.int8TopKRerank(e, q, k = 20, nCand = 60)
    }),
    // Matryoshka progressive retrieval: first-16-dims cosine shortlist
    // (quarter of the flops/bytes), exact 64-dim re-rank of 60 candidates
    "ann_mrl" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.matryoshkaTopK(e, q, k = 20, nCand = 60, dPrefix = 16)
    }),
    // IVF-PQ: coarse seed lists prune to nprobe/nlist of the corpus, ADC
    // ranks only the probed lists — the production compressed-ANN shape
    "ann_ivfpq" -> ((s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.ivfPqTopK(e, q, k = 20, nlist = 16, nprobe = 4, m = 8, kpq = 16)
    }),
    // ... and with corpus-derived sizing: nlist = ceil(sqrt n), nprobe =
    // nlist/4 — the real 100 TB entry point, no pinned index parameters
    "ann_ivf_auto" -> ((s, d) => {
      val e   = emb(s, d)
      val idx = Similarity.ivfBuildAuto(e)
      val q   = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      // nprobe from the count-derived nlist (NOT idx.centroids.size: a
      // Lloyd step can empty a centroid, and the oracle derives from n)
      Similarity.ivfTopK(idx.assigned, idx.centroids, q, 20,
        nprobe = Similarity.nprobeFor(Similarity.nlistFor(e.count())))
        .withColumn("sim", round(col("sim"), 3))
    }),
    // SemDeDup: IVF clusters bound the pairwise cosine to within-cluster
    "sem_dedup" -> ((s, d) => Similarity.semDedup(emb(s, d), 0.4, nlist = 16).orderBy("id")),
    // cluster cohesion panel over the same k-means assignment
    "sem_report" -> ((s, d) => Similarity.clusterReport(emb(s, d), nlist = 16).orderBy("centroid")),
    // embedding-quality audit: bottom-20 members by within-cluster
    // centroid-cosine z — the re-embed/re-label review queue
    "sem_outlier" -> ((s, d) => Similarity.clusterOutliers(emb(s, d), nlist = 16, k = 20)),
    // label-side health: per-cluster majority-label share
    "sem_purity" -> ((s, d) => Similarity.clusterPurity(emb(s, d), nlist = 16).orderBy("centroid")),
    // farthest-point k-center coreset: the maximally-diverse 8-vector
    // panel + its coverage-radius curve (diversity-first data pruning)
    "sem_kcenter" -> ((s, d) => Similarity.kCenterCoreset(emb(s, d), k = 8).orderBy("rank")),
    // index-health harness: recall@20 of the probed IVF vs brute force
    "ann_recall" -> ((s, d) => {
      val e   = emb(s, d)
      val idx = Similarity.ivfBuild(e, nlist = 16, refineIterations = 1)
      val q   = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      Similarity.recallAtK(
        Similarity.ivfTopK(idx.assigned, idx.centroids, q, 20, nprobe = 4),
        Similarity.bruteForceTopK(e, q, 20).select(col("vec_id").as("id")))
    }),
    // diversity complement of SemDeDup: cap each semantic cluster's
    // contribution, keeping the most prototypical members
    "sem_balance" -> ((s, d) =>
      Similarity.clusterBalancedSample(emb(s, d), nlist = 16, perCluster = 10).orderBy("id")),
    // batch retrieval: per-query top-k against the pre-hashed corpus index
    "ann_join" -> ((s, d) => {
      val all = emb(s, d)
      // the session-shared persisted (6,8) index (one build serves
      // ann_join/ann_negatives/ann_ndcg/ann_knn — the written-ANN-index
      // contract; each gate used to rebuild + checkpoint it)
      Similarity.annJoin(all.filter(col("vec_id") % 50 === 0),
        sharedVectorIndex68(s, d), k = 5,
        planesPerTable = 6, tables = 8).orderBy("query_id", "rank")
    }),
    // full contrastive-triplet composition: text near-dup positives
    // (minhash), embedding hard negatives, positive excluded pre-rank
    "ann_triplets" -> ((s, d) =>
      Similarity.contrastiveTriplets(docs(s, d), emb(s, d),
        jaccardThreshold = 0.5, m = 3, dupCut = 0.95, searchK = 10,
        pairsIn = Some(sharedDupPairs(s, d)),
        corpusIn = Some(sharedVectorIndex68(s, d)))
        .orderBy("anchor_id", "neg_rank")),
    // contrastive hard negatives: top-10 retrieval, near-dups (sim >= .95)
    // dropped as unlabeled positives, top-5 kept per query
    "ann_negatives" -> ((s, d) => {
      val all = emb(s, d)
      Similarity.hardNegatives(all.filter(col("vec_id") % 50 === 0),
        sharedVectorIndex68(s, d),
        m = 5, dupCut = 0.95, searchK = 10, planesPerTable = 6, tables = 8)
        .orderBy("query_id", "neg_rank")
    }),
    // margin-based pair mining between the even/odd vector halves: ratio
    // margin over LSH cross-set candidates, mutual argmax, threshold
    "ann_margin" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.marginPairs(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        k = 4, threshold = 1.0).orderBy("id_a")
    }),
    // 1-bit multi-probe retrieval: half the tables (= half the persisted
    // index), queries probe each bucket's sign-flips instead
    "ann_join_mp" -> ((s, d) => {
      val all    = emb(s, d)
      val corpus = Similarity.vectorIndex(all, planesPerTable = 6, tables = 4)
        .localCheckpoint(true)
      Similarity.annJoin(all.filter(col("vec_id") % 50 === 0), corpus, k = 5,
        planesPerTable = 6, tables = 4, multiProbe = true).orderBy("query_id", "rank")
    }),
    // corpus-derived retrieval sizing: planesFor/tablesFor from the live
    // count — the parameters a real deployment runs
    "ann_join_auto" -> ((s, d) => {
      val all = emb(s, d)
      val kP  = Similarity.planesFor(all.count())
      val lT  = Similarity.tablesFor(kP, simTarget = 0.9, recall = 0.9)
      val corpus = Similarity.vectorIndex(all, planesPerTable = kP, tables = lT)
        .localCheckpoint(true)
      Similarity.annJoin(all.filter(col("vec_id") % 50 === 0), corpus, k = 5,
        planesPerTable = kP, tables = lT).orderBy("query_id", "rank")
    }),
    // order-sensitive retrieval eval (nDCG/MRR/P@k of the ANN top-k
    // against label relevance); ann_knn below is k-NN label propagation
    // (majority vote over the same neighbor lists)
    "ann_ndcg" -> ((s, d) => {
      val all = emb(s, d)
      val nn = Similarity.annJoin(all.filter(col("vec_id") % 50 === 0),
        sharedVectorIndex68(s, d), k = 10, planesPerTable = 6, tables = 8)
      Similarity.rankEval(nn, all, k = 10).orderBy("query_id")
    }),
    "ann_knn" -> ((s, d) => {
      val all = emb(s, d)
      Similarity.knnClassify(all.filter(col("vec_id") % 50 === 0),
        sharedVectorIndex68(s, d), all, k = 10,
        planesPerTable = 6, tables = 8).orderBy("query_id")
    }),
    // ---- text analysis
    "tx_tokens"      -> ((s, d) => TextAnalysis.tokenStats(docs(s, d)).orderBy("doc_id")),
    // sliding-window chunking: 32-token chunks every 24 tokens (8 overlap)
    "tx_chunk"       -> ((s, d) => TextAnalysis.chunkDocuments(docs(s, d), 32, 24).orderBy("doc_id", "chunk_idx")),
    // one-pass CUBE dashboard: per (lang×source), per lang, per source, total
    "tx_rollup"      -> ((s, d) => TextAnalysis.corpusReport(docs(s, d)).orderBy("gid", "lang", "source")),
    // distribution-shift alarm: per-source unigram KL vs the corpus mix
    "tx_drift"       -> ((s, d) => TextAnalysis.sourceDrift(docs(s, d)).orderBy("source")),
    // DSIR importance weights: src0 docs play the curated target domain
    "tx_dsir" -> ((s, d) => {
      val all = docs(s, d)
      TextAnalysis.importanceWeights(all, all.filter(col("source") === "src0")).orderBy("doc_id")
    }),
    // Gopher rule panel: per-rule flags + composite keep over word count,
    // mean word length, symbol ratio and distinct-stopword presence
    "tx_gopher" -> ((s, d) => TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),
    // CCNet-style cross-perplexity: score every doc under the src0 bigram LM
    "tx_xent" -> ((s, d) => {
      val all = docs(s, d)
      TextAnalysis.crossBigramScore(all, all.filter(col("source") === "src0")).orderBy("doc_id")
    }),
    // CCNet head/middle/tail thirds over the same target-LM scores
    "tx_pplbucket" -> ((s, d) => {
      val all = docs(s, d)
      TextAnalysis.perplexityBuckets(all, all.filter(col("source") === "src0")).orderBy("doc_id")
    }),
    // the composed resampling half: top-quarter slice by DSIR weight
    // (TakeOrderedAndProject — per-partition top-k, no global sort)
    "tx_dsir_top" -> ((s, d) => {
      val all = docs(s, d)
      val w = TextAnalysis.importanceWeights(all, all.filter(col("source") === "src0"))
      Sampling.topFractionBy(w, 0.25, "weight").orderBy("doc_id")
    }),
    // scale-free quality normalization: percentile within each language
    "tx_qnorm" -> ((s, d) => {
      val quality = TextAnalysis.qualityCols(col("text"))._4
      graft.operators.Relational.percentRankWithin(
        docs(s, d).select(col("doc_id"), col("lang"), quality.as("quality")),
        Seq("lang"), "quality").orderBy("doc_id")
    }),
    "tx_quality"     -> ((s, d) => TextAnalysis.qualityScore(docs(s, d)).orderBy("doc_id")),
    "tx_langid"      -> ((s, d) => TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),
    "tx_langacc"     -> ((s, d) => TextAnalysis.langIdAccuracy(docs(s, d))),
    "tx_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),
    // greenlist-watermark z-score per doc: the synthetic-text bias audit
    // (hash-parity greenlist, RNG-free, engine-identical)
    "tx_watermark" -> ((s, d) => TextAnalysis.watermarkScores(docs(s, d)).orderBy("doc_id")),
    // deterministic source-interleaved training-order prefix: round-robin
    // across sources, portable-hash shuffle within each — identical on
    // any engine/partitioning/rerun (an RNG shuffle is exactly what a
    // reproducible data order cannot be built on)
    "tx_interleave" -> ((s, d) =>
      graft.pipeline.Sampling.interleaveBySource(docs(s, d), k = 100)),
    // encoding-anomaly (mojibake) rates per source: control chars injected
    // on every 13th doc, U+FFFD on every 17th (13∧17 overlap → control
    // branch wins, mirrored in the oracle CASE order)
    "tx_mojibake" -> ((s, d) => {
      val dirty = docs(s, d).withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit("\u0001\u0002")))
          .when(col("doc_id") % 17 === 0, concat(col("text"), lit("\uFFFD")))
          .otherwise(col("text")))
      TextAnalysis.encodingAnomalies(dirty).orderBy("source")
    }),
    // Gopher-style repetition signals: one row-local projection, no shuffle
    "tx_rep" -> ((s, d) => TextAnalysis.repetitionSignals(docs(s, d)).orderBy("doc_id")),
    // unigram-LM score: vocabSize=20 < the corpus vocab, so OOV floor is live
    "tx_lm" -> ((s, d) => TextAnalysis.unigramLogProb(docs(s, d), vocabSize = 20).orderBy("doc_id")),
    // add-one-smoothed bigram LM mean log-likelihood (fluency signal);
    // per-doc mean = sorted fold / count, bit-identical across engines
    "tx_lm2" -> ((s, d) => TextAnalysis.bigramLogProb(docs(s, d)).orderBy("doc_id")),
    // per-lang exact token-count percentiles (linear interpolation)
    "tx_quantile" -> ((s, d) => TextAnalysis.tokenQuantiles(docs(s, d)).orderBy("lang")),
    // drop the shortest half of every language (per-group percentile floor)
    "tx_qfilter" -> ((s, d) => TextAnalysis.filterByTokenQuantile(docs(s, d), 0.5)
      .select("doc_id", "lang").orderBy("doc_id")),
    // per-source quality cap: WindowGroupLimit prunes map-side before the shuffle
    "tx_cap" -> ((s, d) => pipeline.Curate.capPerGroup(docs(s, d), 10).orderBy("doc_id")),
    // PII scrub: chained codegen'd regexp_replace, stage-sequential hit counts
    "tx_scrub" -> ((s, d) => TextAnalysis.scrubPii(docs(s, d))
      .select("doc_id", "text", "pii_hits").orderBy("doc_id")),
    // canonical normalization: lowercase / strip control / collapse spaces
    "tx_norm" -> ((s, d) => TextAnalysis.normalizeText(docs(s, d))
      .select("doc_id", "text", "n_chars_norm").orderBy("doc_id")),
    // composed curation pipeline: exact dedup + language allowlist +
    // quality floor + token bounds in one digest shuffle + one projection
    "tx_curate" -> ((s, d) => pipeline.Curate.curate(docs(s, d), keepLangs = Seq("en", "de"),
      minQuality = 0.5, minTokens = 5, maxTokens = 10000).orderBy("doc_id")),
    // deterministic training-mix sampling: per-language hash rates
    "tx_sample" -> ((s, d) => Sampling.stratifiedHashSample(docs(s, d), "lang",
      Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.25)).select("doc_id", "lang").orderBy("doc_id")),
    // size-proportional sampling: keep probability ∝ n_chars, id-hash decided
    "tx_wsample" -> ((s, d) => Sampling.weightedHashSample(docs(s, d), 0.5, "n_chars")
      .select("doc_id", "n_chars").orderBy("doc_id")),
    // corpus-driven temperature mix: rates from live counts, share ∝ √count
    "tx_temp" -> ((s, d) => Sampling.temperatureSample(docs(s, d), "lang",
      temperature = 2.0, totalFraction = 0.5).select("doc_id", "lang").orderBy("doc_id")),
    // DoReMi-style domain reweighting: multiplicative-weights tilt toward
    // high-deficit languages, exp-free so the oracle replays it exactly
    "tx_doremi" -> ((s, d) => Sampling.domainReweight(docs(s, d)).orderBy("domain")),
    // token-budget selection: best-quality docs filling a fixed budget
    "tx_budget" -> ((s, d) => Sampling.tokenBudget(docs(s, d), 15000L).select("doc_id").orderBy("doc_id")),
    // sequence packing: distributed prefix sum over the corpus token stream
    "tx_pack" -> ((s, d) => Sampling.packSequences(docs(s, d), 256L).orderBy("doc_id")),
    // packing-efficiency report: per-sequence fill, waste and overflow
    "tx_packwaste" -> ((s, d) =>
      Sampling.packingReport(Sampling.packSequences(docs(s, d), 256L), 256L).orderBy("seq_id")),
    // balanced training-shard deal: round-robin over the size-sorted stream
    "tx_shards" -> ((s, d) => Sampling.assignShards(docs(s, d), nShards = 8).orderBy("doc_id")),
    "tx_shardbal" -> ((s, d) =>
      Sampling.shardBalance(Sampling.assignShards(docs(s, d), nShards = 8)).orderBy("shard")),
    // the WHOLE composed training-mix pipeline end-to-end: curate →
    // decontaminate (doc_id % 10 == 0 plays the eval set) → near-dup CC
    // representatives → stratified language mix → sequence packing
    "tx_mix" -> ((s, d) => {
      val all = docs(s, d)
      pipeline.Curate.trainingMix(
        all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0),
        mixRates = Map("en" -> 0.5, "de" -> 1.0), seqTokens = 256L,
        keepLangs = Seq("en", "de"), minQuality = 0.5,
        nearDupThreshold = 0.5, deconShingleK = 5).orderBy("doc_id")
    }),
    // ... and with EVERY optional stage on: PII scrub, repetition reject,
    // per-source quality cap — the full modern-curation composition
    "tx_mix2" -> ((s, d) => {
      val all = docs(s, d)
      pipeline.Curate.trainingMix(
        all.filter(col("doc_id") % 10 =!= 0), all.filter(col("doc_id") % 10 === 0),
        mixRates = Map("en" -> 0.5, "de" -> 1.0), seqTokens = 256L,
        keepLangs = Seq("en", "de"), minQuality = 0.5,
        nearDupThreshold = 0.5, deconShingleK = 5,
        scrub = true, maxRepetition = Some((0.7, 0.2, 0.9)), perSourceCap = Some(15)).orderBy("doc_id")
    }),
    // ---- relational operators Spark lacks: as-of join and range join
    // (union+running-window / time-bucketed shapes — no inequality-only
    // join, no per-key cartesian at any scale)
    // timestamps compare at MICROsecond precision on both sides: DuckDB
    // truncates the parquet nanos type to micros on read, so nano-precision
    // comparisons could order boundary rows differently across engines
    "ev_asof" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts")
      // unique (user, ts) right side: the asofJoin determinism contract
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(round(max("value"), 3).as("click_value"))
      graft.operators.Relational.asofJoin(purchases, clicks, Seq("user_id"), "ts", "ts")
        .orderBy("event_id")
    }),
    "ev_range" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id"), col("ts").as("c_ts"))
      graft.operators.Relational.rangeJoin(purchases, clicks, Seq("user_id"),
        "p_ts", "c_ts", -3600000000L, 3600000000L) // ±1 h in us
        .select("p_id", "c_id").orderBy("p_id", "c_id")
    }),
    // cohort retention triangle: first-seen week vs active week per user
    "ev_retention" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.retention(ev.select("user_id", "ts"),
        "user_id", "ts", 604800000000L) // 1 week in us
        .orderBy("cohort", "bucket_offset")
    }),
    // ordered-stage funnel: greedy-earliest matching per user
    // funnel step TRANSITION TIMES: per consecutive pair, exact type-1
    // p50/p90 seconds between a user's first occurrences — "how fast do
    // converters move", the latency the stage counts can't see
    "ev_steptime" -> ((s, d) =>
      graft.operators.Relational.stepTransitionTimes(sharedEvByUser(s, d),
        Seq("view", "click", "purchase"))),
    "ev_funnel" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.funnelCounts(ev.select("user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("stage_idx")
    }),
    // the same funnel time-boxed: convert within 3 days of the first view
    "ev_wfunnel" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.funnelCountsWithin(ev.select("user_id", "ts", "event_type"),
        Seq("user_id"), "ts", "event_type", Seq("view", "click", "purchase"),
        windowTs = 3L * 86400000000L)
        .orderBy("stage_idx")
    }),
    // arrival-cadence panel: p50/p90 inter-event gaps per type
    "ev_gaps" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.interEventGaps(ev).orderBy("event_type")
    }),
    // last-touch attribution: asofJoin composition, credit per touch type
    "ev_attr" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.lastTouchAttribution(ev,
        Seq("click", "signup", "view"), "purchase").orderBy("touch")
    }),
    // outlier-robust per-type mean: clamp to [p05, p95] then average
    "ev_winsor" -> ((s, d) => {
      val ev = evRaw(s, d)
      graft.operators.Relational.winsorizedMean(ev.select("event_type", "value"),
        Seq("event_type"), "value", 0.05, 0.95).orderBy("event_type")
    }),
    // gaps-and-islands sessionization: one shuffle, stacked windows
    "ev_sessions" -> ((s, d) => {
      val ev = sharedEvByUser(s, d)
      graft.operators.Relational.sessionStats(ev.select("user_id", "ts"),
        Seq("user_id"), "ts", 3600000000L) // 1 h gap in us
        .orderBy("user_id", "session_idx")
    }),
    // ---- time-series analytics (operators/TimeSeries): grid resample,
    // gap-fill interpolation, counter rates, rolling range aggregates and
    // z-score outliers — per-key windowed, one-or-two-shuffle shapes
    // DESIGNATED BUILDER for the hourly grid: the timed row runs the
    // floor-to-bucket + snapped-mean aggregation over the raw events
    "ts_resample" -> ((s, d) => {
      shared.rebuild("ts_resample", s, d)
      sharedHourlyGrid(s, d).orderBy("event_type", "ts")
    }),
    // resample→gap-fill composed: the hourly grid has ~5-7% holes per type
    "ts_gapfill" -> ((s, d) => {
      val grid = sharedHourlyGrid(s, d)
      TimeSeries.gapFill(grid, Seq("event_type"), "ts", "value", HourUs)
        .orderBy("event_type", "ts")
    }),
    // monotonic-counter semantics over the value series (resets detected)
    "ts_rate" -> ((s, d) =>
      TimeSeries.counterRate(evUs(s, d), Seq("event_type"), "ts", "value")
        .orderBy("event_type")),
    // trailing 1 h RANGE frame per type: count + average, tie-peer inclusive
    "ts_roll" -> ((s, d) =>
      TimeSeries.rolling(evUs(s, d), Seq("event_type"), "ts", "value", HourUs)
        .orderBy("event_type", "ts")),
    // per-type z-score anomaly flags (threshold 3.0: every |z| at both SFs
    // clears the boundary by >= 2e-4, far beyond cross-engine float noise)
    "ts_zscore" -> ((s, d) =>
      TimeSeries.zscoreOutliers(evUs(s, d), Seq("event_type"), "value", 3.0)
        .orderBy("event_type", "ts")),
    // anomaly EPISODES: the hourly-grid z flags island-merged on the exact
    // integer anchor ts − step·row_number (one row per alert episode)
    "ts_anomint" -> ((s, d) =>
      TimeSeries.anomalyIntervals(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        threshold = 2.5, gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type", "start_ts")),
    // robust (median/MAD) anomaly flags — the Hampel test. Threshold 3.75:
    // the 2 dp value lattice puts deviations EXACTLY on t×MAD for many
    // round t (measured margin ~1e-16 at 3.0-3.6 at sf0.1); at 3.75 every
    // point clears the boundary by >= 8e-5 relative at both SFs
    "ts_mad" -> ((s, d) =>
      TimeSeries.madOutliers(evUs(s, d), Seq("event_type"), "value", 3.75)
        .orderBy("event_type", "ts")),
    // top-5 largest sample-to-sample jumps per type (exact deltas)
    "ts_delta" -> ((s, d) =>
      TimeSeries.largestDeltas(evUs(s, d), Seq("event_type"), "ts", "value", k = 5)
        .orderBy("event_type", "rank")),
    // hour-of-day seasonal baseline per type (bounded |keys|x24 result)
    "ts_profile" -> ((s, d) =>
      TimeSeries.seasonalProfile(evUs(s, d), Seq("event_type"), "ts", "value",
        width = HourUs, period = 24).orderBy("event_type", "phase")),
    // EWMA smoothing scan over the hourly grid (sequential per-key fold;
    // alpha=0.25 spelled identically in both engines -> bit-identical)
    "ts_ewma" -> ((s, d) =>
      TimeSeries.ewmaScan(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        alpha = 0.25, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // Page's CUSUM change statistic over the hourly grid (two-sided),
    // mean + scans all ts-ordered folds -> bit-identical unrounded doubles
    "ts_cusum" -> ((s, d) =>
      TimeSeries.cusumScan(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        slack = 0.5, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // sample autocorrelation at lags 1..6 per type (wide |keys|x8 profile;
    // every statistic a ts-ordered fold -> bit-identical unrounded)
    "ts_acf" -> ((s, d) =>
      TimeSeries.acfProfile(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        maxLag = 6, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // PACF via Durbin-Levinson over the hourly-grid ACF: the AR-order
    // cut-off signature the ACF alone cannot show
    "ts_pacf" -> ((s, d) =>
      TimeSeries.pacfProfile(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        maxLag = 4, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // lagged cross-correlation click→error on the shared hourly grid (one
    // conditional-agg pass; every statistic a ts-ordered fold)
    "ts_xcorr" -> ((s, d) =>
      TimeSeries.crossCorrelation(evUs(s, d), "event_type", "ts", "value", HourUs,
        "click", "error", maxLag = 6)),
    // Holt linear-trend smoothing + one-step forecast (coupled struct
    // recurrence; level spelled inside trend identically in both engines)
    "ts_holt" -> ((s, d) =>
      TimeSeries.holtScan(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        alpha = 0.5, beta = 0.25, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // Holt–Winters triple smoothing: level + trend + rolling 24-slot
    // additive seasonal vector (the forecaster that tracks both a trend
    // and the daily cycle holtScan smears into the trend)
    "ts_hw" -> ((s, d) =>
      TimeSeries.holtWintersScan(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        period = 24, alpha = 0.5, beta = 0.25, gamma = 0.25,
        gridIn = Some(sharedGridSeries(s, d)))
        .orderBy("event_type", "ts")),
    // walk-forward forecast eval: one-step-ahead MAE/RMSE of the Holt scan
    "ts_backtest" -> ((s, d) =>
      TimeSeries.holtBacktest(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        alpha = 0.5, beta = 0.25, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // scale-free forecast eval: Holt MAE over the naive (lag-1) MAE on the
    // same horizon — mase < 1 = the model beats "predict yesterday"
    "ts_mase" -> ((s, d) =>
      TimeSeries.maseBacktest(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        alpha = 0.5, beta = 0.25, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // dominant-period auto-detect: ANOVA phase-variance strength over
    // candidate periods 2..24 on the hourly grid (exact phase sums — no
    // transcendentals, so the oracle replays it bit-identically)
    "ts_period" -> ((s, d) =>
      TimeSeries.dominantPeriod(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // turning-point randomness test: exact strict-extrema count on the
    // hourly cent grid + Kendall's z vs the i.i.d.-noise expectation —
    // the is-there-even-signal preflight before trend/decomp spend
    "ts_turning" -> ((s, d) =>
      TimeSeries.turningPointTest(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // Wald–Wolfowitz runs test: distribution-free randomness check around
    // the exact median on the hourly grid — too few runs = trending,
    // too many = oscillating (the permutation-moment companion to
    // ts_turning's derivative-sign test)
    "ts_runs" -> ((s, d) =>
      TimeSeries.runsTest(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // Bandt–Pompe permutation entropy (m=3): ordinal-pattern complexity
    // on the hourly grid — noise-like (→1) vs ordered regimes (→0); the
    // ORDER-structure companion to ts_runs/ts_turning
    "ts_pentropy" -> ((s, d) =>
      TimeSeries.permutationEntropy(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // CUSUM-argmax changepoint: the most likely level-shift hour per key
    "ts_cpt" -> ((s, d) =>
      TimeSeries.changePoint(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // classical additive decomposition: centered 2x24 MA trend, per-phase
    // seasonal means of the detrended grid, residual — all in-array folds
    "ts_decomp" -> ((s, d) =>
      TimeSeries.decompose(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        period = 24, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // de-seasonalized alarms: residual channel cut at k x per-key RMS
    "ts_sanom" -> ((s, d) =>
      TimeSeries.seasonalAnomalies(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        period = 24, k = 2.0, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // seasonal/trend strength triage (Hyndman F_T/F_S): which model does
    // each metric deserve — cycle, line, or plain outlier cuts
    "ts_strength" -> ((s, d) =>
      TimeSeries.seasonStrength(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        period = 24, gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type")),
    // per-type OLS trend on the hourly grid, forecast one day out
    "ts_trend" -> ((s, d) =>
      TimeSeries.trendForecast(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        horizon = 24, gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // Theil–Sen robust trend on the same hourly grid: exact median of all
    // pairwise grid slopes — the outlier-proof line next to ts_trend's OLS
    "ts_theilsen" -> ((s, d) =>
      TimeSeries.theilSen(evUs(s, d), Seq("event_type"), "ts", "value", HourUs,
        gridIn = Some(sharedHourlyGrid(s, d))).orderBy("event_type")),
    // LTTB: 24-point visual downsample of each type's hourly grid
    "ts_lttb" -> ((s, d) =>
      TimeSeries.lttb(evUs(s, d), Seq("event_type"), "ts", "value", HourUs, nOut = 24,
        gridIn = Some(sharedGridSeries(s, d))).orderBy("event_type", "ts")),
    // incrementally-maintained rollup: stats built on two disjoint event
    // slices then MERGED must equal a full recompute (proven cross-engine
    // against DuckDB's direct aggregation over all events)
    "roll_maint" -> ((s, d) => {
      val ev = evUsAll(s, d).select("event_id", "event_type", "ts", "value")
      // the two disjoint slices build in ONE grouped pass (the segment id
      // rides the grouping key), so the events parquet scans once instead
      // of once per slice; the per-segment stats rows are exactly the
      // union merge() would form, and coalesceStats IS merge's kernel —
      // same stats algebra, same result, half the input scans
      val seg = ev.withColumn("__seg", (col("event_id") % 5 === 0).cast("int"))
      val perSeg = Rollup.build(seg, Seq("event_type", "__seg"), "ts", "value", HourUs)
      Rollup.serve(Rollup.coalesceStats(perSeg.drop("__seg"))).orderBy("event_type", "bucket")
    }),
    // hourly → daily re-grain without touching raw events: coarser serving
    // aggregates derived from the stats table alone
    // trailing 24h window served from the hourly stats cells (RANGE
    // frame over bucket value: gaps contribute nothing)
    "roll_moving" -> ((s, d) =>
      Rollup.movingWindow(
        Rollup.build(evUs(s, d), Seq("event_type"), "ts", "value", HourUs),
        HourUs, windowSteps = 24).orderBy("event_type", "bucket")),
    "roll_regrain" -> ((s, d) => {
      val hourly = Rollup.build(evUs(s, d), Seq("event_type"), "ts", "value", HourUs)
      Rollup.serve(Rollup.regrain(hourly, 24 * HourUs)).orderBy("event_type", "bucket")
    }),
    // weekly-cohort LTV curves (cumulative revenue per cohort member)
    "ev_ltv" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "ts", "value")
      graft.operators.Relational.cohortLtv(ev, periodTs = 7L * 86400000000L)
        .orderBy("cohort", "age")
    }),
    // RFM customer-value quintiles; now pinned to the query TimeContext
    "ev_rfm" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "ts", "value")
      graft.operators.Relational.rfmScores(ev, Now * 1000L).orderBy("user_id")
    }),
    // per-user consecutive-event transition matrix (empirical Markov chain)
    "ev_trans" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "ts", "event_type")
      graft.operators.Relational.transitionCounts(ev, Seq("user_id"), "ts", "event_type")
        .orderBy("from_state", "to_state")
    }),
    // stationary distribution of the journey chain (fixed-round power iteration)
    "ev_markov" -> ((s, d) =>
      graft.operators.Relational.markovSteadyState(
        sharedEvByUser(s, d).select("user_id", "ts", "event_type"), rounds = 8).orderBy("state")),
    // id-parity A/B split: purchase-revenue-per-user lift + Welch t
    "ev_abtest" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "event_type", "value")
      graft.operators.Relational.abTestReport(ev, "purchase")
    }),
    // CUPED variance-reduced readout of the same experiment: event-count
    // covariate, regression-adjusted arm means + achieved R-squared
    "ev_cuped" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "event_type", "value")
      graft.operators.Relational.cupedReport(ev, "purchase")
    }),
    // sample-ratio-mismatch health check on the deterministic 50/50 split
    "ev_srm" -> ((s, d) =>
      graft.operators.Relational.srmCheck(sharedEvByUser(s, d).select("user_id"))),
    // difference-in-differences at the window midpoint: pre-period
    // baseline absorbs user-level heterogeneity the plain lift cannot
    "ev_did" -> ((s, d) =>
      graft.operators.Relational.didReport(
        sharedEvByUser(s, d).select("user_id", "event_type", "ts", "value"),
        "purchase", boundaryTs = 1705500000000000L)),
    // Pareto concentration: share of events from the top 20% of users
    "ev_powerusers" -> ((s, d) =>
      graft.operators.Relational.powerUserConcentration(
        sharedEvByUser(s, d).select("user_id"), frac = 0.2)),
    // DAU / trailing-7d WAU engagement ratio per day
    "ev_stickiness" -> ((s, d) =>
      graft.operators.Relational.stickiness(sharedEvByUser(s, d).select("user_id", "ts"))
        .orderBy("day")),
    // Kaplan-Meier churn curve: day-bucketed lifetimes, 7-day censoring
    "ev_survival" -> ((s, d) =>
      graft.operators.Relational.survivalCurve(sharedEvByUser(s, d).select("user_id", "ts"),
        bucketUs = 86400000000L, horizonUs = 7L * 86400000000L).orderBy("t")),
    // hot-key report: the salting-decision evidence — top-20 heaviest
    // user keys with share/cum-share/load-vs-mean-key
    "ev_hotkeys" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet").select("user_id")
      graft.pipeline.Skew.hotKeys(ev, Seq("user_id"), topK = 20)
        .orderBy(col("n").desc, col("user_id"))
    }),
    // activity concentration: exact Gini over per-user event counts
    "ev_gini" -> ((s, d) =>
      graft.operators.Relational.giniConcentration(evRaw(s, d).select("user_id"))),
    // Lorenz decile curve: exact bottom-d/10 event shares — the curve
    // under ev_gini's scalar, no interpolation anywhere
    "ev_lorenz" -> ((s, d) =>
      graft.operators.Relational.lorenzCurve(evRaw(s, d).select("user_id"), "user_id")
        .orderBy("decile")),
    // power-law tail exponent of per-user activity (Clauset MLE): the
    // generative-shape twin of ev_gini's concentration snapshot
    "ev_alpha" -> ((s, d) =>
      graft.operators.Relational.powerLawAlpha(evRaw(s, d).select("user_id"), "user_id", xmin = 5L)),
    // k-anonymity audit: (event_type, day, value band) as the
    // quasi-identifier tuple — the re-identification exposure report a
    // behavioral table gets before shipping to a training pipeline
    "ev_kanon" -> ((s, d) =>
      graft.operators.Relational.kAnonymity(
        evUs(s, d).select(col("event_type"),
          expr(s"ts div ${24 * HourUs}L").as("day"),
          floor(col("value")).cast("long").as("value_band")),
        Seq("event_type", "day", "value_band"), ks = Seq(2, 5, 10))),
    // linear multi-touch attribution: every touch in the 7-day lookback
    // shares the purchase equally on the exact cent lattice (remainder to
    // the last touch — conservation to the cent is an invariant)
    "ev_mta" -> ((s, d) =>
      // measured EXCEPTION to the shared user-clustered input: the linear
      // MTA's lookback join ran 1.8x SLOWER off the cache (0.35 -> 0.63 s,
      // controls flat — the cached-relation stats flip its join strategy);
      // it keeps the parquet scan
      graft.operators.Relational.linearAttribution(evUsAll(s, d))
        .orderBy("event_type")),
    // exact p50/p90/p99 value bands per event type from the count-of-counts
    // histogram — the window runs over the HISTOGRAM, never the rows
    "ev_pctl" -> ((s, d) =>
      graft.operators.Relational.exactQuantiles(
        evRaw(s, d).select("event_type", "value"), "event_type", "value")
        .orderBy("event_type")),
    // deterministic Poisson bootstrap of revenue-per-user: SE from 32
    // hash-weighted resamples in ONE pass (explode ×B, never B shuffles)
    "ev_boot" -> ((s, d) => {
      val per = evRaw(s, d).groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("spend_cents"))
      graft.operators.Relational.bootstrapMeanSe(per, "user_id", "spend_cents")
    }),
    // weekly view→purchase conversion with the Wilson 95% interval: the
    // small-n-safe funnel-health readout (exact distinct-user counts)
    "ev_wilson" -> ((s, d) =>
      graft.operators.Relational.conversionWilson(sharedEvByUser(s, d), "view", "purchase")
        .orderBy("bucket")),
    // l-diversity over the same QI tuple as ev_kanon with user_id as the
    // sensitive attribute: a k-anonymous class whose rows all belong to
    // ONE user still discloses that user (the homogeneity attack)
    "ev_ldiv" -> ((s, d) =>
      graft.operators.Relational.lDiversity(
        evUsAll(s, d).select(col("event_type"),
          expr(s"ts div ${24 * HourUs}L").as("day"),
          floor(col("value")).cast("long").as("value_band"),
          col("user_id")),
        Seq("event_type", "day", "value_band"), "user_id", ls = Seq(2, 3))),
    // Spearman over the user panel: do users who DO more also SPEND more
    // (monotone association, scale-free; exact integer rank moments)
    "ev_spearman" -> ((s, d) => {
      val per = evRaw(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100, 0).cast("long")).as("spend_cents"))
      graft.operators.Relational.rankCorrelation(per, "n_events", "spend_cents", "user_id")
    }),
    // Benford first-digit audit of event values (organic-vs-synthetic screen)
    "ev_benford" -> ((s, d) =>
      graft.operators.Relational.benfordDigits(evRaw(s, d).select("value")).orderBy("digit")),
    // Sankey input: per journey position, the from→to flow counts of each
    // user's first 5 moves
    "ev_sankey" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "ts", "event_type")
      graft.operators.Relational.stepTransitions(ev, Seq("user_id"), "ts", "event_type",
        maxStep = 5).orderBy("step", "from_state", "to_state")
    }),
    // most common first-5-event journeys across users (funnel discovery)
    "ev_paths" -> ((s, d) => {
      val ev = sharedEvByUser(s, d).select("user_id", "ts", "event_type")
      graft.operators.Relational.topPaths(ev, Seq("user_id"), "ts", "event_type",
        pathLen = 5, k = 20)
    }),
    // ---- keyword retrieval (pipeline/Retrieval): BM25 and hybrid RRF.
    // Two query terms keep the per-doc weight sum commutative, so scores
    // are bit-identical across engines and unrounded-top-k selection agrees
    // ---- star-schema analytics (operators/Star): the general-OLAP face
    // over the TPC-H-shaped tables — broadcast-dim joins, exact-cent sums
    "st_pricing" -> ((s, d) =>
      graft.operators.Star.pricingSummary(tbl(s, d, "lineitem"),
        java.time.LocalDateTime.of(2000, 12, 1, 0, 0))),
    "st_shipprio" -> ((s, d) =>
      graft.operators.Star.shippingPriority(tbl(s, d, "customer"), tbl(s, d, "orders"),
        tbl(s, d, "lineitem"), "BUILDING", java.time.LocalDateTime.of(1998, 6, 30, 0, 0))),
    "st_localrev" -> ((s, d) =>
      graft.operators.Star.localSupplierRevenue(tbl(s, d, "region"), tbl(s, d, "nation"),
        tbl(s, d, "customer"), tbl(s, d, "orders"), tbl(s, d, "lineitem"), tbl(s, d, "supplier"),
        "ASIA", java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1998, 1, 1, 0, 0))),
    "st_custdist" -> ((s, d) =>
      graft.operators.Star.customerDistribution(tbl(s, d, "customer"), tbl(s, d, "orders"))),
    // market-basket: top co-ordered part pairs with exact-count lift
    "st_basket" -> ((s, d) =>
      // support comes off the shared co-purchase relation (built at the
      // same minSupport=2 cut); only the lift denominators re-derive
      graft.operators.Star.coPurchasePairsOn(
        sharedCoPurchaseSupport(s, d), tbl(s, d, "lineitem"), topK = 50)),
    "st_mktshare" -> ((s, d) =>
      graft.operators.Star.marketShare(tbl(s, d, "region"), tbl(s, d, "nation"),
        tbl(s, d, "customer"), tbl(s, d, "orders"), tbl(s, d, "lineitem"), tbl(s, d, "supplier"),
        "ASIA", "NATION_7",
        java.time.LocalDateTime.of(1995, 1, 1, 0, 0), java.time.LocalDateTime.of(1999, 1, 1, 0, 0))),
    "st_dormant" -> ((s, d) =>
      graft.operators.Star.dormantHighBalance(tbl(s, d, "customer"), tbl(s, d, "orders"),
        tbl(s, d, "nation"))),
    "st_topsupp" -> ((s, d) =>
      graft.operators.Star.topSupplier(tbl(s, d, "supplier"), tbl(s, d, "lineitem"),
        java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1996, 4, 1, 0, 0))),
    // Q6-shaped: one pushed-down scan, one scalar — the cheapest plan class
    "st_revchange" -> ((s, d) =>
      graft.operators.Star.revenueChange(tbl(s, d, "lineitem"),
        java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1997, 1, 1, 0, 0),
        discPctLo = 5, discPctHi = 7, qtyLt = 24)),
    // Q7-shaped: nation-pair shipping volume, both orientations, per year
    "st_volume" -> ((s, d) =>
      graft.operators.Star.volumeShipping(tbl(s, d, "nation"), tbl(s, d, "customer"),
        tbl(s, d, "orders"), tbl(s, d, "lineitem"), tbl(s, d, "supplier"),
        "NATION_1", "NATION_2",
        java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1998, 1, 1, 0, 0))),
    // Q10-shaped: top-20 customers by returned revenue in one quarter
    "st_returned" -> ((s, d) =>
      graft.operators.Star.returnedItems(tbl(s, d, "customer"), tbl(s, d, "orders"),
        tbl(s, d, "lineitem"), tbl(s, d, "nation"),
        java.time.LocalDateTime.of(1996, 10, 1, 0, 0), java.time.LocalDateTime.of(1997, 1, 1, 0, 0),
        k = 20)),
    // Q14-shaped: promo share of one ship-month's revenue
    "st_promo" -> ((s, d) =>
      graft.operators.Star.promoEffect(tbl(s, d, "part"), tbl(s, d, "lineitem"), "PROMO",
        java.time.LocalDateTime.of(1996, 9, 1, 0, 0), java.time.LocalDateTime.of(1996, 10, 1, 0, 0))),
    // Q17-shaped: revenue of below-20%-of-part-average quantity orders
    "st_smallqty" -> ((s, d) =>
      graft.operators.Star.smallQuantityRevenue(tbl(s, d, "part"), tbl(s, d, "lineitem"), "Brand#13")),
    // Q18-shaped: top-10 orders above a total-quantity threshold
    "st_bigorders" -> ((s, d) =>
      graft.operators.Star.largeVolumeCustomers(tbl(s, d, "customer"), tbl(s, d, "orders"),
        tbl(s, d, "lineitem"), qtyThreshold = 250, k = 10)),
    // Q19-shaped: OR-of-(brand, size, qty) discounted revenue, single pass
    "st_discrev" -> ((s, d) =>
      graft.operators.Star.discountedRevenue(tbl(s, d, "part"), tbl(s, d, "lineitem"), Seq(
        graft.operators.Star.DiscountBand("Brand#12", 1, 5, 1, 11),
        graft.operators.Star.DiscountBand("Brand#20", 1, 10, 10, 20),
        graft.operators.Star.DiscountBand("Brand#24", 1, 15, 20, 30)))),
    // windowed trend over the month rollup: cumulative + trailing-3 MA
    "st_monthly" -> ((s, d) =>
      graft.operators.Star.monthlyRevenue(tbl(s, d, "lineitem"))),
    // YoY growth: month rollup key-joined to itself on ym - 100
    "st_yoy" -> ((s, d) =>
      graft.operators.Star.yoyGrowth(tbl(s, d, "lineitem"))),
    // join-skew measurement on the shuffle key: max/p99/skew-factor — the
    // report that decides plain shuffle vs AQE skew split vs salting
    "st_skew" -> ((s, d) =>
      graft.operators.Relational.joinSkewReport(tbl(s, d, "lineitem"), "l_orderkey")),
    // SALTED two-phase aggregation EQUALITY gate: the hot-key spreading
    // rewrite must be result-identical to the plain groupBy (l_quantity
    // is integral, so partial-sum reassociation is exact) — the oracle is
    // deliberately the UNSALTED SQL
    "st_salted" -> ((s, d) =>
      graft.pipeline.Skew.saltedSum(tbl(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "l_quantity", saltFactor = 16)
        .withColumnRenamed("sum", "sum_qty")
        .orderBy("l_returnflag", "l_linestatus")),
    // SALTED replicated-right join equality gate: salt-split left x
    // salt-replicated right must reproduce the plain join's aggregate
    "st_saltjoin" -> ((s, d) => {
      val urgent = tbl(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      graft.pipeline.Skew.saltedJoin(
          tbl(s, d, "lineitem").select(col("l_orderkey"), col("l_returnflag"), col("l_quantity")),
          urgent.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", saltFactor = 8)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").cast("long").as("sum_qty"))
        .orderBy("l_returnflag")
    }),
    // Z-order layout evidence: 16 fixed Morton-keyspace slices of
    // (partkey, suppkey) with each slice's bounding box on BOTH columns —
    // tight boxes on both axes are the row-group-skipping win
    // Hilbert-curve layout evidence: the unit-step space-filling key's 16
    // keyspace slices over masked (partkey, suppkey) — the comparative
    // bounding-box report against st_zorder's Morton slices
    "st_hilbert" -> ((s, d) =>
      graft.operators.Layout.hilbertBuckets(tbl(s, d, "lineitem"), "l_partkey", "l_suppkey",
        bits = 8, nBuckets = 16).orderBy("bucket")),
    "st_zorder" -> ((s, d) =>
      graft.operators.Layout.zorderBuckets(tbl(s, d, "lineitem"), "l_partkey", "l_suppkey",
        bits = 16, nBuckets = 16).orderBy("bucket")),
    // Q4-shaped: EXISTS-late-lineitem as a predicate-carrying semi join
    "st_priority" -> ((s, d) =>
      graft.operators.Star.orderPriorityCheck(tbl(s, d, "orders"), tbl(s, d, "lineitem"),
        java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1996, 7, 1, 0, 0),
        lateDays = 30)),
    // Q12-shaped: critical-vs-low CASE-sums per shipping-delay band
    "st_shipdelay" -> ((s, d) =>
      graft.operators.Star.shippingDelayBands(tbl(s, d, "orders"), tbl(s, d, "lineitem"),
        java.time.LocalDateTime.of(1996, 1, 1, 0, 0), java.time.LocalDateTime.of(1997, 1, 1, 0, 0))),
    // Q21-shaped: sole latest shipper on finished multi-supplier orders
    "st_latesupp" -> ((s, d) =>
      graft.operators.Star.soleLatestShippers(tbl(s, d, "supplier"), tbl(s, d, "orders"),
        tbl(s, d, "lineitem"), k = 20)),
    // Q22-shaped: above-average-balance customers who never ordered
    "st_noorders" -> ((s, d) =>
      graft.operators.Star.salesOpportunity(tbl(s, d, "customer"), tbl(s, d, "orders"),
        tbl(s, d, "nation"))),
    // Q9-shaped: per-nation-and-year profit with a retail-price cost proxy
    "st_profit" -> ((s, d) =>
      graft.operators.Star.productTypeProfit(tbl(s, d, "nation"), tbl(s, d, "supplier"),
        tbl(s, d, "part"), tbl(s, d, "orders"), tbl(s, d, "lineitem"), pType = "PROMO")),
    "rt_bm25" -> ((s, d) => Retrieval.bm25TopK(docs(s, d), Seq("spark", "join"), k = 20)),
    // boolean postings algebra: every must-term AND no must-not term —
    // the exact-match complement to BM25's ranked list
    "rt_bool" -> ((s, d) =>
      Retrieval.booleanMatches(docs(s, d), Seq("spark", "join"), Seq("vector"))
        .orderBy("doc_id")),
    // Dirichlet query-likelihood: the LM scorer next to BM25 (mu=2000);
    // runs off the shared session index (scan/index parity, same rows)
    "rt_ql" -> ((s, d) =>
      Retrieval.qlTopKIndexed(sharedTermIndex(s, d), Seq("spark", "join"), k = 20)),
    // inter-scorer agreement: Kendall τ between the BM25 and QL top-20
    // rankings of the same query (τ→1: second scorer adds nothing); both
    // scorers read the shared index — the corpus is never re-tokenized
    // both rankings are session-shared 20-row relations: rankAgreement
    // executes each input 2-3x (bound probe + join + count), so the
    // un-persisted scorers ran up to 6x per timed row before this
    "rt_tau" -> ((s, d) => Retrieval.rankAgreement(
      sharedBm25Top20(s, d), sharedQlTop20(s, d))),
    // top-weighted agreement: bounded min-RBO between the same two lists
    // (τ's complement for partially-overlapping top-k rankings)
    // tf-idf doc-doc cosine: the weighted-lexical pair modality next to
    // minhash (set overlap) and embeddings (dense) — maxDf bounds the join;
    // vectors come off the shared index (postings ARE the (doc,term,tf))
    "rt_docsim" -> ((s, d) =>
      Retrieval.tfidfDocSimIndexed(sharedTermIndex(s, d), k = 50, maxDfFrac = 0.2)),
    "rt_rbo" -> ((s, d) => Retrieval.rankBiasedOverlap(
      sharedBm25Top20(s, d), sharedQlTop20(s, d), k = 20, p = 0.9)),
    // MMR diversified top-5 over the same shortlist (greedy, λ = 0.7)
    "rt_mmr" -> ((s, d) =>
      Retrieval.mmrRerank(docs(s, d), Seq("spark", "join"), k = 5, kCand = 20, lambda = 0.7)),
    // the same query through the prebuilt inverted index (tokenize-once
    // path) — shares rt_bm25's oracle, proving corpus-scan/index parity
    "rt_bm25_idx" -> ((s, d) =>
      // stand in for the persisted postings/doclens (writeTermIndex):
      // the shared build tokenizes ONCE per session+dir and every
      // index-reading rt_* gate queries the same cached relations
      Retrieval.bm25TopKIndexed(sharedTermIndex(s, d), Seq("spark", "join"), k = 20)),
    // incremental maintenance: base index + appended batch ≡ full rebuild
    // (the oracle stays the whole-corpus scan)
    "rt_bm25_app" -> ((s, d) => {
      val all  = docs(s, d)
      // per-PROCESS path, rerun-safe (base write is mode=overwrite, so a
      // repeat sweep rebuilds cleanly): one dir per JVM instead of one per
      // run, and concurrent graft processes never share an index
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_ixapp_gate_${ProcessHandle.current().pid()}").toString
      Retrieval.writeTermIndex(all.filter(col("doc_id") % 4 =!= 0), path)
      Retrieval.appendToTermIndex(all.filter(col("doc_id") % 4 === 0), path)
      Retrieval.bm25TopKIndexed(Retrieval.readTermIndex(s, path), Seq("spark", "join"), k = 20)
    }),
    // MMR through the prebuilt index: shortlist from postings, word sets
    // for the Jaccard sims from postings too — the text is never read;
    // shares rt_mmr's oracle, proving corpus-scan/index parity
    "rt_mmr_idx" -> ((s, d) =>
      // shared session index (lives in the memo — no per-gate release)
      Retrieval.mmrRerank(docs(s, d), Seq("spark", "join"), k = 5, kCand = 20,
        lambda = 0.7, ix = Some(sharedTermIndex(s, d)))),
    // typo-tolerant term retrieval: vocab scan under levenshtein <= 1,
    // variants broadcast into the postings join — all-integer output;
    // vocab + postings come off the shared index (no per-gate tokenize)
    "rt_fuzzy" -> ((s, d) =>
      Retrieval.fuzzyMatchesIndexed(sharedTermIndex(s, d), "spark", maxDist = 1)
        .orderBy("doc_id")),
    // pseudo-relevance-feedback expansion: top-10 seed docs mine 5
    // expansion terms (sum-tf x ln(N/df), ties by term); the union query
    // re-ranks through the index — two index passes, no corpus rescan
    "rt_prf" -> ((s, d) =>
      Retrieval.prfTopK(sharedTermIndex(s, d),
        Seq("spark", "join"), k = 20, nSeed = 10, nExpand = 5)),
    // batch lexical retrieval: every 100th doc's first 3 tokens play a
    // query; per-query top-5 against the index (the lexical ann_join) —
    // the scored batch is the session-shared relation (one scoring join
    // serves this gate and both eval readouts below)
    // DESIGNATED BUILDER for the batch BM25 result: the timed row runs
    // the per-query top-5 scoring join against the shared index (rt_mrr /
    // rt_ndcg stay readers of the memo)
    "rt_bm25_join" -> ((s, d) => {
      shared.rebuild("rt_bm25_join", s, d)
      sharedBm25Batch(s, d).orderBy("query_id", "rank")
    }),
    // lexical retrieval-quality eval: self-retrieval MRR@5 of the batch
    // join (each query's source doc is its one relevant result)
    "rt_mrr" -> ((s, d) => {
      val queries = rtBatchQueries(s, d)
      val nq = queries.count()
      Retrieval.mrrAtK(sharedBm25Batch(s, d),
        queries.select(col("query_id"), col("query_id").as("doc_id")), nq)
    }),
    // lexical ranking eval with GRADED ground truth: same-source docs are
    // relevant (each query has a 25-doc relevance class, not just itself),
    // scored per query as ln-discount DCG/nDCG/MRR/P@5 — the vector
    // family's rankEval harness pointed at the BM25 batch join
    "rt_ndcg" -> ((s, d) => {
      val all = docs(s, d)
      // dense source ids via a broadcast-sized rank of the distinct
      // sources (never a corpus-wide window)
      val srcIds = all.select("source").distinct()
        .withColumn("label", row_number()
          .over(org.apache.spark.sql.expressions.Window.orderBy(col("source"))).cast("int"))
      val labels = all.join(broadcast(srcIds), "source").select(col("doc_id").as("vec_id"), col("label"))
      val nb = sharedBm25Batch(s, d)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      Similarity.rankEval(nb, labels, k = 5).orderBy("query_id")
    }),
    "rt_hybrid" -> ((s, d) => {
      val q = emb(s, d).filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0)
      // lexical half reads the shared index (row-identical scores)
      Retrieval.hybridTopK(docs(s, d), emb(s, d), Seq("spark", "join"), q, k = 10, n = 50,
        ix = Some(sharedTermIndex(s, d)))
    }),
    // per-doc tf-idf keyword extraction (top-3 salient terms) off the
    // shared index; nDocs passed in = the scan path's all-docs count
    "rt_keywords" -> ((s, d) =>
      Retrieval.topTfIdfTermsIndexed(sharedTermIndex(s, d), docs(s, d).count(), k = 3)
        .orderBy("doc_id", "rank")),
    // exact consecutive-phrase match over the session-shared positional
    // postings (the positional analog of the shared term index)
    "rt_phrase" -> ((s, d) =>
      Retrieval.phraseMatches(sharedPositionalPostings(s, d), Seq("table", "hash"))
        .orderBy("doc_id")),
    // proximity: "hash" within 3 positions after "table" (span-near)
    "rt_near" -> ((s, d) =>
      Retrieval.nearMatches(sharedPositionalPostings(s, d), "table", "hash", slop = 3)
        .orderBy("doc_id")),
    // result-page highlight: densest 16-token window per matching doc
    "rt_snippets" -> ((s, d) =>
      Retrieval.bestSnippets(docs(s, d), Seq("table", "hash", "data"), width = 16)
        .orderBy("doc_id")),
    // corpus top-20 bigrams (boilerplate/template mining; integer counts)
    "tx_ngrams" -> ((s, d) => TextAnalysis.topNgrams(docs(s, d), n = 2, k = 20)),
    // inverse-Simpson effective vocabulary per lang: the diversity number
    // a million once-off tail terms can't move (vs raw vocab counts)
    "tx_simpson" -> ((s, d) => TextAnalysis.effectiveVocab(docs(s, d)).orderBy("lang")),
    // burstiest terms: variance-to-mean of per-doc counts, zeros included
    // (clumped topical/template vocabulary that DF alone can't see)
    "tx_burst" -> ((s, d) => TextAnalysis.burstyTerms(docs(s, d), k = 20, minCount = 5L)),
    // BPE trainer round: corpus-wide adjacent char-pair counts, top 50
    "tx_bpe" -> ((s, d) => TextAnalysis.bpePairCounts(docs(s, d), k = 50)),
    // full BPE merge training over the word histogram: the learned rules
    "tx_bpemerge" -> ((s, d) => TextAnalysis.bpeTrain(docs(s, d), merges = 8).orderBy("step")),
    // the tokenizer loop closed: train 8 merges, replay them over the
    // vocab, per-doc REAL-BPE token counts (vs whitespace tx_tokens).
    // BENCH NOTE: unlike every other entry this lambda EAGERLY runs the
    // training collect before returning the encode plan, so a timed run
    // pays train + encode — deliberately, the closed loop IS the unit a
    // tokenizer pipeline pays; bisect regressions against tx_bpemerge
    // (train alone), which brackets the training half
    "tx_bpeapply" -> ((s, d) => {
      val m = TextAnalysis.bpeTrain(docs(s, d), merges = 8).orderBy("step")
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs(s, d), m).orderBy("doc_id")
    }),
    // ENCODE-ONLY half of the loop: the trained merges memoize per sfDir,
    // so the bench's min-of-runs floor times bpeEncode alone (run 1 pays
    // train once; later runs replay the cached rules) — a regression now
    // bisects mechanically: tx_bpemerge = train, tx_bpeenc = encode,
    // tx_bpeapply = the closed loop a cold tokenizer pipeline pays
    "tx_bpeenc" -> ((s, d) => {
      val m = bpeMergesCache.getOrElseUpdate(d,
        TextAnalysis.bpeTrain(docs(s, d), merges = 8).orderBy("step")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq)
      TextAnalysis.bpeEncode(docs(s, d), m).orderBy("doc_id")
    }),
    // tokenizer fertility panel: BPE tokens-per-word by language — the
    // standard "how well does this tokenizer fit each language" report.
    // The merges come from the per-dir cache (tx_bpeenc's discipline):
    // fertility is an EVAL readout, not the closed train+encode loop —
    // tx_bpeapply alone keeps the eager re-train as its subject
    "tx_fert" -> ((s, d) => {
      val m = bpeMergesCache.getOrElseUpdate(d,
        TextAnalysis.bpeTrain(docs(s, d), merges = 8).orderBy("step")
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq)
      TextAnalysis.bpeEncode(docs(s, d), m)
        .join(docs(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
        .withColumn("fertility", round(col("n_tokens").cast("double") / col("n_words"), 6))
        .orderBy("lang")
    }),
    // Zipf slope/intercept over the top-100 term frequencies
    "tx_zipf" -> ((s, d) => TextAnalysis.zipfFit(docs(s, d), n = 100)),
    // Heaps' law vocabulary-growth exponent over 16 doc-id checkpoints
    // (V = k*N^beta; the tokenizer-vocab / dedup-aggressiveness dial)
    "tx_heaps" -> ((s, d) => TextAnalysis.heapsFit(docs(s, d), bins = 16)),
    // per-language vocabulary/TTR panel (pure int64 — ttr in ppm)
    "tx_vocab" -> ((s, d) => TextAnalysis.vocabStats(docs(s, d)).orderBy("lang")),
    // multinomial NB model head: top-20 terms per language label
    "tx_nbmodel" -> ((s, d) =>
      TextAnalysis.nbModel(docs(s, d), topK = 20).orderBy("lang", "rank")),
    // NB self-prediction confusion matrix (Laplace-1, argmax ties by label)
    "tx_nbconf" -> ((s, d) =>
      TextAnalysis.nbConfusionFrom(sharedNbScored(s, d), docs(s, d)).orderBy("lang", "pred")),
    // margin-calibration curve: does NB confidence (top-2 log-score gap)
    // predict accuracy — the safety check before confidence-gated routing
    "tx_calib" -> ((s, d) =>
      TextAnalysis.nbMarginCalibrationFrom(sharedNbScored(s, d), docs(s, d)).orderBy("bin")),
    // Flesch reading-ease panel (vowel-group syllables, terminal-punct sentences)
    "tx_read" -> ((s, d) => TextAnalysis.readability(docs(s, d)).orderBy("doc_id")),
    // TextRank corpus keywords: PageRank over the bounded co-occurrence graph
    "tx_textrank" -> ((s, d) =>
      TextAnalysis.textRankKeywords(docs(s, d), minCount = 5L, maxEdges = 300,
        iterations = 10, k = 30).orderBy("pos")),
    // top-20 PMI collocations (min bigram count 5 guards rare-pair noise)
    "tx_pmi" -> ((s, d) => TextAnalysis.pmiCollocations(docs(s, d), k = 20)),
    // per-doc token-distribution entropy (gibberish/boilerplate signal)
    "tx_entropy" -> ((s, d) => TextAnalysis.tokenEntropy(docs(s, d)).orderBy("doc_id")),
    // per-doc lexical diversity: type–token ratio + hapax fraction (the
    // variety axis of quality filtering; both tails are curation cuts)
    "tx_lexdiv" -> ((s, d) => TextAnalysis.lexicalDiversity(docs(s, d)).orderBy("doc_id")),
    // train/val token-distribution shift: smoothed KL both ways + JS over
    // the union vocab — the drift check a split pipeline runs before
    // training (leaning splits show up as KL asymmetry)
    "tx_kldiv" -> ((s, d) => {
      val sp = Sampling.holdoutSplit(docs(s, d), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .localCheckpoint(true) // two slices read one hash pass
      TextAnalysis.tokenKlShift(
        sp.filter(col("split") === "train"), sp.filter(col("split") === "val"))
    }),
    // deterministic 80/10/10 holdout split by portable id hash
    "tx_split" -> ((s, d) =>
      Sampling.holdoutSplit(docs(s, d), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),
    // ---- JSON metadata extraction over the events props column
    "tx_json" -> ((s, d) => {
      evRaw(s, d)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("n"), sum(col("k")).as("k_sum"))
        .orderBy("event_type")
    }),
    // ---- SFT / chat-structured curation (synthetic turns, see chatTurns) --
    // structural schema gate: alternation, user opener, assistant presence
    "sft_valid" -> ((s, d) => Chat.validate(chatTurns(s, d)).orderBy("conv_id")),
    // loss-mask share: the fraction of each conversation that trains
    "sft_mask" -> ((s, d) => Chat.maskStats(chatTurns(s, d)).orderBy("conv_id")),
    // context-window truncation to the longest whole-turn suffix
    "sft_trim" -> ((s, d) =>
      Chat.trimToBudget(chatTurns(s, d), maxTokens = 600).orderBy("conv_id", "turn_idx")),
    // DPO preference pairs: per prompt (= user), best/worst-scored
    // candidate events with a real margin; one aggregation, no window
    "sft_prefs" -> ((s, d) =>
      Chat.preferencePairs(
        evRaw(s, d).select(col("user_id").as("prompt_id"), col("event_id").as("cand_id"),
          round(col("value"), 2).as("score")),
        minMargin = 1.0).orderBy("prompt_id")),
    // unbiased pass@k estimator (HumanEval): product form, fold order
    // mirrored operation-for-operation in the oracle
    "sft_passk" -> ((s, d) =>
      Chat.passAtK(
        evRaw(s, d).select(col("user_id").as("prompt_id"), (col("value") >= 50.0).as("passed")),
        k = 3).orderBy("prompt_id")),
    // DPO length-bias audit: is "chosen" just "longer"? (props.k plays
    // the candidate length; rate far from 0.5 = a length prior in the data)
    "sft_lenbias" -> ((s, d) => {
      val ev = evRaw(s, d)
      val pairs = Chat.preferencePairs(
        ev.select(col("user_id").as("prompt_id"), col("event_id").as("cand_id"),
          round(col("value"), 2).as("score")),
        minMargin = 1.0)
      val attrs = ev.select(col("event_id").as("cand_id"),
        get_json_object(col("props"), "$.k").cast("long").as("length"))
      Chat.lengthBias(pairs, attrs)
    }),
    // best-of-n expected-max curve: the real-valued companion to pass@k
    // (what reward does a BoN sampler expect at n = 1/2/4 draws)
    "sft_bon" -> ((s, d) =>
      Chat.bestOfN(
        evRaw(s, d).select(col("user_id").as("prompt_id"), col("event_id").as("cand_id"),
          round(col("value"), 2).as("score")),
        ns = Seq(1, 2, 4)).orderBy("prompt_id")),
    // GRPO group-relative advantages: per-prompt z-scores over exact
    // integer cent sums — one aggregation, no window
    "sft_adv" -> ((s, d) =>
      Chat.groupAdvantages(
        evRaw(s, d).select(col("user_id").as("prompt_id"), col("event_id").as("cand_id"),
          round(col("value"), 2).as("score")))
        .orderBy("prompt_id", "cand_id")),
    // canned-reply mining: assistant contents repeated across convs
    // (duplicate docs in the corpus surface as repeated replies)
    "sft_dedup" -> ((s, d) =>
      Chat.cannedReplies(chatTurns(s, d), minCopies = 2L).orderBy("digest")),
    // transcript render → the shared sequence packer (module composition:
    // chat conversations flow into the same packing as plain documents)
    "sft_pack" -> ((s, d) =>
      Sampling.packSequences(Chat.render(chatTurns(s, d)), 512L, idCol = "conv_id")
        .orderBy("conv_id")),
    // JSON interchange round-trip: conversations serialize per conv and
    // parse back to the identical turns relation (each engine builds AND
    // parses its own JSON — escaping is exercised, not compared)
    "sft_parse" -> ((s, d) =>
      Chat.parseTurns(chatConvs(s, d)).orderBy("conv_id", "turn_idx")),
    // the stateless row-local ingest gate (streaming face run as batch):
    // parse → HOF validation → mask-share filter, no window anywhere
    "sft_gate" -> ((s, d) =>
      Chat.chatGateStream(chatConvs(s, d), minMaskRatio = 0.2)
        .select("conv_id", "n_turns", "mask_ratio").orderBy("conv_id")),
    // ---- multimodal plumbing (decode step stubbed, Spark shape real)
    "mm_meta"   -> ((s, d) => Multimodal.decodeMeta(mmPayload(s, d)).orderBy("doc_id")),
    // byte-identical asset dedup by SHA-256 (runs before any decode)
    "mm_hashdup" -> ((s, d) => Multimodal.contentDedup(mmPayload(s, d)).orderBy("doc_id")),
    // blockhash-style perceptual signature dedup: block-mean-vs-global-mean
    // bits, exact cross-multiplied compares — the near-dup step between the
    // content hash and an embedding model
    "mm_phash" -> ((s, d) => Multimodal.blockhashDedup(mmPayload(s, d)).orderBy("doc_id")),
    "mm_batch"  -> ((s, d) => Multimodal.decodeBatched(mmPayload(s, d)).orderBy("doc_id")),
    "mm_frames" -> ((s, d) => Multimodal.frameSample(mmPayload(s, d)).orderBy("doc_id", "frame_idx")),
    // VAD-shaped per-window RMS energy over the raw payload bytes — real
    // byte arithmetic on the binary column, no stub, no UDF
    "mm_vad" -> ((s, d) =>
      Multimodal.audioEnergyWindows(mmPayload(s, d))
        .orderBy("doc_id", "window_idx")),
    // header-aware VAD: parse the RIFF container, keep PCM8 mono, window
    // the data chunk, stamp each window from the container's sample rate
    "mm_wavvad" -> ((s, d) =>
      Multimodal.wavEnergyWindows(mmAv(s, d))
        .orderBy("doc_id", "window_idx")),
    // segment boundaries over the same energy channel: windows whose RMS
    // jumps against the predecessor — in-array lag, no shuffle, no window
    "mm_scenes" -> ((s, d) =>
      Multimodal.energySegments(mmPayload(s, d), jump = 2.0)
        .orderBy("doc_id", "window_idx")),
    // REAL container-header decode: minimal PNG/JPEG fixtures wrap the
    // text bytes (see syntheticContainers), then width/height/channels
    // parse from the actual header bytes — fixed-offset IHDR reads and a
    // bounded SOF marker walk, no codec library. This and every mm_* decode
    // gate below is one ContainerKernels call per row (a compiled byte walk
    // answering the operator's columns as one struct)
    "mm_dims" -> ((s, d) =>
      Multimodal.containerMeta(mediaFrames(s, d, "png"))
        .orderBy("doc_id")),
    // REAL little-endian container decode: canonical WAV / GIF89a / BMP
    // fixtures wrap the text bytes, then sample-rate/dims/depth parse from
    // the actual header bytes — LE words as positional byte sums, signed
    // BMP heights folded down by 2^32; no codec library, no UDF
    "mm_av" -> ((s, d) =>
      Multimodal.avContainerMeta(mmAv(s, d))
        .orderBy("doc_id")),
    // REAL GIF frame count: a bounded block walk over multi-frame GIF89a
    // fixtures (GCT/LCT skips, extension + image-data sub-block chains,
    // trailer detection, post-trailer garbage ignored) — the
    // animation-vs-still readout, no codec library, no UDF
    "mm_gif" -> ((s, d) =>
      Multimodal.gifFrameCount(mediaFrames(s, d, "gif"))
        .orderBy("doc_id")),
    // REAL TIFF/EXIF IFD decode: byte-order-branching reads (II and MM
    // fixtures), fixed-offset 12-byte entry scan, left-justified SHORT
    // and full LONG values — width/height/bits from the actual tag bytes
    "mm_exif" -> ((s, d) =>
      Multimodal.tiffMeta(mediaFrames(s, d, "tiff"))
        .orderBy("doc_id")),
    // the pointer chase GENERALIZED past one table: IFD0's tag-34665 LONG
    // points at a second (Exif) IFD, scanned the same way for ISO and the
    // ExposureTime RATIONAL (itself a third pointer to the num/den pair) —
    // two chained hops, both byte orders
    "mm_exif2" -> ((s, d) =>
      Multimodal.tiffExifMeta(mediaFrames(s, d, "exif2"))
        .orderBy("doc_id")),
    // PNG chunk-grammar walk: u32-BE length-field hops to IEND — chunk
    // count, summed IDAT payload bytes (compressed-image volume vs
    // container overhead), and the first tEXt keyword via a bounded NUL
    // probe (the embedded-annotation channel), returned as hex
    "mm_pngtext" -> ((s, d) =>
      Multimodal.pngChunkWalk(mediaFrames(s, d, "pngc"), maxChunks = 8).orderBy("doc_id")),
    // ZIP/OOXML central-directory walk (the container every real crawl
    // contains: docx/xlsx/epub/jar): backward EOCD scan with comment-
    // length self-consistency, u32-LE hop to the central directory,
    // u16-LE length-field hops per entry — entry count, compressed vs
    // uncompressed byte volumes, first entry name
    "mm_zipdir" -> ((s, d) =>
      Multimodal.zipCentralDirectory(mediaFrames(s, d, "zip"), maxEntries = 4).orderBy("doc_id")),
    // ustar block walk (tarballs — the other container every crawl holds):
    // ASCII-octal size fields drive 512-granular hops; entry/dir counts,
    // regular-file byte volume, NUL-probed first entry name
    "mm_tar" -> ((s, d) =>
      Multimodal.tarHeaderWalk(mediaFrames(s, d, "tar"), maxEntries = 6).orderBy("doc_id")),
    // per-column table profile: the ingest data-quality report (nulls,
    // exact distincts, native-typed min/max rendered to one string schema)
    "qa_profile" -> ((s, d) =>
      graft.pipeline.Curate.profile(docs(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars")).orderBy("col_name")),
    // referential-integrity audit: orders whose customer is missing from a
    // deliberately holed parent (every 7th key dropped — testdata itself
    // holds RI, so the hole gives the report signal)
    "qa_orphans" -> ((s, d) =>
      graft.pipeline.Curate.orphanReport(
        tbl(s, d, "orders"),
        tbl(s, d, "customer").filter(col("c_custkey") % 7 =!= 0),
        "o_custkey", "c_custkey")),
    // per-type freshness/staleness vs the global newest event
    "qa_fresh" -> ((s, d) =>
      graft.pipeline.Curate.freshness(evUsAll(s, d).select("event_type", "ts"))
        .orderBy("event_type")),
    // canary-string leakage audit: verbatim containment counts for planted
    // phrases (last one never occurs -> 0 with NULL pointer)
    "tx_canary" -> ((s, d) =>
      Dedup.canaryScan(docs(s, d), CanaryPhrases).orderBy("canary")),
    // deterministic 5-fold CV assignment by the portable id hash
    "tx_kfold" -> ((s, d) =>
      graft.pipeline.Sampling.kfold(docs(s, d), k = 5)
        .select("doc_id", "fold").orderBy("doc_id")),
    // PK-violation report over a deliberately doubled key slice (testdata
    // keys are unique, so the planted dups give the report signal)
    "qa_dups" -> ((s, d) => {
      val o = tbl(s, d, "orders").select("o_orderkey")
      graft.pipeline.Curate.pkViolations(
        o.unionAll(o.filter(col("o_orderkey") % 997 === 0)), "o_orderkey", topK = 20)
    }),
    // join-cardinality preflight: the EXACT lineitem⨝part output size (and
    // the heaviest key) from the two key histograms — never the join itself
    "qa_joinsize" -> ((s, d) =>
      graft.pipeline.Curate.joinCardinality(
        tbl(s, d, "lineitem"), tbl(s, d, "part"), "l_partkey", "p_partkey")),
    // functional-dependency audit: does user_id determine event_type?
    // (heavily violated by design — the gate pins the audit's arithmetic)
    "qa_fd" -> ((s, d) =>
      graft.pipeline.Curate.functionalDependency(sharedEvByUser(s, d), "user_id", "event_type")),
    // header/detail totals audit: o_totalprice vs the lineitem pricing
    // formula on the cent lattice (the synthetic data violates it —
    // which is exactly what an audit is for)
    "qa_totals" -> ((s, d) =>
      graft.pipeline.Curate.totalsAudit(tbl(s, d, "orders"), tbl(s, d, "lineitem"))),
    // per-day ingest volume outliers: robust z (median/MAD from count
    // histograms — exact type-1 medians) over daily event counts; the
    // double-volume / half-volume ingest regression detector
    "qa_volume" -> ((s, d) =>
      graft.pipeline.Curate.volumeOutliers(
        evUsAll(s, d).withColumn("day", expr("ts div 86400000000")), "day")),
    // impossible-sequence audit: lineitems shipped BEFORE their order was
    // placed — temporal referential consistency on exact day math (the
    // synthetic data violates the invariant, which is the audit's signal)
    "qa_dateorder" -> ((s, d) =>
      graft.pipeline.Curate.temporalConsistency(
        tbl(s, d, "lineitem"), tbl(s, d, "orders"),
        "l_orderkey", "o_orderkey", "l_shipdate", "o_orderdate")),
    // PSI distribution drift of doc length between the same two snapshot
    // versions qa_diff churns — drift even when row counts barely move
    "qa_psi" -> ((s, d) => {
      val base = docs(s, d)
      graft.pipeline.Curate.psiReport(
        base.filter(col("doc_id") % 11 =!= 3),
        base.filter(col("doc_id") % 13 =!= 5).filter(col("n_chars") < 400),
        "n_chars", binWidth = 50L, maxBins = 12)
    }),
    // snapshot diff between two pipeline runs: every 11th doc "not yet
    // crawled" in the old run, every 13th dropped and every 7th re-crawled
    // with changed text in the new one — added/removed/changed/unchanged
    // counted null-safely per column, no canonicalization hash
    "qa_diff" -> ((s, d) => {
      val base = docs(s, d)
      val oldV = base.filter(col("doc_id") % 11 =!= 3)
      val newV = base.filter(col("doc_id") % 13 =!= 5)
        .withColumn("text",
          when(col("doc_id") % 7 === 2, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.pipeline.Curate.snapshotDiff(oldV, newV, "doc_id",
        Seq("text", "lang", "source"))
    }),
    // resize: gate compares the size/dimension arithmetic (binary payload
    // itself is stub bytes, excluded from the oracle projection)
    "mm_resize" -> ((s, d) => Multimodal.resizeBatched(mmPayload(s, d))
      .select("doc_id", "width", "height", "n_bytes").orderBy("doc_id")),
    // feature extraction: per-dimension portable fold, unpacked to scalar
    // columns for the oracle compare
    "mm_embed" -> ((s, d) => Multimodal.embedBatched(mmPayload(s, d))
      .select(col("doc_id"),
        element_at(col("embedding"), 1).as("e0"), element_at(col("embedding"), 2).as("e1"),
        element_at(col("embedding"), 3).as("e2"), element_at(col("embedding"), 4).as("e3"))
      .orderBy("doc_id"))
,
    // media -> embeddings -> retrieval, composed: the multimodal features
    // feed the ANN operators unchanged (stub features, real plumbing)
    "mm_ann" -> ((s, d) => {
      import graft.functions.GraftFunctions.dotProduct
      val e = Multimodal.embedBatched(mmPayload(s, d))
        .withColumnRenamed("doc_id", "vec_id")
      val q  = e.filter(col("vec_id") === 0).head().getSeq[Double](1)
      val qv = lit(q.toArray)
      val sim = dotProduct(col("embedding"), qv) /
        (sqrt(dotProduct(col("embedding"), col("embedding"))) * sqrt(dotProduct(qv, qv)))
      e.select(col("vec_id"), round(sim, 3).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(10)
    })
  )

  private def docs(s: SparkSession, d: String): DataFrame = s.read.parquet(s"$d/documents.parquet")

  /** planted phrases for the tx_canary leakage audit (shared by gate and
    * oracle; the last one never occurs in the synthetic corpus — the
    * zero-hit/NULL-pointer path must survive the compare too). */
  private val CanaryPhrases = Seq(
    "key agg row", "window spark order", "slow filter value",
    "table window table", "graft canary zzz")

  /** Synthetic TURNS relation for the sft_* gates, derived deterministically
    * from `documents` (the multimodal-gate pattern: plumbing real, input
    * synthesized from driver tables): conversations group docs by
    * `doc_id % 997`, messages order by doc_id. Roles make the population
    * heterogeneous — most conversations alternate perfectly with the
    * opener decided by conv parity (half valid, half assistant-opened),
    * and every 7th conversation runs a user/assistant/user cycle that
    * plants alternation violations — so the validation/gating operators
    * see all three classes at every SF. The oracle rebuilds the identical
    * relation as its `turns` CTE. */
  private def chatTurns(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("doc_id"))
    val t = expr("doc_id div 997")
    val c = col("doc_id") % 997
    docs(s, d).select(
      c.as("conv_id"),
      col("doc_id"),
      when(c % 7 === 0, when(t % 3 === 1, "assistant").otherwise("user"))
        .otherwise(when((t + c) % 2 === 1, "assistant").otherwise("user")).as("role"),
      col("text").as("content"))
      .withColumn("turn_idx", row_number().over(w).cast("long"))
      .drop("doc_id")
  }

  /** [[chatTurns]] serialized to the JSON interchange format, one
    * conversation row per conv — the shared input of the parse/gate
    * round-trip gates. */
  private def chatConvs(s: SparkSession, d: String): DataFrame =
    chatTurns(s, d).groupBy("conv_id").agg(
      to_json(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("role"), col("content")))),
        t => struct(t.getField("role").as("role"), t.getField("content").as("content"))))
        .as("conversation"))

  /** the oracle twin of [[chatTurns]]. */
  private val chatTurnsCte: String =
    """turns AS (SELECT doc_id % 997 AS conv_id,
      |  row_number() OVER (PARTITION BY doc_id % 997 ORDER BY doc_id) AS turn_idx,
      |  CASE WHEN doc_id % 997 % 7 = 0
      |    THEN (CASE WHEN (doc_id // 997) % 3 = 1 THEN 'assistant' ELSE 'user' END)
      |    ELSE (CASE WHEN ((doc_id // 997) + doc_id % 997) % 2 = 1 THEN 'assistant' ELSE 'user' END)
      |  END AS role,
      |  text AS content FROM documents)""".stripMargin
  private def emb(s: SparkSession, d: String): DataFrame  = s.read.parquet(s"$d/embeddings.parquet")
  private def tbl(s: SparkSession, d: String, name: String): DataFrame = s.read.parquet(s"$d/$name.parquet")

  private val HourUs = 3600000000L

  /** events as `(event_type, ts µs, value)` — the time-series gate input. */
  private def evUs(s: SparkSession, d: String): DataFrame =
    evUsAll(s, d).select("event_type", "ts", "value")

  // --------------------------------------------------------------------
  // oracle SQL (DuckDB dialect) — column names must match the Spark output
  // --------------------------------------------------------------------

  /** canonical star projection of the events metric in DuckDB terms. */
  private val Star =
    s"""$TsMs AS "timestamp", value, event_id, event_type, props, user_id"""

  /** Driver-contract oracle map. The auto-sized LSH oracles depend on the
    * corpus count; the default assumes the gated SF's 500-row embeddings
    * fixture — Verify dumps [[oracleSqlFor]] with the LIVE count instead,
    * so the derived k/L track the data at any scale factor. */
  def oracleSql: Map[String, String] = oracleSqlFor(500L)

  def oracleSqlFor(embCount: Long): Map[String, String] = Map(
    "s_star"  -> s"SELECT $Star FROM events WHERE value > 150 ORDER BY event_id LIMIT 200",
    "s_proj"  -> s"""SELECT $TsMs AS "timestamp", value, event_type FROM events WHERE user_id >= 10 ORDER BY event_id LIMIT 500""",
    "p_eq"    -> s"SELECT $Star FROM events WHERE event_type = 'purchase' ORDER BY event_id LIMIT 300",
    "p_cmp"   -> s"SELECT $Star FROM events WHERE value >= 50.5 AND value < 150 ORDER BY event_id LIMIT 300",
    "p_range" -> s"SELECT $Star FROM events WHERE $TsMs BETWEEN $T1 AND $T2 ORDER BY event_id LIMIT 300",
    "p_like"  -> s"SELECT $Star FROM events WHERE event_type LIKE '%ur%' ORDER BY event_id LIMIT 300",
    "p_not"   -> s"SELECT $Star FROM events WHERE NOT (value > 100 OR event_type = 'click') ORDER BY event_id LIMIT 300",
    "p_null"  -> s"SELECT $Star FROM events WHERE props IS NOT NULL AND value <= 20 ORDER BY event_id LIMIT 300",
    "p_now"   -> s"SELECT $Star FROM events WHERE $TsMs > $NowMinus7d ORDER BY event_id LIMIT 300",
    "a_distinct" -> "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    "g_count"       -> """SELECT count(*) AS "count" FROM events""",
    "g_count_clamp" -> """SELECT least(count(*), 100) AS "count" FROM events""",
    "g_minmax"      -> """SELECT min(value) AS "min", max(value) AS "max" FROM events""",
    "g_sum"         -> """SELECT round(sum(value), 3) AS "value" FROM events""",
    "g_avg"         -> """SELECT round(avg(value), 4) AS "value" FROM events""",
    "g_count_dist"  -> """SELECT count(DISTINCT user_id) AS "count_distinct" FROM events""",
    "g_mixed" ->
      s"""SELECT $TsMs AS "timestamp", value, event_type, least((SELECT count(*) FROM events WHERE value > 120), 50) AS "count" FROM events WHERE value > 120 ORDER BY event_id LIMIT 50""",
    "t_count"      -> """SELECT event_type, count(*) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_sum"        -> """SELECT event_type, round(sum(value), 3) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_min"        -> """SELECT event_type, min(value) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_max"        -> """SELECT event_type, max(value) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_avg"        -> """SELECT event_type, round(avg(value), 4) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_count_dist" -> """SELECT event_type, count(DISTINCT user_id) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_first" ->
      s"""SELECT min($TsMs) AS "timestamp", event_type, arg_min(value, ts) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_last" ->
      s"""SELECT max($TsMs) AS "timestamp", event_type, arg_max(value, ts) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_topk" ->
      """SELECT user_id, round(sum(value), 3) AS "value" FROM events GROUP BY user_id ORDER BY sum(value) DESC LIMIT 5""",
    "i_count"      -> temporalOracle(T1, T2, Day, "count(*)"),
    "i_sum"        -> temporalOracle(T1, T2, Day, "sum(value)", wrap = a => s"round($a, 3)"),
    "i_avg"        -> temporalOracle(T1, T2, Day, "avg(value)", wrap = a => s"round($a, 4)"),
    "g_roll_count" -> """SELECT count(*) AS "count" FROM events""",
    "t_roll_count" -> """SELECT event_type, count(*) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "t_roll_sum"   -> """SELECT event_type, round(sum(value), 3) AS "value" FROM events GROUP BY event_type ORDER BY event_type""",
    "g_roll_sum" ->
      s"""SELECT round(sum(value), 3) AS "value" FROM events WHERE $TsMs > $T1r AND $TsMs <= $T2r""",
    "i_roll_count" -> temporalOracle(T1r + 1, T2r, Day, "count(*)::BIGINT"),
    "i_roll_sum"   -> temporalOracle(T1r + 1, T2r, Day, "sum(value)", wrap = a => s"round($a, 3)"),
    "i_roll_avg"   -> temporalOracle(T1r + 1, T2r, Day, "avg(value)", wrap = a => s"round($a, 4)"),
    "i_minmax"     -> temporalOracle(T1, T2, Day, "max(value)"),
    "i_count_dist" -> temporalOracle(T1, T2, Day, "count(DISTINCT user_id)", extraCols = "value, user_id"),
    "i_since"      -> temporalOracle(GraceLo, T2, Day, "count(*)"),
    "i_last_buckets" -> temporalOracle(T1, T2, Day, "count(*)", lastN = Some(5)),

    // ---- pipeline operator oracles (documents / embeddings tables).
    // The signature pipelines (minhash/simhash/lsh/ivf) use portable
    // polynomial hashing and sequential-fold float arithmetic, so the
    // WHOLE pipeline is replayed in DuckDB by [[OracleGen]] — no rows-only
    // gates left. Embedding dim is 64 at every SF (TESTDATA.md tables).
    "d_exact" ->
      "SELECT min(doc_id) AS doc_id, count(*) AS n_copies FROM documents GROUP BY text ORDER BY doc_id",
    "d_ngram"   -> OracleGen.ngramMetaPairsSql(0.1, 2, Seq("source", "lang")),
    "d_ngram_banded" -> OracleGen.minhashPairsSql(0.5, numHashes = 32, bands = 8, shingleK = 2, maxBucket = 1000),
    "d_minhash" -> OracleGen.minhashPairsSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_simcurve" -> OracleGen.similarityHistogramSql(numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_esterr"   -> OracleGen.minhashErrorReportSql(numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_contain" -> OracleGen.containmentPairsSql(0.8, shingleK = 3, minShared = 2L, maxBucket = 1000),
    "d_lev"     -> OracleGen.levPairsSql(20, numHashes = 32, bands = 8, shingleK = 2, maxBucket = 1000),
    "d_pagerank" -> OracleGen.pageRankSql(0.5, numHashes = 64, bands = 16, shingleK = 3,
      maxBucket = 1000, iterations = 5, damping = 0.85),
    "d_labelprop" -> OracleGen.labelPropagationSql(0.5, numHashes = 64, bands = 16, shingleK = 3,
      maxBucket = 1000, rounds = 4),
    "d_hits" -> OracleGen.hitsSql(0.5, numHashes = 64, bands = 16, shingleK = 3,
      maxBucket = 1000, rounds = 4),
    "d_modularity" -> OracleGen.modularitySql(0.5, numHashes = 64, bands = 16, shingleK = 3,
      maxBucket = 1000, rounds = 4),
    "d_ari" -> OracleGen.ariSql(0.5, numHashes = 64, bands = 16, shingleK = 3,
      maxBucket = 1000, rounds = 4),
    "d_triangles" -> OracleGen.trianglesSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_tricount"  -> OracleGen.triangleCountsSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "st_alsobought" -> OracleGen.adamicAdarBasketSql(minSupport = 2L, topK = 50),
    "st_ppr" -> OracleGen.personalizedPageRankBasketSql(minSupport = 2L,
      iterations = 5, damping = 0.85, topK = 50),
    "st_hops" -> OracleGen.bfsHopsBasketSql(minSupport = 2L, maxHops = 3),
    "d_lcc"       -> OracleGen.lccSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_kcore"     -> OracleGen.kCoreSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000, k = 2, rounds = 6),
    "d_assort"    -> OracleGen.degreeAssortativitySql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_truss"     -> OracleGen.kTrussSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000, k = 3, rounds = 4),
    "d_cdc"      -> OracleGen.cdcPairsSql(divisor = 8, minWords = 3, minShared = 2L, maxBucket = 1000),
    "d_winnow"   -> OracleGen.winnowPairsSql(k = 16, w = 8, minShared = 2L, maxBucket = 200),
    "d_winnow_gate" -> OracleGen.winnowGateSql(k = 16, w = 8, minShared = 2L, maxBucket = 200, mod = 4),
    "d_winnow_contain" -> OracleGen.winnowContainmentSql(k = 16, w = 8, minShared = 2L, maxBucket = 200),
    "d_gate"    -> OracleGen.gateAgainstCorpusSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000, mod = 4),
    "d_cc"      -> OracleGen.ccClustersSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_cc_hist" -> OracleGen.clusterHistogramSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_report"  -> OracleGen.dedupReportSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_ccweight" -> OracleGen.componentWeightsSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_dupgrams" -> OracleGen.dupNgramRateSql(k = 8),
    "d_crossdup" -> OracleGen.crossSourceDuplicatesSql(0.5, numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000),
    "d_novelty" -> OracleGen.noveltyScoresSql(shingleK = 3),
    "d_lines"   -> OracleGen.segmentDedupSql(segWords = 4, minDocs = 2),
    "d_decon"   -> OracleGen.decontaminateSql(shingleK = 5, mod = 10),
    // d_bloom deliberately SHARES d_decon's oracle: the bloom path must be
    // row-identical to the exact path (no false negatives + exact confirm)
    "d_bloom"   -> OracleGen.decontaminateSql(shingleK = 5, mod = 10),
    "d_split_decon" -> OracleGen.splitDeconSql(shingleK = 5, trainCut = 8000, testLo = 9000, seed = 7L),
    "d_decon_hits" -> OracleGen.contaminationReportSql(shingleK = 5, minHits = 2L, mod = 10),
    "d_spans"      -> OracleGen.repeatedSpansSql(spanK = 5, minDocs = 2L),
    "d_span_docs"  -> OracleGen.spanContaminatedDocsSql(spanK = 5, minDocs = 2L),
    "d_simhash" -> OracleGen.simhashPairsSql(3, maxBucket = 1000),
    "d_embed"   -> OracleGen.lshCosinePairsSql(0.4, planesPerTable = 7, tables = 12, dim = 64),
    "d_embed_gate" -> OracleGen.vectorGateSql(0.4, planesPerTable = 7, tables = 12, dim = 64, mod = 4),
    "d_embed_exact" -> OracleGen.cosinePairsSql(0.4, dim = 64, idMax = 500),
    "d_embed_dedup" -> OracleGen.vectorDeduplicatedSql(0.4, planesPerTable = 7, tables = 12, dim = 64),
    "ann_lsh"   -> OracleGen.lshCosinePairsSql(0.4, planesPerTable = 6, tables = 8, dim = 64),
    "ann_lsh_auto" -> OracleGen.lshCosinePairsAutoSql(0.4, embCount,
      simTarget = 0.9, recall = 0.9, margin = 1, multiProbe = false, dim = 64),
    "ann_lsh_mp"   -> OracleGen.lshCosinePairsAutoSql(0.4, embCount,
      simTarget = 0.9, recall = 0.9, margin = 1, multiProbe = true, dim = 64),
    "ann_ivf"   -> OracleGen.ivfTopKSql(nlist = 16, nprobe = 4, k = 20, dim = 64),
    "ann_pq"    -> OracleGen.pqTopKSql(m = 8, kpq = 16, dim = 64, k = 20),
    "ann_ivfpq" -> OracleGen.ivfPqTopKSql(nlist = 16, nprobe = 4, m = 8, kpq = 16, dim = 64, k = 20),
    "ann_pq_rerank" -> OracleGen.pqRerankSql(m = 8, kpq = 16, dim = 64, k = 20, nCand = 60),
    "ann_mrl" -> OracleGen.matryoshkaTopKSql(dPrefix = 16, nCand = 60, k = 20),
    "ann_int8" -> OracleGen.int8RerankSql(nCand = 60, k = 20, dim = 64),
    "ann_1bit" -> OracleGen.oneBitRerankSql(nCand = 60, k = 20, dim = 64),
    // derived sizing from the SAME functions the Spark side runs, applied
    // to the live count — lockstep at every SF without pinning
    "ann_ivf_auto" -> OracleGen.ivfTopKSql(
      nlist = Similarity.nlistFor(embCount),
      nprobe = Similarity.nprobeFor(Similarity.nlistFor(embCount)), k = 20, dim = 64),
    "sem_dedup" -> OracleGen.semDedupSql(tau = 0.4, nlist = 16, dim = 64),
    "sem_report" -> OracleGen.clusterReportSql(nlist = 16, dim = 64),
    "sem_outlier" -> OracleGen.clusterOutliersSql(nlist = 16, dim = 64, k = 20),
    "sem_purity" -> OracleGen.clusterPuritySql(nlist = 16, dim = 64),
    "sem_kcenter" -> OracleGen.kCenterCoresetSql(k = 8),
    "ann_recall" -> OracleGen.annRecallSql(nlist = 16, nprobe = 4, k = 20, dim = 64),
    "sem_balance" -> OracleGen.clusterBalancedSampleSql(nlist = 16, perCluster = 10, dim = 64),
    "ann_join"  -> OracleGen.annJoinSql(k = 5, qmod = 50, planesPerTable = 6, tables = 8, dim = 64),
    "ann_margin" -> OracleGen.marginPairsSql(k = 4, threshold = 1.0, planesPerTable = 6, tables = 8, dim = 64),
    "ann_negatives" -> OracleGen.hardNegativesSql(m = 5, dupCut = 0.95, searchK = 10, qmod = 50,
      planesPerTable = 6, tables = 8, dim = 64),
    "ann_triplets" -> OracleGen.contrastiveTripletsSql(jaccardThreshold = 0.5,
      numHashes = 64, bands = 16, shingleK = 3, maxBucket = 1000,
      m = 3, dupCut = 0.95, searchK = 10, planesPerTable = 6, tables = 8, dim = 64),
    "ann_knn"   -> OracleGen.knnClassifySql(k = 10, qmod = 50, planesPerTable = 6, tables = 8, dim = 64),
    "ann_ndcg"  -> OracleGen.rankEvalSql(k = 10, qmod = 50, planesPerTable = 6, tables = 8, dim = 64),
    "ann_join_mp" -> OracleGen.annJoinSql(k = 5, qmod = 50, planesPerTable = 6, tables = 4,
      dim = 64, multiProbe = true),
    "ann_join_auto" -> {
      val kP = Similarity.planesFor(embCount)
      OracleGen.annJoinSql(k = 5, qmod = 50, planesPerTable = kP,
        tables = Similarity.tablesFor(kP, simTarget = 0.9, recall = 0.9), dim = 64)
    },
    "ann_pca"    -> OracleGen.pcaProjectSql(dim = 64, k = 2, iters = 12),
    "ann_pca_topk" -> OracleGen.pcaTopKRerankSql(dim = 64, kDims = 4, iters = 12,
      qid = 0L, k = 10, nCand = 50),
    "ann_pcavar" -> OracleGen.pcaVarianceSql(dim = 64, k = 2, iters = 12),
    "ann_whiten" -> OracleGen.pcaProjectSql(dim = 64, k = 2, iters = 12, whiten = true),
    "ann_drift"  -> OracleGen.embeddingDriftSql(dim = 64),
    "ann_isotropy" -> OracleGen.isotropyReportSql(dim = 64),
    "ann_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) SELECT vec_id, round(s, 3) AS sim FROM (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS s FROM embeddings) ORDER BY s DESC, vec_id LIMIT 20""",
    "ann_filter" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) SELECT vec_id, round(s, 3) AS sim FROM (SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) AS s FROM embeddings WHERE label = 3) ORDER BY s DESC, vec_id LIMIT 10""",
    "tx_tokens" -> {
      val w = "string_split(text, ' ')"
      s"""SELECT doc_id, len($w) AS n_tokens, len(list_distinct($w)) AS n_distinct_tokens, len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS n_bpe_tokens, round(length(replace(text, ' ', ''))*1.0 / len($w), 4) AS avg_word_len FROM documents ORDER BY doc_id"""
    },
    "tx_rollup" -> {
      val sw    = "['the','a','of','and','to','in','is','on','for','it']"
      val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
      val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
      val q     = s"round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4)"
      s"""WITH t AS (SELECT lang, source, len(ws)::BIGINT AS n_toks, $q AS q
         |  FROM (SELECT lang, source, text, string_split(text, ' ') AS ws FROM documents))
         |SELECT lang, source, GROUPING(lang, source)::BIGINT AS gid, count(*)::BIGINT AS n_docs,
         |  sum(n_toks)::BIGINT AS n_tokens,
         |  round(sum(round(q*10000)::BIGINT)::DOUBLE / (count(*)::DOUBLE * 10000.0), 6) AS avg_quality
         |FROM t GROUP BY CUBE (lang, source) ORDER BY gid, lang, source""".stripMargin.replace("\n", " ")
    },
    // KL terms fold in token order (list(... ORDER BY w)); identical term
    // spelling, one ln per term, one 6-dp snap at the end
    "tx_dsir" -> OracleGen.importanceWeightsSql("source = 'src0'"),
    "tx_dsir_top" -> OracleGen.dsirTopSql("source = 'src0'", 0.25),
    "tx_xent" -> OracleGen.crossBigramScoreSql("source = 'src0'"),
    "tx_pplbucket" -> OracleGen.perplexityBucketsSql("source = 'src0'"),
    "tx_gopher" -> OracleGen.gopherRulesSql(minWords = 30, maxWords = 100000,
      minMeanLen = 3.0, maxMeanLen = 10.0, maxSymbolRatio = 0.1, minStopHits = 2),
    "tx_drift" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
        |sw AS (SELECT source, w, count(*)::DOUBLE AS c_sw FROM w GROUP BY 1, 2),
        |wt AS (SELECT w, count(*)::DOUBLE AS c_w FROM w GROUP BY 1),
        |st AS (SELECT source, count(*)::DOUBLE AS n_s FROM w GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM w),
        |t AS (SELECT sw.source, sw.w, (c_sw / n_s) * ln((c_sw / n_s) / (c_w / n.n)) AS term
        |      FROM sw JOIN wt USING (w) JOIN st USING (source), n)
        |SELECT source, count(*)::BIGINT AS n_terms,
        |  round(list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY w)), (a, b) -> a + b), 6) AS kl
        |FROM t GROUP BY source ORDER BY source""".stripMargin.replace("\n", " "),
    "tx_qnorm" -> {
      val sw    = "['the','a','of','and','to','in','is','on','for','it']"
      val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
      val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
      val q     = s"round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4)"
      s"""WITH t AS (SELECT doc_id, lang, $q AS quality
         |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS ws FROM documents))
         |SELECT doc_id, lang, quality,
         |  round(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 4) AS pct_rank
         |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    "tx_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (SELECT doc_id, ws, unnest(range(0, len(ws), 24)) AS start FROM t)
        |SELECT doc_id, (start // 24)::BIGINT AS chunk_idx,
        |  array_to_string(list_slice(ws, (start+1)::INT, (start+32)::INT), ' ') AS chunk_text,
        |  least(len(ws) - start, 32)::BIGINT AS n_tokens
        |FROM s ORDER BY doc_id, chunk_idx""".stripMargin.replace("\n", " "),
    "tx_quality" -> {
      val sw    = "['the','a','of','and','to','in','is','on','for','it']"
      val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
      val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents) SELECT doc_id, len(ws) AS n_tokens, round($hits/len(ws), 4) AS stopword_ratio, round($punct/length(text), 4) AS punct_ratio, round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4) AS quality FROM t ORDER BY doc_id"""
    },
    "tx_langid"  -> s"SELECT doc_id, $LangCase AS predicted_lang, h_en AS en_hits FROM ($LangHits) ORDER BY doc_id",
    "tx_temp"    -> OracleGen.temperatureSampleSql(temperature = 2.0, totalFraction = 0.5),
    "tx_doremi"  -> OracleGen.domainReweightSql(rounds = 3, lr = 0.5, smoothing = 0.1),
    "tx_sample"  -> OracleGen.stratifiedSampleSql(Seq("en" -> 0.5, "de" -> 1.0, "es" -> 0.25), seed = 7L),
    "tx_wsample" -> OracleGen.weightedSampleSql(fraction = 0.5, weightCol = "n_chars"),
    "tx_budget" -> {
      val sw    = "['the','a','of','and','to','in','is','on','for','it']"
      val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
      val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
      // the oracle is the NAIVE form — one global ordered running sum —
      // which the bucketed Spark plan must reproduce row-for-row
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
         |q AS (SELECT doc_id, len(ws) AS n_toks, round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4) AS quality FROM t),
         |c AS (SELECT doc_id, sum(n_toks) OVER (ORDER BY quality DESC, doc_id) AS cum FROM q)
         |SELECT doc_id FROM c WHERE cum <= 15000 ORDER BY doc_id""".stripMargin.replace("\n", " ")
    },
    // the oracle is the NAIVE global running sum the two-phase plan equals
    "tx_pack" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / 256.0) AS BIGINT) AS seq_id
        |FROM t ORDER BY doc_id""".stripMargin.replace("\n", " "),
    // shard deal: snake position over the same (tokens DESC, id) total
    // order — pos < n keeps pos, else reflects to 2n-1-pos
    "tx_shards" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |  ((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 16) AS pos FROM t)
        |SELECT doc_id, n_tokens,
        |  (CASE WHEN pos < 8 THEN pos ELSE 15 - pos END)::BIGINT AS shard
        |FROM p ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "tx_shardbal" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |  ((row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) % 16) AS pos FROM t),
        |a AS (SELECT doc_id, n_tokens,
        |  (CASE WHEN pos < 8 THEN pos ELSE 15 - pos END)::BIGINT AS shard FROM p)
        |SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin.replace("\n", " "),
    "tx_curate" -> {
      val sw    = "['the','a','of','and','to','in','is','on','for','it']"
      val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
      val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
      s"""WITH l AS (SELECT doc_id, $LangCase AS predicted_lang FROM ($LangHits)),
         |q AS (SELECT doc_id, len(ws) AS n_tokens, round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4) AS quality FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents)),
         |reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)
         |SELECT q.doc_id, predicted_lang, n_tokens, quality
         |FROM q JOIN l ON q.doc_id = l.doc_id JOIN reps ON q.doc_id = reps.doc_id
         |WHERE predicted_lang IN ('en','de') AND quality >= 0.5 AND n_tokens BETWEEN 5 AND 10000
         |ORDER BY q.doc_id""".stripMargin.replace("\n", " ")
    },
    "tx_mix" -> OracleGen.trainingMixSql(
      mixRates = Seq("en" -> 0.5, "de" -> 1.0), seqTokens = 256L,
      keepLangs = Seq("en", "de"), minQuality = 0.5,
      nearDupThreshold = 0.5, deconShingleK = 5, mod = 10),
    "tx_mix2" -> OracleGen.trainingMixSql(
      mixRates = Seq("en" -> 0.5, "de" -> 1.0), seqTokens = 256L,
      keepLangs = Seq("en", "de"), minQuality = 0.5,
      nearDupThreshold = 0.5, deconShingleK = 5, mod = 10,
      scrub = true, repetition = Some((0.7, 0.2, 0.9)), capK = Some(15)),
    "tx_langacc" -> s"WITH p AS (SELECT doc_id, lang, $LangCase AS predicted_lang FROM ($LangHits)) SELECT lang, count(*) AS n, sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END)::BIGINT AS correct FROM p GROUP BY lang ORDER BY lang",
    "tx_rep"      -> OracleGen.repetitionSignalsSql(dupWordMax = 0.7, topWordMax = 0.2, dupBigramMax = 0.9),
    "tx_lm"       -> OracleGen.unigramLogProbSql(vocabSize = 20),
    "tx_lm2"      -> OracleGen.bigramLogProbSql(),
    "tx_quantile" -> OracleGen.tokenQuantilesSql(Seq(0.5, 0.9)),
    "tx_qfilter"  -> OracleGen.quantileFilterSql(0.5),
    "tx_cap"      -> OracleGen.capPerGroupSql(10),
    "tx_scrub"    -> OracleGen.scrubPiiSql(),
    "tx_norm" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')) AS text,
        |  length(trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'), '\s+', ' ', 'g')))::BIGINT AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "tx_fingerprint" ->
      "SELECT doc_id, list_reduce(list_transform(string_split(text,' '), w -> ((length(w)*131 + ascii(substr(w,1,1))) % 1000000007)::BIGINT), (a,b) -> (a*31 + b) % 1000000007) AS fingerprint FROM documents ORDER BY doc_id",
    "tx_watermark" -> OracleGen.watermarkScoresSql(seed = 7L, minTokens = 16L),
    "tx_interleave" -> OracleGen.interleaveSql(k = 100, seed = 7L),
    // mojibake: same injected anomalies (CASE order = engine when order),
    // explicit codepoint class so Java regex and RE2 agree; worst doc =
    // (anomaly count DESC, doc_id) rank 1
    "tx_mojibake" ->
      """WITH dirty AS (SELECT doc_id, source,
        |  CASE WHEN doc_id % 13 = 0 THEN text || chr(1) || chr(2)
        |       WHEN doc_id % 17 = 0 THEN text || chr(65533) ELSE text END AS text
        |  FROM documents),
        |s AS (SELECT source, doc_id, length(text)::BIGINT AS n,
        |  (length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')))::BIGINT AS c,
        |  (length(text) - length(replace(text, chr(65533), '')))::BIGINT AS r FROM dirty),
        |w AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY (c + r) DESC, doc_id) AS rn FROM s),
        |g AS (SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_chars,
        |        sum(c)::BIGINT AS n_control, sum(r)::BIGINT AS n_replacement FROM s GROUP BY 1)
        |SELECT g.source, n_docs, n_chars, n_control, n_replacement,
        |  round(n_control::DOUBLE * 10000.0 / greatest(n_chars, 1)::DOUBLE, 6) AS control_per_10k,
        |  round(n_replacement::DOUBLE * 10000.0 / greatest(n_chars, 1)::DOUBLE, 6) AS replacement_per_10k,
        |  w.doc_id AS worst_doc
        |FROM g JOIN w ON w.source = g.source AND w.rn = 1
        |ORDER BY g.source""".stripMargin.replace("\n", " "),
    "tx_json" ->
      // sum(BIGINT) is HUGEINT in DuckDB — cast back so the hash compare sees int64
      """SELECT event_type, count(json_extract_string(props, '$.k')::BIGINT) AS n, sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS k_sum FROM events GROUP BY event_type ORDER BY event_type""",
    "sft_valid" ->
      s"""WITH $chatTurnsCte,
         |v AS (SELECT conv_id, turn_idx, role,
         |        lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev FROM turns),
         |a AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
         |        max(CASE WHEN turn_idx = 1 THEN role END) AS first_role,
         |        sum(CASE WHEN role = prev THEN 1 ELSE 0 END)::BIGINT AS n_violations,
         |        max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS has_assistant
         |      FROM v GROUP BY conv_id)
         |SELECT conv_id, n_turns, first_role, n_violations, has_assistant,
         |  (CASE WHEN first_role = 'user' AND n_violations = 0 AND has_assistant = 1 THEN 1 ELSE 0 END)::BIGINT AS valid
         |FROM a ORDER BY conv_id""".stripMargin.replace("\n", " "),
    "sft_mask" ->
      s"""WITH $chatTurnsCte,
         |a AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
         |        sum(len(string_split(content, ' ')))::BIGINT AS total_tokens,
         |        sum(CASE WHEN role = 'assistant' THEN len(string_split(content, ' ')) ELSE 0 END)::BIGINT AS assistant_tokens
         |      FROM turns GROUP BY conv_id)
         |SELECT conv_id, n_turns, total_tokens, assistant_tokens,
         |  round(assistant_tokens / total_tokens, 6) AS mask_ratio
         |FROM a ORDER BY conv_id""".stripMargin.replace("\n", " "),
    "sft_trim" ->
      s"""WITH $chatTurnsCte,
         |t AS (SELECT conv_id, turn_idx, role, len(string_split(content, ' '))::BIGINT AS n_tokens FROM turns),
         |r AS (SELECT conv_id, turn_idx, role, n_tokens,
         |        sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev FROM t)
         |SELECT conv_id, turn_idx::BIGINT AS turn_idx, role, n_tokens
         |FROM r WHERE rev <= 600 ORDER BY conv_id, turn_idx""".stripMargin.replace("\n", " "),
    "sft_gate" ->
      s"""WITH $chatTurnsCte,
         |v AS (SELECT conv_id, turn_idx, role, content,
         |        lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev FROM turns),
         |a AS (SELECT conv_id, count(*)::BIGINT AS n_turns,
         |        max(CASE WHEN turn_idx = 1 THEN role END) AS first_role,
         |        sum(CASE WHEN role = prev THEN 1 ELSE 0 END)::BIGINT AS n_violations,
         |        max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)::BIGINT AS has_assistant,
         |        sum(len(string_split(content, ' ')))::BIGINT AS total_tokens,
         |        sum(CASE WHEN role = 'assistant' THEN len(string_split(content, ' ')) ELSE 0 END)::BIGINT AS assistant_tokens
         |      FROM v GROUP BY conv_id)
         |SELECT conv_id, n_turns, round(assistant_tokens / total_tokens, 6) AS mask_ratio
         |FROM a WHERE first_role = 'user' AND n_violations = 0 AND has_assistant = 1
         |  AND round(assistant_tokens / total_tokens, 6) >= 0.2
         |ORDER BY conv_id""".stripMargin.replace("\n", " "),
    "sft_passk" ->
      """WITH s AS (SELECT user_id AS prompt_id, (value >= 50.0) AS passed FROM events),
        |a AS (SELECT prompt_id, count(*)::BIGINT AS n_samples,
        |        sum(CASE WHEN passed THEN 1 ELSE 0 END)::BIGINT AS n_passed
        |      FROM s GROUP BY prompt_id)
        |SELECT prompt_id, n_samples, n_passed,
        |  CASE WHEN n_passed = 0 THEN 0.0
        |       WHEN n_samples - n_passed < 3 THEN 1.0
        |       ELSE round(1.0 - list_reduce(
        |              list_transform(range(0, 3),
        |                i -> (n_samples::DOUBLE - n_passed::DOUBLE - i) / (n_samples::DOUBLE - i)),
        |              (x, y) -> x * y), 6)
        |  END AS pass_at_k
        |FROM a WHERE n_samples >= 3 ORDER BY prompt_id""".stripMargin.replace("\n", " "),
    // length bias: the sft_prefs pair chain joined to props.k lengths;
    // all counts exact int64, the two ratios one division each
    "sft_lenbias" ->
      """WITH c AS (SELECT user_id AS prompt_id, event_id AS cand_id, round(value, 2) AS score
        |            FROM events WHERE value IS NOT NULL),
        |r AS (SELECT prompt_id, cand_id, score,
        |        row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, cand_id) AS rb,
        |        row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, cand_id) AS rw FROM c),
        |b AS (SELECT prompt_id, cand_id AS chosen_id, score AS bs FROM r WHERE rb = 1),
        |w AS (SELECT prompt_id, cand_id AS rejected_id, score AS ws FROM r WHERE rw = 1),
        |p AS (SELECT chosen_id, rejected_id FROM b JOIN w ON b.prompt_id = w.prompt_id
        |      WHERE b.chosen_id <> w.rejected_id AND b.bs - w.ws >= 1.0),
        |l AS (SELECT event_id AS cand_id, json_extract_string(props, '$.k')::BIGINT AS len
        |      FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |j AS (SELECT lc.len AS lc, lr.len AS lr FROM p
        |      JOIN l lc ON lc.cand_id = p.chosen_id
        |      JOIN l lr ON lr.cand_id = p.rejected_id),
        |a AS (SELECT count(*)::BIGINT AS n_pairs,
        |        sum(CASE WHEN lc > lr THEN 1 ELSE 0 END)::BIGINT AS n_chosen_longer,
        |        sum(CASE WHEN lc < lr THEN 1 ELSE 0 END)::BIGINT AS n_rejected_longer,
        |        sum(lc - lr)::BIGINT AS d FROM j)
        |SELECT n_pairs, coalesce(n_chosen_longer, 0)::BIGINT AS n_chosen_longer,
        |  coalesce(n_rejected_longer, 0)::BIGINT AS n_rejected_longer,
        |  CASE WHEN n_pairs = 0 THEN 0.0::DOUBLE
        |       ELSE round(n_chosen_longer::DOUBLE / n_pairs::DOUBLE, 6) END AS chosen_longer_rate,
        |  CASE WHEN n_pairs = 0 THEN 0.0::DOUBLE
        |       ELSE round(d::DOUBLE / n_pairs::DOUBLE, 6) END AS mean_len_diff
        |FROM a""".stripMargin.replace("\n", " "),
    // best-of-n: the pass@k product form per ascending score rank —
    // C(i−1,n−1)/C(N,n) = (Π_{j<n} (i−j)/(N−j))·n/i — times the score,
    // per-prompt ascending-sorted fold, endpoints emax_1 = mean
    "sft_bon" -> {
      val emax = (nv: Int) => {
        val wgt = s"""list_reduce(list_prepend(1.0::DOUBLE, list_transform(range(0, $nv),
                     |  j -> (i::DOUBLE - j) / (n::DOUBLE - j))), (x, y) -> x * y)
                     |  * ($nv.0::DOUBLE / i::DOUBLE) * score""".stripMargin
        s"""round(list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(
           |  CASE WHEN i >= $nv THEN $wgt ELSE 0.0::DOUBLE END))), (a, b) -> a + b), 6) AS emax_$nv"""
          .stripMargin
      }
      s"""WITH c AS (SELECT user_id AS prompt_id, event_id AS cand_id, round(value, 2) AS score
         |           FROM events WHERE value IS NOT NULL),
         |r AS (SELECT prompt_id, score,
         |        row_number() OVER (PARTITION BY prompt_id ORDER BY score, cand_id) AS i,
         |        count(*) OVER (PARTITION BY prompt_id) AS n FROM c)
         |SELECT prompt_id, count(*)::BIGINT AS n_samples, max(score) AS best,
         |  ${emax(1)}, ${emax(2)}, ${emax(4)}
         |FROM r GROUP BY prompt_id HAVING count(*) >= 4 ORDER BY prompt_id"""
        .stripMargin.replace("\n", " ")
    },
    "sft_adv" ->
      """WITH c AS (SELECT user_id AS prompt_id, event_id AS cand_id, round(value, 2) AS score
        |            FROM events WHERE value IS NOT NULL),
        |k AS (SELECT prompt_id, cand_id, score, CAST(round(score * 100, 0) AS BIGINT) AS cents FROM c),
        |st AS (SELECT prompt_id, count(*)::BIGINT AS n, sum(cents)::BIGINT AS s1, sum(cents * cents)::BIGINT AS s2
        |       FROM k GROUP BY prompt_id)
        |SELECT k.prompt_id, k.cand_id, k.score,
        |  round((k.score - s1 / (n * 100.0))
        |    / (sqrt(greatest(s2 / (n * 10000.0) - (s1 / (n * 100.0)) * (s1 / (n * 100.0)), 0.0)) + 1e-6), 6) AS advantage
        |FROM k JOIN st ON st.prompt_id = k.prompt_id
        |ORDER BY k.prompt_id, k.cand_id""".stripMargin.replace("\n", " "),
    "tx_packwaste" ->
      """WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |        CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / 256.0) AS BIGINT) AS seq_id FROM t),
        |a AS (SELECT seq_id, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS used_tokens FROM p GROUP BY seq_id)
        |SELECT seq_id, n_docs, used_tokens,
        |  greatest(256 - used_tokens, 0)::BIGINT AS waste,
        |  greatest(used_tokens - 256, 0)::BIGINT AS overflow
        |FROM a ORDER BY seq_id""".stripMargin.replace("\n", " "),
    // independent window formulation of the same preference semantics
    "sft_prefs" ->
      """WITH c AS (SELECT user_id AS prompt_id, event_id AS cand_id, round(value, 2) AS score
        |            FROM events WHERE value IS NOT NULL),
        |r AS (SELECT prompt_id, cand_id, score,
        |        row_number() OVER (PARTITION BY prompt_id ORDER BY score DESC, cand_id) AS rb,
        |        row_number() OVER (PARTITION BY prompt_id ORDER BY score ASC, cand_id) AS rw,
        |        count(*) OVER (PARTITION BY prompt_id) AS n FROM c),
        |b AS (SELECT prompt_id, cand_id AS chosen_id, score AS bs, n FROM r WHERE rb = 1),
        |w AS (SELECT prompt_id, cand_id AS rejected_id, score AS ws FROM r WHERE rw = 1)
        |SELECT b.prompt_id, b.n::BIGINT AS n_cands, b.chosen_id, w.rejected_id, b.bs - w.ws AS margin
        |FROM b JOIN w ON b.prompt_id = w.prompt_id
        |WHERE b.chosen_id <> w.rejected_id AND b.bs - w.ws >= 1.0
        |ORDER BY b.prompt_id""".stripMargin.replace("\n", " "),
    "sft_dedup" ->
      s"""WITH $chatTurnsCte
         |SELECT md5(content) AS digest, count(*)::BIGINT AS n_copies, min(conv_id) AS first_conv
         |FROM turns WHERE role = 'assistant'
         |GROUP BY md5(content) HAVING count(*) >= 2 ORDER BY digest""".stripMargin.replace("\n", " "),
    "sft_pack" ->
      s"""WITH $chatTurnsCte,
         |rend AS (SELECT conv_id, string_agg(role || ': ' || content, chr(10) ORDER BY turn_idx) AS text
         |         FROM turns GROUP BY conv_id),
         |t AS (SELECT conv_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM rend)
         |SELECT conv_id, n_tokens,
         |  CAST(floor((sum(n_tokens) OVER (ORDER BY conv_id) - n_tokens) / 512.0) AS BIGINT) AS seq_id
         |FROM t ORDER BY conv_id""".stripMargin.replace("\n", " "),
    "sft_parse" ->
      s"""WITH $chatTurnsCte,
         |conv AS (SELECT conv_id,
         |           to_json(list_transform(
         |             list_sort(list(struct_pack(turn_idx := turn_idx, role := role, content := content))),
         |             t -> struct_pack(role := t.role, content := t.content))) AS j
         |         FROM turns GROUP BY conv_id),
         |p AS (SELECT conv_id, from_json(j::VARCHAR, '["json"]') AS l FROM conv),
         |x AS (SELECT conv_id, unnest(generate_series(1, len(l))) AS turn_idx, l FROM p)
         |SELECT conv_id, turn_idx::BIGINT AS turn_idx,
         |  json_extract_string(l[turn_idx], '$$.role') AS role,
         |  json_extract_string(l[turn_idx], '$$.content') AS content
         |FROM x ORDER BY conv_id, turn_idx""".stripMargin.replace("\n", " "),
    // DuckDB has a NATIVE ASOF JOIN — an independent implementation of the
    // same semantics as the union+window Spark shape
    "ev_asof" ->
      """SELECT l.user_id, l.event_id, l.ts, r.click_value
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS ts, round(max(value), 3) AS click_value
        |                FROM events WHERE event_type = 'click' GROUP BY user_id, epoch_us(ts)) r
        |ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.event_id""".stripMargin.replace("\n", " "),
    "ev_funnel" -> OracleGen.funnelCountsSql(Seq("view", "click", "purchase")),
    "ev_wfunnel" -> OracleGen.funnelCountsWithinSql(Seq("view", "click", "purchase"), 3L * 86400000000L),
    // interpolated percentiles over integer gaps: quantile_cont matches
    // Spark's exact percentile per the interpolated-median rule
    "ev_gaps" ->
      """WITH g AS (SELECT event_type, ts - lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) AS gap
        |FROM (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events))
        |SELECT event_type, count(gap)::BIGINT AS n_gaps,
        |  quantile_cont(gap, 0.5) AS p50_gap, quantile_cont(gap, 0.9) AS p90_gap
        |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    // DuckDB's native ASOF JOIN again — independent of the Spark union+window
    "ev_attr" ->
      """WITH c AS (SELECT user_id, epoch_us(ts) AS ts, value FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, epoch_us(ts) AS ts, max(event_type) AS touch FROM events
        |      WHERE event_type IN ('click','signup','view') GROUP BY 1, 2),
        |j AS (SELECT c.user_id, c.ts, c.value, t.touch FROM c ASOF LEFT JOIN t
        |      ON c.user_id = t.user_id AND c.ts >= t.ts)
        |SELECT coalesce(touch, 'direct') AS touch, count(*)::BIGINT AS n_conversions,
        |  round(sum(value), 3) AS attributed_value
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    "ev_retention" ->
      """WITH f AS (SELECT user_id, min(epoch_us(ts)) AS fts FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, f.fts // 604800000000 AS cohort,
        |        epoch_us(e.ts) // 604800000000 - f.fts // 604800000000 AS bucket_offset
        |      FROM events e JOIN f USING (user_id))
        |SELECT cohort, bucket_offset, count(*) AS n_keys
        |FROM a GROUP BY cohort, bucket_offset ORDER BY cohort, bucket_offset""".stripMargin.replace("\n", " "),
    // Gini over count-of-count buckets: the rank-weighted sum per bucket
    // is c·(m·r + m(m+1)//2) with r the cumulative keys below — pure
    // integer arithmetic until the two final divisions
    // leading digit read from the exact cent lattice's decimal string —
    // no float log10 anywhere near the digit boundary
    "ev_benford" ->
      """WITH c AS (SELECT CAST(round(value * 100, 0) AS BIGINT) AS cents
        |           FROM events WHERE value IS NOT NULL AND value > 0),
        |d AS (SELECT CAST(substring(cents::VARCHAR, 1, 1) AS BIGINT) AS digit FROM c WHERE cents >= 1),
        |a AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
        |t AS (SELECT sum(n)::BIGINT AS tot FROM a)
        |SELECT digit, n, round(n::DOUBLE / tot::DOUBLE, 6) AS pct,
        |  round(ln(1.0 + 1.0 / digit::DOUBLE) / ln(10.0), 6) AS benford
        |FROM a CROSS JOIN t ORDER BY digit""".stripMargin.replace("\n", " "),
    "ev_gini" ->
      """WITH k AS (SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY user_id),
        |b AS (SELECT c, count(*)::BIGINT AS m FROM k GROUP BY c),
        |w AS (SELECT c, m, (sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) - m)::BIGINT AS r FROM b),
        |a AS (SELECT sum(m)::BIGINT AS n, sum(c * m)::BIGINT AS s,
        |             sum(c * (m * r + m * (m + 1) // 2))::BIGINT AS t FROM w)
        |SELECT n AS n_keys, s AS n_events,
        |  round((2.0 * t::DOUBLE) / (n * s)::DOUBLE - (n + 1)::DOUBLE / n::DOUBLE, 6) AS gini
        |FROM a""".stripMargin.replace("\n", " "),
    // Lorenz: histogram cumulative + exact straddling-class arithmetic;
    // one share division per decile
    "ev_lorenz" ->
      """WITH h AS (SELECT c, count(*)::BIGINT AS m FROM
        |             (SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY 1) GROUP BY c),
        |cu AS (SELECT c, m, sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS cu,
        |         sum(c * m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS ce FROM h),
        |t AS (SELECT max(cu)::BIGINT AS n_keys, max(ce)::BIGINT AS n_events FROM cu),
        |d AS (SELECT unnest(range(1, 11)) AS decile),
        |k AS (SELECT decile, (decile * n_keys) // 10 AS kd, n_events FROM d CROSS JOIN t)
        |SELECT k.decile, k.kd AS n_bottom_keys,
        |  CASE WHEN k.kd = 0 THEN 0.0::DOUBLE
        |       ELSE round((cu.ce - (cu.cu - k.kd) * cu.c)::DOUBLE / k.n_events::DOUBLE, 6) END AS event_share
        |FROM k LEFT JOIN cu ON cu.cu - cu.m < k.kd AND k.kd <= cu.cu
        |ORDER BY k.decile""".stripMargin.replace("\n", " "),
    // power-law alpha: exact per-user counts, ln of identical operands,
    // ascending-sorted fold, one closing division
    "ev_alpha" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS x FROM events GROUP BY 1),
        |t AS (SELECT x FROM c WHERE x >= 5),
        |a AS (SELECT count(*)::BIGINT AS n_tail,
        |        list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(ln(x::DOUBLE / 4.5)))), (p, q) -> p + q) AS s
        |      FROM t)
        |SELECT n_tail, 5::BIGINT AS xmin,
        |  CASE WHEN s > 0.0 THEN round(1.0::DOUBLE + n_tail::DOUBLE / s, 6) END AS alpha
        |FROM a""".stripMargin.replace("\n", " "),
    // k-anonymity: exact class counts over the QI tuple; one exposure
    // division per threshold (floor() for the band — round() halves split
    // across engines)
    "ev_kanon" -> {
      val ltCols = Seq(2, 5, 10).map { k =>
        s"""sum(CASE WHEN c < $k THEN 1 ELSE 0 END)::BIGINT AS classes_lt_$k,
           |  round(sum(CASE WHEN c < $k THEN c ELSE 0 END)::DOUBLE / sum(c)::DOUBLE, 6) AS exposure_lt_$k"""
          .stripMargin
      }.mkString(", ")
      s"""WITH q AS (SELECT event_type, (epoch_us(ts) // ${24 * HourUs}) AS day,
         |             floor(value)::BIGINT AS value_band FROM events),
         |cc AS (SELECT count(*)::BIGINT AS c FROM q GROUP BY event_type, day, value_band)
         |SELECT count(*)::BIGINT AS n_classes, sum(c)::BIGINT AS n_rows, min(c)::BIGINT AS min_class,
         |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons, $ltCols
         |FROM cc""".stripMargin.replace("\n", " ")
    },
    "ev_boot" -> OracleGen.bootstrapMeanSeSql(replicas = 32, seed = 7L),
    // linear MTA: floor-div credit + remainder to the (ts, tid)-last touch;
    // credit sums fold in HUGEINT (mirrors decimal(38,0)) then cast back
    "ev_mta" ->
      s"""WITH cv AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS ct,
         |             round(value * 100)::BIGINT AS cents FROM events WHERE event_type = 'purchase'),
         |tc AS (SELECT user_id, event_id AS tid, epoch_us(ts) AS tt, event_type
         |       FROM events WHERE event_type <> 'purchase'),
         |j AS (SELECT cv.cid, cv.cents, tc.tid, tc.tt, tc.event_type
         |      FROM cv JOIN tc ON cv.user_id = tc.user_id
         |        AND tc.tt <= cv.ct AND tc.tt > cv.ct - ${7L * 86400000000L}),
         |r AS (SELECT j.*, row_number() OVER (PARTITION BY cid ORDER BY tt DESC, tid DESC) AS rn,
         |        count(*) OVER (PARTITION BY cid)::BIGINT AS k FROM j),
         |cr AS (SELECT event_type,
         |         ((cents - ((cents % k) + k) % k) // k)
         |           + CASE WHEN rn = 1 THEN ((cents % k) + k) % k ELSE 0 END AS credit FROM r)
         |SELECT event_type, count(*)::BIGINT AS n_touches, sum(credit)::BIGINT AS credit_cents
         |FROM cr GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    // funnel step transition times: first-occurrence joins per pair, then
    // exact type-1 p50/p90 over the whole-second delta histogram
    "ev_steptime" ->
      """WITH f AS (SELECT user_id AS u, event_type AS s, min(epoch_us(ts))::BIGINT AS t
        |           FROM events WHERE event_type IN ('view', 'click', 'purchase') GROUP BY 1, 2),
        |pr AS (SELECT 0 AS i, 'view' AS step_from, 'click' AS step_to, (b.t - a.t) // 1000000 AS d
        |       FROM f a JOIN f b ON a.u = b.u AND a.s = 'view' AND b.s = 'click' AND b.t >= a.t
        |       UNION ALL
        |       SELECT 1, 'click', 'purchase', (b.t - a.t) // 1000000
        |       FROM f a JOIN f b ON a.u = b.u AND a.s = 'click' AND b.s = 'purchase' AND b.t >= a.t),
        |h AS (SELECT i, step_from, step_to, d, count(*)::BIGINT AS m FROM pr GROUP BY 1, 2, 3, 4),
        |cum AS (SELECT *, sum(m) OVER (PARTITION BY i ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |        sum(m) OVER (PARTITION BY i)::BIGINT AS n FROM h)
        |SELECT step_from, step_to, max(n)::BIGINT AS n_users,
        |  min(CASE WHEN cum >= (50 * n + 99) // 100 THEN d END)::BIGINT AS p50_s,
        |  min(CASE WHEN cum >= (90 * n + 99) // 100 THEN d END)::BIGINT AS p90_s
        |FROM cum GROUP BY i, step_from, step_to ORDER BY i""".stripMargin.replace("\n", " "),
    // exact type-1 percentiles: every window sum casts ::BIGINT (DuckDB
    // widens windowed sum(BIGINT) to HUGEINT — the roll_moving lesson)
    "ev_pctl" -> {
      def pick(p: Int) =
        s"min(CASE WHEN cum >= ($p * n + 99) // 100 THEN c END)::BIGINT AS p${p}_cents"
      s"""WITH h AS (SELECT event_type AS k, round(value * 100)::BIGINT AS c, count(*)::BIGINT AS m
         |           FROM events GROUP BY 1, 2),
         |cum AS (SELECT k, c, m,
         |          sum(m) OVER (PARTITION BY k ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         |          sum(m) OVER (PARTITION BY k)::BIGINT AS n FROM h)
         |SELECT k AS event_type, count(*)::BIGINT AS n_values, max(n)::BIGINT AS n_rows,
         |  ${pick(50)}, ${pick(90)}, ${pick(99)}
         |FROM cum GROUP BY k ORDER BY 1""".stripMargin.replace("\n", " ")
    },
    // Wilson interval: exact distinct-user counts, one fixed double chain
    // per bucket spelled identically to the engine's column expressions
    "ev_wilson" -> {
      val z  = 1.96
      val z2 = z * z
      val p  = "n_conv::DOUBLE / n_base::DOUBLE"
      val nd = "n_base::DOUBLE"
      val den = s"(1.0 + $z2 / $nd)"
      val ctr = s"($p + $z2 / (2.0 * $nd)) / $den"
      val haf = s"($z * sqrt((($p) * (1.0 - $p) + $z2 / (4.0 * $nd)) / $nd)) / $den"
      s"""WITH per AS (SELECT (epoch_us(ts) // ${7L * 86400000000L}) AS bucket, user_id,
         |  max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS f,
         |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS t
         |  FROM events GROUP BY 1, 2),
         |a AS (SELECT bucket, count(*)::BIGINT AS n_base, sum(t)::BIGINT AS n_conv
         |      FROM per WHERE f = 1 GROUP BY bucket)
         |SELECT bucket, n_base, n_conv,
         |  round($p, 6) AS rate,
         |  round(($ctr) - ($haf), 6) AS wilson_lo,
         |  round(($ctr) + ($haf), 6) AS wilson_hi
         |FROM a ORDER BY bucket""".stripMargin.replace("\n", " ")
    },
    // l-diversity: two-level exact aggregation (QI+sensitive → QI), then
    // the same threshold scan shape as ev_kanon over DISTINCT counts
    "ev_ldiv" -> {
      val ltCols = Seq(2, 3).map { l =>
        s"""sum(CASE WHEN d < $l THEN 1 ELSE 0 END)::BIGINT AS classes_lt_$l,
           |  round(sum(CASE WHEN d < $l THEN n ELSE 0 END)::DOUBLE / sum(n)::DOUBLE, 6) AS exposure_lt_$l"""
          .stripMargin
      }.mkString(", ")
      s"""WITH q AS (SELECT event_type, (epoch_us(ts) // ${24 * HourUs}) AS day,
         |             floor(value)::BIGINT AS value_band, user_id FROM events),
         |cs AS (SELECT event_type, day, value_band, user_id, count(*)::BIGINT AS c
         |       FROM q GROUP BY 1, 2, 3, 4),
         |cl AS (SELECT sum(c)::BIGINT AS n, count(*)::BIGINT AS d
         |       FROM cs GROUP BY event_type, day, value_band)
         |SELECT count(*)::BIGINT AS n_classes, sum(n)::BIGINT AS n_rows, min(d)::BIGINT AS min_diversity,
         |  sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_homogeneous, $ltCols
         |FROM cl""".stripMargin.replace("\n", " ")
    },
    // Spearman: total-order (metric, id) ranks → exact int64 moments →
    // one closed-form division of identical doubles
    "ev_spearman" ->
      """WITH per AS (SELECT user_id, count(*)::BIGINT AS ne,
        |        sum(round(value*100)::BIGINT)::BIGINT AS sp FROM events GROUP BY 1),
        |r AS (SELECT user_id,
        |        row_number() OVER (ORDER BY ne, user_id) AS rx,
        |        row_number() OVER (ORDER BY sp, user_id) AS ry FROM per),
        |a AS (SELECT count(*)::BIGINT AS n, sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
        |        sum(rx*rx)::BIGINT AS sxx, sum(ry*ry)::BIGINT AS syy, sum(rx*ry)::BIGINT AS sxy
        |      FROM r)
        |SELECT n, CASE WHEN n = 1 THEN 0.0::DOUBLE ELSE
        |  round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
        |    / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
        |           * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) END AS rho
        |FROM a""".stripMargin.replace("\n", " "),
    // Kaplan-Meier: exact int64 risk/death counts over day-bucketed
    // lifetimes; the survival scan is the [x]-wrapped prefix-product fold
    // (ts_ewma pattern) in ascending lifetime order
    "ev_survival" ->
      """WITH per AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l FROM events GROUP BY user_id),
        |mx AS (SELECT max(l) AS m FROM per),
        |u AS (SELECT (l - f) // 86400000000 AS t,
        |        (CASE WHEN (m - l) > 604800000000 THEN 1 ELSE 0 END)::BIGINT AS churn
        |      FROM per CROSS JOIN mx),
        |c AS (SELECT t, sum(churn)::BIGINT AS d, count(*)::BIGINT AS tot FROM u GROUP BY t),
        |tt AS (SELECT sum(tot)::BIGINT AS n FROM c),
        |o AS (SELECT t, d, tot, sum(tot) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM c),
        |r AS (SELECT t, d, (n - cum + tot)::BIGINT AS n_risk FROM o CROSS JOIN tt),
        |g AS (SELECT list(t ORDER BY t) AS ts_, list(d ORDER BY t) AS ds, list(n_risk ORDER BY t) AS ns
        |      FROM r WHERE d > 0),
        |s AS (SELECT ts_, ds, ns,
        |        (list_reduce(list_prepend([1.0::DOUBLE],
        |           list_transform(generate_series(1, len(ts_)),
        |             i -> [1.0::DOUBLE - ds[i::INT]::DOUBLE / ns[i::INT]::DOUBLE])),
        |           (a, b) -> list_append(a, a[-1] * b[1])))[2:] AS surv
        |      FROM g WHERE len(ts_) > 0)
        |SELECT unnest(ts_) AS t, unnest(ns) AS n_risk, unnest(ds) AS n_churned,
        |  round(unnest(surv), 6) AS survival
        |FROM s ORDER BY t""".stripMargin.replace("\n", " "),
    "ev_winsor" ->
      """WITH c AS (SELECT event_type, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
        |           FROM events GROUP BY event_type)
        |SELECT e.event_type, count(*) AS n,
        |       round(avg(greatest(c.lo, least(c.hi, e.value))), 3) AS winsorized_mean
        |FROM events e JOIN c USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin.replace("\n", " "),
    "ev_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts FROM events),
        |g AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > 3600000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts,
        |        (sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_idx
        |      FROM g)
        |SELECT user_id, session_idx, count(*) AS n_events, min(ts) AS session_start,
        |       max(ts) AS session_end, max(ts) - min(ts) AS duration
        |FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin.replace("\n", " "),
    "ev_range" ->
      """SELECT l.event_id AS p_id, r.event_id AS c_id
        |FROM (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'purchase') l
        |JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts FROM events WHERE event_type = 'click') r
        |ON l.user_id = r.user_id
        |AND r.ts BETWEEN l.ts - 3600000000 AND l.ts + 3600000000
        |ORDER BY p_id, c_id""".stripMargin.replace("\n", " "),
    // ---- time-series oracles: the grid floor `ts - ts % step` equals the
    // engine's pmod/div floor for the (always positive) epoch-µs domain;
    // bucket value = round(sum, 6) / count — see TimeSeries.resample
    "ts_resample" ->
      s"""SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    // gap enumeration: DuckDB range(ts, nt, step) is end-exclusive = the
    // engine's sequence(ts, nt - step, step) on a step-aligned grid; the
    // interpolation fraction is a ratio of exact longs and the grid values
    // arrive 6dp-snapped, so the unrounded doubles are bit-identical
    "ts_gapfill" ->
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |w AS (SELECT event_type, ts, value, lead(ts) OVER pw AS nt, lead(value) OVER pw AS nv
         |      FROM r WINDOW pw AS (PARTITION BY event_type ORDER BY ts)),
         |x AS (SELECT event_type, ts AS t0, value AS v0, nt, nv,
         |        unnest(CASE WHEN nt IS NOT NULL THEN range(ts, nt, $HourUs) ELSE [ts] END) AS t FROM w)
         |SELECT event_type, t AS ts,
         |  CASE WHEN t = t0 THEN v0 ELSE v0 + (nv - v0) * ((t - t0) / (nt - t0)) END AS value,
         |  t <> t0 AS filled
         |FROM x ORDER BY event_type, ts""".stripMargin.replace("\n", " "),
    "ts_rate" ->
      """WITH w AS (SELECT event_type, epoch_us(ts) AS ts, value,
        |             lag(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)) AS pv FROM events),
        |d AS (SELECT event_type, ts,
        |        CASE WHEN pv IS NULL THEN 0.0 WHEN value >= pv THEN value - pv ELSE value END AS dd FROM w)
        |SELECT event_type, count(*) AS n_samples, round(sum(dd), 3) AS increase,
        |  round(CASE WHEN max(ts) > min(ts) THEN sum(dd) / ((max(ts) - min(ts)) / 1000000.0) END, 6) AS rate_per_s
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "),
    // roll_avg = round(frame sum, 6) / frame count — see TimeSeries.rolling
    "ts_roll" ->
      s"""SELECT event_type, epoch_us(ts) AS ts, value,
         |  count(*) OVER w AS roll_n, round(sum(value) OVER w, 6) / count(*) OVER w AS roll_avg
         |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
         |  RANGE BETWEEN $HourUs PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, ts""".stripMargin.replace("\n", " "),
    // ACF: mean, denominator and each lag numerator are folds over the SAME
    // ts-ordered list as the engine's aggregate() folds (indexed-lambda
    // transform mirrors the engine's slice+zip_with term order), then one
    // division each -> bit-identical unrounded. Guards (len > k, den > 0)
    // are exact comparisons.
    "ts_acf" -> {
      val zero = "CAST(0.0 AS DOUBLE)"
      val lags = (1 to 6).map { k =>
        s"""CASE WHEN len(vs) > $k AND den > $zero THEN
           |  list_reduce(list_prepend($zero, list_transform(vs[:len(vs)-$k],
           |    (x, i) -> (x - mu) * (vs[i+$k] - mu))), (a, b) -> a + b) / den
           |END AS acf_$k""".stripMargin
      }.mkString(", ")
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |m AS (SELECT event_type, vs, list_reduce(list_prepend($zero, vs), (a, b) -> a + b) / len(vs) AS mu FROM g),
         |d AS (SELECT event_type, vs, mu,
         |        list_reduce(list_prepend($zero, list_transform(vs, x -> (x - mu) * (x - mu))), (a, b) -> a + b) AS den
         |      FROM m)
         |SELECT event_type, len(vs)::BIGINT AS n, $lags
         |FROM d ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // PACF: the acf CTE chain at 4 lags, then ONE CTE layer per
    // Durbin-Levinson scalar — the identical expression strings the
    // engine folds through withColumn (TimeSeries.pacfExprs)
    "ts_pacf" -> {
      val zero = "CAST(0.0 AS DOUBLE)"
      val lags = (1 to 4).map { k =>
        s"""CASE WHEN len(vs) > $k AND den > $zero THEN
           |  list_reduce(list_prepend($zero, list_transform(vs[:len(vs)-$k],
           |    (x, i) -> (x - mu) * (vs[i+$k] - mu))), (a, b) -> a + b) / den
           |END AS acf_$k""".stripMargin
      }.mkString(", ")
      val phis = TimeSeries.pacfExprs(4, k => s"acf_$k")
      val phiCtes = phis.zipWithIndex.map { case ((name, e), i) =>
        val prev = if (i == 0) "a0" else s"p${i - 1}"
        s"p$i AS (SELECT *, $e AS $name FROM $prev)"
      }.mkString(", ")
      val last = s"p${phis.length - 1}"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |m AS (SELECT event_type, vs, list_reduce(list_prepend($zero, vs), (a, b) -> a + b) / len(vs) AS mu FROM g),
         |d AS (SELECT event_type, vs, mu,
         |        list_reduce(list_prepend($zero, list_transform(vs, x -> (x - mu) * (x - mu))), (a, b) -> a + b) AS den
         |      FROM m),
         |a0 AS (SELECT event_type, len(vs)::BIGINT AS n, $lags FROM d),
         |$phiCtes
         |SELECT event_type, n, ${(1 to 4).map(k => s"round(phi_${k}_$k, 6) AS pacf_$k").mkString(", ")}
         |FROM $last ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // LTTB: bucket bounds are exact integer index arithmetic (1-based here,
    // 0-based in the engine — same buckets), bucket averages are ordered
    // folds, and the sequential selection UNROLLS as one CTE per bucket
    // (kCore-style). Unrolled — NOT a nested list_reduce — because DuckDB
    // 1.0 mis-evaluates lambdas that capture an OUTER lambda variable when
    // the vector carries multiple groups (verified: same query, one group
    // correct, five groups wrong); lambdas here capture only columns, the
    // shape every other ts_* oracle already relies on. Argmax keeps the
    // FIRST maximal candidate (list_position of the max), matching the
    // engine's strict-`>` fold.
    "ts_lttb" -> {
      val nOut = 24; val m = nOut - 2
      // area of candidate c (lambda var) in 0-based bucket b, prev = sel[-1]
      def area(b: Int) = {
        val px = "tss[sel[-1]]::DOUBLE"
        val py = "vs[sel[-1]]"
        val nx = if (b == m - 1) "tss[n]::DOUBLE" else s"bax[${b + 2}]"
        val ny = if (b == m - 1) "vs[n]" else s"bay[${b + 2}]"
        s"abs((($px) - ($nx)) * ((vs[c]) - ($py)) - (($px) - (tss[c]::DOUBLE)) * (($ny) - ($py)))"
      }
      def bavg(arr: String) =
        s"""CASE WHEN n > $nOut THEN list_transform(range(0, $m), q ->
           |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(range(bs[q+1], be[q+1]), i -> $arr[i]::DOUBLE)), (x, y) -> x + y)
           |  / (be[q+1] - bs[q+1])::DOUBLE) ELSE []::DOUBLE[] END""".stripMargin
      val rounds = (1 to m).map { t =>
        val b = t - 1
        s"""s$t AS (SELECT event_type, tss, vs, n, bs, be, bax, bay,
           |  CASE WHEN n <= $nOut THEN sel ELSE list_append(sel,
           |    bs[${b + 1}] + list_position(
           |      list_transform(range(bs[${b + 1}], be[${b + 1}]), c -> ${area(b)}),
           |      list_aggregate(list_transform(range(bs[${b + 1}], be[${b + 1}]), c -> ${area(b)}), 'max')) - 1)
           |  END AS sel FROM s${t - 1})""".stripMargin
      }.mkString(",\n")
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |bb AS (SELECT event_type, tss, vs, len(vs) AS n,
         |  list_transform(range(0, $m), q -> 2 + (q * (len(vs) - 2)) // $m) AS bs,
         |  list_transform(range(0, $m), q -> 2 + ((q + 1) * (len(vs) - 2)) // $m) AS be
         |  FROM g),
         |aa AS (SELECT event_type, tss, vs, n, bs, be, ${bavg("tss")} AS bax, ${bavg("vs")} AS bay FROM bb),
         |s0 AS (SELECT *, [1::BIGINT] AS sel FROM aa),
         |$rounds,
         |sf AS (SELECT event_type, tss, vs,
         |  CASE WHEN n <= $nOut THEN range(1, n + 1) ELSE list_append(sel, n) END AS sel
         |  FROM s$m)
         |SELECT event_type, unnest(list_transform(sel, i -> tss[i])) AS ts,
         |  unnest(list_transform(sel, i -> vs[i])) AS value
         |FROM sf ORDER BY event_type, ts""".stripMargin.replace("\n", " ")
    },
    // cross-correlation: the paired grid, means, denominators and lag
    // numerators replay the engine's ts-ordered folds (indexed-lambda
    // transform mirrors slice+zip_with term order); one sqrt of an exact
    // product normalizes each lag -> bit-identical unrounded
    "ts_xcorr" -> {
      val zero = "CAST(0.0 AS DOUBLE)"
      val lags = (0 to 6).map { k =>
        s"""CASE WHEN len(vas) > $k AND dena > $zero AND denb > $zero THEN
           |  list_reduce(list_prepend($zero, list_transform(vas[:len(vas)-$k],
           |    (x, i) -> (x - mua) * (vbs[i+$k] - mub))), (a, b) -> a + b) / sqrt(dena * denb)
           |END AS xcorr_$k""".stripMargin
      }.mkString(", ")
      s"""WITH p AS (SELECT epoch_us(ts) - epoch_us(ts) % $HourUs AS ts,
         |  round(sum(CASE WHEN event_type = 'click' THEN value END), 6) / count(CASE WHEN event_type = 'click' THEN 1 END) AS va,
         |  round(sum(CASE WHEN event_type = 'error' THEN value END), 6) / count(CASE WHEN event_type = 'error' THEN 1 END) AS vb
         |  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1),
         |j AS (SELECT ts, va, vb FROM p WHERE va IS NOT NULL AND vb IS NOT NULL),
         |g AS (SELECT list(va ORDER BY ts) AS vas, list(vb ORDER BY ts) AS vbs FROM j),
         |m AS (SELECT vas, vbs,
         |        list_reduce(list_prepend($zero, vas), (a, b) -> a + b) / len(vas) AS mua,
         |        list_reduce(list_prepend($zero, vbs), (a, b) -> a + b) / len(vbs) AS mub
         |      FROM g),
         |d AS (SELECT vas, vbs, mua, mub,
         |        list_reduce(list_prepend($zero, list_transform(vas, x -> (x - mua) * (x - mua))), (a, b) -> a + b) AS dena,
         |        list_reduce(list_prepend($zero, list_transform(vbs, x -> (x - mub) * (x - mub))), (a, b) -> a + b) AS denb
         |      FROM m)
         |SELECT len(vas)::BIGINT AS n, $lags FROM d""".stripMargin.replace("\n", " ")
    },
    // decomposition: trend/seasonal/resid replay the engine's in-array
    // folds — non-matching phase positions add an exact 0.0, so the fold
    // order is identical; everything emitted unrounded
    "ts_decomp" -> {
      val h    = 12
      val zero = "CAST(0.0 AS DOUBLE)"
      val half = "0.5::DOUBLE"
      def ph(i: String) = s"((tss[$i] // $HourUs) % 24)"
      val cond = (i: String) => s"${ph(i)} = j AND tr[$i] IS NOT NULL"
      val trend =
        s"""list_transform(vs, (x, i) -> CASE WHEN i > $h AND i <= len(vs) - $h THEN
           |  ($half * vs[i - $h]
           |   + list_reduce(list_prepend($zero, vs[i - $h + 1 : i + $h - 1]), (a, b) -> a + b)
           |   + $half * vs[i + $h]) / CAST(24.0 AS DOUBLE)
           |END)""".stripMargin
      val seasonal =
        s"""list_transform(range(0, 24), j -> CASE WHEN
           |  len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")})) > 0 THEN
           |  list_reduce(list_prepend($zero, list_transform(range(1, len(vs) + 1),
           |    i -> CASE WHEN ${cond("i")} THEN vs[i] - tr[i] ELSE $zero END)), (a, b) -> a + b)
           |  / len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")}))
           |END)""".stripMargin
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |t AS (SELECT event_type, tss, vs, $trend AS tr FROM g),
         |s AS (SELECT event_type, tss, vs, tr, $seasonal AS sm FROM t)
         |SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value, unnest(tr) AS trend,
         |  unnest(list_transform(range(1, len(vs) + 1), i -> sm[${ph("i")}::INT + 1])) AS seasonal,
         |  unnest(list_transform(range(1, len(vs) + 1), i -> vs[i] - tr[i] - sm[${ph("i")}::INT + 1])) AS resid
         |FROM s ORDER BY event_type, ts""".stripMargin.replace("\n", " ")
    },
    // seasonal/trend strength: the decompose chain exploded at the
    // trend-bearing points; each variance is the two-pass population form
    // with ascending-sorted folds (mean fold, then deviation fold)
    "ts_strength" -> {
      val h    = 12
      val zero = "CAST(0.0 AS DOUBLE)"
      val half = "0.5::DOUBLE"
      def ph(i: String) = s"((tss[$i] // $HourUs) % 24)"
      val cond = (i: String) => s"${ph(i)} = j AND tr[$i] IS NOT NULL"
      val trend =
        s"""list_transform(vs, (x, i) -> CASE WHEN i > $h AND i <= len(vs) - $h THEN
           |  ($half * vs[i - $h]
           |   + list_reduce(list_prepend($zero, vs[i - $h + 1 : i + $h - 1]), (a, b) -> a + b)
           |   + $half * vs[i + $h]) / CAST(24.0 AS DOUBLE)
           |END)""".stripMargin
      val seasonal =
        s"""list_transform(range(0, 24), j -> CASE WHEN
           |  len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")})) > 0 THEN
           |  list_reduce(list_prepend($zero, list_transform(range(1, len(vs) + 1),
           |    i -> CASE WHEN ${cond("i")} THEN vs[i] - tr[i] ELSE $zero END)), (a, b) -> a + b)
           |  / len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")}))
           |END)""".stripMargin
      def fold(x: String) =
        s"list_reduce(list_prepend($zero, list_sort(list($x))), (a, b) -> a + b)"
      def strength(v: String, den: String) =
        s"""CASE WHEN $den <= $zero THEN 0.0::DOUBLE
           |     ELSE round(greatest($zero, 1.0::DOUBLE - $v / $den), 6) END""".stripMargin
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |t AS (SELECT event_type, tss, vs, $trend AS tr FROM g),
         |s AS (SELECT event_type, tss, vs, tr, $seasonal AS sm FROM t),
         |u0 AS (SELECT event_type, tr[i] AS tv, sm[${ph("i")}::INT + 1] AS sv,
         |         vs[i] - tr[i] - sm[${ph("i")}::INT + 1] AS rv
         |       FROM s, unnest(range(1, len(vs) + 1)) AS q(i) WHERE tr[i] IS NOT NULL),
         |u AS (SELECT event_type, rv, tv + rv AS trr, sv + rv AS srr FROM u0),
         |m AS (SELECT event_type, count(*)::BIGINT AS n_points,
         |        ${fold("rv")} / count(*)::DOUBLE AS mr,
         |        ${fold("trr")} / count(*)::DOUBLE AS mtr,
         |        ${fold("srr")} / count(*)::DOUBLE AS msr FROM u GROUP BY 1),
         |v AS (SELECT u.event_type, max(n_points)::BIGINT AS n_points,
         |        ${fold("(rv - mr) * (rv - mr)")} / count(*)::DOUBLE AS vr,
         |        ${fold("(trr - mtr) * (trr - mtr)")} / count(*)::DOUBLE AS vtr,
         |        ${fold("(srr - msr) * (srr - msr)")} / count(*)::DOUBLE AS vsr
         |      FROM u JOIN m USING (event_type) GROUP BY u.event_type)
         |SELECT event_type, n_points,
         |  ${strength("vr", "vtr")} AS trend_strength,
         |  ${strength("vr", "vsr")} AS seasonal_strength
         |FROM v ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // seasonal anomalies: the decompose chain plus a ts-ordered RMS fold
    // over the non-null residuals and an unrounded |resid| > k*rms cut
    "ts_sanom" -> {
      val h    = 12
      val zero = "CAST(0.0 AS DOUBLE)"
      val half = "0.5::DOUBLE"
      def ph(i: String) = s"((tss[$i] // $HourUs) % 24)"
      val cond = (i: String) => s"${ph(i)} = j AND tr[$i] IS NOT NULL"
      val trend =
        s"""list_transform(vs, (x, i) -> CASE WHEN i > $h AND i <= len(vs) - $h THEN
           |  ($half * vs[i - $h]
           |   + list_reduce(list_prepend($zero, vs[i - $h + 1 : i + $h - 1]), (a, b) -> a + b)
           |   + $half * vs[i + $h]) / CAST(24.0 AS DOUBLE)
           |END)""".stripMargin
      val seasonal =
        s"""list_transform(range(0, 24), j -> CASE WHEN
           |  len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")})) > 0 THEN
           |  list_reduce(list_prepend($zero, list_transform(range(1, len(vs) + 1),
           |    i -> CASE WHEN ${cond("i")} THEN vs[i] - tr[i] ELSE $zero END)), (a, b) -> a + b)
           |  / len(list_filter(range(1, len(vs) + 1), i -> ${cond("i")}))
           |END)""".stripMargin
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |t AS (SELECT event_type, tss, vs, $trend AS tr FROM g),
         |s AS (SELECT event_type, tss, vs, tr, $seasonal AS sm FROM t),
         |rl AS (SELECT event_type, tss, vs,
         |  list_transform(range(1, len(vs) + 1), i -> vs[i] - tr[i] - sm[${ph("i")}::INT + 1]) AS rs FROM s),
         |m AS (SELECT event_type, sqrt(
         |  list_reduce(list_prepend($zero, list_transform(list_filter(rs, x -> x IS NOT NULL), x -> x * x)), (a, b) -> a + b)
         |  / len(list_filter(rs, x -> x IS NOT NULL))) AS rms FROM rl),
         |u AS (SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value, unnest(rs) AS resid FROM rl)
         |SELECT u.event_type, ts, value, resid, rms
         |FROM u JOIN m ON u.event_type = m.event_type
         |WHERE abs(resid) > 2.0 * rms ORDER BY u.event_type, ts""".stripMargin.replace("\n", " ")
    },
    // OLS trend: all four sufficient sums are exact integer-lattice sums
    // (grid index × 1e-6-snapped value), so slope/intercept/forecast divide
    // identical doubles; the slope expression is spelled twice (rounded
    // column + inline inside intercept) exactly as the Spark agg does
    "ts_trend" -> {
      val h = 24
      val slopeE = "CASE WHEN n*sxx - sx*sx = 0 THEN 0.0 ELSE (n*sxy - sx*sy)/(n*sxx - sx*sx) END"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |m AS (SELECT event_type, min(ts) AS t0 FROM r GROUP BY 1),
         |xy AS (SELECT r.event_type, (r.ts - t0) // $HourUs AS x, round(value * 1000000.0)::BIGINT AS y6, r.ts
         |       FROM r JOIN m USING (event_type)),
         |a AS (SELECT event_type, count(*)::BIGINT AS n_points, max(x) AS xmax, max(ts) AS tmax,
         |       count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx, sum(y6)::DOUBLE/1000000.0 AS sy,
         |       sum(x*y6)::DOUBLE/1000000.0 AS sxy, sum(x*x)::DOUBLE AS sxx FROM xy GROUP BY event_type),
         |b AS (SELECT event_type, n_points, xmax, tmax, round($slopeE, 6) AS slope,
         |       round((sy - ($slopeE)*sx)/n, 6) AS intercept FROM a)
         |SELECT event_type, n_points, slope, intercept,
         |  (tmax + $h * $HourUs)::BIGINT AS forecast_ts,
         |  round(intercept + slope * (xmax + $h)::DOUBLE, 6) AS forecast
         |FROM b ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // Theil–Sen: pairwise slopes divide identical lattice-snapped doubles;
    // the exact median spells the same middle-order-statistic sum/count on
    // both sides; the intercept residuals reuse the 6-dp-rounded slope
    "ts_theilsen" -> {
      val med = (src: String, c: String, out: String) =>
        s"""(SELECT event_type, round(sum($c) / count(*), 6) AS $out, max(n)::BIGINT AS ${out}_n
           |  FROM (SELECT event_type, $c,
           |          row_number() OVER (PARTITION BY event_type ORDER BY $c) AS rn,
           |          count(*) OVER (PARTITION BY event_type) AS n FROM $src)
           |  WHERE rn >= (n + 1) // 2 AND rn <= (n + 2) // 2 GROUP BY event_type)""".stripMargin
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, ts // $HourUs AS x, value AS v FROM r),
         |pr AS (SELECT a.event_type, (b.v - a.v) / (b.x - a.x)::DOUBLE AS s
         |       FROM g a JOIN g b ON a.event_type = b.event_type AND a.x < b.x),
         |ms AS ${med("pr", "s", "slope")},
         |ri AS (SELECT g.event_type, v - slope * x::DOUBLE AS i FROM g JOIN ms USING (event_type)),
         |mi AS ${med("ri", "i", "intercept")},
         |np AS (SELECT event_type, count(*)::BIGINT AS n_points FROM g GROUP BY 1)
         |SELECT event_type, n_points, slope_n AS n_pairs, slope, intercept
         |FROM np JOIN ms USING (event_type) JOIN mi USING (event_type)
         |ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // incremental rollup: the merged stats table must equal DuckDB's full
    // direct aggregation (sum snap round(,3); mean divides the 6-dp snap)
    "roll_maint" ->
      s"""SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS bucket,
         |  count(*)::BIGINT AS n, round(sum(value), 3) AS total,
         |  min(value) AS vmin, max(value) AS vmax,
         |  round(sum(value), 6) / count(*) AS mean
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    // window sums fold on the micro-unit BIGINT lattice (round(v6*1e6)) so
    // the fold is exact on any engine; sums cast ::BIGINT — DuckDB's uncast
    // sum(BIGINT) is HUGEINT and the driver hash is type-sensitive
    "roll_moving" ->
      s"""WITH c AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS bucket,
         |  count(*)::BIGINT AS n, CAST(round(round(sum(value), 6) * 1e6, 0) AS BIGINT) AS vmicro,
         |  min(value) AS vmin, max(value) AS vmax FROM events GROUP BY 1, 2),
         |wdf AS (SELECT event_type, bucket,
         |  (sum(n) OVER w)::BIGINT AS w_n, (sum(vmicro) OVER w)::BIGINT AS w_micro,
         |  min(vmin) OVER w AS w_min, max(vmax) OVER w AS w_max
         |FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket
         |  RANGE BETWEEN ${23L * HourUs} PRECEDING AND CURRENT ROW))
         |SELECT event_type, bucket, w_n, round(w_micro::DOUBLE / 1e6, 3) AS w_total,
         |  w_min, w_max, (w_micro::DOUBLE / 1e6) / w_n AS w_mean
         |FROM wdf ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "roll_regrain" ->
      s"""SELECT event_type, epoch_us(ts) - epoch_us(ts) % ${24 * HourUs} AS bucket,
         |  count(*)::BIGINT AS n, round(sum(value), 3) AS total,
         |  min(value) AS vmin, max(value) AS vmax,
         |  round(sum(value), 6) / count(*) AS mean
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    // Holt: the struct scan's level expression is spelled out INSIDE the
    // trend expression on both sides (same op sequence), init {x1, 0.0},
    // sentinel-free (first element is the seed state)
    "ts_holt" -> {
      val a    = "CAST(0.5 AS DOUBLE)"
      val b    = "CAST(0.25 AS DOUBLE)"
      val one  = "CAST(1.0 AS DOUBLE)"
      val zero = "CAST(0.0 AS DOUBLE)"
      val lNew = s"$a * e[1].l + ($one - $a) * (a[-1].l + a[-1].b)"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |s AS (SELECT event_type, tss, vs,
         |        list_reduce(
         |          list_prepend([{'l': vs[1], 'b': $zero}], list_transform(vs[2:], x -> [{'l': x, 'b': $zero}])),
         |          (a, e) -> list_append(a, {'l': $lNew,
         |                                    'b': $b * (($lNew) - a[-1].l) + ($one - $b) * a[-1].b})) AS hs
         |      FROM g)
         |SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value,
         |  unnest(list_transform(hs, h -> h.l)) AS level,
         |  unnest(list_transform(hs, h -> h.b)) AS trend,
         |  unnest(list_transform(hs, h -> h.l + h.b)) AS forecast
         |FROM s ORDER BY event_type, ts""".stripMargin.replace("\n", " ")
    },
    // turning-point test: strict extrema on the hourly cent grid + the
    // Kendall z against E[T] = 2(n-2)/3, Var = (16n-29)/90
    "ts_turning" ->
      s"""WITH r AS (SELECT event_type, (epoch_us(ts) // $HourUs) * $HourUs AS t,
         |             round(sum(value), 6) / count(*) AS v FROM events GROUP BY 1, 2),
         |c AS (SELECT event_type, t, CAST(round(v * 100) AS BIGINT) AS c FROM r),
         |l AS (SELECT event_type, c,
         |        lag(c) OVER (PARTITION BY event_type ORDER BY t) AS p,
         |        lead(c) OVER (PARTITION BY event_type ORDER BY t) AS nx FROM c),
         |g AS (SELECT event_type, count(*)::BIGINT AS n,
         |        sum(CASE WHEN p IS NOT NULL AND nx IS NOT NULL AND
         |              ((c > p AND c > nx) OR (c < p AND c < nx)) THEN 1 ELSE 0 END)::BIGINT
         |          AS turning_points
         |      FROM l GROUP BY 1)
         |SELECT event_type, n, turning_points,
         |  CASE WHEN n >= 3 THEN
         |    round((turning_points::DOUBLE - 2.0 * (n::DOUBLE - 2.0) / 3.0)
         |          / sqrt((16.0 * n::DOUBLE - 29.0) / 90.0), 6) END AS z
         |FROM g ORDER BY event_type""".stripMargin.replace("\n", " "),
    // permutation entropy: ordinal patterns of strict 3-tick windows
    // (ties excluded on the exact lattice), value-sorted entropy fold,
    // one division by ln 6
    "ts_pentropy" ->
      s"""WITH r AS (SELECT event_type, (epoch_us(ts) // $HourUs) * $HourUs AS t,
         |             round(sum(value), 6) / count(*) AS v FROM events GROUP BY 1, 2),
         |w AS (SELECT event_type, v AS v1,
         |        lead(v, 1) OVER tw AS v2, lead(v, 2) OVER tw AS v3
         |      FROM r WINDOW tw AS (PARTITION BY event_type ORDER BY t)),
         |f AS (SELECT event_type,
         |        CASE WHEN v1 < v2 AND v2 < v3 THEN 0
         |             WHEN v1 < v3 AND v3 < v2 THEN 1
         |             WHEN v2 < v1 AND v1 < v3 THEN 2
         |             WHEN v2 < v3 AND v3 < v1 THEN 3
         |             WHEN v3 < v1 AND v1 < v2 THEN 4
         |             ELSE 5 END AS pat
         |      FROM w WHERE v2 IS NOT NULL AND v3 IS NOT NULL
         |        AND v1 <> v2 AND v1 <> v3 AND v2 <> v3),
         |c AS (SELECT event_type, pat, count(*)::BIGINT AS c FROM f GROUP BY 1, 2),
         |n AS (SELECT event_type, pat, c,
         |        sum(c) OVER (PARTITION BY event_type)::BIGINT AS n FROM c)
         |SELECT event_type, max(n)::BIGINT AS n_windows, count(*)::BIGINT AS n_patterns,
         |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_sort(list((c::DOUBLE / n::DOUBLE) * ln(n::DOUBLE / c::DOUBLE)))),
         |      (a, b) -> a + b) / ln(6.0), 6) AS pentropy
         |FROM n GROUP BY event_type ORDER BY event_type""".stripMargin.replace("\n", " "),
    // runs test: type-1 lower median from the per-key value histogram,
    // median ties dropped, runs counted on the time-ordered lag; the z
    // moments are the engine's exact-long products in one double chain
    "ts_runs" ->
      s"""WITH r AS (SELECT event_type, (epoch_us(ts) // $HourUs) * $HourUs AS t,
         |             round(sum(value), 6) / count(*) AS v FROM events GROUP BY 1, 2),
         |h AS (SELECT event_type, v, count(*)::BIGINT AS m FROM r GROUP BY 1, 2),
         |md AS (SELECT event_type, min(v) AS med FROM
         |        (SELECT event_type, v,
         |           sum(m) OVER (PARTITION BY event_type ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         |           sum(m) OVER (PARTITION BY event_type)::BIGINT AS n FROM h)
         |       WHERE cum >= (n + 1) // 2 GROUP BY 1),
         |s AS (SELECT r.event_type, t, CASE WHEN v > med THEN 1 ELSE -1 END AS sg
         |      FROM r JOIN md USING (event_type) WHERE v <> med),
         |l AS (SELECT event_type, sg,
         |        lag(sg) OVER (PARTITION BY event_type ORDER BY t) AS p FROM s),
         |a AS (SELECT event_type,
         |        sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END)::BIGINT AS n_above,
         |        sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END)::BIGINT AS n_below,
         |        sum(CASE WHEN p IS NULL OR sg <> p THEN 1 ELSE 0 END)::BIGINT AS n_runs
         |      FROM l GROUP BY 1)
         |SELECT event_type, n_above, n_below, n_runs,
         |  CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
         |        AND ((2 * n_above * n_below) * (2 * n_above * n_below - (n_above + n_below)))::DOUBLE > 0
         |       THEN round((n_runs::DOUBLE -
         |           ((2 * n_above * n_below)::DOUBLE / (n_above + n_below)::DOUBLE + 1.0))
         |         / sqrt(((2 * n_above * n_below) * (2 * n_above * n_below - (n_above + n_below)))::DOUBLE
         |             / (((n_above + n_below) * (n_above + n_below) * (n_above + n_below - 1))::DOUBLE)), 4)
         |       END AS z
         |FROM a ORDER BY event_type""".stripMargin.replace("\n", " "),
    // dominant period: exact int64 phase sums on the 1e-6 value lattice,
    // HUGEINT square fold (mirrors decimal(38,0)), per-(key, P) phase
    // terms folded ascending by VALUE (graft_fold_sum's kernel order),
    // argmax via (strength DESC, P) rank
    "ts_period" ->
      s"""WITH r AS (SELECT event_type, (epoch_us(ts) // $HourUs) AS idx, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |v AS (SELECT event_type, idx, CAST(round(value * 1000000.0) AS BIGINT) AS v6 FROM r),
         |t AS (SELECT event_type, count(*)::BIGINT AS n, sum(v6)::BIGINT AS s,
         |        sum(v6::HUGEINT * v6::HUGEINT) AS ss FROM v GROUP BY 1),
         |p AS (SELECT event_type, pp AS P, idx % pp AS ph, count(*)::BIGINT AS np, sum(v6)::BIGINT AS sp
         |      FROM v, unnest(range(2, 25)) AS u(pp) GROUP BY 1, 2, 3),
         |b AS (SELECT p.event_type, p.P,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          list_sort(list(np::DOUBLE * (sp::DOUBLE / np::DOUBLE - t.s::DOUBLE / t.n::DOUBLE)
         |               * (sp::DOUBLE / np::DOUBLE - t.s::DOUBLE / t.n::DOUBLE)))),
         |          (a, b) -> a + b) AS ssb,
         |        max(t.ss::DOUBLE - t.s::DOUBLE * t.s::DOUBLE / t.n::DOUBLE) AS sst
         |      FROM p JOIN t ON p.event_type = t.event_type GROUP BY 1, 2),
         |k AS (SELECT event_type, P, ssb / sst AS r,
         |        row_number() OVER (PARTITION BY event_type ORDER BY ssb / sst DESC, P) AS rn
         |      FROM b WHERE sst > 0.0)
         |SELECT event_type, P::BIGINT AS period, round(r, 6) AS strength
         |FROM k WHERE rn = 1 ORDER BY event_type""".stripMargin.replace("\n", " "),
    // CUSUM location: the ts_cusum mean + a zero-seeded prefix scan, then
    // a relational (|S| DESC, k ASC) rank instead of a fold argmax (the
    // struct-accumulator fold is the DuckDB shape that loses state)
    "ts_cpt" ->
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |m AS (SELECT event_type, tss, vs,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs), (a, b) -> a + b) / len(vs) AS mu FROM g),
         |s AS (SELECT event_type, tss,
         |        (list_reduce(list_prepend([CAST(0.0 AS DOUBLE)], list_transform(vs, x -> [x])),
         |          (a, b) -> list_append(a, a[-1] + (b[1] - mu))))[2:] AS ss FROM m),
         |u AS (SELECT event_type, tss, ss, unnest(generate_series(1, len(ss))) AS i FROM s),
         |am AS (SELECT event_type, tss, i, abs(ss[i::INT]) AS mg,
         |         row_number() OVER (PARTITION BY event_type ORDER BY abs(ss[i::INT]) DESC, i) AS rn FROM u)
         |SELECT event_type, tss[i::INT] AS cp_ts, len(tss)::BIGINT AS n_points, round(mg, 6) AS magnitude
         |FROM am WHERE rn = 1 ORDER BY event_type""".stripMargin.replace("\n", " "),
    // walk-forward Holt eval: the ts_holt state fold verbatim, then the
    // one-step errors and their abs/square ascending folds, one division
    // each, sqrt — every op mirrored, snapped at 6 dp
    "ts_backtest" -> {
      val a    = "CAST(0.5 AS DOUBLE)"
      val b    = "CAST(0.25 AS DOUBLE)"
      val one  = "CAST(1.0 AS DOUBLE)"
      val zero = "CAST(0.0 AS DOUBLE)"
      val lNew = s"$a * e[1].l + ($one - $a) * (a[-1].l + a[-1].b)"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |s AS (SELECT event_type, vs,
         |        list_reduce(
         |          list_prepend([{'l': vs[1], 'b': $zero}], list_transform(vs[2:], x -> [{'l': x, 'b': $zero}])),
         |          (a, e) -> list_append(a, {'l': $lNew,
         |                                    'b': $b * (($lNew) - a[-1].l) + ($one - $b) * a[-1].b})) AS hs
         |      FROM g WHERE len(vs) >= 2),
         |er AS (SELECT event_type, len(vs)::BIGINT - 1 AS nf,
         |         list_transform(generate_series(2, len(vs)),
         |           i -> vs[i::INT] - (hs[(i - 1)::INT].l + hs[(i - 1)::INT].b)) AS errs
         |       FROM s)
         |SELECT event_type, nf AS n_forecasts,
         |  round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(errs, x -> abs(x))), (a2, b2) -> a2 + b2) / nf::DOUBLE, 6) AS mae,
         |  round(sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(errs, x -> x * x)), (a2, b2) -> a2 + b2) / nf::DOUBLE), 6) AS rmse
         |FROM er ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // Holt–Winters: the ts_holt list fold with a seasonal vector in the
    // state; only the tick's phase slot updates (1-based index lambda vs
    // the engine's 0-based transform — the CASE compares j = phi + 1);
    // lNew spelled inline everywhere, identical literals
    "ts_hw" -> {
      val p    = 24
      val a    = "CAST(0.5 AS DOUBLE)"
      val b    = "CAST(0.25 AS DOUBLE)"
      val g    = "CAST(0.25 AS DOUBLE)"
      val one  = "CAST(1.0 AS DOUBLE)"
      val zero = "CAST(0.0 AS DOUBLE)"
      val zeros = "[" + Seq.fill(p)(zero).mkString(", ") + "]"
      val sPrev = s"a[-1].sv[(len(a) % $p) + 1]"
      val lNew  = s"$a * (e[1].l - $sPrev) + ($one - $a) * (a[-1].l + a[-1].b)"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |gg AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |s AS (SELECT event_type, tss, vs,
         |        list_reduce(
         |          list_prepend([{'l': vs[1], 'b': $zero, 'sv': $zeros}],
         |            list_transform(vs[2:], x -> [{'l': x, 'b': $zero, 'sv': $zeros}])),
         |          (a, e) -> list_append(a, {'l': $lNew,
         |            'b': $b * (($lNew) - a[-1].l) + ($one - $b) * a[-1].b,
         |            'sv': list_transform(a[-1].sv, (v, j) -> CASE WHEN j = (len(a) % $p) + 1
         |              THEN $g * (e[1].l - ($lNew)) + ($one - $g) * v ELSE v END)})) AS hw
         |      FROM gg)
         |SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value,
         |  unnest(list_transform(hw, h -> h.l)) AS level,
         |  unnest(list_transform(hw, h -> h.b)) AS trend,
         |  unnest(list_transform(hw, (h, t) -> h.sv[((t - 1) % $p) + 1])) AS seasonal,
         |  unnest(list_transform(hw, (h, t) -> h.l + h.b + h.sv[(t % $p) + 1])) AS forecast
         |FROM s ORDER BY event_type, ts""".stripMargin.replace("\n", " ")
    },
    // MASE: same Holt error channel as ts_backtest + the naive lag-1
    // channel over the same horizon; mase divides the two raw abs-sums
    // (the 1/nf cancels), null on a flat series
    "ts_mase" -> {
      val a    = "CAST(0.5 AS DOUBLE)"
      val b    = "CAST(0.25 AS DOUBLE)"
      val one  = "CAST(1.0 AS DOUBLE)"
      val zero = "CAST(0.0 AS DOUBLE)"
      val lNew = s"$a * e[1].l + ($one - $a) * (a[-1].l + a[-1].b)"
      def sumAbs(e: String) =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform($e, x -> abs(x))), (a2, b2) -> a2 + b2)"
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |s AS (SELECT event_type, vs,
         |        list_reduce(
         |          list_prepend([{'l': vs[1], 'b': $zero}], list_transform(vs[2:], x -> [{'l': x, 'b': $zero}])),
         |          (a, e) -> list_append(a, {'l': $lNew,
         |                                    'b': $b * (($lNew) - a[-1].l) + ($one - $b) * a[-1].b})) AS hs
         |      FROM g WHERE len(vs) >= 2),
         |er AS (SELECT event_type, len(vs)::BIGINT - 1 AS nf,
         |         ${sumAbs("list_transform(generate_series(2, len(vs)), i -> vs[i::INT] - (hs[(i - 1)::INT].l + hs[(i - 1)::INT].b))")} AS me,
         |         ${sumAbs("list_transform(generate_series(2, len(vs)), i -> vs[i::INT] - vs[(i - 1)::INT])")} AS mn
         |       FROM s)
         |SELECT event_type, nf AS n_forecasts,
         |  round(me / nf::DOUBLE, 6) AS mae,
         |  round(mn / nf::DOUBLE, 6) AS naive_mae,
         |  CASE WHEN mn > 0.0 THEN round(me / mn, 6) END AS mase
         |FROM er ORDER BY event_type""".stripMargin.replace("\n", " ")
    },
    // EWMA/CUSUM scans: list_reduce folds the SAME ts-ordered list with the
    // SAME literals as the engine's aggregate() fold -> every intermediate
    // double is the same IEEE op sequence; emitted unrounded on purpose.
    // The [x]-wrapping makes the accumulator a list so the fold is a scan;
    // CUSUM prepends a [0.0] sentinel (s0 = 0) and slices it off.
    "ts_ewma" ->
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |s AS (SELECT event_type, tss, vs,
         |        list_reduce(list_transform(vs, x -> [x]),
         |          (a, b) -> list_append(a, 0.25::DOUBLE * b[1] + (CAST(1.0 AS DOUBLE) - 0.25::DOUBLE) * a[-1])) AS sm
         |      FROM g)
         |SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value, unnest(sm) AS ewma
         |FROM s ORDER BY event_type, ts""".stripMargin.replace("\n", " "),
    "ts_cusum" ->
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |g AS (SELECT event_type, list(ts ORDER BY ts) AS tss, list(value ORDER BY ts) AS vs FROM r GROUP BY 1),
         |m AS (SELECT event_type, tss, vs,
         |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs), (a, b) -> a + b) / len(vs) AS mu FROM g),
         |s AS (SELECT event_type, tss, vs,
         |        (list_reduce(list_prepend([CAST(0.0 AS DOUBLE)], list_transform(vs, x -> [x])),
         |          (a, b) -> list_append(a, greatest(CAST(0.0 AS DOUBLE), a[-1] + b[1] - mu - 0.5::DOUBLE))))[2:] AS hi,
         |        (list_reduce(list_prepend([CAST(0.0 AS DOUBLE)], list_transform(vs, x -> [x])),
         |          (a, b) -> list_append(a, greatest(CAST(0.0 AS DOUBLE), a[-1] + mu - b[1] - 0.5::DOUBLE))))[2:] AS lo
         |      FROM m)
         |SELECT event_type, unnest(tss) AS ts, unnest(vs) AS value, unnest(hi) AS cusum_hi, unnest(lo) AS cusum_lo
         |FROM s ORDER BY event_type, ts""".stripMargin.replace("\n", " "),
    "ts_zscore" ->
      """WITH s AS (SELECT event_type, epoch_us(ts) AS ts, value,
        |             avg(value) OVER tw AS m, stddev_samp(value) OVER tw AS sd
        |           FROM events WINDOW tw AS (PARTITION BY event_type))
        |SELECT event_type, ts, value, round((value - m) / sd, 3) AS z
        |FROM s WHERE sd > 0 AND abs((value - m) / sd) > 3.0 ORDER BY event_type, ts""".stripMargin.replace("\n", " "),
    // anomaly episodes: grid z flags, exact-integer island anchor, merge
    "ts_anomint" ->
      s"""WITH r AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % $HourUs AS ts, round(sum(value), 6) / count(*) AS value
         |           FROM events GROUP BY 1, 2),
         |s AS (SELECT event_type, ts, value,
         |        avg(value) OVER tw AS m, stddev_samp(value) OVER tw AS sd
         |      FROM r WINDOW tw AS (PARTITION BY event_type)),
         |f AS (SELECT event_type, ts, round((value - m) / sd, 3) AS z
         |      FROM s WHERE sd > 0 AND abs((value - m) / sd) > 2.5),
         |i AS (SELECT event_type, ts, z,
         |        ts - $HourUs * row_number() OVER (PARTITION BY event_type ORDER BY ts) AS anchor
         |      FROM f)
         |SELECT event_type, min(ts) AS start_ts, max(ts) AS end_ts,
         |  count(*)::BIGINT AS n_ticks, max(abs(z)) AS peak_z
         |FROM i GROUP BY event_type, anchor ORDER BY event_type, start_ts""".stripMargin.replace("\n", " "),
    // ---- keyword retrieval oracles (rt_bm25_idx shares rt_bm25's SQL:
    // the index path must reproduce the corpus-scan result exactly)
    // star-schema gates: every money sum is exact integer cents, cast
    // ::BIGINT (DuckDB's sum(BIGINT) is HUGEINT — the tx_json trap), and
    // derived doubles divide the exact sum once, in the same order as Spark
    "st_pricing" ->
      """WITH l AS (SELECT l_returnflag, l_linestatus, round(l_quantity)::BIGINT AS q,
        |  round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d, round(l_tax*100)::BIGINT AS t
        |  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00')
        |SELECT l_returnflag, l_linestatus, sum(q)::BIGINT AS sum_qty,
        |  sum(ep)::BIGINT::DOUBLE / 100.0 AS sum_base_price,
        |  sum(ep*(100-d))::BIGINT::DOUBLE / 10000.0 AS sum_disc_price,
        |  sum(ep*(100-d)*(100+t))::BIGINT::DOUBLE / 1000000.0 AS sum_charge,
        |  sum(q)::BIGINT::DOUBLE / count(*)::DOUBLE AS avg_qty,
        |  sum(ep)::BIGINT::DOUBLE / 100.0 / count(*)::DOUBLE AS avg_price,
        |  count(*)::BIGINT AS count_order
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "st_shipprio" ->
      """WITH li AS (SELECT l_orderkey, round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d
        |  FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-30 00:00:00')
        |SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  sum(ep*(100-d))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM li JOIN orders ON l_orderkey = o_orderkey AND o_orderdate < TIMESTAMP '1998-06-30 00:00:00'
        |JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replace("\n", " "),
    "st_localrev" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d
        |  FROM lineitem)
        |SELECT n_name, sum(ep*(100-d))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM li JOIN orders ON l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin.replace("\n", " "),
    "st_custdist" ->
      """SELECT c_count, count(*)::BIGINT AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin.replace("\n", " "),
    "st_basket" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |n AS (SELECT count(DISTINCT ok)::BIGINT AS n FROM li),
        |pc AS (SELECT pk, count(*)::BIGINT AS c FROM li GROUP BY pk),
        |pr AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*)::BIGINT AS support
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
        |f AS (SELECT part_a, part_b, support FROM pr WHERE support >= 2)
        |SELECT part_a, part_b, support,
        |  round((support::DOUBLE * n.n::DOUBLE) / (ca.c::DOUBLE * cb.c::DOUBLE), 6) AS lift
        |FROM f JOIN pc ca ON ca.pk = part_a JOIN pc cb ON cb.pk = part_b CROSS JOIN n
        |ORDER BY support DESC, part_a, part_b LIMIT 50""".stripMargin.replace("\n", " "),
    // market share: numerator and denominator are exact cent·pct integer
    // sums; the one division happens after both snaps on both engines
    "st_mktshare" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d
        |  FROM lineitem),
        |j AS (SELECT year(o_orderdate)::BIGINT AS o_year, ep*(100-d) AS rev, sn.n_name AS s_nation
        |  FROM li JOIN orders ON l_orderkey = o_orderkey
        |    AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey)
        |SELECT o_year, round(sum(CASE WHEN s_nation = 'NATION_7' THEN rev ELSE 0 END)::DOUBLE
        |  / sum(rev)::DOUBLE, 6) AS mkt_share
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin.replace("\n", " "),
    // dormant high-balance: bal*n > total is the exact cross-multiplied
    // integer form of bal > avg — no float boundary on either engine
    "st_dormant" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, round(c_acctbal*100)::BIGINT AS bal FROM customer),
        |t AS (SELECT sum(bal)::BIGINT AS total, count(*)::BIGINT AS n FROM c WHERE bal > 0),
        |f AS (SELECT c.* FROM c, t WHERE bal * n > total),
        |nf AS (SELECT f.* FROM f ANTI JOIN orders ON f.c_custkey = orders.o_custkey)
        |SELECT n_name, count(*)::BIGINT AS numcust, sum(bal)::DOUBLE / 100.0 AS totacctbal
        |FROM nf JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin.replace("\n", " "),
    // top supplier: exact-cent revenue, max-equality returns all ties
    "st_topsupp" ->
      """WITH r AS (SELECT l_suppkey, sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT AS rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, rev::DOUBLE / 10000.0 AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev = (SELECT max(rev) FROM r) ORDER BY s_suppkey""".stripMargin.replace("\n", " "),
    // Q6-shaped: exact cent·pct integer product summed, one final division
    "st_revchange" ->
      """SELECT sum(round(l_extendedprice*100)::BIGINT * round(l_discount*100)::BIGINT)::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND round(l_discount*100)::BIGINT BETWEEN 5 AND 7
        |  AND round(l_quantity)::BIGINT < 24""".stripMargin.replace("\n", " "),
    "st_volume" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, year(l_shipdate)::BIGINT AS l_year,
        |  round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
        |SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, l_year,
        |  sum(ep*(100-d))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM li JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        |   OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "),
    // Q10-shaped: revenue ties break on the customer key, so the LIMIT
    // boundary is deterministic on both engines
    "st_returned" ->
      """WITH r AS (SELECT o_custkey, sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, rev::DOUBLE / 10000.0 AS revenue, c_acctbal, n_name
        |FROM r JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " "),
    "st_promo" ->
      """WITH j AS (SELECT round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT) AS rev, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00')
        |SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END)::BIGINT::DOUBLE
        |  / sum(rev)::BIGINT::DOUBLE, 6) AS promo_revenue_pct FROM j""".stripMargin.replace("\n", " "),
    // Q17-shaped: 20%-of-average as the exact integer cross-product 5·q·n < Σq
    "st_smallqty" ->
      """WITH s AS (SELECT round(l_quantity)::BIGINT AS q, round(l_extendedprice*100)::BIGINT AS ep,
        |  sum(round(l_quantity)::BIGINT) OVER (PARTITION BY l_partkey)::BIGINT AS sumq,
        |  count(*) OVER (PARTITION BY l_partkey)::BIGINT AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#13')
        |SELECT sum(ep)::BIGINT::DOUBLE / 100.0 / 7.0 AS avg_yearly
        |FROM s WHERE q * 5 * n < sumq""".stripMargin.replace("\n", " "),
    "st_bigorders" ->
      """WITH big AS (SELECT l_orderkey, sum(round(l_quantity)::BIGINT)::BIGINT AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(round(l_quantity)::BIGINT) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin.replace("\n", " "),
    "st_discrev" ->
      """SELECT sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT::DOUBLE / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND round(l_quantity)::BIGINT BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 10 AND round(l_quantity)::BIGINT BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15 AND round(l_quantity)::BIGINT BETWEEN 20 AND 30)""".stripMargin.replace("\n", " "),
    // month rollup first (exact cents), window over the tiny month frame;
    // divisions mirror the engine's order: (s3/n3)/1e4
    "st_monthly" ->
      """WITH m AS (SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT AS ym,
        |  sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT AS rev
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT ym, rev,
        |  sum(rev) OVER (ORDER BY ym)::BIGINT AS cum,
        |  sum(rev) OVER (ORDER BY ym ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS s3,
        |  count(*) OVER (ORDER BY ym ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS n3
        |  FROM m)
        |SELECT ym, rev::DOUBLE / 10000.0 AS revenue, cum::DOUBLE / 10000.0 AS cum_revenue,
        |  (s3::DOUBLE / n3::DOUBLE) / 10000.0 AS ma3_revenue
        |FROM w ORDER BY ym""".stripMargin.replace("\n", " "),
    // YoY: key join on ym - 100 (never a row-offset lag)
    "st_yoy" ->
      """WITH m AS (SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT AS ym,
        |  sum(round(l_extendedprice*100)::BIGINT * (100 - round(l_discount*100)::BIGINT))::BIGINT AS rev
        |  FROM lineitem GROUP BY 1)
        |SELECT a.ym, a.rev::DOUBLE / 10000.0 AS revenue, b.rev::DOUBLE / 10000.0 AS prev_revenue,
        |  round((a.rev - b.rev)::DOUBLE / b.rev::DOUBLE, 6) AS yoy_growth
        |FROM m a LEFT JOIN m b ON a.ym = b.ym + 100
        |ORDER BY a.ym""".stripMargin.replace("\n", " "),
    // join skew: exact count-of-counts histogram; p99 = smallest class
    // size whose cumulative key count reaches ceil(0.99·n), integer math
    // salted aggregation: the oracle is the PLAIN group-by — equality IS
    // the property under test
    "st_salted" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    // salted join: plain join + aggregate
    "st_saltjoin" ->
      """SELECT l_returnflag, count(*)::BIGINT AS n_lines, sum(l_quantity)::BIGINT AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    "st_skew" ->
      """WITH cls AS (SELECT l_orderkey, count(*)::BIGINT AS c FROM lineitem GROUP BY 1),
        |h AS (SELECT c, count(*)::BIGINT AS m FROM cls GROUP BY c),
        |cu AS (SELECT c, m, sum(m) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS cum FROM h),
        |t AS (SELECT sum(m)::BIGINT AS n_keys, sum(c*m)::BIGINT AS n_rows, max(c)::BIGINT AS max_per_key FROM cu),
        |f AS (SELECT min(c)::BIGINT AS p99_per_key, max(n_keys)::BIGINT AS n_keys,
        |        max(n_rows)::BIGINT AS n_rows, max(max_per_key)::BIGINT AS max_per_key
        |      FROM cu CROSS JOIN t WHERE cum >= (99 * n_keys + 99) // 100)
        |SELECT n_keys, n_rows, max_per_key, p99_per_key,
        |  round(max_per_key::DOUBLE / (n_rows::DOUBLE / n_keys::DOUBLE), 6) AS skew_factor
        |FROM f""".stripMargin.replace("\n", " "),
    // Z-order: the bit-interleave is shared SQL (Layout.mortonSql), every
    // box bound an exact int64 min/max
    "st_zorder" -> {
      val z = graft.operators.Layout.mortonSql("l_partkey", "l_suppkey", bits = 16)
      val span = (1L << 32) / 16
      s"""SELECT ($z // ${span}) AS bucket, count(*)::BIGINT AS n,
         |  min(l_partkey)::BIGINT AS x_min, max(l_partkey)::BIGINT AS x_max,
         |  min(l_suppkey)::BIGINT AS y_min, max(l_suppkey)::BIGINT AS y_max
         |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " ")
    },
    // Hilbert: the xy2d fold as an 8-round CTE chain (Layout.hilbertSqlCtes
    // — the engine's exact rotate/reflect arithmetic), ceil-span slices
    "st_hilbert" -> {
      val ctes = graft.operators.Layout.hilbertSqlCtes(
        "(SELECT (l_partkey & 255)::BIGINT AS hx0, (l_suppkey & 255)::BIGINT AS hy0 FROM lineitem)",
        Seq("hx0", "hy0"), "hx0", "hy0", bits = 8)
      val span = ((1L << 16) + 15) / 16
      s"""WITH $ctes
         |SELECT (hkey // ${span}) AS bucket, count(*)::BIGINT AS n,
         |  min(hx0)::BIGINT AS x_min, max(hx0)::BIGINT AS x_max,
         |  min(hy0)::BIGINT AS y_min, max(hy0)::BIGINT AS y_max
         |FROM h8 GROUP BY 1 ORDER BY bucket""".stripMargin.replace("\n", " ")
    },
    // Q4-shaped: EXISTS over late lineitems (date_diff mirrors datediff's
    // calendar-day count on NTZ timestamps), exact int day compare
    "st_priority" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
        |              AND date_diff('day', o.o_orderdate, l.l_shipdate) > 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replace("\n", " "),
    // Q12-shaped: explicit CASE bands (no floor division — Spark's `div`
    // truncates toward zero, engines disagree on negative delays)
    "st_shipdelay" ->
      """WITH j AS (SELECT date_diff('day', o_orderdate, l_shipdate) AS days, o_orderpriority
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
        |SELECT CASE WHEN days < 0 THEN 'early' WHEN days < 90 THEN '0-89'
        |  WHEN days < 365 THEN '90-364' WHEN days < 730 THEN '365-729' ELSE '730+' END AS delay_band,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " "),
    // Q21-shaped: sole latest shipper over finished multi-supplier orders
    "st_latesupp" ->
      """WITH li AS (SELECT l_orderkey, l_suppkey, l_shipdate FROM lineitem
        |  SEMI JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus = 'F'),
        |per AS (SELECT l_orderkey, max(l_shipdate) AS last, count(DISTINCT l_suppkey)::BIGINT AS ns
        |  FROM li GROUP BY 1),
        |lastsh AS (SELECT li.l_orderkey,
        |    count(DISTINCT li.l_suppkey)::BIGINT AS nl, min(li.l_suppkey) AS supp
        |  FROM li JOIN per ON li.l_orderkey = per.l_orderkey AND li.l_shipdate = per.last
        |  WHERE per.ns >= 2 GROUP BY 1)
        |SELECT s_name, count(*)::BIGINT AS numwait
        |FROM lastsh JOIN supplier ON supp = s_suppkey
        |WHERE nl = 1
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " "),
    // Q22-shaped: the st_dormant cross-multiplied integer threshold, with
    // the Q22 ordering (count desc) and anti-join no-orders test
    "st_noorders" ->
      """WITH c AS (SELECT c_custkey, c_nationkey, round(c_acctbal*100)::BIGINT AS bal FROM customer),
        |t AS (SELECT sum(bal)::BIGINT AS total, count(*)::BIGINT AS n FROM c WHERE bal > 0),
        |f AS (SELECT c.* FROM c, t WHERE bal * n > total),
        |nf AS (SELECT f.* FROM f ANTI JOIN orders ON f.c_custkey = orders.o_custkey)
        |SELECT n_name, count(*)::BIGINT AS numcust, sum(bal)::DOUBLE / 100.0 AS totacctbal
        |FROM nf JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY numcust DESC, n_name""".stripMargin.replace("\n", " "),
    // Q9-shaped: profit = Σ rev_num − Σ qty·retail·80, both exact cent·pct
    // int64 sums, one division at the end
    "st_profit" ->
      """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey,
        |    round(l_quantity)::BIGINT AS q,
        |    round(l_extendedprice*100)::BIGINT AS ep, round(l_discount*100)::BIGINT AS d
        |  FROM lineitem),
        |p AS (SELECT p_partkey, round(p_retailprice*100)::BIGINT AS rc FROM part WHERE p_type = 'PROMO')
        |SELECT n_name, year(o_orderdate)::INT AS o_year,
        |  (sum(ep*(100-d))::BIGINT - sum(q*rc*80)::BIGINT)::DOUBLE / 10000.0 AS profit
        |FROM li JOIN p ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin.replace("\n", " "),
    "rt_bm25"      -> OracleGen.bm25TopKSql(Seq("spark", "join"), k = 20),
    // boolean AND/NOT postings algebra: exact integer hit counts
    "rt_bool" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |h AS (SELECT doc_id, count(DISTINCT term)::BIGINT AS nm, count(*)::BIGINT AS n_hits
        |      FROM toks WHERE term IN ('spark', 'join') GROUP BY doc_id),
        |x AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ('vector'))
        |SELECT h.doc_id, h.n_hits FROM h LEFT JOIN x USING (doc_id)
        |WHERE h.nm = 2 AND x.doc_id IS NULL ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "rt_ql"        -> OracleGen.qlTopKSql(Seq("spark", "join"), k = 20),
    "rt_bm25_idx"  -> OracleGen.bm25TopKSql(Seq("spark", "join"), k = 20),
    "rt_bm25_app"  -> OracleGen.bm25TopKSql(Seq("spark", "join"), k = 20),
    "rt_mmr"       -> OracleGen.mmrRerankSql(Seq("spark", "join"), k = 5, kCand = 20, lambda = 0.7),
    "rt_mmr_idx"   -> OracleGen.mmrRerankSql(Seq("spark", "join"), k = 5, kCand = 20, lambda = 0.7),
    "rt_bm25_join" -> OracleGen.bm25JoinSql(k = 5, qmod = 100, qTerms = 3),
    "rt_mrr"       -> OracleGen.bm25SelfMrrSql(k = 5, qmod = 100, qTerms = 3),
    "rt_ndcg"      -> OracleGen.lexRankEvalSql(k = 5, qmod = 100, qTerms = 3),
    "rt_tau" -> OracleGen.rankAgreementSql(
      OracleGen.bm25TopKSql(Seq("spark", "join"), k = 20),
      OracleGen.qlTopKSql(Seq("spark", "join"), k = 20)),
    "rt_docsim" ->
      """WITH p0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM p0 WHERE length(term) > 0 GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*)::BIGINT AS dfc FROM tfq GROUP BY term
        |        HAVING count(*) <= ceil((SELECT count(*) FROM documents) * 0.2)),
        |wv AS (SELECT tfq.doc_id, tfq.term,
        |         tfq.tf::DOUBLE * ln((SELECT count(*) FROM documents)::DOUBLE / dfc::DOUBLE) AS w
        |       FROM tfq JOIN dfq USING (term)),
        |nr AS (SELECT doc_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |         list(w * w ORDER BY term)), (x, y) -> x + y)) AS nrm FROM wv GROUP BY doc_id),
        |dt AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared,
        |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |           list(a.w * b.w ORDER BY a.term)), (x, y) -> x + y) AS dot
        |       FROM wv a JOIN wv b ON a.term = b.term AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |f AS (SELECT id_a, id_b, n_shared, dot / (na.nrm * nb.nrm) AS sim
        |      FROM dt JOIN nr na ON na.doc_id = id_a JOIN nr nb ON nb.doc_id = id_b)
        |SELECT id_a, id_b, n_shared, round(sim, 6) AS sim FROM f
        |ORDER BY sim DESC, id_a, id_b LIMIT 50""".stripMargin.replace("\n", " "),
    "rt_rbo" -> OracleGen.rankBiasedOverlapSql(
      OracleGen.bm25TopKSql(Seq("spark", "join"), k = 20),
      OracleGen.qlTopKSql(Seq("spark", "join"), k = 20), k = 20, p = 0.9),
    "rt_prf"       -> OracleGen.prfTopKSql(Seq("spark", "join"), k = 20, nSeed = 10, nExpand = 5),
    // levenshtein is the same DP distance in both engines; counts are ints
    "rt_fuzzy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |v AS (SELECT DISTINCT term FROM t WHERE levenshtein(term, 'spark') <= 1)
        |SELECT doc_id, count(*)::BIGINT AS n_matches, count(DISTINCT term)::BIGINT AS n_variants
        |FROM t JOIN v USING (term) GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "rt_hybrid"    -> OracleGen.hybridTopKSql(Seq("spark", "join"), k = 10, n = 50),
    "rt_keywords"  -> OracleGen.topTfIdfTermsSql(k = 3),
    "rt_phrase"    -> OracleGen.phraseMatchesSql(Seq("table", "hash")),
    "rt_near"      -> OracleGen.nearMatchesSql("table", "hash", slop = 3),
    "rt_snippets"  -> OracleGen.snippetsSql(Seq("table", "hash", "data"), width = 16),
    "ts_mad"   -> OracleGen.madOutliersSql(threshold = 3.75),
    "ts_delta" -> OracleGen.largestDeltasSql(k = 5),
    // phase floor and avg = round(sum, 6) / count — see TimeSeries.seasonalProfile
    "ts_profile" ->
      s"""SELECT event_type, (epoch_us(ts) // $HourUs) % 24 AS phase, count(*)::BIGINT AS n,
         |  round(sum(value), 6) / count(*) AS avg_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    // LTV: cumulative window over the 2-dp-snapped period revenue in age
    // order — both engines add the same numbers in the same order
    "ev_ltv" -> {
      val W = 7L * 86400000000L
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, value FROM events),
         |f AS (SELECT user_id, min(ts) AS first_ts FROM e GROUP BY user_id),
         |fc AS (SELECT user_id, ((first_ts - first_ts % $W) // $W) * $W AS cohort FROM f),
         |cs AS (SELECT cohort, count(*)::BIGINT AS cohort_size FROM fc GROUP BY cohort),
         |a AS (SELECT e.user_id, fc.cohort, ((e.ts - fc.cohort) - (e.ts - fc.cohort) % $W) // $W AS age, e.value
         |      FROM e JOIN fc ON e.user_id = fc.user_id),
         |p AS (SELECT cohort, age, count(DISTINCT user_id)::BIGINT AS active_users,
         |      round(sum(value), 2) AS period_rev FROM a GROUP BY cohort, age),
         |c AS (SELECT cohort, age, active_users, period_rev,
         |      round(sum(period_rev) OVER (PARTITION BY cohort ORDER BY age), 2) AS cum_rev FROM p)
         |SELECT c.cohort, age, active_users, period_rev, cum_rev,
         |  round(cum_rev / cohort_size::DOUBLE, 4) AS ltv_per_user
         |FROM c JOIN cs ON c.cohort = cs.cohort ORDER BY c.cohort, age""".stripMargin.replace("\n", " ")
    },
    // RFM: ntile over a TOTAL order (metric desc, user asc) — standard
    // equal-size-±1 buckets, so assignment matches Spark's ntile exactly;
    // monetary snaps to cents before ordering
    "ev_rfm" ->
      s"""WITH per AS (SELECT user_id, max(epoch_us(ts)) AS last_ts, count(*)::BIGINT AS frequency,
         |  round(sum(value), 2) AS monetary FROM events GROUP BY user_id),
         |sc AS (SELECT user_id, (${Now}000 - last_ts) AS recency, frequency, monetary,
         |  (6 - ntile(5) OVER (ORDER BY last_ts DESC, user_id))::BIGINT AS r_score,
         |  (6 - ntile(5) OVER (ORDER BY frequency DESC, user_id))::BIGINT AS f_score,
         |  (6 - ntile(5) OVER (ORDER BY monetary DESC, user_id))::BIGINT AS m_score FROM per)
         |SELECT user_id, recency, frequency, monetary, r_score, f_score, m_score,
         |  (r_score * 100 + f_score * 10 + m_score)::BIGINT AS rfm
         |FROM sc ORDER BY user_id""".stripMargin.replace("\n", " "),
    "ev_trans" ->
      """WITH w AS (SELECT event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt
        |           FROM events)
        |SELECT event_type AS from_state, nxt AS to_state, count(*)::BIGINT AS n
        |FROM w WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "ev_markov" -> OracleGen.markovSteadySql(rounds = 8),
    // DAU/WAU: the (user, day) pairs explode to the 7 obs days each
    // supports; both distinct counts are exact ints, one final division
    "ev_stickiness" ->
      """WITH p AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM p GROUP BY day),
        |e AS (SELECT DISTINCT user_id, day + o AS obs
        |      FROM p CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS o)),
        |wau AS (SELECT obs, count(*)::BIGINT AS wau FROM e GROUP BY obs)
        |SELECT day, dau, wau, dau::DOUBLE / wau::DOUBLE AS stickiness
        |FROM dau JOIN wau ON day = obs ORDER BY day""".stripMargin.replace("\n", " "),
    "ev_sankey" ->
      """WITH w AS (SELECT event_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt,
        |  row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS step
        |  FROM events)
        |SELECT step::BIGINT AS step, event_type AS from_state, nxt AS to_state, count(*)::BIGINT AS n
        |FROM w WHERE nxt IS NOT NULL AND step <= 5
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace("\n", " "),
    // A/B Welch t: per-user revenue snaps 2 dp, arm sums 6 dp; the
    // mean/var/t projection mirrors the engine's operation order exactly
    "ev_abtest" ->
      """WITH u AS (SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS m,
        |  user_id % 2 AS arm FROM events GROUP BY user_id),
        |a AS (SELECT
        |  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |  round(sum(CASE WHEN arm = 0 THEN m ELSE 0.0 END), 6) AS sa,
        |  round(sum(CASE WHEN arm = 1 THEN m ELSE 0.0 END), 6) AS sb,
        |  round(sum(CASE WHEN arm = 0 THEN m * m ELSE 0.0 END), 6) AS qa,
        |  round(sum(CASE WHEN arm = 1 THEN m * m ELSE 0.0 END), 6) AS qb
        |  FROM u)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a > 0 THEN sa / n_a::DOUBLE ELSE NULL END AS mean_a,
        |  CASE WHEN n_b > 0 THEN sb / n_b::DOUBLE ELSE NULL END AS mean_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN sb / n_b::DOUBLE - sa / n_a::DOUBLE ELSE NULL END AS lift,
        |  CASE WHEN n_a > 1 AND n_b > 1 THEN
        |  (sb / n_b::DOUBLE - sa / n_a::DOUBLE)
        |    / sqrt(((qa - sa * sa / n_a::DOUBLE) / (n_a - 1)::DOUBLE) / n_a::DOUBLE
        |         + ((qb - sb * sb / n_b::DOUBLE) / (n_b - 1)::DOUBLE) / n_b::DOUBLE)
        |  ELSE NULL END AS t_stat
        |FROM a""".stripMargin.replace("\n", " "),
    // CUPED: six pooled sums + per-arm sums, theta = cov/var, adjusted
    // means replayed in the engine's exact arithmetic order
    "ev_cuped" ->
      """WITH u AS (SELECT user_id,
        |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS y,
        |  count(*)::BIGINT AS x, user_id % 2 AS arm FROM events GROUP BY user_id),
        |g AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx, round(sum(y), 6) AS sy,
        |  sum(x * x)::BIGINT AS sxx, round(sum(x::DOUBLE * y), 6) AS sxy,
        |  round(sum(y * y), 6) AS syy,
        |  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
        |  sum(CASE WHEN arm = 0 THEN x ELSE 0 END)::BIGINT AS sxa,
        |  sum(CASE WHEN arm = 1 THEN x ELSE 0 END)::BIGINT AS sxb,
        |  round(sum(CASE WHEN arm = 0 THEN y ELSE 0.0 END), 6) AS sya,
        |  round(sum(CASE WHEN arm = 1 THEN y ELSE 0.0 END), 6) AS syb FROM u),
        |c AS (SELECT *,
        |  sxy - sx::DOUBLE * sy / n::DOUBLE AS cov_xy,
        |  sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE AS var_x,
        |  syy - sy * sy / n::DOUBLE AS var_y,
        |  sx::DOUBLE / n::DOUBLE AS mx FROM g),
        |f AS (SELECT *, cov_xy / var_x AS theta,
        |  (var_y - cov_xy * cov_xy / var_x) / (n - 1)::DOUBLE AS var_adj,
        |  sya / n_a::DOUBLE - (cov_xy / var_x) * (sxa::DOUBLE / n_a::DOUBLE - mx) AS adj_a,
        |  syb / n_b::DOUBLE - (cov_xy / var_x) * (sxb::DOUBLE / n_b::DOUBLE - mx) AS adj_b FROM c)
        |SELECT n_a, n_b,
        |  CASE WHEN var_x > 0 THEN round(theta, 6) END AS theta,
        |  CASE WHEN var_x > 0 AND var_y > 0 THEN round(cov_xy * cov_xy / (var_x * var_y), 6) END AS r2,
        |  CASE WHEN var_x > 0 AND n_a > 0 THEN round(adj_a, 6) END AS adj_mean_a,
        |  CASE WHEN var_x > 0 AND n_b > 0 THEN round(adj_b, 6) END AS adj_mean_b,
        |  CASE WHEN var_x > 0 AND n_a > 0 AND n_b > 0 THEN round(adj_b - adj_a, 6) END AS adj_lift,
        |  CASE WHEN var_x > 0 AND n_a > 1 AND n_b > 1 AND var_adj > 0
        |    THEN round((adj_b - adj_a) / sqrt(var_adj / n_a::DOUBLE + var_adj / n_b::DOUBLE), 6)
        |  END AS t_stat
        |FROM f""".stripMargin.replace("\n", " "),
    // DiD: per-user pre/post cells (0-filled), cell means, paired-diff
    // Welch t — the engine's exact rounded-sum arithmetic replayed
    "ev_did" -> {
      val b = 1705500000000000L
      s"""WITH u AS (SELECT user_id,
         |  round(sum(CASE WHEN event_type = 'purchase' AND epoch_us(ts) < $b THEN value ELSE 0.0 END), 2) AS pre,
         |  round(sum(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= $b THEN value ELSE 0.0 END), 2) AS post,
         |  user_id % 2 AS arm FROM events GROUP BY user_id),
         |g AS (SELECT
         |  sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
         |  sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
         |  round(sum(CASE WHEN arm = 0 THEN pre ELSE 0.0 END), 6) AS pa,
         |  round(sum(CASE WHEN arm = 0 THEN post ELSE 0.0 END), 6) AS qa,
         |  round(sum(CASE WHEN arm = 1 THEN pre ELSE 0.0 END), 6) AS pb,
         |  round(sum(CASE WHEN arm = 1 THEN post ELSE 0.0 END), 6) AS qb,
         |  round(sum(CASE WHEN arm = 0 THEN post - pre ELSE 0.0 END), 6) AS sda,
         |  round(sum(CASE WHEN arm = 1 THEN post - pre ELSE 0.0 END), 6) AS sdb,
         |  round(sum(CASE WHEN arm = 0 THEN (post - pre) * (post - pre) ELSE 0.0 END), 6) AS qda,
         |  round(sum(CASE WHEN arm = 1 THEN (post - pre) * (post - pre) ELSE 0.0 END), 6) AS qdb
         |  FROM u),
         |f AS (SELECT *,
         |  (qb / n_b::DOUBLE - pb / n_b::DOUBLE) - (qa / n_a::DOUBLE - pa / n_a::DOUBLE) AS did,
         |  (qda - sda * sda / n_a::DOUBLE) / (n_a - 1)::DOUBLE AS vda,
         |  (qdb - sdb * sdb / n_b::DOUBLE) / (n_b - 1)::DOUBLE AS vdb FROM g)
         |SELECT n_a, n_b,
         |  CASE WHEN n_a > 0 THEN round(pa / n_a::DOUBLE, 6) END AS pre_a,
         |  CASE WHEN n_a > 0 THEN round(qa / n_a::DOUBLE, 6) END AS post_a,
         |  CASE WHEN n_b > 0 THEN round(pb / n_b::DOUBLE, 6) END AS pre_b,
         |  CASE WHEN n_b > 0 THEN round(qb / n_b::DOUBLE, 6) END AS post_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(did, 6) END AS did,
         |  CASE WHEN n_a > 1 AND n_b > 1 AND (vda / n_a::DOUBLE + vdb / n_b::DOUBLE) > 0
         |    THEN round(did / sqrt(vda / n_a::DOUBLE + vdb / n_b::DOUBLE), 6) END AS t_stat
         |FROM f""".stripMargin.replace("\n", " ")
    },
    // SRM: distinct users, integer arm counts, z and z-squared
    "ev_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT
        |  sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |  sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b FROM u)
        |SELECT n_a, n_b,
        |  CASE WHEN n_a + n_b > 0 THEN
        |    round((n_b - n_a)::DOUBLE / sqrt((n_a + n_b)::DOUBLE), 6) END AS srm_z,
        |  CASE WHEN n_a + n_b > 0 THEN
        |    round(((n_b - n_a)::DOUBLE / sqrt((n_a + n_b)::DOUBLE))
        |        * ((n_b - n_a)::DOUBLE / sqrt((n_a + n_b)::DOUBLE)), 6) END AS srm_chi2
        |FROM a""".stripMargin.replace("\n", " "),
    // Pareto share: k = ceil(0.2 * n) via the same IEEE product; rank-
    // select mirrors the engine's (count desc, user) TakeOrdered cut
    "ev_powerusers" ->
      """WITH per AS (SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY user_id),
        |t AS (SELECT count(*)::BIGINT AS n, sum(c)::BIGINT AS total FROM per),
        |j AS (SELECT c, row_number() OVER (ORDER BY c DESC, user_id) AS rn FROM per)
        |SELECT t.n AS n_users, ceil(0.2 * t.n::DOUBLE)::BIGINT AS top_users,
        |  sum(j.c)::BIGINT AS top_events, t.total AS total_events,
        |  sum(j.c)::BIGINT::DOUBLE / t.total::DOUBLE AS top_share
        |FROM j, t WHERE j.rn <= ceil(0.2 * t.n::DOUBLE)
        |GROUP BY t.n, t.total""".stripMargin.replace("\n", " "),
    // path = first-5 states in (ts, state) order — the struct sort's state
    // tiebreak is mirrored in the list() ORDER BY
    "ev_paths" ->
      """WITH o AS (SELECT user_id, list(event_type ORDER BY epoch_us(ts), event_type) AS seq
        |           FROM events GROUP BY user_id),
        |p AS (SELECT user_id, list_aggregate(seq[1:5], 'string_agg', '>') AS path FROM o)
        |SELECT path, count(*)::BIGINT AS n_keys FROM p GROUP BY path
        |ORDER BY n_keys DESC, path LIMIT 20""".stripMargin.replace("\n", " "),
    "tx_ngrams" -> OracleGen.topNgramsSql(n = 2, k = 20),
    // Zipf: every OLS sum an ordered in-array fold over the same
    // (count desc, term) top-100, so the ln-term addition order matches
    "tx_zipf" -> {
      val zero = "CAST(0.0 AS DOUBLE)"
      def f(terms: String) = s"list_reduce(list_prepend($zero, $terms), (a, b) -> a + b)"
      s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |c AS (SELECT term, count(*)::BIGINT AS n FROM t WHERE length(term) > 0 GROUP BY term),
         |top AS (SELECT term, n FROM c ORDER BY n DESC, term LIMIT 100),
         |g AS (SELECT list(n ORDER BY n DESC, term) AS ns FROM top),
         |s AS (SELECT len(ns)::DOUBLE AS l,
         |  ${f("list_transform(ns, (v, i) -> ln(i))")} AS sx,
         |  ${f("list_transform(ns, v -> ln(v))")} AS sy,
         |  ${f("list_transform(ns, (v, i) -> ln(i) * ln(v))")} AS sxy,
         |  ${f("list_transform(ns, (v, i) -> ln(i) * ln(i))")} AS sxx
         |  FROM g),
         |o AS (SELECT l, sx, sy, (l * sxy - sx * sy) / (l * sxx - sx * sx) AS slope FROM s)
         |SELECT l::BIGINT AS n_terms, round(slope, 6) AS slope,
         |  round((sy - slope * sx) / l, 6) AS intercept FROM o""".stripMargin.replace("\n", " ")
    },
    // Heaps: 16 integer doc-id checkpoints, first-occurrence vocabulary
    // histogram + token histogram cumulated over 16 bins, ln-ln fit in
    // ascending-bin fold order
    "tx_heaps" -> {
      val zero = "CAST(0.0 AS DOUBLE)"
      def f(terms: String) = s"list_reduce(list_prepend($zero, $terms), (a, b) -> a + b)"
      val binOf = (c: String) =>
        s"(len(list_filter(list_transform(range(1, 17), j -> (j * m) // 16), x -> x < $c)) + 1)"
      s"""WITH mx AS (SELECT max(doc_id)::BIGINT AS m FROM documents),
         |tokh AS (SELECT ${binOf("doc_id")} AS bin,
         |    sum(len(list_filter(string_split(text, ' '), w -> length(w) > 0)))::BIGINT AS t
         |  FROM documents CROSS JOIN mx GROUP BY 1),
         |fo AS (SELECT term, min(doc_id)::BIGINT AS fd FROM
         |    (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
         |  WHERE length(term) > 0 GROUP BY term),
         |voch AS (SELECT ${binOf("fd")} AS bin, count(*)::BIGINT AS v
         |  FROM fo CROSS JOIN mx GROUP BY 1),
         |bins AS (SELECT unnest(range(1, 17)) AS bin),
         |curve AS (SELECT bin,
         |    sum(coalesce(t, 0)) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT AS nn,
         |    sum(coalesce(v, 0)) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT AS vv
         |  FROM bins LEFT JOIN tokh USING (bin) LEFT JOIN voch USING (bin)),
         |g AS (SELECT count(*)::DOUBLE AS l, max(nn)::BIGINT AS n_tokens, max(vv)::BIGINT AS n_vocab,
         |    ${f("list(ln(nn) ORDER BY bin)")} AS sx,
         |    ${f("list(ln(vv) ORDER BY bin)")} AS sy,
         |    ${f("list(ln(nn) * ln(vv) ORDER BY bin)")} AS sxy,
         |    ${f("list(ln(nn) * ln(nn) ORDER BY bin)")} AS sxx
         |  FROM curve WHERE nn > 0 AND vv > 0),
         |o AS (SELECT *, (l * sxy - sx * sy) / (l * sxx - sx * sx) AS beta FROM g)
         |SELECT l::BIGINT AS n_points, n_tokens, n_vocab,
         |  round(beta, 6) AS beta, round((sy - beta * sx) / l, 6) AS ln_k
         |FROM o""".stripMargin.replace("\n", " ")
    },
    // BPE pair counts: 1-based 2-char slices inside whitespace words
    "tx_bpe" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS wd FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, length(wd)), i -> wd[i:i+1])) AS pair
        |      FROM w WHERE length(wd) >= 2)
        |SELECT pair, count(*)::BIGINT AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin.replace("\n", " "),
    "tx_bpemerge" -> OracleGen.bpeTrainSql(merges = 8),
    "tx_bpeapply" -> OracleGen.bpeEncodeSql(merges = 8),
    "tx_bpeenc" -> OracleGen.bpeEncodeSql(merges = 8),
    "tx_fert"     -> OracleGen.bpeFertilitySql(merges = 8),
    "tx_nbmodel"  -> OracleGen.nbModelSql(topK = 20),
    "tx_nbconf"   -> OracleGen.nbConfusionSql,
    "tx_calib"    -> OracleGen.nbMarginCalibSql(binWidth = 0.25, bins = 8),
    "tx_read"     -> OracleGen.readabilitySql,
    "tx_textrank" -> OracleGen.textRankSql(minCount = 5L, maxEdges = 300,
      iterations = 10, damping = 0.85, k = 30),
    "tx_pmi" -> OracleGen.pmiCollocationsSql(k = 20, minCount = 5L),
    // per-doc sum is the same ascending sorted fold as the BM25 oracles
    "tx_entropy" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT doc_id, term, count(*)::DOUBLE AS c FROM t GROUP BY 1, 2),
        |e AS (SELECT doc_id, (c / sum(c) OVER pw) * ln(c / sum(c) OVER pw) AS v
        |      FROM c WINDOW pw AS (PARTITION BY doc_id))
        |SELECT doc_id,
        |  round(-list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(v))), (a, b) -> a + b), 4) AS entropy
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "tx_vocab" ->
      """WITH t AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS total_tokens,
        |  count(DISTINCT tok)::BIGINT AS vocab,
        |  ((count(DISTINCT tok) * 1000000) // count(*))::BIGINT AS ttr_ppm
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", " "),
    "tx_split" -> OracleGen.holdoutSplitSql(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7L),
    // effective vocab: N²/Σc² over exact int64 moments; the ratio divides
    // the SAME quotient expression again (engine operand order)
    "tx_simpson" ->
      """WITH tf AS (SELECT lang, term, count(*)::BIGINT AS c
        |            FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
        |            GROUP BY 1, 2),
        |a AS (SELECT lang, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
        |        sum(c*c)::BIGINT AS sq FROM tf GROUP BY lang)
        |SELECT lang, n_tokens, vocab,
        |  round((n_tokens::DOUBLE * n_tokens::DOUBLE) / sq::DOUBLE, 6) AS eff_vocab,
        |  round(((n_tokens::DOUBLE * n_tokens::DOUBLE) / sq::DOUBLE) / vocab::DOUBLE, 6) AS eff_ratio
        |FROM a ORDER BY lang""".stripMargin.replace("\n", " "),
    // burstiness: three exact int64 moments per term + the doc-count
    // scalar; the VMR chain is spelled in the engine's operand order and
    // snapped to 6 dp BEFORE the top-k cut (ties by term)
    "tx_burst" ->
      """WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS c
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |            GROUP BY 1, 2),
        |n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |a AS (SELECT term, count(*)::BIGINT AS n_docs, sum(c)::BIGINT AS tot, sum(c*c)::BIGINT AS sq
        |      FROM tf GROUP BY 1),
        |b AS (SELECT term, n_docs, tot AS total,
        |        round((sq::DOUBLE / n::DOUBLE - (tot::DOUBLE / n::DOUBLE) * (tot::DOUBLE / n::DOUBLE))
        |          / (tot::DOUBLE / n::DOUBLE), 6) AS burstiness
        |      FROM a CROSS JOIN n WHERE tot >= 5)
        |SELECT term, n_docs, total, burstiness FROM b
        |ORDER BY burstiness DESC, term LIMIT 20""".stripMargin.replace("\n", " "),
    // lexical diversity: both ratios divide exact int64 counts
    "tx_lexdiv" ->
      """WITH tf AS (SELECT doc_id, term, count(*)::BIGINT AS c
        |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |            GROUP BY 1, 2)
        |SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
        |  sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
        |  round(count(*)::DOUBLE / sum(c)::DOUBLE, 6) AS ttr,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS hapax_frac
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "tx_kldiv" -> OracleGen.tokenKlShiftSql(
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 7L,
      aSplit = "train", bSplit = "val"),
    "mm_meta"  -> MmMetaSql,
    // sha256(VARCHAR) hashes the string's UTF-8 bytes — exactly the payload
    // bytes the Spark side hashes (withPayload encodes text as UTF-8)
    "mm_hashdup" ->
      """SELECT min(doc_id) AS doc_id, sha256(text) AS content_hash,
        |count(*)::BIGINT AS n_copies, max(octet_length(encode(text)))::BIGINT AS n_bytes
        |FROM documents GROUP BY content_hash ORDER BY doc_id""".stripMargin.replace("\n", " "),
    "mm_phash" -> OracleGen.blockhashDedupSql(blocks = 16),
    "mm_batch" -> MmMetaSql,
    // VAD: bytes via hex(payload) 2-char slices, exact integer frame
    // sums, one divide + sqrt per frame
    "mm_vad" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
        |fr AS (SELECT doc_id, u AS window_idx,
        |         least(nb - u * 256, 256)::BIGINT AS n_samples,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(
        |           range(u * 256 + 1, u * 256 + least(nb - u * 256, 256) + 1),
        |           i -> (CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)
        |               * CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)))),
        |           (a, b) -> a + b) AS sq
        |       FROM b, unnest(range(0, (nb + 255) // 256)) AS un(u))
        |SELECT doc_id, window_idx, n_samples,
        |  round(sqrt(sq::DOUBLE / n_samples::DOUBLE), 6) AS rms,
        |  sqrt(sq::DOUBLE / n_samples::DOUBLE) >= 40.0 AS active
        |FROM fr ORDER BY doc_id, window_idx""".stripMargin.replace("\n", " "),
    // segment boundaries: the same per-window RMS values as mm_vad, lag
    // pair within each doc, UNROUNDED delta against the jump threshold
    "mm_scenes" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb FROM documents),
        |fr AS (SELECT doc_id, u AS window_idx,
        |         least(nb - u * 256, 256)::BIGINT AS ns,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(
        |           range(u * 256 + 1, u * 256 + least(nb - u * 256, 256) + 1),
        |           i -> (CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)
        |               * CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)))),
        |           (a, b) -> a + b) AS sq
        |       FROM b, unnest(range(0, (nb + 255) // 256)) AS un(u)),
        |r AS (SELECT doc_id, window_idx, sqrt(sq::DOUBLE / ns::DOUBLE) AS rmu FROM fr)
        |SELECT a.doc_id, b2.window_idx::BIGINT AS window_idx,
        |  round(a.rmu, 6) AS prev_rms, round(b2.rmu, 6) AS rms,
        |  round(b2.rmu - a.rmu, 6) AS delta
        |FROM r a JOIN r b2 ON a.doc_id = b2.doc_id AND b2.window_idx = a.window_idx + 1
        |WHERE abs(b2.rmu - a.rmu) >= 2.0
        |ORDER BY 1, 2""".stripMargin.replace("\n", " "),
    "mm_dims" -> OracleGen.containerMetaSql(maxSegments = 8),
    "mm_av" -> OracleGen.avContainerMetaSql,
    // GIF frame count: the identical bounded block walk unrolled as CTEs
    "mm_gif" -> OracleGen.gifFrameCountSql(maxBlocks = 24),
    // TIFF IFD decode: byte-order-branching fixed-offset entry reads
    "mm_exif" -> OracleGen.tiffMetaSql(maxEntries = 16),
    "mm_exif2" -> OracleGen.tiffExifMetaSql(maxEntries = 8, maxExifEntries = 8),
    "mm_pngtext" -> OracleGen.pngChunkWalkSql(maxChunks = 8),
    "mm_zipdir"  -> OracleGen.zipCentralDirectorySql(maxEntries = 4),
    "mm_tar"     -> OracleGen.tarHeaderWalkSql(maxEntries = 6),
    // header-aware VAD: the fixture's PCM8-mono wavs are doc_id % 12 == 0
    // (wav ∧ 1 byte/sample ∧ 1 channel); data chunk = the text bytes, so
    // the window math IS mm_vad's, plus the rate-derived start stamp
    "mm_wavvad" ->
      """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb,
        |            (8000 + (doc_id * 441) % 40000)::BIGINT AS rate
        |           FROM documents WHERE doc_id % 12 = 0),
        |fr AS (SELECT doc_id, rate, u AS window_idx,
        |         least(nb - u * 256, 256)::BIGINT AS n_samples,
        |         list_reduce(list_prepend(0::BIGINT, list_transform(
        |           range(u * 256 + 1, u * 256 + least(nb - u * 256, 256) + 1),
        |           i -> (CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)
        |               * CAST((strpos('123456789ABCDEF', hx[2*i-1:2*i-1])) * 16
        |                  + (strpos('123456789ABCDEF', hx[2*i:2*i])) - 128 AS BIGINT)))),
        |           (a, b) -> a + b) AS sq
        |       FROM b, unnest(range(0, (nb + 255) // 256)) AS un(u))
        |SELECT doc_id, window_idx, n_samples,
        |  round(sqrt(sq::DOUBLE / n_samples::DOUBLE), 6) AS rms,
        |  sqrt(sq::DOUBLE / n_samples::DOUBLE) >= 40.0 AS active,
        |  round((window_idx * 256)::DOUBLE / rate::DOUBLE, 6) AS t_start_sec
        |FROM fr ORDER BY doc_id, window_idx""".stripMargin.replace("\n", " "),
    "tx_kfold" -> OracleGen.kfoldSql(k = 5, seed = 7L),
    "qa_dups" ->
      """WITH u AS (SELECT o_orderkey FROM orders
        |           UNION ALL SELECT o_orderkey FROM orders WHERE o_orderkey % 997 = 0),
        |c AS (SELECT o_orderkey, count(*)::BIGINT AS n FROM u GROUP BY 1)
        |SELECT o_orderkey, n FROM c WHERE n > 1
        |ORDER BY n DESC, o_orderkey LIMIT 20""".stripMargin.replace("\n", " "),
    // join-size preflight: Σ cl·cr over the shared key histogram; the sum
    // folds in HUGEINT then casts ::BIGINT (mirrors the engine's
    // decimal(38,0) fold); top key = ORDER BY product DESC, key ASC
    "qa_joinsize" ->
      """WITH la AS (SELECT l_partkey AS k, count(*)::BIGINT AS cl FROM lineitem
        |            WHERE l_partkey IS NOT NULL GROUP BY 1),
        |ra AS (SELECT p_partkey AS k, count(*)::BIGINT AS cr FROM part
        |       WHERE p_partkey IS NOT NULL GROUP BY 1),
        |lt AS (SELECT count(*)::BIGINT AS n_left, count(DISTINCT l_partkey)::BIGINT AS n_left_keys FROM lineitem),
        |rt AS (SELECT count(*)::BIGINT AS n_right, count(DISTINCT p_partkey)::BIGINT AS n_right_keys FROM part),
        |pd AS (SELECT k, cl * cr AS p FROM la JOIN ra USING (k)),
        |pr AS (SELECT count(*)::BIGINT AS n_shared_keys, sum(p)::BIGINT AS join_rows,
        |       max(p)::BIGINT AS max_key_rows FROM pd),
        |tk AS (SELECT k AS top_key FROM pd ORDER BY p DESC, k LIMIT 1)
        |SELECT n_left, n_right, n_left_keys, n_right_keys, n_shared_keys,
        |  join_rows, max_key_rows, top_key
        |FROM lt, rt, pr, tk""".stripMargin.replace("\n", " "),
    // PSI: fixed 20-bin universe, +1-smoothed shares, contributions folded
    // VALUE-sorted (the engine's graft_fold_sum sorts ascending —
    // list_sort, the nbConfusion convention); top bin by (contrib, bin)
    // FD audit: two-level grouping (null dependents count as values,
    // unlike count(DISTINCT) which would drop them)
    "qa_fd" ->
      """WITH p AS (SELECT user_id AS k, event_type AS v FROM events GROUP BY 1, 2),
        |g AS (SELECT k, count(*)::BIGINT AS nd FROM p GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_keys,
        |  sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
        |  round(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS violation_rate,
        |  max(nd)::BIGINT AS max_images,
        |  min(CASE WHEN nd > 1 THEN k END)::BIGINT AS example_key
        |FROM g""".stripMargin.replace("\n", " "),
    // totals audit: per-line cents round once, integer sums, left join
    // so a detail-less header compares against 0; ::DOUBLE casts mirror
    // the engine's explicit casts — both sides run ONE fixed double
    // chain even if the parquet schema ever becomes DECIMAL
    "qa_totals" ->
      """WITH rc AS (SELECT l_orderkey AS ok,
        |        sum(round(l_extendedprice::DOUBLE * (1 - l_discount::DOUBLE) * (1 + l_tax::DOUBLE) * 100)::BIGINT)::BIGINT AS cents
        |      FROM lineitem GROUP BY 1),
        |j AS (SELECT round(o.o_totalprice::DOUBLE * 100)::BIGINT - coalesce(rc.cents, 0) AS d
        |      FROM orders o LEFT JOIN rc ON o.o_orderkey = rc.ok)
        |SELECT count(*)::BIGINT AS n_orders,
        |  sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_mismatched,
        |  round(sum(CASE WHEN d <> 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS mismatch_rate,
        |  max(abs(d))::BIGINT AS max_abs_diff_cents,
        |  round(sum(abs(d))::DOUBLE / count(*)::DOUBLE / 100.0, 2) AS mean_abs_diff
        |FROM j""".stripMargin.replace("\n", " "),
    // temporal referential consistency: exact day diffs, left-anchored on
    // the child (inner join — a childless parent is a different audit)
    "qa_dateorder" ->
      """WITH j AS (SELECT l_orderkey AS k,
        |             date_diff('day', o_orderdate, l_shipdate)::BIGINT AS d
        |           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT count(*)::BIGINT AS n_pairs,
        |  sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::BIGINT AS n_violations,
        |  round(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6)
        |    AS violation_rate,
        |  min(d)::BIGINT AS min_lead_days,
        |  min(CASE WHEN d < 0 THEN k END)::BIGINT AS example_key
        |FROM j""".stripMargin.replace("\n", " "),
    // per-day volume outliers: type-1 medians from count histograms, the
    // same (n+1) div 2 lower-median pick as the engine
    "qa_volume" ->
      """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS c
        |           FROM events GROUP BY 1),
        |h1 AS (SELECT c AS v, count(*)::BIGINT AS m FROM c GROUP BY 1),
        |m1 AS (SELECT min(v)::BIGINT AS med FROM
        |        (SELECT v, sum(m) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |                sum(m) OVER ()::BIGINT AS n FROM h1)
        |       WHERE cum >= (n + 1) // 2),
        |h2 AS (SELECT abs(c.c - m1.med) AS v, count(*)::BIGINT AS m FROM c, m1 GROUP BY 1),
        |m2 AS (SELECT min(v)::BIGINT AS mad FROM
        |        (SELECT v, sum(m) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
        |                sum(m) OVER ()::BIGINT AS n FROM h2)
        |       WHERE cum >= (n + 1) // 2),
        |z AS (SELECT c.day, c.c, m1.med, m2.mad,
        |        CASE WHEN m2.mad > 0 THEN round((c.c - m1.med)::DOUBLE / (1.4826 * m2.mad), 6)
        |             WHEN c.c = m1.med THEN 0.0 END AS z
        |      FROM c, m1, m2)
        |SELECT day, c AS n_rows, med AS median_rows, z,
        |  (z IS NOT NULL AND abs(z) > 3.5) AS is_outlier
        |FROM z ORDER BY day""".stripMargin.replace("\n", " "),
    "qa_psi" -> {
      val p = "(coalesce(ho.c, 0) + 1)::DOUBLE / (no.n::DOUBLE + 12.0)"
      val q = "(coalesce(hn.c, 0) + 1)::DOUBLE / (nn.n::DOUBLE + 12.0)"
      s"""WITH o AS (SELECT greatest(0, least(n_chars // 50, 11)) AS b FROM documents WHERE doc_id % 11 <> 3),
         |nw AS (SELECT greatest(0, least(n_chars // 50, 11)) AS b FROM documents
         |       WHERE doc_id % 13 <> 5 AND n_chars < 400),
         |no AS (SELECT count(*)::BIGINT AS n FROM o),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nw),
         |ho AS (SELECT b, count(*)::BIGINT AS c FROM o GROUP BY b),
         |hn AS (SELECT b, count(*)::BIGINT AS c FROM nw GROUP BY b),
         |u AS (SELECT unnest(range(0, 12)) AS b),
         |cb AS (SELECT u.b, (($p) - ($q)) * ln(($p) / ($q)) AS c
         |       FROM u LEFT JOIN ho USING (b) LEFT JOIN hn USING (b)
         |       CROSS JOIN no CROSS JOIN nn),
         |s AS (SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(c))),
         |        (a, x) -> a + x) AS psi FROM cb),
         |t AS (SELECT b, c, row_number() OVER (ORDER BY c DESC, b) AS rn FROM cb)
         |SELECT no.n AS n_old, nn.n AS n_new, round(s.psi, 6) AS psi,
         |  t.b::BIGINT AS top_bin, round(t.c, 6) AS top_contrib
         |FROM s, t, no, nn WHERE t.rn = 1""".stripMargin.replace("\n", " ")
    },
    // snapshot diff: full-outer key join, per-column IS DISTINCT FROM
    "qa_diff" ->
      """WITH o AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 11 <> 3),
        |n AS (SELECT doc_id, CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text,
        |      lang, source FROM documents WHERE doc_id % 13 <> 5),
        |j AS (SELECT o.doc_id AS ok, n.doc_id AS nk,
        |      (o.text IS DISTINCT FROM n.text OR o.lang IS DISTINCT FROM n.lang
        |       OR o.source IS DISTINCT FROM n.source) AS diff
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT sum(CASE WHEN ok IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_old,
        |  sum(CASE WHEN nk IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |  sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_added,
        |  sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_removed,
        |  sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND diff THEN 1 ELSE 0 END)::BIGINT AS n_changed,
        |  sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL AND NOT diff THEN 1 ELSE 0 END)::BIGINT AS n_unchanged
        |FROM j""".stripMargin.replace("\n", " "),
    "qa_orphans" ->
      """WITH p AS (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey % 7 <> 0)
        |SELECT count(*)::BIGINT AS n_rows,
        |  sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_orphans,
        |  round(sum(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 6) AS orphan_rate
        |FROM orders o LEFT JOIN p ON o.o_custkey = p.c_custkey""".stripMargin.replace("\n", " "),
    "qa_fresh" ->
      """WITH g AS (SELECT max(epoch_us(ts)) AS gm FROM events)
        |SELECT event_type, count(*)::BIGINT AS n_events, max(epoch_us(ts))::BIGINT AS last_ts,
        |  (gm - max(epoch_us(ts)))::BIGINT AS lag_us,
        |  sum(CASE WHEN epoch_us(ts) > gm - 86400000000 THEN 1 ELSE 0 END)::BIGINT AS n_window
        |FROM events, g GROUP BY event_type, gm ORDER BY event_type""".stripMargin.replace("\n", " "),
    "tx_canary" -> {
      val list = CanaryPhrases.map(c => s"'${c.replace("'", "''")}'").mkString(", ")
      s"""WITH c AS (SELECT unnest([$list]) AS canary),
         |h AS (SELECT c.canary, count(*)::BIGINT AS n_docs, min(d.doc_id) AS first_doc
         |      FROM documents d JOIN c ON contains(d.text, c.canary) GROUP BY 1)
         |SELECT c.canary, coalesce(h.n_docs, 0)::BIGINT AS n_docs, h.first_doc
         |FROM c LEFT JOIN h USING (canary) ORDER BY canary""".stripMargin.replace("\n", " ")
    },
    // per-column profile: one UNION ALL branch per column, min/max on the
    // native type THEN rendered ::VARCHAR (mirrors the engine's cast)
    "qa_profile" -> {
      val branches = Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*)::BIGINT AS n_rows,
           |  (count(*) - count($c))::BIGINT AS n_null,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::VARCHAR AS min_v, max($c)::VARCHAR AS max_v FROM documents""".stripMargin
      }
      s"""SELECT * FROM (${branches.mkString(" UNION ALL ")}) ORDER BY col_name"""
        .replace("\n", " ")
    },
    // hot-key report: exact counts, ties broken by the key ascending in
    // both the top-k cut and the cumulative window
    "ev_hotkeys" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS t, count(*)::BIGINT AS k FROM c),
        |top AS (SELECT user_id, n FROM c ORDER BY n DESC, user_id LIMIT 20)
        |SELECT user_id, n,
        |  round(n::DOUBLE / t::DOUBLE, 6) AS share,
        |  round((sum(n) OVER (ORDER BY n DESC, user_id))::DOUBLE / t::DOUBLE, 6) AS cum_share,
        |  round(n::DOUBLE * k::DOUBLE / t::DOUBLE, 6) AS x_mean
        |FROM top, t ORDER BY n DESC, user_id""".stripMargin.replace("\n", " "),
    "mm_frames" ->
      "SELECT doc_id, u AS frame_idx, u*64 AS byte_offset, n_bytes FROM (SELECT doc_id, octet_length(encode(text)) AS n_bytes, least(greatest(octet_length(encode(text))//64, 1), 8) AS nf FROM documents) t, unnest(range(0, t.nf)) AS un(u) ORDER BY doc_id, frame_idx",
    "mm_resize" ->
      "SELECT doc_id, 64::BIGINT AS width, 64::BIGINT AS height, greatest(1, (sl * 4096) // ((64 + sl % 193) * (64 + (sl * 31) % 177)))::BIGINT AS n_bytes FROM (SELECT doc_id, octet_length(encode(text))::BIGINT AS sl FROM documents) ORDER BY doc_id",
    "mm_embed" -> OracleGen.embedStubSql(4),
    "mm_ann"   -> OracleGen.mmAnnSql(dim = 4, k = 10)
  )

  /** per-language marker-hit subquery + argmax CASE chain, generated from
    * [[TextAnalysis.LangMarkers]] so Spark and oracle stay in lockstep
    * (shared with the composed tx_mix oracle in [[OracleGen]]). */
  private def LangHits: String = OracleGen.langHitsSql()
  private def LangCase: String = OracleGen.langCaseSql

  private val MmMetaSql =
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes, 64 + octet_length(encode(text)) % 193 AS width, 64 + (octet_length(encode(text)) * 31) % 177 AS height, 3::BIGINT AS channels FROM documents ORDER BY doc_id"
}
