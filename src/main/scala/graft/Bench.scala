package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.pipeline.Checkpoints

/** Per-round benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with per-query seconds.
  *
  * Long-session health: a 90-query × 3-run session compiles hundreds of
  * codegen'd plans and (before round 8) accumulated every pipeline
  * checkpoint block until GC won — which intermittently collapsed
  * late-session queries 20-50×. Two defenses here: each run's result frame
  * is released deterministically ([[Checkpoints.free]]), and per-query JVM
  * health (code-cache occupancy, GC time delta, live persisted-RDD count)
  * is printed next to the timing so any recurrence is attributable from
  * the bench log alone.
  *
  * Wall-clock budget (round 15): the adaptive walk-downs multiplied a
  * 319-gate sweep into ~2200 timed runs and blew past the driver's time
  * limit (BENCH_r14.json rc=124 — no timings recorded at all). The sweep
  * now runs in PASSES against a deadline (SPARK_GRAFT_BENCH_BUDGET_S,
  * default 1080 s of timed running): pass 1 times every query once
  * (unconditionally — every gate always gets a row), then whole-board
  * passes repeat while budget remains, so floors converge UNIFORMLY —
  * the first deadline cut (phase thresholds inside one alphabetical
  * sweep) recorded codegen-inflated single-run floors for exactly the
  * alphabetically-late families. Per-query run counts are recorded so a
  * diff can tell "regressed" from "measured with fewer passes".
  * BENCH_SELF.json is rewritten after every query, so even a hard kill
  * leaves a parseable partial artifact.
  */
object Bench {

  /** One timed run of a gate: wall seconds and row count, or the error it
    * threw (then `rows` is -1). */
  final case class Run(seconds: Double, rows: Long, error: Option[String])

  /** Time `body`, which returns the gate's row count; a throw is recorded
    * in the returned run, not rethrown, so one gate never aborts the sweep. */
  def timed(body: => Long): Run = {
    val t0 = System.nanoTime()
    val (rows, error) =
      try (body, None)
      catch { case e: Throwable => (-1L, Some(String.valueOf(e.getMessage))) }
    Run((System.nanoTime() - t0) / 1e9, rows, error)
  }

  /** A gate's runs across passes. Only successful runs enter the floor: a
    * gate that throws fast must not record a fast floor. */
  final class GateRuns {
    val times  = scala.collection.mutable.ArrayBuffer.empty[Double]
    val failed = scala.collection.mutable.ArrayBuffer.empty[Run]
    def record(r: Run): Unit = if (r.error.isEmpty) times += r.seconds else failed += r
    def floor: Option[Double] = times.minOption
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      // small SF files: split finer so all cores participate
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // small-SF shuffles: AQE's default 1m floor coalesces a few-MB
      // relation to ONE partition, and a pin (localCheckpoint) then
      // freezes that for every downstream scan — rt_bm25_join's scoring
      // stage ran 0.9s single-threaded on a 16-way box. Locally, favor
      // parallelism over partition size; a real cluster at 100TB keeps
      // the 64m default (its relations never coalesce this small).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PART", "64k"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "4m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- JVM health probes (diagnosis for the late-session cliff) ----
    val codeCachePools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("CodeHeap")) // segmented cache: profiled nmethods etc.
    def codeCacheUsedMb: Long = codeCachePools.map(_.getUsage.getUsed).sum >> 20
    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def metaspaceUsedMb: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum >> 20
    def persistedRdds: Int = spark.sparkContext.getPersistentRDDs.size
    // generated classes compiled so far (JVM-wide; a codegen cache hit adds none)
    def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // floor = min over passes: absorbs one-off JIT/IO/scheduler noise
    // (observed ±2-4x swings on shared hardware — a single noisy window
    // once recorded a phantom regression, so all per-run times are printed,
    // and max/min exposes a mid-session cliff even when min looks fine).
    // JIT-heavy queries (bm25Join compiles ~10 codegen stages) keep
    // improving through run 8+ when hundreds of plans compete for the
    // code cache — whole-board passes give every query the same number of
    // warm re-measurements instead of spending the budget alphabetically.
    // guaranteed full passes (default 1: the artifact contract is one row
    // per gate; every later pass is budget-gated so a slow machine still
    // finishes inside the driver's process cap).
    // SPARK_GRAFT_BENCH_RUNS historically meant "runs per query" (default
    // 3) and was repurposed to "guaranteed full passes" in round 15 — the
    // new names say what they mean; the old names still work but warn, so
    // a stale invocation fails loud instead of silently changing meaning.
    def passesEnv(name: String, legacy: String, default: Int): Int = {
      val old  = sys.env.get(legacy)
      val next = sys.env.get(name)
      // dual-set: the new name wins — say so, instead of claiming the
      // legacy value is honored when it is in fact ignored
      old.foreach(v => System.err.println(
        if (next.isEmpty)
          s"[bench] WARNING: $legacy is a deprecated alias for $name " +
            s"(it now means guaranteed FULL PASSES, not per-query runs) — honoring $legacy=$v"
        else
          s"[bench] WARNING: $legacy=$v is set but ignored — $name=${next.get} takes precedence"))
      next.orElse(old).getOrElse(default.toString).toInt
    }
    val minPasses = passesEnv("SPARK_GRAFT_BENCH_MIN_PASSES", "SPARK_GRAFT_BENCH_RUNS", 1).max(1)
    val maxPasses = passesEnv("SPARK_GRAFT_BENCH_MAX_PASSES", "SPARK_GRAFT_BENCH_MAX_RUNS", 10)
      .max(minPasses)
    // wall-clock budget for the TIMED portion of the sweep (seconds).
    // The driver's whole-process limit also covers sbt compile + Spark
    // startup; 1080 s here leaves that headroom inside a ~30 min cap.
    val budgetS   = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1080").toDouble
    val sweepT0   = System.nanoTime()
    def elapsedS  = (System.nanoTime() - sweepT0) / 1e9
    // targeted iteration (mirrors Verify): unset = full sweep, as the driver runs it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // untimed warmup: JVM/codegen/parquet-footer startup should not land on
    // the first timed query — warm the general engine path (g_count) AND
    // the first query in sweep order, which otherwise still absorbed the
    // residual one-time costs and tripped the UNSTABLE flag on its run 1
    // ...plus queries with a DESIGNED one-time setup cost (tx_bpeenc
    // memoizes its BPE training on first call so later runs time encode
    // alone) — without this warmup their run 1 records the setup and
    // falsely trips the UNSTABLE flag
    val oneTimeSetup = Set("tx_bpeenc")
    (Seq("g_count" -> SparkEntry.queries("g_count")) ++ selected.headOption ++
      selected.filter(q => oneTimeSetup(q._1))).foreach {
      case (name, fn) =>
        try { val df = fn(spark, sfDir); df.count(); Checkpoints.free(df) }
        catch { case NonFatal(e) => System.err.println(s"[bench] warmup $name failed: $e") }
    }

    // PER-GATE untimed warm-up at the tiny SF (round 17): the ascending-
    // floor pass ordering fixed the cheap half of the board, but any gate
    // the budget leaves at runs=1 still records a COLD row — the r16 driver
    // artifact carried 10-41x cold-JIT inflation on the heavy tail
    // (st_ppr 83.6 s vs a 5.4 s floor, rt_mmr_idx 43.7 vs 1.13). One
    // execution at sf0.001 compiles the same generated code for ~1% of the
    // data cost, so even a single-run row then times a WARM plan. The
    // warm-up spends from the same budget clock (it trades pass-2 repeats
    // for accurate pass-1 rows — total wall stays inside the driver cap)
    // but is floor-capped so pass 1 always runs: it stops at 40% of the
    // budget or SPARK_GRAFT_WARMUP_BUDGET_S, whichever is lower.
    // SPARK_GRAFT_WARMUP_DIR overrides the tiny dir; =skip disables.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", {
      val p = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (p.isDirectory) p.getPath else "skip"
    })
    var warmupSec = 0.0 // reported first-class in the JSON line (VERDICT r17 item 1)
    if (warmDir != "skip" && warmDir != sfDir) {
      val warmBudgetS = math.min(budgetS * 0.4,
        sys.env.getOrElse("SPARK_GRAFT_WARMUP_BUDGET_S", "420").toDouble)
      var warmed = 0
      val wt0 = System.nanoTime()
      selected.foreach { case (name, fn) =>
        if (elapsedS < warmBudgetS) {
          try { val df = fn(spark, warmDir); df.count(); Checkpoints.free(df) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}") }
          warmed += 1
        }
      }
      warmupSec = (System.nanoTime() - wt0) / 1e9
      System.err.println(
        f"[bench] warm-up: $warmed/${selected.size} gates at $warmDir in $warmupSec%.0f s " +
          f"(cap $warmBudgetS%.0f s)")
      // the warm-dir copies of the session-shared relations served their
      // purpose (JIT) — release them so they do not occupy executor
      // storage for the whole timed sweep
      SparkEntry.releaseShared(spark, warmDir).foreach(f =>
        System.err.println(s"[bench] release ${f.name} failed: ${f.error}"))
    }

    // UNTIMED build of the session-shared relations at the TIMED dir: a
    // shared build is a session-level cost amortized across its consumers
    // (floors carried that semantics already via min-over-runs), but a
    // budget-starved runs=1 row fused build+gate into the artifact — the
    // sweep-2 d_pagerank row recorded 59 s for a 256-edge walk because it
    // absorbed cold JIT plus the first-consumer mining build and never
    // re-ran. Building the relations here keeps every CONSUMER row a
    // measure of the gate's work. Honest-accounting contract (VERDICT r17
    // item 1): the per-relation build seconds ride the JSON line as
    // `prebuild`/`prebuild_sec`, and the six relations whose declared gate
    // IS the relation ([[SparkEntry.timedBuilderGates]]) are REBUILT inside
    // that gate's timed row — those six floors measure real work; the
    // prebuild copy only shields earlier-sweeping consumers.
    // A relation whose build threw is listed under `prebuild_failed` with
    // its error and seconds, and stays out of `prebuild`/`prebuild_sec`.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val (prebuildFailed, prebuilt) = {
      val pt0 = System.nanoTime()
      val r = SparkEntry.prebuildShared(spark, sfDir)
      r.foreach(p => p.error.foreach(e => System.err.println(s"[bench] prebuild ${p.name} failed: $e")))
      System.err.println(f"[bench] shared-relation prebuild at $sfDir in ${(System.nanoTime() - pt0) / 1e9}%.0f s")
      r.partition(_.error.isDefined)
    }
    val prebuildSec  = prebuilt.map(_.seconds).sum
    val prebuildJson = prebuilt.map(p => f""""${p.name}":${p.seconds}%.3f""").mkString("{", ",", "}")
    val prebuildFailedJson = prebuildFailed.map { p =>
      f""""${p.name}":{"seconds":${p.seconds}%.3f,"error":${mapper.writeValueAsString(p.error.get)}}"""
    }.mkString("{", ",", "}")
    val buildersJson = SparkEntry.timedBuilderGates.toSeq.sortBy(_._1)
      .map { case (g, rel) => s""""$g":"$rel"""" }.mkString("{", ",", "}")

    // testdata fingerprint: per-table file bytes, mtime, and row count.
    // Scan-bound floors move when the driver REGENERATES the testdata
    // (row-group layout, value distribution) with zero code diffs — the
    // r15 ts_trend/ts_anomint "regressions" took a per-round bisect to
    // acquit. With the fingerprint embedded in every floor record, that
    // class of phantom becomes a one-line diff: fingerprint changed ⇒
    // re-anchor; fingerprint identical ⇒ investigate the code.
    val fingerprint: String = {
      val dir = new java.io.File(sfDir)
      val tables = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      tables.map { f =>
        val table = f.getName.stripSuffix(".parquet")
        val rows =
          try spark.read.parquet(f.getPath).count()
          catch { case NonFatal(e) =>
            System.err.println(s"[bench] fingerprint $table failed: $e"); -1L }
        s""""$table":{"bytes":${f.length()},"mtime":${f.lastModified()},"rows":$rows}"""
      }.mkString("{", ",", "}")
    }

    // per-query accumulated runs across passes, in sweep order
    val names = selected.map(_._1)
    val fns   = selected.map(_._2)
    val runs  = Array.fill(names.size)(new GateRuns)
    val times = runs.map(_.times)

    // incremental artifact: rewritten after EVERY query so any truncation
    // (driver timeout, OOM kill) still leaves per-query data on disk.
    // Targeted runs (SPARK_GRAFT_ONLY) write a SEPARATE file — a 2-query
    // probe must never clobber the committed full-sweep floor record.
    val selfPath = if (only.isDefined) "BENCH_SELF_ONLY.json" else "BENCH_SELF.json"
    // per-query artifact row: floor = min over passes (the committed
    // number), cold = the FIRST timed run (post-warm-up), worst = max.
    // Recording cold+floor+runs together ends the structural disagreement
    // between the driver's single-pass grader (which sees cold) and the
    // committed floor record (which sees min) — both numbers now ride in
    // every artifact, so a diff can separate "regressed" from "cold row".
    case class QRow(name: String, floor: Double, worst: Double, cold: Double, runs: Int)
    def jmap(rs: Seq[QRow])(v: QRow => String): String =
      rs.map(r => "\"" + r.name + "\":" + v(r)).mkString("{", ",", "}")
    def artifactLine(rs: Seq[QRow], done: Boolean): String = {
      // failed runs never enter a floor; they are listed here instead
      val failed = names.indices.filter(i => runs(i).failed.nonEmpty).map { i =>
        val f = runs(i).failed
        s""""${names(i)}":{"runs":${f.length},"rows":-1,"error":${mapper.writeValueAsString(f.last.error.get)}}"""
      }.mkString("{", ",", "}")
      val qs    = jmap(rs)(r => f"${r.floor}%.3f")
      val cold  = jmap(rs)(r => f"${r.cold}%.3f")
      val rc    = jmap(rs)(r => r.runs.toString)
      val total = rs.map(_.floor).sum
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"cold":$cold,"runs":$rc,""" +
        f""""prebuild_sec":$prebuildSec%.3f,"warmup_sec":$warmupSec%.3f,"prebuild":$prebuildJson,""" +
        f""""prebuild_failed":$prebuildFailedJson,"timed_builders":$buildersJson,"failed":$failed,""" +
        f""""sf":"$sfDir","fingerprint":$fingerprint,"complete":$done}"""
    }
    def writeSelf(rs: Seq[QRow], done: Boolean): Unit = {
      try java.nio.file.Files.write(java.nio.file.Paths.get(selfPath),
        (artifactLine(rs, done) + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] $selfPath write failed: ${e.getMessage}") }
    }

    // per-family session isolation (A/B mode, r15 verdict #8): each gate
    // family (name prefix before '_') runs on its own spark.newSession()
    // over the SAME JVM/SparkContext — fresh analyzer/optimizer/catalog
    // state per family, bounding whatever cross-family session state
    // contributes to the observed late-sweep floor drift (the JVM-global
    // code cache is shared either way; this isolates the Spark layer).
    // A/B results recorded in docs/diagnostics.md.
    val freshFamily = sys.env.get("SPARK_GRAFT_FRESH_FAMILY").contains("1")
    val familySessions = scala.collection.mutable.Map.empty[String, SparkSession]
    def sessionFor(name: String): SparkSession =
      if (!freshFamily) spark
      else familySessions.getOrElseUpdate(name.takeWhile(_ != '_'), spark.newSession())

    def snapshot(): Seq[QRow] =
      names.indices.filter(i => times(i).nonEmpty).map { i =>
        QRow(names(i), times(i).min, times(i).max, times(i).head, times(i).length)
      }
    def oneRun(i: Int): Unit = {
      val gc0 = gcMillis
      val cg0 = codegenCompiles
      val run = timed {
        val s = sessionFor(names(i))
        // label the jobs (guide §1): event logs / any attached UI attribute
        // every stage to its gate
        s.sparkContext.setJobDescription(s"bench:${names(i)}")
        val df   = fns(i)(s, sfDir)
        val rows = df.count()
        // release this run's checkpoint blocks NOW — pipeline queries
        // otherwise stack ~1 dead frame per run until the ContextCleaner
        // happens to win, which is exactly the late-session degradation
        Checkpoints.free(df)
        rows
      }
      runs(i).record(run)
      run.error.foreach(e => System.err.println(s"[bench] ${names(i)} failed: $e"))
      val floor = runs(i).floor.fold("none")(f => f"$f%.3f")
      System.err.println(
        f"[bench] ${names(i)}%-16s ${run.seconds}%8.3f s  floor=$floor%8s  rows=${run.rows}%-8d " +
          f"pass=${times(i).length + runs(i).failed.length}  " +
          f"cc=${codeCacheUsedMb}%3dMB meta=${metaspaceUsedMb}%3dMB gc+=${gcMillis - gc0}%4dms cg+=${codegenCompiles - cg0}%3d rdds=$persistedRdds%3d " +
          f"t=${elapsedS}%5.0fs")
      writeSelf(snapshot(), done = false)
    }
    // the first `minPasses` passes run the FULL board unconditionally
    // (every gate gets its rows no matter what); later passes stop
    // mid-board the moment the budget runs out — a partial pass still
    // updates every query it reached, and the recorded per-query run
    // count says how many passes each floor saw.
    //
    // From pass 3 on, a query re-runs only while it is STILL CONVERGING:
    // its floor moved ≥ 2% within its last two runs. Expense is NOT a
    // ticket to more runs — a heavy-but-stable query (a linear byte-math
    // scan at 6 s) re-running every pass is exactly what starves the rest
    // of the board: with a floor-sum of ~250 s/pass, the stable-heavy
    // class consumed the budget at 3 passes while JIT-converging cheap
    // queries recorded floors 2-3x their converged values. Stable queries
    // stop at 3 runs; converging ones (any cost) walk down to their floor
    // while the budget holds.
    def deserves(i: Int): Boolean = {
      val ts = times(i)
      // a gate that has failed is not converging: no further re-runs
      runs(i).failed.isEmpty && (ts.length < 3 || ts.min < ts.dropRight(2).min * 0.98)
    }
    var pass = 1
    var continue = true
    while (continue) {
      // pass 1 runs in sweep (name) order. Pass 2 runs in DESCENDING
      // pass-1 order: every gate's pass-1 row is already warm (per-gate
      // warm-up + shared-relation prebuild), so the residual risk is the
      // HEAVY tail being left at runs=1 when the budget dies mid-pass —
      // r17 sweep evidence: pass 2 ascending re-converged ~200 sub-second
      // gates first and left every multi-second gate single-run (the r15
      // motivation for ascending predates the warm-up; a cheap gate's
      // pass-1 row no longer carries 2-3x JIT inflation). Passes 3+ run
      // ASCENDING current-floor order so a late budget cut lands on the
      // expensive-but-already-twice-run tail.
      val order: IndexedSeq[Int] =
        if (pass == 1) names.indices
        else if (pass == 2)
          names.indices.sortBy(i => (-(if (times(i).isEmpty) 0.0 else times(i).min), names(i)))
        else names.indices.sortBy(i => (if (times(i).isEmpty) 0.0 else times(i).min, names(i)))
      var k = 0
      var ran = 0
      while (k < order.size && (pass <= minPasses || elapsedS < budgetS)) {
        val i = order(k)
        if (pass <= 2 || deserves(i)) { oneRun(i); ran += 1 }
        k += 1
      }
      System.err.println(
        f"[bench] pass $pass done ($ran/${names.size} run, reached ${k}/${order.size}) at t=${elapsedS}%.0fs of $budgetS%.0fs")
      pass += 1
      continue = pass <= maxPasses && elapsedS < budgetS && ran > 0
    }
    val results = snapshot()
    // loud summary of any query whose worst run cliffed vs its best — the
    // round-7 artifact (245 s recorded for an 11 s query) stays visible
    results.filter(r => r.floor > 0 && r.worst / r.floor > 3.0).foreach { r =>
      System.err.println(
        f"[bench] UNSTABLE ${r.name}: min=${r.floor}%.3f max=${r.worst}%.3f (${r.worst / r.floor}%.1fx)")
    }
    if (elapsedS >= budgetS) System.err.println(
      f"[bench] BUDGET: sweep hit ${elapsedS}%.0f s of $budgetS%.0f s budget after ${pass - 1} pass(es) — " +
        "per-query run counts say how many passes each floor saw")
    val total = results.map(_.floor).sum
    val line  = artifactLine(results, done = true)
    writeSelf(results, done = true)
    // re-anchoring record: a full sweep run with SPARK_GRAFT_BASELINE_FLOOR=1
    // (the round's lock sweep) also writes BASELINE_FLOOR.json — committed,
    // cited in the lock message. Next round's phantom-regression triage
    // starts by diffing its fingerprint, not by bisecting commits.
    if (only.isEmpty && sys.env.get("SPARK_GRAFT_BASELINE_FLOOR").contains("1"))
      try java.nio.file.Files.write(java.nio.file.Paths.get("BASELINE_FLOOR.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"[bench] BASELINE_FLOOR.json write failed: ${e.getMessage}") }
    // compact digest: per-family (prefix before '_') summed floors — the
    // round-over-round comparison unit when the full line can't be captured
    val fams = results.groupBy(_.name.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1)
      .map { case (f, rs) => "\"" + f + "\":" + f"${rs.map(_.floor).sum}%.3f" }
      .mkString("{", ",", "}")
    // median-of-floors: the one number that tracks "is the typical gate
    // converged" without the heavy tail dominating the sum
    val medianFloor = {
      val s = results.map(_.floor).sorted
      if (s.isEmpty) 0.0 else s(s.size / 2)
    }
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","median_floor":$medianFloor%.3f,""" +
        f""""prebuild_sec":$prebuildSec%.3f,"warmup_sec":$warmupSec%.3f,""" +
        f""""sf":"$sfDir","n_queries":${results.size},"queries":$fams,"per_query":"$selfPath"}"""
    // machine-readable digest file: fifteen rounds of BENCH_r*.json have
    // `parsed: null` because sbt's logger wrapped stdout ([info] prefixes
    // + a trailing [success] line). The FILE is the contract that cannot
    // be garbled by any log decoration: full per-query line, always.
    val digestPath = if (only.isDefined) "BENCH_DIGEST_ONLY.json" else "BENCH_DIGEST.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(digestPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] $digestPath write failed: ${e.getMessage}") }
    // stop Spark BEFORE printing: shutdown logging otherwise lands after
    // the JSON in a merged stdout+stderr capture, and a tail-based driver
    // parse then misses the line — the JSON must be the LAST stdout (the
    // build also sets run/outputStrategy=StdoutOutput + showSuccess=false
    // so these two lines reach stdout RAW and nothing prints after them)
    spark.stop()
    println(line)
    println(compact)
    System.out.flush()
  }
}
