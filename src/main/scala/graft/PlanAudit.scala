package graft

import org.apache.spark.sql.execution.SparkPlan

/** Diagnostics: dump physical plans of representative queries to audit
  * pushdown / partial-agg / top-k / codegen shapes (not library surface).
  *
  * Two modes:
  *  - `runMain graft.PlanAudit` — human-readable `explain("formatted")`
  *    of the representative set (the original audit loop).
  *  - `runMain graft.PlanAudit --digest [out.json] [sfDir]` — EVERY gate's
  *    physical-plan DIGEST (join strategy counts, exchange count, agg/
  *    sort/top-k/codegen-span counts) as one committed JSON file, sorted
  *    by gate name so round-over-round diffs are stable. A plan
  *    regression (a broadcast join silently flipping to sort-merge, an
  *    extra shuffle appearing — the `st_mktshare` class) then bisects
  *    from the committed record instead of re-profiling old commits.
  *    AQE is DISABLED in this session so the digest records Catalyst's
  *    static choice deterministically (AQE may still re-plan at runtime;
  *    the static plan is the comparable artifact).
  *  - `runMain graft.PlanAudit --check [digest.json] [sfDir]` — TRIPWIRE:
  *    regenerate the digest in memory and diff it against the committed
  *    file; prints every ADDED/REMOVED/CHANGED gate and exits 2 on any
  *    difference. Run before each lock — a gate whose join strategy or
  *    exchange count moved without a commit touching its code path is a
  *    silent plan regression and should be explained (or the digest
  *    intentionally regenerated with `--digest`) before locking.
  */
object PlanAudit {

  /** count physical-plan features that matter for scale audits. */
  def digest(plan: SparkPlan): Seq[(String, Int)] = {
    val names = plan.collect { case p => p.getClass.getSimpleName }
    def n(pred: String => Boolean) = names.count(pred)
    Seq(
      "nodes" -> names.size,
      "shuffles" -> n(_ == "ShuffleExchangeExec"),
      "broadcasts" -> n(_ == "BroadcastExchangeExec"),
      "bhj" -> n(_ == "BroadcastHashJoinExec"),
      "smj" -> n(_ == "SortMergeJoinExec"),
      "shj" -> n(_ == "ShuffledHashJoinExec"),
      "bnlj" -> n(_ == "BroadcastNestedLoopJoinExec"),
      "cartesian" -> n(_ == "CartesianProductExec"),
      "aggs" -> n(s => s == "HashAggregateExec" || s == "ObjectHashAggregateExec" || s == "SortAggregateExec"),
      "sorts" -> n(_ == "SortExec"),
      "topk" -> n(_ == "TakeOrderedAndProjectExec"),
      "windows" -> n(_ == "WindowExec"),
      "codegen_spans" -> n(_.startsWith("WholeStageCodegen")),
      "scans" -> n(_ == "FileSourceScanExec"))
  }

  def main(args: Array[String]): Unit = {
    val checkMode  = args.contains("--check")
    val digestMode = args.contains("--digest") || checkMode
    val spark = GraftSession.builder(4).master("local[4]")
      // static plans for the committed digest (see scaladoc)
      .config("spark.sql.adaptive.enabled", (!digestMode).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pos = args.filterNot(a => a == "--digest" || a == "--check")
    if (digestMode) {
      val out = if (pos.length > 0) pos(0) else "PLAN_DIGEST.json"
      val dir = if (pos.length > 1) pos(1) else "/root/testdata/sf0.01"
      val entries = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        try {
          val df = fn(spark, dir)
          val d = digest(df.queryExecution.executedPlan)
          graft.pipeline.Checkpoints.free(df)
          System.err.println(s"[plan] $name ${d.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
          // drop zero counts: the file stays readable and diffs stay tight
          val kept = d.filter { case (k, v) => v != 0 || k == "nodes" }
          Some(s""""$name":{${kept.map { case (k, v) => s""""$k":$v""" }.mkString(",")}}""")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plan] $name FAILED to plan: ${e.getMessage}")
            Some(s""""$name":{"error":"${String.valueOf(e.getMessage).take(120).replace("\"", "'")}"}""")
        }
      }
      if (checkMode) {
        // tripwire mode: compare the fresh digest against the committed
        // one — a gate whose join strategy / exchange count moved without
        // a commit touching its path is a silent plan regression. Exit 2
        // on any difference so the lock script can gate on it.
        val committed = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out)), "UTF-8")
        def toMap(lines: Seq[String]): Map[String, String] = lines.flatMap { l =>
          val t = l.trim.stripSuffix(",")
          val m = "^\"([^\"]+)\":(\\{.*\\})$".r.findFirstMatchIn(t)
          m.map(g => g.group(1) -> g.group(2))
        }.toMap
        val oldM = toMap(committed.split("\n").toSeq)
        val newM = toMap(entries)
        val added   = (newM.keySet -- oldM.keySet).toSeq.sorted
        val removed = (oldM.keySet -- newM.keySet).toSeq.sorted
        val changed = (newM.keySet & oldM.keySet).filter(k => newM(k) != oldM(k)).toSeq.sorted
        added.foreach(k => println(s"[plan-check] ADDED   $k ${newM(k)}"))
        removed.foreach(k => println(s"[plan-check] REMOVED $k"))
        changed.foreach { k =>
          println(s"[plan-check] CHANGED $k")
          println(s"[plan-check]   committed: ${oldM(k)}")
          println(s"[plan-check]   fresh:     ${newM(k)}")
        }
        val n = added.size + removed.size + changed.size
        println(s"[plan-check] ${if (n == 0) "OK — all digests match" else s"$n digest(s) differ"}")
        spark.stop()
        sys.exit(if (n == 0) 0 else 2)
      }
      val json = entries.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
      System.err.println(s"[plan] wrote ${entries.size} digests to $out")
    } else {
      val dir = "/root/testdata/sf0.01"
      for (q <- Seq("t_sum", "t_topk", "i_count", "s_star", "g_mixed", "ann_topk", "d_minhash", "d_embed",
        "ann_ivf", "d_gate", "d_embed_gate", "tx_sample", "tx_budget", "tx_pack",
        "sem_dedup", "ann_join", "d_decon_hits", "d_spans", "tx_cap", "tx_rep", "tx_temp",
        "ev_asof", "ev_range", "ev_sessions", "ev_winsor", "ev_funnel", "ev_retention", "tx_lm", "mm_ann",
        "d_labelprop", "d_modularity", "ann_pca", "ann_ndcg", "tx_doremi", "tx_bpemerge",
        "st_basket", "ev_survival", "ev_markov", "ts_backtest", "rt_bm25_app")) {
        println(s"\n================ $q ================")
        SparkEntry.queries(q)(spark, dir).explain("formatted")
      }
    }
    spark.stop()
  }
}
