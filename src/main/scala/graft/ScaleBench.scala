package graft

import graft.pipeline.Checkpoints

/** Scale-probe harness: measures how the flagship scale-path queries grow
  * as the data grows, converting "scale-safe by design" plan arguments
  * into a measured scaling exponent per query.
  *
  * Sweeps the probe queries over the base sfDir (1×) and `ScaleGen`-built
  * 3× and 10× replicas, takes the min-of-runs floor at each scale, and
  * reports the 10×/1× time ratio plus the log-log slope fitted through
  * the three points (slope ≈ 1 = linear; the probe flags anything whose
  * ratio exceeds `factor^1.3`, i.e. clearly superlinear growth beyond
  * constant-overhead noise). Writes `BENCH_SCALE.json` and prints the
  * same JSON as the LAST stdout line.
  *
  * The probe set is the flagship of each scale-critical family: MinHash
  * LSH dedup pairs + their connected-component clusters, IVF and
  * LSH-join ANN, the BM25 indexed build+query, the full curation mix,
  * the basket self-join, and incremental rollup maintenance.
  *
  * Usage: `runMain graft.ScaleBench <baseSfDir> <workDir> [runs]`
  * (workDir holds the generated x3/x10 replicas; reused if present).
  */
object ScaleBench {

  val probeQueries: Seq[String] = Seq(
    "d_minhash", "d_cc", "ann_ivf", "ann_join",
    "rt_bm25_idx", "tx_mix", "st_basket", "roll_maint",
    // round-13 join-heavy additions: the tf-idf term join (maxDf-capped
    // fan-out) and the Adamic-Adar wedge join over the co-purchase
    // graph (degree-bounded by the support cut) — the two shapes most likely to hide a
    // quadratic term if their caps were wrong
    "rt_docsim", "st_alsobought",
    // round-14 additions: the payload-byte explode (output rows = bytes /
    // window — linear BY DESIGN, now measured), and the two most
    // expensive gates on the r13 board (d_ari two-labellings-over-one-
    // pair-graph, tx_mix2 whole composed curation pipeline)
    "mm_vad", "d_ari", "tx_mix2",
    // round-14 session-2 additions: the iterative personalized-PageRank
    // walk (per-iteration edge join + degree-bounded sorted folds — the
    // shape that would expose a super-linear contribution blow-up), the
    // row-local blockhash signature (16 in-array block folds per payload,
    // linear by design), and the join-size preflight (two histograms +
    // a histogram-sized join — must stay far below the join it predicts)
    "st_ppr", "mm_phash", "qa_joinsize",
    // round-15 additions: the heaviest r14 board gate (mm_scenes —
    // payload-byte array math, row-local and linear by design, now
    // measured), and the bounded-BFS frontier expansion (per-round
    // frontier ⋈ edges + visited anti-join — the shape that would expose
    // a frontier blow-up if the support cut or hop bound were wrong)
    "mm_scenes", "st_hops",
    // round-16 addition: the remaining top-5 floor absent from the probe
    // set — HITS' fixed-round hub/authority mutual recursion over the
    // near-dup pair graph (per-round edge joins + normalizing sums; the
    // shape that would expose densification if the LSH pair graph grew
    // superlinearly)
    "d_hits",
    // round-17 additions: the two top-10 floors previously absent.
    // ts_theilsen's C(n,2) pair join is quadratic in GRID POINTS per key
    // — the replicas keep the time span (constant buckets, linear rows),
    // so the probe must stay ~linear; a tripped maxPoints require or a
    // rising exponent would mean the resample guard is mis-stated.
    // ann_pca_topk is the reduce-then-index path: power-iteration PCA
    // (linear per round) + reduced-dim shortlist + bounded re-rank.
    "ts_theilsen", "ann_pca_topk",
    // round-18 addition: the edit-distance near-dup miner, whose verify
    // cost model changed this round (unbounded O(n·m) levenshtein → the
    // thresholded banded O(len·maxDist) form) — candidate count must stay
    // LSH-bounded and the verify linear in candidate text length.
    "d_lev",
    // round-18 continuation addition: the Q21 shape moved to one
    // order-key exchange feeding a pair aggregation + the sole-latest
    // flat-buffer fold — the probe confirms the single-exchange form
    // stays linear (the explicit repartition ships line rows, so a
    // superlinear drift here would mean the ~1 line per (order,supplier)
    // payload assumption broke)
    "st_latesupp")

  /** Probe overrides where the GATE's fixed small-data parameters are the
    * scale bottleneck, not the operator: the probe instead applies the
    * operator's own documented sizing rule, which is what a 100 TB
    * deployment would run.
    *
    * `ann_join`: a constant plane count goes quadratic by construction —
    * random-collision candidates are ~L·n²/2^k, so the gate's 6-plane
    * config (right for the 2k-vector oracle corpus) grew 7× in time for
    * the last 3× in data. The sizing comment at `Similarity.planesFor`
    * is exactly this scale story: `k = ceil(log2 n)+margin` keeps bucket
    * occupancy constant, and `tablesForMultiProbe` re-amplifies recall at
    * the target similarity. The probe measures THAT spelling. */
  val probeOverrides: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    // rt_docsim: the replicated probe corpus has DISJOINT per-replica
    // vocabularies, so per-term df stays flat while N grows — a pure
    // fractional stop-cut then loosens with scale and lets stopword df²
    // fan-out creep back in (measured: the 10x sweep ran minutes, not
    // seconds). The operator's maxDfCap is exactly this knob: pin the
    // absolute cut at the 1x level (1000 docs) so the vector space stays
    // comparable across scales.
    "rt_docsim" -> { (s, d) =>
      graft.pipeline.Retrieval.tfidfDocSim(
        s.read.parquet(s"$d/documents.parquet"), k = 50,
        maxDfFrac = 0.2, maxDfCap = 1000L)
    },
    // st_alsobought: replicated baskets keep their partkeys, so per-pair
    // co-purchase SUPPORT scales with the factor and an absolute cut
    // admits every pair at 3x+ (measured: 2 s -> 48 s, then flat — the
    // all-pairs edge set saturates). Frequent-itemset practice states
    // support as a FRACTION of transactions for exactly this reason; the
    // probe pins the 1x gate's fraction (2 per 150k orders).
    "st_alsobought" -> { (s, d) =>
      graft.operators.Graph.adamicAdar(
        graft.operators.Star.coPurchaseEdges(
          s.read.parquet(s"$d/lineitem.parquet"),
          minSupportFrac = Some(2.0 / 150000.0)), topK = 50)
    },
    // st_hops: same fractional support convention as st_ppr below
    "st_hops" -> { (s, d) =>
      val edges = graft.operators.Star.coPurchaseEdges(
        s.read.parquet(s"$d/lineitem.parquet"),
        minSupportFrac = Some(2.0 / 150000.0))
      val seed = graft.operators.Star.walkSeed(edges)
      graft.operators.Graph.bfsHops(edges, seed, maxHops = 3).orderBy("hop", "id")
    },
    // st_ppr: same fractional support convention as st_alsobought (a fixed
    // cut of 2 would admit every replicated pair and densify the graph
    // with the factor instead of with the data's structure)
    "st_ppr" -> { (s, d) =>
      val edges = graft.operators.Star.coPurchaseEdges(
        s.read.parquet(s"$d/lineitem.parquet"),
        minSupportFrac = Some(2.0 / 150000.0))
      val seed = graft.operators.Star.walkSeed(edges)
      graft.operators.Graph.personalizedPageRank(edges, Seq(seed),
        iterations = 5, damping = 0.85, topK = 50)
    },
    "ann_join" -> { (s, d) =>
      import org.apache.spark.sql.functions._
      import graft.pipeline.Similarity
      val all    = s.read.parquet(s"$d/embeddings.parquet")
      val planes = Similarity.planesFor(all.count())
      val tables = Similarity.tablesForMultiProbe(planes, simTarget = 0.7, recall = 0.9)
      System.err.println(s"[scale] ann_join sizing: planes=$planes tables=$tables")
      val corpus = Similarity.vectorIndex(all, planes, tables).localCheckpoint(true)
      Similarity.annJoin(all.filter(col("vec_id") % 50 === 0), corpus, k = 5,
        planes, tables, multiProbe = true).orderBy("query_id", "rank")
    })

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val runs    = if (args.length > 2) args(2).toInt else 3
    val cpus    = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PART", "64k"))
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        sys.env.getOrElse("SPARK_GRAFT_ADVISORY", "4m"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // local-iteration aid (mirrors Verify's SPARK_GRAFT_ONLY): restrict the
    // sweep to the named probes — new probes measure without re-running the
    // whole committed sweep; the runner merges the JSONs
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY").map(_.split(",").map(_.trim).toSet)
    val sweepQueries = probeQueries.filter(q => only.forall(_.contains(q)))

    // default sweep 1/3/10/30: the 30x tail point separates data-driven
    // growth from the ~0.3-0.5 s fixed per-query overhead that dominates
    // small scales and would otherwise flatter the fitted exponent
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTORS", "1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    require(factors.contains(1) && factors.contains(10),
      "factors must include 1 and 10 (the reported ratio10 baseline)")
    val dirs = factors.map {
      case 1 => 1 -> baseDir
      case f =>
        val dir = s"$workDir/x$f"
        val marker = new java.io.File(s"$dir/documents.parquet")
        // staleness guard: the driver regenerates the base testdata each
        // round — a replica built from the PREVIOUS round's base would
        // make x1 and x3 measure different data and corrupt the exponent
        val baseM = new java.io.File(s"$baseDir/documents.parquet").lastModified()
        if (marker.exists() && marker.lastModified() < baseM) {
          System.err.println(s"[scale] replica $dir is older than $baseDir — regenerating")
          def rm(fl: java.io.File): Unit = {
            Option(fl.listFiles()).foreach(_.foreach(rm)); fl.delete(); ()
          }
          rm(new java.io.File(dir))
        }
        if (!marker.exists() || marker.lastModified() < baseM) {
          System.err.println(s"[scale] generating ${f}x replica at $dir")
          ScaleGen.generate(spark, baseDir, dir, f)
        }
        f -> dir
    }

    // warmup: pay JVM/codegen startup outside the timed region
    SparkEntry.queries("g_count")(spark, baseDir).count()

    // scale-major order (all queries at 1x, then 3x, then 10x): each
    // query's plans JIT at the small scale first, so the large-scale
    // floors measure data growth, not compilation
    val times = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[Int, Double]]
    var failed = List.empty[(String, Int, String)]
    for ((f, dir) <- dirs; name <- sweepQueries) {
      val fn = probeOverrides.getOrElse(name, SparkEntry.queries(name))
      var rows = -1L
      // (ok, seconds) per run: a run that throws fails FAST, and feeding
      // its small elapsed into the min-floor would flatten the fitted
      // exponent — exactly the superlinear signal the probe exists to
      // catch. Only successful runs contribute to the floor.
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try {
            val df = fn(spark, dir)
            rows = df.count()
            Checkpoints.free(df)
            true
          } catch {
            case e: Throwable =>
              failed ::= ((name, f, String.valueOf(e.getMessage).take(200)))
              false
          }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val good = ts.collect { case (true, t) => t }
      if (good.nonEmpty) {
        val best = good.min
        System.err.println(f"[scale] x$f%-3d $name%-12s $best%8.3f s  rows=$rows%-9d " +
          s"runs=[${ts.map(t => f"${t._2}%.3f${if (t._1) "" else "!"}").mkString(",")}]")
        times.getOrElseUpdate(name, scala.collection.mutable.LinkedHashMap.empty)(f) = best
      } else {
        System.err.println(s"[scale] x$f $name ALL $runs RUNS FAILED — scale point excluded from fit")
      }
    }

    // per-query growth: 10x/1x ratio and the least-squares log-log slope
    // through (log f, log t) — the empirical scaling exponent
    def slope(pts: Seq[(Double, Double)]): Double = {
      val n = pts.length.toDouble
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxx = pts.map(p => p._1 * p._1).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - sx * sy) / (n * sxx - sx * sx)
    }
    val report = sweepQueries.map { name =>
      val t = times.getOrElse(name, scala.collection.mutable.LinkedHashMap.empty[Int, Double])
      val present = factors.filter(t.contains)
      val r =
        if (t.contains(1) && t.contains(10)) t(10) / t(1) else Double.NaN
      val ex =
        if (present.size >= 2)
          slope(present.map(f => (math.log(f.toDouble), math.log(math.max(t(f), 1e-4)))))
        else Double.NaN
      (name, t, r, ex)
    }
    val superlinear = report.filter { case (_, _, r, _) => !r.isNaN && r > math.pow(10.0, 1.3) }
    superlinear.foreach { case (n, _, r, ex) =>
      System.err.println(f"[scale] SUPERLINEAR $n: 10x data -> $r%.1fx time (exponent $ex%.2f)")
    }

    def jnum(d: Double) = if (d.isNaN) "null" else f"$d%.3f"
    val sweptQ = report.map { case (name, t, r, ex) =>
      val pts = factors.map(f =>
        s""""x$f":${t.get(f).map(jnum).getOrElse("null")}""").mkString(",")
      name -> s"""{$pts,"ratio10":${jnum(r)},"exponent":${jnum(ex)}}"""
    }
    // targeted runs MERGE into the committed record (overlay the swept
    // probes onto the existing per-query snippets) — before this, a
    // 1-probe run silently clobbered the full 18-probe artifact. The
    // per-query objects are flat (no nested braces), so a brace-free
    // regex lifts them out of our own one-line format safely.
    val prior: Seq[(String, String)] =
      if (only.isDefined && new java.io.File("BENCH_SCALE.json").exists()) {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_SCALE.json")), "UTF-8")
        val qRegion = txt.indexOf("\"queries\":{")
        if (qRegion < 0) Seq.empty
        else """"([a-z0-9_]+)":\{([^{}]*)\}""".r
          .findAllMatchIn(txt.substring(qRegion))
          .map(m => m.group(1) -> s"{${m.group(2)}}")
          .filter { case (_, snip) => snip.contains("ratio10") }
          .toSeq
      } else Seq.empty
    val sweptNames = sweptQ.map(_._1).toSet
    val merged = (prior.filterNot(p => sweptNames(p._1)) ++ sweptQ).sortBy(_._1)
    val perQ = merged.map { case (n, snip) => s""""$n":$snip""" }.mkString("{", ",", "}")
    // recompute the flag over the MERGED set from each snippet's ratio10
    val superCount = merged.count { case (_, snip) =>
      """"ratio10":([0-9.]+)""".r.findFirstMatchIn(snip)
        .exists(_.group(1).toDouble > math.pow(10.0, 1.3))
    }
    // a targeted overlay must not erase evidence it did not re-gather:
    // prior failures for queries NOT re-swept this run are carried over
    // (a re-swept query's prior failures are superseded by this run —
    // whether it now passes or fails afresh). Same flat-object regex lift
    // as the per-query snippets.
    val priorFails: Seq[(String, String)] =
      if (only.isDefined && new java.io.File("BENCH_SCALE.json").exists()) {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_SCALE.json")), "UTF-8")
        val fRegion = txt.indexOf("\"failures\":[")
        if (fRegion < 0) Seq.empty
        else """\{"query":"([a-z0-9_]+)",([^{}]*)\}""".r
          .findAllMatchIn(txt.substring(fRegion))
          .map(m => m.group(1) -> s"""{"query":"${m.group(1)}",${m.group(2)}}""")
          .toSeq
      } else Seq.empty
    val fails = (priorFails.filterNot(p => sweptNames(p._1)).map(_._2) ++
      failed.reverse.map { case (n, f, m) =>
        s"""{"query":"$n","factor":$f,"error":"${m.replace("\"", "'")}"}"""
      }).mkString("[", ",", "]")
    // factors/runs describe THIS run's sweep; `swept` names the queries
    // they apply to, so a 1-probe overlay no longer stamps its factors on
    // per-query snippets measured by an earlier full sweep
    val sweptList = sweptQ.map(q => "\"" + q._1 + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"scale_probe","base":"$baseDir","factors":[${factors.mkString(",")}],"runs":$runs,""" +
        s""""swept":$sweptList,"merged":${only.isDefined && prior.nonEmpty},""" +
        s""""sized_probes":[${probeOverrides.keys.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""queries":$perQ,"superlinear":$superCount,"failures":$fails}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SCALE.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[scale] write failed: ${e.getMessage}") }
    spark.stop()
    println(line)
    System.out.flush()
  }
}
