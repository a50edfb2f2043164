package graft.operators

import graft.pipeline.Checkpoints
import graft.pipeline.Checkpoints.PinOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Graph analytics over plain edge-list DataFrames — no graph library, just
 * join+aggregate rounds with deterministic checkpoint lifecycle (the same
 * iteration shape as [[graft.pipeline.Dedup.duplicateClusters]]).
 *
 * The motivating corpus use: centrality over the near-dup pair graph.
 * PageRank on "document A is a near-duplicate of document B" edges surfaces
 * the template/boilerplate documents whose content radiates through a crawl
 * — a ranking connected components cannot give (every member of a clique
 * gets the same component, but the hub outranks its copies).
 */
object Graph {

  /**
   * PAGERANK, unnormalized per-node form with a fixed iteration count:
   * `r_0 = 1`, `r_{t+1}(v) = (1-d) + d * Σ_{u~v} r_t(u)/deg(u)` over the
   * UNDIRECTED edge set (each input pair contributes both directions).
   * Nodes absent from every edge keep the floor rank `1-d`.
   *
   * Scale shape: per iteration ONE join of the rank frame into the
   * degree-attached edge relation (shuffle on node id) and one
   * partial-aggregated `groupBy(dst)` — O(edges) per round, no adjacency
   * materialization, no driver-side graph. Only edge PARTICIPANTS iterate
   * (round 17): in the undirected relation every participant receives a
   * contribution each round, so isolated nodes are loop-invariant at the
   * teleport floor and the dense left-outer join against the node table
   * runs ONCE at the end, not once per round. The edge relation pins once
   * (degree via count window — no separate degree table); each round's
   * rank frame pins and the previous frees ([[Checkpoints]]), so a long
   * session holds exactly one live rank frame. The INPUT edge frame is
   * consumed: its backing checkpoint blocks (e.g. the minhash signature
   * pin under a [[graft.pipeline.Dedup.minhashLshPairs]] edge list) are
   * released once the symmetrized relation is pinned.
   *
   * Engine-portable determinism: every iteration's rank snaps to 6 dp, so
   * the next round's input is a short exact decimal in both engines and
   * per-group summation-order noise (~1e-16) cannot compound across
   * rounds (same accepted residual-risk class as the 6 dp Lloyd means).
   *
   * CONTRACT: edge endpoints must be drawn from `nodes` (endpoints ⊆
   * nodes). The participants-only iteration lets an unknown endpoint hold
   * rank and push mass to its neighbors every round, where the former
   * nodes-keyed formulation dropped such edges at the per-round join —
   * with foreign endpoints the two disagree. Every caller mines the edge
   * relation from the node table itself, so the precondition holds by
   * construction; callers with untrusted edges must semi-join them
   * against `nodes` first.
   */
  def pageRank(
      edges: DataFrame,
      nodes: DataFrame,
      iterations: Int = 5,
      damping: Double = 0.85,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    val sym = edges.toDF("src", "dst")
    // degree attaches to the edge relation ONCE via an unordered count
    // window — one pinned frame instead of the former und0/deg/und chain
    // (three pins + a degree join), the [[personalizedPageRank]] shape
    val und = sym.union(sym.select(col("dst"), col("src")))
      .withColumn("deg", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
        .cast("double"))
      .pinned
    Checkpoints.free(edges) // input consumed: release any pins beneath it
    // iterate over edge PARTICIPANTS only: the relation is undirected, so
    // every participant receives >= 1 contribution each round (all its
    // neighbors carry ranks) and the per-round dense left-outer join was
    // loop-invariant — isolated nodes sit at the constant teleport floor.
    // It runs ONCE at the end instead of once per round (each round used
    // to re-scan the nodes parquet and pay one more Exchange).
    var ranks = und.select(col("src").as("id")).distinct()
      .withColumn("r", lit(1.0)).pinned
    for (_ <- 1 to iterations) {
      val next = und
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .groupBy(col("dst")).agg(sum(col("r") / col("deg")).as("c"))
        .select(col("dst").as("id"),
          round(lit(1.0 - damping) + lit(damping) * col("c"), 6).as("r"))
        .pinned
      Checkpoints.free(ranks)
      ranks = next
    }
    // restore the dense output ONCE: isolated nodes carry the exact
    // expression the dense rounds computed for a zero contribution sum
    val out = nodes.select(col(idCol).as("id"))
      .join(ranks, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("r"),
          round(lit(1.0 - damping) + lit(damping) * lit(0.0), 6)).as("rank"))
    Checkpoints.free(und)
    out
  }

  /**
   * PERSONALIZED PAGERANK from a seed set — [[pageRank]] with the teleport
   * mass restricted to `seeds` instead of spread uniformly:
   * `r₊(v) = (1−d)·p(v) + d·Σ_{u~v} r(u)/deg(u)` with `p` uniform ON THE
   * SEEDS and zero elsewhere. Rank mass therefore measures proximity to
   * the seeds through the graph — the classic "customers who bought THIS
   * also gravitate to..." recommendation walk over the co-purchase graph
   * (seeds = a basket), where plain PageRank only measures global
   * popularity. Nodes in components the seeds can't reach score exactly 0.
   *
   * Determinism: fixed iteration count; each node's contribution sum
   * folds over its in-neighbor contributions SORTED ASCENDING BY VALUE
   * ([[graft.functions.GraftFunctions.foldSum]]'s kernel order — on the
   * basket graph's denser nodes a plain float `sum()` lands on 6-dp
   * rounding boundaries, so the per-iteration snap
   * alone is NOT enough), then the rank SNAPS to 6 dp; the final top-k cut
   * orders `(rank DESC, id)`. Scale shape per iteration (SPARSE frontier,
   * round 17): the rank frame carries only nodes the walk has touched —
   * one join of that frame into the edge relation + one per-node fold
   * whose state is the in-neighbor contribution list, bounded by degree,
   * then a union with the (broadcast-sized) seed teleport rows. Untouched
   * nodes are implicitly 0 all the way through; the single full-node
   * left-outer join happens ONCE at the end to restore the dense output
   * (zero-rank rows participate in the `(rank DESC, id)` top-k tie-break),
   * not once per iteration. Zero-rank rows in the dense formulation
   * contribute exact 0.0 terms to the ascending-value fold, so dropping
   * them changes no sum bit-for-bit. Rank frames pin per round and free
   * the previous ([[graft.pipeline.Checkpoints]] lifecycle).
   */
  def personalizedPageRank(
      edges: DataFrame,
      seeds: Seq[Long],
      iterations: Int = 5,
      damping: Double = 0.85,
      topK: Int = 50
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0, 1)")
    require(seeds.nonEmpty, "need at least one seed node")
    require(topK >= 1, "topK must be >= 1")
    import graft.functions.GraftFunctions
    import GraftFunctions.foldSum
    val sym = edges.select(col("id_a"), col("id_b"))
    // degree attaches to the edge relation ONCE (static across rounds) via
    // an unordered count window — one shuffle on src, no separate degree
    // table or join; each iteration then joins only the current rank frame
    val und = sym.toDF("src", "dst")
      .union(sym.select(col("id_b"), col("id_a")).toDF("src", "dst"))
      .withColumn("deg", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("src")))
        .cast("double"))
      .pinned
    Checkpoints.free(edges)
    val ids = und.select(col("src").as("id")).distinct().pinned
    val spark = edges.sparkSession
    import spark.implicits._
    def pOf(idc: org.apache.spark.sql.Column) =
      when(idc.isin(seeds: _*), lit(1.0 / seeds.size)).otherwise(lit(0.0))
    // seed keep-alive rows: broadcast-sized by contract (a basket, not a
    // table). Injected into the contribution stream as exact-0.0 terms,
    // they guarantee every seed a group in the fold WITHOUT a second
    // aggregation — 0.0 sorts first in the ascending-value kernel and
    // adding it is a float no-op, so the folded sums are bit-identical.
    val seedDf = seeds.toDF("dst").select(col("dst"), lit(0.0).as("rc"))
    // sparse frontier: only seeds carry mass at t=0; untouched nodes are
    // implicitly 0 (their dense rows would contribute exact-0.0 fold terms)
    var ranks = seeds.toDF("id").select(col("id"), round(pOf(col("id")), 6).as("r")).pinned
    for (_ <- 1 to iterations) {
      // ONE shuffle per round: edge join + seed keep-alive union feed one
      // grouped fold, and the teleport/damping fold over the named sum.
      // Pin cadence: every round. Pinning every SECOND round was measured
      // 1.8x SLOWER (7.6 s vs 4.2 s at sf0.1) — the unpinned two-round
      // join/agg lineage defeats AQE's small-frame runtime stats, so keep
      // one materialization per round and let each join see real sizes.
      val next = und
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .select(col("dst"), (col("r") / col("deg")).as("rc"))
        .unionByName(seedDf)
        .groupBy(col("dst"))
        .agg(foldSum(collect_list(col("rc"))).as("c"))
        .select(col("dst").as("id"),
          round(lit(1.0 - damping) * pOf(col("dst")) + lit(damping) * col("c"), 6).as("r"))
        .pinned
      Checkpoints.free(ranks)
      ranks = next
    }
    // restore the dense output ONCE: zero-rank nodes re-enter here so the
    // (rank DESC, id) top-k tie-break sees the same universe as the oracle
    val out = ids
      .join(ranks, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("r"), lit(0.0)).as("r"))
      .orderBy(col("r").desc, col("id"))
      .limit(topK)
      .select(col("id"), col("r").as("rank"))
    // und is lineage-truncated out of `out` (the last pinned rank frame
    // sits between them) — release it now. ids and the final rank pin ARE
    // `out`'s LogicalRDD leaves: the caller's Checkpoints.free(out)
    // releases both after the last action.
    Checkpoints.free(und)
    out
  }

  /**
   * BOUNDED BFS HOP DISTANCE from a seed node — the exact "degrees of
   * separation" frontier expansion [[personalizedPageRank]]'s soft
   * proximity mass approximates: every node reachable within `maxHops`
   * undirected hops, labeled with its FIRST-reach hop count. On the
   * co-purchase graph this is the recommendation radius ("products one /
   * two baskets away"); on the near-dup graph, contamination blast
   * radius. Exact set semantics — no floats, no ties to break.
   *
   * Scale shape: `maxHops` rounds of (frontier ⋈ edges) + a left-anti
   * against the visited set — O(edges touched) per round, the standard
   * distributed BFS; visited frames pin per round and free the previous
   * ([[graft.pipeline.Checkpoints]] lifecycle). The hop bound is the
   * contract: unbounded BFS on a 100-TB graph is a different algorithm
   * (connected components — [[graft.pipeline.Dedup.duplicateClusters]]).
   */
  def bfsHops(
      edges: DataFrame,
      seed: Long,
      maxHops: Int = 3
  ): DataFrame = {
    require(maxHops >= 1 && maxHops <= 16, "maxHops must be in [1, 16]")
    val spark = edges.sparkSession
    import spark.implicits._
    val sym = edges.select(col("id_a"), col("id_b"))
    val und = sym.toDF("src", "dst")
      .union(sym.select(col("id_b"), col("id_a")).toDF("src", "dst")).pinned
    Checkpoints.free(edges)
    var visited = Seq((seed, 0L)).toDF("id", "hop").pinned
    for (h <- 1 to maxHops) {
      val next = und
        .join(visited.filter(col("hop") === (h - 1).toLong).select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("hop"))
      val grown = visited.unionAll(next).pinned
      Checkpoints.free(visited)
      visited = grown
    }
    Checkpoints.free(und)
    visited
  }

  /**
   * SYNCHRONOUS LABEL PROPAGATION communities (Raghavan et al. 2007) in
   * the deterministic fixed-round form: labels start as node ids; each
   * round every node adopts the label most frequent among its NEIGHBORS
   * over the undirected edge set, ties broken toward the SMALLEST label;
   * nodes in no edge keep their own id. The round count is the contract
   * (both engine and oracle run exactly `rounds`): synchronous LPA can
   * oscillate two-cycle on bipartite-ish structures, so "state after K
   * synchronous rounds" is the only replayable definition — there is no
   * fixpoint to probe for.
   *
   * Contrast with [[graft.pipeline.Dedup.duplicateClusters]]: CC merges
   * everything reachable, so one shared boilerplate doc chains two
   * template families into one cluster; LPA keeps weakly-bridged families
   * apart because a single bridge edge never outvotes a family's internal
   * edges. Run it on the same mined pair list to get the finer community
   * structure underneath the CC clusters.
   *
   * Scale shape: per round ONE join of the label frame into the edge
   * relation (shuffle on node id), one partial-aggregated count on
   * (node, label), one argmin — O(edges) per round, no adjacency
   * materialization. Label frames pin per round and free the previous
   * ([[Checkpoints]]), same lifecycle as [[pageRank]]; the tie-break is
   * `min(struct(-count, label))` — exact int64s, no floats anywhere.
   */
  def labelPropagation(
      edges: DataFrame,
      nodes: DataFrame,
      rounds: Int = 4,
      idCol: String = "doc_id"
  ): DataFrame = lpCore(edges, nodes, rounds, idCol, consume = true)

  /**
   * [[labelPropagation]]'s labeling, materialized for SHARING: the
   * per-call propagation runs VERBATIM via [[lpCore]] (same algebra, same
   * checkpoint-truncated rounds — truncation keeps per-action planning
   * O(round); a full-lineage variant was measured at ~2 s of pure
   * driver-side re-analysis PER READ of the memoized frame). `consume =
   * false` leaves the caller's pins under `edges` alive (the shared edge
   * relation is persist-based anyway). The final labeling is persisted,
   * materialized once, and the now-read-dead checkpoint beneath the cache
   * is released HERE — a consumer's `Checkpoints.free` on a frame derived
   * from it finds no live checkpoint leaves (spec-asserted). One 4-round
   * propagation serves the labeling gate, the modularity decomposition
   * and the ARI agreement. The MEMORY_AND_DISK cache evicts to disk,
   * never silently drops: materialize once, then scan.
   */
  def labelPropagationShared(
      edges: DataFrame,
      nodes: DataFrame,
      rounds: Int = 4,
      idCol: String = "doc_id"
  ): DataFrame = {
    val out = lpCore(edges, nodes, rounds, idCol, consume = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize once; every sharer scans the cached relation
    graft.pipeline.Checkpoints.free(out) // final labels checkpoint: dead for reads
    out
  }

  /** [[labelPropagation]] body; `consume = false` leaves the caller's
    * pins under `edges` alive ([[labelPropagationShared]]). */
  private def lpCore(
      edges: DataFrame,
      nodes: DataFrame,
      rounds: Int,
      idCol: String,
      consume: Boolean
  ): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val sym = edges.toDF("src", "dst")
    val und = sym.union(sym.select(col("dst"), col("src"))).pinned
    if (consume) Checkpoints.free(edges) // input consumed: release pins beneath it
    val ids = nodes.select(col(idCol).as("id"))
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).pinned
    for (_ <- 1 to rounds) {
      val next = und
        .join(labels.select(col("id").as("src"), col("lbl")), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("id"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("lbl"))
        .pinned
      Checkpoints.free(labels)
      labels = next
    }
    Checkpoints.free(und)
    // docs in no pair are their own singleton community
    ids.join(labels, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("lbl"), col("id")).as("community"))
  }

  /**
   * ADJUSTED RAND INDEX between two labelings of the same id universe —
   * the standard partition-agreement score (1 = identical partitions,
   * ~0 = chance-level agreement): with `S_ij = Σ C(n_ij, 2)` over the
   * contingency table and `S_a/S_b` its row/column-marginal pair sums,
   * `ARI = (S_ij − S_a·S_b/T) / ((S_a+S_b)/2 − S_a·S_b/T)`, `T = C(n,2)`.
   * The eval harness for the dedup clusterings: "how much does the LPA
   * community structure actually differ from the CC clusters" as one
   * number instead of eyeballing labels.
   *
   * Scale shape: one id-keyed join builds the contingency counts
   * (partial-aggregated; rows bounded by real cluster overlaps, not n²),
   * then three bounded aggregations over it. Both labeling inputs are
   * CONSUMED ([[Checkpoints.free]]) once the contingency table is
   * pinned. All pair counts are exact
   * int64 (`k·(k−1) div 2`); only the final ratio is float, in spelled
   * operand order (`S_a·S_b` exceeds int64 at corpus scale, so the
   * product is a double — exact to 2^53 and identically rounded beyond).
   * A zero denominator (both partitions degenerate the same way) scores
   * an exact 1.0 by convention.
   */
  def partitionAgreement(
      a: DataFrame,
      b: DataFrame,
      labelColA: String,
      labelColB: String,
      idCol: String = "doc_id"
  ): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val ct = a.select(col(idCol), col(labelColA).as("__x"))
      .join(b.select(col(idCol), col(labelColB).as("__y")), idCol)
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("nij"))
      .pinned // three bounded aggregations read it
    Checkpoints.free(a, b) // inputs consumed: release pins under the labelings
    def pairsOf(c: String) = sum(expr(s"$c * ($c - 1) div 2"))
    // the three scalar sums evaluate in ONE action: each is a 1-row
    // aggregate subtree over the pinned contingency table, crossJoined so
    // the driver pays one job barrier instead of three sequential
    // collect round-trips (the independent subtrees also schedule
    // concurrently inside the job) [guide §2.6, §5]
    val sRow = ct.agg(pairsOf("nij").as("__sij"), sum(col("nij")).as("__n"))
      .crossJoin(ct.groupBy(col("__x")).agg(sum(col("nij")).as("ai"))
        .agg(pairsOf("ai").as("__sa")))
      .crossJoin(ct.groupBy(col("__y")).agg(sum(col("nij")).as("bj"))
        .agg(pairsOf("bj").as("__sb")))
      .head()
    Checkpoints.free(ct)
    if (sRow.isNullAt(0)) {
      return Seq((0L, 0L, 0L, 0L, 1.0))
        .toDF("n_docs", "pairs_both", "pairs_a", "pairs_b", "ari").limit(0)
    }
    val sij = sRow.getLong(0)
    val n   = sRow.getLong(1)
    val sa  = sRow.getLong(2)
    val sb  = sRow.getLong(3)
    val t   = n * (n - 1) / 2
    val ari =
      if (t == 0L) 1.0 // a single id: one possible partition
      else {
        val exp = (sa.toDouble * sb.toDouble) / t.toDouble
        val den = (sa.toDouble + sb.toDouble) / 2.0 - exp
        if (den == 0.0) 1.0 else (sij.toDouble - exp) / den
      }
    Seq((n, sij, sa, sb, ari)).toDF("n_docs", "pairs_both", "pairs_a", "pairs_b", "__ari")
      .select(col("n_docs"), col("pairs_both"), col("pairs_a"), col("pairs_b"),
        round(col("__ari"), 6).as("ari"))
  }

  /**
   * NEWMAN MODULARITY decomposed per community — the quality score of a
   * graph partition (e.g. a [[labelPropagation]] labeling over the
   * near-dup pair graph): `contrib_c = L_c/m − (D_c/2m)²` where `L_c` is
   * the community's internal edge count, `D_c` its degree sum and `m`
   * the total undirected edge count; total modularity Q is the column
   * sum. High-contrib communities are genuinely dense template families;
   * a partition whose Q collapses toward 0 is chaining unrelated docs
   * (the CC-through-a-bridge failure mode this quantifies).
   *
   * `pairs` is one row per undirected edge; `labels` maps EVERY node
   * (singletons included — they contribute exact zeros). Both inputs are
   * CONSUMED ([[Checkpoints.free]]) after being re-pinned internally:
   * each is read by several aggregations below, and an unpinned mining
   * pipeline would re-run per read.
   *
   * Scale shape: three partial-aggregated groupBys (internal edges,
   * degree sums, node counts) + one id-keyed join each — O(edges), no
   * per-pair shuffle amplification. All counts are exact int64; the two
   * divisions and one multiply are the only float ops, spelled in the
   * oracle's exact order, snapped to 6 dp.
   */
  def modularity(
      pairs: DataFrame,
      labels: DataFrame,
      idCol: String = "doc_id",
      commCol: String = "community"
  ): DataFrame = {
    val p = pairs.select(col("id_a"), col("id_b")).pinned
    Checkpoints.free(pairs)
    val lab = labels.select(col(idCol).as("__id"), col(commCol).as("__c")).pinned
    Checkpoints.free(labels)
    // the edge count folds in-plan (1-row aggregate crossJoined onto the
    // per-community rows) instead of a separate driver count job — one
    // action instead of two over the pinned edge frame [guide §2.6, §5]
    val mAgg = p.agg(count(lit(1)).as("__m"))
    val internal = p
      .join(lab.select(col("__id").as("id_a"), col("__c").as("__ca")), "id_a")
      .join(lab.select(col("__id").as("id_b"), col("__c").as("__cb")), "id_b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(count(lit(1)).as("l_in"))
    val und = p.union(p.select(col("id_b"), col("id_a")).toDF("id_a", "id_b"))
    val deg  = und.groupBy(col("id_a").as("__id")).agg(count(lit(1)).as("__dg"))
    val csum = deg.join(lab, "__id").groupBy(col("__c").as("community")).agg(sum("__dg").as("d_sum"))
    val nodes = lab.groupBy(col("__c").as("community")).agg(count(lit(1)).as("n_nodes"))
    // same IEEE chain as the former literal form: 2.0 * m is one exact
    // double multiply whether m arrives as a literal or a column
    val mD = col("__m").cast("double")
    val contrib =
      when(col("__m") === 0L, lit(0.0)) // an edgeless graph has no modularity to score
        .otherwise(round(col("l_in").cast("double") / mD -
          (col("d_sum").cast("double") / (lit(2.0) * mD)) *
            (col("d_sum").cast("double") / (lit(2.0) * mD)), 6))
    nodes
      .join(internal, Seq("community"), "left")
      .join(csum, Seq("community"), "left")
      .crossJoin(broadcast(mAgg))
      .select(col("community"), col("n_nodes"),
        coalesce(col("l_in"), lit(0L)).as("l_in"),
        coalesce(col("d_sum"), lit(0L)).as("d_sum"),
        col("__m"))
      .withColumn("contrib", contrib)
      .drop("__m")
  }

  /**
   * TRIANGLE ENUMERATION over an undirected edge list `(id_a, id_b)` with
   * `id_a < id_b`: every triple `(a, b, c)` with all three edges present,
   * `a < b < c`. On the near-dup graph a triangle means three documents
   * pairwise similar — clique-ish template families, as opposed to the
   * chains that connected components cannot tell apart; `a_b ⋈ b_c ⋈ a_c`
   * is the standard two-join enumeration and the `a<b<c` orientation
   * counts each triangle exactly once.
   *
   * Scale shape: two equi-joins on node ids (bare longs). The classic
   * skew hazard — one high-degree hub exploding the first join — is the
   * same degenerate-bucket risk the pair MINING already caps
   * (`maxBucket`); feed this capped pairs, and per-node degree is bounded
   * by construction.
   */
  /**
   * ADAMIC–ADAR LINK PREDICTION over the undirected pair graph: for every
   * NON-adjacent pair with at least one common neighbor, the score
   * `AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w))` — common neighbors
   * weighted inversely by how promiscuous they are (Adamic & Adar 2003).
   * On the near-dup graph this ranks the pairs LSH banding *missed*:
   * two docs sharing several low-degree (i.e. specific, non-boilerplate)
   * neighbors are prime candidates for an exact-verify pass — the
   * recall-repair loop next to [[triangleCounts]]'s precision signal.
   * Returns the top-`k` `(id_a, id_b, n_common, aa)` by (score, ids).
   *
   * Determinism: every common neighbor has degree ≥ 2 (it touches both
   * endpoints), so `ln(deg) ≥ ln 2` and the fold never divides by zero;
   * the per-pair sum folds over the `1/ln(deg)` terms sorted ascending by
   * VALUE ([[graft.functions.GraftFunctions.foldSum]]'s kernel order),
   * and the score SNAPS to 6 dp before the (score desc, ids)
   * top-k cut — the oracle replays the identical IEEE sequence.
   *
   * Scale shape: degree is one partial-aggregated groupBy; the wedge
   * enumeration is the [[triangles]] self-join on the shared neighbor
   * (O(Σ deg(w)²), bounded by the max-degree cap the pair miner already
   * enforces); the existing-edge exclusion is a left-anti join; per-pair
   * state is the common-neighbor list, bounded by degree. Top-k runs as
   * TakeOrdered, never a global sort.
   */
  def adamicAdar(pairs: DataFrame, topK: Int = 50): DataFrame = {
    import graft.functions.GraftFunctions
    require(topK >= 1, "topK must be >= 1")
    import GraftFunctions.foldSum
    // canonicalize before distinct: a caller-supplied (5,3) must collapse
    // with (3,5) — otherwise the edge escapes the left-anti exclusion and
    // double-counts degrees when both orientations are present
    val e = pairs
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))
      .distinct().pinned
    val adj = e.select(col("id_a").as("id"), col("id_b").as("nb"))
      .unionAll(e.select(col("id_b").as("id"), col("id_a").as("nb")))
    val deg = adj.groupBy(col("id")).agg(count(lit(1)).as("d"))
    val wedges = adj.select(col("id").as("id_a"), col("nb").as("via"))
      .join(adj.select(col("id").as("id_b"), col("nb").as("via")), "via")
      .filter(col("id_a") < col("id_b"))
      .join(e, Seq("id_a", "id_b"), "left_anti")
    val out = wedges
      .join(deg.select(col("id").as("via"), col("d")), "via")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_common"),
        round(foldSum(collect_list(lit(1.0) / log(col("d").cast("double")))), 6)
          .as("aa"))
      .orderBy(col("aa").desc, col("id_a"), col("id_b"))
      .limit(topK)
    Checkpoints.free(pairs)
    out
  }

  def triangles(pairs: DataFrame): DataFrame = {
    val e = pairs.select(col("id_a"), col("id_b")).distinct()
    e.select(col("id_a").as("a"), col("id_b").as("b"))
      .join(e.select(col("id_a").as("b"), col("id_b").as("c")), "b")
      .join(e.select(col("id_a").as("a"), col("id_b").as("c")), Seq("a", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-node triangle participation count over [[triangles]] — the local
    * clustering signal (how embedded in a template family each doc is). */
  def triangleCounts(pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val t = triangles(pairs)
    t.select(col("a").as("id"))
      .unionAll(t.select(col("b").as("id")))
      .unionAll(t.select(col("c").as("id")))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /**
   * LOCAL CLUSTERING COEFFICIENT per node of the undirected pair graph:
   * `lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))` — 1.0 inside a perfect
   * clique (a verbatim template family), → 0 for a hub whose neighbors
   * are mutually unrelated (shared boilerplate fragments, not copies).
   * Together with [[pageRank]] this separates the two template topologies
   * that near-dup mining surfaces.
   *
   * Scale shape: degree is one partial-aggregated groupBy over the
   * symmetrized edges; triangles reuse the [[triangles]] two-join
   * enumeration; the final assembly joins two node-keyed frames (ids
   * only). Both numerator and denominator are exact int64 counts, so the
   * single division (snapped to 6 dp) is engine-portable. Nodes of degree
   * 1 get lcc = 0 (no possible triangle), matching the usual convention.
   */
  /**
   * BOUNDED-ROUND K-CORE PEEL — the subgraph left after `rounds`
   * iterations of "drop every node with fewer than k neighbors among the
   * survivors", plus each survivor's within-core degree. On the near-dup
   * graph the 2-core strips dangling chain links (docs tied in by one
   * borrowed fragment) from the densely-copied template mass that
   * triangles/LCC score — the standard peel before community analysis.
   *
   * Like [[pageRank]], the round count is FIXED (both the engine and the
   * oracle run exactly `rounds`; peeling converges in ≤ diameter rounds on
   * bucket-capped pair graphs — raise `rounds` for deeper chains; the
   * fixpoint check would be one more isEmpty probe per round). Per round:
   * one partial-aggregated degree count over the surviving edges and two
   * semi-joins restricting them to the next survivor set — O(surviving
   * edges) a round, no adjacency materialization. The surviving-edge
   * frames pin per round and free the previous ([[Checkpoints]]); exact
   * int counts end to end.
   */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 8, idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(rounds >= 1, "rounds must be >= 1")
    val p = pairs.select(col("id_a"), col("id_b")).distinct()
    // the iterated state is the EDGE set among survivors (round 17; the
    // member-set iteration re-restricted the FULL edge relation with two
    // semi-joins every round — including round 1, whose member set was
    // every participant, making both joins no-ops). Each round's degree
    // count now scans the shrinking pinned edge frame directly; the
    // restriction joins see only surviving edges. Peeling is monotone
    // (a dropped node keeps no edges, so it can never re-qualify), so
    // edges-among-survivors after round r is exactly the member
    // formulation's restriction — same degrees, same output rows.
    var e = p.union(p.select(col("id_b"), col("id_a")).toDF("id_a", "id_b")).pinned
    Checkpoints.free(pairs)
    def degrees(ed: DataFrame): DataFrame =
      ed.groupBy(col("id_a").as("id")).agg(count(lit(1)).as("degree"))
    (1 to rounds).foreach { _ =>
      val surv = degrees(e).filter(col("degree") >= k).select(col("id"))
      val next = e
        .join(surv.withColumnRenamed("id", "__ma"), col("id_a") === col("__ma"), "left_semi")
        .join(surv.withColumnRenamed("id", "__mb"), col("id_b") === col("__mb"), "left_semi")
        .pinned
      Checkpoints.free(e)
      e = next
    }
    // pin the result (forcing the last degree pass) BEFORE releasing the
    // edge pin it reads — the returned frame must not depend on freed
    // blocks; the caller releases it with Checkpoints.free(out)
    val out = degrees(e)
      .select(col("id").as(idCol), col("degree").as("core_degree")).pinned
    Checkpoints.free(e)
    out
  }

  /**
   * DEGREE ASSORTATIVITY (Newman 2002) — the Pearson correlation of the
   * degrees at the two ends of every edge: positive when hubs link to
   * hubs (social/citation shape), negative when hubs link to leaves
   * (star/hub-and-spoke — the shape a boilerplate-fragment near-dup hub
   * produces). One number that tells a curation pass whether its dup
   * graph is clique-like communities (prune whole clusters) or a few
   * template hubs (prune the hub docs). Each undirected edge contributes
   * both orientations (the standard convention), so `Σx = Σy` and
   * `r = (m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)`.
   *
   * Determinism: degrees are exact int64; all five moment sums fold in
   * decimal(38,0) (deg ≤ n, deg² ≤ n² — int64 dies long before 100-TB
   * edge counts); ONE double division at the end, then a 6-dp snap — no
   * float ever sums. A degree-regular graph (denominator 0) yields null.
   *
   * Scale shape: one degree groupBy + two broadcast-or-shuffle joins of
   * the degree table into the edge list + one scalar aggregation — never
   * a pair-of-pairs join.
   */
  def degreeAssortativity(pairs: DataFrame, dp: Int = 6): DataFrame = {
    // pin the canonical edge list: it fans out into the adjacency (read
    // twice via deg and ends) — unpinned, each branch would re-run the
    // whole upstream pair miner
    val p = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().pinned
    val adj = p.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(p.select(col("b").as("src"), col("a").as("dst")))
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("d")).pinned
    val ends = adj
      .join(deg, "src").withColumnRenamed("d", "dx")
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), "dst")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    // pin the one-row moment aggregate (forcing it) BEFORE releasing the
    // input's checkpoint blocks — the returned frame must not depend on
    // freed pins (the kCore discipline)
    val s = ends.agg(
      count(lit(1)).as("m"),
      sum(dec(col("dx"))).as("__sx"),
      sum(dec(col("dx") * col("dy"))).as("__sxy"),
      sum(dec(col("dx") * col("dx"))).as("__sxx")).pinned
    Checkpoints.free(pairs, p, deg)
    s.select(col("m").as("m_ends"),
      when(dec(col("m")) * col("__sxx") - col("__sx") * col("__sx") =!= lit(0),
        round((dec(col("m")) * col("__sxy") - col("__sx") * col("__sx")).cast("double") /
          (dec(col("m")) * col("__sxx") - col("__sx") * col("__sx")).cast("double"), dp))
        .as("assortativity"))
  }

  /**
   * K-TRUSS edge peel (Cohen 2008) — the EDGE-level cohesion filter
   * [[kCore]]'s node-level peel approximates: keep an edge only while it
   * participates in ≥ `k−2` triangles among the surviving edges. A
   * k-core keeps a star's hub; a k-truss does not — every surviving edge
   * is triangle-supported, so the output is the cluster SKELETON a
   * dedup/community pass can trust (boilerplate hubs shear off first).
   * Returns the surviving `(id_a, id_b, support)` edges after `rounds`
   * fixed peels (the [[kCore]] fixed-round convention — both engines run
   * exactly `rounds`; convergence is ≤ diameter on bucket-capped graphs).
   *
   * Scale shape per round: one adjacency self-join on the shared
   * neighbor (the [[triangles]] wedge enumeration — O(Σ deg²), bounded
   * by the pair miner's bucket caps), one semi restriction to current
   * edges, one partial-aggregated support count. Exact ints end to end —
   * no floats anywhere. Edge frames pin per round and free the previous.
   */
  def kTruss(pairs: DataFrame, k: Int = 3, rounds: Int = 4): DataFrame = {
    require(k >= 3, "k must be >= 3 (k=2 keeps every edge)")
    require(rounds >= 1, "rounds must be >= 1")
    var e = pairs
      .select(least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b")).distinct().pinned
    Checkpoints.free(pairs)
    var sup: DataFrame = null
    (1 to rounds).foreach { _ =>
      val adj = e.select(col("a").as("id"), col("b").as("nb"))
        .unionAll(e.select(col("b").as("id"), col("a").as("nb")))
      val s = adj.select(col("id").as("a"), col("nb").as("via"))
        .join(adj.select(col("id").as("b"), col("nb").as("via")), "via")
        .filter(col("a") < col("b"))
        .join(e, Seq("a", "b"), "left_semi")
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
        .filter(col("support") >= k - 2)
        .pinned
      Checkpoints.free(e)
      if (sup != null) Checkpoints.free(sup)
      sup = s
      e = s.select(col("a"), col("b"))
    }
    sup.select(col("a").as("id_a"), col("b").as("id_b"), col("support"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /**
   * HITS hubs & authorities (Kleinberg 1999) over the DIRECTED form of the
   * near-dup pair list: each mined pair `(id_a < id_b)` becomes the edge
   * `id_b → id_a` — the later document "cites" its earlier near-duplicate,
   * so AUTHORITIES are the canonical originals whose content radiates
   * through a crawl and HUBS are the aggregator/re-post documents that
   * copy from many originals. [[pageRank]] scores undirected centrality;
   * this splits it into the source/sink roles a curation pass acts on
   * (keep authorities, down-weight hubs).
   *
   * Fixed `rounds` of the synchronous update with ∞-NORM normalization:
   * `a(v) = Σ_{u→v} h(u)` then `a ← a / max(a)`, `h(u) = Σ_{u→v} a(v)`
   * then `h ← h / max(h)`. Dividing by the max — not the conventional L2
   * norm — is deliberate: max is ORDER-FREE, so normalization adds no
   * summation-order noise of its own, and each half-round's scores snap
   * to 6 dp exactly like [[pageRank]] ranks (per-group sum noise ~1e-16
   * cannot compound across rounds — same accepted residual-risk class).
   * Nodes with no in-edge score authority 0; no out-edge, hub 0; docs in
   * no pair score 0 on both.
   *
   * Scale shape: per half-round ONE join of the score frame into the edge
   * relation (shuffle on node id) and one partial-aggregated groupBy —
   * O(edges), no adjacency materialization. The max is computed IN-PLAN
   * (a 1-row aggregate crossJoined back), never collected. Only the raw
   * sum frame pins per half-round (round 17; the normalized projection
   * stays lazy over it — re-evaluating the 1-row max per consumer is a
   * cached scan) and the previous frees ([[Checkpoints]]); the input edge
   * frame is consumed.
   */
  def hits(
      edges: DataFrame,
      nodes: DataFrame,
      rounds: Int = 4,
      idCol: String = "doc_id"
  ): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val dir = edges.toDF("a", "b").select(col("b").as("src"), col("a").as("dst")).pinned
    Checkpoints.free(edges) // input consumed: release any pins beneath it
    // h0 = 1 on every participant (only out-edge nodes ever feed an `a`
    // sum, but the uniform start matches the textbook definition)
    var hubsPin = dir.select(col("src").as("id"))
      .union(dir.select(col("dst").as("id"))).distinct()
      .withColumn("h", lit(1.0)).pinned
    var hubs = hubsPin
    var auths: DataFrame = null
    var authsPin: DataFrame = null
    for (r <- 1 to rounds) {
      // ONE pin per half-round (round 17; was two): the raw sums pin, the
      // max-normalization stays a LAZY projection over them — max is a
      // 1-row aggregate of a pinned frame, so re-evaluating it per
      // consumer is a cached scan, not a recomputation of the join
      val aRaw = dir
        .join(hubs.select(col("id").as("src"), col("h")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("__ar")).pinned
      if (r > 1) Checkpoints.free(authsPin)
      authsPin = aRaw
      auths = aRaw
        .crossJoin(aRaw.agg(max(col("__ar")).as("__am")))
        .select(col("id"), round(col("__ar") / col("__am"), 6).as("a"))
      val hRaw = dir
        .join(auths.select(col("id").as("dst"), col("a")), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("__hr")).pinned
      Checkpoints.free(hubsPin)
      hubsPin = hRaw
      hubs = hRaw
        .crossJoin(hRaw.agg(max(col("__hr")).as("__hm")))
        .select(col("id"), round(col("__hr") / col("__hm"), 6).as("h"))
    }
    Checkpoints.free(dir)
    nodes.select(col(idCol).as("id"))
      .join(hubs, Seq("id"), "left")
      .join(auths, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("h"), lit(0.0)).as("hub"),
        coalesce(col("a"), lit(0.0)).as("authority"))
  }

  def localClusteringCoefficient(pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val e = pairs.select(col("id_a"), col("id_b")).distinct()
    val deg = e.select(col("id_a").as("id")).unionAll(e.select(col("id_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val tc = triangleCounts(e, "id")
    deg.join(tc, Seq("id"), "left_outer")
      .select(
        col("id").as(idCol),
        col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2L,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double")
            / (col("degree") * (col("degree") - 1L)).cast("double"), 6))
          .otherwise(lit(0.0)).as("lcc"))
  }
}
