package graft

import graft.functions.PortableHash
import graft.pipeline.Similarity

/**
 * DuckDB SQL generators for the signature-pipeline correctness oracles.
 *
 * Every dedup/similarity operator is deterministic modular or IEEE-double
 * arithmetic over portable hashes ([[graft.functions.PortableHash]]) and
 * sequential-fold dot products — so the ENTIRE pipeline (shingle → minhash →
 * band buckets → verify; hyperplane signs → buckets → cosine verify; IVF
 * seed → Lloyd mean → probe → top-k) can be replayed in DuckDB and
 * hash-compared against the Spark result. The SQL is generated from the
 * same Scala parameter arrays the operators use (permutation params,
 * hyperplanes), so the two sides cannot drift.
 *
 * Cross-engine float parity notes:
 *  - dot products are explicit left folds (`list_reduce` with a prepended
 *    0.0 seed) — same operation order as the Spark kernels, so the doubles
 *    are bit-identical, and sign tests / argmaxes agree exactly;
 *  - Lloyd means are rounded to 6 dp before the float cast on both sides,
 *    absorbing partial-aggregation-order noise;
 *  - both engines round half away from zero for the reported 3-4 dp values.
 */
object OracleGen {

  private val P = PortableHash.P31

  /** per-word portable polynomial hash as a SQL lambda body over `v`. */
  private def wordPolySql(v: String, base: Long, seed: Long): String =
    s"list_reduce(list_prepend($seed::BIGINT, list_transform(range(1, length($v)+1), ci -> ascii(substr($v, ci::INT, 1))::BIGINT)), (a,b) -> (a*$base + b) % $P)"

  /** CTEs `w$sfx` (word hashes) and `s$sfx` (sorted distinct k-shingle
    * hashes) over `rel` — mirrors [[graft.functions.PortableHash.shingleSet]].
    * `sfx` disambiguates when one query shingles two relations (tx_mix). */
  private def shingleCtes(k: Int, rel: String = "documents", sfx: String = ""): String = {
    val window = (0 until k).map(j => s"wh[(i+$j)::INT]*${PortableHash.WindowBase * (j + 1)}").mkString(" + ")
    s"""w$sfx AS (SELECT doc_id, list_transform(string_split(text, ' '), wd -> ${wordPolySql("wd", 131L, 7L)}) AS wh FROM $rel),
       |s$sfx AS (SELECT doc_id, list_sort(list_distinct(CASE WHEN len(wh) >= $k
       |  THEN list_transform(range(1, len(wh)-${k - 2}), i -> $window)
       |  ELSE [list_reduce(list_prepend(0::BIGINT, wh), (a,b) -> (a*31 + b) % ${PortableHash.FallbackMod})] END)) AS sh FROM w$sfx)""".stripMargin
  }

  /** exact Jaccard of two sorted distinct shingle-hash lists. */
  private def jaccardSql(a: String, b: String): String =
    s"round(len(list_intersect($a, $b))*1.0 / (len($a) + len($b) - len(list_intersect($a, $b))), 4)"

  /** mirror of [[Dedup.ngramJaccardPairs]] with metadata blocking. */
  def ngramMetaPairsSql(threshold: Double, k: Int, blockCols: Seq[String]): String = {
    val blockEq = blockCols.map(c => s"da.$c = db.$c").mkString(" AND ")
    s"""WITH ${shingleCtes(k)},
       |p AS (SELECT da.doc_id AS id_a, db.doc_id AS id_b, ${jaccardSql("sa.sh", "sb.sh")} AS jaccard
       |      FROM documents da JOIN documents db ON $blockEq AND da.doc_id < db.doc_id
       |      JOIN s sa ON sa.doc_id = da.doc_id JOIN s sb ON sb.doc_id = db.doc_id)
       |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Dedup.minhashLshPairs]]: signature, band buckets (capped),
    * candidate pairs, exact-Jaccard verify. */
  /** the CTE chain `params … v` producing verified minhash candidate pairs
    * with their jaccard — shared by the pairs, gate, and clusters oracles. */
  private def minhashPairCtes(
      numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int,
      rel: String = "documents", sfx: String = ""): String = {
    require(numHashes % bands == 0)
    val rows  = numHashes / bands
    val perms = PortableHash.minhashPerms(numHashes)
    val asl   = perms.map(_._1).mkString("[", ",", "]")
    val bsl   = perms.map(_._2).mkString("[", ",", "]")
    s"""params$sfx AS (SELECT $asl::BIGINT[] AS asl, $bsl::BIGINT[] AS bsl),
       |${shingleCtes(shingleK, rel, sfx)},
       |g$sfx AS (SELECT doc_id, sh, list_transform(range(1, ${numHashes + 1}),
       |        j -> list_min(list_transform(sh, h -> ((h % $P) * asl[j::INT] + bsl[j::INT]) % $P))) AS sig
       |      FROM s$sfx CROSS JOIN params$sfx),
       |bd$sfx AS (SELECT doc_id, band, list_aggregate(sig[(band*$rows+1):(band*$rows+$rows)], 'string_agg', ',') AS bucket
       |       FROM g$sfx, (SELECT unnest(range(0, $bands)) AS band) bs),
       |ok$sfx AS (SELECT band, bucket FROM bd$sfx GROUP BY band, bucket HAVING count(*) <= $maxBucket),
       |bd2$sfx AS (SELECT bd$sfx.* FROM bd$sfx JOIN ok$sfx USING (band, bucket)),
       |cand$sfx AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bd2$sfx a JOIN bd2$sfx b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |v$sfx AS (SELECT id_a, id_b, ${jaccardSql("sa.sh", "sb.sh")} AS jaccard
       |      FROM cand$sfx JOIN s$sfx sa ON sa.doc_id = cand$sfx.id_a JOIN s$sfx sb ON sb.doc_id = cand$sfx.id_b)""".stripMargin
  }

  def minhashPairsSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)}
       |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= $threshold ORDER BY id_a, id_b"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.similarityHistogram]]: 0.1-wide jaccard bins over
    * the open (threshold-free) verified candidate set. Both engines floor
    * the SAME 4-dp-snapped jaccard, so the binning is bit-identical. */
  def similarityHistogramSql(numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)}
       |SELECT least(floor(jaccard * 10), 9)::BIGINT AS sim_bin, count(*)::BIGINT AS n_pairs
       |FROM v GROUP BY 1 ORDER BY 1""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.noveltyScores]]: shingle document frequencies,
    * per-doc shared-fraction complement, 4-dp snap on the single divide. */
  def noveltyScoresSql(shingleK: Int): String =
    s"""WITH ${shingleCtes(shingleK)},
       |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
       |f AS (SELECT h, count(*)::BIGINT AS docs FROM e GROUP BY h)
       |SELECT doc_id, count(*)::BIGINT AS n_shingles,
       |  sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END)::BIGINT AS shared_shingles,
       |  round(1.0 - sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE, 4) AS novelty
       |FROM e JOIN f USING (h) GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.minhashErrorReport]]: signature-agreement estimate
    * vs exact jaccard per candidate pair, both 4-dp snapped before the
    * error subtraction. */
  def minhashErrorReportSql(numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |er AS (SELECT id_a, id_b,
       |  round(len(list_filter(range(1, ${numHashes + 1}), i -> ga.sig[i::INT] = gb.sig[i::INT]))::DOUBLE / $numHashes, 4) AS est_jaccard,
       |  round(jaccard, 4) AS jaccard
       |  FROM v JOIN g ga ON ga.doc_id = v.id_a JOIN g gb ON gb.doc_id = v.id_b)
       |SELECT id_a, id_b, est_jaccard, jaccard, round(abs(est_jaccard - jaccard), 4) AS abs_err
       |FROM er ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.segmentDedup]]: non-overlapping `segWords`-word
    * segments, boilerplate = exact segment content in >= `minDocs` distinct
    * docs, per-doc reassembly of survivors in segment order. The compare is
    * on segment TEXT here where Spark anti-joins on md5(text) — identical
    * results absent an md5 collision. */
  def segmentDedupSql(segWords: Int, minDocs: Int): String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |u AS (SELECT doc_id, ws, unnest(range(0, len(ws), $segWords)) AS st FROM t),
       |s AS (SELECT doc_id, (st // $segWords)::BIGINT AS seg_idx,
       |  array_to_string(list_slice(ws, (st+1)::INT, (st+$segWords)::INT), ' ') AS seg FROM u),
       |b AS (SELECT seg FROM s GROUP BY seg HAVING count(DISTINCT doc_id) >= $minDocs),
       |k AS (SELECT s.* FROM s ANTI JOIN b USING (seg)),
       |p AS (SELECT doc_id, count(*)::BIGINT AS n_segments FROM s GROUP BY doc_id),
       |r AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text,
       |  count(*)::BIGINT AS n_kept FROM k GROUP BY doc_id)
       |SELECT p.doc_id, coalesce(r.clean_text, '') AS clean_text, p.n_segments,
       |  (p.n_segments - coalesce(r.n_kept, 0))::BIGINT AS n_removed
       |FROM p LEFT JOIN r USING (doc_id) ORDER BY p.doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.containmentPairs]]: capped shingle inverted index,
    * per-pair match count as the intersect size, asymmetric containment in
    * both directions. Threshold compares the UNROUNDED ratios, exactly
    * like the Spark side. */
  def containmentPairsSql(threshold: Double, shingleK: Int, minShared: Long, maxBucket: Int): String =
    s"""WITH ${shingleCtes(shingleK)},
       |e AS (SELECT doc_id, unnest(sh) AS h FROM s),
       |ok AS (SELECT h FROM e GROUP BY h HAVING count(*) <= $maxBucket),
       |e2 AS (SELECT e.* FROM e JOIN ok USING (h)),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::DOUBLE AS shared
       |      FROM e2 a JOIN e2 b ON a.h = b.h AND a.doc_id < b.doc_id
       |      GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT id_a, id_b, round(shared/len(sa.sh), 4) AS contain_a, round(shared/len(sb.sh), 4) AS contain_b
       |FROM p JOIN s sa ON sa.doc_id = p.id_a JOIN s sb ON sb.doc_id = p.id_b
       |WHERE greatest(shared/len(sa.sh), shared/len(sb.sh)) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.editDistancePairs]]: the same LSH candidate CTEs,
    * verified with DuckDB's independent `levenshtein` over the raw texts
    * (the jaccard-verify CTE `v` goes unused and is pruned by the
    * planner). */
  def levPairsSql(maxDist: Int, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)}
       |SELECT id_a, id_b, levenshtein(da.text, db.text)::BIGINT AS edit_dist,
       |  round(1.0 - levenshtein(da.text, db.text)*1.0 / greatest(length(da.text), length(db.text)), 4) AS sim
       |FROM cand JOIN documents da ON da.doc_id = cand.id_a JOIN documents db ON db.doc_id = cand.id_b
       |WHERE levenshtein(da.text, db.text) <= $maxDist ORDER BY id_a, id_b"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.duplicateClusters]]: connected components over the
    * verified near-dup pair graph via recursive min-label propagation —
    * the closed form of the iterative Spark loop. */
  /** recursive min-label closure over the minhash pair graph: `reps(id,
    * rep)` — shared by the clusters, histogram and per-source report
    * oracles. */
  /** recursive min-label CC closure over the `e` edge relation — the ONE
    * source of the d_cc labeling, shared by [[ccLabelCtes]] / [[ariSql]]. */
  private def ccClosureCtes: String =
    s"""lab(id, l) AS (
       |  SELECT DISTINCT src, src FROM e
       |  UNION
       |  SELECT e.dst, lab.l FROM lab JOIN e ON e.src = lab.id),
       |reps AS (SELECT id, min(l) AS rep FROM lab GROUP BY id)""".stripMargin

  /** the LPA synchronous-round CTEs `l1..l$rounds` over `e` — the ONE
    * source of the d_labelprop rounds, shared by [[lpCtes]] / [[ariSql]]. */
  private def lpaRoundCtes(rounds: Int): String =
    (1 to rounds).map { t =>
      s"""l$t AS (SELECT id, lbl FROM (
         |  SELECT e.dst AS id, lp.lbl,
         |         row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, lp.lbl) AS rn
         |  FROM e JOIN l${t - 1} lp ON lp.id = e.src GROUP BY e.dst, lp.lbl) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")

  private def ccLabelCtes(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |$ccClosureCtes""".stripMargin

  def ccClustersSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${ccLabelCtes(threshold, numHashes, bands, shingleK, maxBucket)}
       |SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
       |FROM documents d LEFT JOIN reps r ON r.id = d.doc_id ORDER BY d.doc_id"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.duplicatedNgramRate]]: per-doc-distinct shingle
    * hashes exploded, doc-frequency counted per (source, gram), then the
    * per-source posting/distinct rollup and the 6-dp dup rate. */
  def dupNgramRateSql(k: Int): String =
    s"""WITH ${shingleCtes(k)},
       |eg AS (SELECT d.source, unnest(s.sh) AS g FROM s JOIN documents d USING (doc_id)),
       |cg AS (SELECT source, g, count(*)::BIGINT AS c FROM eg GROUP BY 1, 2)
       |SELECT source, sum(c)::BIGINT AS n_postings, count(*)::BIGINT AS n_distinct,
       |  round(sum(c - 1)::DOUBLE / sum(c)::DOUBLE, 6) AS dup_rate
       |FROM cg GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.componentWeights]]: the CC labeling (singletons
    * self-labeled), component sizes, and the 6-dp `1/size` weight. */
  def componentWeightsSql(threshold: Double, numHashes: Int, bands: Int,
                          shingleK: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${ccLabelCtes(threshold, numHashes, bands, shingleK, maxBucket)},
       |cl AS (SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep
       |       FROM documents d LEFT JOIN reps r ON r.id = d.doc_id),
       |sz AS (SELECT rep, count(*)::BIGINT AS cluster_size FROM cl GROUP BY rep)
       |SELECT cl.doc_id, cl.rep, sz.cluster_size,
       |  round(1.0 / cluster_size::DOUBLE, 6) AS weight
       |FROM cl JOIN sz USING (rep) ORDER BY cl.doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.dedupReport]]: per-source doc counts, non-representative
    * counts, and the 4-dp duplicate rate over the CC labeling. */
  def dedupReportSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH RECURSIVE ${ccLabelCtes(threshold, numHashes, bands, shingleK, maxBucket)},
       |cl AS (SELECT d.doc_id, d.source, coalesce(r.rep, d.doc_id) AS rep
       |       FROM documents d LEFT JOIN reps r ON r.id = d.doc_id)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN doc_id = rep THEN 0 ELSE 1 END)::BIGINT AS n_dups,
       |  round(sum(CASE WHEN doc_id = rep THEN 0 ELSE 1 END)::DOUBLE / count(*)::DOUBLE, 4) AS dup_rate
       |FROM cl GROUP BY source ORDER BY source""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.crossSourceDuplicates]]: distinct mined pairs,
    * each side resolves its source, least/greatest collapse the pair. */
  def crossSourceDuplicatesSql(threshold: Double, numHashes: Int, bands: Int,
                               shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |pp AS (SELECT DISTINCT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |j AS (SELECT least(sa.source, sb.source) AS source_a, greatest(sa.source, sb.source) AS source_b
       |      FROM pp JOIN documents sa ON pp.id_a = sa.doc_id
       |              JOIN documents sb ON pp.id_b = sb.doc_id)
       |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.cdcOverlapPairs]]: positional word hashes,
    * content-defined boundary positions (sorted-distinct, final word
    * appended), per-span polynomial fold, distinct per-doc chunk set,
    * capped self-join counting shared chunks. */
  def cdcPairsSql(divisor: Int, minWords: Int, minShared: Long, maxBucket: Int): String =
    s"""WITH w AS (SELECT doc_id, list_transform(string_split(text, ' '),
       |       wd -> ${wordPolySql("wd", 131L, 7L)}) AS wh FROM documents),
       |e AS (SELECT doc_id, wh, list_sort(list_distinct(list_append(
       |       list_filter(range(1, len(wh) + 1), i -> wh[i] % $divisor = 0), len(wh)))) AS ends FROM w),
       |c AS (SELECT doc_id, wh, unnest(list_transform(ends, (en, j) ->
       |       {'s': CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END, 'e': en})) AS se FROM e),
       |h AS (SELECT doc_id,
       |       list_reduce(list_prepend(CAST(7 AS BIGINT), wh[se.s : se.e]),
       |         (a, b) -> (a * 131 + b) % $P) AS chunk_hash,
       |       se.e - se.s + 1 AS n_words FROM c),
       |d2 AS (SELECT DISTINCT doc_id, chunk_hash FROM h WHERE n_words >= $minWords),
       |ok AS (SELECT chunk_hash FROM d2 GROUP BY 1 HAVING count(*) <= $maxBucket),
       |d3 AS (SELECT d2.* FROM d2 JOIN ok USING (chunk_hash))
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |FROM d3 a JOIN d3 b ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= $minShared ORDER BY 1, 2"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.pageRank]] over the minhash
    * near-dup pair graph: the iterative Spark loop unrolls into one CTE
    * per round (`r0 … rN`), each snapping to the same 6 dp the Spark side
    * does, so the recurrence inputs stay engine-identical. The `1-d` base
    * interpolates from the SAME Scala double the Spark side uses (17 sig
    * digits forces DuckDB to parse it as DOUBLE, not DECIMAL). */
  /** CTEs `tri` enumerating triangles `a<b<c` over the thresholded minhash
    * pair graph — shared by the triangles and per-doc-count oracles. */
  private def triangleCtes(threshold: Double, numHashes: Int, bands: Int,
                           shingleK: Int, maxBucket: Int): String =
    s"""${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS (SELECT DISTINCT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |tri AS (SELECT ab.id_a AS a, ab.id_b AS b, bc.id_b AS c
       |  FROM p ab JOIN p bc ON ab.id_b = bc.id_a
       |  JOIN p ac ON ac.id_a = ab.id_a AND ac.id_b = bc.id_b)""".stripMargin

  /** mirror of [[graft.operators.Graph.triangles]]. */
  def trianglesSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${triangleCtes(threshold, numHashes, bands, shingleK, maxBucket)}
       |SELECT a, b, c FROM tri ORDER BY a, b, c""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.triangleCounts]]. */
  def triangleCountsSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${triangleCtes(threshold, numHashes, bands, shingleK, maxBucket)},
       |m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
       |SELECT id AS doc_id, count(*)::BIGINT AS n_triangles
       |FROM m GROUP BY id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.adamicAdar]]: symmetrized adjacency,
    * integer degrees, wedge join on the shared neighbor, existing edges
    * anti-joined out, and the per-pair 1/ln(deg) fold over the common
    * neighbors sorted ascending by id — the engine's exact IEEE order. */
  /** the [[graft.operators.Graph.adamicAdar]] chain over an `aae`
    * edge CTE (columns id_a, id_b): symmetrized adjacency, integer
    * degrees, wedge join, existing-edge exclusion, value-sorted 1/ln fold
    * (graft_fold_sum's ascending-value kernel order). */
  private def adamicAdarChain(topK: Int): String =
    s"""aac AS (SELECT DISTINCT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b
       |      FROM aae WHERE id_a <> id_b),
       |aaj AS (SELECT id_a AS id, id_b AS nb FROM aac UNION ALL SELECT id_b, id_a FROM aac),
       |aad AS (SELECT id, count(*)::BIGINT AS d FROM aaj GROUP BY id),
       |aaw AS (SELECT x.id AS id_a, y.id AS id_b, x.nb AS via
       |      FROM aaj x JOIN aaj y ON x.nb = y.nb AND x.id < y.id
       |      WHERE NOT EXISTS (SELECT 1 FROM aac WHERE aac.id_a = x.id AND aac.id_b = y.id)),
       |aas AS (SELECT aaw.id_a, aaw.id_b, count(*)::BIGINT AS n_common,
       |        round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |          list_sort(list(1.0 / ln(dg.d)))),
       |          (a, b) -> a + b), 6) AS aa
       |      FROM aaw JOIN aad dg ON dg.id = aaw.via GROUP BY aaw.id_a, aaw.id_b)
       |SELECT id_a, id_b, n_common, aa FROM aas
       |ORDER BY aa DESC, id_a, id_b LIMIT $topK""".stripMargin

  def adamicAdarSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                    maxBucket: Int, topK: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |aae AS (SELECT DISTINCT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |${adamicAdarChain(topK)}""".stripMargin.replace("\n", " ")

  /** [[adamicAdarSql]] over the CO-PURCHASE part graph (edges = part
    * pairs ordered together in ≥ `minSupport` orders). */
  def adamicAdarBasketSql(minSupport: Long, topK: Int): String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |aae AS (SELECT a.pk AS id_a, b.pk AS id_b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |        GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |${adamicAdarChain(topK)}""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.personalizedPageRank]] over the
    * basket pair graph, SINGLE seed = the smallest id_a in the mined pairs
    * (teleport mass 1.0): the same unrolled iterations as [[pageRankSql]]
    * with the base term `(1−d)·p` instead of `(1−d)`. */
  def personalizedPageRankBasketSql(minSupport: Long, iterations: Int,
                                    damping: Double, topK: Int): String = {
    val base = s"${1.0 - damping}"
    val iterCtes = (1 to iterations).map { t =>
      s"""r$t AS MATERIALIZED (SELECT n.id, round($base * n.p + $damping * coalesce(s.c, 0), 6) AS r
         |  FROM n LEFT JOIN (SELECT e.dst,
         |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list_sort(list(rr.r / deg.deg))), (a, b) -> a + b) AS c
         |    FROM e JOIN r${t - 1} rr ON rr.id = e.src JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) s ON s.dst = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pp AS MATERIALIZED (SELECT a.pk AS id_a, b.pk AS id_b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |      GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pp UNION ALL SELECT id_b, id_a FROM pp),
       |deg AS MATERIALIZED (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |n AS MATERIALIZED (SELECT id,
       |      CASE WHEN id = (SELECT min(id_a) FROM pp) THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS p
       |      FROM (SELECT DISTINCT src AS id FROM e)),
       |r0 AS (SELECT id, round(p, 6) AS r FROM n),
       |$iterCtes
       |SELECT id, r AS rank FROM r$iterations
       |ORDER BY r DESC, id LIMIT $topK""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Graph.bfsHops]] over the basket pair
    * graph, seed = the smallest id_a in the mined pairs: the same
    * `maxHops` unrolled frontier expansions, each round a DISTINCT
    * neighbor join minus everything already visited. */
  def bfsHopsBasketSql(minSupport: Long, maxHops: Int): String = {
    val rounds = (1 to maxHops).map { h =>
      s"""f$h AS MATERIALIZED (SELECT DISTINCT e.dst AS id, $h::BIGINT AS hop
         |  FROM e JOIN v${h - 1} v ON e.src = v.id AND v.hop = ${h - 1}
         |  WHERE e.dst NOT IN (SELECT id FROM v${h - 1})),
         |v$h AS MATERIALIZED (SELECT id, hop FROM v${h - 1} UNION ALL SELECT id, hop FROM f$h)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |pp AS MATERIALIZED (SELECT a.pk AS id_a, b.pk AS id_b FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |      GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pp UNION ALL SELECT id_b, id_a FROM pp),
       |v0 AS (SELECT (SELECT min(id_a) FROM pp) AS id, 0::BIGINT AS hop),
       |$rounds
       |SELECT id, hop FROM v$maxHops ORDER BY hop, id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Graph.kCore]]: the same FIXED round count
    * unrolled as CTEs — round t keeps nodes with ≥ k neighbors in round
    * t−1's survivor set; the tail re-derives degree within the final set. */
  def kCoreSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
               maxBucket: Int, k: Int, rounds: Int): String = {
    // MATERIALIZED: DuckDB inlines plain CTEs per reference; each round
    // references the previous twice, so without the hint the (expensive)
    // minhash chain would replicate 2^rounds times and never finish
    val roundCtes = (1 to rounds).map { t =>
      s"""c$t AS MATERIALIZED (SELECT src AS id FROM (SELECT e.src, count(*) AS c FROM e
         |  JOIN c${t - 1} a ON e.src = a.id JOIN c${t - 1} b ON e.dst = b.id
         |  GROUP BY e.src) WHERE c >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |pp AS MATERIALIZED (SELECT DISTINCT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pp UNION ALL SELECT id_b, id_a FROM pp),
       |c0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e),
       |$roundCtes
       |SELECT e.src AS doc_id, count(*)::BIGINT AS core_degree
       |FROM e JOIN c$rounds a ON e.src = a.id JOIN c$rounds b ON e.dst = b.id
       |GROUP BY e.src ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Graph.degreeAssortativity]] over the
    * mined near-dup pair graph: exact HUGEINT moment sums (the engine's
    * decimal(38,0)), one double division, 6-dp snap. */
  def degreeAssortativitySql(threshold: Double, numHashes: Int, bands: Int,
                             shingleK: Int, maxBucket: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |pp AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM v WHERE jaccard >= $threshold AND id_a <> id_b),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM pp UNION ALL SELECT b, a FROM pp),
       |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS d FROM e GROUP BY src),
       |das_ends AS (SELECT dx.d AS dx, dy.d AS dy
       |      FROM e JOIN deg dx ON dx.src = e.src JOIN deg dy ON dy.src = e.dst),
       |das_m AS (SELECT count(*)::BIGINT AS m, sum(dx::HUGEINT) AS sx,
       |      sum((dx * dy)::HUGEINT) AS sxy, sum((dx * dx)::HUGEINT) AS sxx FROM das_ends)
       |SELECT m AS m_ends,
       |  CASE WHEN m::HUGEINT * sxx - sx * sx <> 0 THEN
       |    round((m::HUGEINT * sxy - sx * sx)::DOUBLE /
       |          (m::HUGEINT * sxx - sx * sx)::DOUBLE, 6) END AS assortativity
       |FROM das_m""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.kTruss]]: the identical fixed-round
    * edge peel — per round, wedge-join support restricted to surviving
    * edges, keep `support >= k-2`; output = the LAST round's filtered
    * support list. MATERIALIZED per round (each referenced twice). */
  def kTrussSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                maxBucket: Int, k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""adj$t AS MATERIALIZED (SELECT a AS id, b AS nb FROM e${t - 1}
         |      UNION ALL SELECT b, a FROM e${t - 1}),
         |s$t AS MATERIALIZED (SELECT x.id AS a, y.id AS b, count(*)::BIGINT AS c
         |      FROM adj$t x JOIN adj$t y ON x.nb = y.nb AND x.id < y.id
         |      WHERE EXISTS (SELECT 1 FROM e${t - 1} ee WHERE ee.a = x.id AND ee.b = y.id)
         |      GROUP BY 1, 2),
         |e$t AS MATERIALIZED (SELECT a, b FROM s$t WHERE c >= ${k - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |e0 AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
       |      FROM v WHERE jaccard >= $threshold AND id_a <> id_b),
       |$roundCtes
       |SELECT a AS id_a, b AS id_b, c AS support FROM s$rounds WHERE c >= ${k - 2}
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Graph.localClusteringCoefficient]]. */
  def lccSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int): String =
    s"""WITH ${triangleCtes(threshold, numHashes, bands, shingleK, maxBucket)},
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT src AS id, count(*)::BIGINT AS degree FROM e GROUP BY src),
       |m AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
       |tc AS (SELECT id, count(*)::BIGINT AS n_triangles FROM m GROUP BY id)
       |SELECT deg.id AS doc_id, degree, coalesce(n_triangles, 0)::BIGINT AS n_triangles,
       |  CASE WHEN degree >= 2 THEN round(2.0 * coalesce(n_triangles, 0)::DOUBLE
       |    / (degree * (degree - 1))::DOUBLE, 6) ELSE 0.0 END AS lcc
       |FROM deg LEFT JOIN tc ON deg.id = tc.id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  def pageRankSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                  maxBucket: Int, iterations: Int, damping: Double): String = {
    val base = s"${1.0 - damping}"
    val iterCtes = (1 to iterations).map { t =>
      s"""r$t AS (SELECT n.doc_id, round($base + $damping * coalesce(s.c, 0), 6) AS r
         |  FROM n LEFT JOIN (SELECT e.dst, sum(rr.r / deg.deg) AS c
         |    FROM e JOIN r${t - 1} rr ON rr.doc_id = e.src JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) s ON s.dst = n.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |n AS (SELECT doc_id FROM documents),
       |r0 AS (SELECT doc_id, 1.0::DOUBLE AS r FROM n),
       |$iterCtes
       |SELECT doc_id, r AS rank FROM r$iterations ORDER BY doc_id"""
      .stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Graph.hits]]: mined pairs directed
    * `id_b → id_a`, `rounds` synchronous hub/authority updates with the
    * order-free ∞-norm normalization, each half-round snapped to 6 dp
    * (the same noise-kill as [[pageRankSql]]'s per-iteration round). */
  def hitsSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
              maxBucket: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { t =>
      s"""ar$t AS MATERIALIZED (SELECT e.dst AS id, sum(h.h) AS ar
         |  FROM e JOIN h${t - 1} h ON h.id = e.src GROUP BY e.dst),
         |a$t AS MATERIALIZED (SELECT id, round(ar / (SELECT max(ar) FROM ar$t), 6) AS a FROM ar$t),
         |hr$t AS MATERIALIZED (SELECT e.src AS id, sum(a.a) AS hr
         |  FROM e JOIN a$t a ON a.id = e.dst GROUP BY e.src),
         |h$t AS MATERIALIZED (SELECT id, round(hr / (SELECT max(hr) FROM hr$t), 6) AS h FROM hr$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS MATERIALIZED (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS MATERIALIZED (SELECT id_b AS src, id_a AS dst FROM p),
       |h0 AS MATERIALIZED (SELECT DISTINCT id, 1.0::DOUBLE AS h
       |  FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |$roundCtes
       |SELECT d.doc_id, coalesce(h.h, 0.0) AS hub, coalesce(a.a, 0.0) AS authority
       |FROM documents d LEFT JOIN h$rounds h ON h.id = d.doc_id
       |LEFT JOIN a$rounds a ON a.id = d.doc_id ORDER BY d.doc_id"""
      .stripMargin.replace("\n", " ")
  }

  /** shared LPA CTE chain (mined pairs `p`, undirected edges `e`,
    * synchronous rounds `l1..l$rounds`, full labeling `lab(id, c)` with
    * singleton fallbacks) — base of [[labelPropagationSql]] /
    * [[modularitySql]]. */
  private def lpCtes(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                     maxBucket: Int, rounds: Int): String =
    s"""${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       |${lpaRoundCtes(rounds)},
       |lab AS (SELECT d.doc_id AS id, coalesce(ll.lbl, d.doc_id) AS c
       |        FROM documents d LEFT JOIN l$rounds ll ON ll.id = d.doc_id)""".stripMargin

  /** mirror of [[graft.operators.Graph.labelPropagation]] over the mined
    * near-dup pair graph: `rounds` synchronous rounds of "adopt the most
    * frequent neighbor label, ties to the smallest label"; docs in no
    * pair are their own singleton community. */
  def labelPropagationSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                          maxBucket: Int, rounds: Int): String =
    s"""WITH ${lpCtes(threshold, numHashes, bands, shingleK, maxBucket, rounds)}
       |SELECT id AS doc_id, c AS community FROM lab ORDER BY id"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.modularity]] over the
    * [[labelPropagationSql]] labeling of the mined pair graph. */
  def modularitySql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                    maxBucket: Int, rounds: Int): String =
    s"""WITH ${lpCtes(threshold, numHashes, bands, shingleK, maxBucket, rounds)},
       |mm AS (SELECT count(*)::BIGINT AS m FROM p),
       |inte AS (SELECT la.c AS community, count(*)::BIGINT AS l_in
       |         FROM p JOIN lab la ON la.id = p.id_a JOIN lab lb ON lb.id = p.id_b
       |         WHERE la.c = lb.c GROUP BY la.c),
       |dg AS (SELECT src, count(*)::BIGINT AS dgr FROM e GROUP BY src),
       |cd AS (SELECT la.c AS community, sum(dg.dgr)::BIGINT AS d_sum
       |       FROM dg JOIN lab la ON la.id = dg.src GROUP BY la.c),
       |nc AS (SELECT c AS community, count(*)::BIGINT AS n_nodes FROM lab GROUP BY c)
       |SELECT nc.community, nc.n_nodes,
       |  coalesce(inte.l_in, 0)::BIGINT AS l_in,
       |  coalesce(cd.d_sum, 0)::BIGINT AS d_sum,
       |  CASE WHEN mm.m = 0 THEN 0.0::DOUBLE ELSE
       |    round(coalesce(inte.l_in, 0)::DOUBLE / mm.m::DOUBLE -
       |      (coalesce(cd.d_sum, 0)::DOUBLE / (2.0 * mm.m::DOUBLE)) *
       |      (coalesce(cd.d_sum, 0)::DOUBLE / (2.0 * mm.m::DOUBLE)), 6) END AS contrib
       |FROM nc LEFT JOIN inte ON inte.community = nc.community
       |        LEFT JOIN cd ON cd.community = nc.community
       |        CROSS JOIN mm
       |ORDER BY nc.community""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Sampling.domainReweight]]: per-lang mean
    * quality deficit from exact 4-dp-lattice integer sums, then `rounds`
    * linearized multiplicative-weights steps over the lang-ordered weight
    * list — every fold list_reduce's the same sorted order the driver
    * loop uses, so each IEEE intermediate is bit-identical. */
  def domainReweightSql(rounds: Int, lr: Double, smoothing: Double): String = {
    val sw    = "['the','a','of','and','to','in','is','on','for','it']"
    val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
    val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
    val qual  = s"round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4)"
    val roundCtes = (1 to rounds).map { t =>
      s"""m$t AS (SELECT *, list_reduce(list_prepend(0.0::DOUBLE,
         |          list_transform(range(1, d + 1), i -> ws[i::INT] * ls[i::INT])), (a, b) -> a + b) AS m FROM w${t - 1}),
         |u$t AS (SELECT langs, ns, ls, d, list_transform(range(1, d + 1),
         |          i -> ws[i::INT] * (1.0::DOUBLE + $lr::DOUBLE * (ls[i::INT] - m))) AS ws FROM m$t),
         |s$t AS (SELECT *, list_reduce(list_prepend(0.0::DOUBLE, ws), (a, b) -> a + b) AS sw FROM u$t),
         |w$t AS (SELECT langs, ns, ls, d, list_transform(ws, x -> x / sw) AS ws FROM s$t)""".stripMargin
    }.mkString(",\n")
    // rounds = 0 is legal on the Spark side (smoothed uniform): emit no
    // round CTEs and read straight from w0
    val roundBlock = if (rounds == 0) "" else ",\n" + roundCtes
    s"""WITH q AS (SELECT lang, CAST(round($qual * 10000) AS BIGINT) AS qi
       |           FROM (SELECT lang, text, string_split(text, ' ') AS ws FROM documents)
       |           WHERE lang IS NOT NULL),
       |a AS (SELECT lang, count(*)::BIGINT AS n, sum(qi)::BIGINT AS s FROM q GROUP BY lang),
       |l AS (SELECT lang, n, 1.0::DOUBLE - s::DOUBLE / (10000.0::DOUBLE * n::DOUBLE) AS loss FROM a),
       |g AS (SELECT list(lang ORDER BY lang) AS langs, list(n ORDER BY lang) AS ns,
       |             list(loss ORDER BY lang) AS ls, count(*)::BIGINT AS d FROM l),
       |w0 AS (SELECT langs, ns, ls, d, list_transform(ls, x -> 1.0::DOUBLE / d) AS ws FROM g)$roundBlock
       |SELECT unnest(langs) AS domain, unnest(ns) AS n_docs, round(unnest(ls), 6) AS loss,
       |  round(unnest(list_transform(ws,
       |    x -> ${1.0 - smoothing}::DOUBLE * x + $smoothing::DOUBLE / d::DOUBLE)), 6) AS weight
       |FROM w$rounds ORDER BY domain""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Dedup.clusterSizeHistogram]] over the
    * [[ccClustersSql]] labeling. */
  def clusterHistogramSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                          maxBucket: Int): String =
    s"""SELECT cluster_size, count(*)::BIGINT AS n_clusters
       |FROM (SELECT rep, count(*)::BIGINT AS cluster_size
       |      FROM (${ccClustersSql(threshold, numHashes, bands, shingleK, maxBucket)})
       |      GROUP BY rep)
       |GROUP BY cluster_size ORDER BY cluster_size""".stripMargin.replace("\n", " ")

  /** shared CTE chain mirroring [[graft.pipeline.TextAnalysis.bpeTrain]]:
    * word histogram → char tokens → `merges` unrolled MATERIALIZED rounds
    * of (weighted adjacent-pair count, deterministic argmax, greedy
    * left-to-right list_reduce merge). Each round's vocab `v$r` carries the
    * word form `w`, so [[bpeEncodeSql]] can join the final tokenizations
    * back to the corpus; [[bpeTrainSql]] reads only the `tp$r` argmaxes. */
  // dry-round guard: a degenerate corpus can exhaust its mergeable pairs
  // before `merges` rounds — pr$r (and so tp$r) goes empty. The vocab
  // round joins LEFT ... ON TRUE, so an empty tp$r yields NULL l/r, every
  // fold comparison falls to the identity ELSE branch, and v$r = v$(r-1)
  // — exactly Spark bpeTrain's early stop, with the SAME final vocab.
  private def bpeCtes(merges: Int): String = {
    val rounds = (1 to merges).map { r =>
      s"""pr$r AS MATERIALIZED (SELECT toks[i::INT] AS l, toks[i::INT + 1] AS r, sum(cnt)::BIGINT AS n
         |  FROM (SELECT toks, cnt, unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM v${r - 1} WHERE len(toks) >= 2)
         |  GROUP BY 1, 2),
         |tp$r AS MATERIALIZED (SELECT l, r, n FROM pr$r ORDER BY n DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT w, list_reduce(list_transform(toks, t -> [t]),
         |    (a, b) -> CASE WHEN a[-1] = tp$r.l AND b[1] = tp$r.r
         |                     THEN list_append(a[1:len(a) - 1], tp$r.l || tp$r.r)
         |                   ELSE list_append(a, b[1]) END) AS toks, cnt
         |  FROM v${r - 1} LEFT JOIN tp$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""wh AS MATERIALIZED (SELECT w, count(*)::BIGINT AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1 GROUP BY w),
       |v0 AS MATERIALIZED (SELECT w, list_transform(generate_series(1, length(w)), i -> substring(w, i::INT, 1)) AS toks, cnt FROM wh),
       |$rounds""".stripMargin
  }

  /** mirror of [[graft.pipeline.TextAnalysis.bpeTrain]]: the learned merge
    * table, one row per unrolled round's argmax. */
  def bpeTrainSql(merges: Int): String = {
    val sel = (1 to merges)
      .map(r => s"SELECT $r::BIGINT AS step, l AS lhs, r AS rhs, n AS pair_count FROM tp$r")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeCtes(merges)}
       |SELECT * FROM ($sel) ORDER BY step""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.nbModel]]: per-(label, term)
    * token counts under the whitespace convention (empty tokens dropped),
    * top `topK` per label by count desc / term asc — all-integer. */
  def nbModelSql(topK: Int): String =
    s"""WITH tk AS (SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE length(term) >= 1),
       |cnt AS (SELECT d.lang, t.term, count(*)::BIGINT AS n
       |        FROM tk t JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |r AS (SELECT lang, term, n,
       |        row_number() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rank FROM cnt)
       |SELECT lang, term, n, rank::BIGINT AS rank FROM r WHERE rank <= $topK
       |ORDER BY lang, rank""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.nbConfusion]]: Laplace-1
    * multinomial NB self-prediction rolled to a confusion matrix, in the
    * engine's DECOMPOSED spelling — only non-zero (label, term) cells
    * fold (`tf·ln(c+1)`, ascending-sorted), and the smoothing denominator
    * enters once as `dl·ln(tot+V)`; prior, fold and length terms compose
    * left-to-right exactly as the engine writes them. Argmax ties break
    * by label asc on the unrounded score. */
  /** shared NB log-score CTE chain (ends at `sc(doc_id, lab, score)`) —
    * the decomposed spelling both [[nbConfusionSql]] and
    * [[nbMarginCalibSql]] rank over. */
  private val nbScoreCtes: String =
    s"""tk AS MATERIALIZED (SELECT doc_id, term FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
       |  WHERE length(term) >= 1),
       |cnt AS MATERIALIZED (SELECT d.lang AS lab, t.term, count(*)::BIGINT AS c
       |        FROM tk t JOIN documents d USING (doc_id) GROUP BY 1, 2),
       |tot AS (SELECT lab, sum(c)::BIGINT AS tot FROM cnt GROUP BY lab),
       |nd  AS (SELECT lang AS lab, count(*)::BIGINT AS nd FROM documents GROUP BY lang),
       |gl  AS (SELECT count(*)::BIGINT AS n FROM documents),
       |vv  AS (SELECT count(DISTINCT term)::BIGINT AS v FROM tk),
       |dtf AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk GROUP BY 1, 2),
       |hits AS (SELECT dtf.doc_id, c.lab, list_reduce(
       |           list_prepend(0.0::DOUBLE, list_sort(list(tf::DOUBLE * ln((c.c + 1)::DOUBLE)))),
       |           (a, b) -> a + b) AS fold
       |         FROM dtf JOIN cnt c ON c.term = dtf.term GROUP BY 1, 2),
       |dls AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM dtf GROUP BY doc_id),
       |sc AS (SELECT d.doc_id, l.lab,
       |         ln(nd.nd::DOUBLE) - ln(gl.n::DOUBLE) + COALESCE(h.fold, 0.0)
       |           - d.dl::DOUBLE * ln((l.tot + v)::DOUBLE) AS score
       |       FROM dls d CROSS JOIN tot l JOIN nd ON nd.lab = l.lab CROSS JOIN gl CROSS JOIN vv
       |       LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.lab = l.lab)""".stripMargin

  def nbConfusionSql: String =
    s"""WITH $nbScoreCtes,
       |pred AS (SELECT doc_id, lab AS pred,
       |           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lab) AS r FROM sc)
       |SELECT d.lang, p.pred, count(*)::BIGINT AS n
       |FROM pred p JOIN documents d USING (doc_id) WHERE p.r = 1
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.nbMarginCalibration]]: the
    * same score chain, top-2 rank per doc, identical-double margins
    * binned by `floor(margin / binWidth)` capped at `bins − 1`. */
  def nbMarginCalibSql(binWidth: Double, bins: Int): String =
    s"""WITH $nbScoreCtes,
       |rk AS (SELECT doc_id, lab, score,
       |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lab) AS r FROM sc),
       |mg AS (SELECT a.doc_id, a.lab AS pred,
       |         least(floor((a.score - b.score) / $binWidth), ${bins - 1})::BIGINT AS bin
       |       FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND a.r = 1 AND b.r = 2),
       |ag AS (SELECT m.bin, count(*)::BIGINT AS n_docs,
       |         sum(CASE WHEN m.pred = d.lang THEN 1 ELSE 0 END)::BIGINT AS n_correct
       |       FROM mg m JOIN documents d USING (doc_id) GROUP BY m.bin)
       |SELECT bin, round(bin::DOUBLE * $binWidth, 6) AS bin_lo, n_docs, n_correct,
       |  round(n_correct::DOUBLE / n_docs::DOUBLE, 6) AS accuracy
       |FROM ag ORDER BY bin""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.textRankKeywords]]: the
    * bounded co-occurrence graph (adjacent pairs, count-thresholded, top
    * `maxEdges` by count desc/pair asc), then [[pageRankSql]]'s unrolled
    * rounds — each snapping to the same 6 dp — over it. */
  def textRankSql(minCount: Long, maxEdges: Int, iterations: Int,
                  damping: Double, k: Int): String = {
    val base = s"${1.0 - damping}"
    val iterCtes = (1 to iterations).map { t =>
      s"""r$t AS (SELECT n.term, round($base + $damping * coalesce(s.c, 0), 6) AS r
         |  FROM n LEFT JOIN (SELECT e.dst, sum(rr.r / deg.deg) AS c
         |    FROM e JOIN r${t - 1} rr ON rr.term = e.src JOIN deg ON deg.src = e.src
         |    GROUP BY e.dst) s ON s.dst = n.term)""".stripMargin
    }.mkString(",\n")
    s"""WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
       |bg AS (SELECT least(x, y) AS lo, greatest(x, y) AS hi FROM (
       |    SELECT w[i::INT] AS x, w[(i + 1)::INT] AS y
       |    FROM ws, unnest(generate_series(1, len(w) - 1)) AS t(i)
       |    WHERE len(w) >= 2)
       |  WHERE length(x) >= 1 AND length(y) >= 1 AND x <> y),
       |eg AS MATERIALIZED (SELECT lo, hi FROM (
       |    SELECT lo, hi, count(*)::BIGINT AS n FROM bg GROUP BY 1, 2
       |    HAVING count(*) >= $minCount
       |    ORDER BY n DESC, lo || ' ' || hi LIMIT $maxEdges)),
       |e AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM eg UNION ALL SELECT hi, lo FROM eg),
       |deg AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY src),
       |n AS MATERIALIZED (SELECT DISTINCT src AS term FROM e),
       |r0 AS (SELECT term, 1.0::DOUBLE AS r FROM n),
       |$iterCtes,
       |top AS (SELECT term, r AS rank FROM r$iterations ORDER BY rank DESC, term LIMIT $k)
       |SELECT term, rank, row_number() OVER (ORDER BY rank DESC, term)::BIGINT AS pos
       |FROM top ORDER BY pos""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.readability]]: per-word
    * vowel-group syllables (min 1), terminal-punct sentence count (min 1),
    * one mirrored float expression at the end. The engine counts vowel
    * groups over the whole lowered text plus the vowel-less-word count;
    * the oracle sums `greatest(groups, 1)` per word — equal because vowel
    * runs cannot span the space separator. */
  def readabilitySql: String =
    s"""WITH w AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1),
       |s AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |        sum(greatest(length(regexp_replace(w, '[aeiouy]+', 'V', 'g'))
       |          - length(regexp_replace(w, '[aeiouy]+', '', 'g')), 1))::BIGINT AS n_syll
       |      FROM w GROUP BY doc_id),
       |d AS (SELECT doc_id,
       |        greatest(length(text) - length(regexp_replace(text, '[.!?]', '', 'g')), 1)::BIGINT AS n_sents
       |      FROM documents)
       |SELECT s.doc_id, s.n_words, d.n_sents, s.n_syll,
       |  round(206.835 - 1.015 * (s.n_words::DOUBLE / d.n_sents::DOUBLE)
       |    - 84.6 * (s.n_syll::DOUBLE / s.n_words::DOUBLE), 4) AS flesch
       |FROM s JOIN d USING (doc_id) ORDER BY s.doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.bpeEncode]] over a
    * freshly-trained merge table: the final round's vocab IS each word
    * form's tokenization after all merges (training applies each learned
    * merge to the vocab as it goes — exactly the sequence encode replays
    * from scratch), so per-document BPE token counts are one corpus word
    * explode joined to `len(v$merges.toks)`. */
  def bpeEncodeSql(merges: Int): String =
    s"""WITH ${bpeCtes(merges)},
       |wl AS MATERIALIZED (SELECT w, len(toks)::BIGINT AS wt FROM v$merges),
       |dw AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1)
       |SELECT doc_id, count(*)::BIGINT AS n_words, sum(wt)::BIGINT AS n_tokens
       |FROM dw JOIN wl USING (w) GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Dedup.winnowPairs]]: char-k-gram hashes
    * spelled as ONE flat polynomial per position (the fold's per-step mod
    * equals the sum mod, and powers reduce mod P up front so every term
    * stays in int64 — no nested lambdas, which DuckDB miscompiles across
    * groups), window minima via a position→window-start explode with the
    * rightmost-tie argmax join, then the capped distinct-fingerprint pair
    * count. */
  /** the winnowing selection CTE chain up to `fps(doc_id, fp)` DISTINCT —
    * shared by the pair miner and the ingest gate. */
  private def winnowFpCtes(k: Int, w: Int): String = {
    val P        = 2147483647L
    def pw(e: Int): Long = BigInt(31).pow(e).mod(BigInt(P)).toLong
    val seedTerm = (BigInt(7) * BigInt(31).pow(k)).mod(BigInt(P)).toLong
    // ::BIGINT before the multiply: ascii() is INT32 and DuckDB would
    // otherwise overflow INT32 on code·power before widening
    val terms = (0 until k).map(j => s"cs[(p + $j)::INT]::BIGINT * ${pw(k - 1 - j)}").mkString(" + ")
    s"""co AS MATERIALIZED (SELECT doc_id,
       |    list_transform(generate_series(1, length(text)), i -> ascii(substring(text, i::INT, 1))) AS cs,
       |    (length(text) - ${k - 1})::BIGINT AS g
       |  FROM documents WHERE length(text) >= $k),
       |hg AS MATERIALIZED (SELECT doc_id, g, p, ($seedTerm + $terms) % $P AS fp
       |  FROM co, unnest(generate_series(1, g)) AS t(p)),
       |win AS (SELECT doc_id, s, min(fp) AS mfp
       |  FROM hg, unnest(generate_series(greatest(p - ${w - 1}, 1), least(p, g - ${w - 1}))) AS t(s)
       |  GROUP BY doc_id, s),
       |pick AS (SELECT w.doc_id, w.s, w.mfp AS fp, max(h.p) AS pos
       |  FROM win w JOIN hg h ON h.doc_id = w.doc_id AND h.fp = w.mfp AND h.p BETWEEN w.s AND w.s + ${w - 1}
       |  GROUP BY 1, 2, 3),
       |fps AS MATERIALIZED (SELECT DISTINCT doc_id, fp FROM pick)""".stripMargin
  }

  def winnowPairsSql(
      k: Int = 8,
      w: Int = 4,
      minShared: Long = 2L,
      maxBucket: Int = 1000
  ): String =
    s"""WITH ${winnowFpCtes(k, w)},
       |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $maxBucket)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id JOIN ok ON ok.fp = a.fp
       |GROUP BY 1, 2 HAVING count(*) >= $minShared ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Dedup.winnowContainment]]: the pair select
    * joined back to the UNCAPPED per-doc fingerprint counts; the two
    * fractions are single rounded divisions of exact int64s. */
  def winnowContainmentSql(k: Int, w: Int, minShared: Long, maxBucket: Int): String =
    s"""WITH ${winnowFpCtes(k, w)},
       |cnt AS (SELECT doc_id, count(*)::BIGINT AS nfp FROM fps GROUP BY doc_id),
       |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= $maxBucket),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
       |      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id JOIN ok ON ok.fp = a.fp
       |      GROUP BY 1, 2 HAVING count(*) >= $minShared)
       |SELECT id_a, id_b, n_shared,
       |  round(n_shared::DOUBLE / ca.nfp::DOUBLE, 6) AS frac_a,
       |  round(n_shared::DOUBLE / cb.nfp::DOUBLE, 6) AS frac_b
       |FROM p JOIN cnt ca ON ca.doc_id = p.id_a JOIN cnt cb ON cb.doc_id = p.id_b
       |ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Dedup.winnowGateAgainstCorpus]] with the
    * corpus/batch mod split used by every gate oracle: the CORPUS side's
    * degenerate fingerprints cap before the join, a batch doc matching
    * `minShared`+ distinct corpus fps on ANY single corpus doc is
    * rejected, survivors pass through. */
  def winnowGateSql(k: Int, w: Int, minShared: Long, maxBucket: Int, mod: Int): String =
    s"""WITH ${winnowFpCtes(k, w)},
       |fc AS (SELECT * FROM fps WHERE doc_id % $mod <> 0),
       |fn AS (SELECT * FROM fps WHERE doc_id % $mod = 0),
       |ok AS (SELECT fp FROM fc GROUP BY fp HAVING count(*) <= $maxBucket),
       |fc2 AS (SELECT fc.* FROM fc JOIN ok USING (fp)),
       |m AS (SELECT DISTINCT n.doc_id FROM fn n JOIN fc2 c USING (fp)
       |      GROUP BY n.doc_id, c.doc_id HAVING count(*) >= $minShared)
       |SELECT doc_id FROM documents
       |WHERE doc_id % $mod = 0 AND doc_id NOT IN (SELECT doc_id FROM m)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of the per-language BPE fertility panel: [[bpeCtes]]' final
    * vocab joins the corpus word explode, doc token counts roll up by the
    * document's language — tokens-per-word is the ONE float division,
    * spelled identically on both engines. */
  def bpeFertilitySql(merges: Int): String =
    s"""WITH ${bpeCtes(merges)},
       |wl AS MATERIALIZED (SELECT w, len(toks)::BIGINT AS wt FROM v$merges),
       |dw AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) WHERE length(w) >= 1),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS nw, sum(wt)::BIGINT AS nt
       |       FROM dw JOIN wl USING (w) GROUP BY doc_id)
       |SELECT d.lang, sum(nw)::BIGINT AS n_words, sum(nt)::BIGINT AS n_tokens,
       |  round(sum(nt)::DOUBLE / sum(nw), 6) AS fertility
       |FROM dl JOIN documents d USING (doc_id) GROUP BY d.lang ORDER BY d.lang""".stripMargin
      .replace("\n", " ")

  /** shared CTE chain mirroring [[graft.pipeline.Similarity.pcaCore]]:
    * 1e-4-lattice snap → exact int64 dim/pair-product sums → covariance
    * by the spelled-out op sequence `Sij/n − (Si/n)·(Sj/n)` → per
    * component `iters` unrolled power-iteration rounds (dim-ordered list
    * folds, 6-dp snap per round) with deflation between components.
    * Leaves in scope: `qt(vec_id, q)`, `mzl(m)` (means list), and per
    * component c: `v${c}_$iters(v)`, `lam$c(lam)`, plus `cv1` (the
    * pre-deflation covariance table). */
  private def pcaCtes(dim: Int, k: Int, iters: Int): String = {
    val fold = "(a, b) -> a + b"
    val comps = (1 to k).map { cN =>
      val rounds = (1 to iters).map { t =>
        s"""w${cN}_$t AS MATERIALIZED (SELECT cr.i, list_reduce(list_prepend(0.0::DOUBLE,
           |    list_transform(generate_series(1, $dim), jj -> cr.cr[jj::INT] * v.v[jj::INT])), $fold) AS w
           |  FROM cr$cN cr CROSS JOIN v${cN}_${t - 1} v),
           |v${cN}_$t AS MATERIALIZED (SELECT list_transform(wl, x -> round(x / nrm, 6)) AS v FROM (
           |  SELECT wl, greatest(sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(wl, x -> x * x)), $fold)), 1e-12) AS nrm
           |  FROM (SELECT list(w ORDER BY i) AS wl FROM w${cN}_$t)))""".stripMargin
      }.mkString(",\n")
      val deflate = if (cN < k)
        s""",
           |cv${cN + 1} AS MATERIALIZED (SELECT cv.i, cv.j, cv.c - (l.lam * v.v[cv.i::INT + 1]) * v.v[cv.j::INT + 1] AS c
           |  FROM cv$cN cv CROSS JOIN lam$cN l CROSS JOIN v${cN}_$iters v),
           |cr${cN + 1} AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS cr FROM cv${cN + 1} GROUP BY i)""".stripMargin
      else ""
      s"""v${cN}_0 AS MATERIALIZED (SELECT list_transform(generate_series(1, $dim), x -> 1.0::DOUBLE) AS v),
         |$rounds,
         |mv$cN AS MATERIALIZED (SELECT cr.i, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(generate_series(1, $dim), jj -> cr.cr[jj::INT] * v.v[jj::INT])), $fold) AS w
         |  FROM cr$cN cr CROSS JOIN v${cN}_$iters v),
         |lam$cN AS MATERIALIZED (SELECT round(list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(generate_series(1, $dim), ii -> v.v[ii::INT] * ml.m[ii::INT])), $fold), 6) AS lam
         |  FROM (SELECT list(w ORDER BY i) AS m FROM mv$cN) ml CROSS JOIN v${cN}_$iters v)$deflate""".stripMargin
    }.mkString(",\n")
    s"""qt AS MATERIALIZED (SELECT vec_id, list_transform(embedding, x -> CAST(round(x::DOUBLE * 10000.0) AS BIGINT)) AS q FROM embeddings),
       |nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM qt),
       |ds AS MATERIALIZED (SELECT i, sum(q[i::INT])::BIGINT AS s FROM (SELECT q, unnest(generate_series(1, $dim)) AS i FROM qt) GROUP BY i),
       |trik AS MATERIALIZED (SELECT list(k ORDER BY k) AS ks FROM
       |  (SELECT unnest(generate_series(0, ${dim * dim - 1})) AS k) WHERE k % $dim >= k // $dim),
       |ps AS MATERIALIZED (SELECT ij, sum(q[(ij // $dim)::INT + 1] * q[(ij % $dim)::INT + 1])::BIGINT AS s
       |  FROM (SELECT q, unnest(trik.ks) AS ij FROM qt CROSS JOIN trik) GROUP BY ij),
       |irange AS MATERIALIZED (SELECT unnest(generate_series(0, ${dim - 1})) AS i),
       |cv1 AS MATERIALIZED (SELECT t.i::INT AS i, t.j::INT AS j,
       |    ps.s::DOUBLE / nn.n::DOUBLE - (dsi.s::DOUBLE / nn.n::DOUBLE) * (dsj.s::DOUBLE / nn.n::DOUBLE) AS c
       |  FROM (SELECT a.i AS i, b.i AS j FROM irange a, irange b) t
       |  CROSS JOIN nn
       |  JOIN ps ON ps.ij = least(t.i, t.j) * $dim + greatest(t.i, t.j)
       |  JOIN ds dsi ON dsi.i = t.i + 1 JOIN ds dsj ON dsj.i = t.j + 1),
       |cr1 AS MATERIALIZED (SELECT i, list(c ORDER BY j) AS cr FROM cv1 GROUP BY i),
       |mzl AS MATERIALIZED (SELECT list(ds.s::DOUBLE / nn.n::DOUBLE ORDER BY ds.i) AS m FROM ds CROSS JOIN nn),
       |$comps""".stripMargin
  }

  /** mirror of [[graft.pipeline.Similarity.pcaProject]]: per-vector top-k
    * principal coordinates in original units, 6-dp. */
  def pcaProjectSql(dim: Int, k: Int, iters: Int, whiten: Boolean = false): String = {
    val pcCols = (1 to k).map { cN =>
      val scale =
        if (whiten) s" / sqrt(greatest(l$cN.lam / 100000000.0, 1e-12))" else ""
      s"""round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim),
         |  ii -> v$cN.v[ii::INT] * (qt.q[ii::INT]::DOUBLE - mz.m[ii::INT]))), (a, b) -> a + b) / 10000.0$scale, 6) AS pc$cN""".stripMargin
    }.mkString(", ")
    val joins = (1 to k).map(cN =>
      s"CROSS JOIN v${cN}_$iters v$cN" + (if (whiten) s" CROSS JOIN lam$cN l$cN" else "")).mkString(" ")
    s"""WITH ${pcaCtes(dim, k, iters)}
       |SELECT qt.vec_id, $pcCols
       |FROM qt $joins CROSS JOIN mzl mz
       |ORDER BY qt.vec_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.pcaTopKRerank]]: the
    * [[pcaProjectSql]] coordinates (6-dp, gate-proven identical) feed a
    * reduced-space cosine shortlist (ties by id), then the `ann_topk`
    * cosine/round spelling re-ranks the candidates at full dimension. */
  def pcaTopKRerankSql(dim: Int, kDims: Int, iters: Int, qid: Long, k: Int, nCand: Int): String = {
    val pcArr = (1 to kDims).map(i => s"pc$i").mkString("[", ", ", "]")
    s"""WITH pj AS MATERIALIZED (SELECT vec_id, $pcArr AS v FROM (${pcaProjectSql(dim, kDims, iters)})),
       |q AS (SELECT v AS qv FROM pj WHERE vec_id = $qid),
       |cd AS (SELECT pj.vec_id AS id FROM pj, q
       |       ORDER BY ${cosSql("pj", "v", "q", "qv", kDims)} DESC, pj.vec_id LIMIT $nCand),
       |e AS (SELECT vec_id, embedding FROM embeddings),
       |q2 AS (SELECT embedding AS qe FROM e WHERE vec_id = $qid),
       |rr AS (SELECT e2.vec_id, list_cosine_similarity(e2.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q2)) AS s
       |       FROM e e2 JOIN cd ON cd.id = e2.vec_id)
       |SELECT vec_id, round(s, 3) AS sim FROM rr ORDER BY s DESC, vec_id LIMIT $k"""
      .stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.pcaVarianceReport]]:
    * per-component eigenvalue (original units) + share of the
    * pre-deflation trace. */
  def pcaVarianceSql(dim: Int, k: Int, iters: Int): String = {
    val rows = (1 to k).map { cN =>
      s"SELECT ${cN}::BIGINT AS component, round(l$cN.lam / 100000000.0, 6) AS eigenvalue, round(l$cN.lam / tr.t, 6) AS explained_ratio FROM lam$cN l$cN CROSS JOIN tr"
    }.mkString(" UNION ALL ")
    s"""WITH ${pcaCtes(dim, k, iters)},
       |tr AS MATERIALIZED (SELECT list_reduce(list_prepend(0.0::DOUBLE, dl), (a, b) -> a + b) AS t
       |  FROM (SELECT list(c ORDER BY i) AS dl FROM cv1 WHERE i = j))
       |SELECT * FROM ($rows) ORDER BY component""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.embedBatched]]: per-dimension
    * portable code-point fold normalized by P31. */
  def embedStubSql(dim: Int): String = {
    val cols = (0 until dim)
      .map(j => s"${wordPolySql("text", 131L, j)} / 2147483647.0 AS e$j")
      .mkString(", ")
    s"SELECT doc_id, $cols FROM documents ORDER BY doc_id"
  }

  /** mirror of the `mm_ann` composition: stub features → cosine top-k
    * against doc 0's feature vector. The dot products are explicit
    * parenthesized left folds, matching the Spark kernel's sequential
    * accumulation bit for bit. */
  def mmAnnSql(dim: Int, k: Int): String = {
    def fold(terms: Seq[String]): String = terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")
    val dotEQ = fold((0 until dim).map(j => s"e.e$j * q.e$j"))
    val dotEE = fold((0 until dim).map(j => s"e.e$j * e.e$j"))
    val dotQQ = fold((0 until dim).map(j => s"q.e$j * q.e$j"))
    s"""WITH e AS (${embedStubSql(dim).replace(" ORDER BY doc_id", "")}),
       |q AS (SELECT * FROM e WHERE doc_id = 0)
       |SELECT e.doc_id AS vec_id, round($dotEQ / (sqrt($dotEE) * sqrt($dotQQ)), 3) AS sim
       |FROM e, q ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.syntheticContainers]] +
    * [[graft.pipeline.Multimodal.containerMeta]]: the identical hex stream
    * is rebuilt per doc (PNG IHDR / two-segment JPEG / raw, cycling on
    * doc_id % 3), then the SAME fixed-offset header reads and the SAME
    * bounded JPEG marker walk replay over hex-string slices — byte `p`
    * (1-indexed) is hex chars `[2p−1, 2p]`, big-endian words are longer
    * slices cast via the `0x` prefix. Exact integer arithmetic end to end
    * (try_cast → −1 keeps out-of-range reads total; the walk's guards mean
    * they never reach the output). */
  def containerMetaSql(maxSegments: Int = 8): String = {
    // byte/word reads over the hex string: B(pos) and BE(pos, nBytes)
    def be(pos: String, n: Int): String =
      s"coalesce(try_cast('0x' || hx[2*($pos)-1 : 2*($pos)+${2 * n - 2}] AS BIGINT), -1)"
    def b1(pos: String): String = be(pos, 1)
    val fixture =
      s"""p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN
         |    '89504E470D0A1A0A' || '0000000D' || '49484452' ||
         |    lpad(hex(1 + (doc_id * 7) % 4096), 8, '0') || lpad(hex(1 + (doc_id * 13) % 4096), 8, '0') ||
         |    '08' || CASE WHEN doc_id % 2 = 0 THEN '02' ELSE '06' END || '000000' || hex(encode(text))
         |  WHEN doc_id % 3 = 1 THEN
         |    'FFD8' || 'FFE0' || '0010' || '4A46494600' || '0101' || '00' || '00010001' || '0000' ||
         |    CASE WHEN doc_id % 2 = 0
         |      THEN 'FFC0' || '0011' || '08' || lpad(hex(1 + (doc_id * 13) % 4096), 4, '0') ||
         |           lpad(hex(1 + (doc_id * 7) % 4096), 4, '0') || '03' || '011100021101031101'
         |      ELSE 'FFC2' || '000B' || '08' || lpad(hex(1 + (doc_id * 13) % 4096), 4, '0') ||
         |           lpad(hex(1 + (doc_id * 7) % 4096), 4, '0') || '01' || '011100' END || hex(encode(text))
         |  ELSE hex(encode(text)) END AS hx
         |FROM documents)""".stripMargin
    val base =
      s"""j0 AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
         |  3::BIGINT AS pos, (-1)::BIGINT AS h, (-1)::BIGINT AS w, (-1)::BIGINT AS c FROM p)"""
        .stripMargin
    val steps = (1 to maxSegments).map { k =>
      val live = s"pos >= 3 AND pos + 9 <= nb AND ${b1("pos")} = 255"
      val sof  = s"${b1("pos + 1")} BETWEEN 192 AND 195"
      s"""j$k AS (SELECT doc_id, hx, nb,
         |  CASE WHEN h >= 0 THEN pos
         |       WHEN $live AND $sof THEN pos
         |       WHEN $live THEN pos + 2 + ${be("pos + 2", 2)}
         |       ELSE -1 END AS pos,
         |  CASE WHEN h >= 0 THEN h WHEN $live AND $sof THEN ${be("pos + 5", 2)} ELSE -1 END AS h,
         |  CASE WHEN h >= 0 THEN w WHEN $live AND $sof THEN ${be("pos + 7", 2)} ELSE -1 END AS w,
         |  CASE WHEN h >= 0 THEN c WHEN $live AND $sof THEN ${b1("pos + 9")} ELSE -1 END AS c
         |FROM j${k - 1})""".stripMargin
    }
    val isPng  = s"nb >= 33 AND hx[1:16] = '89504E470D0A1A0A' AND hx[25:32] = '49484452'"
    val isJpeg = s"NOT ($isPng) AND nb >= 4 AND hx[1:4] = 'FFD8'"
    s"""WITH $fixture, $base, ${steps.mkString(", ")},
       |d AS (SELECT doc_id, hx, nb, h, w, c, ($isPng) AS png, (($isJpeg) AND h >= 0) AS jok
       |      FROM j$maxSegments)
       |SELECT doc_id,
       |  CASE WHEN png THEN 'png' WHEN jok THEN 'jpeg' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN png THEN ${be("17", 4)} WHEN jok THEN w ELSE 64 + nb % 193 END)::BIGINT AS width,
       |  (CASE WHEN png THEN ${be("21", 4)} WHEN jok THEN h ELSE 64 + (nb * 31) % 177 END)::BIGINT AS height,
       |  (CASE WHEN png THEN (CASE ${b1("26")} WHEN 0 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 1
       |     WHEN 4 THEN 2 WHEN 6 THEN 4 ELSE 3 END)
       |   WHEN jok THEN c ELSE 3 END)::BIGINT AS channels
       |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.syntheticAvContainers]] +
    * [[graft.pipeline.Multimodal.avContainerMeta]]: the identical hex
    * stream is rebuilt per doc (canonical WAV / GIF89a / BMP / raw cycling
    * on doc_id % 4, negative top-down BMP heights every 5th id), then the
    * SAME fixed-offset reads replay over hex slices — a little-endian word
    * is the positional sum of its byte reads (never a string reverse), the
    * signed BMP height folds down by 2^32, and every output casts ::BIGINT
    * so no column widens to HUGEINT. */
  def avContainerMetaSql: String = {
    def b1(pos: String): String =
      s"coalesce(try_cast('0x' || hx[2*($pos)-1 : 2*($pos)] AS BIGINT), -1)"
    def le(pos: Int, n: Int): String =
      (0 until n).map(i => s"${b1((pos + i).toString)} * ${1L << (8 * i)}").mkString("(", " + ", ")")
    def leHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * i}) & 255), 2, '0')").mkString(" || ")
    val dlen = "octet_length(encode(text))"
    val wav =
      s"""'52494646' || ${leHex(s"$dlen + 36", 4)} || '57415645' ||
         |'666D7420' || ${leHex("16", 4)} || ${leHex("1", 2)} ||
         |${leHex("1 + doc_id % 2", 2)} || ${leHex("8000 + (doc_id * 441) % 40000", 4)} ||
         |${leHex("(8000 + (doc_id * 441) % 40000) * ((1 + doc_id % 2) * (1 + doc_id % 3))", 4)} ||
         |${leHex("(1 + doc_id % 2) * (1 + doc_id % 3)", 2)} || ${leHex("(1 + doc_id % 3) * 8", 2)} ||
         |'64617461' || ${leHex(dlen, 4)} || hex(encode(text))""".stripMargin
    val gif =
      s"""'474946383961' || ${leHex("1 + (doc_id * 5) % 65536", 2)} ||
         |${leHex("1 + (doc_id * 9) % 65536", 2)} || ${leHex("128 + doc_id % 8", 1)} ||
         |'0000' || hex(encode(text))""".stripMargin
    val bmpH = "CASE WHEN doc_id % 5 = 0 THEN 4294967296 - (1 + (doc_id * 17) % 3000) " +
      "ELSE 1 + (doc_id * 17) % 3000 END"
    val bmpBpp = "CASE WHEN doc_id % 3 = 0 THEN 8 WHEN doc_id % 3 = 1 THEN 24 ELSE 32 END"
    val bmp =
      s"""'424D' || ${leHex(s"$dlen + 54", 4)} || '00000000' || ${leHex("54", 4)} ||
         |${leHex("40", 4)} || ${leHex("1 + (doc_id * 11) % 3000", 4)} || ${leHex(bmpH, 4)} ||
         |${leHex("1", 2)} || ${leHex(bmpBpp, 2)} || hex(encode(text))""".stripMargin
    val sLe32 = s"(CASE WHEN ${le(19, 4)} >= 2147483648 THEN ${le(19, 4)} - 4294967296 ELSE ${le(19, 4)} END)"
    val hLe32 = s"(CASE WHEN ${le(23, 4)} >= 2147483648 THEN ${le(23, 4)} - 4294967296 ELSE ${le(23, 4)} END)"
    s"""WITH p AS (SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 0 THEN $wav
       |       WHEN doc_id % 4 = 1 THEN $gif
       |       WHEN doc_id % 4 = 2 THEN $bmp
       |       ELSE hex(encode(text)) END AS hx
       |FROM documents),
       |d AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (length(hx) // 2 >= 44 AND hx[1:8] = '52494646' AND hx[17:24] = '57415645'
       |   AND hx[25:32] = '666D7420' AND hx[73:80] = '64617461') AS iswav,
       |  (length(hx) // 2 >= 13 AND (hx[1:12] = '474946383961' OR hx[1:12] = '474946383761')) AS isgif,
       |  (length(hx) // 2 >= 30 AND hx[1:4] = '424D') AS isbmp
       |FROM p)
       |SELECT doc_id,
       |  CASE WHEN iswav THEN 'wav' WHEN isgif THEN 'gif' WHEN isbmp THEN 'bmp' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN isgif THEN ${le(7, 2)} WHEN isbmp THEN abs($sLe32) ELSE -1 END)::BIGINT AS width,
       |  (CASE WHEN isgif THEN ${le(9, 2)} WHEN isbmp THEN abs($hLe32) ELSE -1 END)::BIGINT AS height,
       |  (CASE WHEN iswav THEN ${le(25, 4)} ELSE -1 END)::BIGINT AS sample_rate,
       |  (CASE WHEN iswav THEN ${le(23, 2)} WHEN isgif THEN 3
       |        WHEN isbmp THEN (CASE WHEN ${le(29, 2)} >= 8 THEN ${le(29, 2)} // 8 ELSE 1 END)
       |        ELSE -1 END)::BIGINT AS channels,
       |  (CASE WHEN iswav THEN ${le(35, 2)} WHEN isgif THEN ${b1("11")} % 8 + 1
       |        WHEN isbmp THEN ${le(29, 2)} ELSE -1 END)::BIGINT AS bits,
       |  (CASE WHEN iswav AND ${le(33, 2)} > 0 THEN ${le(41, 4)} // ${le(33, 2)}
       |        ELSE -1 END)::BIGINT AS n_samples
       |FROM d ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.gifFrameCount]] over the
    * [[graft.pipeline.Multimodal.syntheticAnimatedGifs]] fixture: the
    * identical hex stream is rebuilt, then the SAME bounded block walk
    * unrolls as chained CTEs — one step per block header or sub-block,
    * byte reads replayed from the hex slice (out-of-range reads coalesce
    * to -1, matching the engine's null-comparison falls-through). */
  def gifFrameCountSql(maxBlocks: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    def leHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * i}) & 255), 2, '0')").mkString(" || ")
    def frame(k: Int): String = {
      val lct = s"CASE WHEN doc_id % 6 = 1 AND $k = 0 THEN '80DEADBEDEADBE' ELSE '00' END"
      s"""CASE WHEN 1 + doc_id % 3 > $k THEN
         |  '21F90400' || ${leHex(s"(doc_id * 3 + $k) % 60000", 2)} || '0000' ||
         |  '2C' || ${leHex(k.toString, 2)} || ${leHex("0", 2)} ||
         |  ${leHex(s"1 + $k", 2)} || ${leHex("1", 2)} || $lct || '0204DEADBEEF00'
         |  ELSE '' END""".stripMargin
    }
    val gifHex =
      s"""'474946383961' || ${leHex("1 + (doc_id * 5) % 65536", 2)} ||
         |${leHex("1 + (doc_id * 9) % 65536", 2)} ||
         |CASE WHEN doc_id % 2 = 0 THEN ${leHex("128 + doc_id % 3", 1)} ELSE '00' END ||
         |'0000' ||
         |CASE WHEN doc_id % 2 = 0 THEN repeat('ABCDEF', CAST(pow(2, (doc_id % 3) + 1) AS INT)) ELSE '' END ||
         |${frame(0)} || ${frame(1)} || ${frame(2)} || '3B' || hex(encode(text))""".stripMargin
    val steps = (1 to maxBlocks).map { i =>
      val b    = b1("pos")
      val live = "(gif AND NOT done AND pos >= 14 AND pos <= nb)"
      val lct  = s"CASE WHEN ${b1("pos + 9")} >= 128 " +
        s"THEN 3 * (1 << CAST((${b1("pos + 9")} % 8) + 1 AS INT)) ELSE 0 END"
      val bad  = s"($live AND mode = 0 AND $b NOT IN (59, 44, 33))"
      s"""w$i AS (SELECT doc_id, hx, nb, gif,
         |  CASE WHEN $live AND mode = 0 AND $b = 44 THEN pos + 11 + ($lct)
         |       WHEN $live AND mode = 0 AND $b = 33 THEN pos + 2
         |       WHEN $live AND mode = 1 AND $b = 0 THEN pos + 1
         |       WHEN $live AND mode = 1 THEN pos + 1 + $b
         |       ELSE pos END AS pos,
         |  CASE WHEN $live AND mode = 0 AND $b = 44 THEN fr + 1 ELSE fr END AS fr,
         |  CASE WHEN $live AND mode = 0 AND $b IN (44, 33) THEN 1
         |       WHEN $live AND mode = 1 AND $b = 0 THEN 0 ELSE mode END AS mode,
         |  (done OR ($live AND mode = 0 AND $b = 59) OR $bad) AS done,
         |  (ok AND NOT $bad) AS ok
         |FROM w${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT doc_id,
       |  CASE WHEN doc_id % 4 = 3 THEN hex(encode(text)) ELSE $gifHex END AS hx
       |  FROM documents),
       |d AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (length(hx) // 2 >= 14 AND
       |   (hx[1:12] = '474946383961' OR hx[1:12] = '474946383761')) AS gif FROM p),
       |w0 AS (SELECT doc_id, hx, nb, gif,
       |  CASE WHEN gif THEN 14 + (CASE WHEN ${b1("11")} >= 128
       |    THEN 3 * (1 << CAST((${b1("11")} % 8) + 1 AS INT)) ELSE 0 END)
       |    ELSE -1 END AS pos,
       |  0::BIGINT AS fr, 0 AS mode, false AS done, true AS ok FROM d),
       |$steps
       |SELECT doc_id,
       |  CASE WHEN gif THEN 'gif' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN gif AND done AND ok THEN fr ELSE -1 END)::BIGINT AS n_frames
       |FROM w$maxBlocks ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Sampling.interleaveBySource]]: identical
    * portable id hash, per-source rank window, (round, source, hash, id)
    * order prefix. */
  def interleaveSql(k: Int, seed: Long): String = {
    val h = s"(${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000)"
    s"""WITH hh AS (SELECT source, doc_id, $h AS h FROM documents),
       |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn FROM hh),
       |t AS (SELECT * FROM r ORDER BY rn, source, h, doc_id LIMIT $k)
       |SELECT row_number() OVER (ORDER BY rn, source, h, doc_id)::BIGINT AS pos,
       |  source, doc_id
       |FROM t ORDER BY pos""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.pngChunkWalk]] over the
    * [[graft.pipeline.Multimodal.syntheticPngChunks]] fixture: identical
    * chunked hex rebuild, then the SAME length-field hops — u32-BE chunk
    * lengths, type compares on the hex slice, the 16-byte NUL probe for
    * the tEXt keyword, IDAT byte sums, IEND/overrun/budget termination. */
  def pngChunkWalkSql(maxChunks: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    def u32(p: String): String =
      s"(16777216 * ${b1(p)} + 65536 * ${b1(s"($p) + 1")} + 256 * ${b1(s"($p) + 2")} + ${b1(s"($p) + 3")})"
    def beHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * (n - 1 - i)}) & 255), 2, '0')").mkString(" || ")
    val kwHex =
      """CASE doc_id % 6 WHEN 0 THEN '6B6579' WHEN 1 THEN '6B657977'
        | WHEN 2 THEN '6B6579776F' WHEN 3 THEN '6B6579776F72'
        | WHEN 4 THEN '6B6579776F7264' ELSE '6B6579776F726473' END""".stripMargin
    val ihdr = s"'0000000D49484452' || ${beHex("1 + (doc_id * 13) % 4000", 4)} || " +
      s"${beHex("1 + (doc_id * 19) % 4000", 4)} || '080200000000000000'"
    val textC = s"${beHex("(3 + doc_id % 6) + 1 + octet_length(encode(text))", 4)} || '74455874' || " +
      s"($kwHex) || '00' || hex(encode(text)) || '00000000'"
    val idat = s"${beHex("5 + doc_id % 7", 4)} || '49444154' || " +
      "repeat('AB', CAST(5 + doc_id % 7 AS INT)) || '00000000'"
    val pngHex = s"'89504E470D0A1A0A' || $ihdr || $textC || ($idat) || " +
      s"CASE WHEN 1 + doc_id % 3 >= 2 THEN ($idat) ELSE '' END || " +
      s"CASE WHEN 1 + doc_id % 3 >= 3 THEN ($idat) ELSE '' END || " +
      "'0000000049454E4400000000'"
    val steps = (1 to maxChunks).map { i =>
      val live = "(png AND NOT done AND pos >= 9 AND pos + 7 <= nb)"
      val kwl = "CASE " + (0 until 16).map(j =>
        s"WHEN $j < len AND ${b1(s"pos + 8 + $j")} = 0 THEN $j").mkString(" ") +
        " ELSE -1 END"
      s"""a$i AS (SELECT doc_id, hx, nb, png, pos, n, idat, kw, done, ok,
         |  ${u32("pos")} AS len,
         |  hx[2*(pos+4)-1 : 2*(pos+7)] AS typ,
         |  $live AS live
         |FROM w${i - 1}),
         |b$i AS (SELECT doc_id, hx, nb, png, pos, n, idat, kw, done, ok, len, typ, live,
         |  (live AND pos + 11 + len > nb) AS bad,
         |  ($kwl) AS kwl
         |FROM a$i),
         |w$i AS (SELECT doc_id, hx, nb, png,
         |  CASE WHEN live AND NOT bad AND typ <> '49454E44' THEN pos + 12 + len ELSE pos END AS pos,
         |  CASE WHEN live AND NOT bad THEN n + 1 ELSE n END AS n,
         |  CASE WHEN live AND NOT bad AND typ = '49444154' THEN idat + len ELSE idat END AS idat,
         |  CASE WHEN live AND NOT bad AND typ = '74455874' AND kw IS NULL AND kwl >= 1
         |       THEN hx[2*(pos+8)-1 : 2*(pos+7+kwl)] ELSE kw END AS kw,
         |  (done OR (live AND NOT bad AND typ = '49454E44') OR coalesce(bad, false)) AS done,
         |  (ok AND NOT coalesce(bad, false)) AS ok
         |FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (SELECT doc_id,
       |  CASE WHEN doc_id % 2 = 0 THEN $pngHex ELSE hex(encode(text)) END AS hx
       |  FROM documents),
       |w0 AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (length(hx) // 2 >= 8 AND hx[1:16] = '89504E470D0A1A0A') AS png,
       |  CASE WHEN (length(hx) // 2 >= 8 AND hx[1:16] = '89504E470D0A1A0A')
       |       THEN 9 ELSE -1 END AS pos,
       |  0::BIGINT AS n, 0::BIGINT AS idat, NULL::VARCHAR AS kw,
       |  false AS done, true AS ok FROM p),
       |$steps
       |SELECT doc_id,
       |  CASE WHEN png THEN 'png' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN png AND done AND ok THEN n ELSE -1 END)::BIGINT AS n_chunks,
       |  (CASE WHEN png AND done AND ok THEN idat ELSE -1 END)::BIGINT AS idat_bytes,
       |  (CASE WHEN png AND done AND ok THEN kw END) AS text_kw_hex
       |FROM w$maxChunks ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.zipCentralDirectory]] over the
    * [[graft.pipeline.Multimodal.syntheticZips]] fixture: identical hex
    * rebuild (local headers + central directory + EOCD with LE sizes and
    * offsets), then the SAME backward EOCD scan (16 candidates, comment-
    * length self-consistency), up-front cd-bounds check, and u16-LE
    * length-field hops over the central-directory entries. */
  def zipCentralDirectorySql(maxEntries: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    def u16(p: String): String = s"(${b1(p)} + 256 * ${b1(s"($p) + 1")})"
    def u32(p: String): String =
      s"(${b1(p)} + 256 * ${b1(s"($p) + 1")} + 65536 * ${b1(s"($p) + 2")} + 16777216 * ${b1(s"($p) + 3")})"
    def leHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * i}) & 255), 2, '0')").mkString(" || ")
    def sig4(p: String): String = s"hx[2*($p)-1 : 2*(($p)+3)]"
    // ---- fixture rebuild (mirrors syntheticZips field for field) ----
    val nm0 =
      """CASE doc_id % 6 WHEN 0 THEN '6D616E' WHEN 1 THEN '6D616E69'
        | WHEN 2 THEN '6D616E6966' WHEN 3 THEN '6D616E696665'
        | WHEN 4 THEN '6D616E69666573' ELSE '6D616E6966657374' END""".stripMargin
    val nl0 = "(3 + doc_id % 6)"
    val tl  = "octet_length(encode(text))"
    val c1  = "(5 + doc_id % 9)"
    val c2  = "(5 + (doc_id + 3) % 9)"
    val cmt1 = "(doc_id % 3)"
    val zc   = "((doc_id * 7) % 12)"
    val nE   = "(1 + doc_id % 3)"
    def lfh(meth: String, c: String, u: String, nl: String, name: String, data: String) =
      s"'504B030414000000$meth' || '00000000' || '00000000' || " +
        s"${leHex(c, 4)} || ${leHex(u, 4)} || ${leHex(nl, 2)} || '0000' || $name || $data"
    def cde(meth: String, c: String, u: String, nl: String, cmt: String,
            off: String, name: String, cmtHex: String) =
      s"'504B01021E031400' || '0000$meth' || '00000000' || '00000000' || " +
        s"${leHex(c, 4)} || ${leHex(u, 4)} || ${leHex(nl, 2)} || '0000' || ${leHex(cmt, 2)} || " +
        s"'000000000000' || '0000' || ${leHex(off, 4)} || $name || $cmtHex"
    val off1   = s"(30 + $nl0 + $tl)"
    val off2   = s"($off1 + 36 + $c1)"
    val cdOff  = s"($off1 + CASE WHEN $nE >= 2 THEN $c1 + 36 ELSE 0 END + " +
      s"CASE WHEN $nE >= 3 THEN $c2 + 36 ELSE 0 END)"
    val cdSize = s"(46 + $nl0 + CASE WHEN $nE >= 2 THEN $cmt1 + 52 ELSE 0 END + " +
      s"CASE WHEN $nE >= 3 THEN 52 ELSE 0 END)"
    val data1 = s"repeat('AB', CAST($c1 AS INT))"
    val data2 = s"repeat('CD', CAST($c2 AS INT))"
    val zipHex =
      s"${lfh("0000", tl, tl, nl0, s"($nm0)", "hex(encode(text))")} || " +
        s"CASE WHEN $nE >= 2 THEN ${lfh("0800", c1, s"($c1 + 11)", "6", "'656E74727931'", data1)} ELSE '' END || " +
        s"CASE WHEN $nE >= 3 THEN ${lfh("0800", c2, s"($c2 + 23)", "6", "'656E74727932'", data2)} ELSE '' END || " +
        s"${cde("0000", tl, tl, nl0, "0", "0", s"($nm0)", "''")} || " +
        s"CASE WHEN $nE >= 2 THEN ${cde("0800", c1, s"($c1 + 11)", "6", cmt1, off1, "'656E74727931'",
          s"('4E4F')[1 : CAST(2 * $cmt1 AS INT)]")} ELSE '' END || " +
        s"CASE WHEN $nE >= 3 THEN ${cde("0800", c2, s"($c2 + 23)", "6", "0", off2, "'656E74727932'", "''")} ELSE '' END || " +
        s"'504B050600000000' || ${leHex(nE, 2)} || ${leHex(nE, 2)} || " +
        s"${leHex(cdSize, 4)} || ${leHex(cdOff, 4)} || ${leHex(zc, 2)} || " +
        s"('7A697066696C652D6E6F7465')[1 : CAST(2 * $zc AS INT)]"
    // ---- EOCD backward scan: tail-most self-consistent candidate ----
    val pScan = "CASE " + (0 until 16).map { off =>
      val p = s"(nb - ${21 + off})"
      s"WHEN $p >= 1 AND ${sig4(p)} = '504B0506' AND $p + 21 + ${u16(s"$p + 20")} = nb THEN $p"
    }.mkString(" ") + " ELSE -1 END"
    val steps = (1 to maxEntries).map { i =>
      val live = "(zip AND ok AND NOT done AND q >= 1 AND q + 45 <= nb)"
      s"""a$i AS (SELECT doc_id, hx, nb, zip, p, tot, q, n, c, u, nm, done, ok,
         |  ${sig4("q")} AS sig, ${u16("q + 28")} AS nl, ${u16("q + 30")} AS el,
         |  ${u16("q + 32")} AS cl, ${u32("q + 20")} AS cc, ${u32("q + 24")} AS uu,
         |  $live AS live
         |FROM w${i - 1}),
         |b$i AS (SELECT doc_id, hx, nb, zip, p, tot, q, n, c, u, nm, done, ok,
         |  nl, el, cl, cc, uu, live,
         |  (live AND (sig <> '504B0102' OR q + 45 + nl + el + cl > nb)) AS bad,
         |  hx[2*(q+46)-1 : 2*(q + 45 + least(nl, 16))] AS nmp
         |FROM a$i),
         |w$i AS (SELECT doc_id, hx, nb, zip, p, tot,
         |  CASE WHEN live AND NOT bad THEN q + 46 + nl + el + cl ELSE q END AS q,
         |  CASE WHEN live AND NOT bad THEN n + 1 ELSE n END AS n,
         |  CASE WHEN live AND NOT bad THEN c + cc ELSE c END AS c,
         |  CASE WHEN live AND NOT bad THEN u + uu ELSE u END AS u,
         |  CASE WHEN live AND NOT bad AND n = 0 THEN nmp ELSE nm END AS nm,
         |  (done OR (live AND NOT bad AND n + 1 = tot) OR coalesce(bad, false)) AS done,
         |  (ok AND NOT coalesce(bad, false)) AS ok
         |FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pay AS (SELECT doc_id,
       |  CASE WHEN doc_id % 4 <> 3 THEN $zipHex ELSE hex(encode(text)) END AS hx
       |  FROM documents),
       |d0 AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb FROM pay),
       |d1 AS (SELECT doc_id, hx, nb, ($pScan)::BIGINT AS p FROM d0),
       |d2 AS (SELECT doc_id, hx, nb, p, (p >= 1) AS zip,
       |  CASE WHEN p >= 1 THEN ${u16("p + 10")} ELSE -1 END AS tot,
       |  CASE WHEN p >= 1 THEN ${u32("p + 12")} ELSE -1 END AS cds,
       |  CASE WHEN p >= 1 THEN ${u32("p + 16")} + 1 ELSE -1 END AS q
       |FROM d1),
       |w0 AS (SELECT doc_id, hx, nb, zip, p, tot, q,
       |  0::BIGINT AS n, 0::BIGINT AS c, 0::BIGINT AS u, NULL::VARCHAR AS nm,
       |  (tot = 0) AS done,
       |  (NOT zip OR (q >= 1 AND q + cds = p)) AS ok
       |FROM d2),
       |$steps
       |SELECT doc_id,
       |  CASE WHEN zip THEN 'zip' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN zip AND done AND ok THEN tot ELSE -1 END)::BIGINT AS n_entries,
       |  (CASE WHEN zip AND done AND ok THEN c ELSE -1 END)::BIGINT AS comp_bytes,
       |  (CASE WHEN zip AND done AND ok THEN u ELSE -1 END)::BIGINT AS uncomp_bytes,
       |  (CASE WHEN zip AND done AND ok THEN nm END) AS first_name_hex
       |FROM w$maxEntries ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.tarHeaderWalk]] over the
    * [[graft.pipeline.Multimodal.syntheticTars]] fixture: identical hex
    * rebuild (ustar headers, POSIX 11-digit octal sizes, 512-padded data,
    * two zero end-blocks), then the SAME block walk — magic check, octal
    * digit-validity + value in one pass, NUL-probed first name, dir/file
    * split, 512-granular hop. */
  def tarHeaderWalkSql(maxEntries: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    // ---- fixture rebuild (mirrors syntheticTars field for field) ----
    def octalHex(v: String): String =
      (10 to 0 by -1).map(k =>
        s"lpad(hex(48 + ((($v) >> ${3 * k}) & 7)), 2, '0')").mkString(" || ") + " || '00'"
    def zeros(n: Int) = s"repeat('00', $n)"
    val nm0 =
      """CASE doc_id % 6 WHEN 0 THEN '6D616E' WHEN 1 THEN '6D616E69'
        | WHEN 2 THEN '6D616E6966' WHEN 3 THEN '6D616E696665'
        | WHEN 4 THEN '6D616E69666573' ELSE '6D616E6966657374' END""".stripMargin
    val nl0   = "(3 + doc_id % 6)"
    val tl    = "octet_length(encode(text))"
    val sz2   = "(5 + (doc_id * 3) % 200)"
    val nE    = "(1 + doc_id % 3)"
    val fixed = "'3030303036343400' || '3030303030303000' || '3030303030303000'"
    val mtime = s"'${"30" * 11}00'"
    val chks  = s"'${"20" * 8}'"
    val tail  = s"'757374617200' || '3030' || ${zeros(247)}"
    def hdr(nameHex: String, nameLen: String, size: String, typeflag: String): String =
      s"($nameHex) || repeat('00', CAST(100 - ($nameLen) AS INT)) || $fixed || " +
        s"${octalHex(size)} || $mtime || $chks || '$typeflag' || ${zeros(100)} || $tail"
    val pad0 = s"((512 - ($tl) % 512) % 512)"
    val pad2 = s"((512 - ($sz2) % 512) % 512)"
    val e0 = s"${hdr(nm0, nl0, tl, "30")} || hex(encode(text)) || repeat('00', CAST($pad0 AS INT))"
    val e1 = hdr("'646174612F'", "5", "0", "35")
    val e2 = s"${hdr("'656E747279322E62696E'", "10", sz2, "30")} || " +
      s"repeat('AB', CAST($sz2 AS INT)) || repeat('00', CAST($pad2 AS INT))"
    val tarHex = s"($e0) || CASE WHEN $nE >= 2 THEN ($e1) ELSE '' END || " +
      s"CASE WHEN $nE >= 3 THEN ($e2) ELSE '' END || ${zeros(1024)}"
    // ---- the walk ----
    val steps = (1 to maxEntries).map { i =>
      val live = "(tar AND NOT done AND q >= 1 AND q + 511 <= nb)"
      val szVal = (0 to 10).map(j =>
        s"(${b1(s"q + ${124 + j}")} - 48) * ${1L << (3 * (10 - j))}").mkString(" + ")
      val szOk = (0 to 10).map(j =>
        s"${b1(s"q + ${124 + j}")} BETWEEN 48 AND 55").mkString(" AND ")
      val kwl = "CASE " + (0 until 16).map(j =>
        s"WHEN ${b1(s"q + $j")} = 0 THEN $j").mkString(" ") + " ELSE 16 END"
      s"""a$i AS (SELECT doc_id, hx, nb, tar, q, n, dirs, fb, nm, done, ok,
         |  (${b1("q")} = 0) AS fin,
         |  (hx[2*(q+257)-1 : 2*(q+261)] = '7573746172') AS mag,
         |  ($szVal) AS sz, ($szOk) AS szok,
         |  ${b1("q + 156")} AS tf, ($kwl) AS kwl,
         |  $live AS live
         |FROM w${i - 1}),
         |b$i AS (SELECT doc_id, hx, nb, tar, q, n, dirs, fb, nm, done, ok,
         |  fin, sz, tf, live,
         |  (live AND NOT fin AND (NOT mag OR NOT szok)) AS bad,
         |  hx[2*q-1 : 2*(q + kwl - 1)] AS nmp
         |FROM a$i),
         |w$i AS (SELECT doc_id, hx, nb, tar,
         |  CASE WHEN live AND NOT fin AND NOT bad
         |       THEN q + 512 + ((sz + 511) >> 9) * 512 ELSE q END AS q,
         |  CASE WHEN live AND NOT fin AND NOT bad THEN n + 1 ELSE n END AS n,
         |  CASE WHEN live AND NOT fin AND NOT bad AND tf = 53 THEN dirs + 1 ELSE dirs END AS dirs,
         |  CASE WHEN live AND NOT fin AND NOT bad AND tf <> 53 THEN fb + sz ELSE fb END AS fb,
         |  CASE WHEN live AND NOT fin AND NOT bad AND n = 0 THEN nmp ELSE nm END AS nm,
         |  (done OR (live AND fin) OR coalesce(bad, false)) AS done,
         |  (ok AND NOT coalesce(bad, false)) AS ok
         |FROM b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pay AS (SELECT doc_id,
       |  CASE WHEN doc_id % 4 <> 1 THEN $tarHex ELSE hex(encode(text)) END AS hx
       |  FROM documents),
       |w0 AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (length(hx) // 2 >= 512 AND hx[2*258-1 : 2*262] = '7573746172') AS tar,
       |  CASE WHEN (length(hx) // 2 >= 512 AND hx[2*258-1 : 2*262] = '7573746172')
       |       THEN 1 ELSE -1 END AS q,
       |  0::BIGINT AS n, 0::BIGINT AS dirs, 0::BIGINT AS fb, NULL::VARCHAR AS nm,
       |  false AS done, true AS ok FROM pay),
       |$steps
       |SELECT doc_id,
       |  CASE WHEN tar THEN 'tar' ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN tar AND done AND ok THEN n ELSE -1 END)::BIGINT AS n_entries,
       |  (CASE WHEN tar AND done AND ok THEN dirs ELSE -1 END)::BIGINT AS n_dirs,
       |  (CASE WHEN tar AND done AND ok THEN fb ELSE -1 END)::BIGINT AS file_bytes,
       |  (CASE WHEN tar AND done AND ok THEN nm END) AS first_name_hex
       |FROM w$maxEntries ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.tiffMeta]] over the
    * [[graft.pipeline.Multimodal.syntheticTiffs]] fixture: identical hex
    * rebuild, then the SAME byte-order-branching fixed-offset entry reads;
    * per-tag value = the LAST matching entry (coalesce over descending
    * entry index mirrors the engine's overwrite-on-match). */
  def tiffMetaSql(maxEntries: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    def u16(p: String): String =
      s"(CASE WHEN le THEN ${b1(p)} + 256 * ${b1(s"($p) + 1")} " +
        s"ELSE 256 * ${b1(p)} + ${b1(s"($p) + 1")} END)"
    def u32(p: String): String =
      s"(CASE WHEN le THEN ${b1(p)} + 256 * ${b1(s"($p) + 1")} + 65536 * ${b1(s"($p) + 2")} + 16777216 * ${b1(s"($p) + 3")} " +
        s"ELSE 16777216 * ${b1(p)} + 65536 * ${b1(s"($p) + 1")} + 256 * ${b1(s"($p) + 2")} + ${b1(s"($p) + 3")} END)"
    def leHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * i}) & 255), 2, '0')").mkString(" || ")
    def beHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * (n - 1 - i)}) & 255), 2, '0')").mkString(" || ")
    def entry(hx: (String, Int) => String, tag: Long, typ: Long, value: String): String =
      s"${hx(tag.toString, 2)} || ${hx(typ.toString, 2)} || ${hx("1", 4)} || " +
        (if (typ == 3L) s"${hx(value, 2)} || '0000'" else hx(value, 4))
    val w = "1 + (doc_id * 7) % 5000"; val h = "1 + (doc_id * 11) % 5000"
    val bits = "8 * (1 + doc_id % 4)"; val nEnt = "4 + (doc_id + 1) % 2"
    val xn = "72 + doc_id % 100"; val xd = "1 + doc_id % 3"
    val ratOff = s"14 + 12 * ($nEnt)"
    def body(hx: (String, Int) => String): String =
      s"${hx("8", 4)} || ${hx(nEnt, 2)} || ${entry(hx, 256L, 3L, w)} || " +
        s"${entry(hx, 257L, 3L, h)} || ${entry(hx, 258L, 4L, bits)} || " +
        s"${hx("282", 2)} || ${hx("5", 2)} || ${hx("1", 4)} || ${hx(ratOff, 4)} || " +
        s"CASE WHEN ($nEnt) = 5 THEN ${entry(hx, 259L, 3L, "1")} ELSE '' END || " +
        s"${hx("0", 4)} || ${hx(xn, 4)} || ${hx(xd, 4)} || hex(encode(text))"
    // entry picks: coalesce over DESCENDING index = last write wins
    def pick(tag: Long): String = {
      val cases = (maxEntries - 1 to 0 by -1).map { i =>
        val base = s"ifd + 2 + ${12 * i}"
        val live = s"(tiff AND $i < cnt AND ($base) + 11 <= nb)"
        val t    = u16(base)
        val typ  = u16(s"($base) + 2")
        val v    = s"(CASE WHEN $typ = 3 THEN ${u16(s"($base) + 8")} " +
          s"WHEN $typ = 4 THEN ${u32(s"($base) + 8")} ELSE -1 END)"
        s"CASE WHEN $live AND $t = $tag THEN $v END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    // RATIONAL pointer-chase picks: value field = 0-based offset to the
    // 8-byte num/den pair; `off` selects the numerator (0) or denominator (4)
    def pickRat(tag: Long, off: Int): String = {
      val cases = (maxEntries - 1 to 0 by -1).map { i =>
        val base = s"ifd + 2 + ${12 * i}"
        val live = s"(tiff AND $i < cnt AND ($base) + 11 <= nb)"
        val t    = u16(base)
        val typ  = u16(s"($base) + 2")
        val ptr  = s"(${u32(s"($base) + 8")} + 1)"
        s"CASE WHEN $live AND $t = $tag AND $typ = 5 AND $ptr >= 1 AND $ptr + 7 <= nb " +
          s"THEN ${u32(s"$ptr + $off")} END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    s"""WITH p AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN '49492A00' || ${body(leHex)}
       |       WHEN doc_id % 3 = 1 THEN '4D4D002A' || ${body(beHex)}
       |       ELSE hex(encode(text)) END AS hx
       |  FROM documents),
       |d AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (hx[1:8] = '49492A00') AS le,
       |  (hx[1:8] = '49492A00' OR hx[1:8] = '4D4D002A') AS tiff FROM p),
       |f AS (SELECT doc_id, hx, nb, le, tiff,
       |  CASE WHEN tiff THEN ${u32("5")} + 1 ELSE -1 END AS ifd FROM d),
       |g AS (SELECT doc_id, hx, nb, le, tiff, ifd,
       |  CASE WHEN tiff AND ifd >= 1 AND ifd + 1 <= nb THEN ${u16("ifd")}
       |       ELSE -1 END AS cnt FROM f)
       |SELECT doc_id,
       |  CASE WHEN tiff AND le THEN 'tiff_le' WHEN tiff THEN 'tiff_be'
       |       ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  (CASE WHEN tiff THEN cnt ELSE -1 END)::BIGINT AS n_entries,
       |  (${pick(256L)})::BIGINT AS width,
       |  (${pick(257L)})::BIGINT AS height,
       |  (${pick(258L)})::BIGINT AS bits,
       |  (${pickRat(282L, 0)})::BIGINT AS xres_num,
       |  (${pickRat(282L, 4)})::BIGINT AS xres_den
       |FROM g ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.tiffExifMeta]] over the
    * [[graft.pipeline.Multimodal.syntheticExifTiffs]] fixture: identical
    * two-table hex rebuild, IFD0 picks (width/height and the tag-34665
    * sub-IFD pointer), then the SAME entry reads over the pointed-to Exif
    * IFD — ISO, and the ExposureTime RATIONAL dereferenced through its
    * second-level pointer. coalesce over descending entry index mirrors
    * the engine's overwrite-on-match folds in both tables. */
  def tiffExifMetaSql(maxEntries: Int, maxExifEntries: Int): String = {
    def b1(p: String): String =
      s"coalesce(try_cast('0x' || hx[2*($p)-1 : 2*($p)] AS BIGINT), -1)"
    def u16(p: String): String =
      s"(CASE WHEN le THEN ${b1(p)} + 256 * ${b1(s"($p) + 1")} " +
        s"ELSE 256 * ${b1(p)} + ${b1(s"($p) + 1")} END)"
    def u32(p: String): String =
      s"(CASE WHEN le THEN ${b1(p)} + 256 * ${b1(s"($p) + 1")} + 65536 * ${b1(s"($p) + 2")} + 16777216 * ${b1(s"($p) + 3")} " +
        s"ELSE 16777216 * ${b1(p)} + 65536 * ${b1(s"($p) + 1")} + 256 * ${b1(s"($p) + 2")} + ${b1(s"($p) + 3")} END)"
    def leHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * i}) & 255), 2, '0')").mkString(" || ")
    def beHex(v: String, n: Int): String =
      (0 until n).map(i => s"lpad(hex((($v) >> ${8 * (n - 1 - i)}) & 255), 2, '0')").mkString(" || ")
    def entry(hx: (String, Int) => String, tag: Long, typ: Long, value: String): String =
      s"${hx(tag.toString, 2)} || ${hx(typ.toString, 2)} || ${hx("1", 4)} || " +
        (if (typ == 3L) s"${hx(value, 2)} || '0000'" else hx(value, 4))
    val w = "1 + (doc_id * 7) % 5000"; val h = "1 + (doc_id * 11) % 5000"
    val iso = "100 * (1 + doc_id % 16)"
    val en = "1"; val ed = "2 + (doc_id * 3) % 998"
    val nE2 = "2 + doc_id % 2"
    val ratOff = s"56 + 12 * ($nE2)"
    def body(hx: (String, Int) => String): String =
      s"${hx("8", 4)} || ${hx("3", 2)} || ${entry(hx, 256L, 3L, w)} || " +
        s"${entry(hx, 257L, 3L, h)} || ${entry(hx, 34665L, 4L, "50")} || ${hx("0", 4)} || " +
        s"${hx(nE2, 2)} || ${entry(hx, 34855L, 3L, iso)} || " +
        s"CASE WHEN ($nE2) = 3 THEN ${entry(hx, 37385L, 3L, "1")} ELSE '' END || " +
        s"${hx("33434", 2)} || ${hx("5", 2)} || ${hx("1", 4)} || ${hx(ratOff, 4)} || " +
        s"${hx("0", 4)} || ${hx(en, 4)} || ${hx(ed, 4)} || hex(encode(text))"
    // IFD0 picks: coalesce over DESCENDING index = last write wins
    def pick0(tag: Long): String = {
      val cases = (maxEntries - 1 to 0 by -1).map { i =>
        val base = s"ifd + 2 + ${12 * i}"
        val live = s"(tiff AND $i < cnt AND ($base) + 11 <= nb)"
        val t    = u16(base)
        val typ  = u16(s"($base) + 2")
        val v    = s"(CASE WHEN $typ = 3 THEN ${u16(s"($base) + 8")} " +
          s"WHEN $typ = 4 THEN ${u32(s"($base) + 8")} ELSE -1 END)"
        s"CASE WHEN $live AND $t = $tag THEN $v END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    // the sub-IFD pointer: tag 34665 LONG value, stored 1-based
    val xifdPick = {
      val cases = (maxEntries - 1 to 0 by -1).map { i =>
        val base = s"ifd + 2 + ${12 * i}"
        val live = s"(tiff AND $i < cnt AND ($base) + 11 <= nb)"
        s"CASE WHEN $live AND ${u16(base)} = 34665 AND ${u16(s"($base) + 2")} = 4 " +
          s"THEN ${u32(s"($base) + 8")} + 1 END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    // Exif sub-IFD picks off the pointed-to table
    def pick2(tag: Long): String = {
      val cases = (maxExifEntries - 1 to 0 by -1).map { j =>
        val base = s"xifd + 2 + ${12 * j}"
        val live = s"(tiff AND xifd >= 1 AND $j < cnt2 AND ($base) + 11 <= nb)"
        val typ  = u16(s"($base) + 2")
        val v    = s"(CASE WHEN $typ = 3 THEN ${u16(s"($base) + 8")} " +
          s"WHEN $typ = 4 THEN ${u32(s"($base) + 8")} ELSE -1 END)"
        s"CASE WHEN $live AND ${u16(base)} = $tag THEN $v END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    def pick2Rat(tag: Long, off: Int): String = {
      val cases = (maxExifEntries - 1 to 0 by -1).map { j =>
        val base = s"xifd + 2 + ${12 * j}"
        val live = s"(tiff AND xifd >= 1 AND $j < cnt2 AND ($base) + 11 <= nb)"
        val typ  = u16(s"($base) + 2")
        val ptr  = s"(${u32(s"($base) + 8")} + 1)"
        s"CASE WHEN $live AND ${u16(base)} = $tag AND $typ = 5 AND $ptr >= 1 AND $ptr + 7 <= nb " +
          s"THEN ${u32(s"$ptr + $off")} END"
      }.mkString(", ")
      s"coalesce($cases, -1)"
    }
    s"""WITH p AS (SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN '49492A00' || ${body(leHex)}
       |       WHEN doc_id % 3 = 1 THEN '4D4D002A' || ${body(beHex)}
       |       ELSE hex(encode(text)) END AS hx
       |  FROM documents),
       |d AS (SELECT doc_id, hx, (length(hx) // 2)::BIGINT AS nb,
       |  (hx[1:8] = '49492A00') AS le,
       |  (hx[1:8] = '49492A00' OR hx[1:8] = '4D4D002A') AS tiff FROM p),
       |f AS (SELECT doc_id, hx, nb, le, tiff,
       |  CASE WHEN tiff THEN ${u32("5")} + 1 ELSE -1 END AS ifd FROM d),
       |g AS (SELECT doc_id, hx, nb, le, tiff, ifd,
       |  CASE WHEN tiff AND ifd >= 1 AND ifd + 1 <= nb THEN ${u16("ifd")}
       |       ELSE -1 END AS cnt FROM f),
       |x AS (SELECT doc_id, hx, nb, le, tiff, cnt,
       |  (${pick0(256L)}) AS w, (${pick0(257L)}) AS h,
       |  ($xifdPick) AS xifd FROM g),
       |y AS (SELECT doc_id, hx, nb, le, tiff, cnt, w, h, xifd,
       |  CASE WHEN tiff AND xifd >= 1 AND xifd + 1 <= nb THEN ${u16("xifd")}
       |       ELSE -1 END AS cnt2 FROM x)
       |SELECT doc_id,
       |  CASE WHEN tiff AND le THEN 'tiff_le' WHEN tiff THEN 'tiff_be'
       |       ELSE 'raw' END AS format,
       |  nb AS n_bytes,
       |  w::BIGINT AS width, h::BIGINT AS height,
       |  cnt2::BIGINT AS n_exif,
       |  (${pick2(34855L)})::BIGINT AS iso,
       |  (${pick2Rat(33434L, 0)})::BIGINT AS exp_num,
       |  (${pick2Rat(33434L, 4)})::BIGINT AS exp_den
       |FROM y ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.pqBuild]]+[[graft.pipeline.Similarity.pqTopK]]:
    * sub-centroids = subspace slices of the first `kpq` vectors by id;
    * codes = per-(vector, subspace) argmin of the ascending-dim squared-L2
    * fold, ties to the smallest centroid index; ADC = the query's distance
    * table summed over subspaces in order. Every fold replays the kernel's
    * accumulation order, so the distances — and the top-k cut — are
    * bit-identical. */
  private val pqZero = "CAST(0.0 AS DOUBLE)"

  /** per-(row, subspace `j`) squared-L2 to sub-centroid slice `b` — the
    * ascending-dim fold [[graft.functions.PqKernel.encode]] accumulates. */
  private def pqL2Sql(a: String, b: String, dsub: Int): String =
    s"""list_reduce(list_prepend($pqZero, list_transform(range(1, ${dsub + 1}),
       |  i -> ($a[j*$dsub + i]::DOUBLE - $b[j*$dsub + i]::DOUBLE) * ($a[j*$dsub + i]::DOUBLE - $b[j*$dsub + i]::DOUBLE))),
       |  (x, y) -> x + y)""".stripMargin

  /** shared CTEs of the PQ oracles over a candidate relation `(id, v)`:
    * distance table for the query `qe`, per-candidate argmin codes
    * (first-min ties), ADC sum in subspace order — ends at `ad(id, adist)`
    * so callers can top-`k` it or feed a re-rank stage. */
  private def pqAdcCtes(m: Int, kpq: Int, dsub: Int): String =
    s"""pseeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding AS ce
       |           FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT $kpq)),
       |js AS (SELECT unnest(range(0, $m)) AS j),
       |tbl AS (SELECT j, c, ${pqL2Sql("qe", "ce", dsub)} AS d FROM q, pseeds, js),
       |vd AS (SELECT id, j, c, ${pqL2Sql("v", "ce", dsub)} AS d FROM cand, pseeds, js),
       |code AS (SELECT id, j, c FROM (SELECT id, j, c,
       |           row_number() OVER (PARTITION BY id, j ORDER BY d, c) AS rn FROM vd) WHERE rn = 1),
       |ad AS (SELECT id, list_reduce(list_prepend($pqZero, list(d ORDER BY j)), (x, y) -> x + y) AS adist
       |       FROM code JOIN tbl USING (j, c) GROUP BY id)""".stripMargin

  private def pqTopKTail(k: Int): String =
    s"""SELECT id, round(adist, 4) AS adist FROM ad
       |ORDER BY ad.adist, id LIMIT $k""".stripMargin

  def pqTopKSql(m: Int, kpq: Int, dim: Int, k: Int, qid: Long = 0L): String = {
    require(dim % m == 0)
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |cand AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |${pqAdcCtes(m, kpq, dim / m)}
       |${pqTopKTail(k)}""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.pqTopKRerank]]: ADC selects the
    * `nCand` compressed-domain candidates, exact cosine re-ranks them —
    * the re-rank stage shares `ann_topk`'s proven cosine/round spelling. */
  /** mirror of [[Similarity.matryoshkaTopK]]: prefix-dimension cosine
    * shortlist (the same component fold stopped at `dPrefix`), exact
    * full-dimension re-rank of the `nCand` candidates. */
  def matryoshkaTopKSql(dPrefix: Int, nCand: Int, k: Int, qid: Long = 0L): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT embedding AS qe FROM e WHERE vec_id = $qid),
       |cd AS (SELECT e.vec_id AS id FROM e, q
       |       ORDER BY ${cosSql("e", "embedding", "q", "qe", dPrefix)} DESC, e.vec_id LIMIT $nCand),
       |rr AS (SELECT e2.vec_id, list_cosine_similarity(e2.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q)) AS s
       |       FROM e e2 JOIN cd ON cd.id = e2.vec_id)
       |SELECT vec_id, round(s, 3) AS sim FROM rr ORDER BY s DESC, vec_id LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.oneBitTopKRerank]]: per-dimension sign
    * mismatch count (exact integers), Hamming-ascending shortlist, exact
    * full-precision re-rank. */
  def oneBitRerankSql(nCand: Int, k: Int, dim: Int, qid: Long = 0L): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT embedding AS qe FROM e WHERE vec_id = $qid),
       |cd AS (SELECT e.vec_id AS id FROM e, q
       |       ORDER BY len(list_filter(range(1, ${dim + 1}),
       |         i -> (e.embedding[i::INT] >= 0) <> (q.qe[i::INT] >= 0))) ASC, e.vec_id LIMIT $nCand),
       |rr AS (SELECT e2.vec_id, list_cosine_similarity(e2.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q)) AS s
       |       FROM e e2 JOIN cd ON cd.id = e2.vec_id)
       |SELECT vec_id, round(s, 3) AS sim FROM rr ORDER BY s DESC, vec_id LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.int8TopKRerank]]: per-vector symmetric int8
    * quantization (integral-valued doubles — exact), quantized-cosine
    * shortlist, exact full-precision re-rank. */
  def int8RerankSql(nCand: Int, k: Int, dim: Int, qid: Long = 0L): String = {
    def quant(src: String) =
      s"list_transform($src, x -> round(x::DOUBLE * (127.0 / greatest(list_max(list_transform($src, y -> abs(y::DOUBLE))), 1e-30))))"
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS (SELECT embedding AS qe FROM e WHERE vec_id = $qid),
       |eq AS (SELECT vec_id, ${quant("embedding")} AS z FROM e),
       |qq AS (SELECT ${quant("qe")} AS zq FROM q),
       |cd AS (SELECT eq.vec_id AS id FROM eq, qq
       |       ORDER BY ${cosSql("eq", "z", "qq", "zq", dim)} DESC, eq.vec_id LIMIT $nCand),
       |rr AS (SELECT e2.vec_id, list_cosine_similarity(e2.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q)) AS s
       |       FROM e e2 JOIN cd ON cd.id = e2.vec_id)
       |SELECT vec_id, round(s, 3) AS sim FROM rr ORDER BY s DESC, vec_id LIMIT $k""".stripMargin.replace("\n", " ")
  }

  def pqRerankSql(m: Int, kpq: Int, dim: Int, k: Int, nCand: Int, qid: Long = 0L): String = {
    require(dim % m == 0)
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $qid),
       |cand AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |${pqAdcCtes(m, kpq, dim / m)},
       |cd AS (SELECT id FROM ad ORDER BY ad.adist, id LIMIT $nCand),
       |rr AS (SELECT e2.vec_id, list_cosine_similarity(e2.embedding::DOUBLE[], (SELECT qe::DOUBLE[] FROM q)) AS s
       |       FROM embeddings e2 JOIN cd ON cd.id = e2.vec_id)
       |SELECT vec_id, round(s, 3) AS sim FROM rr ORDER BY s DESC, vec_id LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.ivfPqTopK]]: seed coarse
    * centroids, cosine-ranked probe list (ties by cid), candidates =
    * probed lists' members, then the shared PQ ADC tail. */
  def ivfPqTopKSql(nlist: Int, nprobe: Int, m: Int, kpq: Int, dim: Int, k: Int,
                   qid: Long = 0L): String = {
    require(dim % m == 0)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |seeds AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $nlist),
       |a0 AS (SELECT id, v, cid AS centroid FROM (
       |  SELECT e.vec_id AS id, e.embedding AS v, c.cid,
       |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e", "embedding", "c", "cvec", dim)} DESC, c.cid ASC) AS rn
       |  FROM e CROSS JOIN seeds c) t WHERE rn = 1),
       |q AS (SELECT embedding AS qe FROM e WHERE vec_id = $qid),
       |probe AS (SELECT cid FROM seeds, q ORDER BY ${cosSql("seeds", "cvec", "q", "qe", dim)} DESC, cid LIMIT $nprobe),
       |cand AS (SELECT id, v FROM a0 WHERE centroid IN (SELECT cid FROM probe)),
       |${pqAdcCtes(m, kpq, dim / m)}
       |${pqTopKTail(k)}""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Dedup.decontaminate]] with the corpus/eval split
    * `doc_id % mod <> 0` / `= 0`: corpus docs sharing no k-shingle with
    * the eval slice. */
  def decontaminateSql(shingleK: Int, mod: Int): String =
    s"""WITH ${shingleCtes(shingleK)},
       |ev AS (SELECT DISTINCT unnest(sh) AS h FROM s WHERE doc_id % $mod = 0),
       |con AS (SELECT DISTINCT doc_id
       |        FROM (SELECT doc_id, unnest(sh) AS h FROM s WHERE doc_id % $mod <> 0) c
       |        JOIN ev USING (h))
       |SELECT doc_id FROM documents
       |WHERE doc_id % $mod <> 0 AND doc_id NOT IN (SELECT doc_id FROM con)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of the [[Sampling.holdoutSplit]] → [[Dedup.decontaminate]]
    * composition: train docs (id hash < `trainCut`) surviving shingle
    * decontamination against the test split (id hash >= `testLo`). */
  def splitDeconSql(shingleK: Int, trainCut: Long, testLo: Long, seed: Long): String = {
    val h = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    s"""WITH hh AS (SELECT doc_id, $h AS h FROM documents),
       |${shingleCtes(shingleK)},
       |ev AS (SELECT DISTINCT unnest(sh) AS sh_h FROM s JOIN hh USING (doc_id) WHERE hh.h >= $testLo),
       |con AS (SELECT DISTINCT doc_id
       |        FROM (SELECT s.doc_id, unnest(sh) AS sh_h FROM s JOIN hh USING (doc_id) WHERE hh.h < $trainCut) c
       |        JOIN ev USING (sh_h))
       |SELECT doc_id FROM hh
       |WHERE h < $trainCut AND doc_id NOT IN (SELECT doc_id FROM con)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.importanceWeights]] with the
    * target slice `documents WHERE targetWhere`: add-one-smoothed unigram
    * log-ratio per vocab entry, per-doc token-ordered fold, mean, 6-dp
    * snap. All totals are integer-valued doubles (exact below 2^53), so
    * the only FP sensitivity is the fold order — pinned on both sides. */
  /** mirror of [[graft.pipeline.TextAnalysis.gopherRules]]: the per-doc
    * metrics, per-rule flags and composite keep, with the rule compares on
    * the UNROUNDED exact-integer-derived doubles like the Spark side. */
  def gopherRulesSql(minWords: Long, maxWords: Long, minMeanLen: Double, maxMeanLen: Double,
                     maxSymbolRatio: Double, minStopHits: Long): String = {
    val stops = "['the','a','of','and','to','in','is','on','for','it']"
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
       |m AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
       |  (length(text)::DOUBLE - (len(ws)::DOUBLE - 1.0)) / len(ws)::DOUBLE AS ml,
       |  length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE / length(text)::DOUBLE AS sr,
       |  len(list_intersect(list_distinct(ws), $stops))::BIGINT AS stop_hits FROM t)
       |SELECT doc_id, n_words, round(ml, 4) AS mean_word_len, round(sr, 4) AS symbol_ratio, stop_hits,
       |  (n_words BETWEEN $minWords AND $maxWords) AS words_ok,
       |  (ml BETWEEN $minMeanLen AND $maxMeanLen) AS len_ok,
       |  (sr <= $maxSymbolRatio) AS symbol_ok,
       |  (stop_hits >= $minStopHits) AS stop_ok,
       |  ((n_words BETWEEN $minWords AND $maxWords) AND (ml BETWEEN $minMeanLen AND $maxMeanLen)
       |    AND sr <= $maxSymbolRatio AND stop_hits >= $minStopHits) AS keep
       |FROM m ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.crossBigramScore]] with the
    * target slice `documents WHERE targetWhere`: add-one-smoothed target
    * bigram LM, unseen words/bigrams coalesced to zero, per-doc
    * sorted-value fold, 4-dp snap. */
  private def crossBigramCtes(targetWhere: String): String =
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |b AS (SELECT doc_id, ws[i::INT] AS w1, ws[(i+1)::INT] AS w2
       |      FROM w, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
       |tw AS (SELECT string_split(text, ' ') AS ws FROM documents WHERE $targetWhere),
       |b2 AS (SELECT ws[i::INT] AS w1, ws[(i+1)::INT] AS w2
       |       FROM tw, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
       |uc AS (SELECT w1, count(*)::BIGINT AS c1 FROM (SELECT unnest(ws) AS w1 FROM tw) GROUP BY w1),
       |vv AS (SELECT count(*)::BIGINT AS v FROM uc),
       |bc AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM b2 GROUP BY 1, 2),
       |lp AS (SELECT doc_id, ln((coalesce(c2, 0)::DOUBLE + 1.0) / (coalesce(c1, 0)::DOUBLE + v::DOUBLE)) AS lp
       |       FROM b LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1) CROSS JOIN vv),
       |xs AS (SELECT doc_id,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(lp))), (a, x) -> a + x) / count(*), 4) AS xent_score
       |  FROM lp GROUP BY doc_id)""".stripMargin

  def crossBigramScoreSql(targetWhere: String): String =
    s"""WITH ${crossBigramCtes(targetWhere)}
       |SELECT doc_id, xent_score FROM xs ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[TextAnalysis.perplexityBuckets]]: CCNet-style
    * head/middle/tail thirds by target-LM score, ntile(3) over the total
    * order (score DESC, doc_id) on the 4-dp-snapped score. */
  def perplexityBucketsSql(targetWhere: String): String =
    s"""WITH ${crossBigramCtes(targetWhere)}
       |SELECT doc_id, xent_score,
       |  (['head', 'middle', 'tail'])[ntile(3) OVER (ORDER BY xent_score DESC, doc_id)] AS ppl_bucket
       |FROM xs ORDER BY doc_id""".stripMargin.replace("\n", " ")

  private def importanceWeightsCtes(targetWhere: String): String =
    s"""sw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |tw AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE $targetWhere),
       |sc AS (SELECT w, count(*)::DOUBLE AS c_s FROM sw GROUP BY 1),
       |tc AS (SELECT w, count(*)::DOUBLE AS c_t FROM tw GROUP BY 1),
       |v AS (SELECT coalesce(sc.w, tc.w) AS w, coalesce(c_s, 0.0) AS c_s, coalesce(c_t, 0.0) AS c_t
       |      FROM sc FULL OUTER JOIN tc ON sc.w = tc.w),
       |tot AS (SELECT count(*)::DOUBLE AS nv, sum(c_s) AS ts, sum(c_t) AS tt FROM v),
       |lr AS (SELECT w, ln((c_t + 1.0)/(tt + nv)) - ln((c_s + 1.0)/(ts + nv)) AS lr FROM v, tot),
       |iw AS (SELECT doc_id, count(*)::BIGINT AS n_words,
       |  round(list_reduce(list_prepend(0.0::DOUBLE, list(lr ORDER BY w)), (a, b) -> a + b) / count(*), 6) AS weight
       |  FROM sw JOIN lr USING (w) GROUP BY doc_id)""".stripMargin

  def importanceWeightsSql(targetWhere: String): String =
    s"""WITH ${importanceWeightsCtes(targetWhere)}
       |SELECT doc_id, n_words, weight FROM iw ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of the [[graft.pipeline.TextAnalysis.importanceWeights]] →
    * [[graft.pipeline.Sampling.topFractionBy]] composition: the
    * ceil(fraction·n) highest-weight docs, ties by doc_id. The ordering
    * key is the 6-dp-snapped weight on both sides. */
  def dsirTopSql(targetWhere: String, fraction: Double): String =
    s"""WITH ${importanceWeightsCtes(targetWhere)},
       |r AS (SELECT iw.*, row_number() OVER (ORDER BY weight DESC, doc_id) AS rn FROM iw)
       |SELECT doc_id, n_words, weight FROM r
       |WHERE rn <= ceil($fraction * (SELECT count(*) FROM documents))
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Sampling.stratifiedHashSample]] over the `lang` stratum:
    * the same polynomial id hash mod 10000 against per-stratum cutoffs. */
  def stratifiedSampleSql(rates: Seq[(String, Double)], seed: Long): String = {
    val h = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    val keep = rates.sortBy(_._1)
      .map { case (stratum, rate) => s"(lang = '$stratum' AND h < ${math.round(rate * 10000)})" }
      .mkString(" OR ")
    s"SELECT doc_id, lang FROM (SELECT doc_id, lang, $h AS h FROM documents) WHERE $keep ORDER BY doc_id"
  }

  /** mirror of [[graft.pipeline.Sampling.weightedHashSample]] over
    * `documents` weighted by `weightCol` — identical IEEE operation order
    * for the per-row threshold (both engines round half away from zero). */
  def weightedSampleSql(fraction: Double, weightCol: String, seed: Long = 7L): String = {
    val h = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    s"""WITH m AS (SELECT max($weightCol)::DOUBLE AS mw FROM documents),
       |h AS (SELECT doc_id, $weightCol, $h AS h FROM documents)
       |SELECT doc_id, $weightCol FROM h, m
       |WHERE h < round(${10000.0 * fraction} * $weightCol::DOUBLE / mw, 0)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Relational.funnelCounts]] over the events
    * table keyed by user: chained earliest-match CTEs (stage i+1 = min ts
    * strictly after the stage-i match) — an independent algorithm with the
    * same greedy-earliest semantics as the Spark fold. */
  def funnelCountsSql(stages: Seq[String]): String = {
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"t1 AS (SELECT user_id, min(ts) AS ts FROM e WHERE event_type = '$s' GROUP BY user_id)"
      else
        s"""t${i + 1} AS (SELECT e.user_id, min(e.ts) AS ts FROM e
           |  JOIN t$i ON e.user_id = t$i.user_id AND e.ts > t$i.ts
           |  WHERE e.event_type = '$s' GROUP BY e.user_id)""".stripMargin
    }
    val sels = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT ${i + 1} AS stage_idx, '$s' AS stage, (SELECT count(*) FROM t${i + 1})::BIGINT AS n_keys"
    }
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
       |${ctes.mkString(",\n")}
       |${sels.mkString(" UNION ALL ")} ORDER BY stage_idx""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Relational.funnelCountsWithin]]: greedy
    * per-stage min chaining under the stage-1-anchored deadline
    * (`t1.ts + window` carried through every later stage). */
  def funnelCountsWithinSql(stages: Seq[String], windowUs: Long): String = {
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"""t1 AS (SELECT user_id, min(ts) AS ts, min(ts) + $windowUs AS dl
           |  FROM e WHERE event_type = '$s' GROUP BY user_id)""".stripMargin
      else
        s"""t${i + 1} AS (SELECT e.user_id, min(e.ts) AS ts, dl FROM e
           |  JOIN t$i ON e.user_id = t$i.user_id AND e.ts > t$i.ts AND e.ts <= t$i.dl
           |  WHERE e.event_type = '$s' GROUP BY e.user_id, dl)""".stripMargin
    }
    val sels = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT ${i + 1} AS stage_idx, '$s' AS stage, (SELECT count(*) FROM t${i + 1})::BIGINT AS n_keys"
    }
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
       |${ctes.mkString(",\n")}
       |${sels.mkString(" UNION ALL ")} ORDER BY stage_idx""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.unigramLogProb]]: corpus
    * unigram table, top-V vocabulary (count DESC, word), mean word
    * log-probability per doc with the count-1 OOV floor. */
  def unigramLogProbSql(vocabSize: Int): String =
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |c AS (SELECT word, count(*)::DOUBLE AS c FROM w GROUP BY word),
       |t AS (SELECT sum(c) AS total FROM c),
       |v AS (SELECT word, c FROM c ORDER BY c DESC, word LIMIT $vocabSize),
       |s AS (SELECT w.doc_id,
       |        CASE WHEN v.c IS NULL THEN ln(1.0/t.total) ELSE ln(v.c/t.total) END AS logp
       |      FROM w LEFT JOIN v USING (word) CROSS JOIN t)
       |SELECT doc_id, round(avg(logp), 4) AS lm_score FROM s GROUP BY doc_id ORDER BY doc_id"""
      .stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.bigramLogProb]]: add-one-
    * smoothed bigram log-likelihoods, per-doc mean as the ascending sorted
    * fold over the doc's bigram logps divided by their count. */
  def bigramLogProbSql(): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |b AS (SELECT doc_id, ws[i::INT] AS w1, ws[(i+1)::INT] AS w2
       |      FROM w, unnest(range(1, len(ws))) AS t(i) WHERE len(ws) >= 2),
       |u AS (SELECT unnest(string_split(text, ' ')) AS w1 FROM documents),
       |uc AS (SELECT w1, count(*)::BIGINT AS c1 FROM u GROUP BY w1),
       |vv AS (SELECT count(*)::BIGINT AS v FROM uc),
       |bc AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM b GROUP BY w1, w2),
       |lp AS (SELECT doc_id, ln((c2::DOUBLE + 1.0) / (c1::DOUBLE + v::DOUBLE)) AS lp
       |       FROM b JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vv)
       |SELECT doc_id,
       |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(lp))), (a, x) -> a + x) / count(*), 4) AS lm2_score
       |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.repeatedSpans]]: per-span-hash document frequency
    * at `>= minDocs` (doc-distinct shingle hashes, so count = doc freq). */
  def repeatedSpansSql(spanK: Int, minDocs: Long): String =
    s"""WITH ${shingleCtes(spanK)},
       |f AS (SELECT doc_id, unnest(sh) AS span_hash FROM s)
       |SELECT span_hash, count(*)::BIGINT AS n_docs FROM f
       |GROUP BY span_hash HAVING count(*) >= $minDocs ORDER BY span_hash""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.spanContaminatedDocs]]: per-doc count of its spans
    * that are corpus-repeated (`>= minDocs` docs share them). */
  def spanContaminatedDocsSql(spanK: Int, minDocs: Long): String =
    s"""WITH ${shingleCtes(spanK)},
       |f AS (SELECT doc_id, unnest(sh) AS span_hash FROM s),
       |rep AS (SELECT span_hash FROM f GROUP BY span_hash HAVING count(*) >= $minDocs)
       |SELECT doc_id, count(*)::BIGINT AS n_repeated_spans FROM f JOIN rep USING (span_hash)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Sampling.temperatureSample]] over the `lang` stratum:
    * live-count temperature rates (share ∝ count^(1/T), clamped at 1,
    * rounded 4 dp) feeding the same polynomial-hash cutoffs. */
  def temperatureSampleSql(temperature: Double, totalFraction: Double, seed: Long = 7L): String = {
    val h = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    s"""WITH c AS (SELECT lang AS stratum, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
       |z AS (SELECT sum(pow(n, 1.0/$temperature)) AS z, sum(n) AS total FROM c),
       |r AS (SELECT stratum, round(least(1.0, pow(n, 1.0/$temperature) / z * total * $totalFraction / n), 4) AS rate FROM c, z),
       |hh AS (SELECT doc_id, lang, $h AS h FROM documents)
       |SELECT doc_id, lang FROM hh JOIN r ON hh.lang = r.stratum
       |WHERE hh.h < round(r.rate * 10000) ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Dedup.gateAgainstCorpus]] with the corpus/new split
    * `doc_id % mod <> 0` / `= 0`: new docs surviving the LSH near-dup gate
    * against the corpus signature index. Replays the whole pipeline —
    * shingle → minhash → band buckets (corpus buckets capped) → candidate
    * join → Jaccard verify → anti-select. */
  def gateAgainstCorpusSql(
      threshold: Double, numHashes: Int, bands: Int, shingleK: Int, maxBucket: Int, mod: Int): String = {
    require(numHashes % bands == 0)
    val rows  = numHashes / bands
    val perms = PortableHash.minhashPerms(numHashes)
    val asl   = perms.map(_._1).mkString("[", ",", "]")
    val bsl   = perms.map(_._2).mkString("[", ",", "]")
    s"""WITH params AS (SELECT $asl::BIGINT[] AS asl, $bsl::BIGINT[] AS bsl),
       |${shingleCtes(shingleK)},
       |g AS (SELECT doc_id, sh, list_transform(range(1, ${numHashes + 1}),
       |        j -> list_min(list_transform(sh, h -> ((h % $P) * asl[j::INT] + bsl[j::INT]) % $P))) AS sig
       |      FROM s CROSS JOIN params),
       |bd AS (SELECT doc_id, band, list_aggregate(sig[(band*$rows+1):(band*$rows+$rows)], 'string_agg', ',') AS bucket
       |       FROM g, (SELECT unnest(range(0, $bands)) AS band) bs),
       |bdc AS (SELECT * FROM bd WHERE doc_id % $mod <> 0),
       |bdn AS (SELECT * FROM bd WHERE doc_id % $mod = 0),
       |ok AS (SELECT band, bucket FROM bdc GROUP BY band, bucket HAVING count(*) <= $maxBucket),
       |bdc2 AS (SELECT bdc.* FROM bdc JOIN ok USING (band, bucket)),
       |cand AS (SELECT DISTINCT n.doc_id AS id_new, c.doc_id AS id_corpus
       |         FROM bdn n JOIN bdc2 c ON n.band = c.band AND n.bucket = c.bucket),
       |m AS (SELECT DISTINCT id_new FROM cand
       |      JOIN s sa ON sa.doc_id = cand.id_new JOIN s sb ON sb.doc_id = cand.id_corpus
       |      WHERE ${jaccardSql("sa.sh", "sb.sh")} >= $threshold)
       |SELECT doc_id FROM documents
       |WHERE doc_id % $mod = 0 AND doc_id NOT IN (SELECT id_new FROM m)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Dedup.simhashPairs]]: wide word hashes + second-lane
    * rehash ([[PortableHash.lane2]]), 128-bit sign-sum signature, 4×32-bit
    * band buckets (packed as BIGINTs exactly like the Spark plan's
    * `lo & m32 / lo >> 32 / hi & m32 / hi >> 32` slices), `maxBucket` cap,
    * Hamming verify over the 128 bit positions. */
  def simhashPairsSql(maxHamming: Int, maxBucket: Int): String = {
    import PortableHash.{L2A1, L2A2, L2C1, L2C2, P31b}
    val wide  = s"${wordPolySql("wd", 131L, 7L)} * $P + ${wordPolySql("wd", 137L, 11L)}"
    val lane2 = s"(((h % $P) * $L2A1 + $L2C1) % $P) * $P + (((h % $P31b) * $L2A2 + $L2C2) % $P)"
    def bits(src: String): Seq[String] = (0 until 64).map(b =>
      s"CASE WHEN list_sum(list_transform($src, h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END")
    val sg = (bits("wh") ++ bits("wb")).mkString("[", ", ", "]")
    // band b bucket = sum_j sg[b*32+j] * 2^j — identical to the packed-long
    // 32-bit slices on the Spark side (sign bits are never set)
    val bucket = s"list_sum(list_transform(range(0, 32), j -> sg[(band*32 + j + 1)::INT] * (1::BIGINT << j::INT)))::BIGINT"
    s"""WITH wv AS (SELECT doc_id, list_sort(list_distinct(list_transform(string_split(text, ' '), wd -> $wide))) AS wh FROM documents),
       |w2 AS (SELECT doc_id, wh, list_transform(wh, h -> $lane2) AS wb FROM wv),
       |sig AS (SELECT doc_id, $sg AS sg FROM w2),
       |bd AS (SELECT doc_id, band, $bucket AS bucket
       |       FROM sig, (SELECT unnest(range(0, 4)) AS band) bs),
       |ok AS (SELECT band, bucket FROM bd GROUP BY band, bucket HAVING count(*) <= $maxBucket),
       |bd2 AS (SELECT bd.* FROM bd JOIN ok USING (band, bucket)),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM bd2 a JOIN bd2 b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |v AS (SELECT id_a, id_b, list_sum(list_transform(range(1, 129),
       |        i -> CASE WHEN sa.sg[i::INT] <> sb.sg[i::INT] THEN 1 ELSE 0 END))::BIGINT AS hamming
       |      FROM cand JOIN sig sa ON sa.doc_id = cand.id_a JOIN sig sb ON sb.doc_id = cand.id_b)
       |SELECT id_a, id_b, hamming FROM v WHERE hamming <= $maxHamming ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")
  }

  // ---- embedding similarity ----------------------------------------------

  /** sequential-fold dot product over dim components — bit-identical to the
    * Spark kernels ([[graft.functions.ArrayKernels.dot]] and the HOF fold). */
  private def foldDot(a: String => String, b: String => String, dim: Int): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1, ${dim + 1}), i -> ${a("i::INT")} * ${b("i::INT")})), (x,y) -> x+y)"

  private def vecIdx(rel: String, colName: String)(i: String) = s"$rel.$colName[$i]::DOUBLE"

  private def cosSql(aRel: String, aCol: String, bRel: String, bCol: String, dim: Int): String = {
    val av = vecIdx(aRel, aCol) _
    val bv = vecIdx(bRel, bCol) _
    s"${foldDot(av, bv, dim)} / (sqrt(${foldDot(av, av, dim)}) * sqrt(${foldDot(bv, bv, dim)}))"
  }

  private def litArr(v: Seq[Double]): String = v.map(_.toString).mkString("[", ",", "]") + "::DOUBLE[]"

  /** mirror of [[Similarity.cosinePairs]] over the `vec_id < idMax` subset:
    * exact brute-force cosine pairs — the INDEPENDENT cross-check for the
    * LSH gates (those oracles mirror the bucketing algorithm itself, so a
    * bucketing bug replicated in the generator would pass; this one shares
    * nothing with the LSH code path beyond the fold-dot definition). */
  def cosinePairsSql(threshold: Double, dim: Int, idMax: Long): String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < $idMax),
       |v AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, round(${cosSql("a", "embedding", "b", "embedding", dim)}, 4) AS sim
       |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
       |SELECT id_a, id_b, sim FROM v WHERE sim >= $threshold ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.lshCosinePairs]]: per-table packed sign-bit
    * buckets against the SAME seeded hyperplanes, candidate dedup, exact
    * cosine verify. `multiProbe` mirrors the 1-bit probe expansion: the
    * probing side also visits every bucket one sign-flip away. */
  /** CTEs `e` (embeddings), `bkt` (per-table packed sign buckets) and `bd`
    * (exploded `(vec_id, tbl, bucket)`) against the SAME seeded hyperplanes
    * the Spark kernels use — shared by every LSH oracle. */
  private def lshBucketCtes(planesPerTable: Int, tables: Int, dim: Int): String = {
    val ev = vecIdx("e", "embedding") _
    val bucketExprs = (0 until tables).map { t =>
      val planes = Similarity.hyperplanes(planesPerTable, dim, seed = 42L + t)
      planes.zipWithIndex.map { case (p, i) =>
        val pv = (idx: String) => s"(${litArr(p.toSeq)})[$idx]"
        s"CASE WHEN ${foldDot(ev, pv, dim)} > 0 THEN ${1L << i} ELSE 0 END"
      }.mkString("(", " + ", ")::BIGINT")
    }
    val bktCols = bucketExprs.zipWithIndex.map { case (x, t) => s"$x AS b_$t" }.mkString(", ")
    val unioned = (0 until tables).map(t => s"SELECT vec_id, $t AS tbl, b_$t AS bucket FROM bkt").mkString(" UNION ALL ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |bkt AS (SELECT e.vec_id, $bktCols FROM e),
       |bd AS ($unioned)""".stripMargin
  }

  /** the 1-bit multi-probe expansion of `bd` (original bucket + each
    * one-sign-flip bucket), or plain `bd`. */
  private def probeRel(planesPerTable: Int, multiProbe: Boolean): String =
    if (!multiProbe) "bd"
    else {
      val masks = (0 until planesPerTable).map(j => s"${1L << j}::BIGINT").mkString("[", ",", "]")
      s"(SELECT vec_id, tbl, unnest(list_prepend(bucket, list_transform($masks, m -> xor(bucket, m)))) AS bucket FROM bd)"
    }

  def lshCosinePairsSql(threshold: Double, planesPerTable: Int, tables: Int, dim: Int,
                        multiProbe: Boolean = false): String =
    s"""WITH ${lshBucketCtes(planesPerTable, tables, dim)},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM ${probeRel(planesPerTable, multiProbe)} a JOIN bd b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |v AS (SELECT id_a, id_b, round(${cosSql("ea", "embedding", "eb", "embedding", dim)}, 4) AS sim
       |      FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b)
       |SELECT id_a, id_b, sim FROM v WHERE sim >= $threshold ORDER BY id_a, id_b""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.deduplicated]]: vectors with NO smaller-id
    * cosine near-duplicate (bucket-mates verified at `>= threshold`). */
  def vectorDeduplicatedSql(threshold: Double, planesPerTable: Int, tables: Int, dim: Int): String =
    s"""WITH ${lshBucketCtes(planesPerTable, tables, dim)},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bd a JOIN bd b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |drp AS (SELECT DISTINCT id_b FROM cand
       |        JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b
       |        WHERE round(${cosSql("ea", "embedding", "eb", "embedding", dim)}, 4) >= $threshold)
       |SELECT vec_id FROM embeddings WHERE vec_id NOT IN (SELECT id_b FROM drp)
       |ORDER BY vec_id""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.annJoin]] with queries = `vec_id % qmod = 0`
    * against the whole corpus: bucket-collision candidates (self-matches
    * excluded), exact cosine, per-query top-k by rank window. */
  /** the shared retrieval CTE chain (through the per-query rank `r`)
    * behind [[annJoinSql]] and [[knnClassifySql]]. */
  private def annJoinCtes(qmod: Int, planesPerTable: Int, tables: Int, dim: Int,
                          multiProbe: Boolean): String =
    annJoinCtesWhere(s"vec_id % $qmod = 0", planesPerTable, tables, dim, multiProbe)

  /** [[annJoinCtes]] with an arbitrary query-set predicate (e.g. an IN
    * subquery) instead of the modulo slice. */
  private def annJoinCtesWhere(queryWhere: String, planesPerTable: Int, tables: Int, dim: Int,
                               multiProbe: Boolean): String =
    s"""${lshBucketCtes(planesPerTable, tables, dim)},
       |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS id
       |         FROM (SELECT * FROM ${probeRel(planesPerTable, multiProbe)} WHERE $queryWhere) q
       |         JOIN bd c ON q.tbl = c.tbl AND q.bucket = c.bucket AND q.vec_id <> c.vec_id),
       |v AS (SELECT query_id, id, round(${cosSql("ea", "embedding", "eb", "embedding", dim)}, 4) AS sim
       |      FROM cand JOIN e ea ON ea.vec_id = cand.query_id JOIN e eb ON eb.vec_id = cand.id),
       |r AS (SELECT query_id, id, sim, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id)::INT AS rank FROM v)""".stripMargin

  def annJoinSql(k: Int, qmod: Int, planesPerTable: Int, tables: Int, dim: Int,
                 multiProbe: Boolean = false): String =
    s"""WITH ${annJoinCtes(qmod, planesPerTable, tables, dim, multiProbe)}
       |SELECT query_id, id, sim, rank FROM r WHERE rank <= $k ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.hardNegatives]]: the [[annJoinSql]] retrieval
    * chain, near-duplicates (4-dp sim at or above `dupCut`) dropped,
    * remainder re-ranked per query, top `m` kept. */
  def hardNegativesSql(m: Int, dupCut: Double, searchK: Int, qmod: Int,
                       planesPerTable: Int, tables: Int, dim: Int,
                       multiProbe: Boolean = false): String =
    s"""WITH ${annJoinCtes(qmod, planesPerTable, tables, dim, multiProbe)},
       |hn AS (SELECT query_id, id, sim,
       |         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, id) AS neg_rank
       |       FROM r WHERE rank <= $searchK AND sim < $dupCut)
       |SELECT query_id, id, sim, neg_rank FROM hn WHERE neg_rank <= $m
       |ORDER BY query_id, neg_rank""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.marginPairs]] with the gate's parity split
    * (A = even vec_ids, B = odd): LSH cross-set bucket candidates, cosines
    * on the 1e-4 integer lattice, exact BIGINT neighborhood sums, ratio
    * margin, mutual-argmax + threshold. Every double op replays the Spark
    * expression order on identical integer inputs. */
  def marginPairsSql(k: Int, threshold: Double, planesPerTable: Int, tables: Int, dim: Int): String =
    s"""WITH ${lshBucketCtes(planesPerTable, tables, dim)},
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |         FROM bd a JOIN bd b ON a.tbl = b.tbl AND a.bucket = b.bucket
       |         WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
       |v AS (SELECT id_a, id_b,
       |        CAST(round(round(${cosSql("ea", "embedding", "eb", "embedding", dim)}, 4) * 10000, 0) AS BIGINT) AS s
       |      FROM cand JOIN e ea ON ea.vec_id = cand.id_a JOIN e eb ON eb.vec_id = cand.id_b),
       |rk AS (SELECT id_a, id_b, s,
       |         row_number() OVER (PARTITION BY id_a ORDER BY s DESC, id_b) AS ra,
       |         row_number() OVER (PARTITION BY id_b ORDER BY s DESC, id_a) AS rb
       |       FROM v),
       |aa AS (SELECT id_a, sum(s)::BIGINT AS sa, count(*)::BIGINT AS ca FROM rk WHERE ra <= $k GROUP BY 1),
       |ab AS (SELECT id_b, sum(s)::BIGINT AS sb, count(*)::BIGINT AS cb FROM rk WHERE rb <= $k GROUP BY 1),
       |m AS (SELECT rk.id_a, rk.id_b, rk.s,
       |        rk.s / ((sa / ca + sb / cb) / 2.0) AS mg
       |      FROM rk JOIN aa ON aa.id_a = rk.id_a JOIN ab ON ab.id_b = rk.id_b
       |      WHERE ((sa / ca + sb / cb) / 2.0) > 0.0),
       |mm AS (SELECT id_a, id_b, s, mg,
       |         row_number() OVER (PARTITION BY id_a ORDER BY mg DESC, id_b) AS ma,
       |         row_number() OVER (PARTITION BY id_b ORDER BY mg DESC, id_a) AS mb
       |       FROM m)
       |SELECT id_a, id_b, s / 10000.0 AS sim, round(mg, 4) AS margin
       |FROM mm WHERE ma = 1 AND mb = 1 AND round(mg, 4) >= $threshold
       |ORDER BY id_a""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.contrastiveTriplets]]: minhash near-dup pairs
    * (suffixed CTEs) pick each anchor's positive (min paired id); the
    * retrieval chain runs with queries = the anchor set; negatives exclude
    * the positive BEFORE the re-rank, exactly like the Spark side. */
  def contrastiveTripletsSql(jaccardThreshold: Double, numHashes: Int, bands: Int, shingleK: Int,
                             maxBucket: Int, m: Int, dupCut: Double, searchK: Int,
                             planesPerTable: Int, tables: Int, dim: Int): String =
    s"""WITH ${minhashPairCtes(numHashes, bands, shingleK, maxBucket, sfx = "m")},
       |pos AS (SELECT id_a, min(id_b) AS positive_id FROM vm WHERE jaccard >= $jaccardThreshold GROUP BY id_a),
       |${annJoinCtesWhere("vec_id IN (SELECT id_a FROM pos)", planesPerTable, tables, dim, multiProbe = false)},
       |hn AS (SELECT r.query_id, r.id, r.sim,
       |         row_number() OVER (PARTITION BY r.query_id ORDER BY r.sim DESC, r.id) AS neg_rank
       |       FROM r JOIN pos ON pos.id_a = r.query_id
       |       WHERE r.rank <= $searchK AND r.sim < $dupCut AND r.id <> pos.positive_id)
       |SELECT hn.query_id AS anchor_id, pos.positive_id, hn.id AS negative_id, hn.sim, hn.neg_rank
       |FROM hn JOIN pos ON pos.id_a = hn.query_id WHERE hn.neg_rank <= $m
       |ORDER BY anchor_id, neg_rank""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Graph.partitionAgreement]] between the
    * CC labeling (recursive min-label CTE) and the LPA labeling
    * (`rounds` synchronous rounds) over ONE shared mined pair chain:
    * contingency pair counts are exact int64; the final ARI ratio spells
    * the Spark operand order (`S_a·S_b` as a double — int64 overflows at
    * corpus scale). */
  def ariSql(threshold: Double, numHashes: Int, bands: Int, shingleK: Int,
             maxBucket: Int, rounds: Int): String = {
    s"""WITH RECURSIVE ${minhashPairCtes(numHashes, bands, shingleK, maxBucket)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |$ccClosureCtes,
       |ca AS (SELECT d.doc_id AS id, coalesce(r.rep, d.doc_id) AS c
       |       FROM documents d LEFT JOIN reps r ON r.id = d.doc_id),
       |l0 AS (SELECT DISTINCT src AS id, src AS lbl FROM e),
       |${lpaRoundCtes(rounds)},
       |cb AS (SELECT d.doc_id AS id, coalesce(ll.lbl, d.doc_id) AS c
       |       FROM documents d LEFT JOIN l$rounds ll ON ll.id = d.doc_id),
       |ct AS (SELECT ca.c AS x, cb.c AS y, count(*)::BIGINT AS nij
       |       FROM ca JOIN cb USING (id) GROUP BY 1, 2),
       |sc AS (SELECT sum(nij * (nij - 1) // 2)::BIGINT AS sij, sum(nij)::BIGINT AS n FROM ct),
       |sa AS (SELECT sum(ai * (ai - 1) // 2)::BIGINT AS s FROM
       |  (SELECT sum(nij)::BIGINT AS ai FROM ct GROUP BY x)),
       |sb AS (SELECT sum(bj * (bj - 1) // 2)::BIGINT AS s FROM
       |  (SELECT sum(nij)::BIGINT AS bj FROM ct GROUP BY y))
       |SELECT sc.n AS n_docs, sc.sij AS pairs_both, sa.s AS pairs_a, sb.s AS pairs_b,
       |  CASE WHEN sc.n * (sc.n - 1) // 2 = 0 THEN 1.0::DOUBLE
       |       WHEN (sa.s::DOUBLE + sb.s::DOUBLE) / 2.0
       |              - (sa.s::DOUBLE * sb.s::DOUBLE) / (sc.n * (sc.n - 1) // 2)::DOUBLE = 0.0 THEN 1.0::DOUBLE
       |       ELSE round((sc.sij::DOUBLE - (sa.s::DOUBLE * sb.s::DOUBLE) / (sc.n * (sc.n - 1) // 2)::DOUBLE)
       |              / ((sa.s::DOUBLE + sb.s::DOUBLE) / 2.0
       |                 - (sa.s::DOUBLE * sb.s::DOUBLE) / (sc.n * (sc.n - 1) // 2)::DOUBLE), 6) END AS ari
       |FROM sc CROSS JOIN sa CROSS JOIN sb""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.operators.Relational.markovSteadyState]]: the
    * ev_trans window counts → full S×S stochastic matrix (dangling rows
    * self-loop) → `rounds` MATERIALIZED mat-vec rounds with per-round
    * renormalize + 6-dp snap, every fold ascending-state. */
  def markovSteadySql(rounds: Int): String = {
    val iterCtes = (1 to rounds).map { t =>
      s"""w$t AS MATERIALIZED (SELECT cr.j, list_reduce(list_prepend(0.0::DOUBLE,
         |    list_transform(generate_series(1, sl.ns), i2 -> cr.cl[i2::INT] * v.pi[i2::INT])), (a, b) -> a + b) AS w
         |  FROM crj cr CROSS JOIN p${t - 1} v CROSS JOIN sl),
         |p$t AS MATERIALIZED (SELECT list_transform(wl, x -> round(x / sw, 6)) AS pi FROM (
         |  SELECT wl, list_reduce(list_prepend(0.0::DOUBLE, wl), (a, b) -> a + b) AS sw
         |  FROM (SELECT list(w ORDER BY j) AS wl FROM w$t)))""".stripMargin
    }.mkString(",\n")
    s"""WITH tc AS MATERIALIZED (SELECT event_type AS f, nxt AS t, count(*)::BIGINT AS n FROM (
       |    SELECT event_type, lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS nxt FROM events)
       |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |sl AS MATERIALIZED (SELECT list(s ORDER BY s) AS sts, count(*)::BIGINT AS ns FROM
       |  (SELECT f AS s FROM tc UNION SELECT t AS s FROM tc)),
       |ij AS MATERIALIZED (SELECT a.i, b.i AS j FROM
       |  (SELECT unnest(generate_series(1, ns)) AS i FROM sl) a,
       |  (SELECT unnest(generate_series(1, ns)) AS i FROM sl) b),
       |cij AS MATERIALIZED (SELECT ij.i, ij.j, coalesce(tc.n, 0)::BIGINT AS n
       |  FROM ij CROSS JOIN sl LEFT JOIN tc ON tc.f = sl.sts[ij.i::INT] AND tc.t = sl.sts[ij.j::INT]),
       |rs AS MATERIALIZED (SELECT i, sum(n)::BIGINT AS r FROM cij GROUP BY i),
       |pij AS MATERIALIZED (SELECT cij.i, cij.j,
       |    CASE WHEN rs.r = 0 THEN (CASE WHEN cij.i = cij.j THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END)
       |         ELSE cij.n::DOUBLE / rs.r::DOUBLE END AS p
       |  FROM cij JOIN rs ON rs.i = cij.i),
       |crj AS MATERIALIZED (SELECT j, list(p ORDER BY i) AS cl FROM pij GROUP BY j),
       |p0 AS MATERIALIZED (SELECT list_transform(generate_series(1, ns), x -> 1.0::DOUBLE / ns) AS pi FROM sl),
       |$iterCtes
       |SELECT unnest(sl.sts) AS state, unnest(p.pi) AS steady_prob
       |FROM sl CROSS JOIN p$rounds p ORDER BY state""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Similarity.embeddingDrift]] with the gate's parity
    * split: per-side exact lattice dim sums → means → ascending-dim
    * dot/norm/diff folds → cosine (denominator floored) + L2 shift. */
  def embeddingDriftSql(dim: Int): String = {
    val fold = "(a, b) -> a + b"
    def side(name: String, pred: String): String =
      s"""d$name AS MATERIALIZED (SELECT i, count(*)::BIGINT AS n, sum(q[i::INT])::BIGINT AS s
         |  FROM (SELECT list_transform(embedding, x -> CAST(round(x::DOUBLE * 10000.0) AS BIGINT)) AS q,
         |               unnest(generate_series(1, $dim)) AS i
         |        FROM embeddings WHERE $pred) GROUP BY i),
         |g$name AS MATERIALIZED (SELECT list(s::DOUBLE / (10000.0 * n::DOUBLE) ORDER BY i) AS m,
         |  max(n)::BIGINT AS n FROM d$name)""".stripMargin
    s"""WITH ${side("a", "vec_id % 2 = 0")},
       |${side("b", "vec_id % 2 = 1")},
       |f AS (SELECT ga.n AS n_a, gb.n AS n_b,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim),
       |    i -> ga.m[i::INT] * gb.m[i::INT])), $fold) AS num,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim),
       |    i -> ga.m[i::INT] * ga.m[i::INT])), $fold) AS qa2,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim),
       |    i -> gb.m[i::INT] * gb.m[i::INT])), $fold) AS qb2,
       |  list_reduce(list_prepend(0.0::DOUBLE, list_transform(generate_series(1, $dim),
       |    i -> (ga.m[i::INT] - gb.m[i::INT]) * (ga.m[i::INT] - gb.m[i::INT]))), $fold) AS d2
       |  FROM ga CROSS JOIN gb)
       |SELECT n_a, n_b,
       |  round(num / greatest(sqrt(qa2) * sqrt(qb2), 1e-12), 6) AS mean_cosine,
       |  round(sqrt(d2), 6) AS mean_l2_shift
       |FROM f""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Multimodal.blockhashDedup]]: the identical
    * byte reads from hex slices (the `strpos` nibble trick maps '0'→0),
    * per-block integer sums over ceil-length ranges (DuckDB's `range` is
    * empty when start ≥ stop, matching Spark's empty `slice`), the same
    * cross-multiplied mean compare, and `1 << b` signature bits. */
  def blockhashDedupSql(blocks: Int): String = {
    def byte(i: String): String =
      s"(CAST(strpos('123456789ABCDEF', hx[2*($i)-1:2*($i)-1]) * 16 " +
        s"+ strpos('123456789ABCDEF', hx[2*($i):2*($i)]) AS BIGINT))"
    def sum(lo: String, hi: String): String =
      s"list_reduce(list_prepend(0::BIGINT, list_transform(range($lo, $hi), i -> ${byte("i")})), (a, c) -> a + c)"
    s"""WITH b0 AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text))::BIGINT AS nb
       |            FROM documents WHERE octet_length(encode(text)) > 0),
       |t AS (SELECT doc_id, hx, nb, ((nb + ${blocks - 1}) // $blocks)::BIGINT AS bl,
       |        ${sum("1", "nb + 1")} AS ts FROM b0),
       |blk AS (SELECT doc_id, nb, ts, u.b AS b,
       |          ${sum("b * bl + 1", "least((b + 1) * bl, nb) + 1")} AS sb,
       |          greatest(0, least(bl, nb - b * bl))::BIGINT AS m
       |        FROM t, unnest(range(0, $blocks)) AS u(b)),
       |sig AS (SELECT doc_id,
       |          sum(CASE WHEN m > 0 AND sb * nb > ts * m THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS signature
       |        FROM blk GROUP BY doc_id)
       |SELECT min(doc_id)::BIGINT AS doc_id, signature, count(*)::BIGINT AS n_docs
       |FROM sig GROUP BY signature ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.watermarkScores]]: the same
    * seeded portable word-hash parity greenlist, exact int64 counts, one
    * fixed double chain per doc. */
  def watermarkScoresSql(seed: Long, minTokens: Long): String =
    s"""WITH toks AS (SELECT doc_id, w FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1),
       |g AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |        sum(CASE WHEN (${wordPolySql("w", 131L, seed)} % 2) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_green
       |      FROM toks GROUP BY 1)
       |SELECT doc_id, n_tokens, n_green,
       |  round(n_green::DOUBLE / n_tokens::DOUBLE, 6) AS green_frac,
       |  round((2.0 * n_green::DOUBLE - n_tokens::DOUBLE) / sqrt(n_tokens::DOUBLE), 6) AS z
       |FROM g WHERE n_tokens >= $minTokens ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.Relational.bootstrapMeanSe]] over the
    * per-user spend-cents panel: the identical `"id#b"` portable-hash
    * Poisson(1) weights (cum-pmf thresholds on the 1e-4 lattice, cap 6),
    * per-replica weighted means (HUGEINT sum mirrors the decimal fold),
    * and ORDER BY-replica moment folds. */
  def bootstrapMeanSeSql(replicas: Int, seed: Long): String = {
    val h = s"(${wordPolySql("CAST(id AS VARCHAR) || '#' || CAST(b AS VARCHAR)", 131L, seed)} % 10000)"
    s"""WITH per AS (SELECT user_id AS id, sum(round(value*100)::BIGINT)::BIGINT AS x FROM events GROUP BY 1),
       |pt AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx FROM per),
       |rep AS (SELECT id, x, b, $h AS h FROM per, unnest(range(0, $replicas)) AS u(b)),
       |wt AS (SELECT b, x, CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1 WHEN h < 9197 THEN 2
       |         WHEN h < 9810 THEN 3 WHEN h < 9963 THEN 4 WHEN h < 9994 THEN 5 ELSE 6 END AS w FROM rep),
       |ms AS (SELECT b, sum(w)::BIGINT AS sw, sum(w * x) AS swx FROM wt GROUP BY b),
       |mm AS (SELECT list(swx::DOUBLE / sw::DOUBLE ORDER BY b) AS msl FROM ms WHERE sw > 0),
       |st AS (SELECT len(msl)::BIGINT AS n_replicas,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE), msl), (a, x) -> a + x)
       |           / len(msl)::DOUBLE AS mbar, msl FROM mm),
       |se AS (SELECT n_replicas,
       |         CASE WHEN n_replicas > 1 THEN
       |           sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |             list_transform(msl, x -> (x - mbar) * (x - mbar))), (a, y) -> a + y)
       |             / (n_replicas::DOUBLE - 1.0)) END AS sev FROM st)
       |SELECT pt.n, round(pt.sx::DOUBLE / pt.n::DOUBLE, 6) AS mean,
       |  se.n_replicas, round(se.sev, 6) AS boot_se
       |FROM pt, se""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Similarity.isotropyReport]]: the identical normalize →
    * 1e-6 snap → exact integer moments chain — per-dim sums square in
    * HUGEINT (the engine's decimal(38,0)), `‖Σu‖² − Σ‖u‖²` subtracts
    * exactly, and each side casts to double ONCE for the two divisions. */
  def isotropyReportSql(dim: Int): String = {
    val dot = foldDot(i => s"embedding[$i]::DOUBLE", i => s"embedding[$i]::DOUBLE", dim)
    s"""WITH q AS (SELECT list_transform(range(1, ${dim + 1}),
       |             i -> round(embedding[i::INT]::DOUBLE / sqrt($dot) * 1000000.0)::BIGINT) AS u
       |           FROM embeddings WHERE sqrt($dot) > 0),
       |r AS (SELECT u, list_reduce(list_prepend(0::BIGINT, list_transform(u, x -> x * x)),
       |        (a, b) -> a + b) AS q2 FROM q),
       |tot AS (SELECT count(*)::BIGINT AS n, sum(q2) AS sq2, $dim::BIGINT AS dim FROM r),
       |ds AS (SELECT i, sum(u[i::INT])::BIGINT AS s
       |       FROM (SELECT u, unnest(generate_series(1, $dim)) AS i FROM r) GROUP BY i),
       |sq AS (SELECT sum(s::HUGEINT * s::HUGEINT) AS ss FROM ds)
       |SELECT n, dim,
       |  CASE WHEN n > 1 THEN
       |    round((ss - sq2)::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0) * 1e12), 6) END AS mean_pair_cos,
       |  round(sqrt(ss::DOUBLE) / (n::DOUBLE * 1000000.0), 6) AS centroid_norm
       |FROM tot, sq""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Similarity.rankEval]] over the [[annJoinSql]] retrieval
    * chain: per-query ln-discount DCG / nDCG / MRR / P@k against label
    * relevance, every fold ascending-rank. */
  def rankEvalSql(k: Int, qmod: Int, planesPerTable: Int, tables: Int, dim: Int): String = {
    val dcg = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(rr, e2 -> e2.rel::DOUBLE / ln(e2.rank::DOUBLE + 1.0))), (a, b) -> a + b)"
    s"""WITH ${annJoinCtes(qmod, planesPerTable, tables, dim, multiProbe = false)},
       |nb AS (SELECT query_id, id, rank FROM r WHERE rank <= $k),
       |rl AS (SELECT nb.query_id, nb.rank,
       |         (CASE WHEN lq.label = ln2.label THEN 1 ELSE 0 END)::BIGINT AS rel
       |       FROM nb JOIN embeddings lq ON lq.vec_id = nb.query_id
       |               JOIN embeddings ln2 ON ln2.vec_id = nb.id),
       |g AS (SELECT query_id,
       |        list_sort(list(struct_pack(rank := rank, rel := rel))) AS rr,
       |        sum(rel)::BIGINT AS n_rel,
       |        min(CASE WHEN rel = 1 THEN rank END) AS frank
       |      FROM rl GROUP BY query_id)
       |SELECT query_id, n_rel,
       |  round($dcg, 6) AS dcg,
       |  CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
       |    round($dcg / list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(generate_series(1, least(n_rel, $k)), i -> 1.0::DOUBLE / ln(i::DOUBLE + 1.0))), (a, b) -> a + b), 6) END AS ndcg,
       |  CASE WHEN frank IS NULL THEN 0.0::DOUBLE ELSE round(1.0::DOUBLE / frank::DOUBLE, 6) END AS mrr,
       |  round(n_rel::DOUBLE / ${k}.0, 6) AS p_at_k
       |FROM g ORDER BY query_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[Similarity.knnClassify]]: the [[annJoinSql]] retrieval
    * chain, labels joined on the neighbor id (cast BIGINT so the hash
    * compare sees int64 — storage is int32), majority vote with
    * smaller-label tie-break. */
  def knnClassifySql(k: Int, qmod: Int, planesPerTable: Int, tables: Int, dim: Int,
                     multiProbe: Boolean = false): String =
    s"""WITH ${annJoinCtes(qmod, planesPerTable, tables, dim, multiProbe)},
       |vt AS (SELECT query_id, el.label::BIGINT AS label, count(*)::BIGINT AS votes
       |       FROM r JOIN embeddings el ON el.vec_id = r.id WHERE rank <= $k GROUP BY 1, 2),
       |rv AS (SELECT query_id, label, votes,
       |         row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS vr FROM vt)
       |SELECT query_id, label, votes FROM rv WHERE vr = 1 ORDER BY query_id""".stripMargin.replace("\n", " ")

  /** [[lshCosinePairsSql]] with CORPUS-DERIVED parameters — the oracle twin
    * of [[Similarity.lshCosinePairsAuto]]. `n` is the live corpus count
    * (supplied by Verify from the embeddings table at the gated SF); k and L
    * come from the same [[Similarity.planesFor]]/[[Similarity.tablesFor]]
    * sizing the Spark side runs, so both sides stay in lockstep at every
    * scale factor without pinning either. */
  def lshCosinePairsAutoSql(threshold: Double, n: Long, simTarget: Double, recall: Double,
                            margin: Int, multiProbe: Boolean, dim: Int): String = {
    val k = Similarity.planesFor(n, margin)
    val l = if (multiProbe) Similarity.tablesForMultiProbe(k, simTarget, recall)
            else Similarity.tablesFor(k, simTarget, recall)
    lshCosinePairsSql(threshold, k, l, dim, multiProbe)
  }

  /** mirror of [[Similarity.gateAgainstCorpus]] with the corpus/new split
    * `vec_id % mod <> 0` / `= 0`: new vectors surviving the cosine
    * near-dup gate against the corpus vector index. */
  def vectorGateSql(threshold: Double, planesPerTable: Int, tables: Int, dim: Int, mod: Int): String =
    s"""WITH ${lshBucketCtes(planesPerTable, tables, dim)},
       |cand AS (SELECT DISTINCT f.vec_id AS id_new, c.vec_id AS id_corpus
       |         FROM (SELECT * FROM bd WHERE vec_id % $mod = 0) f
       |         JOIN (SELECT * FROM bd WHERE vec_id % $mod <> 0) c ON f.tbl = c.tbl AND f.bucket = c.bucket),
       |m AS (SELECT DISTINCT id_new FROM cand
       |      JOIN e ea ON ea.vec_id = cand.id_new JOIN e eb ON eb.vec_id = cand.id_corpus
       |      WHERE round(${cosSql("ea", "embedding", "eb", "embedding", dim)}, 4) >= $threshold)
       |SELECT vec_id FROM embeddings
       |WHERE vec_id % $mod = 0 AND vec_id NOT IN (SELECT id_new FROM m)
       |ORDER BY vec_id""".stripMargin.replace("\n", " ")

  // ---- text metrics + composed training mix -------------------------------

  /** per-language marker-hit subquery over `rel`, generated from
    * [[graft.pipeline.TextAnalysis.LangMarkers]] so Spark and oracle stay
    * in lockstep. */
  def langHitsSql(rel: String = "documents"): String = {
    val hitCols = graft.pipeline.TextAnalysis.LangMarkers.map { case (lang, markers) =>
      val lst = markers.map(m => s"'$m'").mkString("[", ",", "]")
      s"len(list_intersect(list_distinct(string_split(text, ' ')), $lst)) AS h_$lang"
    }.mkString(", ")
    s"SELECT doc_id, lang, $hitCols FROM $rel"
  }

  /** first-wins argmax CASE chain over the `h_<lang>` hit columns. */
  def langCaseSql: String = {
    val langs = graft.pipeline.TextAnalysis.LangMarkers.map(_._1)
    val cases = langs.init.zipWithIndex.map { case (lang, i) =>
      val later = langs.drop(i + 1).map(l => s"h_$lang >= h_$l").mkString(" AND ")
      s"WHEN $later THEN '$lang'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** `(doc_id, n_tokens, quality)` over `rel` — mirror of
    * [[graft.pipeline.TextAnalysis.qualityCols]]. */
  def qualityCte(rel: String = "documents"): String = {
    val sw    = "['the','a','of','and','to','in','is','on','for','it']"
    val hits  = s"len(list_filter(ws, x -> list_contains($sw, x)))*1.0"
    val punct = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))*1.0"
    s"SELECT doc_id, len(ws) AS n_tokens, round(least(len(ws)/64.0, 1.0)*0.5 + least($hits/greatest(len(ws)*0.1, 1.0), 1.0)*0.4 - least($punct/greatest(len(ws)*1.0, 1.0), 1.0)*0.1 + 0.1, 4) AS quality FROM (SELECT doc_id, text, string_split(text, ' ') AS ws FROM $rel)"
  }

  /**
   * End-to-end mirror of [[graft.pipeline.Curate.trainingMix]] with the
   * corpus/eval split `doc_id % mod <> 0` / `= 0` — the composition of the
   * stage oracles (curate membership → n-gram decontamination → minhash CC
   * representative dedup → stratified hash mix → sequence packing), each
   * CTE chain replaying exactly what its Spark stage computes.
   */
  def trainingMixSql(
      mixRates: Seq[(String, Double)],
      seqTokens: Long,
      keepLangs: Seq[String],
      minQuality: Double,
      nearDupThreshold: Double,
      deconShingleK: Int,
      mod: Int,
      seed: Long = 7L,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 1000,
      scrub: Boolean = false,
      repetition: Option[(Double, Double, Double)] = None,
      capK: Option[Int] = None
  ): String = {
    val langsIn = keepLangs.map(l => s"'$l'").mkString(", ")
    val h = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    val keep = mixRates.sortBy(_._1)
      .map { case (st, r) => s"(predicted_lang = '$st' AND h < ${math.round(r * 10000)})" }
      .mkString(" OR ")
    val baseText = if (scrub) s"${scrubExpr("text")} AS text" else "text"
    // optional repetition reject: rr ratios over base, gated members only
    val repCtes = repetition.fold("") { case (dw, tw, db) =>
      s"""${repetitionRatioCtes("base")},
         |repok AS (SELECT doc_id FROM rr
         |          WHERE NOT (dup_word_ratio > $dw OR top_word_ratio > $tw OR dup_bigram_ratio > $db)),
         |""".stripMargin
    }
    val s1 = if (repetition.isDefined)
      "SELECT cur.doc_id, predicted_lang FROM cur JOIN repok ON repok.doc_id = cur.doc_id"
    else "SELECT doc_id, predicted_lang FROM cur"
    // optional per-source cap: k best-quality (curation-pass quality) per source
    val s2 = capK.fold("SELECT doc_id, predicted_lang FROM s1") { k =>
      s"""SELECT doc_id, predicted_lang FROM (
         |  SELECT s1.doc_id, s1.predicted_lang,
         |         row_number() OVER (PARTITION BY b.source ORDER BY qq.quality DESC, s1.doc_id) AS rn
         |  FROM s1 JOIN base b ON b.doc_id = s1.doc_id JOIN qq ON qq.doc_id = s1.doc_id) WHERE rn <= $k""".stripMargin
    }
    s"""WITH RECURSIVE
       |base AS (SELECT doc_id, $baseText, lang, source FROM documents WHERE doc_id % $mod <> 0),
       |lh AS (${langHitsSql("base")}),
       |lq AS (SELECT doc_id, $langCaseSql AS predicted_lang FROM lh),
       |qq AS (${qualityCte("base")}),
       |xreps AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY text),
       |cur AS (SELECT lq.doc_id, predicted_lang FROM lq
       |        JOIN qq ON lq.doc_id = qq.doc_id JOIN xreps ON lq.doc_id = xreps.doc_id
       |        WHERE predicted_lang IN ($langsIn) AND quality >= $minQuality AND n_tokens BETWEEN 5 AND 100000),
       |${repCtes}s1 AS ($s1),
       |s2 AS ($s2),
       |surv AS (SELECT b.* FROM base b JOIN s2 ON b.doc_id = s2.doc_id),
       |${shingleCtes(deconShingleK, "surv", "_d")},
       |evald AS (SELECT * FROM documents WHERE doc_id % $mod = 0),
       |${shingleCtes(deconShingleK, "evald", "_e")},
       |evh AS (SELECT DISTINCT unnest(sh) AS hh FROM s_e),
       |con AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(sh) AS hh FROM s_d) c JOIN evh USING (hh)),
       |clean AS (SELECT surv.* FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM con)),
       |${minhashPairCtes(numHashes, bands, shingleK, maxBucket, rel = "clean", sfx = "_m")},
       |p AS (SELECT id_a, id_b FROM v_m WHERE jaccard >= $nearDupThreshold),
       |ee AS (SELECT id_a AS src, id_b AS dst FROM p UNION ALL SELECT id_b, id_a FROM p),
       |lab(id, l) AS (SELECT DISTINCT src, src FROM ee UNION SELECT ee.dst, lab.l FROM lab JOIN ee ON ee.src = lab.id),
       |reps2 AS (SELECT id, min(l) AS rep FROM lab GROUP BY id),
       |dd AS (SELECT c.doc_id FROM clean c LEFT JOIN reps2 r ON r.id = c.doc_id
       |       WHERE coalesce(r.rep, c.doc_id) = c.doc_id),
       |wl AS (SELECT s2.doc_id, predicted_lang FROM s2 JOIN dd ON s2.doc_id = dd.doc_id),
       |mx AS (SELECT doc_id FROM (SELECT doc_id, predicted_lang, $h AS h FROM wl) WHERE $keep),
       |tok AS (SELECT b.doc_id, len(string_split(b.text, ' '))::BIGINT AS n_tokens FROM base b JOIN mx ON b.doc_id = mx.doc_id)
       |SELECT doc_id, n_tokens,
       |  CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) / $seqTokens.0) AS BIGINT) AS seq_id
       |FROM tok ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** CTE chain `e … a1` replaying [[Similarity.ivfBuild]] (deterministic
    * seeds + one Lloyd refinement): `a1` holds `(id, v, centroid)` — shared
    * by the IVF top-k and semantic-dedup oracles. */
  private def ivfAssignCtes(nlist: Int, dim: Int): String = {
    def assignCte(centRel: String): String =
      s"""SELECT id, v, cid AS centroid FROM (
         |  SELECT e.vec_id AS id, e.embedding AS v, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e", "embedding", "c", "cvec", dim)} DESC, c.cid ASC) AS rn
         |  FROM e CROSS JOIN $centRel c) t WHERE rn = 1""".stripMargin
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |seeds AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $nlist),
       |a0 AS (${assignCte("seeds")}),
       |m AS (SELECT centroid, ii.i, round(avg(v[ii.i::INT]::DOUBLE), 6)::FLOAT AS mv
       |      FROM a0, (SELECT unnest(range(1, ${dim + 1})) AS i) ii GROUP BY centroid, ii.i),
       |c1 AS (SELECT centroid AS cid, list(mv ORDER BY i) AS cvec FROM m GROUP BY centroid),
       |a1 AS (${assignCte("c1")})""".stripMargin
  }

  /** mirror of [[Similarity.ivfBuild]] (one Lloyd refinement) +
    * [[Similarity.ivfTopK]] probing for the query vector `vec_id = 0`. */
  def ivfTopKSql(nlist: Int, nprobe: Int, k: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c1, q ORDER BY ${cosSql("c1", "cvec", "q", "qv", dim)} DESC, cid LIMIT $nprobe),
       |r AS (SELECT id, ${cosSql("a1", "v", "q", "qv", dim)} AS s FROM a1, q WHERE a1.centroid IN (SELECT cid FROM probe))
       |SELECT id, round(s, 3) AS sim FROM r ORDER BY s DESC, id LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.semDedup]]: IVF clustering, then within-cluster
    * pairwise cosine — a vector is dropped iff a smaller-id cluster member
    * is ≥ tau similar. */
  /** mirror of [[Similarity.recallAtK]] over (IVF nprobe retrieval, brute
    * force) for query `vec_id = 0`: both top-k chains with the SAME cosine
    * fold, left-joined on id. */
  def annRecallSql(nlist: Int, nprobe: Int, k: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
       |probe AS (SELECT cid FROM c1, q ORDER BY ${cosSql("c1", "cvec", "q", "qv", dim)} DESC, cid LIMIT $nprobe),
       |iv AS (SELECT id FROM (SELECT id, ${cosSql("a1", "v", "q", "qv", dim)} AS s FROM a1, q
       |       WHERE a1.centroid IN (SELECT cid FROM probe)) ORDER BY s DESC, id LIMIT $k),
       |br AS (SELECT vec_id AS id FROM (SELECT e.vec_id, ${cosSql("e", "embedding", "q", "qv", dim)} AS s FROM e, q)
       |       ORDER BY s DESC, id LIMIT $k)
       |SELECT count(*)::BIGINT AS k, count(iv.id)::BIGINT AS hits,
       |  round(count(iv.id)::DOUBLE / count(*)::DOUBLE, 4) AS recall
       |FROM br LEFT JOIN iv USING (id)""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.clusterReport]]: refined assignment, cosine of
    * each member to its centroid snapped to 1e-6 fixed point, exact
    * integer per-cluster sum, one final division. */
  def clusterReportSql(nlist: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)}
       |SELECT a1.centroid, count(*)::BIGINT AS n_vectors,
       |  round(sum(round(${cosSql("a1", "v", "c1", "cvec", dim)} * 1000000.0)::BIGINT)::DOUBLE
       |    / (count(*)::DOUBLE * 1000000.0), 6) AS cohesion
       |FROM a1 JOIN c1 ON a1.centroid = c1.cid
       |GROUP BY a1.centroid ORDER BY a1.centroid""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.clusterOutliers]]: snapped member cosines,
    * exact per-cluster int moments (Σ² folds exactly — HUGEINT here,
    * decimal(38,0) engine-side — then ONE cast to double), bottom-k by
    * the unrounded within-cluster z with id ties. */
  def clusterOutliersSql(nlist: Int, dim: Int, k: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |sc AS (SELECT a1.id, a1.centroid,
       |         round(${cosSql("a1", "v", "c1", "cvec", dim)} * 1000000.0)::BIGINT AS s6
       |       FROM a1 JOIN c1 ON a1.centroid = c1.cid),
       |mo AS (SELECT centroid, count(*)::BIGINT AS n, sum(s6)::BIGINT AS ss,
       |         sum(s6 * s6)::DOUBLE AS qq FROM sc GROUP BY centroid),
       |f AS (SELECT sc.id, sc.centroid, sc.s6, mo.n,
       |        ss::DOUBLE / n::DOUBLE AS mean6,
       |        (qq - ss::DOUBLE * ss::DOUBLE / n::DOUBLE) / (n - 1)::DOUBLE AS var6
       |      FROM sc JOIN mo USING (centroid))
       |SELECT id AS vec_id, centroid, round(s6 / 1000000.0, 6) AS sim,
       |  round((s6::DOUBLE - mean6) / sqrt(var6), 6) AS z
       |FROM f WHERE n > 1 AND var6 > 0
       |ORDER BY (s6::DOUBLE - mean6) / sqrt(var6), id LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.clusterPurity]]: refined assignment joined to
    * labels, per-cluster majority share with smaller-label ties. */
  def clusterPuritySql(nlist: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |lc AS (SELECT a1.centroid, e2.label::BIGINT AS label, count(*)::BIGINT AS c
       |       FROM a1 JOIN embeddings e2 ON e2.vec_id = a1.id GROUP BY 1, 2),
       |tp AS (SELECT centroid, label, c,
       |         row_number() OVER (PARTITION BY centroid ORDER BY c DESC, label) AS rn FROM lc),
       |nc AS (SELECT centroid, sum(c)::BIGINT AS n FROM lc GROUP BY centroid)
       |SELECT nc.centroid, nc.n AS n_vectors, tp.label AS top_label, tp.c AS top_count,
       |  round(tp.c::DOUBLE / nc.n::DOUBLE, 6) AS purity
       |FROM nc JOIN tp ON tp.centroid = nc.centroid AND tp.rn = 1
       |ORDER BY nc.centroid""".stripMargin.replace("\n", " ")

  /** mirror of [[Similarity.clusterBalancedSample]]: refined assignment,
    * per-cluster prototypicality rank (cosine to the 6-dp-snapped mean
    * centroid, id tiebreak), top `perCluster` kept. */
  def clusterBalancedSampleSql(nlist: Int, perCluster: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |r AS (SELECT a1.id, a1.centroid, ${cosSql("a1", "v", "c", "cvec", dim)} AS proto,
       |        row_number() OVER (PARTITION BY a1.centroid
       |          ORDER BY ${cosSql("a1", "v", "c", "cvec", dim)} DESC, a1.id) AS rn
       |      FROM a1 JOIN c1 c ON c.cid = a1.centroid)
       |SELECT id, centroid, round(proto, 4) AS proto_sim FROM r WHERE rn <= $perCluster
       |ORDER BY id""".stripMargin.replace("\n", " ")

  def semDedupSql(tau: Double, nlist: Int, dim: Int): String =
    s"""WITH ${ivfAssignCtes(nlist, dim)},
       |drp AS (SELECT DISTINCT b.id FROM a1 a JOIN a1 b ON a.centroid = b.centroid AND a.id < b.id
       |        WHERE round(${cosSql("a", "v", "b", "v", dim)}, 4) >= $tau)
       |SELECT a1.id, a1.centroid, (drp.id IS NULL) AS kept
       |FROM a1 LEFT JOIN drp ON drp.id = a1.id ORDER BY a1.id""".stripMargin.replace("\n", " ")

  /** mirror of [[Dedup.contaminationReport]] with the corpus/eval split
    * `doc_id % mod <> 0` / `= 0`: per-doc count of distinct k-shingles
    * shared with the eval slice, reported at `hits >= minHits`. */
  def contaminationReportSql(shingleK: Int, minHits: Long, mod: Int): String =
    s"""WITH ${shingleCtes(shingleK)},
       |ev AS (SELECT DISTINCT unnest(sh) AS h FROM s WHERE doc_id % $mod = 0),
       |hits AS (SELECT c.doc_id, count(*) AS hits
       |         FROM (SELECT doc_id, unnest(sh) AS h FROM s WHERE doc_id % $mod <> 0) c
       |         JOIN ev USING (h) GROUP BY c.doc_id)
       |SELECT doc_id, hits FROM hits WHERE hits >= $minHits ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** CTEs `rw`/`rb`/`rr` computing the per-doc repetition ratios over `rel`
    * — mirror of [[graft.pipeline.TextAnalysis.repetitionCols]], shared by
    * the signal gate and the composed-mix oracle. */
  private def repetitionRatioCtes(rel: String): String =
    s"""rw AS (SELECT doc_id, string_split(text, ' ') AS w FROM $rel),
       |rb AS (SELECT doc_id, w,
       |        CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> w[i::INT] || ' ' || w[(i+1)::INT]) ELSE [] END AS bg
       |      FROM rw),
       |rr AS (SELECT doc_id,
       |        round(1.0 - len(list_distinct(w))*1.0/len(w), 4) AS dup_word_ratio,
       |        round(list_max(list_transform(list_distinct(w), d -> len(list_filter(w, x -> x = d))))*1.0/len(w), 4) AS top_word_ratio,
       |        CASE WHEN len(bg) > 0 THEN round(1.0 - len(list_distinct(bg))*1.0/len(bg), 4) ELSE 0.0 END AS dup_bigram_ratio
       |      FROM rb)""".stripMargin

  /** mirror of [[graft.pipeline.TextAnalysis.repetitionSignals]]: per-doc
    * duplicate-word, top-word and duplicate-bigram ratios with the Gopher
    * reject flag. */
  def repetitionSignalsSql(dupWordMax: Double, topWordMax: Double, dupBigramMax: Double): String =
    s"""WITH ${repetitionRatioCtes("documents")}
       |SELECT doc_id, dup_word_ratio, top_word_ratio, dup_bigram_ratio,
       |       (dup_word_ratio > $dupWordMax OR top_word_ratio > $topWordMax OR dup_bigram_ratio > $dupBigramMax) AS repetitive
       |FROM rr ORDER BY doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.tokenQuantiles]]: per-group
    * exact linear-interpolation percentiles of the token count. */
  def tokenQuantilesSql(ps: Seq[Double], groupCol: String = "lang"): String = {
    val aggs = ps.map(p => s"round(quantile_cont(n, $p), 4) AS p${math.round(p * 100)}_tokens").mkString(", ")
    s"""SELECT $groupCol, $aggs
       |FROM (SELECT $groupCol, len(string_split(text, ' '))::DOUBLE AS n FROM documents)
       |GROUP BY $groupCol ORDER BY $groupCol""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.filterByTokenQuantile]]:
    * docs at or above their group's p-th token-count percentile. */
  def quantileFilterSql(p: Double, groupCol: String = "lang"): String =
    s"""WITH n AS (SELECT doc_id, $groupCol, len(string_split(text, ' '))::DOUBLE AS n FROM documents),
       |c AS (SELECT $groupCol, round(quantile_cont(n, $p), 4) AS cutoff FROM n GROUP BY $groupCol)
       |SELECT n.doc_id, n.$groupCol FROM n JOIN c USING ($groupCol)
       |WHERE n.n >= c.cutoff ORDER BY n.doc_id""".stripMargin.replace("\n", " ")

  /** the nested global-replacement chain of [[graft.pipeline.TextAnalysis.PiiPatterns]]
    * over a column expression (no hit counts) — shared by the scrub gate
    * and the composed-mix oracle. */
  private def scrubExpr(c: String): String =
    graft.pipeline.TextAnalysis.PiiPatterns.foldLeft(c) { case (acc, (re, token)) =>
      s"regexp_replace($acc, '$re', '$token', 'g')"
    }

  /** mirror of [[graft.pipeline.TextAnalysis.scrubPii]]: the same pattern
    * chain (from the same Scala list — no drift), stage-sequential hit
    * counts, global replacement. */
  def scrubPiiSql(): String = {
    val stages = graft.pipeline.TextAnalysis.PiiPatterns.zipWithIndex.map {
      case ((re, token), i) =>
        s"""s${i + 1} AS (SELECT doc_id, ${(1 to i).map(j => s"h$j, ").mkString}len(regexp_extract_all(t, '$re')) AS h${i + 1},
           |  regexp_replace(t, '$re', '$token', 'g') AS t FROM s$i)""".stripMargin
    }
    val n = graft.pipeline.TextAnalysis.PiiPatterns.size
    s"""WITH s0 AS (SELECT doc_id, text AS t FROM documents),
       |${stages.mkString(",\n")}
       |SELECT doc_id, t AS text, (${(1 to n).map(j => s"h$j").mkString(" + ")})::BIGINT AS pii_hits
       |FROM s$n ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Curate.capPerGroup]]: the k highest-quality
    * docs per source, ties broken by ascending id. */
  def capPerGroupSql(k: Int, groupCol: String = "source"): String =
    s"""WITH q AS (SELECT d.$groupCol, qq.* FROM (${qualityCte()}) qq JOIN documents d ON d.doc_id = qq.doc_id),
       |r AS (SELECT doc_id, $groupCol, quality,
       |        row_number() OVER (PARTITION BY $groupCol ORDER BY quality DESC, doc_id) AS rn FROM q)
       |SELECT doc_id, $groupCol, quality FROM r WHERE rn <= $k ORDER BY doc_id""".stripMargin.replace("\n", " ")

  // ---- keyword retrieval ---------------------------------------------

  /** CTEs replaying [[graft.pipeline.Retrieval.bm25Scores]]: whitespace
    * tokens, per-doc length, corpus `n`/`avgdl`, tf/df over the query
    * terms, and the per-term Okapi weight written with the EXACT operation
    * order of the Spark column expression — the constants are spelled as
    * the same source literals (`$$k1 + 1`, `1.0 - $$b`), both engines fold
    * them with the same IEEE arithmetic, and the per-doc score is an
    * ascending-sorted left fold of the per-term weights (mirroring
    * `Retrieval.foldSum`), so scores are bit-identical for ANY term count
    * and top-k selection on the UNROUNDED score agrees without tolerance. */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'$t'").mkString("(", ",", ")")
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl),
       |tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks WHERE term IN $termList GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
       |wts AS (SELECT tf.doc_id,
       |          ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ($k1 + 1)) / (tf + $k1 * (1.0 - $b + $b * dl / avgdl)) AS wt
       |        FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
       |sc AS (SELECT doc_id, $foldSumSql AS score FROM wts GROUP BY doc_id)""".stripMargin
  }

  /** mirror of [[graft.pipeline.Retrieval.rankAgreement]]: both lists
    * re-ranked by their reported (rounded, gate-proven-identical) scores
    * with id tie-break, then Kendall τ over the C(m,2) intersection
    * pairs — exact int concordant/discordant counts, one division. */
  def rankAgreementSql(aSql: String, bSql: String): String =
    s"""WITH a AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra FROM ($aSql)),
       |b AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rb FROM ($bSql)),
       |j AS (SELECT a.doc_id AS id, ra, rb FROM a JOIN b USING (doc_id)),
       |p AS (SELECT (x.ra - y.ra) * (x.rb - y.rb) AS s FROM j x JOIN j y ON x.id < y.id),
       |agg AS (SELECT count(*)::BIGINT AS n_pairs,
       |  coalesce(sum(CASE WHEN s > 0 THEN 1 ELSE 0 END), 0)::BIGINT AS n_concordant,
       |  coalesce(sum(CASE WHEN s < 0 THEN 1 ELSE 0 END), 0)::BIGINT AS n_discordant FROM p),
       |m AS (SELECT count(*)::BIGINT AS n_common FROM j)
       |SELECT n_common, n_pairs, n_concordant, n_discordant,
       |  CASE WHEN n_pairs = 0 THEN 0.0::DOUBLE
       |       ELSE round((n_concordant - n_discordant)::DOUBLE / n_pairs::DOUBLE, 6) END AS tau
       |FROM m CROSS JOIN agg""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Retrieval.rankBiasedOverlap]]: the SAME
    * `p^{d−1}/d` weight doubles computed here once and embedded as
    * literals (no cross-engine `pow`), per-id slice folds in array order,
    * one sorted total fold, the `1−p` factor as the identical double. */
  def rankBiasedOverlapSql(aSql: String, bSql: String, k: Int, p: Double): String = {
    val w   = (1 to k).map(d => (math.pow(p, d - 1) / d).toString).mkString("[", ",", "]") + "::DOUBLE[]"
    val omp = s"${1.0 - p}::DOUBLE"
    s"""WITH a AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra FROM ($aSql)),
       |b AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rb FROM ($bSql)),
       |j AS (SELECT a.doc_id AS id, ra, rb FROM a JOIN b USING (doc_id) WHERE ra <= $k AND rb <= $k),
       |c AS (SELECT list_reduce(list_prepend(0.0::DOUBLE,
       |        list_slice($w, greatest(ra, rb)::INT, $k::INT)), (x, y) -> x + y) AS cv FROM j)
       |SELECT count(*)::BIGINT AS n_common,
       |  round($omp * coalesce(list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(cv))), (x, y) -> x + y), 0.0), 6) AS rbo
       |FROM c""".stripMargin.replace("\n", " ")
  }

  /** mirror of `Retrieval.foldSum`: ascending sort + seeded left fold. */
  private val foldSumSql =
    "list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(wt))), (a, b) -> a + b)"

  /** mirror of [[graft.pipeline.Retrieval.bm25TopK]]: order by the
    * unrounded score (ties by id), round only the reported value. */
  def bm25TopKSql(terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75, dp: Int = 4): String =
    s"""WITH ${bm25Ctes(terms, k1, b)}
       |SELECT doc_id, round(sc.score, $dp) AS score FROM sc
       |ORDER BY sc.score DESC, doc_id LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Retrieval.qlTopK]]: Dirichlet-smoothed
    * query likelihood — tf/cf/dl/|C| exact int64s, the weight spelled
    * with the engine's operation order, per-doc sorted fold, top-k on the
    * unrounded score (ties by id), rounding applied after. Terms absent
    * from the corpus drop out via the cf inner derivation, matching the
    * engine's documented contract. */
  def qlTopKSql(terms: Seq[String], k: Int, mu: Double = 2000.0, dp: Int = 4): String = {
    val termList = terms.distinct.map(t => s"'$t'").mkString("(", ",", ")")
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
       |cs AS (SELECT sum(dl)::BIGINT AS c FROM dl),
       |cf AS (SELECT term, count(*)::BIGINT AS cf FROM toks WHERE term IN $termList GROUP BY term),
       |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks WHERE term IN $termList GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT doc_id FROM tf),
       |g AS (SELECT cand.doc_id, cf.term, cf.cf, dl.dl, COALESCE(tf.tf, 0)::BIGINT AS tf
       |      FROM cand CROSS JOIN cf JOIN dl USING (doc_id)
       |      LEFT JOIN tf ON tf.doc_id = cand.doc_id AND tf.term = cf.term),
       |w AS (SELECT doc_id, ln((tf::DOUBLE + $mu * cf::DOUBLE / c::DOUBLE) / (dl::DOUBLE + $mu)) AS wt
       |      FROM g CROSS JOIN cs),
       |sc AS (SELECT doc_id, $foldSumSql AS score FROM w GROUP BY doc_id)
       |SELECT doc_id, round(sc.score, $dp) AS score FROM sc
       |ORDER BY sc.score DESC, doc_id LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.mmrRerank]]: BM25 shortlist on
    * the unrounded score, word-set jaccard sims (4-dp snapped, like the
    * 4-dp rel), then the k greedy picks UNROLLED as one CTE per step —
    * each picks the argmax of `λ·rel − (1−λ)·max-sim-to-selected` (ties
    * by doc id) from the not-yet-selected shortlist. The λ constants are
    * the same source literals on both sides, so every compare happens on
    * bit-identical doubles. */
  def mmrRerankSql(terms: Seq[String], k: Int, kCand: Int, lambda: Double,
                   k1: Double = 1.2, b: Double = 0.75): String = {
    // DECIMAL-literal trap: bare `0.7` is DECIMAL in DuckDB, so `1.0-0.7`
    // folds EXACTLY to 0.3 where Java computes the IEEE 0.30000000000000004
    // — every λ term must be a DOUBLE literal for the compares to agree
    val lam = s"$lambda::DOUBLE"
    val steps = (2 to k).map { i =>
      s"""c$i AS (SELECT sh.doc_id, sh.rel, max(sm.sv) AS ms FROM short sh
         |  JOIN sim sm ON sm.ida = sh.doc_id AND sm.idb IN (SELECT doc_id FROM u${i - 1})
         |  WHERE sh.doc_id NOT IN (SELECT doc_id FROM u${i - 1}) GROUP BY 1, 2),
         |s$i AS (SELECT $i::BIGINT AS rank, doc_id, $lam * rel - (1.0::DOUBLE - $lam) * ms AS mmr
         |  FROM c$i ORDER BY mmr DESC, doc_id LIMIT 1),
         |u$i AS (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${bm25Ctes(terms, k1, b)},
       |short AS (SELECT doc_id, round(sc.score, 4) AS rel FROM sc ORDER BY sc.score DESC, doc_id LIMIT $kCand),
       |ws AS (SELECT sh.doc_id, list_distinct(string_split(d.text, ' ')) AS w
       |       FROM short sh JOIN documents d USING (doc_id)),
       |sim AS (SELECT a.doc_id AS ida, b.doc_id AS idb,
       |  round(len(list_intersect(a.w, b.w))::DOUBLE / len(list_distinct(list_concat(a.w, b.w)))::DOUBLE, 4) AS sv
       |  FROM ws a JOIN ws b ON a.doc_id != b.doc_id),
       |s1 AS (SELECT 1::BIGINT AS rank, doc_id, $lambda::DOUBLE * rel AS mmr FROM short ORDER BY mmr DESC, doc_id LIMIT 1),
       |u1 AS (SELECT * FROM s1),
       |$steps
       |SELECT rank, doc_id, round(mmr, 4) AS mmr_score FROM u$k ORDER BY rank""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.bm25Join]] with queries derived
    * from the corpus (`doc_id % qmod == 0`, terms = the doc's first
    * `qTerms` whitespace tokens, set semantics): per-(query, doc) sorted-
    * fold BM25 scores, per-query rank ≤ k. */
  /** the batch-BM25 CTE chain through `r(query_id, doc_id, score, rank)` —
    * shared by the join gate and the MRR eval. */
  private def bm25JoinCtes(qmod: Int, qTerms: Int, k1: Double, b: Double): String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |p AS (SELECT term, doc_id, count(*)::DOUBLE AS tf FROM toks GROUP BY term, doc_id),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl),
       |q AS (SELECT DISTINCT doc_id AS query_id, unnest(string_split(text, ' ')[1:$qTerms]) AS term
       |      FROM documents WHERE doc_id % $qmod = 0),
       |dfq AS (SELECT p.term, count(*)::DOUBLE AS df FROM p
       |        JOIN (SELECT DISTINCT term FROM q) u USING (term) GROUP BY p.term),
       |wts AS (SELECT q.query_id, p.doc_id,
       |          ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ($k1 + 1)) / (tf + $k1 * (1.0 - $b + $b * dl.dl / avgdl)) AS wt
       |        FROM q JOIN p USING (term) JOIN dfq ON dfq.term = q.term
       |        JOIN dl ON dl.doc_id = p.doc_id CROSS JOIN stats),
       |s AS (SELECT query_id, doc_id, $foldSumSql AS score FROM wts GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, score,
       |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM s)""".stripMargin

  def bm25JoinSql(k: Int, qmod: Int, qTerms: Int, k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25JoinCtes(qmod, qTerms, k1, b)}
       |SELECT query_id, doc_id, round(r.score, 4) AS score, rank FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Retrieval.mrrAtK]] over the self-retrieval
    * relevance (each query's source doc is its one relevant result):
    * first-relevant rank per query, reciprocal-rank sorted fold, one
    * mirrored division by the query count. */
  def bm25SelfMrrSql(k: Int, qmod: Int, qTerms: Int, k1: Double = 1.2, b: Double = 0.75): String =
    s"""WITH ${bm25JoinCtes(qmod, qTerms, k1, b)},
       |top AS (SELECT query_id, doc_id, rank FROM r WHERE rank <= $k),
       |f AS (SELECT query_id, min(rank)::BIGINT AS fr FROM top WHERE query_id = doc_id GROUP BY query_id),
       |nq AS (SELECT count(*)::BIGINT AS n FROM documents WHERE doc_id % $qmod = 0),
       |hit AS (SELECT count(*)::BIGINT AS n_hit,
       |          list_reduce(list_prepend(0.0::DOUBLE, list_sort(list(1.0 / fr::DOUBLE))), (a, b) -> a + b) AS s
       |        FROM f)
       |SELECT nq.n AS n_queries, hit.n_hit,
       |  round(COALESCE(hit.s, 0.0) / nq.n::DOUBLE, 6) AS mrr
       |FROM nq CROSS JOIN hit""".stripMargin.replace("\n", " ")

  /** mirror of the `rt_ndcg` composition ([[Similarity.rankEval]] over the
    * [[bm25JoinSql]] retrieval chain with SOURCE relevance): dense source
    * labels by rank over the distinct sources, per-query ln-discount
    * DCG/nDCG/MRR/P@k, every fold ascending-rank — [[rankEvalSql]]'s tail
    * verbatim, pointed at the lexical join. */
  def lexRankEvalSql(k: Int, qmod: Int, qTerms: Int, k1: Double = 1.2, b: Double = 0.75): String = {
    val dcg = s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(rr, e2 -> e2.rel::DOUBLE / ln(e2.rank::DOUBLE + 1.0))), (a, b) -> a + b)"
    s"""WITH ${bm25JoinCtes(qmod, qTerms, k1, b)},
       |nb AS (SELECT query_id, doc_id AS id, rank FROM r WHERE rank <= $k),
       |sl AS (SELECT source, row_number() OVER (ORDER BY source) AS label
       |       FROM (SELECT DISTINCT source FROM documents)),
       |lb AS (SELECT d.doc_id AS vid, sl.label FROM documents d JOIN sl USING (source)),
       |rl AS (SELECT nb.query_id, nb.rank,
       |         (CASE WHEN lq.label = ln2.label THEN 1 ELSE 0 END)::BIGINT AS rel
       |       FROM nb JOIN lb lq ON lq.vid = nb.query_id
       |               JOIN lb ln2 ON ln2.vid = nb.id),
       |g AS (SELECT query_id,
       |        list_sort(list(struct_pack(rank := rank, rel := rel))) AS rr,
       |        sum(rel)::BIGINT AS n_rel,
       |        min(CASE WHEN rel = 1 THEN rank END) AS frank
       |      FROM rl GROUP BY query_id)
       |SELECT query_id, n_rel,
       |  round($dcg, 6) AS dcg,
       |  CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE
       |    round($dcg / list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(generate_series(1, least(n_rel, $k)), i -> 1.0::DOUBLE / ln(i::DOUBLE + 1.0))), (a, b) -> a + b), 6) END AS ndcg,
       |  CASE WHEN frank IS NULL THEN 0.0::DOUBLE ELSE round(1.0::DOUBLE / frank::DOUBLE, 6) END AS mrr,
       |  round(n_rel::DOUBLE / ${k}.0, 6) AS p_at_k
       |FROM g ORDER BY query_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.phraseMatches]]: per-term
    * positional postings, consecutive-position equi-joins, per-doc
    * (overlapping) occurrence counts. */
  def phraseMatchesSql(phrase: Seq[String]): String = {
    require(phrase.size >= 2)
    val sides = phrase.zipWithIndex.map { case (t, i) =>
      s"p$i AS (SELECT doc_id, pos - $i AS pos FROM p WHERE term = '$t')"
    }
    val joins = (1 until phrase.size).map(i => s"JOIN p$i USING (doc_id, pos)").mkString(" ")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, u AS pos, w[u + 1] AS term FROM d, unnest(range(0, len(w))) AS t(u)),
       |${sides.mkString(", ")}
       |SELECT doc_id, count(*)::BIGINT AS n_matches FROM p0 $joins
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.bestSnippets]]: bucketed hit
    * counts over the positional postings, per-doc top-1 by
    * (hits, distinct terms, earliest), snippet sliced from the word list. */
  def snippetsSql(queryTerms: Seq[String], width: Int): String = {
    val termList = queryTerms.map(t => s"'$t'").mkString("(", ",", ")")
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, u AS pos, w[u + 1] AS term FROM d, unnest(range(0, len(w))) AS t(u)),
       |h AS (SELECT doc_id, pos // $width AS bucket, term FROM p WHERE term IN $termList),
       |s AS (SELECT doc_id, bucket, count(*)::BIGINT AS n_hits,
       |      count(DISTINCT term)::BIGINT AS n_terms FROM h GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY n_hits DESC, n_terms DESC, bucket) AS rn FROM s)
       |SELECT r.doc_id, (bucket * $width)::BIGINT AS snippet_start, n_hits, n_terms,
       |  array_to_string(list_slice(w, (bucket * $width + 1)::INT, (bucket * $width + $width)::INT), ' ') AS snippet
       |FROM r JOIN d ON d.doc_id = r.doc_id WHERE rn = 1 ORDER BY r.doc_id"""
      .stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.prfTopK]]: seed top-`nSeed` by
    * BM25 (reusing [[bm25Ctes]]'s relations), expansion terms by
    * `Σtf × ln(N/df)` with ties by term, then the same Okapi scoring over
    * the UNION query. Σtf and df are exact integers; each weight is one
    * ln + multiply; per-doc scores are the shared sorted fold — so the
    * expansion set and final ranking replay bit-identically. */
  def prfTopKSql(terms: Seq[String], k: Int, nSeed: Int, nExpand: Int,
                 k1: Double = 1.2, b: Double = 0.75): String = {
    val termList = terms.map(t => s"'$t'").mkString("(", ",", ")")
    val termRows = terms.map(t => s"'$t'").mkString("[", ",", "]")
    s"""WITH ${bm25Ctes(terms, k1, b)},
       |seed AS (SELECT doc_id FROM sc ORDER BY score DESC, doc_id LIMIT $nSeed),
       |p AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term),
       |stf AS (SELECT term, sum(tf) AS stf FROM p JOIN seed USING (doc_id) GROUP BY term),
       |dfa AS (SELECT p.term, count(*)::BIGINT AS df FROM p
       |        JOIN (SELECT DISTINCT term FROM stf) u ON u.term = p.term GROUP BY p.term),
       |ex AS (SELECT stf.term FROM stf JOIN dfa ON dfa.term = stf.term CROSS JOIN stats
       |       WHERE stf.term NOT IN $termList
       |       ORDER BY stf::DOUBLE * ln(n / df::DOUBLE) DESC, stf.term LIMIT $nExpand),
       |q AS (SELECT term FROM ex UNION SELECT unnest($termRows) AS term),
       |tf2 AS (SELECT p.doc_id, p.term, p.tf FROM p JOIN q ON q.term = p.term),
       |dfq2 AS (SELECT term, count(*)::DOUBLE AS df FROM tf2 GROUP BY term),
       |wts2 AS (SELECT tf2.doc_id,
       |          ln(1.0 + (n - df + 0.5) / (df + 0.5)) * (tf * ($k1 + 1)) / (tf + $k1 * (1.0 - $b + $b * dl / avgdl)) AS wt
       |        FROM tf2 JOIN dfq2 USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
       |sc2 AS (SELECT doc_id, $foldSumSql AS score FROM wts2 GROUP BY doc_id)
       |SELECT doc_id, round(sc2.score, 4) AS score FROM sc2
       |ORDER BY sc2.score DESC, doc_id LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.nearMatches]]: pairs where the
    * second term sits 1..slop positions after the first. */
  def nearMatchesSql(first: String, second: String, slop: Int): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |p AS (SELECT doc_id, u AS pos, w[u + 1] AS term FROM d, unnest(range(0, len(w))) AS t(u)),
       |pa AS (SELECT doc_id, pos FROM p WHERE term = '$first'),
       |pb AS (SELECT doc_id, pos FROM p WHERE term = '$second')
       |SELECT pa.doc_id, count(*)::BIGINT AS n_matches
       |FROM pa JOIN pb ON pb.doc_id = pa.doc_id AND pb.pos - pa.pos BETWEEN 1 AND $slop
       |GROUP BY pa.doc_id ORDER BY pa.doc_id""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Retrieval.topTfIdfTerms]]: per-doc top-k
    * terms by `tf * ln(N/df)`, ties by term — one exact multiply, no
    * tolerance needed. */
  def topTfIdfTermsSql(k: Int): String =
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |p AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY doc_id, term),
       |dfq AS (SELECT term, count(*)::DOUBLE AS df FROM p GROUP BY term),
       |nn AS (SELECT count(*)::DOUBLE AS n FROM documents),
       |s AS (SELECT doc_id, p.term, tf * ln(n / df) AS score FROM p JOIN dfq USING (term) CROSS JOIN nn),
       |r AS (SELECT doc_id, term, score,
       |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM s)
       |SELECT doc_id, term, round(r.score, 4) AS score, rank FROM r WHERE rank <= $k
       |ORDER BY doc_id, rank""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.TimeSeries.madOutliers]]: stacked
    * per-type median windows (DuckDB `median` = `quantile_cont(0.5)`,
    * the same `lo + (hi−lo)·frac` interpolation Spark's exact
    * `percentile` uses), exact deviation compare, rounded robust-z. */
  def madOutliersSql(threshold: Double): String =
    s"""WITH s AS (SELECT event_type, epoch_us(ts) AS ts, value,
       |             median(value) OVER (PARTITION BY event_type) AS med FROM events),
       |t AS (SELECT event_type, ts, value, abs(value - med) AS ad,
       |        median(abs(value - med)) OVER (PARTITION BY event_type) AS mad FROM s)
       |SELECT event_type, ts, value, round(ad / mad, 3) AS rz
       |FROM t WHERE mad > 0 AND ad > $threshold * mad
       |ORDER BY event_type, ts""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.operators.TimeSeries.largestDeltas]]: lag delta in
    * time order, per-type rank by delta desc / ts asc, top-`k`. */
  def largestDeltasSql(k: Int): String =
    s"""WITH w AS (SELECT event_type, epoch_us(ts) AS ts, value,
       |             abs(value - lag(value) OVER (PARTITION BY event_type ORDER BY epoch_us(ts))) AS delta
       |           FROM events),
       |r AS (SELECT event_type, ts, value, delta,
       |        row_number() OVER (PARTITION BY event_type ORDER BY delta DESC, ts) AS rank
       |      FROM w WHERE delta IS NOT NULL)
       |SELECT event_type, ts, value, delta, rank FROM r WHERE rank <= $k
       |ORDER BY event_type, rank""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.TextAnalysis.topNgrams]]: shifted-index
    * gram build over the 1-indexed token list, integer counts, top-`k`
    * by count desc / gram asc. */
  def topNgramsSql(n: Int, k: Int): String = {
    val gram = (0 until n).map(j => s"w[i+$j]").mkString(" || ' ' || ")
    s"""WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
       |g AS (SELECT unnest(list_transform(range(1, len(w) - ${n - 2}), i -> $gram)) AS ngram FROM t),
       |c AS (SELECT ngram, count(*)::BIGINT AS n FROM g GROUP BY ngram)
       |SELECT ngram, n FROM c ORDER BY n DESC, ngram LIMIT $k""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.TextAnalysis.pmiCollocations]]: bigram and
    * unigram counts, token/bigram totals, and the SAME left-associated
    * ratio chain into `ln` (DuckDB `log` is log10 — must be `ln`). */
  def pmiCollocationsSql(k: Int, minCount: Long): String =
    s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
       |tot AS (SELECT sum(len(w))::BIGINT AS T, sum(greatest(len(w) - 1, 0))::BIGINT AS N FROM d),
       |uc AS (SELECT wd, count(*)::BIGINT AS n_w FROM (SELECT unnest(w) AS wd FROM d) GROUP BY wd),
       |g AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS ngram FROM d),
       |bc AS (SELECT ngram, count(*)::BIGINT AS n_ab FROM g GROUP BY ngram),
       |f AS (SELECT ngram, split_part(ngram, ' ', 1) AS w1, split_part(ngram, ' ', 2) AS w2, n_ab
       |      FROM bc WHERE n_ab >= $minCount),
       |j AS (SELECT ngram, n_ab, a.n_w AS n_a, b.n_w AS n_b
       |      FROM f JOIN uc a ON a.wd = f.w1 JOIN uc b ON b.wd = f.w2),
       |p AS (SELECT ngram, n_ab,
       |        round(ln(((CAST(n_ab AS DOUBLE) * T) * T) / ((CAST(N AS DOUBLE) * n_a) * n_b)), 4) AS pmi
       |      FROM j CROSS JOIN tot)
       |SELECT ngram, n_ab, pmi FROM p ORDER BY pmi DESC, ngram LIMIT $k""".stripMargin.replace("\n", " ")

  /** mirror of [[graft.pipeline.Sampling.holdoutSplit]]: the sampling id
    * hash against cumulative 10000-lattice cutoffs. */
  /** mirror of [[graft.pipeline.TextAnalysis.tokenKlShift]] over the
    * [[holdoutSplitSql]] hash split: add-1-smoothed KL both ways + JS over
    * the union vocabulary — exact int64 counts, per-term contributions in
    * the engine's operand order, all three totals ascending-sorted folds. */
  def tokenKlShiftSql(weights: Seq[(String, Double)], seed: Long,
                      aSplit: String, bSplit: String): String = {
    val h    = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    val cuts = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }.tail
    val cases = weights.init.zip(cuts.init)
      .map { case ((name, _), cut) => s"WHEN h < $cut THEN '$name'" }
      .mkString(" ")
    def fold(c: String) =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_sort(list($c))), (a, b) -> a + b)"
    s"""WITH sp AS (SELECT text, CASE $cases ELSE '${weights.last._1}' END AS split
       |            FROM (SELECT doc_id, text, $h AS h FROM documents)),
       |ta AS (SELECT unnest(string_split(text, ' ')) AS t FROM sp WHERE split = '$aSplit'),
       |tb AS (SELECT unnest(string_split(text, ' ')) AS t FROM sp WHERE split = '$bSplit'),
       |ka AS (SELECT t, count(*)::BIGINT AS c FROM ta GROUP BY 1),
       |kb AS (SELECT t, count(*)::BIGINT AS c FROM tb GROUP BY 1),
       |j AS (SELECT coalesce(ka.c, 0)::BIGINT AS ca, coalesce(kb.c, 0)::BIGINT AS cb
       |      FROM ka FULL JOIN kb ON ka.t = kb.t),
       |tot AS (SELECT sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb, count(*)::BIGINT AS v FROM j),
       |pq AS (SELECT na, nb, v,
       |         (ca + 1)::DOUBLE / (na + v)::DOUBLE AS p,
       |         (cb + 1)::DOUBLE / (nb + v)::DOUBLE AS q
       |       FROM j CROSS JOIN tot),
       |cc AS (SELECT na, nb, v,
       |         p * ln(p / q) AS kab, q * ln(q / p) AS kba,
       |         p * ln(p / ((p + q) / 2.0::DOUBLE)) AS jp,
       |         q * ln(q / ((p + q) / 2.0::DOUBLE)) AS jq FROM pq)
       |SELECT na AS n_tokens_a, nb AS n_tokens_b, v AS n_terms,
       |  round(${fold("kab")}, 6) AS kl_ab,
       |  round(${fold("kba")}, 6) AS kl_ba,
       |  round(0.5::DOUBLE * ${fold("jp")} + 0.5::DOUBLE * ${fold("jq")}, 6) AS js
       |FROM cc GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Similarity.kCenterCoreset]]: farthest-point
    * traversal seeded at the smallest id, the `k−1` greedy picks UNROLLED
    * one CTE per step — each candidate's min `list_distance` to the
    * selected set snaps to 6 dp BEFORE the argmax (ties by id), exactly as
    * the engine rounds before its TakeOrdered(1). */
  def kCenterCoresetSql(k: Int): String = {
    val steps = (2 to k).map { r =>
      s"""c$r AS MATERIALIZED (SELECT x.vec_id, round(min(list_distance(x.v, c.v)), 6) AS d
         |  FROM e x JOIN e c ON c.vec_id IN (SELECT vec_id FROM u${r - 1})
         |  WHERE x.vec_id NOT IN (SELECT vec_id FROM u${r - 1}) GROUP BY x.vec_id),
         |s$r AS (SELECT $r::BIGINT AS rank, vec_id, d FROM c$r ORDER BY d DESC, vec_id LIMIT 1),
         |u$r AS MATERIALIZED (SELECT * FROM u${r - 1} UNION ALL SELECT * FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |u1 AS MATERIALIZED (SELECT 1::BIGINT AS rank, vec_id, 0.0::DOUBLE AS d
       |  FROM e ORDER BY vec_id LIMIT 1),
       |$steps
       |SELECT rank, vec_id, d AS dist FROM u$k ORDER BY rank""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Sampling.kfold]]: the portable id hash on
    * the 10000 lattice, folded modulo k. */
  def kfoldSql(k: Int, seed: Long): String =
    s"""SELECT doc_id, (${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000) % $k AS fold
       |FROM documents ORDER BY doc_id""".stripMargin.replace("\n", " ")

  def holdoutSplitSql(weights: Seq[(String, Double)], seed: Long): String = {
    val h    = s"${wordPolySql("CAST(doc_id AS VARCHAR)", 131L, seed)} % 10000"
    val cuts = weights.scanLeft(0L) { case (acc, (_, w)) => acc + math.round(w * 10000) }.tail
    val cases = weights.init.zip(cuts.init)
      .map { case ((name, _), cut) => s"WHEN h < $cut THEN '$name'" }
      .mkString(" ")
    s"""SELECT doc_id, CASE $cases ELSE '${weights.last._1}' END AS split
       |FROM (SELECT doc_id, $h AS h FROM documents)
       |ORDER BY doc_id""".stripMargin.replace("\n", " ")
  }

  /** mirror of [[graft.pipeline.Retrieval.hybridTopK]]: BM25 top-`n` ranks
    * fused with exact-cosine top-`n` ranks (query = embedding of vec_id 0)
    * by reciprocal rank — ranks are integers and the cosine reuses the
    * sequential fold-dot, so the fused scores are bit-identical. */
  def hybridTopKSql(terms: Seq[String], k: Int, n: Int, rrfK: Int = 60, dim: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val rk = rrfK.toDouble
    s"""WITH ${bm25Ctes(terms, k1, b)},
       |bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY sc.score DESC, doc_id) AS r_bm25
       |          FROM sc ORDER BY sc.score DESC, doc_id LIMIT $n),
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |cs AS (SELECT vec_id, ${cosSql("e", "embedding", "q", "embedding", dim)} AS sim
       |       FROM embeddings e CROSS JOIN qv q),
       |ctop AS (SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS r_cos
       |         FROM cs ORDER BY sim DESC, vec_id LIMIT $n),
       |f AS (SELECT coalesce(bm.doc_id, ct.vec_id) AS doc_id, r_bm25, r_cos,
       |        coalesce(1.0 / ($rk + r_bm25), 0.0) + coalesce(1.0 / ($rk + r_cos), 0.0) AS rrf
       |      FROM bmtop bm FULL OUTER JOIN ctop ct ON bm.doc_id = ct.vec_id)
       |SELECT doc_id, r_bm25, r_cos, round(f.rrf, 6) AS rrf FROM f
       |ORDER BY f.rrf DESC, doc_id LIMIT $k""".stripMargin.replace("\n", " ")
  }
}
