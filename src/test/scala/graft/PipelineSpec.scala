package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

import graft.pipeline.{Dedup, Multimodal, Retrieval, Sampling, Similarity, TextAnalysis}

/** Pipeline operator specs with planted duplicates/near-duplicates. */
class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog and runs far away", "en", "src0"),
    (1L, "the quick brown fox jumps over the lazy dog and runs far home", "en", "src0"), // near-dup of 0
    (2L, "der schnelle braune fuchs und der faule hund sind nicht da", "de", "src0"),
    (3L, "completely different content about spark query engines and shuffles", "en", "src1"),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away", "en", "src1"), // exact dup of 0
    (5L, "el perro y el gato de la casa que corren por los campos", "es", "src1")
  ).toDF("doc_id", "text", "lang", "source")

  private lazy val vecs = {
    val rnd  = new scala.util.Random(7)
    def v()  = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = v()
    val near = base.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x } // ~parallel
    Seq((0L, base, 0), (1L, near, 0), (2L, v(), 1), (3L, v(), 1), (4L, v(), 2))
      .toDF("vec_id", "embedding", "label")
  }

  "Dedup.exact" should "collapse identical texts to the smallest id" in {
    val out = Dedup.exact(docs).orderBy("doc_id").collect()
    out.map(r => (r.getLong(0), r.getLong(1))).toSet should contain((0L, 2L)) // docs 0 and 4
    out.length shouldBe 5                                                     // 6 docs, one dup pair
  }

  "Dedup.ngramJaccardPairs" should "score identical docs 1.0 within a block" in {
    val pairs = Dedup.ngramJaccardPairs(docs, Seq("source"), 0.5).collect()
    pairs.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).filter(_._3 == 1.0) shouldBe empty
    // 0 and 1 share src0 and differ by one word
    val p01 = Dedup.ngramJaccardPairs(docs, Seq("lang"), 0.5).collect()
      .find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    p01 should not be empty
    p01.get.getDouble(2) should be > 0.7
  }

  "Dedup.ngramJaccardPairsBanded" should "find planted duplicates without metadata blocking" in {
    // the 100 TB ngram path: banded minhash buckets over the same bigram
    // shingles — no blocking column needed, sub-quadratic candidates
    val pairs = Dedup.ngramJaccardPairsBanded(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((0L, 4L)) // exact dup: identical signature, always bucketed together
    pairs should contain((0L, 1L)) // near dup: J ≈ 0.85 on bigrams, found via band collision
    // verify stage is exact Jaccard: no false positives above threshold
    val all = Dedup.ngramJaccardPairsBanded(docs, threshold = 0.5).collect()
    all.map(_.getDouble(2)).foreach(_ should be >= 0.5)
  }

  "Dedup.gateAgainstCorpus" should "drop incoming docs that near-duplicate the corpus, keep the rest" in {
    // corpus = docs 0,2,3; incoming batch carries an exact dup of 0, a near
    // dup of 0, and two genuinely new docs
    val corpus = Dedup.signatureIndex(docs.filter(col("doc_id").isin(0L, 2L, 3L)), shingleK = 2)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away", "en", "srcX"), // exact dup of 0
      (11L, "the quick brown fox jumps over the lazy dog and runs far home", "en", "srcX"), // near dup of 0
      (12L, "an entirely novel document about watermarks and state stores", "en", "srcX"),
      (13L, "otro documento nuevo sobre motores de consultas distribuidas", "es", "srcX")
    ).toDF("doc_id", "text", "lang", "source")
    val kept = Dedup.gateAgainstCorpus(batch, corpus, threshold = 0.5, shingleK = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(12L, 13L)
    // surviving rows keep the full input schema (the gate anti-joins, it
    // does not project)
    Dedup.gateAgainstCorpus(batch, corpus, threshold = 0.5, shingleK = 2).columns shouldBe batch.columns

    // the signature index persisted as parquet and read back gates
    // identically to the in-memory one
    val idxPath = java.nio.file.Files.createTempDirectory("graft_sigidx_").toString + "/index"
    corpus.write.parquet(idxPath)
    Dedup.gateAgainstCorpus(batch, spark.read.parquet(idxPath), threshold = 0.5, shingleK = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe kept
  }

  "Curate.trainingMix" should "compose curate→decontaminate→cc-dedup→mix→pack deterministically" in {
    import graft.pipeline.{Curate, Sampling}
    val evalSet = Seq((900L, "the hidden benchmark answer is exactly forty two today and tomorrow and forever more")).toDF("doc_id", "text")
    val corpus = Seq(
      // two exact copies of decent english — one representative survives
      (0L, "the quick brown fox jumps over the lazy dog and it runs on and on for a while in the field"),
      (1L, "the quick brown fox jumps over the lazy dog and it runs on and on for a while in the field"),
      // contaminated: contains the eval 13-gram verbatim
      (2L, "prefix words then the hidden benchmark answer is exactly forty two today and tomorrow and forever more for the rest of it"),
      // clean independent english doc
      (3L, "a completely different and reasonably long english document about the engine and the data it is processing for training runs"),
      // non-english: dropped by the allowlist
      (4L, "el perro y el gato de la casa que corren por los campos todos los dias del verano")
    ).toDF("doc_id", "text")
    val out = Curate.trainingMix(corpus, evalSet,
      mixRates = Map("en" -> 1.0), seqTokens = 16L,
      keepLangs = Seq("en"), minQuality = 0.0, nearDupThreshold = 0.5)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    rows.map(_._1) shouldBe Array(0L, 3L) // dup 1 collapsed, 2 contaminated, 4 wrong lang
    // packing covers the surviving token stream contiguously from seq 0
    rows.map(_._3).min shouldBe 0L
    // deterministic end-to-end: a rerun builds the identical mix
    val again = Curate.trainingMix(corpus, evalSet,
      mixRates = Map("en" -> 1.0), seqTokens = 16L,
      keepLangs = Seq("en"), minQuality = 0.0, nearDupThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    again shouldBe rows

    // the curation subtree executes ONCE per mix: `curated` is
    // materialized before its two consumers (survivors semi-join and the
    // withLang join), so the digest groupBy (the only md5 in the
    // pipeline) appears NOWHERE in the composed plan — both reads hit the
    // checkpointed result
    Curate.trainingMix(corpus, evalSet,
      mixRates = Map("en" -> 1.0), seqTokens = 16L,
      keepLangs = Seq("en"), minQuality = 0.0, nearDupThreshold = 0.5)
      .queryExecution.executedPlan.toString should not include "md5"
  }

  it should "apply scrub, repetition reject and per-source caps when enabled" in {
    import graft.pipeline.Curate
    val evalSet = Seq((900L, "the hidden benchmark answer is exactly forty two today and tomorrow and forever more")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and it runs on and on for a while in the field", "s0"),
      (1L, "spam spam spam spam spam spam spam spam the spam spam spam spam spam spam", "s0"), // repetitive
      (2L, "a completely different and reasonably long english document about the engine and the data it is processing", "s1"),
      (3L, "write to the admin at admin@example.com for the answers to all of the questions in the set", "s1")
    ).toDF("doc_id", "text", "source")
    val out = Curate.trainingMix(corpus, evalSet, mixRates = Map("en" -> 1.0), seqTokens = 16L,
      keepLangs = Seq("en"), minQuality = 0.0, nearDupThreshold = 0.5,
      scrub = true, maxRepetition = Some((0.7, 0.2, 0.9)), perSourceCap = Some(1))
    val ids = out.collect().map(_.getLong(0)).toSet
    ids should not contain 1L                    // repetitive doc rejected
    ids should contain(0L)                       // sole s0 survivor
    ids.intersect(Set(2L, 3L)).size shouldBe 1   // cap = 1 per source
    ids.size shouldBe 2
  }

  it should "release every intermediate materialization deterministically" in {
    import graft.pipeline.{Checkpoints, Curate}
    val evalSet = Seq((900L, "the hidden benchmark answer is exactly forty two today and tomorrow and forever more")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and it runs on and on for a while in the field", "s0"),
      (1L, "the quick brown fox jumps over the lazy dog and it runs on and on for a while in the field", "s0"),
      (2L, "a completely different and reasonably long english document about the engine and the data it is processing", "s1"),
      (3L, "write to the admin at admin@example.com for the answers to all of the questions in the set", "s1")
    ).toDF("doc_id", "text", "source")
    import org.apache.spark.storage.StorageLevel
    // every optional stage ON: the run materializes scrub, curated,
    // survivors, clean and the CC label rounds — all of which must be gone
    // again by the time trainingMix returns (this is the 24/7-service
    // guarantee: block lifetime is bounded by the call, not by GC timing).
    // Pins are attributed via Checkpoints.scoped, NOT a getPersistentRDDs
    // diff: the session is shared, so concurrent suites pin blocks too.
    val (out, pins) = Checkpoints.scoped {
      Curate.trainingMix(corpus, evalSet, mixRates = Map("en" -> 1.0), seqTokens = 16L,
        keepLangs = Seq("en"), minQuality = 0.0, nearDupThreshold = 0.5,
        scrub = true, maxRepetition = Some((0.7, 0.2, 0.9)), perSourceCap = Some(2))
    }
    out.count() shouldBe out.count() // stable across re-reads of the pin
    pins.size should be >= 5 // scrub, curated, survivors, clean, CC rounds...
    def live = pins.filter(_.getStorageLevel != StorageLevel.NONE)
    // only the result's own backing pin (packSequences' range-partitioned
    // prefix frame) may survive the call
    live.size should be <= 1
    Checkpoints.free(out)
    live shouldBe empty
    // freeing is idempotent and a frame with no pins is a no-op
    Checkpoints.free(out, corpus)
  }

  "Dedup.clusterSizeHistogram" should "bucket the CC labeling by family size" in {
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 2L), (3L, 3L), (4L, 3L), (5L, 3L))
      .toDF("doc_id", "rep") // one pair, one singleton, one triple
    Dedup.clusterSizeHistogram(clusters).orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 1L), (2L, 1L), (3L, 1L))
  }

  "Dedup.decontaminate" should "drop docs sharing any k-shingle with the eval set" in {
    val evalSet = Seq((100L, "the secret benchmark answer is forty two exactly")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "some pretraining text where the secret benchmark answer is forty two exactly appears verbatim"),
      (1L, "clean document with no overlap whatsoever in any span"),
      (2L, "another clean one that mentions benchmark answer but never five consecutive shared words")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, evalSet, shingleK = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 2L)
  }

  "Dedup.decontaminateBloom" should "match the exact path row-for-row (no false negatives survive)" in {
    val evalSet = Seq((100L, "the secret benchmark answer is forty two exactly")).toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "some pretraining text where the secret benchmark answer is forty two exactly appears verbatim"),
      (1L, "clean document with no overlap whatsoever in any span"),
      (2L, "another clean one that mentions benchmark answer but never five consecutive shared words")
    ).toDF("doc_id", "text")
    val bloomKept = Dedup.decontaminateBloom(corpus, evalSet, shingleK = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exactKept = Dedup.decontaminate(corpus, evalSet, shingleK = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    bloomKept shouldBe exactKept
    bloomKept shouldBe Set(1L, 2L)
    // and on the real fixture: both paths agree doc-for-doc
    val all  = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val c    = all.filter(col("doc_id") % 10 =!= 0)
    val e    = all.filter(col("doc_id") % 10 === 0)
    val b    = Dedup.decontaminateBloom(c, e, shingleK = 5).select("doc_id").collect().map(_.getLong(0)).toSet
    val x    = Dedup.decontaminate(c, e, shingleK = 5).select("doc_id").collect().map(_.getLong(0)).toSet
    b shouldBe x
  }

  it should "pass everything through against an empty eval set, like the exact path" in {
    val corpus = Seq((0L, "some text here"), (1L, "other text there")).toDF("doc_id", "text")
    val emptyEval = corpus.filter(col("doc_id") < 0)
    Dedup.decontaminateBloom(corpus, emptyEval, shingleK = 3).count() shouldBe 2L
    Dedup.decontaminate(corpus, emptyEval, shingleK = 3).count() shouldBe 2L
  }

  "Dedup.noveltyScores" should "score template text 0 and unique text 1" in {
    val corpus = Seq(
      (0L, "common template words repeated here"),
      (1L, "common template words repeated here"),          // exact copy of 0
      (2L, "entirely unique content nothing shared at all")
    ).toDF("doc_id", "text")
    val nv = Dedup.noveltyScores(corpus)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    nv(0L) shouldBe 0.0 // every shingle shared with the copy
    nv(1L) shouldBe 0.0
    nv(2L) shouldBe 1.0 // no shingle appears elsewhere
  }

  "Dedup.segmentDedup" should "strip repeated segments and reassemble survivors in order" in {
    // 2-word segments; "nav bar" opens docs 0 and 1 (boilerplate), the
    // tails are unique; doc 2 is pure boilerplate and must survive as a
    // row with empty text
    val corpus = Seq(
      (0L, "nav bar alpha beta gamma delta"),
      (1L, "nav bar epsilon zeta eta theta"),
      (2L, "nav bar")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, segWords = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    out(0L) shouldBe (("alpha beta gamma delta", 3L, 1L))
    out(1L) shouldBe (("epsilon zeta eta theta", 3L, 1L))
    out(2L) shouldBe (("", 1L, 1L))
  }

  it should "keep segments repeated within ONE doc (minDocs counts distinct docs)" in {
    val corpus = Seq(
      (0L, "spam spam spam spam"),
      (1L, "fresh words only here")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(corpus, segWords = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out(0L) shouldBe "spam spam spam spam" // intra-doc repeat is not corpus boilerplate
    out(1L) shouldBe "fresh words only here"
  }

  "Dedup.containmentPairs" should "flag subset duplication that Jaccard misses" in {
    // doc 11 is doc 10's text verbatim plus a long tail: word-trigram
    // containment of 11-in-10 side is ~1.0 while Jaccard stays low
    val subset = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta one two three four five six " +
            "seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen " +
            "seventeen eighteen nineteen twenty twentyone twentytwo twentythree twentyfour"),
      (12L, "entirely unrelated text about query engines and shuffle planning")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(subset, threshold = 0.9, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    pairs.map(p => (p._1, p._2)) should contain((10L, 11L))
    val p = pairs.find(x => x._1 == 10L && x._2 == 11L).get
    p._3 shouldBe 1.0 // all of 10's shingles appear in 11
    p._4 should be < 0.2
    // while Jaccard on the same pair stays under any useful threshold
    val j = Dedup.minhashLshPairs(subset, threshold = 0.5, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    j should not contain ((10L, 11L))
  }

  "TextAnalysis.importanceWeights" should "rank target-looking docs above off-target ones" in {
    val target = docs.filter(col("source") === "src0") // en/de fox corpus
    val w = TextAnalysis.importanceWeights(docs, target)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    // doc 0/1 (verbatim target-domain text) must outscore doc 3/5 (off-domain)
    w(0L) should be > w(3L)
    w(0L) should be > w(5L)
    // weights are finite for every doc, including words unseen in target
    w.values.foreach(v => assert(!v.isNaN && !v.isInfinite))
  }

  "TextAnalysis.gopherRules" should "reject on exactly the violated rule" in {
    val fixture = Seq(
      (0L, ("the quick brown fox and the lazy dog run on in a field " * 3).trim), // passes all
      (1L, "too short for the panel"),                                            // words_ok false
      (2L, ("pneumonoultramicroscopicsilicovolcanoconiosis " * 31).trim),          // len_ok (and stop) fail
      (3L, ("@# $% ^& *! (the) a of and to in is on for it " * 4).trim),           // symbol_ok false
      (4L, ("zebra quartz viny jumps wolf pack mountain river stone cloud " * 4).trim) // stop_ok false
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(fixture, minWords = 10)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(5), r.getBoolean(6), r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))).toMap
    out(0L)._5 shouldBe true                  // composite keep
    out(1L)._1 shouldBe false                 // word count
    out(2L)._2 shouldBe false                 // mean word length
    out(3L)._3 shouldBe false                 // symbol ratio
    out(4L)._4 shouldBe false                 // stopword presence
    out(4L)._5 shouldBe false                 // any violation kills keep
  }

  "TextAnalysis.crossBigramScore" should "score target-domain docs above off-domain ones" in {
    val target = docs.filter(col("source") === "src0")
    val s = TextAnalysis.crossBigramScore(docs, target)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    s(4L) should be > s(3L) // verbatim target text vs off-domain doc
    s(4L) shouldBe s(0L)    // identical text, identical score
    s.values.foreach(v => assert(!v.isNaN && !v.isInfinite))
  }

  "Sampling.assignShards" should "deal round-robin so shard token totals balance" in {
    // 8 docs of 1..8 words into 4 shards: size-desc deal pairs (8,4), (7,3),
    // (6,2), (5,1) → every shard totals 12 words, 2 docs
    val d = (1 to 8).map(i => (i.toLong, Seq.fill(i)("w").mkString(" "))).toDF("doc_id", "text")
    val bal = graft.pipeline.Sampling.shardBalance(
      graft.pipeline.Sampling.assignShards(d, nShards = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    bal.length shouldBe 4
    bal.foreach { case (_, nDocs, toks) => nDocs shouldBe 2L; toks shouldBe 9L }
  }

  "Dedup.similarityHistogram" should "bin exact pairs at 9 and disjoint pairs low" in {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),          // jaccard 1.0 with 0
      (2L, "alpha beta gamma delta epsilon eta")            // high overlap with 0/1
    ).toDF("doc_id", "text")
    val bins = Dedup.similarityHistogram(corpus)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bins(9L) shouldBe 1L          // the exact pair (0,1)
    bins.values.sum shouldBe 3L   // all three candidate pairs binned somewhere
  }

  "TextAnalysis.perplexityBuckets" should "split scored docs into head/middle/tail thirds" in {
    val target = docs.filter(col("source") === "src0")
    val out = TextAnalysis.perplexityBuckets(docs, target).collect()
    val byBucket = out.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    byBucket.keySet shouldBe Set("head", "middle", "tail")
    // ntile thirds: sizes differ by at most one
    (byBucket.values.max - byBucket.values.min) should be <= 1
    // every head score >= every tail score (buckets follow the score order)
    val minHead = out.filter(_.getString(2) == "head").map(_.getDouble(1)).min
    val maxTail = out.filter(_.getString(2) == "tail").map(_.getDouble(1)).max
    minHead should be >= maxTail
  }

  it should "agree with the exact terciles off cutoff boundaries under approx = true, with no global sort" in {
    val target = docs.filter(col("source") === "src0")
    val approxDf = TextAnalysis.perplexityBuckets(docs, target, approx = true)
    // the scale contract: no unpartitioned window anywhere in the approx plan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    approxDf.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    } shouldBe empty
    val ex = TextAnalysis.perplexityBuckets(docs, target).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2)))).toMap
    val ap = approxDf.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // the tercile cutoffs the approx path used (same call shape)
    val cuts = ex.values.map(_._1).toSeq.toDF("s")
      .selectExpr(s"approx_percentile(s, array(${1.0 / 3}, ${2.0 / 3}), 10000) AS q")
      .head.getSeq[Double](0).toSet
    val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    ex.foreach { case (id, (score, bucket)) =>
      if (!cuts(score)) ap(id) shouldBe bucket
      // boundary-tied scores may land one bucket lower, never further
      else math.abs(order(ap(id)) - order(bucket)) should be <= 1
    }
  }

  "Dedup.minhashErrorReport" should "estimate 1.0 with zero error for identical docs" in {
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta")
    ).toDF("doc_id", "text")
    val rep = Dedup.minhashErrorReport(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    rep((0L, 1L)) shouldBe ((1.0, 1.0, 0.0)) // identical: perfect estimate
    // near-dup pairs: the estimate stays within the 1/sqrt(64) noise band
    rep.values.foreach { case (_, _, err) => err should be <= 0.25 }
  }

  "Graph.triangles" should "enumerate each planted triangle once, oriented a<b<c" in {
    import graft.operators.Graph
    // triangle {1,2,3} + a dangling chain 3-4: one triangle, no more
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    Graph.triangles(pairs).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe
      Array((1L, 2L, 3L))
    val counts = Graph.triangleCounts(pairs).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    counts shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L) // 4 is in no triangle
  }

  "Graph.adamicAdar" should "score the square's diagonals and skip existing edges" in {
    import graft.operators.Graph
    // 4-cycle 1-2-3-4-1: the only non-edges are the diagonals (1,3) and
    // (2,4), each with two degree-2 common neighbors -> AA = 2/ln(2)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Graph.adamicAdar(pairs, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.toSet shouldBe Set((1L, 3L, 2L, 2.88539), (2L, 4L, 2L, 2.88539))
    // path 1-2-3: one wedge, its hub has degree 2 -> 1/ln(2)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    Graph.adamicAdar(path, topK = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))) shouldBe
      Array((1L, 3L, 1.442695))
  }

  "TextAnalysis.heapsFit" should "fit the two-checkpoint log-log line exactly" in {
    import graft.pipeline.TextAnalysis
    // ids 1..4, bins=2 -> checkpoints {2, 4}: N = [4, 8] tokens,
    // V = [3, 6] first-occurrences -> beta = ln2/ln2 = 1,
    // ln k = (ln18 - ln32)/2
    val docs = Seq(
      (1L, "a b"), (2L, "a c"), (3L, "a d"), (4L, "e f")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.heapsFit(docs, bins = 2).head()
    (r.getLong(0), r.getLong(1), r.getLong(2)) shouldBe ((2L, 8L, 6L))
    r.getDouble(3) shouldBe 1.0
    r.getDouble(4) shouldBe (math.log(18.0 / 32.0) / 2 +- 1e-6)
  }

  "Graph.kCore" should "peel chains transitively and keep the clique" in {
    import graft.operators.Graph
    // triangle {1,2,3} + chain 3-4-5: removing leaf 5 drops 4 to degree 1,
    // so the 2-core is exactly the triangle — a one-round peel would
    // wrongly keep 4 (degree 2 before 5 left). Within-core degrees are 2.
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L)).toDF("id_a", "id_b")
    val core = Graph.kCore(pairs, k = 2, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    core shouldBe Map(1L -> 2L, 2L -> 2L, 3L -> 2L)
  }

  "Graph.degreeAssortativity" should "score a star negative and a clique-chain mix by hand" in {
    import graft.operators.Graph
    // star 1-{2,3,4}: ends pairs (3,1)x3 and (1,3)x3 -> m=6, Sx=12,
    // Sxy=18, Sxx=30: r = (6*18 - 144) / (6*30 - 144) = -36/36 = -1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val r1 = Graph.degreeAssortativity(star).head()
    (r1.getLong(0), r1.getDouble(1)) shouldBe ((6L, -1.0))
    // a clique (all degrees equal) is degree-regular: denominator 0 -> null
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    val r2 = Graph.degreeAssortativity(k3).head()
    (r2.getLong(0), r2.isNullAt(1)) shouldBe ((6L, true))
    // duplicate/reversed input edges collapse before counting
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    Graph.degreeAssortativity(dup).head().getLong(0) shouldBe 6L
  }

  "Graph.kTruss" should "keep only triangle-supported edges and peel cascades" in {
    import graft.operators.Graph
    // two triangles sharing edge (2,3) + a pendant edge (4,5): the pendant
    // has no triangle and drops; the shared edge has support 2
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = Graph.kTruss(pairs, k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out shouldBe Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 2L,
      (2L, 4L) -> 1L, (3L, 4L) -> 1L)
    // a lone triangle has per-edge support 1, so the 4-truss (support
    // >= 2) peels it entirely
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("id_a", "id_b")
    Graph.kTruss(tri, k = 4, rounds = 2).count() shouldBe 0L
  }

  "Graph.hits" should "split originals (authorities) from re-posters (hubs) on the directed pair graph" in {
    import graft.operators.Graph
    // pairs (a<b) direct b→a: edges 2→1, 3→1, 3→2. Node 1 is the pure
    // original (no out-edge), node 3 the pure re-poster (no in-edge);
    // node 4 is isolated. Round 1 by hand: ar(1)=h2+h3=2, ar(2)=h3=1,
    // max 2 → a=(1.0, 0.5); hr(2)=a1=1, hr(3)=a1+a2=1.5, max 1.5 →
    // h(2)=round(1/1.5)=0.666667, h(3)=1.0.
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val r1 = Graph.hits(pairs, nodes, rounds = 1)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    r1 shouldBe Map(
      1L -> ((0.0, 1.0)), 2L -> ((0.666667, 0.5)),
      3L -> ((1.0, 0.0)), 4L -> ((0.0, 0.0)))
    // more rounds keep the roles and the ∞-norm pins the max at exactly 1
    val p2 = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val r4 = Graph.hits(p2, nodes, rounds = 4)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    r4(1L)._2 shouldBe 1.0 // strongest authority
    r4(3L)._1 shouldBe 1.0 // strongest hub
    r4(2L)._1 should (be > 0.0 and be < 1.0)
    r4(2L)._2 should (be > 0.0 and be < 1.0)
    r4(4L) shouldBe ((0.0, 0.0))
  }

  "Graph.localClusteringCoefficient" should "score clique members 1.0 and degree-1 leaves 0.0" in {
    import graft.operators.Graph
    // triangle {1,2,3} + leaf 4 on node 3: lcc(1)=lcc(2)=1 (deg 2, 1 tri),
    // lcc(3)=1/3 (deg 3, 1 of 3 possible), lcc(4)=0 (deg 1)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val lcc = Graph.localClusteringCoefficient(pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    lcc shouldBe Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333)), 4L -> ((1L, 0L, 0.0)))
  }

  "Similarity.pcaProject" should "recover the dominant axis and order the spectrum" in {
    // variance concentrated on axis 1, a little on axis 2, none on axis 3
    val vecs = Seq(
      (0L, Seq(4.0f, 0.1f, 0.5f)), (1L, Seq(-4.0f, -0.1f, 0.5f)),
      (2L, Seq(2.0f, 0.3f, 0.5f)), (3L, Seq(-2.0f, -0.3f, 0.5f)),
      (4L, Seq(3.0f, -0.2f, 0.5f)), (5L, Seq(-3.0f, 0.2f, 0.5f))
    ).toDF("vec_id", "embedding")
    val pc = Similarity.pcaProject(vecs, k = 2, iters = 20)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // pc1 ≈ the (mean-centered) axis-1 coordinate, up to a global sign
    val s = math.signum(pc(0L)._1)
    pc(0L)._1 * s shouldBe 4.0 +- 0.05
    pc(1L)._1 * s shouldBe -4.0 +- 0.05
    pc(2L)._1 * s shouldBe 2.0 +- 0.05
    // pc2 carries far less spread than pc1
    def spread(xs: Iterable[Double]) = xs.max - xs.min
    spread(pc.values.map(_._2)) should be < spread(pc.values.map(_._1)) / 5
    val rep = Similarity.pcaVarianceReport(vecs, k = 3, iters = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    rep.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L)
    // eigenvalues descend; axis 3 is constant → its component is ~zero
    rep(0)._2 should be > rep(1)._2
    rep(1)._2 should be > rep(2)._2
    rep(2)._2 shouldBe 0.0 +- 1e-4
    // explained ratios form a (near-)partition of total variance
    rep.map(_._3).sum shouldBe 1.0 +- 1e-3
    rep(0)._3 should be > 0.95
    // whitening rescales each axis toward unit variance: the dominant
    // axis shrinks relative to its raw projection, and both whitened
    // axes end up with comparable spread
    val wh = Similarity.pcaProject(vecs, k = 2, iters = 20, whiten = true)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val s1 = spread(wh.map(_._1)); val s2 = spread(wh.map(_._2))
    (s1 / s2) should (be > 0.3 and be < 3.0)
    // empty input → empty frames, schemas intact
    val e = vecs.filter(lit(false))
    Similarity.pcaProject(e, k = 2).columns.toSeq shouldBe Seq("vec_id", "pc1", "pc2")
    Similarity.pcaProject(e, k = 2).count() shouldBe 0L
    Similarity.pcaVarianceReport(e).count() shouldBe 0L
  }

  "Similarity.embeddingDrift" should "score identical sets 1/0 and orthogonal means 0" in {
    val a = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.5f, 0.0f))).toDF("vec_id", "embedding")
    val same = Similarity.embeddingDrift(a, a).head()
    (same.getLong(0), same.getLong(1), same.getDouble(2), same.getDouble(3)) shouldBe
      ((2L, 2L, 1.0, 0.0))
    val b = Seq((2L, Seq(0.0f, 1.0f)), (3L, Seq(0.0f, 0.5f))).toDF("vec_id", "embedding")
    val orth = Similarity.embeddingDrift(a, b).head()
    orth.getDouble(2) shouldBe 0.0 // orthogonal mean vectors
    // mean(a)=(0.75,0), mean(b)=(0,0.75) → L2 = 0.75·√2
    orth.getDouble(3) shouldBe BigDecimal(0.75 * math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // empty side → empty frame
    Similarity.embeddingDrift(a, a.filter($"vec_id" < 0)).count() shouldBe 0L
  }

  "Similarity.clusterPurity" should "score majority-label share per cluster" in {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.01f), 7), (1L, Seq(0.99f, 0.0f), 7), (2L, Seq(1.0f, 0.0f), 9),
      (3L, Seq(0.0f, 1.0f), 5), (4L, Seq(0.01f, 0.99f), 5)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterPurity(vecs, nlist = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    out shouldBe Set((3L, 7L, 2L, 0.666667), (2L, 5L, 2L, 1.0))
  }

  "Similarity.recallAtK" should "count approximate hits against the exact top-k" in {
    val exact  = Seq(1L, 2L, 3L, 4L).toDF("id")
    val approx = Seq(2L, 4L, 9L).toDF("id")
    val r = Similarity.recallAtK(approx, exact).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2)) shouldBe ((4L, 2L, 0.5))
  }

  "Similarity.rankEval" should "score hand-computed nDCG, MRR and P@k per query" in {
    // query 100 (label 5): neighbors ranked 5(rel), 6(not), 7(rel)
    // query 200 (label 9): no relevant neighbor at all
    val nn = Seq((100L, 5L, 1), (100L, 6L, 2), (100L, 7L, 3), (200L, 5L, 1))
      .toDF("query_id", "id", "rank")
    val labels = Seq((100L, 5), (200L, 9), (5L, 5), (6L, 0), (7L, 5)).toDF("vec_id", "label")
    val out = Similarity.rankEval(nn, labels, k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dcg  = 1.0 / math.log(2.0) + 1.0 / math.log(4.0)
    val idcg = 1.0 / math.log(2.0) + 1.0 / math.log(3.0)
    out(100L) shouldBe ((2L, r6(dcg), r6(dcg / idcg), 1.0, r6(2.0 / 3.0)))
    out(200L) shouldBe ((0L, 0.0, 0.0, 0.0, 0.0))
  }

  "Similarity.marginPairs" should "mine mutual best matches and leave the hub unpaired" in {
    // two aligned cluster pairs (a0~b0 on e1, a1~b1 on e2) plus a hub in A
    // equally similar to both B vectors: mutual-argmax pairs the clusters,
    // the hub loses both argmax contests (its ratio margin is deflated by
    // its own inflated neighborhood) and must not appear
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val a = Seq(
      (0L, v(1, 0.01, 0, 0, 0, 0.01, 0, 0)),   // a0 ~ e1
      (2L, v(0.01, 1, 0, 0, 0.01, 0, 0, 0)),   // a1 ~ e2
      (4L, v(0.7, 0.7, 0.01, 0, 0, 0, 0.01, 0)) // hub
    ).toDF("vec_id", "embedding")
    val b = Seq(
      (1L, v(1, 0.02, 0, 0.01, 0, 0, 0, 0)),   // b0 ~ e1
      (3L, v(0.02, 1, 0.01, 0, 0, 0, 0, 0))    // b1 ~ e2
    ).toDF("vec_id", "embedding")
    val df = Similarity.marginPairs(a, b, k = 4, threshold = 1.0)
    // scale contract: bucketed candidates (no cartesian/nested-loop join),
    // every window partitioned (no global sort)
    val physical = df.queryExecution.executedPlan.toString
    physical should not include "CartesianProduct"
    physical should not include "BroadcastNestedLoop"
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    } shouldBe empty
    val out = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    out.map(p => (p._1, p._2)).toSet shouldBe Set((0L, 1L), (2L, 3L))
    out.foreach { case (_, _, sim, margin) =>
      sim should be > 0.99
      margin should be >= 1.0 // the threshold contract
    }
    // mutuality invariant: every endpoint at most once
    out.map(_._1).distinct.length shouldBe out.length
    out.map(_._2).distinct.length shouldBe out.length
  }

  "Similarity.clusterReport" should "score a tight cluster 1.0 and count members" in {
    // two well-separated directions, duplicated: clusters are exact rays,
    // so every member's cosine to its centroid is 1.0 (ids 0/1 seed the
    // two clusters, so they must point different ways)
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)), (3L, Array(0f, 3f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val rep = Similarity.clusterReport(vecs, nlist = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    rep.length shouldBe 2
    rep.foreach { case (n, coh) => n shouldBe 2L; coh shouldBe 1.0 }
  }

  "Similarity.matryoshkaTopK" should "reduce to exact brute force at dPrefix = dim" in {
    val q = vecs.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val full  = Similarity.matryoshkaTopK(vecs, q, k = 3, nCand = 5, dPrefix = q.length)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    full shouldBe brute
    // and the planted near-parallel vector survives a quarter-dim shortlist
    val pre = Similarity.matryoshkaTopK(vecs, q, k = 2, nCand = 3, dPrefix = 4)
      .collect().map(_.getLong(0))
    pre should contain(1L)
  }

  "Similarity.clusterBalancedSample" should "cap every cluster at perCluster members" in {
    val kept = Similarity.clusterBalancedSample(vecs, nlist = 2, perCluster = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    kept.groupBy(_._2).values.foreach(_.length shouldBe 1)     // hard cap
    kept.map(_._2).distinct.length shouldBe kept.length        // one row per cluster
    kept.foreach(_._3 should be <= 1.0001)                     // cosine-valued
    // no cap: every vector survives
    Similarity.clusterBalancedSample(vecs, nlist = 2, perCluster = 100).count() shouldBe 5L
  }

  "Similarity.oneBitTopKRerank" should "recover the exact top-k through the sign-pattern shortlist" in {
    val q = vecs.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    val viaBits = Similarity.oneBitTopKRerank(vecs, q, k = 3, nCand = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    viaBits shouldBe brute
    // the near-parallel vector has Hamming ~0 to the query: survives any shortlist
    val tight = Similarity.oneBitTopKRerank(vecs, q, k = 2, nCand = 2).collect().map(_.getLong(0))
    tight should contain(1L)
  }

  "Similarity.int8TopKRerank" should "recover the exact top-k through the quantized shortlist" in {
    val q = vecs.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    // shortlist = whole corpus => re-rank IS exact brute force
    val viaQ  = Similarity.int8TopKRerank(vecs, q, k = 3, nCand = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(vecs, q, k = 3)
      .collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble))
    viaQ shouldBe brute
    // a tight shortlist still finds the planted near-parallel vector: 8-bit
    // quantization error (~1/254 per component) cannot bury cosine ~1.0
    val tight = Similarity.int8TopKRerank(vecs, q, k = 2, nCand = 2).collect().map(_.getLong(0))
    tight should contain(1L) // rank 1 is the self-match; rank 2 the planted near-dup
  }

  "Similarity.contrastiveTriplets" should "pair text-dup anchors with non-positive negatives" in {
    // docs 0/1 near-dup and 0/4 exact-dup (bigram jaccard >= 0.5): anchors
    // with positives exist; vecs ids align with doc ids 0..4
    val t = Similarity.contrastiveTriplets(docs, vecs,
      jaccardThreshold = 0.5, m = 2, dupCut = 0.95, searchK = 4,
      planesPerTable = 2, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    t should not be empty
    t.foreach { case (a, p, n, _) =>
      n should not be a // never the anchor itself
      n should not be p // never the positive
    }
    // dense per-anchor re-rank starting at 1
    t.groupBy(_._1).values.foreach(g => g.map(_._4).sorted shouldBe (1 to g.length).toArray)
  }

  "Similarity.hardNegatives" should "exclude near-duplicate neighbors as unlabeled positives" in {
    val corpus = Similarity.vectorIndex(vecs, planesPerTable = 2, tables = 8)
    val qs     = vecs.filter(col("vec_id") === 0L) // base vector; vec 1 is ~parallel
    val negs = Similarity.hardNegatives(qs, corpus, m = 3, dupCut = 0.95, searchK = 5,
      planesPerTable = 2, tables = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    negs.map(_._1) should not contain 1L     // the planted near-dup is filtered
    negs.foreach(_._2 should be < 0.95)      // every negative is below the cutoff
    negs.map(_._3).sorted shouldBe (1L to negs.length.toLong).toArray // dense re-rank
    negs.length should be <= 3
  }

  it should "treat sub-k-word docs through the whole-text fallback shingle" in {
    // two identical 2-word docs (< shingleK words): the fallback hash makes
    // them a full-containment pair; an unrelated short doc pairs with nothing
    val shorts = Seq((0L, "tiny doc"), (1L, "tiny doc"), (2L, "other thing"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(shorts, threshold = 0.9, shingleK = 3, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    pairs.map(p => (p._1, p._2)) shouldBe Array((0L, 1L))
    pairs.head._3 shouldBe 1.0
    pairs.head._4 shouldBe 1.0
  }

  "Sampling.topFractionBy" should "keep the ceil(f*n) highest-weight rows with doc_id ties" in {
    val scored = Seq((0L, 0.5), (1L, 0.9), (2L, 0.9), (3L, 0.1), (4L, 0.7))
      .toDF("doc_id", "weight")
    val top = Sampling.topFractionBy(scored, 0.5, "weight")
      .collect().map(_.getLong(0)).toSet
    top shouldBe Set(1L, 2L, 4L) // ceil(2.5)=3 rows; 0.9,0.9,0.7; tie 1<2 kept both
    Sampling.topFractionBy(scored, 0.0, "weight").count() shouldBe 0L
    Sampling.topFractionBy(scored, 1.0, "weight").count() shouldBe 5L
  }

  "Dedup.duplicateClusters" should "collapse transitive near-dup chains to one representative" in {
    // 0~1 and 1~2 by bigram Jaccard 5/9 ≈ 0.56, but 0 and 2 share only
    // 3/11 ≈ 0.27 — a chain only connected components can collapse
    val chain = Seq(
      (0L, "a b c d e f g h"),
      (1L, "c d e f g h i j"),
      (2L, "e f g h i j k l"),
      (3L, "totally unrelated content words over here")
    ).toDF("doc_id", "text")
    val reps = Dedup.duplicateClusters(chain, 0.5, numHashes = 64, bands = 32, shingleK = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    reps shouldBe Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L)
    // pair mining alone never links 0 and 2 — the iteration earns its keep
    val direct = Dedup.minhashLshPairs(chain, 0.5, numHashes = 64, bands = 32, shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    direct should contain(0L -> 1L)
    direct should contain(1L -> 2L)
    direct should not contain (0L -> 2L)
  }

  "Dedup.minhashLshPairs" should "find planted near-duplicates" in {
    val pairs = Dedup.minhashLshPairs(docs, threshold = 0.5, shingleK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs should contain((0L, 4L)) // exact dup always collides
    pairs should contain((0L, 1L)) // near dup
  }

  "Dedup.editDistancePairs" should "find LSH candidates within the edit budget" in {
    val near = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumped over the lazy dog again and again"), // 2 edits
      (2L, "completely different words that share nothing with the others at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(near, maxDist = 5, bands = 16, numHashes = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    pairs.keySet shouldBe Set(0L -> 1L)
    pairs(0L -> 1L) shouldBe 2L // "jumps" -> "jumped": one substitution + one insertion
  }

  "TextAnalysis.chunkDocuments" should "emit overlapping windows with a short tail" in {
    val one = Seq((0L, (1 to 10).map(i => s"w$i").mkString(" "))).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocuments(one, chunkSize = 4, stride = 3)
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    chunks shouldBe Array(
      (0L, "w1 w2 w3 w4", 4L),
      (1L, "w4 w5 w6 w7", 4L),
      (2L, "w7 w8 w9 w10", 4L),
      (3L, "w10", 1L)) // start=9 < 10 tokens: the tail chunk is emitted, truncated
  }

  "Dedup.cdcChunks (native kernel)" should "match the HOF reference form row-for-row" in {
    // edge cases the packer must honor: empty text (one empty word, one
    // chunk), leading/trailing/double spaces (empty words), a boundary
    // word CLOSING the last chunk (no spurious extra), non-ASCII
    // codepoints (the wordPoly fallback path), and a long chain
    val d = Seq(
      (0L, ""), (1L, " a  b "), (2L, "héllo wörld ünïcode"),
      (3L, (1 to 97).map(i => s"tok$i word$i").mkString(" ")),
      (4L, "solo")
    ).toDF("doc_id", "text")
    for (div <- Seq(2, 4, 8)) {
      val fast = Dedup.cdcChunks(d, divisor = div).orderBy("doc_id", "chunk_idx").collect()
      val ref  = Dedup.cdcChunksHof(d, divisor = div).orderBy("doc_id", "chunk_idx").collect()
      fast shouldBe ref
    }
  }

  "Dedup.cdcOverlapPairs" should "survive a prefix insertion that shifts every fixed window" in {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (0L, base),
      (1L, "inserted " + base), // every fixed-offset window shifts; CDC chunks after the edit do not
      (2L, (1 to 40).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    // content-defined boundaries: the suffix chunk hashes of 0 and 1 coincide
    val chunks = Dedup.cdcChunks(d, divisor = 4)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val shared = chunks(0L).intersect(chunks(1L))
    shared.size should be >= 2 // the edit invalidates at most the first chunk
    chunks(0L).intersect(chunks(2L)) shouldBe empty
    val pairs = Dedup.cdcOverlapPairs(d, divisor = 4, minWords = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs shouldBe Array((0L, 1L))
  }

  "Dedup.winnowFingerprints" should "select window minima with the rightmost tie rule" in {
    // "abcabcab", k=3, w=2: gram hashes repeat (abc,bca,cab,abc,bca,cab) =
    // (304891,305881,306781,...); hand-walked windows pick positions
    // 1,2,4,5 (MOSS selection) — values verified against the fold by hand
    val fp = Dedup.winnowFingerprints(Seq((0L, "abcabcab")).toDF("doc_id", "text"), k = 3, w = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    fp shouldBe Array((1L, 304891L), (2L, 305881L), (4L, 304891L), (5L, 305881L))
    // all-equal hashes: ties go RIGHT, so every window picks its last slot
    val ties = Dedup.winnowFingerprints(Seq((0L, "aaaa")).toDF("doc_id", "text"), k = 2, w = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ties shouldBe Array((2L, 9831L), (3L, 9831L))
    // too short for one complete window → no fingerprints (not a partial window)
    Dedup.winnowFingerprints(Seq((0L, "abc")).toDF("doc_id", "text"), k = 3, w = 2)
      .count() shouldBe 0L
  }

  "PortableHash.winnow" should "agree with the HOF spelling on random corpora and parameters" in {
    // differential test: the native rolling-hash + monotonic-deque kernel
    // vs the declarative window-min form, over seeded random ASCII docs
    // (repetition-heavy alphabet maximizes tie-rule exercise) and several
    // (k, w) shapes — any deque/rolling-hash off-by-one diverges somewhere
    val rnd = new scala.util.Random(42)
    val alphabet = "abc d"
    val corpus = (0L until 8L).map { i =>
      val len = 5 + rnd.nextInt(120)
      (i, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }.toDF("doc_id", "text")
    for ((k, w) <- Seq((2, 2), (3, 5), (7, 3))) {
      val kern = Dedup.winnowFingerprints(corpus, k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val hof = Dedup.winnowFingerprintsHof(corpus, k = k, w = w)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      withClue(s"k=$k w=$w: ") { kern shouldBe hof }
    }
  }

  "Dedup.winnowContainment" should "expose the fragment-of asymmetry" in {
    // doc 1 IS a fragment of doc 0: every selected fingerprint of 1
    // appears in 0, while 0 keeps fingerprints of its own extra text
    val base = "the quick brown fox jumps over the lazy sleeping dog tonight"
    val d = Seq(
      (0L, s"$base and then a very long unrelated continuation follows here after it"),
      (1L, base),
      (2L, "entirely different words that never touch the other documents")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowContainment(d, k = 16, w = 8, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    out.map(t => (t._1, t._2)) shouldBe Array((0L, 1L))
    val (_, _, shared, fracA, fracB) = out.head
    shared should be >= 1L
    fracB shouldBe 1.0    // the fragment is fully covered
    fracA should be < 1.0 // the container is not
  }

  "Dedup.winnowGateAgainstCorpus" should "reject batch docs sharing a span with any archived doc" in {
    val corpus = Seq(
      (1L, "the archive holds this exact sentence about spark shuffles forever"),
      (3L, "completely unrelated archived content nothing shared here at all!")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "a new doc that lifted: the archive holds this exact sentence about spark"),
      (12L, "fresh original writing with zero overlap anywhere in the span space")
    ).toDF("doc_id", "text")
    val ix = Dedup.winnowFpIndex(corpus, k = 16, w = 8)
    val out = Dedup.winnowGateAgainstCorpus(batch, ix, minShared = 2L, maxBucket = 200, k = 16, w = 8)
      .select("doc_id").collect().map(_.getLong(0))
    out shouldBe Array(12L) // the splice is caught, the original passes
    // a capped (boilerplate) corpus fingerprint cannot reject on its own:
    // with maxBucket = 0 every corpus fp is degenerate and everything passes
    Dedup.winnowGateAgainstCorpus(batch, ix, minShared = 2L, maxBucket = 0, k = 16, w = 8)
      .count() shouldBe 2L
  }

  "Dedup.winnowPairs" should "guarantee a shared fingerprint for a >= w+k-1 char span" in {
    // docs 0/1 share " hello world " (13 chars >= 4+8-1): the winnowing
    // theorem promises at least one common SELECTED fingerprint
    val d = Seq(
      (0L, "xxxx hello world yyyy"),
      (1L, "zzzz hello world qqqq"),
      (2L, "completely different!")
    ).toDF("doc_id", "text")
    Dedup.winnowPairs(d, k = 8, w = 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((0L, 1L))
  }

  "Dedup.minhashLshDuplicates" should "flag the larger id of each dup pair" in {
    val dups = Dedup.minhashLshDuplicates(docs, 0.9).collect().map(_.getLong(0))
    dups should contain(4L)
    dups should not contain 3L
  }

  "native signature kernels" should "be value-identical to the portable HOF forms" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // non-ASCII rows exercise the per-code-point fallback of the native
    // byte-level word hash (PortableHash.wordPoly); the empty doc and the
    // short doc exercise the k<words fallback fold
    val hard = Seq(
      (100L, "der schnelle fuchs läuft über die große straße — çok güzel"),
      (101L, "emoji 🦊 and 中文 words mixed with ascii"),
      (102L, "short"),
      (103L, "")
    ).toDF("doc_id", "text")
    val all_docs = docs.select(col("doc_id"), col("text")).union(hard)
    val cmp = all_docs.select(
      (GraftFunctions.shingles(col("text"), 3) === Dedup.shingleSet(col("text"), 3)).as("sg_eq"),
      (GraftFunctions.wordHashes(col("text")) === Dedup.wordHashes(col("text"))).as("wh_eq")
    ).collect()
    all(cmp.map(_.getBoolean(0))) shouldBe true
    all(cmp.map(_.getBoolean(1))) shouldBe true
    val sh = all_docs.select(Dedup.shingleSet(col("text"), 3).as("sh"), Dedup.wordHashes(col("text")).as("wh"))
    val cmp2 = sh.select(
      (GraftFunctions.minhash(col("sh"), 64) === Dedup.minhashSignature(col("sh"), 64)).as("mh_eq"),
      (GraftFunctions.simhash(col("wh")) === Dedup.simhashSignature(col("wh"))).as("sh_eq")
    ).collect()
    all(cmp2.map(_.getBoolean(0))) shouldBe true
    all(cmp2.map(_.getBoolean(1))) shouldBe true
    // winnowing: the native rolling-hash + deque kernel against the HOF
    // window-min spelling, row-for-row (BMP docs only — the HOF form's
    // split("") separates UTF-16 units, see winnowFingerprintsHof)
    val bmp = docs.select(col("doc_id"), col("text"))
      .union(Seq((102L, "short"), (103L, ""), (104L, "abcabcab"), (105L, "aaaaaaaaaaaa"))
        .toDF("doc_id", "text"))
    val kern = Dedup.winnowFingerprints(bmp, k = 5, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val hof = Dedup.winnowFingerprintsHof(bmp, k = 5, w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    kern shouldBe hof
    kern.nonEmpty shouldBe true
    // the in-kernel distinct-fp variant == DISTINCT over the positional picks
    graft.functions.GraftFunctions.register(spark)
    val viaSet = bmp.select(col("doc_id"),
        explode(graft.functions.GraftFunctions.winnowFps(col("text"), 5, 3)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    viaSet shouldBe kern.map(t => (t._1, t._3)).distinct.sorted
  }

  "Dedup.simhashPairs" should "give identical docs hamming 0 and respect the bucket cap" in {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    pairs.find(p => p._1 == 0L && p._2 == 4L).map(_._3) shouldBe Some(0L)
    // maxBucket = 1 drops every shared bucket of width ≥ 2, so even the
    // identical pair disappears — proves the cap actually gates the join
    Dedup.simhashPairs(docs, maxHamming = 8, maxBucket = 1).collect() shouldBe empty
  }

  "Curate.curate" should "drop exact dups, wrong languages and short docs in one pass" in {
    import graft.pipeline.Curate
    val out = Curate.curate(docs, keepLangs = Seq("en", "de"), minQuality = 0.0, minTokens = 5, maxTokens = 100)
      .collect().map(_.getLong(0)).sorted
    // 4 is an exact dup of 0 (dropped), 5 is Spanish (dropped); 0-3 survive
    out shouldBe Array(0L, 1L, 2L, 3L)
    // a token ceiling of 8 kills every fixture doc (shortest is 9 words)
    Curate.curate(docs, keepLangs = Seq("en", "de"), minQuality = 0.0, minTokens = 5, maxTokens = 8)
      .count() shouldBe 0L
  }

  "Similarity.bruteForceTopK" should "rank the query vector itself first" in {
    val q   = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val top = Similarity.bruteForceTopK(vecs, q, 3).collect()
    top.head.getLong(0) shouldBe 0L
    top.head.getDouble(1) shouldBe 1.0 +- 1e-9
    top(1).getLong(0) shouldBe 1L // the near-parallel vector
    top(1).getDouble(1) should be > 0.99
  }

  "Similarity.cosinePairs and lshCosinePairs" should "agree on near-parallel vectors" in {
    val exact = Similarity.cosinePairs(vecs, 0.99).collect().map(r => (r.getLong(0), r.getLong(1)))
    exact shouldBe Array((0L, 1L))
    val lsh = Similarity.lshCosinePairs(vecs, 0.99).collect().map(r => (r.getLong(0), r.getLong(1)))
    lsh shouldBe Array((0L, 1L)) // sim≈1 ⇒ all sign bits agree ⇒ recall 1
  }

  "native LshBuckets kernel" should "be bit-identical to the portable HOF bucket fold" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val planes = (0 until 3).map(t => Similarity.hyperplanes(5, 8, seed = 42L + t))
    val rnd = new scala.util.Random(11)
    val rvecs = (0 until 50).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cmp = rvecs.select(
      GraftFunctions.lshBuckets(col("embedding"), planes).as("nat"),
      array(planes.map(p => Similarity.lshBucket(col("embedding"), p)): _*).as("hof"))
    cmp.filter(col("nat") =!= col("hof")).count() shouldBe 0L
  }

  "native Int8QSim kernel" should "be bit-identical to the HOF quantize/dot/norm chain" in {
    import graft.functions.{GraftFunctions, Int8QSimKernel}
    import org.apache.spark.sql.Column
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    val qv  = Array.fill(8)(rnd.nextGaussian())
    // the HOF spelling the kernel replaces — verbatim from the old
    // int8TopKRerank, including the query quantized by ConstantFolding
    def quant(v: Column): Column = {
      val mx = greatest(array_max(transform(v, x => abs(x.cast("double")))), lit(1e-30))
      transform(v, x => round(x.cast("double") * (lit(127.0) / mx), 0))
    }
    def fdot(a: Column, b: Column) = GraftFunctions.dotProduct(a, b)
    def fnorm(a: Column)           = sqrt(fdot(a, a))
    val zqC = quant(lit(qv))
    val rows: Seq[Seq[java.lang.Float]] =
      (0 until 60).map(_ => Seq.fill(8)(java.lang.Float.valueOf(
        (rnd.nextGaussian() * (if (rnd.nextBoolean()) 1e3f else 1e-3f)).toFloat))) :+
        Seq(java.lang.Float.valueOf(2.5f), null, java.lang.Float.valueOf(-7.25f),
          null, java.lang.Float.valueOf(0.5f))                   // null elements skipped like fdot/fnorm
    val df  = rows.toDF("embedding")
    val zc  = quant(col("embedding"))
    val cmp = df.select(
      GraftFunctions.int8QSim(col("embedding"), Int8QSimKernel.quantize(qv)).as("nat"),
      (fdot(zc, zqC) / (fnorm(zc) * fnorm(zqC))).as("hof"))
    cmp.filter(col("nat") =!= col("hof")).count() shouldBe 0L
    cmp.filter(col("nat").isNull =!= col("hof").isNull).count() shouldBe 0L
    // degenerate rows (zero / empty vector): the SQL spelling ERRORS under
    // ANSI division — the kernel computes the IEEE 0/0 = NaN instead, so
    // any corpus the gate ever ran on is value-identical
    val degen = Seq(Seq.fill(8)(java.lang.Float.valueOf(0.0f)),
      Seq.empty[java.lang.Float]).toDF("embedding")
    degen.select(GraftFunctions.int8QSim(col("embedding"), Int8QSimKernel.quantize(qv)).as("nat"))
      .collect().foreach(r => assert(r.getDouble(0).isNaN))
  }

  "native BPE replay kernels" should "match the HOF char-split + greedy merge fold, merge by merge" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // words with repeats, overlap traps (aaa under (a,a)), unicode, and
    // single chars; merges chosen so later rounds consume earlier fused
    // tokens ((ab, c) after (a, b)) and so some rounds are no-ops
    val words = Seq("abcabc", "aaa", "aaaa", "ababab", "übermaß", "x",
      "cabbage", "abc", "bcbc", "aabbcc").toDF("__w")
    val merges = Seq(("a", "b"), ("ab", "c"), ("b", "c"), ("a", "a"), ("aa", "bc"))
    for (k <- 0 to merges.length) {
      val soFar = merges.take(k)
      var hof = org.apache.spark.sql.functions.expr(
        "transform(sequence(1, length(__w)), i -> substring(__w, i, 1))")
      soFar.foreach { case (x, y) => hof = TextAnalysis.greedyMergeFold(hof, x, y) }
      val cmp = words.select(
          GraftFunctions.bpeApply(col("__w"), soFar).as("nat"), hof.as("hof"),
          GraftFunctions.bpePairs(col("__w"), soFar).as("natp"))
        .withColumn("hofp", expr("case when size(hof) >= 2 then " +
          "transform(sequence(1, size(hof) - 1), " +
          "i -> struct(element_at(hof, i) AS l, element_at(hof, i + 1) AS r)) " +
          "else array() end")) // the old path filtered size>=2 before the pair transform
      cmp.filter(col("nat") =!= col("hof")).count() shouldBe 0L
      // the pairs kernel returns [] where the old path filtered size>=2
      cmp.filter(expr("size(hof) >= 2")).filter(col("natp") =!= col("hofp")).count() shouldBe 0L
      cmp.filter(expr("size(hof) < 2 and size(natp) != 0")).count() shouldBe 0L
    }
  }

  "native UnitSnap and CharBigrams kernels" should "be bit-identical to their HOF spellings" in {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.Column
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(23)
    val vdf = ((0 until 50).map(_ => Seq.fill(8)(java.lang.Float.valueOf(
        (rnd.nextGaussian() * (if (rnd.nextBoolean()) 1e2f else 1e-2f)).toFloat))) :+
      Seq(java.lang.Float.valueOf(1.5f), null, java.lang.Float.valueOf(-0.25f)))
      .toDF("embedding")
    def fnorm(a: Column) = sqrt(GraftFunctions.dotProduct(a, a))
    val norm = fnorm(col("embedding"))
    val vc = vdf.filter(norm > 0.0).select(
      GraftFunctions.unitSnap(col("embedding")).as("nat"),
      transform(col("embedding"),
        x => round(x.cast("double") / norm * lit(1000000.0)).cast("long")).as("hof"))
    vc.filter(col("nat") =!= col("hof")).count() shouldBe 0L
    val wdf = Seq("ab", "abc", "aßéx", "xxxxx", "multibyte✓pair").toDF("__w")
    val wc = wdf.select(
      GraftFunctions.charBigrams(col("__w")).as("nat"),
      expr("transform(sequence(1, length(__w) - 1), i -> substring(__w, i, 2))").as("hof"))
    wc.filter(col("nat") =!= col("hof")).count() shouldBe 0L
  }

  "native NearestCentroid kernel" should "pick the argmax-cosine centroid, first index on ties" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val rnd   = new scala.util.Random(13)
    val cents = (0 until 6).map(_ => Array.fill(8)(rnd.nextGaussian()))
    val data = (0 until 40).map(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val got = data.select(col("vec_id"), GraftFunctions.nearestCentroid(col("embedding"), cents).as("pos"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(v: Seq[Float], c: Array[Double]): Double = {
      val d = v.zip(c).map { case (x, y) => x.toDouble * y }.sum
      d / (math.sqrt(v.map(x => x.toDouble * x).sum) * math.sqrt(c.map(x => x * x).sum))
    }
    data.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).foreach { case (id, v) =>
      val sims = cents.map(c => cos(v, c))
      got(id) shouldBe sims.indexOf(sims.max)
    }
  }

  it should "mirror Spark's NaN-greatest ordering for zero-norm vectors and centroids" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // Spark parity probe: array_max treats NaN as GREATER than any double
    // and array_position then finds the FIRST NaN — the form the kernel
    // replaces must agree on exactly this
    spark.sql("select array_position(a, array_max(a)) p from (select array(0.5d, sqrt(-1d), 0.9d, sqrt(-1d)) a)")
      .head().getLong(0) shouldBe 2L
    // a zero-norm centroid at index 1 yields sim = NaN for every row → it
    // captures every non-zero vector (NaN-greatest, first NaN wins) …
    val cents = Seq(Array(1.0, 0.0, 0.0), Array(0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f)) // … and a zero VECTOR is all-NaN → index 0
    ).toDF("vec_id", "embedding")
    val got = rows.select(col("vec_id"), GraftFunctions.nearestCentroid(col("embedding"), cents).as("pos"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    got shouldBe Map(0L -> 1, 1L -> 1, 2L -> 0)
  }

  "Similarity.gateAgainstCorpus" should "drop incoming vectors near-duplicating the corpus" in {
    // corpus = vecs 0,2; incoming batch: near-parallel copy of 0, plus an
    // orthogonal-ish newcomer — index round-trips through parquet
    val idxPath = java.nio.file.Files.createTempDirectory("graft_vec_idx_").toString + "/vindex"
    val corpus = Similarity.vectorIndex(vecs.filter(col("vec_id").isin(0L, 2L)), planesPerTable = 5, tables = 6)
    corpus.write.mode("overwrite").parquet(idxPath)
    val corpusIndex = spark.read.parquet(idxPath)
    val batchRows = vecs.filter(col("vec_id").isin(1L, 3L)) // 1 ~parallel to 0, 3 independent
    val kept = Similarity.gateAgainstCorpus(batchRows, corpusIndex, threshold = 0.9,
      planesPerTable = 5, tables = 6).select("vec_id").collect().map(_.getLong(0)).toSet
    kept should contain(3L)
    kept should not contain 1L
    Similarity.gateAgainstCorpus(batchRows, corpusIndex, threshold = 0.9,
      planesPerTable = 5, tables = 6).columns shouldBe batchRows.columns
    // an empty batch (idle streaming trigger) flows through, no throw
    Similarity.gateAgainstCorpus(vecs.filter(lit(false)), corpusIndex, threshold = 0.9,
      planesPerTable = 5, tables = 6).count() shouldBe 0L
  }

  "Sampling.hashSample" should "be deterministic, monotone in rate, and exact at the edges" in {
    val corpus = (0L until 400L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val s30a = Sampling.hashSample(corpus, 0.3).select("doc_id").collect().map(_.getLong(0)).toSet
    val s30b = Sampling.hashSample(corpus, 0.3).select("doc_id").collect().map(_.getLong(0)).toSet
    s30a shouldBe s30b // rerun ⇒ identical corpus, the lineage property
    val s60 = Sampling.hashSample(corpus, 0.6).select("doc_id").collect().map(_.getLong(0)).toSet
    s30a.subsetOf(s60) shouldBe true // raising the rate only ADDS docs
    s30a.size.toDouble should (be > 400 * 0.15 and be < 400 * 0.45)
    Sampling.hashSample(corpus, 0.0).count() shouldBe 0L
    Sampling.hashSample(corpus, 1.0).count() shouldBe 400L
    // a different seed draws a different (deterministic) sample
    Sampling.hashSample(corpus, 0.3, seed = 99L).select("doc_id")
      .collect().map(_.getLong(0)).toSet should not be s30a
  }

  "Sampling.weightedHashSample" should "keep heavy rows at the full fraction and scale the rest" in {
    val corpus = (0L until 400L).map(i => (i, s"doc $i", 1L + i % 100)).toDF("doc_id", "text", "w")
    val a = Sampling.weightedHashSample(corpus, 0.5, "w").select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.weightedHashSample(corpus, 0.5, "w").select("doc_id").collect().map(_.getLong(0)).toSet
    a shouldBe b // deterministic
    // fraction 1 keeps EVERY max-weight row (threshold = 10000 beats any hash)
    val full = Sampling.weightedHashSample(corpus, 1.0, "w")
    full.filter($"w" === 100L).count() shouldBe corpus.filter($"w" === 100L).count()
    Sampling.weightedHashSample(corpus, 0.0, "w").count() shouldBe 0L
    // heavier strata are sampled at a higher rate than lighter ones
    val kept = Sampling.weightedHashSample(corpus, 0.5, "w")
      .groupBy(($"w" > 50).as("heavy")).count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    kept(true).toDouble should be > kept(false).toDouble
    // empty input short-circuits instead of NPE on the null max
    Sampling.weightedHashSample(corpus.filter(lit(false)), 0.5, "w").count() shouldBe 0L
  }

  "TextAnalysis.sourceDrift" should "score divergence from the corpus mix" in {
    val d = Seq(
      (0L, "a b", "s1"), (1L, "a b", "s2"), (2L, "z z", "s3")
    ).toDF("doc_id", "text", "source")
    val kl = TextAnalysis.sourceDrift(d).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    // corpus q = {a:1/3, b:1/3, z:1/3}; s1/s2 p = {a:.5, b:.5} ⇒ ln(1.5);
    // s3 p = {z:1} ⇒ ln(3) — the odd source scores highest
    kl("s1") shouldBe 0.405465
    kl("s2") shouldBe 0.405465
    kl("s3") shouldBe 1.098612
  }

  "TextAnalysis.corpusReport" should "emit every cube grouping with exact counts" in {
    val d = Seq(
      (0L, "one two three", "en", "s1"), (1L, "four five", "en", "s2"),
      (2L, "sechs sieben", "de", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextAnalysis.corpusReport(d).collect()
      .map(r => ((Option(r.getString(0)), Option(r.getString(1)), r.getLong(2)), (r.getLong(3), r.getLong(4))))
      .toMap
    rows.size shouldBe (3 + 2 + 2 + 1) // pairs + langs + sources + total
    rows((Some("en"), Some("s1"), 0L)) shouldBe ((1L, 3L))
    rows((Some("en"), None, 1L)) shouldBe ((2L, 5L))       // source rolled up
    rows((None, Some("s1"), 2L)) shouldBe ((2L, 5L))       // lang rolled up
    rows((None, None, 3L)) shouldBe ((3L, 7L))             // grand total
  }

  "Multimodal.contentDedup" should "group byte-identical payloads under the smallest id" in {
    val media = Multimodal.withPayload(Seq(
      (10L, "same bytes", "en", "a", 10L),
      (3L, "same bytes", "en", "b", 10L),
      (7L, "different bytes", "en", "a", 15L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Multimodal.contentDedup(media).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    out shouldBe Array((3L, 2L, 10L), (7L, 1L, 15L))
  }

  "Multimodal.audioEnergyWindows" should "score exact per-frame RMS from the raw bytes" in {
    // 'A' = 65 -> (65-128)^2 = 3969 -> rms 63 (loud); 'x' = 120 -> rms 8
    // (quiet). 256 'A's + 44 'x's: frame 0 full/active, frame 1 short/idle
    val media = Multimodal.withPayload(Seq(
      (1L, "A" * 256 + "x" * 44, "en", "a", 300L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Multimodal.audioEnergyWindows(media).orderBy("window_idx")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    out shouldBe Array((0L, 256L, 63.0, true), (1L, 44L, 8.0, false))
  }

  "Multimodal.containerMeta" should "parse real PNG IHDR and JPEG SOF headers and stub unknown bytes" in {
    def hexb(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def be32(v: Int)                 = hexb(f"$v%08X")
    def be16(v: Int)                 = hexb(f"$v%04X")
    // minimal PNG: signature + IHDR(640x480, color type 6 = RGBA) + tail bytes
    val png = hexb("89504E470D0A1A0A" + "0000000D" + "49484452") ++ be32(640) ++ be32(480) ++
      hexb("08" + "06" + "000000") ++ "tail".getBytes("UTF-8")
    // minimal JPEG: SOI, APP0(JFIF, len 16), DQT(len 4), SOF2(99x77, 1 component)
    val jpeg = hexb("FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" + "00010001" + "0000") ++
      hexb("FFDB" + "0004" + "0000") ++
      hexb("FFC2" + "000B" + "08") ++ be16(77) ++ be16(99) ++ hexb("01" + "011100") ++
      "entropy".getBytes("UTF-8")
    val desync = hexb("FFD8" + "00AA" + "BBCC") // second marker lacks FF: walk dies -> stub
    val raw    = "just text".getBytes("UTF-8")
    val media = Seq((1L, png), (2L, jpeg), (3L, desync), (4L, raw), (5L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val out = Multimodal.containerMeta(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    out(0) shouldBe ((1L, "png", 640L, 480L, 4L))
    out(1) shouldBe ((2L, "jpeg", 99L, 77L, 1L)) // SOF walked past APP0 + DQT
    def stub(nb: Long) = (64L + nb % 193L, 64L + (nb * 31) % 177L)
    val (w3, h3) = stub(desync.length.toLong)
    out(2) shouldBe ((3L, "raw", w3, h3, 3L))
    val (w4, h4) = stub(raw.length.toLong)
    out(3) shouldBe ((4L, "raw", w4, h4, 3L))
    out(4) shouldBe ((5L, "raw", 64L, 64L, 3L))
    // the walk is BOUNDED: with maxSegments = 2 the SOF in segment 3 is
    // never reached and the row falls back to the stub
    val bounded = Multimodal.containerMeta(media.filter($"doc_id" === 2L), maxSegments = 2)
      .collect().head
    bounded.getString(1) shouldBe "raw"
  }

  "Multimodal.syntheticContainers" should "round-trip id-derived dimensions through real headers" in {
    val docsDf = Seq(
      (0L, "png rgb doc"), (1L, "jpeg sof2 gray doc"), (2L, "raw doc"),
      (3L, "png rgba doc"), (4L, "jpeg sof0 rgb doc")
    ).toDF("doc_id", "text")
    val out = Multimodal.containerMeta(Multimodal.syntheticContainers(docsDf))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    def w(id: Long) = 1L + (id * 7)  % 4096L
    def h(id: Long) = 1L + (id * 13) % 4096L
    out(0) shouldBe ((0L, "png", w(0), h(0), 3L))  // color type 2
    out(1) shouldBe ((1L, "jpeg", w(1), h(1), 1L)) // SOF2, 1 component
    out(2)._2 shouldBe "raw"
    out(3) shouldBe ((3L, "png", w(3), h(3), 4L))  // color type 6
    out(4) shouldBe ((4L, "jpeg", w(4), h(4), 3L)) // SOF0, 3 components
  }

  "Similarity.isotropyReport" should "score collapse 1, orthogonal 0, and drop zero vectors" in {
    graft.functions.GraftFunctions.register(spark)
    def rep(vs: Seq[Array[Float]]) =
      Similarity.isotropyReport(vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")).head()
    // fully collapsed: identical directions (scale must not matter)
    val c = rep(Seq(Array(1f, 0f), Array(3f, 0f), Array(0.5f, 0f)))
    (c.getLong(0), c.getLong(1), c.getDouble(2), c.getDouble(3)) shouldBe ((3L, 2L, 1.0, 1.0))
    // orthogonal pair: mean cosine 0, centroid norm = √2/2
    val o = rep(Seq(Array(1f, 0f), Array(0f, 1f)))
    (o.getDouble(2), o.getDouble(3)) shouldBe ((0.0, 0.707107))
    // opposite pair: mean cosine −1, centroid at the origin
    val p = rep(Seq(Array(1f, 0f), Array(-1f, 0f)))
    (p.getDouble(2), p.getDouble(3)) shouldBe ((-1.0, 0.0))
    // a zero vector has no direction: dropped, not a NaN in the moments
    val z = rep(Seq(Array(1f, 0f), Array(0f, 1f), Array(0f, 0f)))
    (z.getLong(0), z.getDouble(2)) shouldBe ((2L, 0.0))
    // single vector: no pair to average — null mean, centroid norm 1
    val s1 = rep(Seq(Array(0f, 2f)))
    (s1.getLong(0), s1.isNullAt(2), s1.getDouble(3)) shouldBe ((1L, true, 1.0))
  }

  "Curate.joinCardinality" should "predict the exact join size from the key histograms" in {
    val left = Seq(Some(1L) -> "a", Some(1L) -> "b", Some(2L) -> "c",
      Some(3L) -> "d", (None: Option[Long]) -> "z").toDF("k", "v")
    val right = Seq(Some(1L) -> "x", Some(2L) -> "y", Some(2L) -> "y2",
      Some(4L) -> "w", (None: Option[Long]) -> "z").toDF("k", "v")
    val r = graft.pipeline.Curate.joinCardinality(left, right, "k", "k").head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) shouldBe ((5L, 5L, 3L, 3L))
    (r.getLong(4), r.getLong(5), r.getLong(6)) shouldBe ((2L, 4L, 2L))
    r.getLong(7) shouldBe 1L // keys 1 and 2 tie at product 2 -> smaller key
    // the prediction IS the executed join's count (NULLs never match)
    left.join(right, "k").count() shouldBe 4L
  }

  "Curate.psiReport" should "score zero on identical snapshots and a full shift symmetrically" in {
    val a = (1L to 10L).map(i => (i, 0L)).toDF("id", "v")
    val same = graft.pipeline.Curate.psiReport(a, a, "v", binWidth = 50L, maxBins = 4).head()
    (same.getLong(0), same.getLong(1), same.getDouble(2)) shouldBe ((10L, 10L, 0.0))
    // all mass moves bin 0 -> bin 2: psi = 2 · (10/14) · ln(11); the two
    // bins contribute EQUALLY, so the top-bin tie breaks to the smaller
    val b = (1L to 10L).map(i => (i, 100L)).toDF("id", "v")
    val r = graft.pipeline.Curate.psiReport(a, b, "v", binWidth = 50L, maxBins = 4).head()
    val expect = BigDecimal(2.0 * (10.0 / 14.0) * math.log(11.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r.getDouble(2), r.getLong(3)) shouldBe ((expect, 0L))
  }

  it should "clamp NEGATIVE values into bin 0 instead of silently dropping them" in {
    // all-negative old vs all-bin-2 new: identical to the full-shift case
    // above once the negatives clamp to bin 0 — before the clamp the old
    // rows fell outside the [0, maxBins) universe (inflating n_old while
    // contributing nothing) and PSI was quietly understated
    val neg = (1L to 10L).map(i => (i, -120L)).toDF("id", "v")
    val hi  = (1L to 10L).map(i => (i, 100L)).toDF("id", "v")
    val r = graft.pipeline.Curate.psiReport(neg, hi, "v", binWidth = 50L, maxBins = 4).head()
    val expect = BigDecimal(2.0 * (10.0 / 14.0) * math.log(11.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)) shouldBe ((10L, 10L, expect, 0L))
  }

  "Curate.volumeOutliers" should "flag a volume spike with the robust z and null-out zero-MAD cases" in {
    // per-key row counts [1, 2, 3, 4, 100]: median = 3 (lower, rank 3),
    // |c - med| sorted [0, 1, 1, 2, 97] -> MAD = 1; z(100) = 97/1.4826
    val rows = (Seq.fill(1)("a") ++ Seq.fill(2)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(4)("d") ++ Seq.fill(100)("e")).toDF("k")
    val out = graft.pipeline.Curate.volumeOutliers(rows, "k").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    out("c") shouldBe ((3L, 3L, 0.0, false))
    val z = BigDecimal(97.0 / 1.4826).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out("e") shouldBe ((100L, 3L, z, true))
    out("a")._4 shouldBe false
    // degenerate spread: over half the keys share the median count ->
    // MAD = 0 -> off-median z is NULL (never ±inf), median keys score 0
    val flat = (Seq.fill(10)("a") ++ Seq.fill(10)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(10)("d") ++ Seq.fill(10)("f") ++ Seq.fill(100)("g")).toDF("k")
    val f = graft.pipeline.Curate.volumeOutliers(flat, "k").collect()
      .map(r => r.getString(0) -> ((r.isNullAt(3), r.getBoolean(4)))).toMap
    f("a") shouldBe ((false, false)) // at the median: z = 0
    f("g") shouldBe ((true, false))  // off-median with MAD 0: null, not ±inf
  }

  "Curate.functionalDependency" should "count violating determinants with nulls as values" in {
    val df = Seq(
      (1L, Some("a")), (1L, Some("a")),                    // key 1: one image -> fine
      (2L, Some("a")), (2L, Some("b")), (2L, Some("c")),   // key 2: three images
      (3L, Some("x")), (3L, None: Option[String])          // key 3: null IS a second value
    ).toDF("k", "v")
    val r = graft.pipeline.Curate.functionalDependency(df, "k", "v").head()
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)) shouldBe
      ((3L, 2L, 0.666667, 3L, 2L))
  }

  "Curate.totalsAudit" should "compare header totals to the lineitem pricing formula in cents" in {
    val orders = Seq((1L, 10.0), (2L, 5.0), (3L, 7.5)).toDF("o_orderkey", "o_totalprice")
    // order 1: 2 lines -> round(4*1.0*1.0)=4.00 + round(6.0)=6.00 = 10.00 (match)
    // order 2: one line 2.0*(1-0.5)*(1+1.0) = 2.00 vs header 5.00 -> diff 300 cents
    // order 3: NO lines -> compares against 0 -> diff 750 cents
    val li = Seq(
      (1L, 4.0, 0.0, 0.0), (1L, 6.0, 0.0, 0.0),
      (2L, 2.0, 0.5, 1.0)
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val r = graft.pipeline.Curate.totalsAudit(orders, li).head()
    (r.getLong(0), r.getLong(1), r.getDouble(2)) shouldBe ((3L, 2L, 0.666667))
    (r.getLong(3), r.getDouble(4)) shouldBe ((750L, 3.5)) // (0+300+750)/3 = 350 cents
  }

  "Curate.temporalConsistency" should "flag children stamped before their parent on exact day math" in {
    val child = Seq(
      (1L, "2024-01-01 00:00:00"), // 4 days BEFORE the parent -> violation
      (2L, "2024-01-10 00:00:00"), // after -> fine
      (3L, "2024-01-01 00:00:00")  // orphan: inner join drops it
    ).toDF("k", "cts").select($"k", to_timestamp($"cts").as("cts"))
    val parent = Seq((1L, "2024-01-05 00:00:00"), (2L, "2024-01-02 00:00:00"))
      .toDF("pk", "pts").select($"pk", to_timestamp($"pts").as("pts"))
    val r = graft.pipeline.Curate.temporalConsistency(
      child, parent, "k", "pk", "cts", "pts").head()
    (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)) shouldBe
      ((2L, 1L, 0.5, -4L, 1L))
    // empty join: null rate (never NaN) and null counters/extrema — the
    // totalsAudit/functionalDependency empty-input convention
    val e = graft.pipeline.Curate.temporalConsistency(
      child.limit(0), parent, "k", "pk", "cts", "pts").head()
    (e.getLong(0), e.isNullAt(1), e.isNullAt(2), e.isNullAt(3)) shouldBe ((0L, true, true, true))
  }

  "TextAnalysis.encodingAnomalies" should "count control and replacement chars per source" in {
    import graft.pipeline.TextAnalysis
    val docsDf = Seq(
      (1L, "clean text", "a"),
      (2L, "bad\u0001\u0002text", "a"), // 2 control chars
      (3L, "lost\uFFFD\uFFFD\uFFFDbytes", "b"), // 3 replacement chars
      (4L, "tab\tand\nnewline ok", "b")     // tab/LF are NOT anomalies
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.encodingAnomalies(docsDf).orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4), r.getLong(7)))
    out(0) shouldBe (("a", 2L, 2L, 0L, 2L))
    out(1) shouldBe (("b", 2L, 0L, 3L, 3L))
  }

  "Curate.snapshotDiff" should "classify added/removed/changed/unchanged null-safely" in {
    val o = Seq((1L, Some("a")), (2L, Some("b")), (3L, Some("c")),
      (4L, None: Option[String])).toDF("id", "t")
    val n = Seq((2L, Some("b")), (3L, Some("x")), (4L, Some("d")),
      (5L, Some("e"))).toDF("id", "t")
    val r = graft.pipeline.Curate.snapshotDiff(o, n, "id", Seq("t")).head()
    (r.getLong(0), r.getLong(1)) shouldBe ((4L, 4L))
    (r.getLong(2), r.getLong(3)) shouldBe ((1L, 1L))       // added 5, removed 1
    (r.getLong(4), r.getLong(5)) shouldBe ((2L, 1L))       // changed 3 and 4 (null->d)
  }

  "TextAnalysis.watermarkScores" should "score hash-parity bias with the one-proportion z" in {
    // a 16-repeat single-word doc is all-green or all-red: |z| = √16 = 4,
    // frac ∈ {0, 1}; a 15-token doc falls under minTokens
    val d = Seq((1L, Seq.fill(16)("alpha").mkString(" ")),
      (2L, Seq.fill(16)("beta").mkString(" ")),
      (3L, Seq.fill(15)("gamma").mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.watermarkScores(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    out.keySet shouldBe Set(1L, 2L)
    out.values.foreach { case (n, g, frac, z) =>
      n shouldBe 16L
      Set(0L, 16L) should contain(g)
      frac shouldBe g.toDouble / 16.0
      math.abs(z) shouldBe 4.0
    }
    // deterministic: the same corpus scores identically on a rerun
    TextAnalysis.watermarkScores(d).collect() shouldBe TextAnalysis.watermarkScores(d).collect()
  }

  "Multimodal.blockhashDedup" should "group near-identical payloads and split contrasting ones" in {
    // blocks = 2 over 'a'*64+'z'*64: block means 97 vs 122, global 109.5 →
    // bits (0, 1) → signature 2; one flipped byte keeps the signature; the
    // mirrored payload inverts the bits → signature 1
    val media = Seq(
      (1L, ("a" * 64 + "z" * 64).getBytes("UTF-8")),
      (2L, ("a" * 63 + "b" + "z" * 64).getBytes("UTF-8")),
      (3L, ("z" * 64 + "a" * 64).getBytes("UTF-8")),
      (4L, Array.empty[Byte])
    ).toDF("doc_id", "payload")
    val out = Multimodal.blockhashDedup(media, blocks = 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((1L, 2L, 2L), (3L, 1L, 1L)) // empty payload dropped
  }

  "graft_rms_windows / graft_blockhash kernels" should "read bytes UNSIGNED and handle remainder/past-end slices" in {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    // 0xFF must read as 255 (d = 127), not as the sign-extended -1
    // (d = -129): rms over four 0xFF bytes is exactly 127
    val media = Seq(
      (1L, Array.fill(4)(0xFF.toByte)),                    // one short window
      (2L, Array.fill(6)(0x80.toByte)),                    // 4 + remainder 2, all zero energy
      (3L, Array.empty[Byte])
    ).toDF("doc_id", "payload")
    val rms = media.select($"doc_id", GraftFunctions.rmsWindows($"payload", 4).as("rs"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    rms shouldBe Array((1L, Seq(127.0)), (2L, Seq(0.0, 0.0)), (3L, Seq.empty[Double]))
    // blocks = 4 over 6 bytes -> block len 2: blocks 0-2 cover the data,
    // block 3 starts past the end and must be SKIPPED (no bit), exactly as
    // the old chain's size > 0 guard; 'z' blocks exceed the global mean
    val sig = Seq((1L, ("aazz" + "zz").getBytes("UTF-8")))
      .toDF("doc_id", "payload")
      .select(GraftFunctions.blockhashSig($"payload", 4)).head().getLong(0)
    sig shouldBe 6L // bits 1 and 2 (the two 'zz' blocks), bit 3 skipped
  }

  "Retrieval.booleanMatches" should "require every must term and reject must-not docs" in {
    val d = Seq(
      (1L, "spark join fast"), (2L, "spark join vector"),
      (3L, "spark fast"), (4L, "join spark spark")
    ).toDF("doc_id", "text")
    val out = Retrieval.booleanMatches(d, Seq("spark", "join"), Seq("vector"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((1L, 2L), (4L, 3L)) // 2 holds vector, 3 lacks join
    // no exclusions: the must-only algebra keeps doc 2
    Retrieval.booleanMatches(d, Seq("spark", "join")).count() shouldBe 3L
  }

  "Multimodal.energySegments" should "flag RMS jumps against the predecessor window" in {
    // 256 'A's (rms 63) then 256 'x's (rms 8): one boundary, delta −55;
    // a doc with one window and an empty doc emit nothing
    val media = Multimodal.withPayload(Seq(
      (1L, "A" * 256 + "x" * 256, "en", "a", 512L),
      (2L, "A" * 100, "en", "a", 100L),
      (3L, "", "en", "a", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = Multimodal.energySegments(media)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    out shouldBe Array((1L, 1L, 63.0, 8.0, -55.0))
    // below the jump threshold: no boundary
    Multimodal.energySegments(media, jump = 60.0).count() shouldBe 0L
  }

  "Multimodal.avContainerMeta" should "parse real WAV/GIF/BMP headers and tag unknown bytes raw" in {
    def hexb(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def le(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * i)) & 255L).toByte).toArray
    // canonical 44-byte WAV: stereo, 16-bit, 44100 Hz, 8 data bytes (2 frames)
    val wav = "RIFF".getBytes ++ le(36 + 8, 4) ++ "WAVE".getBytes ++ "fmt ".getBytes ++
      le(16, 4) ++ le(1, 2) ++ le(2, 2) ++ le(44100, 4) ++ le(44100L * 4, 4) ++
      le(4, 2) ++ le(16, 2) ++ "data".getBytes ++ le(8, 4) ++ Array.fill(8)(0.toByte)
    // GIF89a, 320x200, packed byte 0x87 -> low3 = 7 -> 8-bit palette
    val gif = "GIF89a".getBytes ++ le(320, 2) ++ le(200, 2) ++ hexb("87" + "0000") ++ "px".getBytes
    // BMP with a NEGATIVE (top-down) height -600 and 24 bpp
    val bmp = "BM".getBytes ++ le(54 + 3, 4) ++ le(0, 4) ++ le(54, 4) ++
      le(40, 4) ++ le(800, 4) ++ le((1L << 32) - 600, 4) ++ le(1, 2) ++ le(24, 2) ++ "rgb".getBytes
    val raw = "just text".getBytes("UTF-8")
    val media = Seq((1L, wav), (2L, gif), (3L, bmp), (4L, raw), (5L, Array.empty[Byte]))
      .toDF("doc_id", "payload")
    val out = Multimodal.avContainerMeta(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    out(0) shouldBe ((1L, "wav", -1L, -1L, 44100L, 2L, 16L, 2L)) // 8 bytes / align 4 = 2 frames
    out(1) shouldBe ((2L, "gif", 320L, 200L, -1L, 3L, 8L, -1L))
    out(2) shouldBe ((3L, "bmp", 800L, 600L, -1L, 3L, 24L, -1L)) // |−600| top-down
    out(3) shouldBe ((4L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
    out(4) shouldBe ((5L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
  }

  "Multimodal.syntheticAvContainers" should "round-trip id-derived parameters through real headers" in {
    val docsDf = Seq(
      (0L, "wav mono 8bit"), (1L, "gif doc"), (2L, "bmp 32bpp doc"),
      (3L, "raw doc"), (4L, "wav mono 16bit"), (10L, "bmp negative-height 24bpp")
    ).toDF("doc_id", "text")
    val out = Multimodal.avContainerMeta(Multimodal.syntheticAvContainers(docsDf))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    // id 0: wav, ch = 1, bytes/sample = 1 (8-bit), rate = 8000, 13 data bytes
    out(0) shouldBe ((0L, "wav", -1L, -1L, 8000L, 1L, 8L, 13L))
    // id 1: gif, w = 1+5 = 6, h = 1+9 = 10, bits = 1%8+1 = 2
    out(1) shouldBe ((1L, "gif", 6L, 10L, -1L, 3L, 2L, -1L))
    // id 2: bmp, w = 23, h = 35, bpp = 32 (id%3 = 2) -> 4 channels
    out(2) shouldBe ((2L, "bmp", 23L, 35L, -1L, 4L, 32L, -1L))
    out(3)._2 shouldBe "raw"
    // id 4: wav, ch = 1, bytes = 2 (16-bit), rate = 8000+441*4, 14 bytes -> 7 frames
    out(4) shouldBe ((4L, "wav", -1L, -1L, 9764L, 1L, 16L, 7L))
    // id 10: bmp (10%4 = 2) with 10%5 = 0 -> NEGATIVE stored height, |h| = 171
    out(5) shouldBe ((10L, "bmp", 111L, 171L, -1L, 3L, 24L, -1L))
  }

  "Multimodal.gifFrameCount" should "count image descriptors through GCT/LCT skips and honest-fail otherwise" in {
    def hexb(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def le(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * i)) & 255L).toByte).toArray
    val hdrNoGct = "GIF89a".getBytes ++ le(10, 2) ++ le(8, 2) ++ hexb("000000")
    // a frame: image descriptor (no LCT) + LZW min-code + one 2-byte sub-block + terminator
    val frame = hexb("2C") ++ le(0, 2) ++ le(0, 2) ++ le(1, 2) ++ le(1, 2) ++
      hexb("00" + "02" + "02") ++ "ab".getBytes ++ hexb("00")
    val twoFrames = hdrNoGct ++ frame ++ frame ++ hexb("3B")
    // GCT (packed 0x80 -> 2 entries = 6 bytes) + GCE + a frame with an LCT
    val gce = hexb("21F904" + "00" + "0A00" + "00" + "00")
    val lctFrame = hexb("2C") ++ le(0, 2) ++ le(0, 2) ++ le(1, 2) ++ le(1, 2) ++
      hexb("80") ++ hexb("DEADBEDEADBE") ++ hexb("02" + "02") ++ "cd".getBytes ++ hexb("00")
    val gctOne = "GIF89a".getBytes ++ le(4, 2) ++ le(4, 2) ++ hexb("800000") ++
      hexb("ABCDEF" * 2) ++ gce ++ lctFrame ++ hexb("3B")
    // truncated: descriptor promised but the stream ends — walk stalls -> -1
    val truncated = hdrNoGct ++ hexb("2C") ++ le(0, 2)
    // zero frames, then trailer, then post-trailer garbage (must be ignored)
    val zeroFrames = hdrNoGct ++ hexb("3B") ++ "trailing junk".getBytes
    // an unknown block byte aborts honestly instead of guessing
    val badBlock = hdrNoGct ++ hexb("7F") ++ frame ++ hexb("3B")
    val media = Seq(
      (1L, twoFrames), (2L, gctOne), (3L, truncated),
      (4L, "just text".getBytes("UTF-8")), (5L, zeroFrames), (6L, badBlock)
    ).toDF("doc_id", "payload")
    val out = Multimodal.gifFrameCount(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    out(0) shouldBe ((1L, "gif", 2L))
    out(1) shouldBe ((2L, "gif", 1L))
    out(2) shouldBe ((3L, "gif", -1L))
    out(3) shouldBe ((4L, "raw", -1L))
    out(4) shouldBe ((5L, "gif", 0L))
    out(5) shouldBe ((6L, "gif", -1L))
    // a budget too small to reach the trailer reports -1, never a guess
    val bounded = Multimodal.gifFrameCount(media.filter($"doc_id" === 1L), maxBlocks = 3)
      .head()
    (bounded.getString(1), bounded.getLong(3)) shouldBe (("gif", -1L))
  }

  "Multimodal.syntheticAnimatedGifs" should "round-trip id-derived frame counts through the walk" in {
    val docsDf = (0L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.gifFrameCount(Multimodal.syntheticAnimatedGifs(docsDf))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    // frames = 1 + id % 3; id % 4 == 3 stays raw; even ids carry a GCT and
    // id 1 puts an LCT on frame 0 — every skip path executes here
    out(0) shouldBe ((0L, "gif", 1L))
    out(1) shouldBe ((1L, "gif", 2L))
    out(2) shouldBe ((2L, "gif", 3L))
    out(3) shouldBe ((3L, "raw", -1L))
    out(4) shouldBe ((4L, "gif", 2L))
    out(5) shouldBe ((5L, "gif", 3L))
    out(6) shouldBe ((6L, "gif", 1L))
    out(7) shouldBe ((7L, "raw", -1L))
  }

  "Multimodal.tiffMeta" should "read both byte orders, both value widths, and honest-fail truncation" in {
    def le(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * i)) & 255L).toByte).toArray
    def be(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 255L).toByte).toArray
    def entryLe(tag: Long, typ: Long, v: Long): Array[Byte] =
      le(tag, 2) ++ le(typ, 2) ++ le(1, 4) ++ (if (typ == 3) le(v, 2) ++ le(0, 2) else le(v, 4))
    def entryBe(tag: Long, typ: Long, v: Long): Array[Byte] =
      be(tag, 2) ++ be(typ, 2) ++ be(1, 4) ++ (if (typ == 3) be(v, 2) ++ be(0, 2) else be(v, 4))
    // LE with a RATIONAL XResolution: entry 2's value field POINTS at the
    // 8-byte 300/2 pair sitting after the next-IFD pointer (0-based 50)
    val tiffLe = "II".getBytes ++ le(42, 2) ++ le(8, 4) ++ le(3, 2) ++
      entryLe(256, 3, 800) ++ entryLe(257, 4, 600) ++
      le(282, 2) ++ le(5, 2) ++ le(1, 4) ++ le(50, 4) ++
      le(0, 4) ++ le(300, 4) ++ le(2, 4)
    val tiffBe = "MM".getBytes ++ be(42, 2) ++ be(8, 4) ++ be(3, 2) ++
      entryBe(256, 3, 1024) ++ entryBe(257, 3, 768) ++ entryBe(258, 4, 16) ++ be(0, 4)
    val truncated = "II".getBytes ++ le(42, 2) ++ le(8, 4)
    val media = Seq((1L, tiffLe), (2L, tiffBe), (3L, truncated),
      (4L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.tiffMeta(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    out(0) shouldBe ((1L, "tiff_le", 3L, 800L, 600L, -1L, 300L, 2L))
    out(1) shouldBe ((2L, "tiff_be", 3L, 1024L, 768L, 16L, -1L, -1L))
    out(2) shouldBe ((3L, "tiff_le", -1L, -1L, -1L, -1L, -1L, -1L))
    out(3) shouldBe ((4L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
    // entry budget: with maxEntries = 1 only the first tag is seen — the
    // others stay -1 (honest), the declared count still reports
    val b = Multimodal.tiffMeta(media.filter($"doc_id" === 2L), maxEntries = 1).head()
    (b.getLong(3), b.getLong(4), b.getLong(5), b.getLong(6)) shouldBe ((3L, 1024L, -1L, -1L))
  }

  "Multimodal.syntheticTiffs" should "round-trip id-derived dimensions through both byte orders" in {
    val docsDf = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.tiffMeta(Multimodal.syntheticTiffs(docsDf))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    out(0) shouldBe ((0L, "tiff_le", 5L, 1L, 1L, 8L, 72L, 1L))
    out(1) shouldBe ((1L, "tiff_be", 4L, 8L, 12L, 16L, 73L, 2L))
    out(2) shouldBe ((2L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
    out(3) shouldBe ((3L, "tiff_le", 4L, 22L, 34L, 32L, 75L, 1L))
    out(4) shouldBe ((4L, "tiff_be", 5L, 29L, 45L, 8L, 76L, 2L))
    out(5) shouldBe ((5L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
  }

  "Multimodal.tiffExifMeta" should "chase the 34665 pointer into a second IFD in both byte orders" in {
    def le(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * i)) & 255L).toByte).toArray
    def be(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 255L).toByte).toArray
    def entryLe(tag: Long, typ: Long, v: Long): Array[Byte] =
      le(tag, 2) ++ le(typ, 2) ++ le(1, 4) ++ (if (typ == 3) le(v, 2) ++ le(0, 2) else le(v, 4))
    def entryBe(tag: Long, typ: Long, v: Long): Array[Byte] =
      be(tag, 2) ++ be(typ, 2) ++ be(1, 4) ++ (if (typ == 3) be(v, 2) ++ be(0, 2) else be(v, 4))
    // LE, two tables: IFD0 (width + 34665 → 0-based 38), Exif IFD at 38
    // (ISO SHORT + ExposureTime RATIONAL pointing at the 1/60 pair at 68)
    val exifLe = "II".getBytes ++ le(42, 2) ++ le(8, 4) ++
      le(2, 2) ++ entryLe(256, 3, 640) ++ entryLe(34665, 4, 38) ++ le(0, 4) ++
      le(2, 2) ++ entryLe(34855, 3, 400) ++
      le(33434, 2) ++ le(5, 2) ++ le(1, 4) ++ le(68, 4) ++ le(0, 4) ++
      le(1, 4) ++ le(60, 4)
    // BE, three sub-IFD entries: a Flash entry the walk must SKIP, ISO as
    // a full LONG, and the rational pair at 92 — every read byte-swapped
    val exifBe = "MM".getBytes ++ be(42, 2) ++ be(8, 4) ++
      be(3, 2) ++ entryBe(256, 3, 1024) ++ entryBe(257, 3, 768) ++ entryBe(34665, 4, 50) ++ be(0, 4) ++
      be(3, 2) ++ entryBe(37385, 3, 1) ++ entryBe(34855, 4, 1600) ++
      be(33434, 2) ++ be(5, 2) ++ be(1, 4) ++ be(92, 4) ++ be(0, 4) ++
      be(1, 4) ++ be(250, 4)
    // a 34665 value pointing outside the payload: n_exif = -1, no mis-read
    val badPtr = "II".getBytes ++ le(42, 2) ++ le(8, 4) ++
      le(2, 2) ++ entryLe(256, 3, 800) ++ entryLe(34665, 4, 9999) ++ le(0, 4)
    val media = Seq((1L, exifLe), (2L, exifBe), (3L, badPtr),
      (4L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.tiffExifMeta(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    out(0) shouldBe ((1L, "tiff_le", 640L, -1L, 2L, 400L, 1L, 60L))
    out(1) shouldBe ((2L, "tiff_be", 1024L, 768L, 3L, 1600L, 1L, 250L))
    out(2) shouldBe ((3L, "tiff_le", 800L, -1L, -1L, -1L, -1L, -1L))
    out(3) shouldBe ((4L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
    // sub-IFD entry budget: with maxExifEntries = 1 only the first entry
    // is seen — later tags stay -1 (honest), the declared count reports
    val b = Multimodal.tiffExifMeta(media.filter($"doc_id" === 2L), maxExifEntries = 1).head()
    (b.getLong(5), b.getLong(6), b.getLong(7)) shouldBe ((3L, -1L, -1L))
  }

  "Multimodal.syntheticExifTiffs" should "round-trip id-derived EXIF fields through the two-table walk" in {
    val docsDf = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.tiffExifMeta(Multimodal.syntheticExifTiffs(docsDf))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
    // iso = 100·(1+id%16), exp = 1/(2+3·id%998); odd ids add a skip entry
    out(0) shouldBe ((0L, "tiff_le", 1L, 1L, 2L, 100L, 1L, 2L))
    out(1) shouldBe ((1L, "tiff_be", 8L, 12L, 3L, 200L, 1L, 5L))
    out(2) shouldBe ((2L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
    out(3) shouldBe ((3L, "tiff_le", 22L, 34L, 3L, 400L, 1L, 11L))
    out(4) shouldBe ((4L, "tiff_be", 29L, 45L, 2L, 500L, 1L, 14L))
    out(5) shouldBe ((5L, "raw", -1L, -1L, -1L, -1L, -1L, -1L))
  }

  "Multimodal.pngChunkWalk" should "hop chunk lengths to IEND, sum IDAT and extract the tEXt keyword" in {
    def be(v: Long, n: Int): Array[Byte] = (0 until n).map(i => ((v >> (8 * (n - 1 - i))) & 255L).toByte).toArray
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] =
      be(data.length.toLong, 4) ++ typ.getBytes("UTF-8") ++ data ++ be(0, 4)
    val ihdr = chunk("IHDR", be(640, 4) ++ be(480, 4) ++ Array[Byte](8, 2, 0, 0, 0))
    // minimal: IHDR + IEND, no tEXt → keyword null, idat 0
    val minimal = sig ++ ihdr ++ chunk("IEND", Array.empty[Byte])
    // full: tEXt "Software\0ab" + two IDATs of 5 and 7 bytes
    val full = sig ++ ihdr ++
      chunk("tEXt", "Software".getBytes("UTF-8") ++ Array[Byte](0) ++ "ab".getBytes("UTF-8")) ++
      chunk("IDAT", Array.fill[Byte](5)(1)) ++ chunk("IDAT", Array.fill[Byte](7)(2)) ++
      chunk("IEND", Array.empty[Byte])
    // truncated: an IDAT declaring 99 bytes with 3 present → poisoned, -1
    val truncated = sig ++ ihdr ++ be(99, 4) ++ "IDAT".getBytes("UTF-8") ++ Array.fill[Byte](3)(0)
    val media = Seq((1L, minimal), (2L, full), (3L, truncated),
      (4L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.pngChunkWalk(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        Option(r.getString(5)).orNull))
    out(0) shouldBe ((1L, "png", 2L, 0L, null))
    out(1) shouldBe ((2L, "png", 5L, 12L, "536F667477617265")) // hex("Software")
    out(2) shouldBe ((3L, "png", -1L, -1L, null))
    out(3) shouldBe ((4L, "raw", -1L, -1L, null))
    // a budget too small to reach IEND reports -1, never a guess
    val b = Multimodal.pngChunkWalk(media.filter($"doc_id" === 2L), maxChunks = 2).head()
    (b.getLong(3), b.getLong(4)) shouldBe ((-1L, -1L))
  }

  "Multimodal.syntheticPngChunks" should "round-trip id-derived chunk layouts through the walk" in {
    val docsDf = (0L to 5L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.pngChunkWalk(Multimodal.syntheticPngChunks(docsDf), maxChunks = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4),
        Option(r.getString(5)).orNull))
    // chunks = 3 + (1 + id%3); idat = (1+id%3)·(5+id%7); kw = 3+id%6 chars
    out(0) shouldBe ((0L, "png", 4L, 5L, "6B6579"))
    out(1) shouldBe ((1L, "raw", -1L, -1L, null))
    out(2) shouldBe ((2L, "png", 6L, 21L, "6B6579776F"))
    out(3) shouldBe ((3L, "raw", -1L, -1L, null))
    out(4) shouldBe ((4L, "png", 5L, 18L, "6B6579776F7264"))
    out(5) shouldBe ((5L, "raw", -1L, -1L, null))
  }

  "Multimodal.zipCentralDirectory" should "scan the EOCD backward and hop the central directory" in {
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 255L).toByte).toArray
    def lfh(meth: Int, data: Array[Byte], u: Int, name: String): Array[Byte] =
      Array[Byte]('P', 'K', 3, 4) ++ le(20, 2) ++ le(0, 2) ++ le(meth, 2) ++ le(0, 2) ++
        le(0, 2) ++ le(0, 4) ++ le(data.length.toLong, 4) ++ le(u.toLong, 4) ++
        le(name.length.toLong, 2) ++ le(0, 2) ++ name.getBytes("UTF-8") ++ data
    def cde(meth: Int, c: Int, u: Int, name: String, off: Int, cmt: String): Array[Byte] =
      Array[Byte]('P', 'K', 1, 2) ++ le(0x031E, 2) ++ le(20, 2) ++ le(0, 2) ++ le(meth, 2) ++
        le(0, 2) ++ le(0, 2) ++ le(0, 4) ++ le(c.toLong, 4) ++ le(u.toLong, 4) ++
        le(name.length.toLong, 2) ++ le(0, 2) ++ le(cmt.length.toLong, 2) ++ le(0, 2) ++
        le(0, 2) ++ le(0, 4) ++ le(off.toLong, 4) ++ name.getBytes("UTF-8") ++ cmt.getBytes("UTF-8")
    def eocd(n: Int, cdSize: Int, cdOff: Int, comment: String): Array[Byte] =
      Array[Byte]('P', 'K', 5, 6) ++ le(0, 2) ++ le(0, 2) ++ le(n.toLong, 2) ++ le(n.toLong, 2) ++
        le(cdSize.toLong, 4) ++ le(cdOff.toLong, 4) ++ le(comment.length.toLong, 2) ++
        comment.getBytes("UTF-8")
    // two entries (stored text + deflate-flagged blob whose sizes differ),
    // a per-entry comment, AND a trailing archive comment (backward scan)
    val d1 = "hello world".getBytes("UTF-8"); val d2 = Array.fill[Byte](4)(0x41)
    val l1 = lfh(0, d1, d1.length, "a.txt"); val l2 = lfh(8, d2, 9, "b.bin")
    val cd = cde(0, d1.length, d1.length, "a.txt", 0, "") ++
      cde(8, 4, 9, "b.bin", l1.length, "nb")
    val zip2 = l1 ++ l2 ++ cd ++ eocd(2, cd.length, l1.length + l2.length, "trailing!")
    // empty archive: EOCD only, zero entries
    val zip0 = eocd(0, 0, 0, "")
    // long entry name: probe caps the readout at 16 bytes
    val lname = "abcdefghijklmnopqrst"
    val l3 = lfh(0, d2, 4, lname)
    val cd3 = cde(0, 4, 4, lname, 0, "")
    val zip3 = l3 ++ cd3 ++ eocd(1, cd3.length, l3.length, "")
    // corrupt: cd offset disagrees with the EOCD position → bounds poison
    val badZip = l1 ++ cde(0, d1.length, d1.length, "a.txt", 0, "") ++ eocd(1, 51, 999, "")
    val media = Seq((1L, zip2), (2L, zip0), (3L, zip3), (4L, badZip),
      (5L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.zipCentralDirectory(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5),
        Option(r.getString(6)).orNull))
    def hx(s: String) = s.getBytes("UTF-8").map(b => f"$b%02X").mkString
    out(0) shouldBe ((1L, "zip", 2L, (d1.length + 4).toLong, (d1.length + 9).toLong, hx("a.txt")))
    out(1) shouldBe ((2L, "zip", 0L, 0L, 0L, null))
    out(2) shouldBe ((3L, "zip", 1L, 4L, 4L, hx(lname.take(16))))
    out(3) shouldBe ((4L, "zip", -1L, -1L, -1L, null))
    out(4) shouldBe ((5L, "raw", -1L, -1L, -1L, null))
    // a budget too small to finish the walk reports -1, never a guess
    val b = Multimodal.zipCentralDirectory(media.filter($"doc_id" === 1L), maxEntries = 1).head()
    (b.getLong(3), b.getLong(4)) shouldBe ((-1L, -1L))
  }

  "Multimodal.syntheticZips" should "round-trip id-derived entry layouts through the walk" in {
    val docsDf = (0L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.zipCentralDirectory(Multimodal.syntheticZips(docsDf), maxEntries = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5),
        Option(r.getString(6)).orNull))
    // nE = 1+id%3; text 5 bytes; c1 = 5+id%9 (u +11); c2 = 5+(id+3)%9 (u +23)
    out(0) shouldBe ((0L, "zip", 1L, 5L, 5L, "6D616E"))                    // "man"
    out(1) shouldBe ((1L, "zip", 2L, 5L + 6L, 5L + 17L, "6D616E69"))       // "mani"
    out(2) shouldBe ((2L, "zip", 3L, 5L + 7L + 10L, 5L + 18L + 33L, "6D616E6966")) // "manif"
    out(3) shouldBe ((3L, "raw", -1L, -1L, -1L, null))
    out(4) shouldBe ((4L, "zip", 2L, 5L + 9L, 5L + 20L, "6D616E69666573")) // "manifes"
    out(5) shouldBe ((5L, "zip", 3L, 5L + 10L + 13L, 5L + 21L + 36L, "6D616E6966657374"))
    out(6) shouldBe ((6L, "zip", 1L, 5L, 5L, "6D616E"))
    out(7) shouldBe ((7L, "raw", -1L, -1L, -1L, null))
  }

  "Multimodal.tarHeaderWalk" should "hop 512-padded blocks by ASCII-octal sizes to the zero marker" in {
    def oct(v: Long): Array[Byte] =
      (f"${java.lang.Long.toOctalString(v)}%11s".replace(' ', '0') + " ").getBytes("ISO-8859-1")
    def header(name: String, size: Long, typeflag: Char): Array[Byte] = {
      val b = new Array[Byte](512)
      val n = name.getBytes("UTF-8"); System.arraycopy(n, 0, b, 0, n.length)
      System.arraycopy("0000644 ".getBytes, 0, b, 100, 8)
      System.arraycopy("0000000 ".getBytes, 0, b, 108, 8)
      System.arraycopy("0000000 ".getBytes, 0, b, 116, 8)
      System.arraycopy(oct(size), 0, b, 124, 12)
      System.arraycopy(oct(0L).dropRight(1) :+ ' '.toByte, 0, b, 136, 12)
      java.util.Arrays.fill(b, 148, 156, ' '.toByte)
      b(156) = typeflag.toByte
      System.arraycopy("ustar 00".getBytes("ISO-8859-1"), 0, b, 257, 8)
      b
    }
    def padded(data: Array[Byte]): Array[Byte] =
      data ++ new Array[Byte]((512 - data.length % 512) % 512)
    val d1 = "file body".getBytes("UTF-8")
    val d2 = Array.fill[Byte](600)(0x41) // spans two data blocks
    val full = header("a.txt", d1.length.toLong, '0') ++ padded(d1) ++
      header("docs/", 0L, '5') ++
      header("big.bin", 600L, '0') ++ padded(d2) ++ new Array[Byte](1024)
    val empty = header("only bad", 0L, '0').take(0) ++ new Array[Byte](1024) // no magic → raw
    // malformed: a size digit outside '0'..'7' poisons the walk
    val badHdr = header("x", 0L, '0'); badHdr(130) = '9'
    val bad = badHdr ++ new Array[Byte](1024)
    // long name: probe caps the readout at the first 16 bytes
    val lname = "abcdefghijklmnopqrst.txt"
    val long = header(lname, 0L, '0') ++ new Array[Byte](1024)
    val media = Seq((1L, full), (2L, empty), (3L, bad), (4L, long),
      (5L, "plain".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val out = Multimodal.tarHeaderWalk(media).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5),
        Option(r.getString(6)).orNull))
    def hx(s: String) = s.getBytes("UTF-8").map(b => f"$b%02X").mkString
    out(0) shouldBe ((1L, "tar", 3L, 1L, (d1.length + 600).toLong, hx("a.txt")))
    out(1) shouldBe ((2L, "raw", -1L, -1L, -1L, null))
    out(2) shouldBe ((3L, "tar", -1L, -1L, -1L, null))
    out(3) shouldBe ((4L, "tar", 1L, 0L, 0L, hx(lname.take(16))))
    out(4) shouldBe ((5L, "raw", -1L, -1L, -1L, null))
    // a budget too small to reach the end marker reports -1, never a guess
    val b = Multimodal.tarHeaderWalk(media.filter($"doc_id" === 1L), maxEntries = 2).head()
    (b.getLong(3), b.getLong(5)) shouldBe ((-1L, -1L))
  }

  "Multimodal.syntheticTars" should "round-trip id-derived entry layouts through the walk" in {
    val docsDf = (0L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Multimodal.tarHeaderWalk(Multimodal.syntheticTars(docsDf), maxEntries = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5),
        Option(r.getString(6)).orNull))
    // nE = 1+id%3; text 5 bytes; entry2 size = 5+(id*3)%200; id%4==1 raw
    out(0) shouldBe ((0L, "tar", 1L, 0L, 5L, "6D616E"))                    // "man"
    out(1) shouldBe ((1L, "raw", -1L, -1L, -1L, null))
    out(2) shouldBe ((2L, "tar", 3L, 1L, 5L + 11L, "6D616E6966"))          // "manif"
    out(3) shouldBe ((3L, "tar", 1L, 0L, 5L, "6D616E696665"))
    out(4) shouldBe ((4L, "tar", 2L, 1L, 5L, "6D616E69666573"))
    out(5) shouldBe ((5L, "raw", -1L, -1L, -1L, null))
    out(6) shouldBe ((6L, "tar", 1L, 0L, 5L, "6D616E"))
    out(7) shouldBe ((7L, "tar", 2L, 1L, 5L, "6D616E69"))
  }

  "Multimodal.wavEnergyWindows" should "window only PCM8-mono data chunks with rate-derived stamps" in {
    // id 0: PCM8 mono wav (kept); id 4: 16-bit wav (excluded, not
    // mis-read); id 1: gif (excluded); id 12: PCM8 mono (kept)
    val docsDf = Seq((0L, "A" * 300), (4L, "A" * 300), (1L, "gif doc"), (12L, "x" * 10))
      .toDF("doc_id", "text")
    val out = Multimodal.wavEnergyWindows(Multimodal.syntheticAvContainers(docsDf))
      .orderBy("doc_id", "window_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(5)))
    out.map(_._1).distinct shouldBe Array(0L, 12L)
    // id 0 rate = 8000: window 1 starts at 256/8000 = 0.032 s; the data
    // chunk is the text bytes, so rms matches the raw VAD math ('A' = 63)
    out.filter(_._1 == 0L) shouldBe Array(
      (0L, 0L, 256L, 63.0, 0.0), (0L, 1L, 44L, 63.0, 0.032))
    // id 12 rate = 8000 + (12·441 % 40000) = 13292; 10 'x' bytes → rms 8
    out.filter(_._1 == 12L) shouldBe Array((12L, 0L, 10L, 8.0, 0.0))
  }

  "Sampling.kfold" should "assign every row a stable fold in [0, k) with all folds populated" in {
    val ids = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val folds = graft.pipeline.Sampling.kfold(ids, k = 5)
      .select("doc_id", "fold").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    folds.values.toSet shouldBe Set(0L, 1L, 2L, 3L, 4L)
    // deterministic: a second run assigns identical folds
    val again = graft.pipeline.Sampling.kfold(ids, k = 5)
      .select("doc_id", "fold").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    again shouldBe folds
    // folds partition the corpus: each row in exactly one fold (by construction)
    folds.size shouldBe 500
  }

  "Curate.pkViolations" should "name duplicated key values heaviest first with key tiebreak" in {
    val df = Seq(1L, 2L, 2L, 3L, 3L, 3L, 4L, 4L).map(Tuple1(_)).toDF("k")
    val out = graft.pipeline.Curate.pkViolations(df, "k", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out shouldBe Array((3L, 3L), (2L, 2L)) // n=2 tie between keys 2 and 4 -> smaller key
  }

  "Curate.orphanReport" should "count child keys with no matching parent" in {
    val child  = Seq(1L, 2L, 3L, 3L).map(Tuple1(_)).toDF("ck")
    val parent = Seq(1L, 2L, 2L).map(Tuple1(_)).toDF("pk")
    val r = graft.pipeline.Curate.orphanReport(child, parent, "ck", "pk").collect().head
    (r.getLong(0), r.getLong(1), r.getDouble(2)) shouldBe ((4L, 2L, 0.5))
  }

  "Curate.freshness" should "report per-type lag and trailing-window counts against the global max" in {
    val ev = Seq(("a", 100L), ("a", 90L), ("b", 50L)).toDF("event_type", "ts")
    val out = graft.pipeline.Curate.freshness(ev, windowUs = 30L).orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out shouldBe Array(("a", 2L, 100L, 0L, 2L), ("b", 1L, 50L, 50L, 0L))
  }

  "Dedup.canaryScan" should "count verbatim containment without wildcard semantics" in {
    val corpus = Seq(
      (1L, "the quick brown fox"), (2L, "quick brown only"), (3L, "total is 100% done")
    ).toDF("doc_id", "text")
    val out = Dedup.canaryScan(corpus, Seq("quick brown", "fox", "zebra", "100%"))
      .orderBy("canary").collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    // "100%" must match literally — a LIKE-based scan would treat % as a wildcard
    out shouldBe Array(
      ("100%", 1L, 3L), ("fox", 1L, 1L), ("quick brown", 2L, 1L), ("zebra", 0L, -1L))
  }

  "Dedup.duplicatedNgramRate" should "count cross-doc repeated postings over per-doc-distinct grams" in {
    val corpus = Seq(
      (1L, "a b c", "s1"), // bigrams {ab, bc}
      (2L, "a b d", "s1"), // bigrams {ab, bd} -> ab repeats across docs
      (3L, "x y", "s2")    // bigram {xy}
    ).toDF("doc_id", "text", "source")
    val out = Dedup.duplicatedNgramRate(corpus, k = 2).orderBy("source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // s1: postings 4 (ab,bc,ab,bd), distinct 3 -> dup rate 1/4
    out shouldBe Array(("s1", 4L, 3L, 0.25), ("s2", 1L, 1L, 0.0))
  }

  "Dedup.componentWeights" should "weigh each doc by the inverse of its near-dup component size" in {
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = Seq(
      (1L, text, "s1"), (2L, text, "s1"), (3L, text, "s1"), // one 3-doc exact-dup component
      (4L, "completely different words nothing shared here at all", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.componentWeights(corpus, 0.5).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array(
      (1L, 1L, 3L, 0.333333), (2L, 1L, 3L, 0.333333), (3L, 1L, 3L, 0.333333),
      (4L, 4L, 1L, 1.0))
  }

  "Skew.hotKeys" should "rank the heaviest keys with exact shares and mean-relative load" in {
    // key 1: 6 rows, key 2: 3 rows, key 3: 1 row -> 10 rows over 3 keys
    val df = (Seq.fill(6)(1L) ++ Seq.fill(3)(2L) ++ Seq(3L)).map(Tuple1(_)).toDF("k")
    val out = graft.pipeline.Skew.hotKeys(df, Seq("k"), topK = 2)
      .orderBy($"n".desc, $"k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    out shouldBe Array(
      (1L, 6L, 0.6, 0.6, 1.8), // 6/10 share, 6 vs mean 10/3 -> 1.8
      (2L, 3L, 0.3, 0.9, 0.9))
  }

  it should "break count ties by the key ascending in cut and cumulative window" in {
    val df = Seq(5L, 5L, 4L, 4L, 9L).map(Tuple1(_)).toDF("k") // 5->2, 4->2, 9->1
    val out = graft.pipeline.Skew.hotKeys(df, Seq("k"), topK = 2)
      .orderBy($"n".desc, $"k").collect().map(r => (r.getLong(0), r.getDouble(3)))
    out shouldBe Array((4L, 0.4), (5L, 0.8)) // tie on n=2: key 4 before key 5
  }

  "Curate.profile" should "report nulls, exact distincts and native-typed min/max per column" in {
    val df = Seq(
      (1L, Some("b"), Some(10L)),
      (2L, Some("a"), None),
      (3L, None, Some(2L)),
      (4L, Some("a"), Some(10L))
    ).toDF("id", "s", "v")
    val out = graft.pipeline.Curate.profile(df, Seq("id", "s", "v")).orderBy("col_name")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
    out shouldBe Array(
      ("id", 4L, 0L, 4L, "1", "4"),
      ("s", 4L, 1L, 2L, "a", "b"),
      // min/max on the NATIVE long: 2 < 10 (a string min would say "10")
      ("v", 4L, 1L, 2L, "2", "10"))
  }

  "Sampling.stratifiedHashSample" should "apply per-stratum rates and drop unlisted strata" in {
    val corpus = (0L until 300L).map(i => (i, s"doc $i", if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh"))
      .toDF("doc_id", "text", "lang")
    val mixed = Sampling.stratifiedHashSample(corpus, "lang", Map("en" -> 0.5, "de" -> 1.0))
      .select("doc_id", "lang").collect()
    mixed.map(_.getString(1)).toSet shouldBe Set("en", "de") // zh not in the mix
    mixed.count(_.getString(1) == "de") shouldBe 100         // rate 1.0 keeps every de doc
    val en = mixed.count(_.getString(1) == "en")
    en.toDouble should (be > 100 * 0.3 and be < 100 * 0.7)
  }

  "Sampling.holdoutSplit" should "partition every row deterministically by the id hash" in {
    val corpus = (0L until 400L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val splits = Sampling.holdoutSplit(corpus, w)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    splits.length shouldBe 400 // total: every row labeled, none dropped
    val byLabel = splits.groupBy(_._2).view.mapValues(_.length).toMap
    byLabel.keySet shouldBe Set("train", "val", "test")
    byLabel("train").toDouble should (be > 400 * 0.7 and be < 400 * 0.9)
    // rerun ⇒ identical assignment (the no-leakage property)
    Sampling.holdoutSplit(corpus, w).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)) shouldBe splits
    // membership is id-local: a subset corpus assigns identically
    val sub = Sampling.holdoutSplit(corpus.filter($"doc_id" < 100), w)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    splits.filter(_._1 < 100).foreach { case (id, s) => sub(id) shouldBe s }
    // the train split IS the rate-0.8 hash sample: one consistent lattice
    val train = splits.filter(_._2 == "train").map(_._1).toSet
    Sampling.hashSample(corpus, 0.8).select("doc_id").collect()
      .map(_.getLong(0)).toSet shouldBe train
  }

  "Sampling.tokenBudget" should "match the naive global running-sum prefix exactly" in {
    val rnd = new scala.util.Random(23)
    val corpus = (0L until 200L).map { i =>
      val n = 3 + rnd.nextInt(40)
      (i, (0 until n).map(j => if (rnd.nextBoolean()) "the" else s"w$j").mkString(" "))
    }.toDF("doc_id", "text")
    // naive reference: order every doc by (quality desc, id), cumulate
    val scored = TextAnalysis.qualityScore(corpus)
      .select("doc_id", "n_tokens", "quality").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (id, _, q) => (-q, id) }
    def naive(budget: Long): Set[Long] = {
      var acc = 0L
      scored.iterator.takeWhile { case (_, n, _) => { acc += n; acc <= budget } }.map(_._1).toSet
    }
    for (budget <- Seq(0L, 500L, 2000L, 100000L)) {
      val got = Sampling.tokenBudget(corpus, budget).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      got shouldBe naive(budget)
    }

    // degenerate distribution: every doc identical quality → ONE bucket is
    // the whole corpus; maxWindowRows = 0 forces the distributed
    // prefix-sum path, which must stay exact in (quality desc, id) order
    val flat = (0L until 100L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val perDoc = 8L
    for (budget <- Seq(0L, 7L, 40L, 41L, 800L)) {
      val expect = (0L until math.min(100L, budget / perDoc)).toSet
      Sampling.tokenBudget(flat, budget, maxWindowRows = 0L).select("doc_id")
        .collect().map(_.getLong(0)).toSet shouldBe expect
      // the window path (default threshold) selects the identical set
      Sampling.tokenBudget(flat, budget).select("doc_id")
        .collect().map(_.getLong(0)).toSet shouldBe expect
    }
  }

  "Sampling.packSequences" should "equal the naive global prefix-sum chunking across partitions" in {
    val rnd = new scala.util.Random(31)
    val corpus = (0L until 500L).map(i => (i, (0 until (1 + rnd.nextInt(30))).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Sampling.packSequences(corpus, 64L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // naive single-threaded reference
    var acc = 0L
    val want = corpus.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).map { case (id, text) =>
        val n = text.split(" ").length.toLong
        val seq = (acc / 64L); acc += n
        (id, n, seq)
      }
    got shouldBe want
    // the corpus must shuffle exactly once (the range exchange): no global
    // window, and no second hash exchange on the partition id
    val plan = Sampling.packSequences(corpus, 64L).queryExecution.executedPlan.toString
    plan should include("__pid")
    plan should not include "hashpartitioning(__pid"
    plan should not include "Window"
  }

  "Sampling.packingReport" should "account waste and overflow per sequence exactly" in {
    // capacity 10, start offsets 0,4,8,23: docs 0-2 all START in seq 0
    // (8+15=23 tokens → 13 dropped at the cut), doc 3 starts in seq 2
    // (2 tokens, 8 pad); no doc starts in seq 1, so it has no row.
    val corpus = Seq(
      (0L, "a b c d"), (1L, "a b c d"),          // start 0, 4 → seq 0 (8 tokens)
      (2L, (1 to 15).map(_ => "w").mkString(" ")), // start 8 → seq 0, overflows
      (3L, "a b")                                  // start 23 → seq 2
    ).toDF("doc_id", "text")
    val rep = Sampling.packingReport(Sampling.packSequences(corpus, 10L), 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    rep(0L) shouldBe ((3L, 23L, 0L, 13L)) // 8 + the overflowing starter
    rep(2L) shouldBe ((1L, 2L, 8L, 0L))   // tail sequence mostly empty
  }

  "Sampling determinism" should "be invariant under input partition layout" in {
    // the docs promise sampling/packing decisions are pure functions of
    // the data, not of partitioning — assert it across layouts
    val rnd = new scala.util.Random(41)
    val corpus = (0L until 300L).map(i => (i, (0 until (1 + rnd.nextInt(20))).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    def samp(df: org.apache.spark.sql.DataFrame) =
      Sampling.hashSample(df, 0.4).select("doc_id").collect().map(_.getLong(0)).toSet
    samp(corpus.repartition(1)) shouldBe samp(corpus.repartition(13))
    def pack(df: org.apache.spark.sql.DataFrame) =
      Sampling.packSequences(df, 64L).collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    pack(corpus.repartition(1)) shouldBe pack(corpus.repartition(13))
    def budget(df: org.apache.spark.sql.DataFrame) =
      Sampling.tokenBudget(df, 900L).select("doc_id").collect().map(_.getLong(0)).toSet
    budget(corpus.repartition(1)) shouldBe budget(corpus.repartition(13))
  }

  "Round-8 operators" should "be invariant under input partition layout" in {
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 200L).map { i =>
      (i, (0 until (2 + rnd.nextInt(15))).map(_ => s"w${rnd.nextInt(12)}").mkString(" "))
    }.toDF("doc_id", "text")
    def across[A](f: org.apache.spark.sql.DataFrame => A): Unit =
      f(corpus.repartition(1)) shouldBe f(corpus.repartition(13))
    across(df => TextAnalysis.topNgrams(df, n = 2, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq)
    across(df => TextAnalysis.pmiCollocations(df, k = 10, minCount = 3L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq)
    across(df => Sampling.holdoutSplit(df, Seq("a" -> 0.7, "b" -> 0.3)).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap)
    across(df => Retrieval.phraseMatches(Retrieval.positionalPostings(df), Seq("w1", "w2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    across(df => Retrieval.nearMatches(Retrieval.positionalPostings(df), "w1", "w2", slop = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  "Similarity LSH sizing" should "add one plane per corpus doubling and re-amplify tables for recall" in {
    // k = ceil(log2 n) + margin: log-scaling in n
    Similarity.planesFor(2048) shouldBe Similarity.planesFor(1024) + 1
    Similarity.planesFor(1024 * 1024) shouldBe Similarity.planesFor(1024) + 10
    // more planes ⇒ lower p^k ⇒ more tables needed at the same recall
    Similarity.tablesFor(16, 0.85) should be > Similarity.tablesFor(8, 0.85)
    // a near-identical pair (p→1, p^16≈0.8) needs almost no amplification
    Similarity.tablesFor(16, 0.999) should be <= 2
  }

  "multi-probe LSH" should "tolerate one disagreeing sign bit and shrink the table budget" in {
    // several-fold fewer tables at the same recall (the scale trade:
    // (k+1)x probe volume per table vs fewer whole tables)
    Similarity.tablesForMultiProbe(16, 0.85) should be < Similarity.tablesFor(16, 0.85)
    // candidates are a superset of the plain buckets' at identical params
    val rnd = new scala.util.Random(19)
    val data = (0 until 300).map(i => (i.toLong, Array.fill(12)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    def pairs(mp: Boolean): Set[(Long, Long)] =
      Similarity.lshCosinePairs(data, threshold = -1.0, planesPerTable = 10, tables = 1, multiProbe = mp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain  = pairs(mp = false)
    val probed = pairs(mp = true)
    probed should contain allElementsOf plain
    // with 10 planes and ONE table, near-neighbour pairs regularly land one
    // bit apart — multi-probe must recover strictly more candidates
    probed.size should be > plain.size
  }

  "SparkEntry.oracleSqlFor" should "derive different auto-LSH oracles for different corpus counts" in {
    // the gate is honest only if the oracle's k/L actually respond to n:
    // 500 → k=10, 2000 → k=12 (margin 1) — the embedded hyperplane sets
    // and table counts must differ, while pinned-parameter gates must not
    val at500  = graft.SparkEntry.oracleSqlFor(500L)
    val at2000 = graft.SparkEntry.oracleSqlFor(2000L)
    at500("ann_lsh_auto") should not be at2000("ann_lsh_auto")
    at500("ann_lsh_mp") should not be at2000("ann_lsh_mp")
    at500("ann_lsh") shouldBe at2000("ann_lsh")
    // multi-probe's probe expansion is present only in the mp oracle
    at500("ann_lsh_mp") should include("xor(bucket")
    at500("ann_lsh_auto") should not include "xor(bucket"
  }

  it should "keep random-collision candidates sub-quadratic under derived plane counts" in {
    def randomVecs(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(7)
      (0 until n).map(i => (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    // threshold -1 keeps EVERY candidate pair the buckets produce, so the
    // count measures collision noise, not verify filtering; tables pinned
    // so the comparison isolates the planesFor(n) effect
    def candidates(n: Int): Long =
      Similarity.lshCosinePairs(randomVecs(n), threshold = -1.0,
        planesPerTable = Similarity.planesFor(n), tables = 4).count()
    val c1 = candidates(1024)
    val c4 = candidates(4096)
    // constant planes would grow pairs 16x per 4x corpus (quadratic);
    // derived planes keep expected bucket occupancy fixed ⇒ ~4x (linear)
    c4.toDouble / c1.toDouble should be < 8.0
    c4 should be > c1 // and the measurement is not degenerate
  }

  "Similarity.ivfBuild" should "refine centroids and keep assignments total" in {
    val idx = Similarity.ivfBuild(vecs, nlist = 2, refineIterations = 2)
    idx.centroids.size shouldBe 2
    idx.assigned.count() shouldBe 5           // every vector assigned
    idx.assigned.select("centroid").distinct().count() should be <= 2L
    val q   = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val top = Similarity.ivfTopK(idx.assigned, idx.centroids, q, k = 2, nprobe = 2).collect()
    top.map(_.getLong(0)).toSet shouldBe Set(0L, 1L)
  }

  "Similarity IVF persistence" should "write inverted lists as partitions and prune on probe" in {
    val idx  = Similarity.ivfBuild(vecs, nlist = 2, refineIterations = 1)
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    Similarity.ivfWrite(idx, path)
    val reloaded = Similarity.ivfRead(spark, path)
    reloaded.centroids shouldBe idx.centroids
    val q = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val top = Similarity.ivfTopK(reloaded.assigned, reloaded.centroids, q, k = 2, nprobe = 2)
    // same answer as the in-memory index...
    top.collect().map(_.getLong(0)).toSet shouldBe
      Similarity.ivfTopK(idx.assigned, idx.centroids, q, k = 2, nprobe = 2).collect().map(_.getLong(0)).toSet
    // ...and the probe filter lands on the partition column: unprobed
    // inverted lists are skipped at the DIRECTORY level, not row-filtered
    val plan = Similarity.ivfTopK(reloaded.assigned, reloaded.centroids, q, k = 2, nprobe = 1)
      .queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    plan should include("centroid")
  }

  "Similarity.pqBuild" should "encode seeds to their own codes with first-min ties" in {
    val ix = Similarity.pqBuild(vecs, m = 4, kpq = 4)
    val codes = ix.codes.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    codes.size shouldBe 5
    codes.values.foreach(_.length shouldBe 4)
    // vec 0 is seed 0: distance 0 in every subspace -> all codes 0
    codes(0L) shouldBe Seq(0, 0, 0, 0)
    // vec 1 differs from vec 0 only in dim 0: subspace 0 picks its own
    // sub-centroid (1), subspaces 1-3 TIE with seed 0 -> first-min keeps 0
    codes(1L) shouldBe Seq(1, 0, 0, 0)
  }

  it should "reject a kpq larger than the corpus" in {
    an[IllegalArgumentException] should be thrownBy Similarity.pqBuild(vecs, m = 4, kpq = 16)
  }

  "Similarity.pqTopK" should "rank by asymmetric distance with the query's own code at zero" in {
    val ix = Similarity.pqBuild(vecs, m = 4, kpq = 4)
    val q  = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val top = Similarity.pqTopK(ix, q, k = 3).collect()
    top.head.getLong(0) shouldBe 0L
    top.head.getDouble(1) shouldBe 0.0 // ADC of the query against itself
    top(1).getLong(0) shouldBe 1L      // near-duplicate: one tiny subspace term
    top(1).getDouble(1) should be < 0.001
  }

  "Similarity.pqTopKRerank" should "order the ADC shortlist by exact cosine" in {
    val q = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    val ix = Similarity.pqBuild(vecs, m = 4, kpq = 4)
    // nCand = corpus: re-rank must equal brute force exactly
    val rr = Similarity.pqTopKRerank(ix, vecs, q, k = 3, nCand = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val bf = Similarity.bruteForceTopK(vecs, q, 3)
      .withColumn("sim", org.apache.spark.sql.functions.round($"sim", 3))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    rr shouldBe bf
    rr.head._1 shouldBe 0L // the query itself leads at sim 1.0
  }

  "Similarity.ivfPqTopK" should "rank probed-list members like full PQ and skip the rest" in {
    val q = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    // nprobe = nlist: candidates = whole corpus -> must equal full-PQ ADC
    val all = Similarity.ivfPqTopK(vecs, q, k = 5, nlist = 2, nprobe = 2, m = 4, kpq = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.pqTopK(Similarity.pqBuild(vecs, m = 4, kpq = 4), q, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    all shouldBe full
    // nprobe = 1: only the query's own coarse list is ranked — a strict
    // subset led by the query; vec 1 is itself the OTHER coarse seed, so
    // it lives in the unprobed list and must be absent (pruning is real)
    val one = Similarity.ivfPqTopK(vecs, q, k = 5, nlist = 2, nprobe = 1, m = 4, kpq = 4)
      .collect().map(_.getLong(0))
    one.length should be < 5
    one.head shouldBe 0L
    one should not contain 1L
  }

  "Similarity IVF" should "find the nearest neighbours probing a subset" in {
    val assigned = Similarity.ivfAssign(vecs, nlist = 2)
    val cents = vecs.orderBy("vec_id").limit(2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val q = vecs.filter($"vec_id" === 0).select("embedding").head.getSeq[Float](0)
    // nprobe=1 would miss vec 1: it is itself the second centroid, so it
    // lives in the other inverted list — probing both must find it
    val top = Similarity.ivfTopK(assigned, cents, q, k = 2, nprobe = 2).collect()
    top.head.getLong(0) shouldBe 0L
    top(1).getLong(0) shouldBe 1L
  }

  "Dedup.deduplicated" should "drop near-duplicates keeping the smallest id" in {
    val out = Dedup.deduplicated(docs, 0.9).select("doc_id").collect().map(_.getLong(0)).sorted
    out should contain(0L)     // representative kept
    out should not contain 4L  // exact dup of 0 dropped
  }

  "Skew.saltedCount and saltedSum" should "match unsalted aggregation" in {
    import graft.pipeline.Skew
    val expectCnt = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCnt = Skew.saltedCount(docs, Seq("source"), saltFactor = 4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    gotCnt shouldBe expectCnt

    val base = docs.withColumn("v", F.length(F.col("text")).cast("double"))
    val expectSum = base.groupBy("source").agg(F.sum("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotSum = Skew.saltedSum(base, Seq("source"), "v", saltFactor = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    gotSum shouldBe expectSum
  }

  "Skew.saltedJoin" should "match a plain join" in {
    import graft.pipeline.Skew
    val dims = Seq(("src0", "alpha"), ("src1", "beta")).toDF("source", "label")
    val plain  = docs.join(dims, Seq("source")).select("doc_id", "label").collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(docs, dims, "source", saltFactor = 4)
      .select("doc_id", "label").collect().map(_.toSeq).toSet
    salted shouldBe plain
  }

  "TextAnalysis.tokenStats" should "count whitespace and regex tokens" in {
    val r = TextAnalysis.tokenStats(docs).filter($"doc_id" === 0).head
    r.getLong(1) shouldBe 13L  // whitespace tokens
    r.getLong(2) shouldBe 12L  // 'the' appears twice
    r.getLong(3) shouldBe 13L  // all-letter words, no punctuation
  }

  "TextAnalysis.langId" should "detect marker-word languages deterministically" in {
    val preds = TextAnalysis.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    preds(0L) shouldBe "en"
    preds(2L) shouldBe "de"
    preds(5L) shouldBe "es"
  }

  "TextAnalysis.tokenEntropy" should "score uniform text high and repeated text zero" in {
    val corpus = Seq(
      (0L, "a b c d"),   // uniform over 4: ln 4
      (1L, "x x x x"),   // single token: 0
      (2L, "a a b b")    // uniform over 2: ln 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(corpus).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out(0L) shouldBe math.log(4.0) +- 5e-5
    out(1L) shouldBe 0.0 +- 1e-12 // -0.0 after rounding is fine
    out(2L) shouldBe math.log(2.0) +- 5e-5
  }

  "TextAnalysis.lexicalDiversity" should "compute TTR and hapax fraction from exact counts" in {
    val corpus = Seq((0L, "a a b c"), (1L, "x x x x")).toDF("doc_id", "text")
    val out = TextAnalysis.lexicalDiversity(corpus).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    out(0L) shouldBe ((4L, 3L, 2L, 0.75, 0.666667)) // types {a,b,c}, hapax {b,c}
    out(1L) shouldBe ((4L, 1L, 0L, 0.25, 0.0))      // one type, no hapax
  }

  "TextAnalysis.tokenKlShift" should "score identical slices zero and diverging slices asymmetrically" in {
    val a = Seq((0L, "x x x y")).toDF("doc_id", "text")
    val same = TextAnalysis.tokenKlShift(a, a).head()
    same.getDouble(3) shouldBe 0.0 // kl_ab
    same.getDouble(4) shouldBe 0.0 // kl_ba
    same.getDouble(5) shouldBe 0.0 // js
    val b = Seq((1L, "x y y y")).toDF("doc_id", "text")
    val ab = TextAnalysis.tokenKlShift(a, b).head()
    ab.getDouble(3) should be > 0.0
    // JS is symmetric; the two KLs need not be equal but both positive
    val ba = TextAnalysis.tokenKlShift(b, a).head()
    ab.getDouble(5) shouldBe ba.getDouble(5)
    ab.getDouble(3) shouldBe ba.getDouble(4)
    ab.getDouble(5) should be < math.log(2.0) // JS bounded by ln 2
  }

  "Similarity.clusterOutliers" should "surface the planted far member with the most negative z" in {
    // two tight clusters on the axes + one vector at ~26 degrees off the
    // x-axis: it stays assigned to the x-cluster but sits far below the
    // others' centroid cosine, so it must rank first (lowest z)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)), (3L, Array(1.0f, -0.01f)),
      (4L, Array(0.9f, 0.44f)),
      (1L, Array(0.0f, 1.0f)), (5L, Array(0.01f, 1.0f)), (6L, Array(-0.01f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.clusterOutliers(vecs, nlist = 2, k = 3).collect()
    out.head.getLong(0) shouldBe 4L
    out.head.getDouble(3) should be < -1.0
    // z-scores ascend (bottom-k ordering) and all rows carry a valid sim
    out.map(_.getDouble(3)).toSeq shouldBe out.map(_.getDouble(3)).toSeq.sorted
  }

  "Similarity.kCenterCoreset" should "walk the farthest-point traversal in pick order" in {
    val vecs = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(5f, 5f))
    ).toDF("vec_id", "embedding")
    val picks = Similarity.kCenterCoreset(vecs, k = 4).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // seed = min id; then farthest-from-selected each round:
    // 1 at d=10, then 3 at min(√50,√50)=√50, then 2 at min-dist 1
    picks shouldBe Array(
      (1L, 0L, 0.0), (2L, 1L, 10.0), (3L, 3L, 7.071068), (4L, 2L, 1.0))
    // k beyond the corpus stops early, and the radius curve never rises
    val all4 = Similarity.kCenterCoreset(vecs, k = 10).collect()
    all4.length shouldBe 4
    val ds = all4.sortBy(_.getLong(0)).map(_.getDouble(2)).drop(1)
    ds.zip(ds.tail).foreach { case (hi, lo) => lo should be <= hi }
  }

  "the graft_min_eucl kernel" should "replicate the zip_with/aggregate least-distance chain bit-for-bit" in {
    import org.apache.spark.sql.functions.{aggregate, col, least, lit, sqrt, zip_with}
    graft.functions.GraftFunctions.register(spark)
    // float-precision-sensitive values: the widening float->double casts
    // and the sequential (x-y)^2 fold order must match the HOF chain
    val vecs = Seq(
      (0L, Seq(0.1f, 0.2f, 0.3f)), (1L, Seq(-1.5f, 2.25f, 0f)),
      (2L, Seq(1e-3f, 1e3f, -7.77f)), (3L, Seq(0f, 0f, 0f))
    ).toDF("vec_id", "v")
    val centers = Seq(Array(0.05, 0.21, 0.29), Array(-1.5, 2.25, 1e-4), Array(100.0, -5.0, 0.0))
    val hof = centers.map { c =>
      sqrt(aggregate(zip_with(col("v"), lit(c), (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, e) => acc + e))
    }.reduce(least(_, _))
    val rows = vecs.select(col("vec_id"), hof.as("ref"),
      graft.functions.GraftFunctions.minEuclDist(col("v"), centers).as("ker")).collect()
    rows.foreach { r =>
      java.lang.Double.doubleToLongBits(r.getDouble(2)) shouldBe
        java.lang.Double.doubleToLongBits(r.getDouble(1))
    }
  }

  "TextAnalysis.effectiveVocab" should "score uniform vocab at its size and skewed vocab far below" in {
    val corpus = Seq(
      (0L, "en", "a b c d"),         // uniform over 4: eff = 16/4 = 4 (ratio 1)
      (1L, "de", "x x x x x x x y")  // 7-vs-1 skew: eff = 64/50 = 1.28 over vocab 2
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.effectiveVocab(corpus).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    out("en") shouldBe ((4L, 4L, 4.0, 1.0))
    out("de") shouldBe ((8L, 2L, 1.28, 0.64))
  }

  "TextAnalysis.burstyTerms" should "rank clumped terms above evenly-spread ones" in {
    // x clumps (4 in one doc, 0 in the other): VMR = (16/2 − 4)/2 = 2.0
    // y spreads (1 and 3):                     VMR = (10/2 − 4)/2 = 0.5
    val corpus = Seq((0L, "x x x x y"), (1L, "y y y")).toDF("doc_id", "text")
    val out = TextAnalysis.burstyTerms(corpus, k = 10, minCount = 1L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out shouldBe Array(("x", 1L, 4L, 2.0), ("y", 2L, 4L, 0.5))
  }

  "the round-12 operators" should "hold their differential properties on random inputs" in {
    import graft.operators.TimeSeries
    val rnd = new scala.util.Random(29)
    // Theil–Sen ≡ OLS on NOISELESS linear series (any slope/intercept):
    // both estimators must recover the exact line
    (1 to 3).foreach { _ =>
      val slope = (rnd.nextInt(199) - 99) / 10.0 // 1-dp lattice keeps products exact
      val icept = rnd.nextInt(100) / 10.0
      val pts = (0 until 12).map(i => ("k", i * 10L, icept + slope * i))
      val df  = pts.toDF("k", "ts", "v")
      val ts  = TimeSeries.theilSen(df, Seq("k"), "ts", "v", step = 10L).head()
      val ols = TimeSeries.trendForecast(df, Seq("k"), "ts", "v", step = 10L)
        .select("slope", "intercept").head()
      (ts.getDouble(3), ts.getDouble(4)) shouldBe ((ols.getDouble(0), ols.getDouble(1)))
      ts.getDouble(3) shouldBe slope
    }
    // best-of-n curve is monotone in n and capped by the pool max
    (1 to 3).foreach { _ =>
      val pool = (1 to 8).map(c => (1L, c.toLong, rnd.nextInt(1000) / 100.0))
      val r = graft.pipeline.Chat
        .bestOfN(pool.toDF("prompt_id", "cand_id", "score"), ns = Seq(1, 2, 4, 8)).head()
      val best = r.getDouble(2)
      val curve = (3 to 6).map(r.getDouble)
      curve.zip(curve.tail).foreach { case (lo, hi) => lo should be <= hi }
      curve.last shouldBe best
      curve.head shouldBe (pool.map(_._3).sum / 8) +- 1e-6
    }
    // KL shift: zero against itself; JS symmetric across random corpora
    val mk = (seed: Int) => {
      val r2 = new scala.util.Random(seed)
      (0 until 6).map(i => (i.toLong, Seq.fill(8)("w" + r2.nextInt(5)).mkString(" ")))
        .toDF("doc_id", "text")
    }
    val (ca, cb) = (mk(1), mk(2))
    val self = TextAnalysis.tokenKlShift(ca, ca).head()
    (self.getDouble(3), self.getDouble(4), self.getDouble(5)) shouldBe ((0.0, 0.0, 0.0))
    val ab = TextAnalysis.tokenKlShift(ca, cb).head()
    val ba = TextAnalysis.tokenKlShift(cb, ca).head()
    ab.getDouble(5) shouldBe ba.getDouble(5) // JS symmetric
    // k-center radius curve never rises; picks are distinct
    val vecs = (0L until 12L).map(i => (i, Seq.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val picks = Similarity.kCenterCoreset(vecs, k = 6).orderBy("rank").collect()
    picks.map(_.getLong(1)).distinct.length shouldBe 6
    val ds = picks.map(_.getDouble(2)).drop(1)
    ds.zip(ds.tail).foreach { case (hi, lo) => lo should be <= hi }
  }

  "the round-12 operators" should "flow empty inputs through without errors" in {
    import graft.operators.{Relational, TimeSeries}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val noEv   = Seq.empty[(String, Long, Double)].toDF("k", "ts", "v")
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val noCand = Seq.empty[(Long, Long, Double)].toDF("prompt_id", "cand_id", "score")
    val noScored = Seq.empty[(Long, Double)].toDF("doc_id", "score")
    TimeSeries.theilSen(noEv, Seq("k"), "ts", "v", 10L).count() shouldBe 0L
    TimeSeries.seasonStrength(noEv, Seq("k"), "ts", "v", 10L, period = 4).count() shouldBe 0L
    Similarity.kCenterCoreset(noVecs, k = 3).count() shouldBe 0L
    graft.pipeline.Chat.bestOfN(noCand, ns = Seq(1, 2)).count() shouldBe 0L
    TextAnalysis.lexicalDiversity(noDocs).count() shouldBe 0L
    TextAnalysis.burstyTerms(Seq((0L, "x")).toDF("doc_id", "text"), k = 5, minCount = 9L)
      .count() shouldBe 0L // everything under minCount
    an[IllegalArgumentException] should be thrownBy TextAnalysis.burstyTerms(noDocs, k = 5)
    // the one-row evals report their zero state instead of vanishing
    val tau = Retrieval.rankAgreement(noScored, noScored).head()
    (tau.getLong(0), tau.getDouble(4)) shouldBe ((0L, 0.0))
    val rbo = Retrieval.rankBiasedOverlap(noScored, noScored, k = 5).head()
    (rbo.getLong(0), rbo.getDouble(1)) shouldBe ((0L, 0.0))
    // audits on empty relations return a single all-zero/NULL row, no throw
    Relational.kAnonymity(noDocs.select(col("doc_id")), Seq("doc_id")).head().getLong(0) shouldBe 0L
    Relational.joinSkewReport(noDocs, "doc_id").collect().length should be <= 1
    an[IllegalArgumentException] should be thrownBy
      Relational.rankCorrelation(noCand, "cand_id", "score", "prompt_id")
  }

  "TextAnalysis.nbModel" should "rank per-label terms by count with term tie-break" in {
    val top = TextAnalysis.nbModel(docs, topK = 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // en: "the" appears 2x in each of docs 0/1/4 -> 6, clear top
    top.filter(t => t._1 == "en" && t._4 == 1L) shouldBe Array(("en", "the", 6L, 1L))
    // de: "der" 2x leads
    top.filter(t => t._1 == "de" && t._4 == 1L) shouldBe Array(("de", "der", 2L, 1L))
    all(top.map(_._4)) should be <= 3L
  }

  "TextAnalysis.nbConfusion" should "self-predict a separable corpus on the diagonal" in {
    val m = TextAnalysis.nbConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    m(("en", "en")) shouldBe 4L
    m(("de", "de")) shouldBe 1L
    m(("es", "es")) shouldBe 1L
    m.values.sum shouldBe 6L // every doc predicted exactly once
    // label-cardinality guard: doc_id as "label" is not a classifier input
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.nbConfusion(docs.withColumn("big", $"doc_id".cast("string")),
        labelCol = "big", maxLabels = 3).collect()
  }

  "TextAnalysis.nbMarginCalibration" should "bin top-2 margins, cap the top bin, and sum to the corpus" in {
    val out = TextAnalysis.nbMarginCalibration(docs, binWidth = 0.25, bins = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    out.map(_._3).sum shouldBe 6L                    // every doc lands in one bin
    all(out.map(_._1)) should be <= 7L               // top bin is open-ended
    all(out.map(_._1)) should be >= 0L
    out.foreach { case (bin, lo, n, ok, acc) =>
      lo shouldBe bin * 0.25
      ok should be <= n
      acc shouldBe BigDecimal(ok.toDouble / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // the separable corpus self-predicts: every bin is 100% accurate
    all(out.map(_._5)) shouldBe 1.0
  }

  "TextAnalysis.readability" should "count syllables as vowel groups (min 1) and drop empty docs" in {
    val corpus = Seq(
      (0L, "The cat sat. The dog ran!"), // 6 words, 2 sents, 6 one-group syllables
      (1L, "hmm pfft grr"),              // vowel-less words still count 1 each; no punct -> 1 sent
      (2L, ""),                          // no words -> dropped
      (3L, "beautiful")                  // eau / i / u -> 3 groups
    ).toDF("doc_id", "text")
    val out = TextAnalysis.readability(corpus).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    out.map(_._1) shouldBe Array(0L, 1L, 3L)
    out(0) shouldBe ((0L, 6L, 2L, 6L,
      BigDecimal(206.835 - 1.015 * 3.0 - 84.6 * 1.0).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    out(1)._2 shouldBe 3L; out(1)._3 shouldBe 1L; out(1)._4 shouldBe 3L
    out(2)._4 shouldBe 3L
  }

  "GraftFunctions.foldSum" should "match the interpreted sorted-fold bit for bit" in {
    graft.functions.GraftFunctions.register(spark)
    val xs = Seq(Tuple1(Array(0.3, 0.1, 1e-17, 0.2)), Tuple1(Array.empty[Double]))
      .toDF("xs")
    val cmp = xs.select(
      graft.functions.GraftFunctions.foldSum($"xs").as("native"),
      expr("aggregate(array_sort(xs), 0.0d, (a, x) -> a + x)").as("hof")
    ).collect()
    cmp.foreach(r => r.getDouble(0) shouldBe r.getDouble(1))
    cmp(1).getDouble(0) shouldBe 0.0
  }

  "TextAnalysis.textRankKeywords" should "rank the co-occurrence hub first" in {
    // "spark" neighbors 3 distinct terms; each satellite neighbors only
    // "spark" -> the hub collects rank from all three every iteration
    val corpus = (0 until 6).map(i => (i.toLong, "spark shuffle spark join spark plan"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.textRankKeywords(corpus, minCount = 2L, maxEdges = 10, k = 10)
      .orderBy("pos").collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    out.head._1 shouldBe "spark"
    out.map(_._3) shouldBe (1L to out.length).toArray
    out.map(_._2).toSeq shouldBe out.map(_._2).sorted.reverse.toSeq // rank desc
    out.map(_._1).toSet shouldBe Set("spark", "shuffle", "join", "plan")
  }

  "TextAnalysis.pmiCollocations" should "rank exclusive pairs above frequent-word pairs" in {
    // every bigram occurs 6× — PMI separates pairs of exclusive words
    // (n_w = 6) from pairs touching the ubiquitous "the" (n_w = 18)
    val rows = (0 until 6).map(i => (i.toLong, "x y the cat and the dog sat on the mat"))
    val out = TextAnalysis.pmiCollocations(rows.toDF("doc_id", "text"), k = 10, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // the four exclusive pairs outrank every 'the' pair despite equal counts
    out.take(4).map(_._1).toSet shouldBe Set("cat and", "dog sat", "sat on", "x y")
    out.head._1 shouldBe "cat and" // equal-PMI ties break by gram text
    // pmi: n_ab=6, n_a=n_b=6, T=66, N=60 → ln(((6·66)·66)/((60·6)·6))
    out.head._3 shouldBe math.log(6.0 * 66 * 66 / (60.0 * 36)) +- 5e-5
    // global top-k stays TakeOrderedAndProject
    TextAnalysis.pmiCollocations(rows.toDF("doc_id", "text"), k = 3)
      .queryExecution.executedPlan.toString should include("TakeOrderedAndProject")
  }

  "TextAnalysis.bpeTrain" should "learn the hand-computed merge sequence and stop when dry" in {
    // word histogram: aaa ×3 — pairs (a,a) at two positions ×3 = 6
    val d1 = Seq((0L, "aaa"), (1L, "aaa"), (2L, "aaa")).toDF("doc_id", "text")
    val m1 = TextAnalysis.bpeTrain(d1, merges = 5)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // greedy merge of [a,a,a] → [aa,a]; then (aa,a) ×3; then [aaa] is dry
    m1 shouldBe Array((1L, "a", "a", 6L), (2L, "aa", "a", 3L))
    // ties break to the lexicographically smallest pair: (a,b) and (c,d)
    // both occur twice → (a,b) learned first
    val d2 = Seq((0L, "ab cd"), (1L, "ab cd")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(d2, merges = 1)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    m2 shouldBe Array(("a", "b", 2L))
  }

  "TextAnalysis.bpeEncode" should "replay learned merges to per-doc subword token counts" in {
    // corpus: "abab" dominates → merges learn (a,b) then (ab,ab)
    val d = Seq((0L, "abab abab"), (1L, "abab ax"), (2L, "ba")).toDF("doc_id", "text")
    val learned = TextAnalysis.bpeTrain(d, merges = 2).orderBy("step")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    learned shouldBe Seq(("a", "b"), ("ab", "ab"))
    val out = TextAnalysis.bpeEncode(d, learned).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // abab → [a,b,a,b] → [ab,ab] → [abab]: 1 token
    // ax   → [a,x] (no merge fires after round 1? (a,b) no; ax stays [a,x]): 2
    // ba   → [b,a]: 2
    out shouldBe Array((0L, 2L, 2L), (1L, 2L, 3L), (2L, 1L, 2L))
    // encode ≡ training's end-state vocab: counting tokens through a fresh
    // whitespace pass must match summing the trained forms per doc
    val direct = TextAnalysis.bpeEncode(d, learned.take(1)).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    // one merge only: abab → [ab,ab] (2), ax → 2, ba → 2
    direct shouldBe Array((0L, 4L), (1L, 4L), (2L, 2L))
  }

  it should "encode the dry-training degenerate corpus as character tokens (zero merges)" in {
    // every word is a single char: training dries at round 1, learns NOTHING
    val d = Seq((0L, "a b a"), (1L, "c")).toDF("doc_id", "text")
    TextAnalysis.bpeTrain(d, merges = 8).count() shouldBe 0L
    // the encode replay of an empty merge table is character tokenization —
    // mirrors the oracle's dry-round vocab fallback (v$r = v$(r-1))
    val out = TextAnalysis.bpeEncode(d, Seq.empty).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    out shouldBe Array((0L, 3L, 3L), (1L, 1L, 1L))
    // partial dry: "aa" corpus learns 1 of 8 asked merges; the encode of
    // what WAS learned still answers (train never pads with empty rounds)
    val d2 = Seq((0L, "aa aa"), (1L, "aa")).toDF("doc_id", "text")
    val learned = TextAnalysis.bpeTrain(d2, merges = 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    learned shouldBe Seq(("a", "a"))
    TextAnalysis.bpeEncode(d2, learned).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2))) shouldBe Array((0L, 2L), (1L, 1L))
  }

  "TextAnalysis.vocabStats" should "count docs, tokens and vocab in pure int64" in {
    val corpus = Seq(
      (0L, "a b a", "en"), (1L, "a c", "en"), // en: 2 docs, 5 tokens, vocab {a,b,c}
      (2L, "x x x x", "de")                   // de: 1 doc, 4 tokens, vocab {x}
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.vocabStats(corpus).orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out shouldBe Array(("de", 1L, 4L, 1L, 250000L), ("en", 2L, 5L, 3L, 600000L))
    // the approx flag keeps the exact counts at toy cardinalities
    val ap = TextAnalysis.vocabStats(corpus, approx = true).orderBy("lang").collect()
    ap.map(r => r.getLong(2)) shouldBe Array(4L, 5L)
  }

  "TextAnalysis.topNgrams" should "count shifted-window grams and rank ties by text" in {
    val corpus = Seq(
      (0L, "a b c a b"), // bigrams: "a b"×2, "b c", "c a"
      (1L, "a b"),       // "a b"
      (2L, "x")          // shorter than n: contributes nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(corpus, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("a b", 3L), ("b c", 1L), ("c a", 1L))
    // trigrams ride the same fold
    TextAnalysis.topNgrams(corpus, n = 3, k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))) shouldBe
      Array(("a b c", 1L), ("b c a", 1L))
    // global top-k must be TakeOrderedAndProject, not a rank window
    val plan = TextAnalysis.topNgrams(corpus, n = 2, k = 3)
      .queryExecution.executedPlan.toString
    withClue(plan) { plan should include("TakeOrderedAndProject") }
  }

  "TextAnalysis.fingerprint" should "be order-sensitive and stable" in {
    val fp = TextAnalysis.fingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    fp(0L) shouldBe fp(4L)   // identical text, identical fingerprint
    fp(0L) should not be fp(1L)
  }

  "Multimodal" should "produce identical results from the column and batched decode paths" in {
    val media   = Multimodal.withPayload(docs)
    val colPath = Multimodal.decodeMeta(media).orderBy("doc_id").collect()
    val rddPath = Multimodal.decodeBatched(media, batchSize = 2).orderBy("doc_id").collect()
    colPath.map(_.toSeq) shouldBe rddPath.map(_.toSeq)
  }

  it should "sample frames with correct offsets" in {
    val frames = Multimodal.frameSample(Multimodal.withPayload(docs), frameBytes = 16, maxFrames = 3)
      .filter($"doc_id" === 0).orderBy("frame_idx").collect()
    frames.length shouldBe 3
    frames.map(_.getLong(2)).toSeq shouldBe Seq(0L, 16L, 32L)
  }

  it should "resize with pixel-ratio size arithmetic and emit real payload bytes" in {
    val media = Multimodal.withPayload(docs)
    val out = Multimodal.resizeBatched(media, targetW = 64, targetH = 64, batchSize = 2)
      .orderBy("doc_id").collect()
    out.length shouldBe docs.count()
    val srcLens = media.select($"doc_id", org.apache.spark.sql.functions.octet_length($"payload"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    out.foreach { r =>
      val sl     = srcLens(r.getLong(0))
      val expect = math.max(1L, sl * 4096L / ((64 + sl % 193) * (64 + sl * 31 % 177)))
      r.getLong(4) shouldBe expect                        // n_bytes follows the ratio
      r.getAs[Array[Byte]](1).length.toLong shouldBe expect // payload is really that size
      (r.getLong(2), r.getLong(3)) shouldBe ((64L, 64L))
    }
  }

  it should "extract embeddings that feed the similarity operators unchanged" in {
    val emb = Multimodal.embedBatched(Multimodal.withPayload(docs), dim = 8, batchSize = 2)
    emb.count() shouldBe docs.count()
    // components are deterministic and in [0,1)
    val again = Multimodal.embedBatched(Multimodal.withPayload(docs), dim = 8, batchSize = 3)
    emb.orderBy("doc_id").collect().map(_.getSeq[Double](1)) shouldBe
      again.orderBy("doc_id").collect().map(_.getSeq[Double](1))
    // exact duplicate docs (0 and 4) embed identically → top-1 neighbor of
    // doc 0's vector at cosine 1.0; media → embeddings → ANN composes
    val q = emb.filter($"doc_id" === 0).head().getSeq[Double](1)
    val top = Similarity.bruteForceTopK(
      emb.withColumnRenamed("doc_id", "vec_id"), q.toArray.map(_.toFloat), k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    top.map(_._1).toSet shouldBe Set(0L, 4L)
    top.foreach(_._2 shouldBe 1.0 +- 1e-6)
  }

  "TextAnalysis.repetitionSignals" should "flag repetitive docs and pass diverse ones" in {
    val d = Seq(
      (0L, "spam spam spam spam spam spam spam spam spam spam"),      // one word repeated
      (1L, "a fresh sentence with entirely distinct interesting words"),
      (2L, "single")                                                   // 1 word: no bigrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(d).orderBy("doc_id").collect()
    val spam = out(0)
    spam.getDouble(1) shouldBe 0.9 +- 1e-9   // dup_word: 1 distinct of 10
    spam.getDouble(2) shouldBe 1.0 +- 1e-9   // top_word: all the same
    spam.getDouble(3) shouldBe (1.0 - 1.0 / 9) +- 1e-4
    spam.getBoolean(4) shouldBe true
    out(1).getBoolean(4) shouldBe false
    out(2).getDouble(3) shouldBe 0.0         // single word: bigram ratio 0, no error
    out(2).getDouble(2) shouldBe 1.0 +- 1e-9
  }

  it should "be a pure row-local projection (no shuffle in the plan)" in {
    val plan = TextAnalysis.repetitionSignals(docs).queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  "TextAnalysis.tokenQuantiles" should "compute exact interpolated per-group percentiles" in {
    val d = Seq(
      (0L, "a b", "x"), (1L, "a b c d", "x"),                    // n = 2,4 → p50 = 3
      (2L, "a", "y"), (3L, "a b c", "y"), (4L, "a b c d e", "y") // n = 1,3,5 → p50 = 3, p90 = 4.6
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.tokenQuantiles(d).orderBy("lang").collect()
    out(0).getDouble(1) shouldBe 3.0 +- 1e-9
    out(1).getDouble(1) shouldBe 3.0 +- 1e-9
    out(1).getDouble(2) shouldBe 4.6 +- 1e-9
  }

  it should "agree with the approx = true flag (the unbounded-domain path) within tolerance" in {
    // the real documents table: enough rows per lang for the sketch to settle
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TextAnalysis.tokenQuantiles(d).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = TextAnalysis.tokenQuantiles(d, approx = true).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.keySet shouldBe approx.keySet
    exact.foreach { case (lang, (p50, p90)) =>
      approx(lang)._1 shouldBe p50 +- math.max(1.0, p50 * 0.05)
      approx(lang)._2 shouldBe p90 +- math.max(1.0, p90 * 0.05)
    }
  }

  "TextAnalysis.filterByTokenQuantile" should "keep docs at or above their group's cutoff" in {
    val d = Seq(
      (0L, "a b", "x"), (1L, "a b c d", "x"),
      (2L, "a", "y"), (3L, "a b c", "y"), (4L, "a b c d e", "y")
    ).toDF("doc_id", "text", "lang")
    val kept = TextAnalysis.filterByTokenQuantile(d, 0.5).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    kept shouldBe Set(1L, 3L, 4L) // n >= 3 per group's median
  }

  "Sampling.interleaveBySource" should "round-robin sources until each runs out, deterministically" in {
    import graft.pipeline.Sampling
    val docsDf = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c")
    ).toDF("doc_id", "source")
    val out = Sampling.interleaveBySource(docsDf, k = 100, srcCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // round 1 = one doc per source in source order, round 2 = {a, b},
    // round 3 = the last a — regardless of the within-source hash order
    out.map(_._2).toSeq shouldBe Seq("a", "b", "c", "a", "b", "a")
    out.map(_._1).toSeq shouldBe (1L to 6L)
    // rerun-identical (no RNG anywhere)
    val again = Sampling.interleaveBySource(docsDf, k = 100, srcCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val first = Sampling.interleaveBySource(docsDf, k = 100, srcCol = "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    again.toSeq shouldBe first.toSeq
    // the k cut keeps the order prefix
    Sampling.interleaveBySource(docsDf, k = 4).count() shouldBe 4L
  }

  "Sampling.temperatureMixRates" should "upweight low-resource strata and clamp at 1" in {
    import graft.pipeline.Sampling
    val d = (Seq.fill(900)("en") ++ Seq.fill(90)("de") ++ Seq.fill(10)("zh")).zipWithIndex
      .map { case (l, i) => (i.toLong, l) }.toDF("doc_id", "lang")
    val r = Sampling.temperatureMixRates(d, "lang", temperature = 2.0, totalFraction = 0.5)
    // share ∝ sqrt(count): rarer strata sample at higher rates (the two
    // small strata clamp at 1.0 here — their √-share exceeds their size)
    r("zh") should be >= r("de")
    r("de") should be > r("en")
    r("zh") shouldBe 1.0
    r.values.foreach { v => v should be <= 1.0; v should be > 0.0 }
    // tiny stratum's temperature share exceeds its size → clamped
    Sampling.temperatureMixRates(d, "lang", 100.0, 0.9)("zh") shouldBe 1.0
    // kept volume lands in the totalFraction ballpark (the deterministic
    // id hash is not perfectly uniform over 1000 short sequential ids —
    // exact per-stratum membership is what the tx_temp gate pins down)
    val kept = Sampling.temperatureSample(d, "lang", 2.0, 0.5).count()
    kept.toDouble shouldBe (450.0 +- 150.0)
    // clamped strata are kept wholesale
    Sampling.temperatureSample(d, "lang", 2.0, 0.5)
      .filter($"lang" === "zh").count() shouldBe 10L
  }

  "Sampling.domainReweight" should "tilt weights toward the high-deficit domain and normalize" in {
    val good = "the cat sat on the mat and the dog lay in the sun for it was warm and the day was long"
    val d = (0 until 40).map { i =>
      if (i % 2 == 0) (i.toLong, "en", good) else (i.toLong, "zz", "x y")
    }.toDF("doc_id", "lang", "text")
    val out = Sampling.domainReweight(d, rounds = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    out.map(_._1).toSeq shouldBe Seq("en", "zz") // sorted domain order
    out.foreach(_._2 shouldBe 20L)
    val byLang = out.map(x => x._1 -> x).toMap
    // the two-token docs carry a far larger quality deficit
    byLang("zz")._3 should be > byLang("en")._3
    // multiplicative weights tilt toward the lossy domain, past uniform
    byLang("zz")._4 should be > 0.5
    byLang("en")._4 should be < 0.5
    // weights stay a distribution: smoothing keeps the total at 1
    out.map(_._4).sum shouldBe 1.0 +- 3e-6
    // zero rounds → the smoothed uniform mixture exactly
    Sampling.domainReweight(d, rounds = 0)
      .collect().foreach(_.getDouble(3) shouldBe 0.5)
    // empty input → empty frame, schema intact
    val empty = Sampling.domainReweight(d.filter(lit(false)))
    empty.columns.toSeq shouldBe Seq("domain", "n_docs", "loss", "weight")
    empty.count() shouldBe 0L
  }

  "Curate.capPerGroup" should "keep the k best-quality docs per source with deterministic ties" in {
    val out = pipeline.Curate.capPerGroup(docs, k = 1).collect()
    out.length shouldBe 2 // two sources, one survivor each
    out.map(_.getString(1)).toSet shouldBe Set("src0", "src1")
    // ties on quality resolve to the smaller doc_id: doc 0 and 4 are the
    // same text in different sources — if either wins its source, both do
    val bySrc = out.map(r => r.getString(1) -> r.getLong(0)).toMap
    if (bySrc("src1") == 4L) bySrc("src0") shouldBe 0L
  }

  it should "push the group limit below the shuffle (WindowGroupLimit)" in {
    val plan = pipeline.Curate.capPerGroup(docs, k = 5).queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }

  "Dedup.repeatedSpans" should "mine spans shared across documents" in {
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon unique tail one"),
      (1L, "other prefix alpha beta gamma delta epsilon distinct end"), // shares the 5-span
      (2L, "completely unrelated words nowhere near the others at all")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(d, spanK = 5).collect()
    spans.length shouldBe 1 // exactly "alpha beta gamma delta epsilon"
    spans.head.getLong(1) shouldBe 2L
    val docs = Dedup.spanContaminatedDocs(d, spanK = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs shouldBe Map(0L -> 1L, 1L -> 1L) // doc 2 clean
  }

  "Dedup.contaminationReport" should "count distinct shared shingles above minHits" in {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // shares 5-shingles with eval doc
      (2L, "totally unrelated corpus content nothing shared here at all")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val out = Dedup.contaminationReport(corpus, eval, shingleK = 5, minHits = 2L).collect()
    out.length shouldBe 1
    out.head.getLong(0) shouldBe 1L
    out.head.getLong(1) shouldBe 2L // "alpha..epsilon" and "beta..zeta"
    // raising minHits filters the report
    Dedup.contaminationReport(corpus, eval, shingleK = 5, minHits = 3L).collect() shouldBe empty
  }

  "TextAnalysis.unigramLogProb" should "score in-distribution text above rare-token soup" in {
    val d = Seq(
      (0L, "the cat sat on the mat and the cat sat again"),
      (1L, "the cat sat on the mat and the dog stood up"),
      (2L, "zyx qwv jkl pqr xyzzy plugh wibble wobble flob grue")  // all rare
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramLogProb(d, vocabSize = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out(0) should be > out(2) // common words score higher than OOV soup
    out(1) should be > out(2)
    // deterministic across reruns (top-V ties break on the word)
    TextAnalysis.unigramLogProb(d, vocabSize = 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap shouldBe out
  }

  "TextAnalysis.bigramLogProb" should "match hand-computed add-one bigram likelihoods" in {
    // unigrams: a=3 b=3 c=1 -> V=3; bigrams: (a,b)=3, (b,a)=1
    // P(b|a) = (3+1)/(3+3), P(a|b) = (1+1)/(3+3)
    val d = Seq((0L, "a b a b"), (1L, "a b"), (2L, "c")).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.keySet shouldBe Set(0L, 1L) // the bigram-less doc is absent
    val lpAB = math.log(4.0 / 6.0)
    val lpBA = math.log(2.0 / 6.0)
    out(0L) shouldBe ((2 * lpAB + lpBA) / 3) +- 1e-3
    out(1L) shouldBe lpAB +- 1e-3
  }

  it should "rank repeated fluent text above shuffled word salad" in {
    val fluent = "the cat sat on the mat"
    val salad  = "mat the on sat cat the"
    val d = (0L to 4L).map(i => (i, fluent)).toDF("doc_id", "text")
      .union(Seq((5L, salad)).toDF("doc_id", "text"))
    val out = TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out(0L) should be > out(5L) // corpus-frequent transitions score higher
  }

  "TextAnalysis.normalizeText" should "lowercase, strip control chars and collapse whitespace" in {
    val d = Seq(
      (0L, "  The   QUICK\tBrown\nFox  "),
      (1L, "already clean text")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.normalizeText(d).orderBy("doc_id").collect()
    out(0).getString(1) shouldBe "the quick brown fox"
    out(0).getLong(2) shouldBe 19L
    out(1).getString(1) shouldBe "already clean text"
    // normalization makes case/spacing near-dups collapse under exact dedup
    val dups = Seq((0L, "Hello   World"), (1L, "hello world")).toDF("doc_id", "text")
    Dedup.exact(TextAnalysis.normalizeText(dups)).count() shouldBe 1L
  }

  "TextAnalysis.scrubPii" should "redact emails, IPs and phones without double-counting" in {
    val d = Seq(
      (0L, "contact bob@example.com or call +1 (555) 123-4567 now"),
      (1L, "server at 192.168.0.1 responded"),   // IP must NOT also count as a phone
      (2L, "nothing sensitive here at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(d).orderBy("doc_id").collect()
    out(0).getString(1) shouldBe "contact <EMAIL> or call <PHONE> now"
    out(0).getLong(2) shouldBe 2L
    out(1).getString(1) shouldBe "server at <IP> responded"
    out(1).getLong(2) shouldBe 1L // sequential counting: the redacted <IP> is not a phone hit
    out(2).getString(1) shouldBe "nothing sensitive here at all"
    out(2).getLong(2) shouldBe 0L
  }

  "Similarity.nlistFor" should "size inverted lists at ceil(sqrt n)" in {
    Similarity.nlistFor(0L) shouldBe 1
    Similarity.nlistFor(1L) shouldBe 1
    Similarity.nlistFor(500L) shouldBe 23
    Similarity.nlistFor(1000000L) shouldBe 1000
    Similarity.nprobeFor(23) shouldBe 6
    Similarity.nprobeFor(1) shouldBe 1
    // auto build uses the derived sizing on the live count
    val idx = Similarity.ivfBuildAuto(semVecs)
    idx.centroids.size should be <= Similarity.nlistFor(4L)
    idx.assigned.count() shouldBe 4L
    // the oracle derives from the same functions: different corpus count,
    // different ann_ivf_auto SQL; pinned ann_ivf stays count-invariant
    SparkEntry.oracleSqlFor(500L)("ann_ivf_auto") should not be
      SparkEntry.oracleSqlFor(2000L)("ann_ivf_auto")
    SparkEntry.oracleSqlFor(500L)("ann_ivf") shouldBe
      SparkEntry.oracleSqlFor(2000L)("ann_ivf")
    // retrieval-join auto sizing responds to the corpus count too
    SparkEntry.oracleSqlFor(500L)("ann_join_auto") should not be
      SparkEntry.oracleSqlFor(2000L)("ann_join_auto")
  }

  // seeds are the first `nlist` ids, so the planted twin must NOT be a seed:
  // ids 0/1 seed the two clusters, the twin of 0 arrives later as id 3
  private lazy val semVecs = {
    val rnd  = new scala.util.Random(11)
    def v()  = Array.fill(16)(rnd.nextGaussian().toFloat)
    val base = v()
    val twin = base.map(x => x * 1.01f) // parallel: cosine 1
    Seq((0L, base), (1L, v()), (2L, v()), (3L, twin)).toDF("vec_id", "embedding")
  }

  "Similarity.semDedup" should "drop the larger id of a near-parallel pair within a cluster" in {
    val out = Similarity.semDedup(semVecs, tau = 0.9, nlist = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    out.keySet shouldBe Set(0L, 1L, 2L, 3L) // every input id present
    out(0L) shouldBe true                    // smaller id survives
    out(3L) shouldBe false                   // its parallel twin is dropped
    out(1L) shouldBe true                    // random gaussians: cos far below 0.9
    out(2L) shouldBe true
  }

  it should "keep everything at an unreachable tau" in {
    val out = Similarity.semDedup(semVecs, tau = 1.1, nlist = 2).collect()
    out.forall(_.getBoolean(2)) shouldBe true
    out.length shouldBe 4
  }

  it should "produce the same result over a persisted, reloaded index" in {
    val path = java.nio.file.Files.createTempDirectory("graft_semd_").toString + "/ivf"
    Similarity.ivfWrite(Similarity.ivfBuild(semVecs, nlist = 2), path)
    val viaIndex = Similarity.semDedupWith(Similarity.ivfRead(spark, path).assigned, tau = 0.9)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1)
    val direct = Similarity.semDedup(semVecs, tau = 0.9, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).sortBy(_._1)
    viaIndex shouldBe direct
  }

  "pipeline operators" should "flow empty inputs through without errors" in {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyLang = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    TextAnalysis.repetitionSignals(emptyDocs).count() shouldBe 0L
    TextAnalysis.scrubPii(emptyDocs).count() shouldBe 0L
    TextAnalysis.unigramLogProb(emptyDocs).count() shouldBe 0L
    TextAnalysis.tokenQuantiles(emptyLang).count() shouldBe 0L
    Dedup.repeatedSpans(emptyDocs).count() shouldBe 0L
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val corpus    = Similarity.vectorIndex(semVecs, planesPerTable = 4, tables = 4)
    Similarity.annJoin(emptyVecs, corpus, k = 3, planesPerTable = 4, tables = 4)
      .count() shouldBe 0L
  }

  "Similarity.annJoin" should "retrieve the planted twin at rank 1 and exclude self" in {
    val corpus = Similarity.vectorIndex(semVecs, planesPerTable = 4, tables = 4)
    val out = Similarity.annJoin(semVecs.filter($"vec_id" === 0), corpus, k = 3,
      planesPerTable = 4, tables = 4).orderBy("rank").collect()
    out.head.getLong(1) shouldBe 3L        // the parallel twin of vec 0
    out.head.getDouble(2) shouldBe 1.0 +- 1e-3
    out.head.getInt(3) shouldBe 1
    out.map(_.getLong(1)) should not contain 0L // self-match excluded
    out.length should be <= 3
  }

  it should "prune the per-query top-k below the shuffle (WindowGroupLimit)" in {
    val corpus = Similarity.vectorIndex(semVecs, planesPerTable = 4, tables = 4)
    val plan = Similarity.annJoin(semVecs, corpus, k = 2, planesPerTable = 4, tables = 4)
      .queryExecution.executedPlan.toString
    plan should include("WindowGroupLimit")
  }

  "Similarity.knnClassify" should "vote the neighborhood label with smaller-label tie-break" in {
    // labels: twin pair {0,3} = class 7; {1,2} = class 9. Query 0's
    // neighborhood at k=3 is {3, 1or2...}: label 7 from the twin plus up
    // to two 9-votes — at k=1 the twin decides alone
    val labels = Seq((0L, 7), (1L, 9), (2L, 9), (3L, 7)).toDF("vec_id", "label")
    val corpus = Similarity.vectorIndex(semVecs, planesPerTable = 4, tables = 4)
    val top1 = Similarity.knnClassify(semVecs.filter($"vec_id" === 0), corpus, labels,
      k = 1, planesPerTable = 4, tables = 4).collect()
    top1.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) shouldBe Array((0L, 7L, 1L))
    // k=3: votes 7×1 vs 9×2 → majority flips to 9 (1 and 2 are closer to
    // each other than to 0, but both still land in 0's candidate set only
    // if buckets collide — so assert on whatever the vote says, against a
    // hand-recount of the annJoin neighbor list)
    val nn = Similarity.annJoin(semVecs.filter($"vec_id" === 0), corpus, k = 3,
      planesPerTable = 4, tables = 4).collect().map(_.getLong(1))
    val lbl = Map(0L -> 7L, 1L -> 9L, 2L -> 9L, 3L -> 7L)
    val expect = nn.map(lbl).groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (l, n) => (-n, l) }.head
    val got = Similarity.knnClassify(semVecs.filter($"vec_id" === 0), corpus, labels,
      k = 3, planesPerTable = 4, tables = 4).head
    (got.getLong(1), got.getLong(2).toInt) shouldBe expect
  }
}
