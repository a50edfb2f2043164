package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{functions, AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GraftFunctions, Kernel, TheilSenMedians}
import graft.operators.Relational
import graft.pipeline.{Dedup, Sampling, TextAnalysis}

/** The compiled kernels on the batch board's hot paths answer exactly as
  * their reference forms: `graft_poly_hash` as the HOF fold
  * [[Dedup.polyHash]], and the Theil–Sen medians by selection as a median
  * read off `Arrays.sort`. Every scalar kernel answers the same through
  * generated code and through the interpreted (reflective) path. */
class CompiledKernelSpec extends SparkTestBase {
  import spark.implicits._

  private val seeds = Seq(0L, 1L, 7L, 99L, 123456789L, 1000000000000L, -3L)

  private def strings: Seq[String] = {
    val rnd = new Random(17)
    val pool = "abcxyz 019#_-éüßλЖ中文😀𐍈"
    val cps = pool.codePoints().toArray
    val random = (1 to 200).map { _ =>
      val n = rnd.nextInt(12)
      new String(Array.fill(n)(cps(rnd.nextInt(cps.length))), 0, n)
    }
    Seq(null, "", "0", "7", "12345", "9223372036854775807", "-42", "17#0", "17#31",
      "a", "the quick brown fox", "naïve café", "日本語", "😀", "x𝄞y") ++ random
  }

  private def withoutCodegen[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val old = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  "graft_poly_hash" should "equal the HOF polyHash on every string, seed and evaluation path" in {
    val df = strings.toDF("s")
    def check(): Unit = seeds.foreach { seed =>
      val rows = df.select(col("s"),
          GraftFunctions.polyHash(col("s"), 131L, seed).as("compiled"),
          Dedup.polyHash(col("s"), 131L, seed).as("hof"))
        .collect()
      rows.length shouldBe strings.size
      rows.foreach { r =>
        withClue(s"seed=$seed s=${Option(r.getString(0))}: ") { r.getLong(1) shouldBe r.getLong(2) }
      }
      // NULL hashes to the seed, as the HOF form does
      rows.filter(_.isNullAt(0)).map(_.getLong(1)) shouldBe Array(seed)
    }
    check()
    withoutCodegen(check())
    spark.sql("SELECT graft_poly_hash('17#3', 137, 11)").head().getLong(0) shouldBe
      spark.range(1).select(Dedup.polyHash(lit("17#3"), 137L, 11L)).head().getLong(0)
  }

  "Sampling.hashSample" should "keep the rows its HOF spelling keeps" in {
    val corpus = (0L until 600L).map(i => (i * 7919L - 3000L, s"doc $i")).toDF("doc_id", "text")
    for (seed <- Seq(7L, 99L); rate <- Seq(0.1, 0.37, 0.9)) {
      val hof = corpus.filter(pmod(Dedup.polyHash(col("doc_id").cast("string"), 131L, seed), lit(10000L))
        < lit(math.round(rate * 10000)))
      Sampling.hashSample(corpus, rate, seed).collect().toSet shouldBe hof.collect().toSet
    }
  }

  "Relational.bootstrapMeanSe" should "equal its HOF spelling bit for bit" in {
    val users = (1L to 300L).map(u => (u * 31L, (u * u * 37L) % 10007L)).toDF("user_id", "cents")
    for (seed <- Seq(7L, 42L)) {
      val got = Relational.bootstrapMeanSe(users, "user_id", "cents", seed = seed).head()
      val want = bootstrapHof(users, "user_id", "cents", 32, seed).head()
      got shouldBe want
      java.lang.Double.doubleToLongBits(got.getDouble(3)) shouldBe
        java.lang.Double.doubleToLongBits(want.getDouble(3))
    }
  }

  "TextAnalysis.watermarkScores" should "equal its HOF spelling" in {
    val rnd = new Random(5)
    val vocab = Seq("alpha", "beta", "gamma", "délta", "中文", "x", "12", "y#1")
    val docs = (1L to 80L).map(i => (i, Seq.fill(10 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" "))).toDF("doc_id", "text")
    for (seed <- Seq(7L, 3L)) {
      TextAnalysis.watermarkScores(docs, seed = seed).collect().toSet shouldBe
        watermarkHof(docs, seed).collect().toSet
    }
  }

  /** the operator with the sampling hash spelled as the HOF fold (the
    * form it ran before the compiled hash). */
  private def bootstrapHof(df: DataFrame, idCol: String, valueCol: String, replicas: Int, seed: Long): DataFrame = {
    val per = df.select(col(idCol).as("__id"), col(valueCol).cast("long").as("__x"))
      .groupBy(col("__id")).agg(sum(col("__x")).as("__x"))
    val pt = per.agg(count(lit(1)).as("n"), sum(col("__x")).as("__sx"))
    val h = pmod(Dedup.polyHash(concat_ws("#", col("__id"), col("__b")).cast("string"), 131L, seed), lit(10000L))
    val w = when(h < 3679L, 0L).when(h < 7358L, 1L).when(h < 9197L, 2L)
      .when(h < 9810L, 3L).when(h < 9963L, 4L).when(h < 9994L, 5L).otherwise(6L)
    val reps = per
      .select(col("__id"), col("__x"), explode(sequence(lit(0L), lit(replicas - 1L))).as("__b"))
      .withColumn("__w", w)
      .groupBy(col("__b"))
      .agg(sum(col("__w")).as("__sw"), sum((col("__w") * col("__x")).cast("decimal(38,0)")).as("__swx"))
      .filter(col("__sw") > 0L)
      .select(col("__b"), (col("__swx").cast("double") / col("__sw").cast("double")).as("__m"))
    val stats = reps
      .agg(array_sort(collect_list(struct(col("__b"), col("__m")))).as("__a"))
      .select(expr("transform(__a, q -> q.__m)").as("__ms"))
      .select(col("__ms"), functions.size(col("__ms")).cast("long").as("n_replicas"),
        expr("aggregate(__ms, CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("__sm"))
      .withColumn("__mbar", col("__sm") / col("n_replicas").cast("double"))
      .select(col("n_replicas"),
        when(col("n_replicas") > 1L,
          sqrt(expr("aggregate(transform(__ms, x -> (x - __mbar) * (x - __mbar)), " +
            "CAST(0.0 AS DOUBLE), (a, y) -> a + y)") / (col("n_replicas").cast("double") - 1.0))).as("__se"))
    pt.crossJoin(stats).select(col("n"),
      round(col("__sx").cast("double") / col("n").cast("double"), 6).as("mean"),
      col("n_replicas"), round(col("__se"), 6).as("boot_se"))
  }

  private def watermarkHof(df: DataFrame, seed: Long): DataFrame = {
    val ws = filter(split(col("text"), " "), w => functions.length(w) >= 1)
    val green = (acc: Column, w: Column) =>
      acc + when(pmod(Dedup.polyHash(w, 131L, seed), lit(2L)) === 0L, 1L).otherwise(0L)
    df.select(col("doc_id"), functions.size(ws).cast("long").as("n_tokens"), aggregate(ws, lit(0L), green).as("n_green"))
      .filter(col("n_tokens") >= 16L)
      .select(col("doc_id"), col("n_tokens"), col("n_green"),
        round(col("n_green").cast("double") / col("n_tokens").cast("double"), 6).as("green_frac"),
        round((lit(2.0) * col("n_green").cast("double") - col("n_tokens").cast("double"))
          / sqrt(col("n_tokens").cast("double")), 6).as("z"))
  }

  // ---- Theil–Sen medians by selection --------------------------------------

  /** the median as the kernel computed it before: read off a full sort. */
  private def sortedMedian(a: Array[Double]): Double = {
    val s = a.clone()
    java.util.Arrays.sort(s)
    val lo = (s.length - 1) / 2
    val hi = s.length / 2
    if (lo == hi) s(lo) / 1.0 else (s(lo) + s(hi)) / 2.0
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private val specials = Array(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, 1.0, -1.0)

  /** random values with ties, signed zeros, infinities and NaN. */
  private def values(rnd: Random, n: Int): Array[Double] = {
    val mode = rnd.nextInt(4)
    Array.fill(n) {
      mode match {
        case 0 => rnd.nextGaussian()
        case 1 => rnd.nextInt(5).toDouble - 2.0 // heavy ties
        case 2 => if (rnd.nextInt(4) == 0) specials(rnd.nextInt(specials.length)) else rnd.nextInt(3) - 1.0
        case _ => specials(rnd.nextInt(specials.length))
      }
    }
  }

  "TheilSenMedians.residMedian" should "select the sort median bit for bit" in {
    val rnd = new Random(11)
    for (n <- (1 to 40) ++ Seq(255, 256, 1001, 1024, 4096); _ <- 1 to 6) {
      val vs = values(rnd, n)
      // slope 0 over non-negative xs leaves every residual equal to its value
      val xs = Array.tabulate(n)(_.toLong)
      val got = TheilSenMedians.residMedian(ArrayData.toArrayData(xs), ArrayData.toArrayData(vs), 0.0)
      withClue(s"n=$n vs=${vs.take(12).mkString(",")}: ") { bits(got) shouldBe bits(sortedMedian(vs)) }
    }
  }

  "TheilSenMedians.slopesMedian" should "select the sort median of all pairwise slopes bit for bit" in {
    val rnd = new Random(23)
    for (n <- (2 to 30) ++ Seq(64, 65, 300); _ <- 1 to 4) {
      val xs = rnd.shuffle((0L until 4L * n).toVector).take(n).sorted.toArray
      val vs = values(rnd, n)
      val slopes = for (i <- 0 until n; j <- i + 1 until n) yield (vs(j) - vs(i)) / (xs(j) - xs(i)).toDouble
      val got = TheilSenMedians.slopesMedian(ArrayData.toArrayData(xs), ArrayData.toArrayData(vs))
      withClue(s"n=$n: ") { bits(got) shouldBe bits(sortedMedian(slopes.toArray)) }
    }
  }

  "graft_ts_slope_median" should "fail clearly past 4096 points or on a null element" in {
    def failure(sql: String): String = {
      val e = intercept[Exception](spark.range(1).selectExpr(sql).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }
    failure("graft_ts_slope_median(sequence(id, id + 4096L), " +
      "transform(sequence(id, id + 4096L), x -> CAST(x AS DOUBLE)))") should include("exceeds the maxPoints=4096")
    failure("graft_ts_slope_median(array(id, id + 1L, id + 2L), array(1.0D, CAST(NULL AS DOUBLE), 3.0D))") should
      include("null grid elements are unsupported")
    // at the bound it answers: 4096 collinear points have slope 2
    spark.range(1).selectExpr("graft_ts_slope_median(sequence(id, id + 4095L), " +
      "transform(sequence(id, id + 4095L), x -> CAST(2 * x AS DOUBLE)))").head().getDouble(0) shouldBe 2.0
  }

  "graft_min_eucl" should "let a finite distance displace a NaN best, as least() does" in {
    // center 0 is NaN away from every vector, center 1 is (3, 4)
    val cents = "array(CAST('NaN' AS DOUBLE), 0.0D, 3.0D, 4.0D)"
    val r = spark.range(3).selectExpr(
        s"graft_min_eucl(array(CAST(id AS DOUBLE), 0.0D), $cents, 2) AS k",
        "least(sqrt(pow(CAST(id AS DOUBLE) - CAST('NaN' AS DOUBLE), 2) + pow(0.0D, 2)), " +
          "sqrt(pow(CAST(id AS DOUBLE) - 3.0D, 2) + pow(0.0D - 4.0D, 2))) AS ref")
      .collect()
    r.map(_.getDouble(0)) shouldBe Array(5.0, math.sqrt(20.0), math.sqrt(17.0))
    r.foreach(row => row.getDouble(0) shouldBe row.getDouble(1))
  }

  // ---- every scalar kernel: generated code == interpreted path ------------

  private val aggregates = Set("graft_collect_capped", "graft_topk_sum", "graft_sole_latest")

  /** one call per scalar registry entry: `name(first<rest>)`; `bad` puts a
    * wrongly typed column in the first argument's place. */
  private case class Call(name: String, first: String, rest: String = "") {
    def sql: String = s"$name($first$rest)"
    def bad: String = s"$name(${if (Set("text", "word")(first)) "vd" else "text"}$rest)"
  }

  private val calls = Seq(
    Call("graft_dot", "vf", ", vd"),
    Call("graft_fold_sum", "vd"),
    Call("graft_sorted_intersect", "ls", ", ls2"),
    Call("graft_minhash", "ls", ", 8"),
    Call("graft_simhash", "ls"),
    Call("graft_shingles", "text", ", 3"),
    Call("graft_word_hashes", "text"),
    Call("graft_winnow", "text", ", 4, 3"),
    Call("graft_winnow_fps", "text", ", 4, 3"),
    Call("graft_cdc_chunks", "text", ", 3"),
    Call("graft_poly_hash", "text", ", 131, 7"),
    Call("graft_lsh_buckets", "vf", ", array(1.0D, -1.0D, 0.5D, 0.0D, 0.0D, 1.0D, -1.0D, 2.0D), 2, 4"),
    Call("graft_nearest_centroid", "vd", ", array(1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 1.0D, 1.0D, 0.0D), " +
      "array(1.0D, sqrt(2.0D)), 4"),
    Call("graft_min_eucl", "vf", ", array(1.0D, 0.0D, 0.0D, 0.0D, 0.0D, 1.0D, 1.0D, 0.0D), 4"),
    Call("graft_pq_encode", "vd", ", array(0.0D, 0.0D, 1.0D, 1.0D, -1.0D, 0.5D, 0.0D, 0.0D, 2.0D, -1.0D, " +
      "0.5D, 0.5D), 2, 2, 3"),
    Call("graft_rms_windows", "bin", ", 3"),
    Call("graft_blockhash", "bin", ", 4"),
    Call("graft_ts_slope_median", "xs", ", vs"),
    Call("graft_ts_resid_median", "xs", ", vs, slope"),
    Call("graft_int8_qsim", "vf", ", array(12.0D, -127.0D, 64.0D, 3.0D)"),
    Call("graft_bpe_apply", "word", ", array('a', 'ab'), array('b', 'c')"),
    Call("graft_bpe_pairs", "word", ", array('a', 'ab'), array('b', 'c')"),
    Call("graft_unit_snap", "vd"),
    Call("graft_char_bigrams", "word"),
    Call("graft_container_meta", "bin", ", 8"),
    Call("graft_av_container_meta", "bin"),
    Call("graft_gif_frames", "bin", ", 24"),
    Call("graft_tiff_meta", "bin", ", 16"),
    Call("graft_tiff_exif_meta", "bin", ", 8, 8"),
    Call("graft_png_chunks", "bin", ", 8"),
    Call("graft_zip_directory", "bin", ", 4"),
    Call("graft_tar_headers", "bin", ", 6"))

  /** the all-NULL row's answer where it is not NULL: the hash gives its
    * seed, a container decoder its raw-payload struct. */
  private val nullAnswers = Map(
    "graft_poly_hash"         -> "[0,7]",
    "graft_container_meta"    -> "[0,[raw,null,null,null,3]]",
    "graft_av_container_meta" -> "[0,[raw,null,-1,-1,-1,-1,-1,-1]]",
    "graft_gif_frames"        -> "[0,[raw,null,-1]]",
    "graft_tiff_meta"         -> "[0,[raw,null,-1,-1,-1,-1,-1,-1]]",
    "graft_tiff_exif_meta"    -> "[0,[raw,null,-1,-1,-1,-1,-1,-1]]",
    "graft_png_chunks"        -> "[0,[raw,null,-1,-1,null]]",
    "graft_zip_directory"     -> "[0,[raw,null,-1,-1,-1,null]]",
    "graft_tar_headers"       -> "[0,[raw,null,-1,-1,-1,null]]")

  /** seeded rows (vectors with null elements and short lengths, sorted
    * distinct id sets, byte payloads, Theil–Sen grids) plus one all-NULL
    * row, read back from parquet so no plan folds into a local relation. */
  private lazy val kernelInputs: DataFrame = {
    val rnd = new Random(31)
    val vocab = Seq("alpha", "beta", "gamma", "délta", "中文", "x", "12", "")
    def vec(f: Double => Any): Seq[Any] =
      Seq.fill(if (rnd.nextInt(6) == 0) 3 else 4)(if (rnd.nextInt(8) == 0) null else f(rnd.nextGaussian()))
    def ids: Seq[Long] = Seq.fill(rnd.nextInt(12))(rnd.nextInt(30).toLong).distinct.sorted
    val rows = (1 to 40).map { i =>
      val xs = Seq.fill(2 + rnd.nextInt(9))(rnd.nextInt(50).toLong).distinct.sorted
      Row(i.toLong, vec(_.toFloat), vec(identity), ids, ids,
        Seq.fill(1 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        Seq.fill(1 + rnd.nextInt(6))("abc".charAt(rnd.nextInt(3))).mkString,
        Array.fill(rnd.nextInt(20))(rnd.nextInt(256).toByte),
        xs, xs.map(_ => rnd.nextGaussian()), rnd.nextGaussian())
    } :+ Row.fromSeq(0L +: Seq.fill(10)(null))
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vf", ArrayType(FloatType)), StructField("vd", ArrayType(DoubleType)),
      StructField("ls", ArrayType(LongType)), StructField("ls2", ArrayType(LongType)),
      StructField("text", StringType), StructField("word", StringType), StructField("bin", BinaryType),
      StructField("xs", ArrayType(LongType)), StructField("vs", ArrayType(DoubleType)),
      StructField("slope", DoubleType)))
    val dir = Files.createTempDirectory("graft_kernels_").resolve("in").toString
    spark.createDataFrame(rows.asJava, schema).repartition(2).write.parquet(dir)
    spark.read.parquet(dir)
  }

  "every scalar kernel" should "answer the same with generated code and through the interpreted path" in {
    calls.foreach { c =>
      def run(): Seq[String] =
        kernelInputs.selectExpr("id", s"${c.sql} AS k").orderBy("id").collect().map(_.toString).toSeq
      val compiled = run()
      withClue(s"${c.sql}: ") {
        compiled.size shouldBe 41
        withoutCodegen(run()) shouldBe compiled
        // a NULL input gives NULL, except where nullAnswers lists it
        compiled.head shouldBe nullAnswers.getOrElse(c.name, "[0,null]")
        compiled.tail.count(!_.endsWith(",null]")) should be > 10
      }
    }
  }

  it should "fail at analysis on a wrongly typed column, naming the function" in {
    calls.foreach { c =>
      val e = intercept[AnalysisException](kernelInputs.selectExpr(c.bad))
      withClue(c.bad) { e.getMessage should include(s"${c.name} requires") }
    }
  }

  // ---- guard ---------------------------------------------------------------

  "the functions package" should "carry no hand-written codegen, and every scalar entry builds the wrapper" in {
    val dir = Paths.get("src/main/scala/graft/functions")
    val files = {
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    files.size should be > 5
    val codegen = "\\b(doGenCode|nullSafeCodeGen|defineCodeGen)\\b".r
    files.filter(p => codegen.findFirstIn(Files.readString(p)).isDefined).map(_.getFileName) shouldBe empty
    calls.map(_.name).toSet shouldBe GraftFunctions.registry.map(_._1).toSet -- aggregates
    // the session extension installs every function, in each new session too:
    // nothing registers them by hand
    Seq(spark, spark.newSession()).foreach { s =>
      GraftFunctions.registry.map(_._1).filterNot(s.catalog.functionExists) shouldBe empty
    }
    calls.foreach { c =>
      val built = kernelInputs.selectExpr(c.sql).queryExecution.analyzed.expressions.collect {
        case Alias(child, _) => child
      }
      withClue(c.sql) {
        built should have size 1
        built.head shouldBe a[Kernel]
        built.head.prettyName shouldBe c.name
      }
    }
  }


  "operator paths" should "call the compiled hash, not the HOF polyHash" in {
    // the HOF fold stays only as the reference form of these natives
    val referenceForms = Set("shingleSet", "wordHashes")
    val sources: Seq[Path] = {
      val walk = Files.walk(Paths.get("src/main"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    sources.size should be > 50
    val stripComments = "(?s)/\\*.*?\\*/|//[^\n]*".r
    val defName = "\\bdef\\s+(\\w+)".r
    val sites = sources.flatMap { p =>
      val text = stripComments.replaceAllIn(Files.readString(p), "")
      val call =
        if (p.getFileName.toString == "Dedup.scala") "(?<![\\w.])polyHash\\b".r
        else "\\bDedup\\s*\\.\\s*polyHash\\b".r
      call.findAllMatchIn(text).map(m => text.substring(0, m.start))
        .filterNot(_.matches("(?s).*\\bdef\\s+")) // its own definition
        .map(before => (p.getFileName.toString,
          defName.findAllMatchIn(before).map(_.group(1)).toSeq.lastOption.getOrElse("")))
    }
    sites.map(_._2).toSet shouldBe referenceForms
    sites.filterNot { case (file, owner) => file == "Dedup.scala" && referenceForms(owner) } shouldBe empty
  }
}
