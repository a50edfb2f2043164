package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the scale-probe harness
  * (`ScaleBench`): replicates the four FACT tables of a base sfDir
  * `factor`× with per-replica perturbations, writing a complete sfDir
  * (dimension tables pass through 1×, like a real warehouse whose dims
  * don't grow with traffic).
  *
  * The perturbations are chosen so the probe's growth stays HONEST —
  * replicas neither collapse into exact duplicates (which would let
  * dedup/ANN shortcuts hide superlinear cost) nor create cross-replica
  * near-duplicate structure (which would make candidate-pair volume grow
  * quadratically in `factor` and contaminate a linearity measurement):
  *
  *  - documents: `doc_id += r·10^7` (offset ≡ 0 mod 10/997 keeps the
  *    id-derived splits proportional); every WORD of a replica-r>0 text
  *    gets a `~r` suffix, so within-replica near-dup pairs are preserved
  *    verbatim (both members transform identically → shingle sets shift
  *    together) while cross-replica Jaccard collapses to ≈0 (no shared
  *    shingles) — duplicate structure scales linearly by construction.
  *    `n_chars` is recomputed from the perturbed text.
  *  - embeddings: `vec_id += r·10^6` (≡ 0 mod 50 keeps the query-set
  *    fraction constant); each component nudges by a deterministic
  *    `0.03·sin(vec_id·7919 + dim·104729 + r·15485863)` — replicas stay in
  *    the same cluster neighborhoods (IVF/LSH bucket balance preserved)
  *    but are never bit-identical (no exact-tie top-k degeneracy).
  *  - lineitem: `l_orderkey += r·10^8` — per-order basket composition is
  *    preserved exactly (the pair fan-out per order is unchanged; pair
  *    SUPPORT grows linearly), part/supplier keys untouched.
  *  - events: `event_id += r·10^9`, `user_id += r·10^7`; `ts` unchanged —
  *    the "more traffic over the same window" shape, so time-bucketed
  *    aggregates see constant bucket counts with linearly growing rows.
  *
  * Usage: `runMain graft.ScaleGen <baseSfDir> <outDir> <factor>`
  */
object ScaleGen {

  /** word-tag perturbation: replica 0 is the base corpus verbatim. */
  private def scaleDocuments(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else {
        val tagged = array_join(
          transform(split(col("text"), " "), w => concat(w, lit(s"~$r"))), " ")
        df.select((col("doc_id") + lit(r * 10000000L)).as("doc_id"),
          tagged.as("text"), col("lang"), col("source"),
          length(tagged).cast("long").as("n_chars"))
      }
    }.reduce(_ unionByName _)

  private def scaleEmbeddings(df: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else {
        val vid = col("vec_id") + lit(r * 1000000L)
        df.select(vid.as("vec_id"),
          zip_with(col("embedding"),
            sequence(lit(0), size(col("embedding")) - 1),
            (x, i) => (x.cast("double") +
              lit(0.03) * sin(vid.cast("double") * 7919.0 + i.cast("double") * 104729.0
                + lit(r * 15485863.0))).cast("float")).as("embedding"),
          col("label"))
      }
    }.reduce(_ unionByName _)

  private def scaleByOffsets(df: DataFrame, factor: Int, offsets: Map[String, Long]): DataFrame =
    (0 until factor).map { r =>
      if (r == 0) df
      else df.select(df.columns.map { c =>
        offsets.get(c) match {
          case Some(step) => (col(c) + lit(r * step)).as(c)
          case None       => col(c)
        }
      }.toSeq: _*)
    }.reduce(_ unionByName _)

  private val passThrough =
    Seq("region", "nation", "customer", "supplier", "part", "orders")

  def generate(spark: SparkSession, baseDir: String, outDir: String, factor: Int): Unit = {
    require(factor >= 1, "factor must be >= 1")
    def read(t: String)  = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(t: String, df: DataFrame): Unit = {
      // a handful of files per table: the probe should exercise multi-split
      // scans, not a single-file scan that hides partitioned-read behavior
      val parts = math.min(32, math.max(4, factor * 2))
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
    write("documents", scaleDocuments(read("documents"), factor))
    write("embeddings", scaleEmbeddings(read("embeddings"), factor))
    write("lineitem", scaleByOffsets(read("lineitem"), factor,
      Map("l_orderkey" -> 100000000L)))
    write("events", scaleByOffsets(read("events"), factor,
      Map("event_id" -> 1000000000L, "user_id" -> 10000000L)))
    passThrough.foreach(t => write(t, read(t)))
  }

  def main(args: Array[String]): Unit = {
    val Array(baseDir, outDir, factorStr) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, baseDir, outDir, factorStr.toInt)
    spark.stop()
  }
}
