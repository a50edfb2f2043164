package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(cpus.toInt)
      .master(s"local[$cpus]")
      // same local-mode AQE sizing as Bench (see the comment there)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration aid: SPARK_GRAFT_ONLY=a,b,c restricts the dump (and
    // the oracle json) to the named queries; unset = full gate, as the
    // driver runs it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    def keep(name: String) = only.forall(_.contains(name))
    // the per-query JVM health probes Bench prints too, plus the live
    // persisted RDDs
    import JvmProbes._
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      val t0  = System.nanoTime()
      val gc0 = gcMs
      val cg0 = codegenCompiles
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        // same 90 plans, same JVM as a bench session: release each query's
        // pipeline checkpoint blocks so the correctness gate can't slide
        // into the late-session degradation either
        graft.pipeline.Checkpoints.free(df)
        System.err.println(f"[verify] $name%-16s ${(System.nanoTime() - t0) / 1e9}%7.2f s  " +
          f"cc=${codeCacheMb}%3dMB gc+=${gcMs - gc0}%4dms cg+=${codegenCompiles - cg0}%3d rdds=${spark.sparkContext.getPersistentRDDs.size}%3d")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the auto-sized LSH oracles derive k/L from the live corpus count —
    // dump the count-aware map so they track the data at this SF
    val embCount = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val json = SparkEntry.oracleSqlFor(embCount)
      .filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
