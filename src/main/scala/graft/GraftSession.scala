package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place a graft `SparkSession` is configured. Every entry point
 * (Bench, Verify, ScaleBench, ScaleGen, PlanAudit, PlanDump, Cli, the spec
 * session) builds through [[builder]] and adds only its own overrides, so
 * the documented config is the benchmarked one. Encodes the tuning the
 * operators assume:
 *
 *  - shuffle partitions sized to the executor core count (the Spark default
 *    of 200 is wrong for small clusters and far too low at 100 TB — size to
 *    2–3× total cores in production)
 *  - AQE on (runtime coalescing + skew-join splitting)
 *  - session time zone UTC, so the NTZ→epoch casts match the oracle's
 *    naive-timestamp arithmetic
 *  - nanosecond parquet timestamps surfaced as longs (the engine's
 *    timestamp encoding is epoch millis in a long)
 *  - the native graft functions injected for every session incl. pure SQL
 *  - a generated-code cache of [[CodegenCacheEntries]] classes (below)
 *
 * '''Codegen cache.''' Spark keeps compiled generated classes in one
 * JVM-wide LRU whose size, `spark.sql.codegen.cache.maxEntries` (default
 * 100), is read ONCE, when `CodeGenerator` first loads. The events-only
 * bench board alone cycles through 222 distinct generated classes per pass,
 * so at 100 entries every pass missed the cache and recompiled ~160 classes
 * with Janino. 1000 entries hold that working set 4.5× over. A retained
 * entry (Java source key plus class bytes) measured ~43 KB, so the cap
 * bounds retained codegen heap at roughly 40–45 MB; it must stay bounded,
 * because generated code inlines literals and ad-hoc serving queries with
 * changing constants each add a one-off entry. Because the size is read on
 * first use, an application that built (and ran codegen on) its own session
 * before calling graft keeps that session's value.
 */
object GraftSession {

  /** Generated classes Spark's codegen cache retains (see the scaladoc). */
  val CodegenCacheEntries = 1000

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** local development/test session. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(cores).master(s"local[$cores]").config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
