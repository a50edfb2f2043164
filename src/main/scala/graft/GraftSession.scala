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
 *  - no Spark UI, and a status store of [[RetainedStatusEntries]] finished
 *    SQL executions, jobs and stages (below)
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
 *
 * '''Status store.''' Spark records every SQL execution, job and stage in an
 * in-memory status store for its UI, keeping up to 1000 of each by
 * default. graft never starts that UI and nothing in graft reads the store,
 * so the retained entries only grew the live heap with the work done. The
 * store keeps the last [[RetainedStatusEntries]] finished entries of each
 * kind; running ones are never pruned.
 */
object GraftSession {

  /** Generated classes Spark's codegen cache retains (see the scaladoc). */
  val CodegenCacheEntries = 1000

  /** Finished SQL executions, jobs and stages the status store keeps. */
  val RetainedStatusEntries = 20

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", RetainedStatusEntries.toString)
      .config("spark.ui.retainedJobs", RetainedStatusEntries.toString)
      .config("spark.ui.retainedStages", RetainedStatusEntries.toString)

  /** local development/test session. */
  def local(cores: Int = 4): SparkSession = {
    val s = builder(cores).master(s"local[$cores]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
