package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** JVM health probes Bench prints per timed run and Verify per query (the
  * `cc= meta= gc+= cg+=` stderr fields): a 100+-plan single-JVM sweep is
  * the session shape that once collapsed late queries 20-50x, and these
  * attribute such a cliff without a rerun. */
object JvmProbes {

  private def poolsUsedMb(name: String => Boolean): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p => name(p.getName)).map(_.getUsage.getUsed).sum >> 20

  /** code cache in use, MB (the segmented cache's CodeHeap pools). */
  def codeCacheMb: Long = poolsUsedMb(_.contains("CodeHeap"))

  /** metaspace in use, MB. */
  def metaspaceMb: Long = poolsUsedMb(_ == "Metaspace")

  /** GC time so far, summed over the collectors, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** generated classes compiled so far (JVM-wide; a codegen cache hit adds none). */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
