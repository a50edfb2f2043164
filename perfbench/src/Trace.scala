package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `rid` ties the spans of one request (or
  * gate) together; `parent` is the id of the enclosing span, -1 at the top. */
final case class Span(id: Int, name: String, rid: String, parent: Int, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans nest per thread; nothing is written out
  * until [[Spans.all]] is read at the end of the run. */
object Spans {
  private val ids   = new AtomicInteger()
  private val done  = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Int, String)]](() => Nil)

  def apply[T](name: String, rid: String)(body: => T): T = {
    val id     = ids.incrementAndGet()
    val parent = stack.get.headOption.map(_._1).getOrElse(-1)
    stack.set((id, name) :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, name, rid, parent, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  def all: Seq[Span] = done.asScala.toSeq

  /** Self time of every span: its duration minus the time its (sequential)
    * children cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }
}

/** Spark work attributed to one job group (a request or gate id). */
final class Counters {
  val jobs, stages, tasks                     = new AtomicLong()
  val runMs, cpuNs                            = new AtomicLong()
  val shuffleBytes, spillBytes                = new AtomicLong()
  /** [launch, finish] wall-clock ms of every task. */
  val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]()
}

/**
 * Listener that attributes jobs, stages and tasks to the job group their
 * job was submitted under (the benchmark sets one group per request or
 * gate). Work submitted without a group (the HTTP server's own threads)
 * lands under [[NoGroup]].
 */
final class TraceListener extends SparkListener {
  val byGroup     = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val openJobs   = new AtomicInteger()
  @volatile private var lastEventMs = System.currentTimeMillis()

  def counters(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(TraceListener.NoGroup)
    e.stageIds.foreach(stageGroup.put(_, group))
    counters(group).jobs.incrementAndGet()
    openJobs.incrementAndGet()
    lastEventMs = System.currentTimeMillis()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    openJobs.decrementAndGet()
    lastEventMs = System.currentTimeMillis()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    counters(stageGroup.getOrDefault(e.stageInfo.stageId, TraceListener.NoGroup)).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageGroup.getOrDefault(e.stageId, TraceListener.NoGroup))
    c.tasks.incrementAndGet()
    c.taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    lastEventMs = System.currentTimeMillis()
  }

  /** Waits until every started job has ended and the bus has been quiet for
    * a moment, so the counters are complete. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < until &&
      (openJobs.get > 0 || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }
}

object TraceListener {
  val NoGroup = "-"

  /** Length of the union of `spans` clipped to [lo, hi] (wall-clock ms). */
  def covered(spans: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var end   = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { total += b - a; end = b }
      else if (b > end) { total += b - end; end = b }
    }
    total
  }
}

/** JVM-level counters for the per-layer report. */
object Jvm {
  import java.lang.management.ManagementFactory

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use after a full collection. */
  def heapLiveMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Percentile helpers shared by the per-layer report. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s   = xs.sorted
      val pos = p / 100.0 * (s.size - 1)
      val lo  = math.floor(pos).toInt
      val hi  = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def median(xs: Seq[Double]): Double = pct(xs, 50)

}
