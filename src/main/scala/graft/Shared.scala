package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One session-shared relation: the value of `build` memoized per
  * (session, dir, sub-key), plus how to release it and, optionally, the
  * gate whose timed row rebuilds it. Created through a [[Shared.Registry]],
  * which drives prebuild, release and builder-gate eviction for every
  * relation it holds. Most relations have one sub-key (`""`); a family
  * such as the media frames lists the sub-keys its prebuild builds.
  */
final class Shared[V] private (
    val name: String,
    val subKeys: Seq[String],
    val builderGate: Option[String],
    build: (SparkSession, String, String) => V,
    release: V => Unit,
    registry: Shared.Registry) {

  // one map per relation, never one map for all: builds call other
  // relations' getters, and a nested computeIfAbsent on the same
  // ConcurrentHashMap throws "Recursive update"
  private val memo = new ConcurrentHashMap[(SparkSession, String, String), V]()

  def apply(s: SparkSession, d: String): V = apply(s, d, "")

  def apply(s: SparkSession, d: String, sub: String): V = {
    val key = (s, d, sub)
    Option(memo.get(key)).getOrElse {
      registry.sweep()
      memo.computeIfAbsent(key, _ => build(s, d, sub))
    }
  }

  private[graft] def isCached(s: SparkSession, d: String): Boolean =
    memo.keySet.asScala.exists(k => k._1 == s && k._2 == d)

  /** Remove the entries of stopped sessions, without releasing them: a
    * stopped context has nothing left to unpersist. */
  private[graft] def sweep(stale: SparkSession => Boolean): Unit =
    memo.keySet.removeIf(k => stale(k._1))

  /** Remove every entry for `(s, d)`, THEN release each removed value; a
    * release that throws is returned and does not stop the rest. */
  private[graft] def drop(s: SparkSession, d: String): Seq[Shared.Failure] = {
    val removed = memo.keySet.asScala.filter(k => k._1 == s && k._2 == d).toSeq
      .flatMap(k => Option(memo.remove(k)))
    removed.flatMap { v =>
      try { release(v); None }
      catch { case NonFatal(e) => Some(Shared.Failure(name, e)) }
    }
  }
}

object Shared {

  /** One shared relation's prebuild: its build seconds, and the error if
    * the build threw. */
  final case class Prebuilt(name: String, seconds: Double, error: Option[String])

  /** A shared relation whose release threw. */
  final case class Failure(name: String, error: Throwable)

  /** persist + count: materialize once, so every consumer scans the cache. */
  def persisted(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** The ordered set of shared relations: declaration order is prebuild
    * order. A relation is declared once, through `frame`, `frames` or
    * `apply`, and everything else derives from the declaration. */
  class Registry {
    private var entries = Vector.empty[Shared[_]]

    def all: Seq[Shared[_]] = entries

    def apply[V](name: String, release: V => Unit, gate: Option[String] = None,
        subKeys: Seq[String] = Seq(""))(build: (SparkSession, String, String) => V): Shared[V] = {
      val e = new Shared[V](name, subKeys, gate, build, release, this)
      entries :+= e
      e
    }

    /** A DataFrame relation with one sub-key, released by unpersist. */
    def frame(name: String, gate: Option[String] = None)(
        build: (SparkSession, String) => DataFrame): Shared[DataFrame] =
      apply[DataFrame](name, _.unpersist(false), gate)((s, d, _) => build(s, d))

    /** A family of DataFrame relations, one per sub-key, released by unpersist. */
    def frames(name: String, subKeys: Seq[String])(
        build: (SparkSession, String, String) => DataFrame): Shared[DataFrame] =
      apply[DataFrame](name, _.unpersist(false), subKeys = subKeys)(build)

    /** Entries of a stopped session are dead weight: they pin the session
      * and its frames. Every build drops them from every relation. */
    protected def stale(s: SparkSession): Boolean = s.sparkContext.isStopped

    private[graft] def sweep(): Unit = entries.foreach(_.sweep(stale))

    /** Build every relation for `(s, d)`, in declaration order; a build
      * that throws does not stop the others, its entry carries the error. */
    def prebuild(s: SparkSession, d: String): Seq[Prebuilt] = entries.map { e =>
      val t0 = System.nanoTime()
      val error =
        try { e.subKeys.foreach(e(s, d, _)); None }
        catch { case NonFatal(x) => Some(String.valueOf(x.getMessage)) }
      Prebuilt(e.name, (System.nanoTime() - t0) / 1e9, error)
    }

    // dependents are declared after their inputs, so reverse order drops
    // a relation before the relation it was built from
    private def drop(of: Seq[Shared[_]], s: SparkSession, d: String): Seq[Failure] =
      of.reverse.flatMap(_.drop(s, d))

    /** Release every relation held for `(s, d)`. Every entry is removed
      * even when an unpersist throws; the failures are returned. */
    def release(s: SparkSession, d: String): Seq[Failure] = drop(entries, s, d)

    /** Evict the relations whose builder gate is `gate`, so the gate's next
      * getter call rebuilds them inside its timed row. Throws the first
      * release failure (the rest attached as suppressed) after evicting all. */
    def rebuild(gate: String, s: SparkSession, d: String): Unit =
      drop(entries.filter(_.builderGate.contains(gate)), s, d) match {
        case first +: rest =>
          rest.foreach(f => first.error.addSuppressed(f.error))
          throw first.error
        case _ => ()
      }

    /** builder gate -> the relations it rebuilds, joined with `+`. */
    def builderGates: Map[String, String] =
      entries.flatMap(e => e.builderGate.map(_ -> e.name)).groupMap(_._1)(_._2)
        .map { case (g, names) => g -> names.mkString("+") }
  }
}
