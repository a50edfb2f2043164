package graft.http

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.catalog.Coords
import graft.plan.TimeContext
import graft.sql.Ast

/** One live plain-query subscription: the metric it watches, the
  * registered predicate, and the subscriber's bounded event buffer (any
  * transport framing). */
final case class LiveSub(coords: Coords, pred: Option[Ast.Predicate], sub: SseSubscriber)

/**
 * Transport-independent live-subscription registry (the reference's
 * `PublisherActor` role, `nsdb-cluster/.../PublisherActor.scala`): SSE and
 * WebSocket transports register bounded subscribers here, and every write
 * fans out once through [[publish]] to the subscriptions on the written
 * metric, with per-record predicate matching.
 * Registration and fan-out are lock-free (copy-on-write list): `publish`
 * never blocks on subscriber health — each subscriber's own buffer absorbs
 * or evicts.
 */
final class SubscriptionHub {

  private val mapper = new ObjectMapper()
  private val subs   = new java.util.concurrent.CopyOnWriteArrayList[LiveSub]()

  def add(l: LiveSub): Unit    = { subs.add(l); () }
  def remove(l: LiveSub): Unit = { subs.remove(l); () }

  /** registered subscriber count (post-eviction) — observability. */
  def size: Int = subs.size()

  /** Enqueue the record an insert just wrote for every matching
    * subscription on its metric: `timestamp` (the write's time when the
    * statement names none), `value`, then its dimensions and tags — the one
    * published-record shape of every write path. Non-blocking: each
    * subscriber's [[SseSubscriber]] buffer absorbs the event and its own
    * flusher writes it out — a stalled client stalls only itself (and is
    * evicted on overflow), never the write path. */
  def publish(ins: Ast.InsertStatement)(implicit tc: TimeContext): Unit = {
    val c = Coords(ins.db, ins.namespace, ins.metric)
    fanOut(Map[String, Any]("timestamp" -> ins.timestamp.getOrElse(tc.currentTime), "value" -> ins.value) ++
      ins.dimensions ++ ins.tags)(_.coords == c)
  }

  /** Enqueue a record whose metric the writer does not name for every
    * matching subscription, whatever metric it watches — so subscriptions
    * on other metrics receive it too. Kept only for `perfbench/`'s
    * harness, which does not pass the metric yet; no write path of graft
    * uses it. */
  @deprecated("publish the insert statement: publish(ins)", "0.1")
  def publish(record: Map[String, Any]): Unit = fanOut(record)(_ => true)

  private def fanOut(record: Map[String, Any])(watches: LiveSub => Boolean): Unit = {
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    lazy val json = mapper.writeValueAsString(record.asJava)
    subs.forEach { s =>
      if (watches(s) && s.pred.forall(p => graft.exec.PredicateEval.matches(p, record, tc)))
        s.sub.offer(json)
    }
  }
}
