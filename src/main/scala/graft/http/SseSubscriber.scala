package graft.http

import java.nio.charset.StandardCharsets
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

/**
 * Bounded per-client SSE event buffer with a periodic drain — the
 * reference's per-client `StreamActor` semantics
 * (`nsdb-http/.../actor/StreamActor.scala:54,69-79`): published records
 * accumulate in a bounded buffer that a scheduler drains every
 * `refresh_period`; a client that cannot keep up overflows the buffer and
 * is evicted instead of back-pressuring the publisher.
 *
 * `offer` never blocks — ingest latency is independent of subscriber
 * socket health. Each subscriber owns one daemon flusher thread (the
 * actor's message loop); a stalled socket blocks only its own thread
 * until overflow eviction closes it.
 */
final class SseSubscriber(
    write: Array[Byte] => Unit,
    onDead: () => Unit,
    capacity: Int,
    refreshMs: Long,
    frame: String => Array[Byte] = SseSubscriber.sseFrame
) {

  private val queue  = new LinkedBlockingQueue[String](capacity)
  // single-owner close state: compareAndSet decides which racing path
  // (overflow close, explicit close, flusher write failure) gets to fire
  // onDead(), so eviction happens exactly once
  private val closed = new java.util.concurrent.atomic.AtomicBoolean(false)

  def isClosed: Boolean = closed.get

  /** Enqueue one JSON event. Non-blocking: a full buffer (stalled or
    * too-slow client) evicts the subscriber, reference behavior. */
  def offer(json: String): Unit =
    if (!closed.get && !queue.offer(json)) close()

  def close(): Unit = {
    val first = closed.compareAndSet(false, true)
    flusher.interrupt()
    if (first) onDead()
  }

  // one drain per refresh tick: every queued event goes out in a single
  // socket write (SSE framing per event), not one write per record
  private val flusher = new Thread(() => {
    try {
      while (!closed.get) {
        val first = queue.poll(refreshMs, TimeUnit.MILLISECONDS)
        if (first != null) {
          val batch = new java.util.ArrayList[String]()
          batch.add(first)
          queue.drainTo(batch)
          val buf = new java.io.ByteArrayOutputStream()
          batch.forEach(j => buf.write(frame(j)))
          write(buf.toByteArray)
        }
      }
    } catch {
      case _: InterruptedException => () // close() requested
      case e: java.io.IOException =>      // dead socket
        SseSubscriber.deadSockets.incrementAndGet()
        System.err.println(s"[graft-sse] subscriber evicted: write failed: ${e.getMessage}")
    } finally {
      if (closed.compareAndSet(false, true)) onDead()
    }
  }, "graft-sse-flusher")
  flusher.setDaemon(true)
  flusher.start()
}

object SseSubscriber {
  private val deadSockets = new java.util.concurrent.atomic.AtomicLong()

  /** subscribers evicted because a write to their socket failed (logged
    * one by one). Any other failure of a flusher propagates. */
  def deadSocketCount: Long = deadSockets.get()

  /** default per-event framing: SSE. The WS transport passes a text-frame
    * encoder instead — buffer/drain/eviction semantics are shared. */
  val sseFrame: String => Array[Byte] =
    j => s"data: $j\n\n".getBytes(StandardCharsets.UTF_8)
}
