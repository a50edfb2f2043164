package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.http.SseSubscriber

/** R8 backpressure parity (reference `StreamActor.scala:54,69-79`): the
  * publish path must never block on a slow client, and an overflowing
  * client is evicted instead of stalling ingest. */
class SseSubscriberSpec extends AnyFlatSpec with Matchers {

  "SseSubscriber" should "deliver offered events in batched drains" in {
    val got   = new java.util.concurrent.LinkedBlockingQueue[String]()
    val sub   = new SseSubscriber(
      write = b => got.add(new String(b, java.nio.charset.StandardCharsets.UTF_8)),
      onDead = () => (), capacity = 100, refreshMs = 10)
    sub.offer("""{"a":1}""")
    sub.offer("""{"a":2}""")
    val frame = got.poll(5, TimeUnit.SECONDS)
    frame should not be null
    // both events flushed, each SSE-framed
    val all = frame + Option(got.poll(1, TimeUnit.SECONDS)).getOrElse("")
    all should include("""data: {"a":1}""")
    all should include("""data: {"a":2}""")
    sub.close()
  }

  it should "never block the publisher on a stalled client and evict on overflow" in {
    val stall   = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    val deaths  = new AtomicInteger(0)
    val sub = new SseSubscriber(
      write = _ => { entered.countDown(); stall.await() }, // socket that never drains
      onDead = () => deaths.incrementAndGet(),
      capacity = 8, refreshMs = 5)
    // pin the flusher INSIDE the stalled write first — otherwise its
    // drainTo batch could absorb an arbitrary prefix of the offers below
    // and the queue would never overflow (was a ~1-in-3 flake under load)
    sub.offer("""{"i":0}""")
    entered.await(10, TimeUnit.SECONDS) shouldBe true
    val t0 = System.nanoTime()
    // flusher is stalled: 8 offers fill the buffer, the 9th overflows
    (1 to 9).foreach(i => sub.offer(s"""{"i":$i}"""))
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    elapsedMs should be < 2000.0 // offers returned immediately, no write-block
    sub.isClosed shouldBe true   // overflow evicted the subscriber
    deaths.get() shouldBe 1      // exactly one eviction callback
    // eviction is terminal: further offers are no-ops, no second death
    sub.offer("""{"late":true}""")
    deaths.get() shouldBe 1
    stall.countDown()
  }

  it should "evict exactly once when a write failure and an explicit close race" in {
    // the compareAndSet in close()/the flusher's finally is the only thing
    // standing between these two paths and a double onDead(); exercise both
    // orderings deterministically
    val deaths = new AtomicInteger(0)
    val sub = new SseSubscriber(
      write = _ => throw new RuntimeException("dead socket"),
      onDead = () => deaths.incrementAndGet(),
      capacity = 8, refreshMs = 5)
    sub.offer("""{"i":1}""")
    // flusher hits the write failure and evicts …
    val deadline = System.currentTimeMillis() + 5000
    while (deaths.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    deaths.get() shouldBe 1
    sub.isClosed shouldBe true
    // … and an explicit close() arriving afterwards must not evict again
    sub.close()
    deaths.get() shouldBe 1

    // reverse order: close() first, then interrupt-unwinding of a blocked
    // write — the flusher's finally must lose the CAS
    val stall   = new CountDownLatch(1)
    val deaths2 = new AtomicInteger(0)
    val sub2 = new SseSubscriber(
      write = _ => stall.await(), // close() interrupts this await
      onDead = () => deaths2.incrementAndGet(),
      capacity = 8, refreshMs = 5)
    sub2.offer("""{"i":1}""")
    Thread.sleep(50) // let the flusher enter the blocked write
    sub2.close()
    Thread.sleep(200) // let the flusher unwind through its finally
    deaths2.get() shouldBe 1
  }

  it should "count and log a dead socket's write failure, and let any other failure propagate" in {
    Uncaught.in("graft-sse-flusher") { thrown =>
      val before = SseSubscriber.deadSocketCount
      val deaths = new AtomicInteger(0)
      val dead = new SseSubscriber(
        write = _ => throw new java.io.IOException("Broken pipe"),
        onDead = () => deaths.incrementAndGet(), capacity = 8, refreshMs = 5)
      dead.offer("""{"i":1}""")
      val deadline = System.currentTimeMillis() + 5000
      while (deaths.get() == 0 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      deaths.get() shouldBe 1
      SseSubscriber.deadSocketCount shouldBe before + 1
      thrown.poll(200, TimeUnit.MILLISECONDS) shouldBe null

      // a failure that is not the socket's: still evicted exactly once, not
      // counted as a dead socket, and thrown out of the flusher
      val broken = new SseSubscriber(
        write = _ => throw new IllegalStateException("encoder bug"),
        onDead = () => deaths.incrementAndGet(), capacity = 8, refreshMs = 5)
      broken.offer("""{"i":2}""")
      val e = thrown.poll(5, TimeUnit.SECONDS)
      e shouldBe an[IllegalStateException]
      e.getMessage shouldBe "encoder bug"
      deaths.get() shouldBe 2
      broken.isClosed shouldBe true
      SseSubscriber.deadSocketCount shouldBe before + 1
    }
  }
}
