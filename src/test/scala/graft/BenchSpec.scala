package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Bench run accounting: a failed run is recorded with its error and
  * rows = -1, and never enters a gate's floor. */
class BenchSpec extends AnyFlatSpec with Matchers {

  "Bench.timed" should "record a throwing gate as a failed run with rows = -1" in {
    val run = Bench.timed(throw new IllegalStateException("boom"))
    run.error shouldBe Some("boom")
    run.rows shouldBe -1L
    val ok = Bench.timed(42L)
    ok.rows shouldBe 42L
    ok.error shouldBe None
  }

  "Bench.GateRuns" should "never let a throwing gate set a floor" in {
    val g = new Bench.GateRuns
    g.record(Bench.timed(throw new RuntimeException("fast failure")))
    g.floor shouldBe None
    g.failed.map(_.rows) shouldBe Seq(-1L)
    g.record(Bench.Run(2.0, 10L, None))
    g.record(Bench.Run(0.001, -1L, Some("faster failure")))
    g.floor shouldBe Some(2.0)
    g.times shouldBe Seq(2.0)
    g.failed.flatMap(_.error) shouldBe Seq("fast failure", "faster failure")
  }
}
