package graft

import graft.rpc.ProtoWire.{Reader, Writer}
import graft.rpc.RpcMessages._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Wire-level codec edges: varint boundaries, proto3 default elision,
  * oneof explicit presence, unknown-field skipping. Pure JVM — no Spark. */
class ProtoWireSpec extends AnyFlatSpec with Matchers {

  private def roundVarint(v: Long): Long = {
    val w = new Writer; w.varint(v)
    new Reader(w.result()).readVarint()
  }

  "ProtoWire varints" should "round-trip boundary values" in {
    Seq(0L, 1L, 127L, 128L, 300L, (1L << 32) - 1, 1L << 32, Long.MaxValue, -1L, Long.MinValue)
      .foreach(v => roundVarint(v) shouldBe v)
  }

  it should "elide proto3 defaults but keep oneof presence" in {
    val w = new Writer
    w.int64(1, 0L).string(2, "").bool(3, false)
    w.result() shouldBe Array.empty[Byte] // all defaults -> zero bytes
    val w2 = new Writer
    w2.int64Always(1, 0L).doubleAlways(2, 0.0)
    w2.result().length shouldBe (2 + 9) // explicit oneof cases survive
  }

  it should "skip unknown fields" in {
    val payload = {
      val ww = new Writer
      ww.int64(99, 42L)                                   // unknown varint field
      ww.bytes(97, Array[Byte](1, 2, 3))                  // unknown bytes field
      ww.doubleAlways(96, 1.25)                           // unknown fixed64 field
      ww.string(3, "kept")
      ww.result()
    }
    SqlRequest.decode(new Reader(payload)).metric shouldBe "kept"
  }

  "message codecs" should "round-trip the full Bit shape" in {
    val bit = RpcBit(-5L, DecimalValue(-0.0),
      Map("d1" -> LongValue(0L), "d2" -> StringValue("")),
      Map("t" -> DecimalValue(2.5)))
    val w = new Writer; bit.encode(w)
    RpcBit.decode(new Reader(w.result())) shouldBe bit
  }

  it should "round-trip the streaming oneof payloads" in {
    Seq[StreamPayload](
      SubscribedByQueryString("q-1", Seq(RpcBit(1L, LongValue(2L), Map.empty, Map.empty))),
      SubscriptionFailed("select x", "boom", "msg"),
      RecordsPublished("q-1", Seq.empty)
    ).foreach { p =>
      val m = SqlStreamingResponse("db", "ns", "m", p)
      val w = new Writer; m.encode(w)
      SqlStreamingResponse.decode(new Reader(w.result())) shouldBe m
    }
  }
}
