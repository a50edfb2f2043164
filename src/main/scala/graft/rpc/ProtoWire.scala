package graft.rpc

import java.nio.charset.StandardCharsets

/**
 * Minimal protobuf (proto3) wire codec — hand-rolled because the
 * environment ships no protobuf-java/grpc-java, only Netty. The wire
 * format is small and stable (varint tags, four wire types; spec:
 * developers.google.com/protocol-buffers/docs/encoding), and the
 * reference's message set (the `nsdb-rpc/src/main/protobuf` protos) uses
 * only scalars, strings, embedded messages, `repeated`, `oneof` and
 * `map<string, ...>` — all expressible with the three primitives here.
 *
 * Proto3 conventions honored by the encoders built on this: default
 * values (0, "", false) are NOT emitted; `oneof` emits exactly the set
 * case; maps are repeated embedded entries (key field 1, value field 2);
 * unknown fields are skipped on read (forward compatibility).
 */
object ProtoWire {

  final val WireVarint = 0
  final val WireFixed64 = 1
  final val WireBytes = 2
  final val WireFixed32 = 5

  // ---- writer ------------------------------------------------------------

  final class Writer {
    private var buf = new Array[Byte](64)
    private var n   = 0

    private def ensure(extra: Int): Unit =
      if (n + extra > buf.length) {
        var cap = buf.length * 2
        while (cap < n + extra) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }

    def raw(b: Array[Byte]): this.type = { ensure(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length; this }

    def varint(v: Long): this.type = {
      ensure(10)
      var x = v
      while ((x & ~0x7FL) != 0) { buf(n) = ((x & 0x7F) | 0x80).toByte; n += 1; x >>>= 7 }
      buf(n) = x.toByte; n += 1
      this
    }

    def tag(field: Int, wire: Int): this.type = varint((field.toLong << 3) | wire)

    /** int64/int32/bool/enum field — skipped at proto3 default (0). */
    def int64(field: Int, v: Long): this.type =
      if (v == 0L) this else { tag(field, WireVarint); varint(v) }

    /** bool field — skipped when false. */
    def bool(field: Int, v: Boolean): this.type = if (v) { tag(field, WireVarint); varint(1L) } else this

    /** like [[int64]] but ALWAYS emitted — oneof cases carry
      * explicit presence even at the default value. */
    def int64Always(field: Int, v: Long): this.type = { tag(field, WireVarint); varint(v) }
    def doubleAlways(field: Int, v: Double): this.type = {
      tag(field, WireFixed64); ensure(8)
      var bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { buf(n) = bits.toByte; bits >>>= 8; n += 1; i += 1 }
      this
    }

    def string(field: Int, v: String): this.type =
      if (v == null || v.isEmpty) this else bytes(field, v.getBytes(StandardCharsets.UTF_8))

    def stringAlways(field: Int, v: String): this.type =
      bytes(field, (if (v == null) "" else v).getBytes(StandardCharsets.UTF_8))

    def bytes(field: Int, v: Array[Byte]): this.type = {
      tag(field, WireBytes); varint(v.length.toLong); raw(v)
    }

    def messageAlways(field: Int, body: Writer => Unit): this.type = {
      val w = new Writer
      body(w)
      bytes(field, w.result())
    }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  // ---- reader ------------------------------------------------------------

  final class Reader(buf: Array[Byte], from: Int, to: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private var p = from

    def hasNext: Boolean = p < to

    def readVarint(): Long = {
      var shift = 0
      var out   = 0L
      while (true) {
        val b = buf(p); p += 1
        out |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return out
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("malformed varint")
      }
      out
    }

    /** next field tag → (fieldNumber, wireType). */
    def readTag(): (Int, Int) = {
      val t = readVarint()
      ((t >>> 3).toInt, (t & 7).toInt)
    }

    def readDouble(): Double = {
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (buf(p).toLong & 0xFF) << (8 * i); p += 1; i += 1 }
      java.lang.Double.longBitsToDouble(bits)
    }

    def readBytes(): Array[Byte] = {
      val len = readVarint().toInt
      val out = java.util.Arrays.copyOfRange(buf, p, p + len)
      p += len
      out
    }

    def readString(): String = new String(readBytes(), StandardCharsets.UTF_8)

    /** a sub-reader over an embedded message's span. */
    def readMessage(): Reader = {
      val len = readVarint().toInt
      val r   = new Reader(buf, p, p + len)
      p += len
      r
    }

    def skip(wire: Int): Unit = wire match {
      case WireVarint  => readVarint()
      case WireFixed64 => p += 8
      case WireBytes   =>
        // NOT `p += readVarint().toInt`: += reads the OLD p before the
        // varint advances it, silently losing the length prefix's bytes
        val len = readVarint().toInt
        p += len
      case WireFixed32 => p += 4
      case other       => throw new IllegalArgumentException(s"unsupported wire type $other")
    }
  }
}
