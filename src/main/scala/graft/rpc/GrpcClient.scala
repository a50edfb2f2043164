package graft.rpc

import java.util.concurrent.{BlockingQueue, LinkedBlockingQueue, TimeUnit}

import scala.util.Try

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler, Http2StreamChannelBootstrap}

import graft.rpc.ProtoWire.{Reader, Writer}
import graft.rpc.RpcMessages._

/**
 * Minimal blocking gRPC client over the same hand-rolled framing the
 * server speaks (plaintext prior-knowledge HTTP/2, one connection, one
 * stream per call) — the reference `GRPCClient.scala` verb surface:
 * `checkConnection` (health), `initMetric`, `write` (InsertBit),
 * `executeSQLStatement`, `showNamespaces`, `showMetrics`,
 * `describeMetric`, `restore`, plus `subscribe` for the streaming
 * service. Unary verbs block up to `timeoutMs`; `subscribe` hands every
 * streamed message to a callback as it arrives.
 */
class GrpcClient(host: String = "127.0.0.1", port: Int, timeoutMs: Long = 15000,
                 headers: Map[String, String] = Map.empty) {

  private val group = new NioEventLoopGroup(1)
  private val channel: Channel = new Bootstrap()
    .group(group)
    .channel(classOf[NioSocketChannel])
    .handler(new ChannelInitializer[SocketChannel] {
      override def initChannel(ch: SocketChannel): Unit = {
        ch.pipeline().addLast(
          Http2FrameCodecBuilder.forClient().build(),
          new Http2MultiplexHandler(new ChannelInitializer[Channel] {
            override def initChannel(c: Channel): Unit = () // server-pushed streams: none
          }))
        ()
      }
    })
    .connect(host, port).sync().channel()

  def close(): Unit = {
    Try(channel.close().sync())
    group.shutdownGracefully(0, 100, TimeUnit.MILLISECONDS)
    ()
  }

  /** one RPC's inbound frames: each complete length-prefixed message body
    * lands on the queue; `null` body signals trailers (call end). */
  private final class CallHandler(queue: BlockingQueue[AnyRef]) extends ChannelInboundHandlerAdapter {
    private val buf = new java.io.ByteArrayOutputStream()
    private def drain(): Unit = {
      val bytes = buf.toByteArray
      var off   = 0
      while (bytes.length - off >= 5) {
        val len = ((bytes(off + 1) & 0xFF) << 24) | ((bytes(off + 2) & 0xFF) << 16) |
          ((bytes(off + 3) & 0xFF) << 8) | (bytes(off + 4) & 0xFF)
        if (bytes.length - off - 5 < len) {
          buf.reset(); buf.write(bytes, off, bytes.length - off); return
        }
        queue.put(java.util.Arrays.copyOfRange(bytes, off + 5, off + 5 + len))
        off += 5 + len
      }
      buf.reset()
      if (off < bytes.length) buf.write(bytes, off, bytes.length - off)
    }
    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case hf: Http2HeadersFrame =>
        val st = Option(hf.headers.get("grpc-status")).map(_.toString)
        if (hf.isEndStream || st.exists(_ != "0")) queue.put(GrpcEnd(st.getOrElse("0")))
      case df: Http2DataFrame =>
        val b   = df.content()
        val arr = new Array[Byte](b.readableBytes())
        b.readBytes(arr); b.release()
        buf.write(arr); drain()
        if (df.isEndStream) queue.put(GrpcEnd("0"))
      case other => ctx.fireChannelRead(other); ()
    }
    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      queue.put(GrpcEnd("closed")); ctx.fireChannelInactive(); ()
    }
  }
  private case class GrpcEnd(status: String)

  private def open(path: String, queue: BlockingQueue[AnyRef]): Channel = {
    val stream = new Http2StreamChannelBootstrap(channel)
      .handler(new CallHandler(queue)).open().sync().getNow
    val h = new DefaultHttp2Headers()
    h.method("POST").scheme("http").path(path)
      .authority(s"$host:$port")
    h.set("content-type", "application/grpc")
    h.set("te", "trailers")
    headers.foreach { case (k, v) => h.set(k.toLowerCase, v) }
    stream.write(new DefaultHttp2HeadersFrame(h))
    stream
  }

  private def frame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0
    out(1) = (msg.length >>> 24).toByte; out(2) = (msg.length >>> 16).toByte
    out(3) = (msg.length >>> 8).toByte; out(4) = msg.length.toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  /** wire-conformance hook: POST an empty message to an arbitrary path and
    * report `(grpc-status, messages-received-before-end)` — lets a spec
    * assert a trailers-only error (non-zero status, ZERO data messages),
    * the shape real grpc clients require for call-level failures. */
  private[graft] def rawCall(path: String): (String, Int) = {
    val queue  = new LinkedBlockingQueue[AnyRef]()
    val stream = open(path, queue)
    stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(frame(Array.emptyByteArray)), true))
    var status   = "timeout"
    var messages = 0
    var done     = false
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!done) {
      val remaining = deadline - System.nanoTime()
      val item = if (remaining <= 0) null else queue.poll(remaining, TimeUnit.NANOSECONDS)
      item match {
        case null            => done = true
        case GrpcEnd(st)     => status = st; done = true
        case _: Array[Byte]  => messages += 1
      }
    }
    Try(stream.close())
    (status, messages)
  }

  /** one unary round trip; Left(grpc-status) on a non-OK call. */
  private def unary[A](path: String, enc: Writer => Unit, dec: Reader => A): Either[String, A] = {
    val queue  = new LinkedBlockingQueue[AnyRef]()
    val stream = open(path, queue)
    val w      = new Writer; enc(w)
    stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(frame(w.result())), true))
    var result: Either[String, A] = Left("no response")
    var done                      = false
    val deadline                  = System.nanoTime() + timeoutMs * 1000000L
    while (!done) {
      val remaining = deadline - System.nanoTime()
      val item = if (remaining <= 0) null else queue.poll(remaining, TimeUnit.NANOSECONDS)
      item match {
        case null                            => result = Left("timeout"); done = true
        case GrpcEnd("0")                    => done = true
        case GrpcEnd(status)                 => result = Left(s"grpc-status $status"); done = true
        case bytes: Array[Byte]              => result = Right(dec(new Reader(bytes)))
      }
    }
    Try(stream.close())
    result
  }

  // ---- reference GRPCClient verbs -------------------------------------------

  def checkConnection(): Either[String, HealthCheckResponse] =
    unary("/io.radicalbit.nsdb.rpc.Health/Check",
      HealthCheckRequest("").encode, HealthCheckResponse.decode)

  def initMetric(req: InitMetricRequest): Either[String, InitMetricResponse] =
    unary("/io.radicalbit.nsdb.rpc.InitMetric/InitMetric", req.encode, InitMetricResponse.decode)

  def write(req: RpcInsert): Either[String, RpcInsertResult] =
    unary("/io.radicalbit.nsdb.rpc.NSDBServiceSQL/InsertBit", req.encode, RpcInsertResult.decode)

  def executeSQLStatement(req: SqlRequest): Either[String, SqlResponse] =
    unary("/io.radicalbit.nsdb.rpc.NSDBServiceSQL/executeSQLStatement", req.encode, SqlResponse.decode)

  def showNamespaces(db: String): Either[String, Namespaces] =
    unary("/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showNamespaces",
      ShowNamespaces(db).encode, Namespaces.decode)

  def showMetrics(db: String, namespace: String): Either[String, MetricsGot] =
    unary("/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showMetrics",
      ShowMetrics(db, namespace).encode, MetricsGot.decode)

  def describeMetric(db: String, namespace: String, metric: String): Either[String, DescribeMetricResponse] =
    unary("/io.radicalbit.nsdb.rpc.NSDBServiceCommand/describeMetric",
      DescribeMetric(db, namespace, metric).encode, DescribeMetricResponse.decode)

  def restore(sourcePath: String): Either[String, RestoreResponse] =
    unary("/io.radicalbit.nsdb.rpc.Restore/Restore",
      RestoreRequest(sourcePath).encode, RestoreResponse.decode)

  /** server-streaming subscribe: `onMessage` fires per streamed response
    * (first `SubscribedByQueryString`, then `RecordsPublished` pushes);
    * returns a handle that cancels the stream. */
  def subscribe(req: SqlRequest)(onMessage: SqlStreamingResponse => Unit): AutoCloseable = {
    val queue  = new LinkedBlockingQueue[AnyRef]()
    val stream = open("/io.radicalbit.nsdb.rpc.NSDbStreaming/streamSQL", queue)
    val w      = new Writer; req.encode(w)
    stream.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(frame(w.result())), true))
    // closing the handle interrupts the pump; that ends it like a stream end
    val pump = new Thread(() => {
      var running = true
      try while (running) queue.take() match {
        case bytes: Array[Byte] => onMessage(SqlStreamingResponse.decode(new Reader(bytes)))
        case _: GrpcEnd         => running = false
        case _                  => running = false
      } catch { case _: InterruptedException => () }
    }, "graft-grpc-subscribe")
    pump.setDaemon(true)
    pump.start()
    () => { Try(stream.close()); pump.interrupt() }
  }
}
