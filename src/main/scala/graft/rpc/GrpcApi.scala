package graft.rpc

import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler}

import graft.GraftEngine
import graft.catalog.Coords
import graft.http.{LiveSub, SseSubscriber, SubscriptionHub}
import graft.plan.TimeContext
import graft.rpc.ProtoWire.{Reader, Writer}
import graft.rpc.RpcMessages._
import graft.security.GraftAuthProvider
import graft.sql.{Ast, SqlParser}

/**
 * The reference's gRPC wire surface (`nsdb-rpc/src/main/protobuf/
 * service.proto`, `health.proto`, `init.proto`, `restore.proto`,
 * `streaming.proto`), served over hand-rolled gRPC framing on Netty
 * HTTP/2 — the environment ships no grpc-java/protobuf-java, but gRPC is
 * exactly h2c + length-prefixed proto3 frames, both of which are
 * implementable from what IS here ([[ProtoWire]], netty-codec-http2).
 *
 * Protocol shape (gRPC over HTTP/2, plaintext prior-knowledge — what
 * grpc-java's `usePlaintext()` speaks):
 *  - request HEADERS carry `:path = /pkg.Service/Method`; DATA frames
 *    carry `[compressed:1][length:4 BE][message]` frames;
 *  - response = HEADERS (`:status 200`, `content-type application/grpc`)
 *    + DATA (framed messages; several for a server-stream) + trailers
 *    HEADERS (`grpc-status`, `grpc-message`, END_STREAM);
 *  - errors surface as `grpc-status` != 0 in the trailers (or a
 *    trailers-only response), never as HTTP errors.
 *
 * Service semantics mirror the reference endpoints
 * (`GrpcEndpointServiceSQL.scala`, `GrpcEndpointServiceCommand.scala`,
 * `GrpcEndpoint.scala`, `GrpcNSDbStreaming.scala`): InsertBit maps to the
 * warehouse write (fanning out to live subscribers like the HTTP write
 * path), executeSQLStatement parses + runs select/insert/delete with the
 * response field conventions of the reference (request db/namespace echo
 * on failure, `reason` carrying the error), the command verbs answer the
 * catalog, streamSQL registers a live subscription and pushes
 * `SubscribedByQueryString` (historical) then `RecordsPublished` frames.
 *
 * Authorization mirrors `GrpcAuthInterceptor.scala`: services marked
 * `isAuthorized` check at the level of the request's fields (db /
 * db+namespace / db+namespace+metric) with `writePermission = true`, the
 * payload drawn from the request headers via the provider's HTTP
 * extractor; Health and Restore are unauthenticated (their protos carry
 * no auth option). With [[GraftAuthProvider.AllowAll]] every call passes
 * (the HTTP surfaces' convention).
 */
class GrpcApi(
    engine: GraftEngine,
    port: Int = 0,
    maxResultRows: Int = 10000,
    queueCapacity: Int = 1000,
    refreshMs: Long = 100L,
    val hub: SubscriptionHub = new SubscriptionHub,
    auth: GraftAuthProvider = GraftAuthProvider.AllowAll
) {

  private var boss: NioEventLoopGroup   = _
  private var worker: NioEventLoopGroup = _
  private var server: Channel           = _
  private val quids                     = new AtomicLong(0L)
  private val ownSubs = new java.util.concurrent.CopyOnWriteArrayList[LiveSub]()

  def start(): Int = {
    boss = new NioEventLoopGroup(1)
    worker = new NioEventLoopGroup(2)
    val b = new ServerBootstrap()
      .group(boss, worker)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer().build(),
            new Http2MultiplexHandler(new ChannelInitializer[Channel] {
              override def initChannel(stream: Channel): Unit =
                stream.pipeline().addLast(new StreamHandler)
            }))
          ()
        }
      })
    server = b.bind("127.0.0.1", port).sync().channel()
    server.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = {
    ownSubs.forEach(l => l.sub.close())
    ownSubs.clear()
    if (server != null) Try(server.close().sync())
    if (boss != null) boss.shutdownGracefully(0, 100, java.util.concurrent.TimeUnit.MILLISECONDS)
    if (worker != null) worker.shutdownGracefully(0, 100, java.util.concurrent.TimeUnit.MILLISECONDS)
  }

  // ---- gRPC framing --------------------------------------------------------

  /** one length-prefixed gRPC message frame. */
  private def frame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0 // uncompressed
    out(1) = (msg.length >>> 24).toByte
    out(2) = (msg.length >>> 16).toByte
    out(3) = (msg.length >>> 8).toByte
    out(4) = msg.length.toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  private def deframeFirst(body: Array[Byte]): Array[Byte] = {
    require(body.length >= 5, "truncated gRPC frame")
    require(body(0) == 0, "compressed gRPC frames are not supported")
    val len = ((body(1) & 0xFF) << 24) | ((body(2) & 0xFF) << 16) | ((body(3) & 0xFF) << 8) | (body(4) & 0xFF)
    java.util.Arrays.copyOfRange(body, 5, 5 + len)
  }

  private def respHeaders(): DefaultHttp2Headers = {
    val h = new DefaultHttp2Headers()
    h.status("200")
    h.set("content-type", "application/grpc")
    h
  }

  private def trailers(status: Int, message: String = ""): DefaultHttp2Headers = {
    val t = new DefaultHttp2Headers()
    t.set("grpc-status", status.toString)
    if (message.nonEmpty)
      t.set("grpc-message", java.net.URLEncoder.encode(message, "UTF-8").replace("+", "%20"))
    t
  }

  // ---- per-stream handler ----------------------------------------------------

  private final class StreamHandler extends ChannelInboundHandlerAdapter {
    private var path: String                 = ""
    private var headers: Map[String, String] = Map.empty
    private val body                         = new java.io.ByteArrayOutputStream()
    private var live: LiveSub                = _ // streamSQL registration, if any

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
      case hf: Http2HeadersFrame =>
        path = Option(hf.headers.path()).map(_.toString).getOrElse("")
        headers = hf.headers.asScala.map(e => e.getKey.toString -> e.getValue.toString).toMap
        if (hf.isEndStream) dispatch(ctx)
      case df: Http2DataFrame =>
        val buf = df.content()
        val arr = new Array[Byte](buf.readableBytes())
        buf.readBytes(arr)
        buf.release()
        body.write(arr)
        if (df.isEndStream) dispatch(ctx)
      case other =>
        ctx.fireChannelRead(other)
        ()
    }

    override def channelInactive(ctx: ChannelHandlerContext): Unit = {
      if (live != null) { live.sub.close(); live = null }
      ctx.fireChannelInactive()
      ()
    }

    private def unary(ctx: ChannelHandlerContext, enc: Writer => Unit): Unit = {
      val w = new Writer
      enc(w)
      ctx.write(new DefaultHttp2HeadersFrame(respHeaders()))
      ctx.write(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(frame(w.result()))))
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers(0), true))
      ()
    }

    /** trailers-only gRPC error response (:status + content-type +
      * grpc-status in ONE END_STREAM headers frame — the shape grpc
      * clients expect for call-level failures). */
    private def fail(ctx: ChannelHandlerContext, status: Int, message: String): Unit = {
      val h = respHeaders()
      h.set("grpc-status", status.toString)
      if (message.nonEmpty)
        h.set("grpc-message", java.net.URLEncoder.encode(message, "UTF-8").replace("+", "%20"))
      ctx.writeAndFlush(new DefaultHttp2HeadersFrame(h, true))
      ()
    }

    private def payload: String = auth.extractHttpSecurityPayload(headers)

    /** reference interceptor contract: writePermission = true on every
      * authorized gRPC verb; AllowAll bypasses the empty-token rejection. */
    private def authorized(check: => graft.security.AuthResult): Option[String] =
      if (auth eq GraftAuthProvider.AllowAll) None
      else if (payload.trim.isEmpty) Some("missing security payload")
      else { val r = check; if (r.isDenied) Some(r.failReason) else None }

    // NOTE on the path literals: gRPC routes on the fully-qualified proto
    // service name, so wire compatibility with reference clients REQUIRES
    // the reference's public proto package (`package io.radicalbit.nsdb
    // .rpc` in nsdb-rpc/src/main/protobuf) verbatim — these strings are
    // the wire contract, exactly like an HTTP route path.
    private def dispatch(ctx: ChannelHandlerContext): Unit = {
      implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
      try path match {
        case "/io.radicalbit.nsdb.rpc.Health/Check" =>
          // mirrors HttpApi /health: engine up = SERVING (warehouse probe
          // is the HTTP surface's concern; reference returns SERVING)
          HealthCheckRequest.decode(new Reader(deframeFirst(body.toByteArray)))
          unary(ctx, HealthCheckResponse(ServingStatus.SERVING).encode)

        case "/io.radicalbit.nsdb.rpc.InitMetric/InitMetric" =>
          val req = InitMetricRequest.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkMetricAuth(req.db, req.namespace, req.metric, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason) // UNAUTHENTICATED
            case None =>
              val res = (for {
                si  <- parseDuration(req.shardInterval, engine.warehouse.map(_.DefaultShardIntervalMs).getOrElse(86400000L))
                ret <- parseDuration(req.retention, 0L)
                _   <- engine.initMetric(req.db, req.namespace, req.metric, si, ret)
              } yield ()) match {
                case Right(())   => InitMetricResponse(req.db, req.namespace, req.metric, completedSuccessfully = true)
                case Left(error) => InitMetricResponse(req.db, req.namespace, req.metric, completedSuccessfully = false, error)
              }
              unary(ctx, res.encode)
          }

        case "/io.radicalbit.nsdb.rpc.Restore/Restore" =>
          val req = RestoreRequest.decode(new Reader(deframeFirst(body.toByteArray)))
          val res = engine.warehouse.toRight("no warehouse attached").flatMap(_.restore(req.sourcePath)) match {
            case Right(_)    => RestoreResponse(completedSuccessfully = true, req.sourcePath)
            case Left(error) => RestoreResponse(completedSuccessfully = false, req.sourcePath, error)
          }
          unary(ctx, res.encode)

        case "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/InsertBit" =>
          val req = RpcInsert.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkMetricAuth(req.database, req.namespace, req.metric, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None =>
              val stmt = Ast.InsertStatement(
                req.database, req.namespace, req.metric,
                if (req.timestamp == 0L) None else Some(req.timestamp),
                req.dimensions.map { case (k, v) => k -> plain(v) },
                req.tags.map { case (k, v) => k -> plain(v) },
                plain(req.value))
              val res = engine.executeStatement(stmt) match {
                case Right(_) =>
                  hub.publish(Coords(stmt.db, stmt.namespace, stmt.metric), Map[String, Any](
                    "timestamp" -> stmt.timestamp.getOrElse(tc.currentTime), "value" -> plain(req.value)) ++
                    stmt.dimensions ++ stmt.tags)
                  RpcInsertResult(completedSuccessfully = true)
                case Left(error) => RpcInsertResult(completedSuccessfully = false, error)
              }
              unary(ctx, res.encode)
          }

        case "/io.radicalbit.nsdb.rpc.NSDBServiceSQL/executeSQLStatement" =>
          val req = SqlRequest.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkMetricAuth(req.db, req.namespace, req.metric, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None         => unary(ctx, executeSql(req).encode)
          }

        case "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showNamespaces" =>
          val req = ShowNamespaces.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkDbAuth(req.db, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None =>
              val res = engine.command(req.db, "", Ast.ShowNamespaces) match {
                case Right(rows) => Namespaces(req.db, rows.flatten, completedSuccessfully = true)
                case Left(error) => Namespaces(req.db, Seq.empty, completedSuccessfully = false, error)
              }
              unary(ctx, res.encode)
          }

        case "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/showMetrics" =>
          val req = ShowMetrics.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkNamespaceAuth(req.db, req.namespace, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None =>
              val res = engine.command(req.db, req.namespace, Ast.ShowMetrics) match {
                case Right(rows) => MetricsGot(req.db, req.namespace, rows.flatten, completedSuccessfully = true)
                case Left(error) => MetricsGot(req.db, req.namespace, Seq.empty, completedSuccessfully = false, error)
              }
              unary(ctx, res.encode)
          }

        case "/io.radicalbit.nsdb.rpc.NSDBServiceCommand/describeMetric" =>
          val req = DescribeMetric.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkMetricAuth(req.db, req.namespace, req.metric, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None =>
              val res = engine.command(req.db, req.namespace, Ast.DescribeMetric(req.metric)) match {
                case Right(rows) =>
                  val fields = rows.collect { case Seq(name, dataType, fieldClass) =>
                    MetricField(name, fieldClassType(fieldClass), dataType)
                  }
                  val info = engine.warehouse.flatMap(
                    _.metricInfo(graft.catalog.Coords(req.db, req.namespace, req.metric)))
                    .map { case (si, ret) => MetricInfo(si, ret) }
                  DescribeMetricResponse(req.db, req.namespace, req.metric, fields, info,
                    completedSuccessfully = true)
                case Left(error) =>
                  DescribeMetricResponse(req.db, req.namespace, req.metric, Seq.empty, None,
                    completedSuccessfully = false, error)
              }
              unary(ctx, res.encode)
          }

        case "/io.radicalbit.nsdb.rpc.NSDbStreaming/streamSQL" =>
          val req = SqlRequest.decode(new Reader(deframeFirst(body.toByteArray)))
          authorized(auth.checkMetricAuth(req.db, req.namespace, req.metric, payload, writePermission = true)) match {
            case Some(reason) => fail(ctx, 16, reason)
            case None         => streamSql(ctx, req)
          }

        case other =>
          fail(ctx, 12, s"unimplemented method $other") // UNIMPLEMENTED
      } catch {
        case t: Throwable => Try(fail(ctx, 13, Option(t.getMessage).getOrElse(t.getClass.getName))) // INTERNAL
      }
    }

    /** reference `GrpcNSDbStreaming`: subscribe answers the historical
      * records once, then every matching write pushes RecordsPublished —
      * the same [[SubscriptionHub]] the SSE/WS transports fan out
      * through, framed as gRPC stream messages instead of SSE events. */
    private def streamSql(ctx: ChannelHandlerContext, req: SqlRequest)(implicit tc: TimeContext): Unit = {
      SqlParser.parse(req.db, req.namespace, req.statement) match {
        case Right(sel: Ast.SelectStatement) if sel.groupBy.isEmpty =>
          val quid = java.util.UUID.nameUUIDFromBytes(
            s"${quids.incrementAndGet()}:${req.statement}".getBytes("UTF-8")).toString
          // any failure of the historical query is the subscriber's answer,
          // not a bare INTERNAL status the client's pump cannot surface
          val answer =
            try engine.executeStatement(sel).map(df =>
              df.limit(maxResultRows).collect().toSeq.map(rowToBit(df.columns, _, req)))
            catch { case NonFatal(e) => Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
          val historical = answer match {
            case Right(bits) => bits
            case Left(error) =>
              unary(ctx, SqlStreamingResponse(req.db, req.namespace, req.metric,
                SubscriptionFailed(req.statement, error)).encode)
              return
          }
          ctx.write(new DefaultHttp2HeadersFrame(respHeaders()))
          val sub0 = SqlStreamingResponse(req.db, req.namespace, req.metric,
            SubscribedByQueryString(quid, historical))
          val w0 = new Writer; sub0.encode(w0)
          ctx.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(frame(w0.result()))))
          // live pushes ride the hub: each matching record arrives as the
          // JSON the hub publishes; the frame fn wraps it as one gRPC
          // message, the subscriber's drain tick writes the batch as one
          // DATA frame (gRPC allows several length-prefixed messages per
          // frame)
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          lazy val sub: LiveSub = LiveSub(Coords(sel.db, sel.namespace, sel.metric), sel.where, new SseSubscriber(
            write = bytes => {
              if (ctx.channel().isActive)
                ctx.writeAndFlush(new DefaultHttp2DataFrame(Unpooled.wrappedBuffer(bytes)))
              ()
            },
            onDead = () => { hub.remove(sub); ownSubs.remove(sub); () },
            capacity = queueCapacity,
            refreshMs = refreshMs,
            frame = json => {
              val node = mapper.readTree(json)
              val fields = node.properties().asScala.map { e =>
                val v = e.getValue
                e.getKey -> (if (v.isIntegralNumber) LongValue(v.asLong())
                             else if (v.isNumber) DecimalValue(v.asDouble())
                             else StringValue(v.asText()): RpcValue)
              }.toMap
              val bit = RpcBit(
                fields.get("timestamp").collect { case LongValue(l) => l }.getOrElse(0L),
                fields.getOrElse("value", LongValue(0L)),
                dimensions = fields -- Seq("timestamp", "value") -- tagNames(req),
                tags = (fields -- Seq("timestamp", "value")).view.filterKeys(tagNames(req)).toMap)
              val w = new Writer
              SqlStreamingResponse(req.db, req.namespace, req.metric,
                RecordsPublished(quid, Seq(bit))).encode(w)
              frame(w.result())
            }))
          live = sub
          hub.add(sub)
          ownSubs.add(sub)
          ()
        case Right(_: Ast.SelectStatement) =>
          unary(ctx, SqlStreamingResponse(req.db, req.namespace, req.metric,
            SubscriptionFailed(req.statement, "only plain (non-aggregated) queries can be subscribed")).encode)
        case Right(_) =>
          unary(ctx, SqlStreamingResponse(req.db, req.namespace, req.metric,
            SubscriptionFailed(req.statement, "only select statements can be subscribed")).encode)
        case Left(error) =>
          unary(ctx, SqlStreamingResponse(req.db, req.namespace, req.metric,
            SubscriptionFailed(req.statement, error)).encode)
      }
    }

    /** reference `GrpcEndpointServiceSQL.executeSQLStatement` semantics:
      * select → records; insert → the inserted bit echoed; delete → empty
      * records; failures echo the REQUEST db/namespace with `reason`. */
    private def executeSql(req: SqlRequest)(implicit tc: TimeContext): SqlResponse =
      SqlParser.parse(req.db, req.namespace, req.statement) match {
        case Right(sel: Ast.SelectStatement) =>
          engine.executeStatement(sel) match {
            case Right(df) =>
              val rows = df.limit(maxResultRows).collect().toSeq
              SqlResponse(sel.db, sel.namespace, sel.metric, completedSuccessfully = true,
                records = rows.map(rowToBit(df.columns, _, req)))
            case Left(error) =>
              SqlResponse(req.db, req.namespace, "", completedSuccessfully = false, reason = error)
          }
        case Right(ins: Ast.InsertStatement) =>
          engine.executeStatement(ins) match {
            case Right(_) =>
              val bit = RpcBit(ins.timestamp.getOrElse(tc.currentTime), toRpcValue(ins.value),
                ins.dimensions.map { case (k, v) => k -> toRpcValue(v) },
                ins.tags.map { case (k, v) => k -> toRpcValue(v) })
              hub.publish(Coords(ins.db, ins.namespace, ins.metric), Map[String, Any](
                "timestamp" -> ins.timestamp.getOrElse(tc.currentTime), "value" -> ins.value) ++
                ins.dimensions ++ ins.tags)
              SqlResponse(ins.db, ins.namespace, ins.metric, completedSuccessfully = true, records = Seq(bit))
            case Left(error) =>
              SqlResponse(req.db, req.namespace, ins.metric, completedSuccessfully = false, reason = error)
          }
        case Right(del: Ast.DeleteStatement) =>
          engine.executeStatement(del) match {
            case Right(_) =>
              SqlResponse(del.db, del.namespace, del.metric, completedSuccessfully = true)
            case Left(error) =>
              SqlResponse(req.db, req.namespace, del.metric, completedSuccessfully = false, reason = error)
          }
        case Right(_) =>
          SqlResponse(req.db, req.namespace, "", completedSuccessfully = false,
            reason = "statement not supported on the SQL service")
        case Left(error) =>
          SqlResponse(req.db, req.namespace, "", completedSuccessfully = false, reason = error)
      }

    /** tag-classed column names of the request's metric — registry first,
      * then the warehouse catalog (empty when the metric is unknown —
      * then everything lands in dimensions). */
    private def tagNames(req: SqlRequest): Set[String] =
      engine.metricRef(req.db, req.namespace, req.metric).map(_.schema)
        .orElse(engine.warehouse.flatMap(
          _.read(graft.catalog.Coords(req.db, req.namespace, req.metric)).toOption).map(_.schema))
        .map(_.fields.collect { case (n, f) if f.fieldClass == graft.model.FieldClass.Tag => n }.toSet)
        .getOrElse(Set.empty)

    /** DataFrame row → wire Bit, the reference's `asGrpcBit` role: the
      * `timestamp`/`value` columns map to the Bit scalars (aggregate
      * results: the first numeric non-schema column is the value),
      * schema-tagged columns go to `tags`, everything else to
      * `dimensions`. */
    private def rowToBit(cols: Array[String], row: org.apache.spark.sql.Row, req: SqlRequest): RpcBit = {
      val tags = tagNames(req)
      var ts   = 0L
      var value: Option[RpcValue]     = None
      var dims: Map[String, RpcValue] = Map.empty
      var tgs: Map[String, RpcValue]  = Map.empty
      cols.zipWithIndex.foreach { case (name, i) =>
        val raw = if (row.isNullAt(i)) null else row.get(i)
        name match {
          case "timestamp" if raw != null => ts = row.getLong(i)
          case "value" if raw != null     => value = Some(toRpcValue(raw))
          case _ if raw == null           => // absent field: omitted from the bit
          case n if tags(n)               => tgs += n -> toRpcValue(raw)
          case n                          => dims += n -> toRpcValue(raw)
        }
      }
      // aggregate shapes (count/sum columns) have no `value` column — the
      // first numeric dimension-side column is the aggregate's value
      val v = value.orElse(dims.collectFirst { case (k, v: LongValue) => (k, v) }
          .orElse(dims.collectFirst { case (k, v: DecimalValue) => (k, v) })
          .map { case (k, v) => dims -= k; v })
        .getOrElse(LongValue(0L))
      RpcBit(ts, v, dims, tgs)
    }
  }

  private def toRpcValue(v: Any): RpcValue = v match {
    case l: Long                => LongValue(l)
    case i: Int                 => LongValue(i.toLong)
    case d: Double              => DecimalValue(d)
    case f: Float               => DecimalValue(f.toDouble)
    case d: java.math.BigDecimal => DecimalValue(d.doubleValue())
    case other                  => StringValue(String.valueOf(other))
  }

  private def plain(v: RpcValue): Any = v match {
    case LongValue(l)    => l
    case DecimalValue(d) => d
    case StringValue(s)  => s
  }

  private def fieldClassType(name: String): Int = name match {
    case "timestamp" => FieldClassType.TIMESTAMP
    case "value"     => FieldClassType.VALUE
    case "tag"       => FieldClassType.TAG
    case _           => FieldClassType.DIMENSION
  }

  /** reference InitMetricRequest durations are strings ("1d", "2 hours",
    * ""): empty → default, else scala Duration syntax. */
  private def parseDuration(s: String, dflt: Long): Either[String, Long] =
    if (s == null || s.trim.isEmpty) Right(dflt)
    else Try(scala.concurrent.duration.Duration(s.trim)).toOption
      .filter(_.isFinite)
      .map(d => Right(d.toMillis))
      .getOrElse(Left(s"invalid duration '$s'"))
}
