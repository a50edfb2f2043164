package graft.http

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.Base64

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper

import graft.GraftEngine
import graft.catalog.Coords
import graft.plan.TimeContext
import graft.security.GraftAuthProvider
import graft.sql.{Ast, SqlParser}

/**
 * WebSocket pub/sub transport — wire-protocol parity with the reference's
 * `ws-stream` endpoint (`nsdb-http/.../WsResources.scala:138-160`,
 * `actor/StreamActor.scala:84-111`): a client connects, sends a
 * RegisterQuery-shaped JSON text message
 *
 *   `{"db":"db","namespace":"ns","queryString":"select …","refreshMs":500}`
 *
 * and receives `{"subscribed":…}` (or `{"error":…}`), one
 * `{"historical":[…],"truncated":…}` snapshot, then one JSON message per
 * future matching record — the same subscribe semantics the SSE transport
 * serves, over RFC 6455 frames. Aggregated (group-by) queries re-push
 * `{"records":[…],"truncated":…}` periodically (R6), mirroring [[HttpApi]].
 *
 * Subscriptions register in the SAME [[SubscriptionHub]] as the SSE
 * transport, so a write through `POST /data` fans out to both. Each WS
 * subscriber reuses the bounded-buffer/eviction machinery
 * ([[SseSubscriber]]) with a text-frame encoder, so backpressure semantics
 * (never block the write path; evict on overflow) are identical.
 *
 * The server is a plain loopback socket loop (RFC 6455 handshake +
 * server-side frame codec, text/ping/close opcodes) — the JDK has a WS
 * client but no WS server, and this stays dependency-free.
 *
 * Authorization: a register message runs the metric-scope
 * [[GraftAuthProvider]] check first, with the security payload distilled
 * from the handshake's offered subprotocols (the reference's
 * token-in-`Sec-WebSocket-Protocol` convention, `WsResources.scala:89-101`);
 * a deny answers `{"error":"not authorized …"}` and registers nothing —
 * after the upgrade there is no 403 to send.
 *
 * Beyond subscriptions, a text message `{"db":…,"namespace":…,
 * "explain":"select …"}` answers with the planner's verdict
 * (`{"plan":[{"property":…,"value":…},…]}`) without executing — the same
 * EXPLAIN surface the REST commands route serves.
 */
class WsApi(
    engine: GraftEngine,
    hub: SubscriptionHub,
    port: Int = 0,
    maxResultRows: Int = 10000,
    queueCapacity: Int = 1000,
    defaultRefreshMs: Long = 100L,
    auth: GraftAuthProvider = GraftAuthProvider.AllowAll
) {

  private val mapper = new ObjectMapper()
  private var server: ServerSocket = _
  @volatile private var running = false

  /** everything this transport must shut down: its hub registrations,
    * periodic schedulers, and open sockets. */
  private val owned = new java.util.concurrent.CopyOnWriteArrayList[AutoCloseable]()

  private val pool = java.util.concurrent.Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-ws"); t.setDaemon(true); t
  })

  def start(): Int = {
    server = new ServerSocket(port, 50, InetAddress.getLoopbackAddress)
    running = true
    pool.execute(() =>
      while (running && !server.isClosed)
        try { val s = server.accept(); pool.execute(() => handle(s)) }
        catch {
          // stop() closed the server socket under accept(): the loop's end
          case e: java.net.SocketException if server.isClosed => socketClosed("accept", e)
        }
    )
    server.getLocalPort
  }

  def stop(): Unit = {
    running = false
    Try(server.close())
    owned.forEach(h => Try(h.close()))
    owned.clear()
    pool.shutdownNow()
    ()
  }

  /** tracked subscriber/scheduler/socket count — observability for specs. */
  def ownedCount: Int = owned.size()

  private val closedSockets = new java.util.concurrent.atomic.AtomicLong()

  /** closed or dead-socket exceptions this transport caught and logged: the
    * accept loop's end at [[stop]], and connections that died under a read or
    * write. Any other failure propagates. */
  def closedSocketCount: Long = closedSockets.get()

  private def socketClosed(where: String, e: java.io.IOException): Unit = {
    closedSockets.incrementAndGet()
    System.err.println(s"[graft-ws] $where: socket closed: ${e.getMessage}")
  }

  // ---- connection lifecycle ----------------------------------------------

  private def handle(sock: Socket): Unit = {
    val in  = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new BufferedOutputStream(sock.getOutputStream)
    val writeLock = new Object
    def rawWrite(bytes: Array[Byte]): Unit =
      writeLock.synchronized { out.write(bytes); out.flush() }
    def sendText(payload: String): Unit =
      rawWrite(WsApi.frame(0x1, payload.getBytes(StandardCharsets.UTF_8)))

    // per-connection cleanup set: hub registrations + periodic handles
    val mine = new java.util.concurrent.CopyOnWriteArrayList[AutoCloseable]()
    def closeConn(): Unit = {
      mine.forEach { h => Try(h.close()); owned.remove(h); () }
      mine.clear()
      Try(sock.close())
      ()
    }

    try {
      val subProtocols = handshake(in, out) match {
        case None        => Try(sock.close()); return
        case Some(protos) => protos
      }
      val sockCloser: AutoCloseable = () => Try(sock.close())
      owned.add(sockCloser); mine.add(sockCloser)
      var open = true
      while (open)
        WsApi.readFrame(in) match {
          case None => open = false // EOF / oversized / protocol error
          case Some((0x8, _)) =>    // close: echo and finish
            Try(rawWrite(WsApi.frame(0x8, Array.emptyByteArray)))
            open = false
          case Some((0x9, payload)) => rawWrite(WsApi.frame(0xA, payload)) // ping → pong
          case Some((0x1, payload)) =>
            subscribe(new String(payload, StandardCharsets.UTF_8), sendText, rawWrite, closeConn, mine,
              subProtocols)
          case Some(_) => () // binary/pong/continuation: ignored
        }
    } catch { case e: java.io.IOException => socketClosed("connection", e) } // dead socket
    finally closeConn()
  }

  /** RFC 6455 opening handshake: HTTP/1.1 Upgrade on any path. Returns the
    * client's offered subprotocols (`Sec-WebSocket-Protocol`, the auth
    * payload channel) on success, `None` on a failed handshake. The first
    * offered subprotocol is echoed as accepted — required by RFC 6455 §4.2.2
    * for the browser client to keep the connection open. */
  private def handshake(in: DataInputStream, out: OutputStream): Option[List[String]] = {
    val head = new java.lang.StringBuilder
    while (head.length < 4 || head.substring(head.length - 4) != "\r\n\r\n") {
      val b = in.read()
      if (b < 0 || head.length > 16384) return None
      head.append(b.toChar)
    }
    val headers = head.toString.split("\r\n").drop(1).collect {
      case l if l.contains(":") =>
        val Array(k, v) = l.split(":", 2)
        // ROOT locale, like the REST surface: locale-sensitive lowering
        // would corrupt header names on e.g. Turkish-locale JVMs
        k.trim.toLowerCase(java.util.Locale.ROOT) -> v.trim
    }.toMap
    val key = headers.get("sec-websocket-key")
    if (!headers.get("upgrade").exists(_.equalsIgnoreCase("websocket")) || key.isEmpty) {
      out.write("HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n".getBytes(StandardCharsets.UTF_8))
      out.flush()
      None
    } else {
      val protos = headers.get("sec-websocket-protocol").toList
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val accept = Base64.getEncoder.encodeToString(
        java.security.MessageDigest.getInstance("SHA-1")
          .digest((key.get + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(StandardCharsets.UTF_8)))
      out.write(
        ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: $accept\r\n" +
          protos.headOption.fold("")(p => s"Sec-WebSocket-Protocol: $p\r\n") +
          "\r\n").getBytes(StandardCharsets.UTF_8))
      out.flush()
      Some(protos)
    }
  }

  // ---- subscription protocol ---------------------------------------------

  private def subscribe(
      json: String,
      sendText: String => Unit,
      rawWrite: Array[Byte] => Unit,
      closeConn: () => Unit,
      mine: java.util.concurrent.CopyOnWriteArrayList[AutoCloseable],
      subProtocols: List[String]
  ): Unit = {
    def err(msg: String): Unit = sendText(s"""{"error":${mapper.writeValueAsString(msg)}}""")
    val req = Try(mapper.readTree(json)).getOrElse { err("malformed subscription"); return }
    val db  = req.path("db").asText("default")
    val ns  = req.path("namespace").asText("default")
    // EXPLAIN message: the planner's verdict, no execution, no registration
    // (REST-commands parity; namespace scope like the REST route)
    if (req.has("explain")) {
      val check = auth.checkNamespaceAuth(db, ns, auth.extractWsSecurityPayload(subProtocols),
        writePermission = false)
      if (check.isDenied) { err(s"not authorized ${check.failReason}".trim); return }
      engine.command(db, ns, Ast.Explain(req.get("explain").asText(""))) match {
        case Right(rows) =>
          val props = rows.collect { case Seq(k, v) =>
            s"""{"property":${mapper.writeValueAsString(k)},"value":${mapper.writeValueAsString(v)}}"""
          }
          sendText(props.mkString("""{"plan":[""", ",", "]}"))
        case Left(error) => err(error)
      }
      return
    }
    val q   = req.path("queryString").asText("")
    // a present refreshMs that is not an integral JSON number reads as 0
    val refreshMs = if (req.has("refreshMs")) Some(HttpApi.epoch(req, "refreshMs").getOrElse(0L)) else None
    if (refreshMs.exists(_ <= 0)) { err("refreshMs must be a positive integer"); return }
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    // metric-scope check before any registration (reference WsResources
    // semantics: a denied register answers a failure message, no sub)
    def denied(sel: Ast.SelectStatement): Boolean = {
      val check = auth.checkMetricAuth(db, ns, sel.metric,
        auth.extractWsSecurityPayload(subProtocols), writePermission = false)
      if (check.isDenied) { err(s"not authorized ${check.failReason}".trim); true } else false
    }
    SqlParser.parse(db, ns, q) match {
      case Right(sel: Ast.SelectStatement) if denied(sel) => ()
      case Right(sel: Ast.SelectStatement) if sel.groupBy.isEmpty =>
        sendText(s"""{"subscribed":${mapper.writeValueAsString(q)}}""")
        sendText(HttpApi.historical(engine, sel, maxResultRows))
        // the subscriber's flusher delivers PRE-FRAMED text frames (one per
        // event, batched per drain tick into a single socket write)
        lazy val closer: AutoCloseable = () => live.sub.close()
        lazy val live: LiveSub = LiveSub(Coords(sel.db, sel.namespace, sel.metric), sel.where, new SseSubscriber(
          write = rawWrite,
          onDead = () => { hub.remove(live); owned.remove(closer); closeConn() },
          capacity = queueCapacity,
          refreshMs = refreshMs.getOrElse(defaultRefreshMs),
          frame = j => WsApi.frame(0x1, j.getBytes(StandardCharsets.UTF_8))))
        hub.add(live)
        owned.add(closer); mine.add(closer)
      case Right(_: Ast.SelectStatement) =>
        // aggregated subscription → periodic re-execution (R6)
        sendText(s"""{"subscribed":${mapper.writeValueAsString(q)}}""")
        lazy val handle: AutoCloseable = graft.streaming.Subscriptions.periodic(
          engine, db, ns, q, refreshMs.getOrElse(1000L),
          a =>
            Try(sendText(HttpApi.json(a, "records"))).failed.foreach { _ =>
              handle.close(); owned.remove(handle); closeConn()
            },
          maxResultRows)
        owned.add(handle); mine.add(handle)
      case Right(_)    => err("only select statements can be subscribed")
      case Left(error) => err(error)
    }
  }
}

object WsApi {

  /** Encode one unfragmented server frame (FIN set, unmasked). */
  private[http] def frame(opcode: Int, payload: Array[Byte]): Array[Byte] = {
    val n   = payload.length
    val buf = new java.io.ByteArrayOutputStream(n + 10)
    buf.write(0x80 | (opcode & 0x0F))
    if (n < 126) buf.write(n)
    else if (n < 65536) { buf.write(126); buf.write(n >>> 8); buf.write(n & 0xFF) }
    else {
      buf.write(127)
      var i = 56
      while (i >= 0) { buf.write(((n.toLong >>> i) & 0xFF).toInt); i -= 8 }
    }
    buf.write(payload, 0, n)
    buf.toByteArray
  }

  /** Decode one client frame → (opcode, unmasked payload); None on EOF or
    * protocol violation. Client frames are masked per RFC 6455 §5.2. */
  private[http] def readFrame(in: DataInputStream): Option[(Int, Array[Byte])] =
    try {
      val b0 = in.read()
      if (b0 < 0) return None
      val opcode = b0 & 0x0F
      val b1     = in.read()
      if (b1 < 0) return None
      val masked = (b1 & 0x80) != 0
      var len: Long = (b1 & 0x7F).toLong
      if (len == 126) len = ((in.readUnsignedByte().toLong << 8) | in.readUnsignedByte().toLong)
      else if (len == 127) len = in.readLong()
      if (len < 0 || len > (1L << 20)) return None // sanity cap: 1 MiB frames
      val mask = if (masked) { val m = new Array[Byte](4); in.readFully(m); m } else null
      val payload = new Array[Byte](len.toInt)
      in.readFully(payload)
      if (masked) {
        var i = 0
        while (i < payload.length) { payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1 }
      }
      Some((opcode, payload))
    } catch { case _: java.io.IOException => None }
}
