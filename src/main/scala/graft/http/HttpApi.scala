package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.GraftEngine
import graft.catalog.Coords
import graft.plan.TimeContext
import graft.security.{AuthResult, GraftAuthProvider}
import graft.sql.{Ast, SqlParser}

/**
 * Minimal REST surface mirroring the reference's HTTP API
 * (`nsdb-http/.../routes/QueryApi.scala:138-189`, `DataApi.scala:74-102`):
 *
 *  - `POST /query` `{db, namespace, queryString, from?, to?}` →
 *    `{"records": [...], "truncated": bool}` — `from`/`to` are ANDed into
 *    the statement as a timestamp range before planning (the P10
 *    enrichment path)
 *  - `POST /data` `{db, namespace, metric, bit:{timestamp?, value,
 *    dimensions?, tags?}}` → insert one record
 *  - `GET /commands/<db>/<namespace>/metrics` → metric listing
 *
 * Results are capped at `maxResultRows` — the serving-layer bound the
 * reference enforces on its fetches. Every answer — `/query`, the SSE
 * historical snapshot and the periodic pushes — goes through
 * [[GraftEngine.answer]]: ONE bounded collect of the rows rendered as JSON
 * at the plan root, so a `select * from events` over REST at 100 TB returns
 * the first `maxResultRows` rows and `"truncated":true`.
 *
 * Uses only the JDK http server + the Jackson shipped with Spark — no new
 * dependencies.
 *
 * Authorization: every route runs its scope's [[GraftAuthProvider]] check
 * before doing any work (reference `NSDbHttpSecurityDirective.scala:45-104`
 * semantics — metric scope on /query, /data and /subscribe, db/namespace/
 * metric scope on the /commands listings); a deny short-circuits with
 * `403 {"error":"not authorized <reason>"}`. The default [[GraftAuthProvider.AllowAll]]
 * passes everything.
 */
class HttpApi(
    engine: GraftEngine,
    port: Int = 0,
    maxResultRows: Int = 10000,
    sseQueueCapacity: Int = 1000,
    sseRefreshMs: Long = 100L,
    val hub: SubscriptionHub = new SubscriptionHub,
    auth: GraftAuthProvider = GraftAuthProvider.AllowAll
) {

  private val mapper = new ObjectMapper()
  private var server: HttpServer = _

  /** this transport's own registrations in the (possibly shared) hub —
    * [[stop]] closes exactly these, never another transport's. */
  private val ownSubs = new java.util.concurrent.CopyOnWriteArrayList[LiveSub]()

  /** periodic (aggregated) subscription schedulers — tracked so [[stop]]
    * shuts them down; a dead client removes its own handle. */
  private val periodicSubs = new java.util.concurrent.CopyOnWriteArrayList[AutoCloseable]()

  def start(): Int = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext("/query", (ex: HttpExchange) => handleQuery(ex))
    server.createContext("/data", (ex: HttpExchange) => handle(ex)(handleData))
    server.createContext("/commands", (ex: HttpExchange) => handle(ex)(handleCommands))
    server.createContext("/subscribe", (ex: HttpExchange) => handleSubscribe(ex))
    server.createContext("/health", (ex: HttpExchange) => handle(ex)(_ => handleHealth()))
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    }))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    ownSubs.forEach(s => s.sub.close())
    ownSubs.clear()
    periodicSubs.forEach(h => Try(h.close()))
    periodicSubs.clear()
    if (server != null) server.stop(0)
  }

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def handle(ex: HttpExchange)(f: HttpExchange => (Int, String)): Unit = {
    val (status, body) = Try(f(ex)) match {
      case Success(r)   => r
      case Failure(err) => (500, s"""{"error":${mapper.writeValueAsString(err.getMessage)}}""")
    }
    respond(ex, status, body)
  }

  private def readJson(ex: HttpExchange): JsonNode =
    mapper.readTree(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))

  /** this request's security payload, as the provider distills it from the
    * headers (lower-cased names, first value per header). */
  private def securityPayload(ex: HttpExchange): String =
    auth.extractHttpSecurityPayload(
      ex.getRequestHeaders.entrySet().asScala.collect {
        // ROOT locale: default-locale lowering (e.g. Turkish dotless i)
        // would break provider lookups of names like "x-auth-id"
        case e if !e.getValue.isEmpty =>
          e.getKey.toLowerCase(java.util.Locale.ROOT) -> e.getValue.get(0)
      }.toMap)

  /** `Some(403 response)` when `check` denies, `None` when it passes. */
  private def forbid(check: AuthResult): Option[(Int, String)] =
    if (check.isDenied)
      Some((403, s"""{"error":${mapper.writeValueAsString(s"not authorized ${check.failReason}".trim)}}"""))
    else None

  private def handleQuery(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"error":"POST required"}"""); return }
    Try {
      val req = readJson(ex)
      val db  = req.path("db").asText("default")
      val ns  = req.path("namespace").asText("default")
      val q   = req.path("queryString").asText("")
      implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
      SqlParser.parse(db, ns, q) match {
        case Right(sel: Ast.SelectStatement) =>
          // metric-scope read authorization before any planning/execution
          // (reference QueryApi.scala:143-147; the metric comes from the
          // parsed statement — this surface has no separate metric field)
          forbid(auth.checkMetricAuth(db, ns, sel.metric, securityPayload(ex), writePermission = false)) match {
            case Some((status, body)) => respond(ex, status, body)
            case None =>
              // optional from/to enrichment, reference QueryEnriched semantics
              val enriched =
                if (req.has("from") && req.has("to"))
                  for (f <- HttpApi.epoch(req, "from"); t <- HttpApi.epoch(req, "to"))
                    yield sel.enrichWithTimeRange("timestamp", f, t)
                else Right(sel)
              enriched.flatMap(engine.answer(_, maxResultRows, GraftEngine.json)) match {
                // rendered before any header goes out: a failing job still
                // answers a clean 500
                case Right(a)  => respond(ex, 200, HttpApi.json(a, "records"))
                case Left(err) => respond(ex, 400, s"""{"error":${mapper.writeValueAsString(err)}}""")
              }
          }
        case Right(_)  => respond(ex, 400, """{"error":"only select statements on /query"}""")
        case Left(err) => respond(ex, 400, s"""{"error":${mapper.writeValueAsString(err)}}""")
      }
    }.failed.foreach { err =>
      // headers may already be sent — then closing is all we can do
      Try(respond(ex, 500, s"""{"error":${mapper.writeValueAsString(err.getMessage)}}"""))
      Try(ex.close())
    }
  }

  private def handleData(ex: HttpExchange): (Int, String) = {
    if (ex.getRequestMethod != "POST") return (405, """{"error":"POST required"}""")
    val req = readJson(ex)
    val bit = req.path("bit")
    def fields(node: JsonNode): Map[String, Any] =
      if (node.isMissingNode) Map.empty
      else node.properties().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isIntegralNumber) v.asLong() else if (v.isNumber) v.asDouble() else v.asText(): Any)
      }.toMap
    // metric-scope WRITE authorization before any parsing side effects
    // (reference DataApi.scala:79-83: withMetricAuthorization(write = true))
    forbid(auth.checkMetricAuth(
      req.path("db").asText("default"), req.path("namespace").asText("default"),
      req.path("metric").asText(""), securityPayload(ex), writePermission = true))
      .foreach(r => return r)
    // a missing/non-numeric value must 400, not silently insert 0.0
    // (reference DataApi rejects a bit without a numeric value)
    if (!bit.path("value").isNumber)
      return (400, """{"error":"bit.value must be a number"}""")
    val timestamp =
      if (!bit.has("timestamp")) None
      else HttpApi.epoch(bit, "timestamp") match {
        case Right(t)  => Some(t)
        case Left(err) => return (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
      }
    val value: Any =
      if (bit.path("value").isIntegralNumber) bit.path("value").asLong() else bit.path("value").asDouble()
    val stmt = Ast.InsertStatement(
      req.path("db").asText("default"),
      req.path("namespace").asText("default"),
      req.path("metric").asText(""),
      timestamp,
      fields(bit.path("dimensions")),
      fields(bit.path("tags")),
      value
    )
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    engine.executeStatement(stmt) match {
      case Right(_) =>
        // fan out to live subscribers (reference: WriteCoordinator fires
        // PublishRecord to the PublisherActor on every write)
        hub.publish(stmt)
        (200, """{"inserted":1}""")
      case Left(err) => (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
    }
  }

  /**
   * SSE pub/sub subscription (the reference's WebSocket streaming mode,
   * `docs/Websocket.md` / `PublisherActor`): `GET /subscribe?db=..&namespace=..
   * &q=<url-encoded select>` streams the historical result as the first
   * event, then one event per future matching record — matching happens
   * per write against the registered predicate, mirroring the reference's
   * single-document `TemporaryIndex` evaluation. Live events go through a
   * bounded [[SseSubscriber]] buffer (R8 parity): `publish` never blocks
   * on a slow socket, and a client that overflows its buffer is evicted.
   */
  private def handleSubscribe(ex: HttpExchange): Unit = {
    val params = Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").collect {
      case kv if kv.contains("=") =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap
    val db = params.getOrElse("db", "default")
    val ns = params.getOrElse("namespace", "default")
    val q  = params.getOrElse("q", "")
    // validate refresh_ms BEFORE any headers go out: once the 200/SSE
    // prefix is sent there is no way to signal a 400, the connection just
    // drops. Absent → None (server default); present → must be a positive
    // long.
    val refreshMsParam: Option[Long] = params.get("refresh_ms") match {
      case None => None
      case Some(raw) =>
        raw.toLongOption.filter(_ > 0) match {
          case some @ Some(_) => some
          case None =>
            respond(ex, 400, s"""{"error":${mapper.writeValueAsString(s"refresh_ms must be a positive integer, got '$raw'")}}""")
            return
        }
    }
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    // metric-scope read authorization BEFORE the SSE prefix goes out (the
    // one place a 403 can still be written); reference WsResources.scala:89
    // runs the same metric-scope check on subscription registration
    def denied(sel: Ast.SelectStatement): Boolean =
      forbid(auth.checkMetricAuth(db, ns, sel.metric, securityPayload(ex), writePermission = false)) match {
        case Some((status, body)) => respond(ex, status, body); true
        case None                 => false
      }
    SqlParser.parse(db, ns, q) match {
      case Right(sel: Ast.SelectStatement) if denied(sel) => ()
      case Right(sel: Ast.SelectStatement) if sel.groupBy.isEmpty =>
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.getResponseHeaders.set("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0) // chunked
        val out = ex.getResponseBody
        // historical prefix under the same row cap as /query
        out.write(s"data: ${HttpApi.historical(engine, sel, maxResultRows)}\n\n".getBytes(StandardCharsets.UTF_8))
        out.flush()
        lazy val live: LiveSub = LiveSub(Coords(sel.db, sel.namespace, sel.metric), sel.where, new SseSubscriber(
          write = bytes => { out.write(bytes); out.flush() },
          onDead = () => { hub.remove(live); ownSubs.remove(live); Try(ex.close()); () },
          capacity = sseQueueCapacity,
          // per-subscription drain period (reference: refresh_period is a
          // client-set subscription parameter), server default otherwise
          refreshMs = refreshMsParam.getOrElse(sseRefreshMs)))
        hub.add(live)
        ownSubs.add(live)
      case Right(_: Ast.SelectStatement) =>
        // aggregated subscription → periodic re-execution (reference R6:
        // group-by queries are re-run on a fixed scheduler and re-pushed)
        val interval = refreshMsParam.getOrElse(1000L)
        ex.getResponseHeaders.set("Content-Type", "text/event-stream")
        ex.getResponseHeaders.set("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0)
        val out = ex.getResponseBody
        lazy val handle: AutoCloseable = graft.streaming.Subscriptions.periodic(
          engine, db, ns, q, interval,
          a =>
            Try {
              out.write(s"data: ${HttpApi.json(a, "records")}\n\n".getBytes(StandardCharsets.UTF_8))
              out.flush()
            }.failed.foreach { _ => // dead client: stop + untrack its scheduler
              handle.close(); periodicSubs.remove(handle); Try(ex.close())
            },
          maxResultRows)
        periodicSubs.add(handle) // materialize + track for stop()
        ()
      case Right(_) =>
        handle(ex)(_ => (400, """{"error":"only select statements can be subscribed"}"""))
      case Left(err) =>
        handle(ex)(_ => (400, s"""{"error":${mapper.writeValueAsString(err)}}"""))
    }
  }

  /** hub subscriber count (post-eviction) — observability for specs. */
  def liveSubscriberCount: Int = hub.size

  /** tracked periodic-subscription scheduler count — observability for specs. */
  def periodicSubscriberCount: Int = periodicSubs.size()

  // the warehouse reachability probe is a Hadoop FileSystem exists() — a
  // BLOCKING call with no timeout of its own. A stalled NFS/S3 mount must
  // answer NOT_SERVING promptly, not hang the handler thread (misleading
  // the load balancer AND pinning shared pool threads). So the probe runs
  // on one dedicated daemon thread with a bounded wait; while a stalled
  // probe is still in flight, later health checks answer NOT_SERVING
  // immediately instead of stacking more blocked threads behind it.
  private val healthProbeExec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "graft-health-probe"); t.setDaemon(true); t
  })
  private[graft] val healthProbeBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val healthProbeTimeoutMs: Long =
    sys.env.getOrElse("GRAFT_HEALTH_PROBE_TIMEOUT_MS", "500").toLong

  private def probeWarehouse(w: graft.catalog.Warehouse): Either[String, String] =
    if (!healthProbeBusy.compareAndSet(false, true))
      Left("warehouse probe still in flight: filesystem stalled")
    else {
      val fut = healthProbeExec.submit(new java.util.concurrent.Callable[Either[String, String]] {
        def call(): Either[String, String] =
          try Try {
            val p = new org.apache.hadoop.fs.Path(w.root)
            p.getFileSystem(engine.spark.sessionState.newHadoopConf()).exists(p)
          } match {
            case Success(true)  => Right("reachable")
            case Success(false) => Left(s"warehouse root missing: ${w.root}")
            case Failure(e)     => Left(s"warehouse unreachable: ${e.getMessage}")
          } finally healthProbeBusy.set(false)
      })
      try fut.get(healthProbeTimeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          // leave the probe running: it clears `busy` when the FS unsticks
          Left(s"warehouse probe timed out after ${healthProbeTimeoutMs}ms: filesystem stalled")
        case e: Throwable => Left(s"warehouse probe failed: ${e.getMessage}")
      }
    }

  /** GET /health — the reference's health surface
    * (`nsdb-rpc/src/main/protobuf/health.proto:35`, `rpc Check` returning
    * SERVING/NOT_SERVING), HTTP-shaped since grpc-java is absent here.
    * SERVING requires a live SparkContext AND (when a warehouse is
    * attached) a reachable warehouse root; anything else answers 503
    * NOT_SERVING with the reason — what a load balancer needs to rotate a
    * bad node out. Deliberately unauthenticated (health probes run before
    * credentials exist), and it leaks no names — only up/down facts. */
  private def handleHealth(): (Int, String) = {
    val sparkUp = !engine.spark.sparkContext.isStopped
    val wh: Either[String, String] = engine.warehouse match {
      case None    => Right("none")
      case Some(w) => probeWarehouse(w)
    }
    (sparkUp, wh) match {
      case (true, Right(whStatus)) =>
        (200, s"""{"status":"SERVING","spark":true,"warehouse":${mapper.writeValueAsString(whStatus)}}""")
      case (false, _) =>
        (503, """{"status":"NOT_SERVING","spark":false,"reason":"SparkContext stopped"}""")
      case (true, Left(reason)) =>
        (503, s"""{"status":"NOT_SERVING","spark":true,"reason":${mapper.writeValueAsString(reason)}}""")
    }
  }

  private def handleCommands(ex: HttpExchange): (Int, String) = {
    // the reference CommandApi surface (`nsdb-http/.../routes/CommandApi.scala`):
    //   GET /commands/dbs                                → databases
    //   GET /commands/<db>/namespaces                    → namespaces
    //   GET /commands/<db>/<namespace>/metrics           → metrics
    //   GET /commands/<db>/<namespace>/<metric>/describe → field name/type/class
    def listOf(key: String, cmd: Ast.Command, db: String, ns: String = ""): (Int, String) =
      engine.command(db, ns, cmd) match {
        case Right(rows) =>
          (200, rows.flatten.map(mapper.writeValueAsString).mkString(s"""{"$key":[""", ",", "]}"))
        case Left(err) => (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
      }
    // scope checks mirror the reference CommandApi (db scope on the
    // namespace listing, namespace scope on the metric listing, metric
    // scope on describe; explain — beyond the reference — namespace scope)
    def guarded(check: AuthResult)(route: => (Int, String)): (Int, String) =
      forbid(check).getOrElse(route)
    val payload = securityPayload(ex)
    val parts = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty)
    parts match {
      // the db listing is scope-FILTERED rather than all-or-nothing: a
      // payload sees exactly the databases it can read, so a restrictive
      // provider never leaks the full deployment's db names through the
      // one route that used to skip the seam (the other listings guard
      // their single scope; this one has one check per candidate db)
      case Array("commands", "dbs") =>
        engine.command("", "", Ast.ShowDatabases) match {
          case Right(rows) =>
            val visible = rows.flatten
              .filter(db => auth.checkDbAuth(db, payload, writePermission = false).success)
            (200, visible.map(mapper.writeValueAsString).mkString("""{"dbs":[""", ",", "]}"))
          case Left(err) => (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
        }
      // maintenance observability: the last retention/compaction sweep's
      // report — a permanently failing eviction is visible here, not silent —
      // and the resident state of each metric the payload may read
      case Array("commands", "maintenance") =>
        val sweep = graft.catalog.Maintenance.lastSweep.fold("null") { r =>
          val errs = r.errors.map(mapper.writeValueAsString).mkString("[", ",", "]")
          s"""{"atMs":${r.atMs},"metricsSwept":${r.metricsSwept},"evictedShards":${r.evictedShards},"compactedShards":${r.compactedShards},"errors":$errs}"""
        }
        val resident = engine.warehouse.toSeq.flatMap(_.residency)
          .filter(r => auth.checkMetricAuth(r.coords.db, r.coords.namespace, r.coords.metric, payload,
            writePermission = false).success)
          .map(r => s"""{"db":${mapper.writeValueAsString(r.coords.db)},"namespace":${mapper.writeValueAsString(r.coords.namespace)},"metric":${mapper.writeValueAsString(r.coords.metric)},"dataBytes":${r.dataBytes},"cachedBytes":${r.cachedBytes},"overBudget":${r.overBudget}}""")
        (200, resident.mkString(s"""{"lastSweep":$sweep,"resident":[""", ",", "]}"))
      case Array("commands", db, "namespaces") =>
        guarded(auth.checkDbAuth(db, payload, writePermission = false))(
          listOf("namespaces", Ast.ShowNamespaces, db))
      case Array("commands", db, ns, "metrics") =>
        guarded(auth.checkNamespaceAuth(db, ns, payload, writePermission = false))(
          listOf("metrics", Ast.ShowMetrics, db, ns))
      case Array("commands", db, ns, metric, "describe") =>
        guarded(auth.checkMetricAuth(db, ns, metric, payload, writePermission = false)) {
          engine.command(db, ns, Ast.DescribeMetric(metric)) match {
            case Right(rows) =>
              val fields = rows.map {
                case Seq(n, t, c) =>
                  s"""{"name":${mapper.writeValueAsString(n)},"type":${mapper.writeValueAsString(t)},"class":${mapper.writeValueAsString(c)}}"""
                case other => mapper.writeValueAsString(other.mkString(","))
              }
              (200, fields.mkString("""{"fields":[""", ",", "]}"))
            case Left(err) => (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
          }
        }
      // beyond the reference surface: the planner's verdict without
      // execution — GET /commands/<db>/<ns>/explain?q=<urlencoded query>
      case Array("commands", db, ns, "explain") =>
        val q = Option(ex.getRequestURI.getRawQuery).toSeq
          .flatMap(_.split("&")).collectFirst {
            case p if p.startsWith("q=") =>
              java.net.URLDecoder.decode(p.drop(2), "UTF-8")
          }
        q match {
          case None => (400, """{"error":"missing q parameter"}""")
          case Some(sql) =>
            guarded(auth.checkNamespaceAuth(db, ns, payload, writePermission = false)) {
              engine.command(db, ns, Ast.Explain(sql)) match {
                case Right(rows) =>
                  val props = rows.map {
                    case Seq(k, v) =>
                      s"""{"property":${mapper.writeValueAsString(k)},"value":${mapper.writeValueAsString(v)}}"""
                    case other => mapper.writeValueAsString(other.mkString(","))
                  }
                  (200, props.mkString("""{"plan":[""", ",", "]}"))
                case Left(err) => (400, s"""{"error":${mapper.writeValueAsString(err)}}""")
              }
            }
        }
      case _ => (404, """{"error":"unknown command"}""")
    }
  }
}

object HttpApi {

  /** `node.field` as epoch milliseconds: an integral JSON number within
    * `Long`, else an error. (Jackson's `asLong()` reads `"abc"` as 0,
    * `true` as 1 and `1.9` as 1.) */
  private[http] def epoch(node: JsonNode, field: String): Either[String, Long] = {
    val v = node.get(field)
    if (v.isIntegralNumber && v.canConvertToLong) Right(v.asLong()) else Left(s"$field must be an integral number")
  }

  /** `{"<key>":[r1,r2,…],"truncated":…}` for an answer taken through the
    * [[GraftEngine.json]] view — the one JSON rendering of every answer. */
  private[graft] def json(a: GraftEngine.Answer, key: String): String =
    a.rows.iterator.map(_.getString(0)).mkString(s"""{"$key":[""", ",", s"""],"truncated":${a.truncated}}""")

  /** The historical snapshot a plain subscription opens with, under the
    * transport's row cap: empty while the metric does not exist yet. */
  private[http] def historical(engine: GraftEngine, sel: Ast.SelectStatement, maxRows: Int)(
      implicit tc: TimeContext): String =
    engine.answer(sel, maxRows, GraftEngine.json)
      .fold(_ => """{"historical":[],"truncated":false}""", json(_, "historical"))
}
