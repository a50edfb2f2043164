package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.nio.file.Files
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}

import graft.http.{HttpApi, SubscriptionHub, WsApi}

/** WebSocket pub/sub transport specs: RFC 6455 handshake + frames against
  * the JDK WS client, subscribe protocol parity with the SSE surface, and
  * cross-transport fan-out through the shared SubscriptionHub. */
class WsApiSpec extends SparkTestBase {

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  /** JDK WS client collecting whole text messages into a queue. */
  private def connect(port: Int, received: LinkedBlockingQueue[String]): WebSocket =
    client.newWebSocketBuilder().buildAsync(
      URI.create(s"ws://127.0.0.1:$port/ws-stream"),
      new WebSocket.Listener {
        private val sb = new java.lang.StringBuilder
        override def onText(ws: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
          sb.append(data)
          if (last) { received.add(sb.toString); sb.setLength(0) }
          ws.request(1)
          null
        }
      }).get(20, TimeUnit.SECONDS)

  "WsApi" should "serve the subscribe protocol: ack, historical, then matching live pushes" in {
    val root   = Files.createTempDirectory("graft_ws_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub)
    val ws     = new WsApi(engine, hub)
    val httpPort = api.start()
    val wsPort   = ws.start()
    try {
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0,"tags":{"k":"a"}}}""")._1 shouldBe 200

      val received = new LinkedBlockingQueue[String]()
      val sock = connect(wsPort, received)
      sock.sendText("""{"db":"db","namespace":"ns","queryString":"select * from m where value > 3"}""", true)

      val ack = received.poll(20, TimeUnit.SECONDS)
      ack should include(""""subscribed"""")
      val hist = received.poll(20, TimeUnit.SECONDS)
      hist should include("historical")
      hist should include(""""value":5.0""")

      // a write through the HTTP surface fans out to the WS subscriber
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":2000,"value":9.0,"tags":{"k":"b"}}}""")._1 shouldBe 200
      val live = received.poll(20, TimeUnit.SECONDS)
      live should include(""""value":9.0""")
      // non-matching write is filtered per-record
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":3000,"value":1.0,"tags":{"k":"c"}}}""")._1 shouldBe 200
      received.poll(2, TimeUnit.SECONDS) shouldBe null
      sock.abort()
    } finally { ws.stop(); api.stop() }
  }

  it should "re-push aggregated subscriptions periodically and report errors in-protocol" in {
    val root   = Files.createTempDirectory("graft_ws_agg_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub)
    val ws     = new WsApi(engine, hub)
    val httpPort = api.start()
    val wsPort   = ws.start()
    try {
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0,"tags":{"k":"a"}}}""")._1 shouldBe 200
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":2000,"value":7.0,"tags":{"k":"a"}}}""")._1 shouldBe 200

      val received = new LinkedBlockingQueue[String]()
      val sock = connect(wsPort, received)
      // malformed refresh and non-select queries answer with in-protocol
      // errors; a refresh that is not a positive integral number registers nothing
      for (refresh <- Seq("-5", "\"abc\"", "true", "1.9", "\"250\"", "0", "null")) {
        sock.sendText(s"""{"db":"db","namespace":"ns","queryString":"select * from m","refreshMs":$refresh}""", true)
        withClue(s"refreshMs $refresh: ") { received.poll(20, TimeUnit.SECONDS) should include(""""error"""") }
      }
      hub.size shouldBe 0
      sock.sendText("""{"db":"db","namespace":"ns","queryString":"drop metric m"}""", true)
      received.poll(20, TimeUnit.SECONDS) should include(""""error"""")

      sock.sendText("""{"db":"db","namespace":"ns","queryString":"select sum(value) from m group by k","refreshMs":500}""", true)
      received.poll(20, TimeUnit.SECONDS) should include(""""subscribed"""")
      val deadline = System.currentTimeMillis() + 30000
      var seen     = false
      while (!seen && System.currentTimeMillis() < deadline) {
        val ev = received.poll(5, TimeUnit.SECONDS)
        if (ev != null && ev.contains(""""value":12.0""")) seen = true
      }
      seen shouldBe true
      sock.abort()
    } finally { ws.stop(); api.stop() }
  }

  it should "cap periodic pushes at maxResultRows and render them like /query" in {
    val root   = Files.createTempDirectory("graft_ws_agg_cap_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub, maxResultRows = 1)
    val ws     = new WsApi(engine, hub, maxResultRows = 1)
    val httpPort = api.start()
    val wsPort   = ws.start()
    try {
      Seq("a" -> 5.0, "b" -> 7.0).zipWithIndex.foreach { case ((k, v), i) =>
        post(httpPort, "/data",
          s"""{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":${1000 + i},"value":$v,"tags":{"k":"$k"}}}""")._1 shouldBe 200
      }
      val sql = "select sum(value) from m group by k"
      val received = new LinkedBlockingQueue[String]()
      val sock = connect(wsPort, received)
      sock.sendText(s"""{"db":"db","namespace":"ns","queryString":"$sql","refreshMs":500}""", true)
      received.poll(20, TimeUnit.SECONDS) should include(""""subscribed"""")
      val first = received.poll(30, TimeUnit.SECONDS)
      first should startWith("""{"records":[""")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val push   = mapper.readTree(first)
      push.get("records").size() shouldBe 1
      push.get("truncated").asBoolean() shouldBe true
      // the same rendering as /query: same fields, in column order
      val (st, body) = post(httpPort, "/query", s"""{"db":"db","namespace":"ns","queryString":"$sql"}""")
      st shouldBe 200
      def names(n: com.fasterxml.jackson.databind.JsonNode): List[String] = {
        import scala.jdk.CollectionConverters._
        n.get("records").get(0).fieldNames().asScala.toList
      }
      names(push) shouldBe names(mapper.readTree(body))
      sock.abort()
    } finally { ws.stop(); api.stop() }
  }

  it should "enforce the authorization provider on register, with the token as a subprotocol" in {
    val root   = Files.createTempDirectory("graft_ws_auth_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub, auth = new TestAuthProvider)
    val ws     = new WsApi(engine, hub, auth = new TestAuthProvider)
    val httpPort = api.start()
    val wsPort   = ws.start()
    try {
      // seed through the authorized HTTP path
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$httpPort/data"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"db":"db","namespace":"ns","metric":"secret_m","bit":{"timestamp":1000,"value":5.0}}"""))
        .header("Content-Type", "application/json").header("X-Auth-Token", "token").build()
      client.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200

      // no subprotocol → no payload → denied: error message, no registration
      val deniedQ = new LinkedBlockingQueue[String]()
      val denied  = connect(wsPort, deniedQ)
      denied.sendText("""{"db":"db","namespace":"ns","queryString":"select * from secret_m"}""", true)
      val msg = deniedQ.poll(20, TimeUnit.SECONDS)
      msg should include(""""error"""")
      msg should include("not authorized")
      hub.size shouldBe 0
      denied.abort()

      // the token offered as a WS subprotocol authorizes the same register
      val okQ = new LinkedBlockingQueue[String]()
      val ok = client.newWebSocketBuilder().subprotocols("token").buildAsync(
        URI.create(s"ws://127.0.0.1:$wsPort/ws-stream"),
        new WebSocket.Listener {
          private val sb = new java.lang.StringBuilder
          override def onText(s: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
            sb.append(data)
            if (last) { okQ.add(sb.toString); sb.setLength(0) }
            s.request(1)
            null
          }
        }).get(20, TimeUnit.SECONDS)
      ok.sendText("""{"db":"db","namespace":"ns","queryString":"select * from secret_m"}""", true)
      okQ.poll(20, TimeUnit.SECONDS) should include(""""subscribed"""")
      val hist = okQ.poll(20, TimeUnit.SECONDS)
      hist should include("historical")
      hist should include(""""value":5.0""")
      ok.abort()
    } finally { ws.stop(); api.stop() }
  }

  it should "serve EXPLAIN over the WS surface without executing" in {
    val root   = Files.createTempDirectory("graft_ws_explain_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub)
    val ws     = new WsApi(engine, hub)
    val httpPort = api.start()
    val wsPort   = ws.start()
    try {
      post(httpPort, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0,"tags":{"k":"a"}}}""")._1 shouldBe 200
      val received = new LinkedBlockingQueue[String]()
      val sock = connect(wsPort, received)
      sock.sendText("""{"db":"db","namespace":"ns","explain":"select sum(value) from m group by k"}""", true)
      val plan = received.poll(20, TimeUnit.SECONDS)
      plan should include(""""plan"""")
      plan should include(""""property":"plan","value":"GroupByTag"""")
      plan should include(""""property":"tag","value":"k"""")
      // an invalid statement answers an in-protocol error, not a close
      sock.sendText("""{"db":"db","namespace":"ns","explain":"select nope from m"}""", true)
      received.poll(20, TimeUnit.SECONDS) should include(""""error"""")
      sock.abort()
    } finally { ws.stop(); api.stop() }
  }

  it should "shut down its subscribers and schedulers on stop without touching the SSE transport's" in {
    val root   = Files.createTempDirectory("graft_ws_stop_").toString
    val hub    = new SubscriptionHub
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new HttpApi(engine, hub = hub)
    val ws     = new WsApi(engine, hub)
    val httpPort = api.start()
    val wsPort   = ws.start()
    post(httpPort, "/data",
      """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0}}""")._1 shouldBe 200

    val received = new LinkedBlockingQueue[String]()
    val sock = connect(wsPort, received)
    sock.sendText("""{"db":"db","namespace":"ns","queryString":"select * from m"}""", true)
    received.poll(20, TimeUnit.SECONDS) should include(""""subscribed"""")
    received.poll(20, TimeUnit.SECONDS) should include("historical")
    // the server registers the live sub AFTER sending the historical frame
    // (protocol order on the wire) — await the registration, don't race it
    val addDeadline = System.currentTimeMillis() + 10000
    while (hub.size < 1 && System.currentTimeMillis() < addDeadline) Thread.sleep(20)
    hub.size shouldBe 1
    ws.stop() // closes the WS registration in the shared hub…
    val deadline = System.currentTimeMillis() + 10000
    while (hub.size > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    hub.size shouldBe 0
    ws.ownedCount shouldBe 0
    api.stop() // …and the SSE transport shuts down independently
  }

  it should "count the accept loop's end at stop() as a closed socket" in {
    val engine = new GraftEngine(spark)
    val ws     = new WsApi(engine, new SubscriptionHub)
    ws.start()
    Thread.sleep(300) // let the accept loop block in accept()
    ws.closedSocketCount shouldBe 0L
    ws.stop()
    val deadline = System.currentTimeMillis() + 10000
    while (ws.closedSocketCount == 0L && System.currentTimeMillis() < deadline) Thread.sleep(20)
    ws.closedSocketCount shouldBe 1L
  }

  it should "count a connection that dies under it, and let any other failure of a connection propagate" in {
    Uncaught.in("graft-ws") { thrown =>
      val root   = Files.createTempDirectory("graft_ws_fail_").toString
      val failing = new GraftEngine(spark, Some(warehouse(root))) {
        override def executeStatement(stmt: graft.sql.Ast.Statement)(implicit tc: graft.plan.TimeContext) =
          throw new IllegalStateException("engine bug")
      }
      val ws   = new WsApi(failing, new SubscriptionHub)
      val port = ws.start()
      try {
        // a client that resets the connection in the middle of its handshake
        val raw = new java.net.Socket("127.0.0.1", port)
        raw.getOutputStream.write("GET /ws-stream HTTP/1.1\r\n".getBytes("UTF-8"))
        raw.getOutputStream.flush()
        Thread.sleep(200)
        raw.setSoLinger(true, 0)
        raw.close()
        val deadline = System.currentTimeMillis() + 10000
        while (ws.closedSocketCount == 0L && System.currentTimeMillis() < deadline) Thread.sleep(20)
        ws.closedSocketCount shouldBe 1L
        thrown.poll(200, TimeUnit.MILLISECONDS) shouldBe null

        // a subscription whose historical query throws: the connection
        // closes and the failure leaves the connection's thread
        val received = new LinkedBlockingQueue[String]()
        val sock = connect(port, received)
        sock.sendText("""{"db":"db","namespace":"ns","queryString":"select * from m"}""", true)
        received.poll(20, TimeUnit.SECONDS) should include(""""subscribed"""")
        val e = thrown.poll(20, TimeUnit.SECONDS)
        e shouldBe an[IllegalStateException]
        e.getMessage shouldBe "engine bug"
        ws.closedSocketCount shouldBe 1L
        sock.abort()
      } finally ws.stop()
    }
  }
}
