package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.rpc.RpcMessages._
import graft.rpc.{GrpcApi, GrpcClient}
import graft.security.{AuthResult, GraftAuthProvider}

/** The gRPC wire surface, driven end-to-end: a real netty HTTP/2 client
  * against the embedded server — hand-rolled proto3 framing on both
  * sides, so a round trip also cross-checks encoder against decoder. */
class GrpcApiSpec extends SparkTestBase {

  "GrpcApi" should "serve the full reference RPC surface over the wire" in {
    val root   = Files.createTempDirectory("graft_grpc_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val port   = api.start()
    val client = new GrpcClient(port = port)
    try {
      // health (health.proto Check -> SERVING)
      client.checkConnection() shouldBe Right(HealthCheckResponse(ServingStatus.SERVING))

      // init metric with duration strings (init.proto)
      val init = client.initMetric(InitMetricRequest("db", "ns", "temps", "1d", ""))
      init.toOption.get.completedSuccessfully shouldBe true
      // conflicting re-init surfaces the error in errorMsg, not a transport error
      val re = client.initMetric(InitMetricRequest("db", "ns", "temps", "2d", ""))
      re.toOption.get.completedSuccessfully shouldBe false
      re.toOption.get.errorMsg should include("already exists")

      // InsertBit (request.proto oneof value + typed dimension/tag maps)
      val w1 = client.write(RpcInsert("db", "ns", "temps", 1000L, DecimalValue(21.5),
        Map("node" -> StringValue("a")), Map("room" -> StringValue("kitchen"))))
      w1 shouldBe Right(RpcInsertResult(completedSuccessfully = true))
      client.write(RpcInsert("db", "ns", "temps", 2000L, DecimalValue(23.5),
        Map("node" -> StringValue("b")), Map("room" -> StringValue("cellar"))))
        .toOption.get.completedSuccessfully shouldBe true

      // executeSQLStatement: select returns typed Bits (tags vs dimensions
      // classified from the catalog schema)
      val sel = client.executeSQLStatement(
        SqlRequest("db", "ns", "temps", "select * from temps order by timestamp")).toOption.get
      sel.completedSuccessfully shouldBe true
      sel.records.size shouldBe 2
      sel.records.head shouldBe RpcBit(1000L, DecimalValue(21.5),
        Map("node" -> StringValue("a")), Map("room" -> StringValue("kitchen")))

      // aggregate select: value rides the aggregate column
      val agg = client.executeSQLStatement(
        SqlRequest("db", "ns", "temps", "select count(value) from temps")).toOption.get
      agg.completedSuccessfully shouldBe true
      agg.records.map(_.value) shouldBe Seq(LongValue(2L))

      // parse failure mirrors the reference: request db/namespace echoed,
      // reason carries the error, transport stays OK
      val bad = client.executeSQLStatement(SqlRequest("db", "ns", "temps", "selec nope")).toOption.get
      bad.completedSuccessfully shouldBe false
      bad.reason should not be empty

      // command service (requestCommand.proto verbs)
      client.showNamespaces("db").toOption.get.namespaces should contain("ns")
      client.showMetrics("db", "ns").toOption.get.metrics should contain("temps")
      val desc = client.describeMetric("db", "ns", "temps").toOption.get
      desc.completedSuccessfully shouldBe true
      desc.fields.find(_.name == "room").get.fieldClassType shouldBe FieldClassType.TAG
      desc.fields.find(_.name == "timestamp").get.fieldClassType shouldBe FieldClassType.TIMESTAMP
      desc.metricInfo shouldBe Some(MetricInfo(86400000L, 0L))

      // unimplemented method -> grpc-status 12 via trailers-only response
      val miss = client.describeMetric("db", "ns", "nosuch").toOption.get
      miss.completedSuccessfully shouldBe false

      // streaming (streaming.proto): historical snapshot, then a live push
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = client.subscribe(SqlRequest("db", "ns", "temps", "select * from temps"))(events.put)
      val first = events.poll(10, TimeUnit.SECONDS)
      first should not be null
      val hist = first.payload.asInstanceOf[SubscribedByQueryString]
      hist.records.size shouldBe 2
      hist.quid should not be empty
      // a write through the SAME hub fans out to the gRPC subscriber
      client.write(RpcInsert("db", "ns", "temps", 3000L, DecimalValue(25.0),
        Map("node" -> StringValue("c")), Map("room" -> StringValue("attic"))))
        .toOption.get.completedSuccessfully shouldBe true
      val push = events.poll(10, TimeUnit.SECONDS)
      push should not be null
      val recs = push.payload.asInstanceOf[RecordsPublished]
      recs.quid shouldBe hist.quid
      recs.records.head.timestamp shouldBe 3000L
      recs.records.head.value shouldBe DecimalValue(25.0)
      recs.records.head.tags shouldBe Map("room" -> StringValue("attic"))
      sub.close()

      // restore (restore.proto): a backup of the warehouse root restores
      // into a fresh engine
      val root2   = Files.createTempDirectory("graft_grpc_restore_").toString
      val engine2 = new GraftEngine(spark, Some(warehouse(root2)))
      val api2    = new GrpcApi(engine2)
      val port2   = api2.start()
      val client2 = new GrpcClient(port = port2)
      try {
        val res = client2.restore(root).toOption.get
        res.completedSuccessfully shouldBe true
        client2.showMetrics("db", "ns").toOption.get.metrics should contain("temps")
      } finally { client2.close(); api2.stop() }
    } finally {
      client.close()
      api.stop()
    }
  }

  it should "fan out HTTP writes to gRPC subscribers through a shared hub" in {
    // the SubscriptionHub is transport-independent: one hub wired into
    // both the REST and gRPC surfaces makes every transport's writes
    // visible to every transport's subscribers (reference PublisherActor)
    val root   = Files.createTempDirectory("graft_grpc_hub_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val hub    = new graft.http.SubscriptionHub
    val http   = new graft.http.HttpApi(engine, hub = hub)
    val grpc   = new GrpcApi(engine, hub = hub)
    val hport  = http.start()
    val gport  = grpc.start()
    val client = new GrpcClient(port = gport)
    try {
      engine.initMetric("db", "ns", "m", 86400000L)
      client.write(RpcInsert("db", "ns", "m", 500L, LongValue(1L), Map.empty, Map.empty))
        .toOption.get.completedSuccessfully shouldBe true
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = client.subscribe(SqlRequest("db", "ns", "m", "select * from m"))(events.put)
      events.poll(10, TimeUnit.SECONDS).payload shouldBe a[SubscribedByQueryString]
      // write through the REST surface -> push arrives on the gRPC stream
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$hport/data"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":900,"value":7}}"""))
        .header("Content-Type", "application/json").build()
      java.net.http.HttpClient.newHttpClient()
        .send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode() shouldBe 200
      val push = events.poll(10, TimeUnit.SECONDS)
      push should not be null
      val recs = push.payload.asInstanceOf[RecordsPublished]
      recs.records.head.timestamp shouldBe 900L
      recs.records.head.value shouldBe LongValue(7L)
      sub.close()
    } finally {
      client.close(); grpc.stop(); http.stop()
    }
  }

  it should "end a subscription's pump thread quietly when the handle closes" in {
    val root   = Files.createTempDirectory("graft_grpc_close_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val client = new GrpcClient(port = api.start())
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def pumps(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(_.getName == "graft-grpc-subscribe").toSet
    try {
      engine.initMetric("db", "ns", "m", 86400000L)
      client.write(RpcInsert("db", "ns", "m", 500L, LongValue(1L), Map.empty, Map.empty))
        .toOption.get.completedSuccessfully shouldBe true
      val before = pumps()
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = client.subscribe(SqlRequest("db", "ns", "m", "select * from m"))(events.put)
      events.poll(10, TimeUnit.SECONDS).payload shouldBe a[SubscribedByQueryString]
      val started = pumps() -- before
      started should have size 1
      started.foreach(_.setUncaughtExceptionHandler((t: Thread, e: Throwable) =>
        uncaught.add(s"${t.getName}: $e")))
      // the pump is blocked in its queue when the handle closes
      sub.close()
      started.foreach(_.join(10000))
      started.foreach(_.isAlive shouldBe false)
      uncaught.asScala shouldBe empty
    } finally {
      client.close(); api.stop()
    }
  }

  it should "answer a subscription on an initialized, empty metric with an empty snapshot" in {
    val root   = Files.createTempDirectory("graft_grpc_empty_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val client = new GrpcClient(port = api.start())
    try {
      engine.initMetric("db", "ns", "m", 86400000L) shouldBe Right(())
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = client.subscribe(SqlRequest("db", "ns", "m", "select * from m"))(events.put)
      val first = events.poll(10, TimeUnit.SECONDS)
      first should not be null
      first.payload.asInstanceOf[SubscribedByQueryString].records shouldBe empty
      sub.close()
    } finally {
      client.close(); api.stop()
    }
  }

  it should "answer a subscription whose historical query fails with SubscriptionFailed" in {
    val root   = Files.createTempDirectory("graft_grpc_fail_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val client = new GrpcClient(port = api.start())
    try {
      engine.initMetric("db", "ns", "m", 86400000L) shouldBe Right(())
      // a data file that is not parquet makes the historical read throw
      val shard = java.nio.file.Paths.get(root, "db", "ns", "m", "data", "shard=0")
      Files.createDirectories(shard)
      Files.write(shard.resolve("part-0.parquet"), "not parquet".getBytes("UTF-8"))
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = client.subscribe(SqlRequest("db", "ns", "m", "select * from m"))(events.put)
      val first = events.poll(10, TimeUnit.SECONDS)
      first should not be null
      first.payload shouldBe a[SubscriptionFailed]
      first.payload.asInstanceOf[SubscriptionFailed].reason should not be empty
      sub.close()
    } finally {
      client.close(); api.stop()
    }
  }

  it should "enforce per-level authorization with the reference's write-permission contract" in {
    val root   = Files.createTempDirectory("graft_grpc_auth_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val deny = new GraftAuthProvider {
      def extractHttpSecurityPayload(rawHeaders: Map[String, String]): String =
        rawHeaders.getOrElse("authorization", "")
      def extractWsSecurityPayload(subProtocols: Seq[String]): String = ""
      def checkDbAuth(db: String, payload: String, writePermission: Boolean): AuthResult =
        if (payload == "token") AuthResult.Allowed else AuthResult.denied("bad token")
      def checkNamespaceAuth(db: String, ns: String, payload: String, writePermission: Boolean): AuthResult =
        checkDbAuth(db, payload, writePermission)
      def checkMetricAuth(db: String, ns: String, m: String, payload: String, writePermission: Boolean): AuthResult =
        checkDbAuth(db, payload, writePermission)
    }
    val api  = new GrpcApi(engine, auth = deny)
    val port = api.start()
    val anon = new GrpcClient(port = port)
    val authed = new GrpcClient(port = port, headers = Map("authorization" -> "token"))
    try {
      // no payload -> UNAUTHENTICATED (grpc-status 16), reference
      // interceptor's empty-token rejection
      anon.showNamespaces("db").isLeft shouldBe true
      anon.showNamespaces("db").swap.toOption.get should include("16")
      // health needs no auth (no isAuthorized option on its service)
      anon.checkConnection() shouldBe Right(HealthCheckResponse(ServingStatus.SERVING))
      // a valid token passes
      authed.showNamespaces("db").toOption.get.completedSuccessfully shouldBe true
      authed.initMetric(InitMetricRequest("db", "ns", "m1", "", ""))
        .toOption.get.completedSuccessfully shouldBe true
    } finally {
      anon.close(); authed.close(); api.stop()
    }
  }

  it should "authorize the metric a SQL statement names, not only the request's metric field" in {
    val root   = Files.createTempDirectory("graft_grpc_scope_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine, auth = new TestAuthProvider)
    val port   = api.start()
    val authed = new GrpcClient(port = port, headers = Map("x-auth-token" -> "token"))
    val other  = new GrpcClient(port = port, headers = Map("x-auth-token" -> "nope"))
    try {
      Seq("open_m", "secret_m").foreach { m =>
        authed.write(RpcInsert("db", "ns", m, 1000L, LongValue(1L), Map.empty, Map.empty))
          .toOption.get.completedSuccessfully shouldBe true
      }
      // the open metric answers this payload
      other.executeSQLStatement(SqlRequest("db", "ns", "open_m", "select * from open_m"))
        .toOption.get.records should have size 1
      // an open request field does not open the metric the statement reads or writes
      val read = other.executeSQLStatement(SqlRequest("db", "ns", "open_m", "select * from secret_m"))
      read.isLeft shouldBe true
      read.swap.toOption.get should include("16")
      val write = other.executeSQLStatement(
        SqlRequest("db", "ns", "open_m", "insert into secret_m ts=2000 val=2"))
      write.isLeft shouldBe true
      write.swap.toOption.get should include("16")
      authed.executeSQLStatement(SqlRequest("db", "ns", "secret_m", "select * from secret_m"))
        .toOption.get.records should have size 1
      // nor does it subscribe to it: no snapshot, no registration
      val events = new LinkedBlockingQueue[SqlStreamingResponse]()
      val sub = other.subscribe(SqlRequest("db", "ns", "open_m", "select * from secret_m"))(events.put)
      events.poll(5, TimeUnit.SECONDS) shouldBe null
      api.hub.size shouldBe 0
      sub.close()
    } finally {
      authed.close(); other.close(); api.stop()
    }
  }

  it should "classify tags from the statement's metric when the request's metric field is empty" in {
    val root   = Files.createTempDirectory("graft_grpc_tags_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val client = new GrpcClient(port = api.start())
    try {
      client.write(RpcInsert("db", "ns", "temps", 1000L, DecimalValue(21.5),
        Map("node" -> StringValue("a")), Map("room" -> StringValue("kitchen"))))
        .toOption.get.completedSuccessfully shouldBe true
      val sel = client.executeSQLStatement(SqlRequest("db", "ns", "", "select * from temps")).toOption.get
      sel.completedSuccessfully shouldBe true
      sel.records shouldBe Seq(RpcBit(1000L, DecimalValue(21.5),
        Map("node" -> StringValue("a")), Map("room" -> StringValue("kitchen"))))
    } finally { client.close(); api.stop() }
  }

  it should "answer an unknown method with a trailers-only UNIMPLEMENTED and chunk >16 KiB responses" in {
    val root   = Files.createTempDirectory("graft_grpc_wire_").toString
    val engine = new GraftEngine(spark, Some(warehouse(root)))
    val api    = new GrpcApi(engine)
    val port   = api.start()
    val client = new GrpcClient(port = port)
    try {
      // trailers-only: grpc-status 12 with ZERO data messages before the
      // end — a real grpc-java client rejects an error that arrives after
      // response headers + data as a malformed stream
      client.rawCall("/io.radicalbit.nsdb.rpc.NSDBServiceSQL/NoSuchMethod") shouldBe (("12", 0))

      // >16 KiB unary response: one logical gRPC message larger than the
      // HTTP/2 default max frame size (16384) must arrive intact — netty
      // splits the DATA frame outbound, the client's drain() reassembles
      engine.initMetric("db", "ns", "big", 86400000L)
      val blob = "x" * 400 // 400-char dimension per row
      (1 to 100).foreach { i =>
        client.write(RpcInsert("db", "ns", "big", i.toLong, LongValue(i.toLong),
          Map("payload" -> StringValue(s"$blob$i")), Map.empty))
          .toOption.get.completedSuccessfully shouldBe true
      }
      val sel = client.executeSQLStatement(
        SqlRequest("db", "ns", "big", "select * from big order by timestamp")).toOption.get
      sel.completedSuccessfully shouldBe true
      sel.records.size shouldBe 100 // ~40 KiB of payload round-tripped
      sel.records.head.dimensions("payload") shouldBe StringValue(blob + "1")
      sel.records.last.dimensions("payload") shouldBe StringValue(blob + "100")
    } finally { client.close(); api.stop() }
  }
}
