package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.catalog.Warehouse
import graft.http.HttpApi

/** REST surface specs: query (with from/to enrichment), ingest, commands —
  * driven through a real HTTP client against the embedded server. */
class HttpApiSpec extends SparkTestBase {

  private lazy val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .header("Content-Type", "application/json")
      .build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def get(port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val res = client.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  "HttpApi" should "serve the full ingest + query + commands lifecycle" in {
    val root   = Files.createTempDirectory("graft_http_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      // ingest two records
      val (s1, b1) = post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"temps","bit":{"timestamp":1000,"value":21.5,"dimensions":{"node":"a"},"tags":{"room":"kitchen"}}}""")
      s1 shouldBe 200
      b1 should include("inserted")
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"temps","bit":{"timestamp":2000,"value":23.5,"dimensions":{"node":"b"},"tags":{"room":"cellar"}}}""")._1 shouldBe 200

      // metric listing
      val (sc, bc) = get(port, "/commands/db/ns/metrics")
      sc shouldBe 200
      bc should include("temps")

      // full command surface: dbs, namespaces, describe
      val (sd, bd) = get(port, "/commands/dbs")
      sd shouldBe 200
      bd should include(""""dbs":["db"]""")
      val (sn, bn) = get(port, "/commands/db/namespaces")
      sn shouldBe 200
      bn should include(""""namespaces":["ns"]""")
      val (sdd, bdd) = get(port, "/commands/db/ns/temps/describe")
      sdd shouldBe 200
      bdd should include(""""name":"timestamp"""")
      bdd should include(""""name":"room","type":"string","class":"tag"""")
      get(port, "/commands/db/ns/nosuch/describe")._1 shouldBe 400

      // explain: planner verdict as (property, value) rows, no execution
      val enc = java.net.URLEncoder.encode("select sum(value) from temps group by room", "UTF-8")
      val (sxp, bxp) = get(port, s"/commands/db/ns/explain?q=$enc")
      sxp shouldBe 200
      bxp should include(""""property":"plan","value":"GroupByTag"""")
      bxp should include(""""property":"tag","value":"room"""")
      get(port, s"/commands/db/ns/explain?q=${java.net.URLEncoder.encode("select nope() from temps", "UTF-8")}")._1 shouldBe 400
      get(port, "/commands/db/ns/explain")._1 shouldBe 400

      // query
      val (sq, bq) = post(port, "/query",
        """{"db":"db","namespace":"ns","queryString":"select sum(value) from temps group by room order by room"}""")
      sq shouldBe 200
      bq should include(""""room":"cellar"""")
      bq should include(""""value":23.5""")

      // from/to enrichment narrows the result
      val (se, be) = post(port, "/query",
        """{"db":"db","namespace":"ns","queryString":"select * from temps","from":1500,"to":2500}""")
      se shouldBe 200
      be should include(""""timestamp":2000""")
      be should not include """"timestamp":1000"""

      // error surfaces as 400 with a message
      val (sb, bb) = post(port, "/query",
        """{"db":"db","namespace":"ns","queryString":"select nope from temps"}""")
      sb shouldBe 400
      bb should include("does not exist")
    } finally api.stop()
  }

  it should "stream SSE subscriptions: historical first, then matching writes" in {
    val root   = Files.createTempDirectory("graft_sse_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0,"tags":{"k":"a"}}}""")._1 shouldBe 200

      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val q   = java.net.URLEncoder.encode("select * from m where value > 3", "UTF-8")
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/subscribe?db=db&namespace=ns&q=$q")).GET().build()
      client.sendAsync(req, HttpResponse.BodyHandlers.fromLineSubscriber(
        new java.util.concurrent.Flow.Subscriber[String] {
          def onSubscribe(s: java.util.concurrent.Flow.Subscription): Unit = s.request(Long.MaxValue)
          def onNext(line: String): Unit = if (line.startsWith("data: ")) received.add(line.stripPrefix("data: "))
          def onError(t: Throwable): Unit = ()
          def onComplete(): Unit = ()
        }))

      // historical event arrives first
      val hist = received.poll(20, java.util.concurrent.TimeUnit.SECONDS)
      hist should include(""""value":5.0""")
      hist should include("historical")

      // matching write is pushed, non-matching is not
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":2000,"value":9.0,"tags":{"k":"b"}}}""")._1 shouldBe 200
      val live = received.poll(20, java.util.concurrent.TimeUnit.SECONDS)
      live should include(""""value":9.0""")
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":3000,"value":1.0,"tags":{"k":"c"}}}""")._1 shouldBe 200
      received.poll(2, java.util.concurrent.TimeUnit.SECONDS) shouldBe null // filtered out
    } finally api.stop()
  }

  it should "cap and stream large query results instead of collecting them" in {
    val engine = new GraftEngine(spark)
    // 100k rows registered in-memory: far larger than the 7-row cap below
    import org.apache.spark.sql.functions._
    engine.registerMetric("db", "ns", "big",
      spark.range(100000).select(col("id"), (col("id") % 97).cast("double").as("v")),
      col("id"), col("v"), tags = Set.empty)
    val api  = new HttpApi(engine, maxResultRows = 7)
    val port = api.start()
    try {
      val (st, body) = post(port, "/query",
        """{"db":"db","namespace":"ns","queryString":"select * from big order by timestamp"}""")
      st shouldBe 200
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      tree.get("records").size() shouldBe 7 // the cap, not the 100k result
      tree.get("truncated").asBoolean() shouldBe true
      // a bounded result is not truncated
      val (st2, body2) = post(port, "/query",
        """{"db":"db","namespace":"ns","queryString":"select * from big order by timestamp limit 3"}""")
      st2 shouldBe 200
      val t2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body2)
      t2.get("records").size() shouldBe 3
      t2.get("truncated").asBoolean() shouldBe false
    } finally api.stop()
  }

  /** The rendering `/query` used before its single bounded collect: rows
    * drained through `toJSON.toLocalIterator` up to the cap. */
  private def toJsonRendering(df: org.apache.spark.sql.DataFrame, cap: Int): String = {
    val it = df.toJSON.toLocalIterator()
    val sb = new StringBuilder("""{"records":[""")
    var n  = 0
    while (it.hasNext && n < cap) {
      if (n > 0) sb.append(',')
      sb.append(it.next()); n += 1
    }
    sb.append("""],"truncated":""").append(it.hasNext).append('}').toString
  }

  it should "answer /query byte-identically to the toJSON rendering for every plan shape" in {
    import spark.implicits._
    val root   = Files.createTempDirectory("graft_http_parity_").toString
    val wh     = new Warehouse(spark, root)
    val engine = new GraftEngine(spark, Some(wh))
    val day    = 86400000L
    // four day-shards; `name` is null on some rows, so null fields are dropped
    // from those objects exactly as toJSON drops them
    wh.append(graft.catalog.Coords("db", "ns", "shapes"), Seq(
      (0 * day + 100L, 1.5, Some("ann"), "x"),
      (0 * day + 200L, 2.5, None, "y"),
      (1 * day + 100L, 3.5, Some("bob"), "x"),
      (1 * day + 300L, 4.5, Some("ann"), "y"),
      (2 * day + 100L, 5.5, None, "x"),
      (3 * day + 100L, 6.5, Some("cy"), "y")
    ).toDF("timestamp", "value", "name", "grp"), tags = Set("grp", "name")).fold(fail(_), identity)
    val statements = Seq(
      "select * from shapes",                                                            // plain
      "select * from shapes order by timestamp desc limit 3",                            // ordered-limit
      s"select * from shapes where timestamp >= ${day} and timestamp < ${3 * day} order by timestamp", // time range
      "select count(*), sum(*), min(*), max(*), avg(*) from shapes",                     // global
      "select value, name, value from shapes order by timestamp",                        // repeated column
      "select sum(value) from shapes group by grp order by grp",                         // tag
      "select count(distinct name) from shapes group by grp order by grp",               // count distinct
      s"select count(*) from shapes where timestamp in (0, ${4 * day}) group by interval 1 d" // interval
    )
    for (cap <- Seq(10000, 2)) {
      val api  = new HttpApi(engine, maxResultRows = cap)
      val port = api.start()
      try statements.foreach { q =>
        val (st, body) = post(port, "/query", s"""{"db":"db","namespace":"ns","queryString":"$q"}""")
        withClue(s"$q (cap $cap): ") {
          st shouldBe 200
          body shouldBe toJsonRendering(engine.sql("db", "ns", q)(graft.plan.TimeContext(0L)).fold(fail(_), identity), cap)
        }
      } finally api.stop()
    }
  }

  it should "render frames with names that need quoting and nulls like toJSON" in {
    import spark.implicits._
    val df = Seq((1L, Some("a"), Some(Seq(1, 2))), (2L, None, None), (3L, Some("c"), Some(Seq.empty[Int])))
      .toDF("dotted.name", "we`ird col", "arr")
    val render = (d: org.apache.spark.sql.DataFrame, cap: Int) =>
      HttpApi.records(d, cap, """{"records":[""", t => s"""],"truncated":$t}""")
    for (cap <- Seq(1, 3, 5)) render(df, cap) shouldBe toJsonRendering(df, cap)
    // two columns under one name, as two aggregates of one kind answer
    val dup = df.select(org.apache.spark.sql.functions.col("`dotted.name`").as("n"), df("arr").as("n"))
    render(dup, 5) shouldBe toJsonRendering(dup, 5)
    render(df.limit(0), 5) shouldBe """{"records":[],"truncated":false}"""
  }

  it should "answer select * limit 1 over a multi-shard metric with one job and one task" in {
    import spark.implicits._
    val root   = Files.createTempDirectory("graft_http_limit1_").toString
    val wh     = new Warehouse(spark, root)
    val engine = new GraftEngine(spark, Some(wh))
    val day    = 86400000L
    (0 until 6).foreach { d =>
      wh.append(graft.catalog.Coords("db", "ns", "wide"),
        Seq((d * day + 100L, d.toDouble, "x"), (d * day + 200L, d + 0.5, "y")).toDF("timestamp", "value", "grp"),
        tags = Set("grp")).fold(fail(_), identity)
    }
    val api  = new HttpApi(engine)
    val port = api.start()
    val jobs  = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet(); ()
      }
    }
    val q = """{"db":"db","namespace":"ns","queryString":"select * from wide limit 1"}"""
    try {
      post(port, "/query", q)._1 shouldBe 200 // warm: resolve + cache the metric
      Thread.sleep(500)                        // let the listener bus drain
      spark.sparkContext.addSparkListener(listener)
      val (st, body) = post(port, "/query", q)
      st shouldBe 200
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(body).get("records").size() shouldBe 1
      Thread.sleep(500)
      jobs.get() shouldBe 1
      tasks.get() shouldBe 1
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      api.stop()
    }
  }

  it should "push a live write only to subscriptions on the written metric" in {
    val root   = Files.createTempDirectory("graft_sse_scope_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      Seq("ma", "mb").foreach { m =>
        post(port, "/data",
          s"""{"db":"db","namespace":"ns","metric":"$m","bit":{"timestamp":1000,"value":1.0}}""")._1 shouldBe 200
      }
      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val q   = java.net.URLEncoder.encode("select * from ma where value > 3", "UTF-8")
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/subscribe?db=db&namespace=ns&q=$q")).GET().build()
      client.sendAsync(req, HttpResponse.BodyHandlers.fromLineSubscriber(
        new java.util.concurrent.Flow.Subscriber[String] {
          def onSubscribe(s: java.util.concurrent.Flow.Subscription): Unit = s.request(Long.MaxValue)
          def onNext(line: String): Unit = if (line.startsWith("data: ")) received.add(line.stripPrefix("data: "))
          def onError(t: Throwable): Unit = ()
          def onComplete(): Unit = ()
        }))
      received.poll(20, java.util.concurrent.TimeUnit.SECONDS) should include("historical")
      // a write to metric mb matches the predicate but is not ma's
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"mb","bit":{"timestamp":2000,"value":8.0}}""")._1 shouldBe 200
      received.poll(2, java.util.concurrent.TimeUnit.SECONDS) shouldBe null
      // the same write to ma arrives
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"ma","bit":{"timestamp":3000,"value":9.0}}""")._1 shouldBe 200
      received.poll(20, java.util.concurrent.TimeUnit.SECONDS) should include(""""value":9.0""")
    } finally api.stop()
  }

  it should "answer /query on an initialized, empty metric with an empty result" in {
    val root   = Files.createTempDirectory("graft_http_empty_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      engine.initMetric("db", "ns", "m", 86400000L) shouldBe Right(())
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"db":"db","namespace":"ns","queryString":"select * from m"}"""))
        .header("Content-Type", "application/json")
        .timeout(java.time.Duration.ofSeconds(30))
        .build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      withClue(res.body()) {
        res.statusCode() shouldBe 200
        res.body() should include(""""records":[]""")
      }
    } finally api.stop()
  }

  it should "answer /health with SERVING up and NOT_SERVING down, never hanging on a stalled probe" in {
    val root   = Files.createTempDirectory("graft_health_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      // healthy: live SparkContext + reachable warehouse root
      val (s1, b1) = get(port, "/health")
      s1 shouldBe 200
      b1 should include(""""status":"SERVING"""")
      b1 should include(""""warehouse":"reachable"""")
      // a probe already in flight (stalled filesystem) answers 503 at once
      // instead of stacking another blocked handler thread behind it
      api.healthProbeBusy.set(true)
      val (s2, b2) = get(port, "/health")
      s2 shouldBe 503
      b2 should include(""""status":"NOT_SERVING"""")
      b2 should include("still in flight")
      api.healthProbeBusy.set(false)
      // a vanished warehouse root flips to NOT_SERVING with the reason
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      val (s3, b3) = get(port, "/health")
      s3 shouldBe 503
      b3 should include("warehouse root missing")
    } finally api.stop()
  }

  it should "reject a malformed refresh_ms with 400 before any SSE bytes go out" in {
    val root   = Files.createTempDirectory("graft_http_refresh_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      val q = java.net.URLEncoder.encode("select * from m", "UTF-8")
      val (s1, b1) = get(port, s"/subscribe?db=db&namespace=ns&q=$q&refresh_ms=abc")
      s1 shouldBe 400
      b1 should include("refresh_ms")
      get(port, s"/subscribe?db=db&namespace=ns&q=$q&refresh_ms=0")._1 shouldBe 400
      get(port, s"/subscribe?db=db&namespace=ns&q=$q&refresh_ms=-7")._1 shouldBe 400
    } finally api.stop()
  }

  it should "re-push aggregated subscriptions periodically" in {
    val root   = Files.createTempDirectory("graft_sse_agg_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":5.0,"tags":{"k":"a"}}}""")._1 shouldBe 200
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":2000,"value":7.0,"tags":{"k":"a"}}}""")._1 shouldBe 200

      val received = new java.util.concurrent.LinkedBlockingQueue[String]()
      val q = java.net.URLEncoder.encode("select sum(value) from m group by k", "UTF-8")
      val req = HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/subscribe?db=db&namespace=ns&q=$q&refresh_ms=500")).GET().build()
      client.sendAsync(req, HttpResponse.BodyHandlers.fromLineSubscriber(
        new java.util.concurrent.Flow.Subscriber[String] {
          def onSubscribe(s: java.util.concurrent.Flow.Subscription): Unit = s.request(Long.MaxValue)
          def onNext(line: String): Unit = if (line.startsWith("data: ")) received.add(line.stripPrefix("data: "))
          def onError(t: Throwable): Unit = ()
          def onComplete(): Unit = ()
        }))

      val first = received.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      first should include(""""value":12.0""") // 5 + 7 for tag a
      // a new write shows up in a later re-push
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":3000,"value":3.0,"tags":{"k":"a"}}}""")._1 shouldBe 200
      val deadline = System.currentTimeMillis() + 30000
      var updated  = false
      while (!updated && System.currentTimeMillis() < deadline) {
        val ev = received.poll(5, java.util.concurrent.TimeUnit.SECONDS)
        if (ev != null && ev.contains(""""value":15.0""")) updated = true
      }
      updated shouldBe true
      // the scheduler is tracked while live and closed by stop() — a leaked
      // scheduler would keep re-running the query after shutdown
      api.periodicSubscriberCount shouldBe 1
    } finally api.stop()
    api.periodicSubscriberCount shouldBe 0
  }

  it should "reject a /data bit without a numeric value" in {
    val root   = Files.createTempDirectory("graft_http_badval_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      // missing value → 400, nothing inserted (not a silent 0.0 record)
      val (s1, b1) = post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"mbad","bit":{"timestamp":1000,"tags":{"k":"a"}}}""")
      s1 shouldBe 400
      b1 should include("value")
      // non-numeric value → 400
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"mbad","bit":{"timestamp":1000,"value":"oops"}}""")._1 shouldBe 400
      engine.command("db", "ns", graft.sql.Ast.ShowMetrics).fold(fail(_), identity) shouldBe empty
      // a proper bit still lands
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"mbad","bit":{"timestamp":1000,"value":4.5}}""")._1 shouldBe 200
    } finally api.stop()
  }

  it should "enforce the pluggable authorization provider per scope with 403s" in {
    val root   = Files.createTempDirectory("graft_http_auth_").toString
    val engine = new GraftEngine(spark, Some(new Warehouse(spark, root)))
    val api    = new HttpApi(engine, auth = new TestAuthProvider)
    val port   = api.start()
    def postAuthed(path: String, body: String, token: Option[String]): (Int, String) = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .header("Content-Type", "application/json")
      token.foreach(b.header("X-Auth-Token", _)) // mixed case: names lower-case on extract
      val res = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      (res.statusCode(), res.body())
    }
    try {
      // /data write denied at metric scope — nothing inserted
      val ins = """{"db":"db","namespace":"ns","metric":"secret_m","bit":{"timestamp":1000,"value":1.5}}"""
      val (sw, bw) = postAuthed("/data", ins, None)
      sw shouldBe 403
      bw should include("not authorized")
      bw should include("metric secret_m")
      engine.command("db", "ns", graft.sql.Ast.ShowMetrics).fold(fail(_), identity) shouldBe empty
      // with credentials the same write lands
      postAuthed("/data", ins, Some("token"))._1 shouldBe 200
      // /query denied at metric scope; authorized with the token
      val q = """{"db":"db","namespace":"ns","queryString":"select * from secret_m"}"""
      val (sq, bq) = postAuthed("/query", q, None)
      sq shouldBe 403
      bq should include("not authorized")
      postAuthed("/query", q, Some("token"))._1 shouldBe 200
      // /subscribe denied BEFORE any SSE prefix: a clean 403 response
      val enc = java.net.URLEncoder.encode("select * from secret_m", "UTF-8")
      val (ss, bs) = get(port, s"/subscribe?db=db&namespace=ns&q=$enc")
      ss shouldBe 403
      bs should include("not authorized")
      api.liveSubscriberCount shouldBe 0
      // commands: db scope (namespace listing), namespace scope (metric
      // listing), metric scope (describe), namespace scope (explain)
      get(port, "/commands/secret_db/namespaces")._1 shouldBe 403
      get(port, "/commands/db/secret_ns/metrics")._1 shouldBe 403
      get(port, "/commands/db/ns/secret_m/describe")._1 shouldBe 403
      get(port, s"/commands/db/secret_ns/explain?q=$enc")._1 shouldBe 403
      // open scopes stay open with no credentials at all
      get(port, "/commands/db/ns/metrics")._1 shouldBe 200
    } finally api.stop()
  }

  it should "expose the last maintenance sweep over /commands/maintenance" in {
    val root   = Files.createTempDirectory("graft_http_maint_").toString
    val wh     = new Warehouse(spark, root)
    val engine = new GraftEngine(spark, Some(wh))
    val api    = new HttpApi(engine)
    val port   = api.start()
    try {
      post(port, "/data",
        """{"db":"db","namespace":"ns","metric":"m","bit":{"timestamp":1000,"value":1.0}}""")._1 shouldBe 200
      graft.catalog.Maintenance.runOnce(wh)(graft.plan.TimeContext(System.currentTimeMillis()))
      val (s, b) = get(port, "/commands/maintenance")
      s shouldBe 200
      b should include(""""metricsSwept":""")
      b should include(""""errors":[]""")
    } finally api.stop()
  }
}
