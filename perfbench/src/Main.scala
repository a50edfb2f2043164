package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{GraftEngine, GraftSession, SparkEntry}
import graft.catalog.{Coords, Warehouse}
import graft.exec.Executor
import graft.http.HttpApi
import graft.pipeline.Checkpoints
import graft.plan.{Planner, TimeContext}
import graft.sql.{Ast, SqlParser}

/** One read: which phase and client sent it, which statement, when (ms since
  * the run's origin), how long to the last body byte, the HTTP status (-1 for
  * a client-side failure), the interned body, and how many writes were
  * acknowledged before the send and sent before the reply. */
final case class ReadOp(phase: Int, client: Int, stmt: Int, sendMs: Double, latMs: Double,
                        status: Int, body: Int, ackedBefore: Int, sentBefore: Int)

/** One open-loop write: its index in the schedule, when it was due, when it
  * went out and when it was acknowledged (ms since origin). */
final case class WriteOp(phase: Int, index: Int, dueMs: Double, sendMs: Double, ackMs: Double, status: Int)

/** What the traced read path learned about one request, beyond its spans:
  * wall-clock bounds (to set against task spans), files its scans opened,
  * and Catalyst's phase times. */
final case class ReqTrace(stmt: Int, startWall: Long, endWall: Long, files: Long,
                          analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** One gate run of batch_board; `answer` is the interned result (-1 when it threw). */
final case class GateRun(phase: Int, pass: Int, gate: String, startMs: Double, wallMs: Double, answer: Int, error: String)

/**
 * Load generator and trace collector for graft's benchmark. It reads the
 * inputs `perfbench/inputs.py` generated (argument 1), drives graft only
 * through its public entry points, and writes raw records and per-layer
 * figures as JSON (argument 2). `run.py` checks the answers and computes the
 * reported metrics.
 *
 * Phases: phase 0 is the measured run (`seconds` long, tracing off). A
 * traced run (`trace` = 1) shortens phase 0 to half, then repeats the same
 * load for half with the Spark listener attached (phase 1, whose latency
 * against phase 0 gives the tracing overhead), then replays the load
 * in-process for `seconds` with a span around every layer call and one job
 * group per request (phase 2).
 */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Paths.get(args(0)).toFile)
    val out  = new java.util.LinkedHashMap[String, Any]()
    val code =
      try {
        val run = new Run(spec, out)
        try run.workload() finally run.close()
        Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }
}

final class Run(spec: JsonNode, out: java.util.LinkedHashMap[String, Any]) {
  private val mapper   = new ObjectMapper()
  private val origin   = System.nanoTime()
  private def nowMs    = (System.nanoTime() - origin) / 1e6
  private val work     = spec.get("work").asText()
  private val dataDir  = spec.get("data_dir").asText()
  private val seconds  = spec.get("seconds").asDouble()
  private val traced   = spec.get("trace").asInt() == 1
  private val cores    = spec.get("cores").asInt()
  private val rows     = spec.get("rows").asLong()
  private val db       = spec.get("db").asText()
  private val ns       = spec.get("namespace").asText()
  private val coords   = Coords(db, ns, spec.get("metric").asText())

  private val spark: SparkSession = {
    val s = GraftSession.builder(cores).master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private val sc = spark.sparkContext
  // JVM start to a usable session, counted once into setup_s
  out.put("session_s", (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)

  private val listener = new TraceListener
  private val layers   = new java.util.LinkedHashMap[String, Double]()
  private var api: HttpApi = _

  def close(): Unit = {
    if (api != null) api.stop()
    spark.stop()
  }

  def workload(): Unit = spec.get("workload").asText() match {
    case "serve_read" | "serve_mixed" => serve(mixed = spec.get("workload").asText() == "serve_mixed")
    case "batch_board"                => batch()
    case other                        => sys.error(s"unknown workload $other")
  }

  /** Phase lengths in seconds: (measured untraced, listener-only, in-process traced). */
  private def phaseSeconds: Seq[Double] = if (traced) Seq(seconds / 2, seconds / 2, seconds) else Seq(seconds)

  /** Set-up: `build` runs spec.setups times (the earlier results torn
    * down by `teardown`, the last one kept), then `warm` runs once. The
    * reported set-up time is the session start, plus the median build,
    * plus the warm-up. */
  private def setUp[T](build: Int => T)(teardown: T => Unit)(warm: T => Unit): T = {
    val durations = new java.util.ArrayList[Double]()
    var last: T = null.asInstanceOf[T]
    (0 until spec.get("setups").asInt()).foreach { k =>
      if (k > 0) teardown(last)
      val t0 = nowMs
      last = build(k)
      durations.add((nowMs - t0) / 1000.0)
    }
    val t0 = nowMs
    warm(last)
    out.put("setup_runs_s", durations)
    out.put("warmup_s", (nowMs - t0) / 1000.0)
    last
  }

  // ---------------------------------------------------------------- serving

  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private var port = 0
  private val clientDeadline = Duration.ofSeconds(30)

  private def post(path: String, body: String): (Int, String) = {
    val r = http.send(request(path, body), HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def request(path: String, body: String): HttpRequest =
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).timeout(clientDeadline)
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()

  private def json(fields: (String, Any)*): String = mapper.writeValueAsString(fields.toMap.asJava)

  private val statements = Option(spec.get("statements")).map(_.asScala.map(_.get("q").asText()).toIndexedSeq)
    .getOrElse(IndexedSeq.empty)
  private val orders = Option(spec.get("orders")).map(_.asScala.map(_.asScala.map(_.asInt()).toArray).toIndexedSeq)
    .getOrElse(IndexedSeq.empty)
  private val cursors = Array.fill(orders.size)(0)

  private val reads  = new ConcurrentLinkedQueue[ReadOp]()
  private val bodies   = new ConcurrentHashMap[(Int, String), Integer]()
  private val bodyIds  = new AtomicInteger()
  private def intern(stmt: Int, body: String): Int =
    bodies.computeIfAbsent((stmt, body), _ => bodyIds.getAndIncrement()).intValue()

  private val writes = Option(spec.get("writes")).map(_.asScala.toIndexedSeq).getOrElse(IndexedSeq.empty)
  private var writeCursor = 0
  private val writeOps    = new ConcurrentLinkedQueue[WriteOp]()
  private val writesSent  = new AtomicInteger()
  private val writesAcked = new AtomicInteger()
  private val pushes      = new ConcurrentLinkedQueue[(Long, Double)]()

  private def loadWarehouse(root: String): (Warehouse, GraftEngine) = {
    val wh  = new Warehouse(spark, root)
    val raw = spark.read.parquet(s"$dataDir/events.parquet")
    val df  = raw.select(expr("unix_micros(cast(ts as timestamp)) div 1000").as("timestamp"),
      col("value"), col("event_id"), col("event_type"), col("user_id"))
    val n = wh.append(coords, df, Set("event_type", "user_id")).fold(e => sys.error(e), identity)
    require(n == rows, s"loaded $n rows, expected $rows")
    (wh, new GraftEngine(spark, Some(wh)))
  }

  private def writeBody(w: JsonNode, metric: String): String = json(
    "db" -> db, "namespace" -> ns, "metric" -> metric,
    "bit" -> Map[String, Any](
      "timestamp" -> w.get("timestamp").asLong(), "value" -> w.get("value").asDouble(),
      "dimensions" -> Map("event_id" -> w.get("event_id").asLong()).asJava,
      "tags" -> Map[String, Any]("event_type" -> spec.get("probe").asText(),
        "user_id" -> w.get("user_id").asLong()).asJava).asJava)

  private def serve(mixed: Boolean): Unit = {
    val (wh, engine) = setUp { k =>
      val (wh, engine) = loadWarehouse(s"$work/warehouse$k")
      api = new HttpApi(engine)
      port = api.start()
      (wh, engine)
    } { case (wh, _) =>
      api.stop()
      deleteTree(Paths.get(wh.root))
    } { _ =>
      // the measured load, unrecorded, for warm_seconds: latency keeps
      // falling for the first ~15 s of load while the JIT compiles the hot
      // paths. serve_mixed's writes go to a side metric here, so the loaded
      // data stays as generated.
      val deadline = System.nanoTime() + (spec.get("warm_seconds").asDouble() * 1e9).toLong
      val side = if (!mixed) None else Some(new Thread(() => {
        var j = 0
        while (System.nanoTime() < deadline) {
          post("/data", writeBody(writes(j % writes.size), coords.metric + "_warm"))
          j += 1
          Thread.sleep((1000 / spec.get("write_rate").asDouble()).toLong)
        }
      }))
      val readers = orders.map(order => new Thread(() => {
        var i = 0
        while (System.nanoTime() < deadline) {
          post("/query", json("db" -> db, "namespace" -> ns, "queryString" -> statements(order(i % order.length))))
          i += 1
        }
      }))
      (side.toSeq ++ readers).foreach(_.start())
      (side.toSeq ++ readers).foreach(_.join())
    }

    val sse = if (mixed) Some(subscribe()) else None
    val gc0 = Jvm.gcMs
    val phases = phaseSeconds
    phases.indices.foreach { phase =>
      val inProcess = phase == 2
      if (phase == 1) sc.addSparkListener(listener)
      val startNs    = System.nanoTime()
      val deadlineNs = startNs + (phases(phase) * 1e9).toLong
      val exec: (Int, Int) => (Int, String) =
        if (inProcess) (client, s) => tracedRead(wh, engine, s"q$phase.$client.${cursors(client)}", s)
        else (_, s) => post("/query", json("db" -> db, "namespace" -> ns, "queryString" -> statements(s)))
      val writer = if (mixed) Some(startWriter(phase, startNs, deadlineNs, wh)) else None
      val readers = orders.indices.map { c =>
        val t = new Thread(() => readLoop(phase, c, deadlineNs, exec), s"bench-reader-$c")
        t.start(); t
      }
      readers.foreach(_.join())
      writer.foreach(_.join())
      if (phase == 1) { listener.drain(); recordHttpCounters() }
    }
    out.put("gc_ms", Jvm.gcMs - gc0)
    if (mixed) {
      // pushes trail their acks by at most a few flush periods
      Thread.sleep(1000)
      out.put("subscribers_end", api.liveSubscriberCount)
      sse.foreach(_.close())
    }
    filesReport(wh)
    if (traced) { listener.drain(); spanReport() }
    out.put("heap_live_mb", Jvm.heapLiveMb)
    out.put("codecache_mb", Jvm.codeCacheMb)
    out.put("reads", reads.asScala.toSeq.sortBy(_.sendMs).map(r =>
      Seq[Any](r.phase, r.client, r.stmt, r.sendMs, r.latMs, r.status, r.body, r.ackedBefore, r.sentBefore).asJava).asJava)
    out.put("bodies", bodies.asScala.map { case ((s, b), id) => Seq(id.intValue(), s, b).asJava }.toSeq.asJava)
    out.put("writes", writeOps.asScala.toSeq.sortBy(_.index).map(w =>
      Seq[Any](w.phase, w.index, w.dueMs, w.sendMs, w.ackMs, w.status).asJava).asJava)
    out.put("pushes", pushes.asScala.toSeq.map { case (id, t) => Seq[Any](id, t).asJava }.asJava)
    out.put("layers", layers)
  }

  private def readLoop(phase: Int, client: Int, deadlineNs: Long, exec: (Int, Int) => (Int, String)): Unit = {
    val order = orders(client)
    while (System.nanoTime() < deadlineNs) {
      val s     = order(cursors(client) % order.length)
      val acked = writesAcked.get()
      val t0    = nowMs
      val (status, body) = Try(exec(client, s)).fold(e => (-1, e.toString), identity)
      val lat   = nowMs - t0
      reads.add(ReadOp(phase, client, s, t0, lat, status, intern(s, body), acked, writesSent.get()))
      cursors(client) += 1
    }
  }

  /** Open-loop writer: write j of a phase is due at phase start + j / rate
    * and goes out then, whether or not earlier writes have been answered. */
  private def startWriter(phase: Int, startNs: Long, deadlineNs: Long, wh: Warehouse): Thread = {
    val rate = spec.get("write_rate").asDouble()
    val inProcess = phase == 2
    // in-process inserts serialize on the metric's write lock anyway; one
    // thread queues them exactly as the server's pool would
    val pool = if (inProcess) Some(Executors.newSingleThreadExecutor()) else None
    val t = new Thread(() => {
      val pending = new java.util.ArrayList[CompletableFuture[Int]]()
      var j = 0
      var due = startNs
      while (due < deadlineNs && writeCursor < writes.size) {
        while (System.nanoTime() < due) LockSupport.parkNanos(due - System.nanoTime())
        val index = writeCursor
        val w     = writes(index)
        writeCursor += 1
        val dueMs  = (due - origin) / 1e6
        val sendMs = nowMs
        writesSent.incrementAndGet()
        val f: CompletableFuture[Int] = pool match {
          case None =>
            http.sendAsync(request("/data", writeBody(w, coords.metric)), HttpResponse.BodyHandlers.ofString())
              .thenApply[Int](_.statusCode())
          case Some(p) => CompletableFuture.supplyAsync(() => tracedWrite(wh, s"w$index", w), p)
        }
        pending.add(f.whenComplete { (status, err) =>
          val ok = err == null && status == 200
          if (ok) writesAcked.incrementAndGet()
          writeOps.add(WriteOp(phase, index, dueMs, sendMs, nowMs, if (err == null) status else -1))
        })
        j += 1
        due = startNs + (j * 1e9 / rate).toLong
      }
      pending.forEach(f => Try(f.get(30, TimeUnit.SECONDS)))
      pool.foreach(_.shutdown())
    }, s"bench-writer-$phase")
    t.start()
    t
  }

  private final class Sse(stream: java.io.InputStream, reader: Thread) {
    def close(): Unit = { Try(stream.close()); reader.join(5000) }
  }

  /** Opens the SSE subscription and waits until the server has registered it. */
  private def subscribe(): Sse = {
    val q   = URLEncoder.encode(spec.get("subscribe_q").asText(), UTF_8)
    val uri = URI.create(s"http://127.0.0.1:$port/subscribe?db=$db&namespace=$ns&q=$q")
    val resp = http.send(HttpRequest.newBuilder(uri).GET().build(), HttpResponse.BodyHandlers.ofInputStream())
    require(resp.statusCode() == 200, s"subscribe answered ${resp.statusCode()}")
    val historical = new java.util.concurrent.CountDownLatch(1)
    val reader = new Thread(() => {
      val in = new BufferedReader(new InputStreamReader(resp.body(), UTF_8))
      Try {
        var line = in.readLine()
        while (line != null) {
          if (line.startsWith("data: ")) {
            val event = mapper.readTree(line.substring(6))
            if (event.has("historical")) historical.countDown()
            else pushes.add((event.get("event_id").asLong(), nowMs))
          }
          line = in.readLine()
        }
      }
    }, "bench-sse")
    reader.start()
    require(historical.await(30, TimeUnit.SECONDS), "subscription sent no historical event")
    while (api.liveSubscriberCount < 1) Thread.sleep(10)
    new Sse(resp.body(), reader)
  }

  // ------------------------------------------------------- traced replays

  private val reqTraces = new ConcurrentHashMap[String, ReqTrace]()
  private object Plans extends AdaptiveSparkPlanHelper

  private def phaseMs(df: org.apache.spark.sql.Dataset[_], phase: String): Double =
    df.queryExecution.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** The read path of `POST /query`, called layer by layer in-process with
    * a span around each call and the request's jobs under its own group. */
  private def tracedRead(wh: Warehouse, engine: GraftEngine, rid: String, s: Int): (Int, String) = {
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    val wall0 = System.currentTimeMillis()
    sc.setJobGroup(rid, rid, interruptOnCancel = false)
    try {
      val (body, jsonDf, df) = Spans("request", rid) {
        val sel = Spans("sql.parse", rid)(SqlParser.parse(db, ns, statements(s)))
          .fold(e => sys.error(e), identity).asInstanceOf[Ast.SelectStatement]
        val ref  = Spans("catalog.read", rid)(wh.read(coords)).fold(e => sys.error(e), identity)
        val plan = Spans("plan.plan", rid)(Planner.plan(sel, ref.schema)).fold(e => sys.error(e), identity)
        val df   = Spans("exec.build", rid)(Executor.execute(plan, ref, tc, engine.execConfig))
        val js   = df.toJSON
        Spans("catalyst", rid)(js.queryExecution.executedPlan)
        val body = Spans("http.drain", rid) {
          val sb = new StringBuilder("""{"records":[""")
          val it = js.toLocalIterator()
          var n  = 0
          while (it.hasNext && n < 10000) { if (n > 0) sb.append(','); sb.append(it.next()); n += 1 }
          sb.append(s"""],"truncated":${it.hasNext}}""").toString
        }
        (body, js, df)
      }
      val files = Plans.collect(jsonDf.queryExecution.executedPlan) {
        case p: SparkPlan if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum
      reqTraces.put(rid, ReqTrace(s, wall0, System.currentTimeMillis(), files,
        phaseMs(df, "analysis") + phaseMs(jsonDf, "analysis"),
        phaseMs(jsonDf, "optimization"), phaseMs(jsonDf, "planning")))
      (200, body)
    } finally sc.clearJobGroup()
  }

  /** The write path of `POST /data` in-process: the warehouse insert, then
    * the fan-out to live subscribers, each under a span. */
  private def tracedWrite(wh: Warehouse, rid: String, w: JsonNode): Int = {
    implicit val tc: TimeContext = TimeContext(System.currentTimeMillis())
    val dims = Map[String, Any]("event_id" -> w.get("event_id").asLong())
    val tags = Map[String, Any]("event_type" -> spec.get("probe").asText(), "user_id" -> w.get("user_id").asLong())
    val ts   = w.get("timestamp").asLong()
    val v    = w.get("value").asDouble()
    sc.setJobGroup(rid, rid, interruptOnCancel = false)
    try Spans("write", rid) {
      Spans("catalog.append", rid)(wh.insert(Ast.InsertStatement(db, ns, coords.metric, Some(ts), dims, tags, v)))
        .fold(e => sys.error(e), identity)
      Spans("pubsub.publish", rid)(api.hub.publish(Map[String, Any]("timestamp" -> ts, "value" -> v) ++ dims ++ tags))
      200
    } finally sc.clearJobGroup()
  }

  /** Jobs and tasks per request of the listener-only HTTP phase. */
  private def recordHttpCounters(): Unit = {
    val c = listener.counters(TraceListener.NoGroup)
    val n = math.max(1, reads.asScala.count(_.phase == 1))
    layers.put("http.jobs_per_request", c.jobs.get.toDouble / n)
    layers.put("http.tasks_per_request", c.tasks.get.toDouble / n)
  }

  private def spanReport(): Unit = {
    val spans = Spans.all
    val self  = Spans.selfMs(spans)
    def meanSelf(name: String): Double = Stats.mean(spans.filter(_.name == name).map(s => self(s.id)))
    def groups(prefix: String) = listener.byGroup.asScala.filter(_._1.startsWith(prefix)).toSeq
    val reqs = reqTraces.asScala.toSeq
    val q    = groups("q")
    val nq   = math.max(1, q.size).toDouble
    Seq("sql.parse", "catalog.read", "plan.plan", "exec.build", "http.drain")
      .foreach(n => layers.put(s"$n" + "_ms", meanSelf(n)))
    layers.put("catalyst.analysis_ms", Stats.mean(reqs.map(_._2.analysisMs)))
    layers.put("catalyst.optimization_ms", Stats.mean(reqs.map(_._2.optimizationMs)))
    layers.put("catalyst.planning_ms", Stats.mean(reqs.map(_._2.planningMs)))
    layers.put("spark.jobs_per_query", q.map(_._2.jobs.get).sum / nq)
    layers.put("spark.stages_per_query", q.map(_._2.stages.get).sum / nq)
    layers.put("spark.tasks_per_query", q.map(_._2.tasks.get).sum / nq)
    layers.put("spark.task_run_ms_per_query", q.map(_._2.runMs.get).sum / nq)
    layers.put("spark.task_cpu_ms_per_query", q.map(_._2.cpuNs.get).sum / 1e6 / nq)
    layers.put("spark.driver_ms_per_query", Stats.mean(reqs.map { case (rid, r) =>
      val spans = Option(listener.byGroup.get(rid)).map(_.taskSpans.asScala).getOrElse(Nil)
      (r.endWall - r.startWall - TraceListener.covered(spans, r.startWall, r.endWall)).toDouble
    }))
    layers.put("catalog.files_scanned_per_query", Stats.mean(reqs.map(_._2.files.toDouble)))
    // per-statement in-process latency, for http.overhead_ms
    out.put("inproc_request_ms", spans.filter(s => s.name == "request" && reqTraces.containsKey(s.rid)).map(s =>
      Seq[Any](reqTraces.get(s.rid).stmt, s.ms).asJava).asJava)
    val appends = spans.filter(_.name == "catalog.append").map(_.ms)
    if (appends.nonEmpty) {
      val w  = groups("w")
      val nw = math.max(1, w.size).toDouble
      layers.put("catalog.append_ms_p50", Stats.pct(appends, 50))
      layers.put("catalog.append_ms_p95", Stats.pct(appends, 95))
      layers.put("pubsub.publish_ms", meanSelf("pubsub.publish"))
      layers.put("spark.jobs_per_insert", w.map(_._2.jobs.get).sum / nw)
      layers.put("spark.tasks_per_insert", w.map(_._2.tasks.get).sum / nw)
    }
    writeSpans(spans)
  }

  private def writeSpans(spans: Seq[Span]): Unit =
    Files.write(Paths.get(s"$work/spans.jsonl"), spans.sortBy(_.id).map(s =>
      mapper.writeValueAsString(Map("id" -> s.id, "name" -> s.name, "rid" -> s.rid, "parent" -> s.parent,
        "start_ns" -> (s.startNs - origin), "end_ns" -> (s.endNs - origin)).asJava)).asJava)

  private def filesReport(wh: Warehouse): Unit = {
    val data = Paths.get(coords.path(wh.root), "data")
    val perShard = Files.list(data).iterator().asScala.filter(p => Files.isDirectory(p)).map { shard =>
      Files.list(shard).iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet"))
    }.toSeq
    layers.put("catalog.data_files_end", perShard.sum.toDouble)
    layers.put("catalog.files_per_shard_max", perShard.max.toDouble)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  // ---------------------------------------------------------- batch_board

  private def batch(): Unit = {
    val gates   = spec.get("gates").asScala.map(_.asText()).toIndexedSeq
    val orders  = spec.get("pass_orders").asScala.map(_.asScala.map(_.asInt()).toIndexedSeq).toIndexedSeq
    val queries = SparkEntry.queries
    var pass    = 0
    setUp { k =>
      if (k > 0) SparkEntry.releaseShared(spark, dataDir)
      SparkEntry.prebuildShared(spark, dataDir)
    } { _ => () } { _ =>
      // untimed passes at full size for warm_seconds: pass walls keep
      // falling for the first ~3 passes while the JIT compiles (graft's
      // Bench warms up over a 1000-row table; its first timed pass still
      // ran ~30% slower)
      // (no pass starts that the last one's length says would end past it)
      val deadline = System.nanoTime() + (spec.get("warm_seconds").asDouble() * 1e9).toLong
      var lastNs   = 0L
      while (pass == 0 || System.nanoTime() + lastNs < deadline) {
        val t0 = System.nanoTime()
        orders(pass % orders.size).foreach(i => answer(queries(gates(i))(spark, dataDir)))
        lastNs = System.nanoTime() - t0
        pass += 1
      }
    }

    val runs = new java.util.ArrayList[GateRun]()
    val gc0  = Jvm.gcMs
    val phases = if (traced) Seq(seconds / 2, seconds) else Seq(seconds)
    phases.indices.foreach { phase =>
      if (phase == 1) sc.addSparkListener(listener)
      val deadline = System.nanoTime() + (phases(phase) * 1e9).toLong
      while (System.nanoTime() < deadline) {
        orders(pass % orders.size).foreach { i =>
          val g   = gates(i)
          val rid = s"g$pass.$g"
          if (phase == 1) sc.setJobGroup(rid, rid, interruptOnCancel = false)
          val t0 = nowMs
          val r  = Try(answer(queries(g)(spark, dataDir)))
          val ms = nowMs - t0
          runs.add(GateRun(phase, pass, g, t0, ms, r.map(a => intern(i, a.mkString("\n"))).getOrElse(-1),
            r.failed.map(_.toString).getOrElse("")))
          sc.clearJobGroup()
        }
        pass += 1
      }
    }
    out.put("gc_ms", Jvm.gcMs - gc0)
    if (traced) {
      listener.drain()
      batchReport(runs.asScala.toSeq.filter(_.phase == 1))
    }
    layers.put("batch.persisted_rdds_end", sc.getPersistentRDDs.size.toDouble)
    out.put("heap_live_mb", Jvm.heapLiveMb)
    out.put("codecache_mb", Jvm.codeCacheMb)
    out.put("gate_runs", runs.asScala.map(r =>
      Seq[Any](r.phase, r.pass, r.gate, r.startMs, r.wallMs, r.answer, r.error).asJava).asJava)
    out.put("bodies", bodies.asScala.map { case ((i, b), id) => Seq[Any](id.intValue(), i, b).asJava }.toSeq.asJava)
    out.put("oracle_sql", gates.map(SparkEntry.oracleSql).asJava)
    out.put("layers", layers)
  }

  /** A gate's whole answer on the driver, one JSON object per row (nulls
    * kept), which is what a consumer of the training data reads. */
  private def answer(df: DataFrame): Seq[String] = {
    val rows = df.select(to_json(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*),
      Map("ignoreNullFields" -> "false").asJava)).collect().map(_.getString(0)).toSeq
    Checkpoints.free(df)
    rows
  }

  private def batchReport(runs: Seq[GateRun]): Unit = {
    def c(run: GateRun) = Option(listener.byGroup.get(s"g${run.pass}.${run.gate}"))
    val passes = math.max(1, runs.map(_.pass).distinct.size).toDouble
    val wallS  = runs.map(_.wallMs).sum / 1000.0
    val runS   = runs.flatMap(c).map(_.runMs.get).sum / 1000.0
    layers.put("batch.jobs", runs.flatMap(c).map(_.jobs.get).sum / passes)
    layers.put("batch.tasks", runs.flatMap(c).map(_.tasks.get).sum / passes)
    layers.put("batch.task_run_s", runS / passes)
    layers.put("batch.task_cpu_s", runs.flatMap(c).map(_.cpuNs.get).sum / 1e9 / passes)
    layers.put("batch.shuffle_mb", runs.flatMap(c).map(_.shuffleBytes.get).sum / 1048576.0 / passes)
    layers.put("batch.spill_mb", runs.flatMap(c).map(_.spillBytes.get).sum / 1048576.0 / passes)
    layers.put("batch.driver_share", if (wallS > 0) 1.0 - runS / (wallS * cores) else 0.0)
    runs.groupBy(_.gate).foreach { case (g, rs) =>
      val wall = rs.map(_.wallMs).sum / 1000.0
      val run  = rs.flatMap(c).map(_.runMs.get).sum / 1000.0
      layers.put(s"gate.$g.wall_s", Stats.median(rs.map(_.wallMs / 1000.0)))
      layers.put(s"gate.$g.driver_share", if (wall > 0) 1.0 - run / (wall * cores) else 0.0)
    }
  }
}
