package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.catalog.{Coords, Warehouse}
import graft.plan.TimeContext
import graft.streaming.{Ingest, Subscriptions}

/** Streaming specs: pub/sub subscriptions (historical + live), tumbling
  * windows with watermark late-data handling, checkpointed ingest. */
/** top-level so Spark can derive an Encoder */
case class Ev(timestamp: Long, value: Double, kind: String)

class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private implicit val tc: TimeContext = TimeContext(0L)

  private def newEngineWithHistory(): (GraftEngine, MemoryStream[Ev]) = {
    implicit val sql = spark.sqlContext
    val historical = Seq(Ev(100L, 1.0, "a"), Ev(200L, 2.0, "b")).toDF()
    val engine     = new GraftEngine(spark)
    engine.registerMetric("db", "ns", "events", historical, col("timestamp"), col("value"), tags = Set("kind"))
    (engine, MemoryStream[Ev])
  }

  "Subscriptions" should "deliver the historical result and then matching live records" in {
    val (engine, input) = newEngineWithHistory()
    val sub = Subscriptions
      .subscribe(engine, input.toDF(), "db", "ns", "select * from events where value > 1.5")
      .fold(fail(_), identity)

    sub.historical.collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(2.0)

    val q = sub.live.writeStream.format("memory").queryName("plain_sub").outputMode("append").start()
    try {
      input.addData(Ev(300L, 0.5, "a"), Ev(400L, 3.0, "b"), Ev(500L, 9.0, "a"))
      q.processAllAvailable()
      val live = spark.sql("select * from plain_sub").collect().map(_.getAs[Double]("value")).toSeq.sorted
      live shouldBe Seq(3.0, 9.0)
    } finally q.stop()
  }

  it should "aggregate tumbling windows and correct buckets for in-grace late events" in {
    implicit val sqlc = spark.sqlContext
    val input = MemoryStream[Ev]
    val windowed = Subscriptions.temporalStream(
      input.toDF(), intervalMs = 1000L, agg = graft.sql.Ast.SumAgg("value"),
      graceMs = Some(5000L), anchorMs = 0L)

    val q = windowed.writeStream.format("memory").queryName("temporal_sub").outputMode("update").start()
    try {
      input.addData(Ev(100L, 1.0, "a"), Ev(900L, 2.0, "b"), Ev(1100L, 5.0, "a"))
      q.processAllAvailable()
      // late event into the first bucket, still within grace
      input.addData(Ev(500L, 10.0, "c"))
      q.processAllAvailable()
      val rows = spark.sql("select * from temporal_sub").collect()
        .map(r => (r.getAs[Long]("lowerBound"), r.getAs[Double]("value")))
      // bucket [0,1000) was first emitted as 3.0, then corrected to 13.0
      rows should contain((0L, 3.0))
      rows should contain((0L, 13.0))
      rows should contain((1000L, 5.0))
    } finally q.stop()
  }

  it should "compute exact windowed count distinct (not approximate)" in {
    implicit val sqlc = spark.sqlContext
    val input = MemoryStream[Ev]
    val windowed = Subscriptions.temporalStream(
      input.toDF(), intervalMs = 1000L, agg = graft.sql.Ast.CountDistinctAgg("kind"),
      graceMs = Some(5000L), anchorMs = 0L)

    val q = windowed.writeStream.format("memory").queryName("distinct_sub").outputMode("update").start()
    try {
      // bucket [0,1000): kinds a,b,a → exactly 2 distinct; [1000,2000): c → 1
      input.addData(Ev(100L, 1.0, "a"), Ev(500L, 2.0, "b"), Ev(900L, 3.0, "a"), Ev(1100L, 4.0, "c"))
      q.processAllAvailable()
      val rows = spark.sql("select * from distinct_sub").collect()
        .map(r => (r.getAs[Long]("lowerBound"), r.getAs[Long]("value"))).toMap
      rows(0L) shouldBe 2L
      rows(1000L) shouldBe 1L
    } finally q.stop()
  }

  it should "re-execute standard aggregations periodically" in {
    val (engine, _) = newEngineWithHistory()
    val seen   = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    val handle = Subscriptions.periodic(engine, "db", "ns",
      "select count(*) from events group by kind", intervalMs = 200L,
      rows => seen.add(rows.length))
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (seen.size() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      seen.size() should be >= 2
      seen.get(0) shouldBe 2 // two kinds
    } finally handle.close()
  }

  it should "log a failing run and keep the schedule running" in {
    val (engine, _) = newEngineWithHistory()
    val calls  = new java.util.concurrent.atomic.AtomicInteger()
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true))
    val handle = Subscriptions.periodic(engine, "db", "ns",
      "select count(*) from events group by kind", intervalMs = 200L,
      _ => if (calls.incrementAndGet() == 1) throw new IllegalStateException("subscriber down"))
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (calls.get() < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      calls.get() should be >= 2 // the run after the throwing one still fired
    } finally { handle.close(); System.setErr(oldErr) }
    errBuf.toString should include(
      "[graft-periodic] db.ns `select count(*) from events group by kind` failed: " +
        "java.lang.IllegalStateException: subscriber down")
  }

  "Ingest" should "stream micro-batches into the warehouse" in {
    implicit val sqlc = spark.sqlContext
    val root  = Files.createTempDirectory("graft_ingest_").toString
    val wh    = new Warehouse(spark, root)
    val input = MemoryStream[Ev]
    val query = Ingest.start(
      input.toDF().select(col("timestamp"), col("value"), col("kind")),
      wh, Coords("db", "ns", "stream_m"), tags = Set("kind"),
      checkpointDir = s"$root/_checkpoint")
    try {
      input.addData(Ev(1000L, 1.5, "a"), Ev(2000L, 2.5, "b"))
      query.processAllAvailable()
      val engine = new GraftEngine(spark, Some(wh))
      val n = engine.sql("db", "ns", "select * from stream_m").fold(fail(_), _.count())
      n shouldBe 2
    } finally query.stop()
  }
}
