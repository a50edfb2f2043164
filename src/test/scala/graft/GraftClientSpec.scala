package graft

import java.nio.file.Files

import graft.client.GraftClient
import graft.plan.TimeContext

/** Fluent client surface (reference `nsdb-scala-api` parity): builder
  * chain, immutable bit forking, write + query + metadata round trip. */
class GraftClientSpec extends SparkTestBase {

  private def newClient(): GraftClient = {
    val root = Files.createTempDirectory("graft_client_").toString
    GraftClient.embedded(new GraftEngine(spark, Some(warehouse(root))))
  }

  "GraftClient" should "write bits and query them back through the builder chain" in {
    val client = newClient()
    val people = client.db("root").namespace("registry").metric("people")

    // immutable builder: fork one metric-scoped prefix into several bits
    // (value type is uniform per metric — the warehouse enforces the
    // reference's fixed value schema, mixing long/double bits is rejected)
    client.write(people.timestamp(1000L).value(13.0).dimension("city", "Mouseton").tag("country", "IT")) shouldBe Right(1L)
    client.write(Seq(
      people.timestamp(2000L).value(17.0).dimension("city", "Duckburg").tag("country", "IT"),
      people.timestamp(3000L).value(2.5).dimension("city", "Goosetown").tag("country", "FR")
    )) shouldBe Right(2L)

    val df = client.executeAt(
      client.db("root").namespace("registry").query("select sum(value) from people group by country order by country"),
      TimeContext(10000L)).fold(fail(_), identity)
    df.collect().map(r => (r.getAs[String]("country"), r.getAs[Double]("value"))).toSeq shouldBe
      Seq(("FR", 2.5), ("IT", 30.0))

    // the bit-scoped query shortcut hits the same namespace
    val one = client.execute(people.query("select * from people limit 1")).fold(fail(_), identity)
    one.count() shouldBe 1L
  }

  it should "follow the reference BigDecimal scale rule and reject valueless bits" in {
    val client = newClient()
    val m      = client.db("db").namespace("ns").metric("m")
    m.value(new java.math.BigDecimal("13")).value shouldBe Some(13L)     // scale 0 → long
    m.value(new java.math.BigDecimal("13.5")).value shouldBe Some(13.5)  // scale > 0 → double
    client.write(m.timestamp(1L)) shouldBe Left("bit for metric m has no value")
  }

  it should "subscribe to a query: historical result plus live matching stream" in {
    import spark.implicits._
    implicit val sqlc = spark.sqlContext
    val engine = new GraftEngine(spark)
    engine.registerMetric("db", "ns", "events",
      Seq(Ev(100L, 1.0, "a"), Ev(200L, 5.0, "b")).toDF(),
      org.apache.spark.sql.functions.col("timestamp"),
      org.apache.spark.sql.functions.col("value"), tags = Set("kind"))
    val client = GraftClient.embedded(engine)
    val input  = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev]
    val sub = client.subscribe(
      client.db("db").namespace("ns").query("select * from events where value > 1.5"),
      input.toDF()).fold(fail(_), identity)
    sub.historical.collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(5.0)
    val q = sub.live.writeStream.format("memory").queryName("client_sub").outputMode("append").start()
    try {
      input.addData(Ev(300L, 0.5, "a"), Ev(400L, 9.0, "b"))
      q.processAllAvailable()
      spark.sql("select * from client_sub").collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(9.0)
    } finally q.stop()
  }

  it should "surface metadata through metrics and describe" in {
    val client = newClient()
    val ns     = client.db("db").namespace("ns")
    client.write(ns.metric("temps").timestamp(1L).value(21.5).tag("room", "kitchen")) shouldBe Right(1L)
    client.metrics(ns) shouldBe Right(Seq("temps"))
    val fields = client.describe(ns, "temps").fold(fail(_), identity)
    fields.map(_.head) should contain allOf ("timestamp", "value", "room")
  }
}
