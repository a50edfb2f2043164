package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** `GraftSession` is the one place a graft session is configured, its
  * generated-code cache holds a working set larger than Spark's default
  * 100 entries, and its status store stays bounded. */
class GraftSessionSpec extends SparkTestBase {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  "the graft session" should "reuse compiled code for a working set of more than 100 plans" in {
    // each multiplier is inlined into the generated code, so every plan
    // compiles classes of its own
    def round(): Long = {
      val c0 = compiles
      (1 to 150).foreach(i => spark.range(10).selectExpr(s"id * $i - 7919").collect())
      compiles - c0
    }
    round() should be >= 150L
    // at Spark's default cap of 100, an LRU cycled through more than 100
    // classes hits none of them and this round recompiles every plan
    round() shouldBe 0L
  }

  it should "run without a UI and keep a bounded status store" in {
    val conf = spark.sparkContext.getConf
    conf.get("spark.ui.enabled") shouldBe "false"
    Seq("spark.sql.ui.retainedExecutions", "spark.ui.retainedJobs", "spark.ui.retainedStages")
      .foreach(k => conf.get(k) shouldBe GraftSession.RetainedStatusEntries.toString)
  }

  "session config" should "be written only in GraftSession" in {
    // split literals, so this file does not match its own patterns
    val builderCall  = ("SparkSession" + """\s*\.\s*builder""").r
    val ownedKeys = Seq("spark.sql.shuffle." + "partitions", "spark.ui." + "enabled",
      "spark.sql.ui." + "retainedExecutions", "spark.ui." + "retainedJobs", "spark.ui." + "retainedStages")
      .map(k => s".config(\"$k\"")
    val sources = Seq("src/main", "src/test").map(Paths.get(_)).flatMap { root =>
      Files.isDirectory(root) shouldBe true
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    sources.size should be > 50
    val offenders = sources.filter { p =>
      val text = Files.readString(p)
      p.getFileName.toString != "GraftSession.scala" &&
        (builderCall.findFirstIn(text).isDefined || ownedKeys.exists(text.contains))
    }
    offenders shouldBe empty
  }
}
