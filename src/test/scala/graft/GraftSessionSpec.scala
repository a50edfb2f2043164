package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** `GraftSession` is the one place a graft session is configured, and its
  * generated-code cache holds a working set larger than Spark's default
  * 100 entries. */
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

  "session config" should "be written only in GraftSession" in {
    // split literals, so this file does not match its own patterns
    val builderCall  = ("SparkSession" + """\s*\.\s*builder""").r
    val shuffleParts = ".config(\"spark.sql.shuffle." + "partitions\""
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
        (builderCall.findFirstIn(text).isDefined || text.contains(shuffleParts))
    }
    offenders shouldBe empty
  }
}
