package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every serving surface answers through [[GraftEngine.answer]], whose
  * bounded collect is the only one on the serving path: the serving
  * packages collect no Dataset themselves. Pure source scan — no Spark. */
class ServingPathSpec extends AnyFlatSpec with Matchers {

  "the serving packages" should "collect no Dataset outside GraftEngine.answer" in {
    val sources: Seq[Path] = Seq("http", "rpc", "streaming").flatMap { pkg =>
      val walk = Files.walk(Paths.get("src/main/scala/graft", pkg))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    sources.size should be > 5
    val stripComments = "(?s)/\\*.*?\\*/|//[^\n]*".r
    // `.take(` with an argument is a Dataset's row take; a blocking
    // queue's argument-less `take()` is not
    val collect = "\\.collect\\(\\s*\\)|\\btoLocalIterator\\b|\\bcollectAsList\\b|\\.take\\(\\s*[^)\\s]".r
    val sites = sources.flatMap { p =>
      val text = stripComments.replaceAllIn(Files.readString(p), "")
      collect.findAllMatchIn(text).map(m => s"${p.getFileName}: ${m.matched}")
    }
    sites shouldBe empty
  }
}
