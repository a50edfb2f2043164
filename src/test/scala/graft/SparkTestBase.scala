package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CacheManager, CachedData}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.catalog.Warehouse

/** Shared local SparkSession for specs. Warehouses built through
  * [[warehouse]] release their resident copies when the suite ends, and the
  * suite then fails if the session's cache still holds a warehouse copy: no
  * suite leaks memory or stale data into the next. */
trait SparkTestBase extends AnyFlatSpec with Matchers with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val warehouses = new java.util.concurrent.ConcurrentLinkedQueue[Warehouse]()

  /** A warehouse on `root` whose copies are released when the suite ends. */
  protected def warehouse(root: String): Warehouse = {
    val wh = new Warehouse(spark, root)
    warehouses.add(wh)
    wh
  }

  override protected def afterAll(): Unit =
    try {
      warehouses.forEach(_.release())
      warehouses.clear()
      val leaked = SparkTestBase.residentCopies
      assert(leaked.isEmpty, s"warehouse copies left in the session's cache: ${leaked.mkString(", ")}")
    } finally super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4)
      .master("local[4]")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Names of the warehouse copies in the shared session's cache manager,
    * read from its private entry list (Spark exposes no listing). */
  def residentCopies: Seq[String] = {
    val entries = classOf[CacheManager].getDeclaredField("cachedData")
    entries.setAccessible(true)
    entries.get(session.sharedState.cacheManager).asInstanceOf[IndexedSeq[CachedData]]
      .flatMap(_.cachedRepresentation.cacheBuilder.tableName)
      .filter(_.startsWith(Warehouse.ResidentPrefix)).toSeq
  }
}
