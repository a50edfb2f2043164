package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.Try

import graft.catalog.{Coords, Maintenance, Warehouse}
import graft.exec.MetricRef
import graft.plan.TimeContext
import graft.sql.Ast

/** The read path's change token: `Warehouse.read` hands back the resolved
  * relation while `meta.json`'s token is unchanged, every mutating
  * operation writes a fresh token last, and `meta.json` is replaced
  * atomically so a racing reader never sees the metric missing. The
  * resident copy of a metric's scan never serves an older token's rows,
  * whichever instance wrote, and each metric keeps at most one copy. */
class WarehouseTokenSpec extends SparkTestBase {

  import spark.implicits._

  private implicit val tc: TimeContext = TimeContext(10 * 86400000L) // day 10

  private val day = 86400000L

  private def freshWarehouse(): Warehouse =
    warehouse(Files.createTempDirectory("graft_wh_token_").toString)

  /** three day-shards, four rows */
  private def seed(wh: Warehouse, c: Coords, retentionMs: Long = 0L): Unit =
    wh.append(c, Seq(
      (0 * day + 100L, 1.0, "a", "x"),
      (1 * day + 100L, 2.0, "b", "x"),
      (1 * day + 200L, 3.0, "a", "y"),
      (2 * day + 100L, 4.0, "c", "y")
    ).toDF("timestamp", "value", "name", "grp"), tags = Set("grp"), retentionMs = retentionMs)
      .fold(fail(_), identity)

  private def read(wh: Warehouse, c: Coords): MetricRef = wh.read(c).fold(fail(_), identity)

  private def values(ref: MetricRef): Seq[Double] =
    ref.df.select("value").as[Double].collect().toSeq.sorted

  /** reads `c`, asserting the result is NOT `before` — a re-resolve */
  private def reResolved(wh: Warehouse, c: Coords, before: MetricRef): MetricRef = {
    val after = read(wh, c)
    (after eq before) shouldBe false
    after
  }

  "Warehouse.read" should "return the cached relation while no write intervenes" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "m")
    seed(wh, c)
    val r1 = read(wh, c)
    val r2 = read(wh, c)
    (r2 eq r1) shouldBe true
    values(r2) shouldBe Seq(1.0, 2.0, 3.0, 4.0)
  }

  it should "never cache a meta.json written without a token" in {
    val wh   = freshWarehouse()
    val c    = Coords("db", "ns", "legacy")
    seed(wh, c)
    val meta = Paths.get(c.path(wh.root), "meta.json")
    val json = new String(Files.readAllBytes(meta), StandardCharsets.UTF_8)
    json should include(""""token":"""")
    Files.write(meta, json.replaceAll(""","token":"[^"]+"""", "").getBytes(StandardCharsets.UTF_8))
    val r1 = read(wh, c)
    (read(wh, c) eq r1) shouldBe false
    values(r1) shouldBe Seq(1.0, 2.0, 3.0, 4.0)
  }

  it should "write a fresh random token on every write" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "tok")
    def token: String = {
      val json = new String(Files.readAllBytes(Paths.get(c.path(wh.root), "meta.json")), StandardCharsets.UTF_8)
      """"token":"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse(fail("no token"))
    }
    seed(wh, c)
    val t1 = token
    seed(wh, c)
    val t2 = token
    t2 should not be t1
    java.util.UUID.fromString(t2).version() shouldBe 4 // random, not a counter
    // no temp file is left beside meta.json
    Files.list(Paths.get(c.path(wh.root))).toArray.map(_.toString).filter(_.endsWith(".tmp")) shouldBe empty
  }

  it should "re-resolve after append, insert and delete" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "ops")
    seed(wh, c)
    val r0 = read(wh, c)
    wh.append(c, Seq((3 * day + 100L, 5.0, "d", "x")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    val r1 = reResolved(wh, c, r0)
    values(r1) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    r1.shard.get.liveIds should contain(3L)

    wh.insert(Ast.InsertStatement("db", "ns", "ops", Some(3 * day + 200L), Map("name" -> "e"),
      Map("grp" -> "y"), 6.0)).fold(fail(_), identity)
    val r2 = reResolved(wh, c, r1)
    values(r2) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)

    wh.delete(Ast.DeleteStatement("db", "ns", "ops", Ast.CmpPred("timestamp", Ast.Lt, Ast.AbsValue(day))))
      .fold(fail(_), identity)
    val r3 = reResolved(wh, c, r2)
    values(r3) shouldBe Seq(2.0, 3.0, 4.0, 5.0, 6.0)
    r3.shard.get.liveIds should not contain 0L
    (read(wh, c) eq r3) shouldBe true
  }

  it should "re-resolve after compaction and after a compaction crash repair" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "cmp")
    (1 to 3).foreach(_ => seed(wh, c)) // three files per shard
    val r0 = read(wh, c)
    val (files0, values0) = (r0.df.inputFiles.toSet, values(r0))
    wh.compact(c, maxFilesPerShard = 2).fold(fail(_), identity) should not be empty
    val r1 = reResolved(wh, c, r0)
    r1.df.inputFiles.toSet should not be files0
    values(r1) shouldBe values0

    // a leftover of a rewrite that died mid-write: the repair deletes it
    // and re-stamps the token even though no shard is compacted
    Files.createDirectories(Paths.get(c.path(wh.root), ".tmp_compact_7"))
    wh.compact(c).fold(fail(_), identity) shouldBe empty
    reResolved(wh, c, r1)
  }

  it should "re-resolve after retention eviction, whole and partial" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "ret")
    // now = day 10, retention 8.5 days → cutoff = day 1.5: shard 0 goes
    // whole, shard 1 straddles and sheds its two rows (2.0 and 3.0)
    seed(wh, c, retentionMs = 8 * day + day / 2)
    val r0 = read(wh, c)
    wh.evictExpired(c).fold(fail(_), identity) shouldBe Seq(0L)
    val r1 = reResolved(wh, c, r0)
    values(r1) shouldBe Seq(4.0)
  }

  it should "re-resolve after enabling and rebuilding a rollup" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "roll")
    seed(wh, c)
    val r0 = read(wh, c)
    r0.rollup shouldBe None
    wh.enableRollup(c, stepMs = 1000L).fold(fail(_), identity)
    val r1 = reResolved(wh, c, r0)
    r1.rollup.map(_.stepMs) shouldBe Some(1000L)
    wh.rebuildRollup(c).fold(fail(_), identity)
    reResolved(wh, c, r1)
  }

  it should "see a drop and re-create, also from another instance on the same root" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "dr")
    seed(wh, c)
    val r0 = read(wh, c)
    wh.drop(c)
    wh.read(c).isLeft shouldBe true
    wh.append(c, Seq((5 * day, 9.0, 1L)).toDF("timestamp", "value", "other"), tags = Set.empty)
      .fold(fail(_), identity)
    val r1 = reResolved(wh, c, r0)
    values(r1) shouldBe Seq(9.0)
    r1.schema.orderedNames should contain("other")

    // another instance drops and re-creates behind this one's cache: the
    // re-created metadata carries a new random token, so the cached
    // relation of the old metric is never handed back
    val peer = warehouse(wh.root)
    peer.drop(c)
    peer.initMetric(c, shardIntervalMs = 1000L) shouldBe Right(())
    Try(wh.read(c)).toOption.flatMap(_.toOption).exists(_ eq r1) shouldBe false
    peer.append(c, Seq((1500L, 7.0)).toDF("timestamp", "value"), tags = Set.empty).fold(fail(_), identity)
    val r2 = read(wh, c)
    values(r2) shouldBe Seq(7.0)
    r2.shard.get.intervalMs shouldBe 1000L
  }

  it should "re-resolve a restored metric even when the backup carries the cached token" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "rs")
    seed(wh, c)
    val r0 = read(wh, c)
    // back up the root as it is now: the backup's meta.json holds r0's token
    val backup = Files.createTempDirectory("graft_wh_backup_")
    val src    = Paths.get(wh.root)
    val walk   = Files.walk(src)
    try walk.forEach { p =>
      val t = backup.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    // another instance drops the metric, so this instance's cache survives
    warehouse(wh.root).drop(c)
    wh.restore(backup.toString).fold(fail(_), identity) shouldBe Seq(c)
    values(reResolved(wh, c, r0)) shouldBe Seq(1.0, 2.0, 3.0, 4.0)
  }

  it should "re-resolve after a write op that fails midway" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "fail")
    seed(wh, c, retentionMs = 8 * day + day / 2)
    val r0 = read(wh, c)
    // a rollup keyed on a column that does not exist: every rebuild and
    // every segment write throws, after the op has changed data files
    Files.write(Paths.get(c.path(wh.root), "rollup.json"),
      """{"stepMs":1000,"keys":["nosuch"],"keepOnEvict":false}""".getBytes(StandardCharsets.UTF_8))
    // eviction deletes shard 0, then its rollup rebuild throws: a cached
    // relation would still list shard 0's deleted file
    Try(wh.evictExpired(c)).isFailure shouldBe true
    val r1 = reResolved(wh, c, r0)
    values(r1) shouldBe Seq(2.0, 3.0, 4.0)
    // an append writes its rows, then its rollup segment throws: the rows
    // and their new column are published all the same
    Try(wh.append(c, Seq((2 * day + 500L, 5.0, "d", "x", 1L))
      .toDF("timestamp", "value", "name", "grp", "extra"), tags = Set("grp"))).isFailure shouldBe true
    val r2 = reResolved(wh, c, r1)
    values(r2) shouldBe Seq(2.0, 3.0, 4.0, 5.0)
    r2.schema.orderedNames should contain("extra")
  }

  it should "leave the cached relation alone when a sweep changes nothing" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "idle")
    seed(wh, c, retentionMs = 30 * day) // nothing expires at day 10
    val r0 = read(wh, c)
    val report = Maintenance.runOnce(wh)
    report.errors shouldBe empty
    report.evictedShards shouldBe 0
    report.compactedShards shouldBe 0
    // a delete whose span hits no shard rewrites nothing either
    wh.delete(Ast.DeleteStatement("db", "ns", "idle",
      Ast.CmpPred("timestamp", Ast.Gt, Ast.AbsValue(9 * day)))).fold(fail(_), identity)
    (read(wh, c) eq r0) shouldBe true
  }

  // ---- the resident copy ------------------------------------------------

  /** the metric's resident state in `wh`, if `wh` holds a resolution of it */
  private def residency(wh: Warehouse, c: Coords): Option[Warehouse.Residency] =
    wh.residency.find(_.coords == c)

  /** the copies of `c` in the session's cache, across instances */
  private def copiesOf(wh: Warehouse, c: Coords): Seq[String] =
    SparkTestBase.residentCopies.filter(_.startsWith(s"${Warehouse.ResidentPrefix}${c.path(wh.root)}@"))

  /** a whole-scan read of `c` through `wh`: its values, after checking that
    * the scan came from the resident copy and that the copy now holds data */
  private def served(wh: Warehouse, c: Coords): Seq[Double] = {
    val ref  = read(wh, c)
    val scan = ref.df.select("value")
    val v    = scan.as[Double].collect().toSeq.sorted
    scan.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    } should not be empty
    residency(wh, c).map(_.cachedBytes).getOrElse(0L) should be > 0L
    v
  }

  private def ins(wh: Warehouse, metric: String, ts: Long, v: Double): Unit =
    wh.insert(Ast.InsertStatement("db", "ns", metric, Some(ts), Map("name" -> "i"), Map("grp" -> "x"), v))
      .fold(fail(_), identity)

  "The resident copy" should "serve exactly the fresh rows after every token-changing operation" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "fresh")
    seed(wh, c, retentionMs = 8 * day + day / 2)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0)
    // append goes through Spark's own write path, which re-caches by path
    wh.append(c, Seq((3 * day + 100L, 5.0, "d", "x")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    ins(wh, "fresh", 3 * day + 200L, 6.0)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)
    wh.delete(Ast.DeleteStatement("db", "ns", "fresh", Ast.EqPred("value", Ast.AbsValue(5.0))))
      .fold(fail(_), identity)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 6.0)
    (1 to 2).foreach(_ => seed(wh, c)) // three files in shards 0-2
    served(wh, c).size shouldBe 13
    wh.compact(c, maxFilesPerShard = 2).fold(fail(_), identity) should not be empty
    served(wh, c).size shouldBe 13
    // now = day 10, retention 8.5 days: shard 0 goes whole, shard 1 sheds its rows
    wh.evictExpired(c).fold(fail(_), identity) shouldBe Seq(0L)
    served(wh, c) shouldBe Seq(4.0, 4.0, 4.0, 6.0)
    wh.enableRollup(c, stepMs = 1000L).fold(fail(_), identity)
    ins(wh, "fresh", 4 * day, 7.0)
    served(wh, c) shouldBe Seq(4.0, 4.0, 4.0, 6.0, 7.0)
    wh.rebuildRollup(c).fold(fail(_), identity)
    served(wh, c) shouldBe Seq(4.0, 4.0, 4.0, 6.0, 7.0)
    // drop + re-create: same path, new metric
    wh.drop(c)
    wh.read(c).isLeft shouldBe true
    ins(wh, "fresh", 5 * day, 8.0)
    served(wh, c) shouldBe Seq(8.0)
    // restore of a backup taken now, after another instance dropped the metric
    val backup = Files.createTempDirectory("graft_wh_backup_")
    val src    = Paths.get(wh.root)
    val walk   = Files.walk(src)
    try walk.forEach { p =>
      val t = backup.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    ins(wh, "fresh", 5 * day + 1L, 9.0)
    served(wh, c) shouldBe Seq(8.0, 9.0)
    warehouse(wh.root).drop(c)
    wh.restore(backup.toString).fold(fail(_), identity) shouldBe Seq(c)
    served(wh, c) shouldBe Seq(8.0)
    copiesOf(wh, c).size shouldBe 1
  }

  it should "serve the fresh rows after a second instance on the same root writes" in {
    val wh   = freshWarehouse()
    val peer = warehouse(wh.root)
    val c    = Coords("db", "ns", "peer")
    seed(wh, c)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0)
    peer.append(c, Seq((3 * day + 100L, 5.0, "d", "x")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    // both instances read the same token: one shared copy
    served(peer, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0)
    copiesOf(wh, c).size shouldBe 1
    peer.delete(Ast.DeleteStatement("db", "ns", "peer", Ast.CmpPred("value", Ast.Lt, Ast.AbsValue(3.0))))
      .fold(fail(_), identity)
    served(wh, c) shouldBe Seq(3.0, 4.0, 5.0)
    peer.compact(c, maxFilesPerShard = 0).fold(fail(_), identity) should not be empty
    served(wh, c) shouldBe Seq(3.0, 4.0, 5.0)
    copiesOf(wh, c).size shouldBe 1
  }

  it should "not hold a metric whose data files exceed the budget" in {
    val wh = new Warehouse(spark, Files.createTempDirectory("graft_wh_budget_").toString) {
      override protected def residentBudget: Long = 0L
    }
    val c = Coords("db", "ns", "big")
    try {
      seed(wh, c)
      val scan = read(wh, c).df.select("value")
      scan.as[Double].collect().toSeq.sorted shouldBe Seq(1.0, 2.0, 3.0, 4.0)
      scan.queryExecution.executedPlan.collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      } should not be empty
      val r = residency(wh, c).getOrElse(fail("no residency entry"))
      r.overBudget shouldBe true
      r.cachedBytes shouldBe 0L
      r.dataBytes should be > 0L
      copiesOf(wh, c) shouldBe empty
    } finally wh.release()
  }

  it should "leave at most one cached entry per metric through repeated token changes" in {
    val wh   = freshWarehouse()
    val peer = warehouse(wh.root)
    val c    = Coords("db", "ns", "churn")
    seed(wh, c)
    (1 to 6).foreach { i =>
      // alternate the writer: this instance releases on its own write, and
      // on the first read that sees a peer's token
      ins(if (i % 2 == 0) wh else peer, "churn", 3 * day + i, i.toDouble)
      served(wh, c).size shouldBe 4 + i
      copiesOf(wh, c).size shouldBe 1
    }
    wh.drop(c)
    copiesOf(wh, c) shouldBe empty
  }

  it should "keep one copy when readers race on a new token" in {
    val wh = freshWarehouse()
    val c  = Coords("db", "ns", "racers")
    seed(wh, c)
    served(wh, c)
    ins(wh, "racers", 3 * day, 5.0)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool  = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(() => { start.await(); values(read(wh, c)) }))
      start.countDown()
      fs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    } finally pool.shutdown()
    copiesOf(wh, c).size shouldBe 1
    served(wh, c) shouldBe Seq(1.0, 2.0, 3.0, 4.0, 5.0)
  }

  "Warehouse metadata" should "never report a metric missing while inserts race reads" in {
    val wh   = freshWarehouse()
    val c    = Coords("db", "ns", "race")
    seed(wh, c)
    val done     = new java.util.concurrent.atomic.AtomicBoolean(false)
    val missing  = new java.util.concurrent.atomic.AtomicInteger(0)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() =>
      while (!done.get()) {
        attempts.incrementAndGet()
        if (!wh.exists(c)) missing.incrementAndGet()
        if (wh.read(c).isLeft) missing.incrementAndGet()
      })
    reader.start()
    try (1 to 15).foreach { i =>
      wh.insert(Ast.InsertStatement("db", "ns", "race", Some(3 * day + i), Map.empty, Map("grp" -> "x"), i.toDouble))
        .fold(fail(_), identity)
    } finally { done.set(true); reader.join(60000) }
    attempts.get() should be > 15
    missing.get() shouldBe 0
    values(read(wh, c)).size shouldBe 19
  }
}
