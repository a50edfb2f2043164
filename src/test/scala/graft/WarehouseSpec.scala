package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.catalog.{Coords, Warehouse}
import graft.plan.TimeContext
import graft.sql.Ast

/** Second-driver probe for the cross-process lock spec: its own JVM, its
  * own SparkSession, appending `n` single-row batches that introduce a
  * `child_dim` column to the shared metric. Writes `<root>/.child_ready`
  * after Spark init so the parent can overlap its own appends, and exits
  * non-zero if any append is rejected. */
object LockProbeMain {
  def main(args: Array[String]): Unit = {
    val Array(root, metric, nStr) = args
    val spark = GraftSession.builder(2)
      .master("local[2]")
      .getOrCreate()
    import spark.implicits._
    val wh = new Warehouse(spark, root)
    val c  = Coords("db", "ns", metric)
    Files.write(java.nio.file.Paths.get(root, ".child_ready"), Array.emptyByteArray)
    var failures = 0
    (1 to nStr.toInt).foreach { i =>
      wh.append(c,
        Seq((1000000L + i * 1000L, i.toDouble, s"c$i")).toDF("timestamp", "value", "child_dim"),
        tags = Set.empty)
        .left.foreach { e => failures += 1; System.err.println(s"[lock-probe] append $i rejected: $e") }
    }
    spark.stop()
    sys.exit(if (failures > 0) 1 else 0)
  }
}

/** Warehouse specs: sharded write/read, schema union, insert/delete/drop,
  * retention, commands — the reference's write-coordinator surface. */
class WarehouseSpec extends SparkTestBase {

  import spark.implicits._

  private implicit val tc: TimeContext = TimeContext(10 * 86400000L) // day 10

  private def freshEngine(): (GraftEngine, Warehouse, String) = {
    val root = Files.createTempDirectory("graft_wh_").toString
    val wh   = new Warehouse(spark, root)
    (new GraftEngine(spark, Some(wh)), wh, root)
  }

  private val day = 86400000L

  private def seed(wh: Warehouse, c: Coords): Unit = {
    // three days of data → three shards
    val df = Seq(
      (0 * day + 100L, 1.0, "a", "x"),
      (1 * day + 100L, 2.0, "b", "x"),
      (1 * day + 200L, 3.0, "a", "y"),
      (2 * day + 100L, 4.0, "c", "y")
    ).toDF("timestamp", "value", "name", "grp")
    wh.append(c, df, tags = Set("grp")).fold(fail(_), identity)
  }

  "Warehouse" should "write time shards and read them back through the engine" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m1")
    seed(wh, c)
    val rows = engine.sql("db", "ns", "select * from m1 order by timestamp").fold(fail(_), _.collect())
    rows.length shouldBe 4
    rows.map(_.getAs[Double]("value")).toSeq shouldBe Seq(1.0, 2.0, 3.0, 4.0)
    // shard layout on disk
    wh.listMetrics("db", "ns") shouldBe Seq("m1")
  }

  it should "prune shards for time-bounded queries" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m2")
    seed(wh, c)
    val q  = s"select * from m2 where timestamp in (${day + 1}, ${2 * day - 1}) order by timestamp"
    val df = engine.sql("db", "ns", q).fold(fail(_), identity)
    df.collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(2.0, 3.0)
    // the physical plan must show partition (shard) pruning
    val plan = df.queryExecution.executedPlan.toString
    plan should include("shard")
  }

  it should "early-terminate ordered timestamp queries on the boundary shards (O3)" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "ns", "mo3")
    seed(wh, c) // shards 0 (1 row), 1 (2 rows), 2 (1 row)

    def planOf(q: String): (Seq[Double], String) = {
      val df = engine.sql("db", "ns", q).fold(fail(_), identity)
      (df.collect().map(_.getAs[Double]("value")).toSeq, df.queryExecution.executedPlan.toString)
    }
    // top-1 by time desc: only the NEWEST shard is ever opened
    val (d1, p1) = planOf("select * from mo3 order by timestamp desc limit 1")
    d1 shouldBe Seq(4.0)
    p1 should include("= 2)") // single-shard isin folds to equality
    // bottom-1 asc: only the OLDEST shard
    val (a1, pa) = planOf("select * from mo3 order by timestamp limit 1")
    a1 shouldBe Seq(1.0)
    pa should include("= 0)")
    // a limit spanning a shard boundary pulls in exactly the shards needed
    val (d2, p2) = planOf("select * from mo3 order by timestamp desc limit 2")
    d2 shouldBe Seq(4.0, 3.0)
    p2 should (include("IN (2,1)") or include("IN (1,2)"))
    p2 should not include "IN (2,1,0)"
    // a limit larger than the metric: every shard needed, nothing narrowed
    val (dAll, _) = planOf("select * from mo3 order by timestamp desc limit 100")
    dAll shouldBe Seq(4.0, 3.0, 2.0, 1.0)
  }

  it should "narrow O3 from parquet footers only — zero Spark jobs at plan construction" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "ns", "mo3j")
    seed(wh, c)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // constructing + explaining the narrowed plan must launch NO job:
      // shard row counts come from parquet footers read driver-side
      val df = engine.sql("db", "ns", "select * from mo3j order by timestamp desc limit 1").fold(fail(_), identity)
      val plan = df.queryExecution.executedPlan.toString
      plan should include("= 2)") // narrowing did happen
      Thread.sleep(500)           // let the listener bus drain
      jobs.get() shouldBe 0
    } finally spark.sparkContext.removeSparkListener(listener)

    // with a WHERE the exact per-shard match count needs a scan, which
    // would duplicate the real query's work — the plan stays un-narrowed
    // (pruning + TakeOrderedAndProject) and the result is still correct
    val dfW = engine.sql("db", "ns", "select * from mo3j where name = a order by timestamp desc limit 1")
      .fold(fail(_), identity)
    dfW.collect().map(_.getAs[Double]("value")).toSeq shouldBe Seq(3.0)
    dfW.queryExecution.executedPlan.toString should not include "= 2)"
  }

  it should "compact many-file shards copy-on-write and keep the data intact" in {
    val (engine, wh, root) = freshEngine()
    val c = Coords("db", "ns", "mc")
    // 10 micro-batch appends into the SAME day-shard → 10 files; one
    // append into another shard stays small and must be left untouched
    (1 to 10).foreach { i =>
      wh.append(c, Seq((0 * day + i * 100L, i.toDouble, "g1")).toDF("timestamp", "value", "grp"),
        tags = Set("grp")).fold(fail(_), identity)
    }
    wh.append(c, Seq((1 * day + 100L, 99.0, "g2")).toDF("timestamp", "value", "grp"),
      tags = Set("grp")).fold(fail(_), identity)

    def filesIn(shard: Long): Int =
      new java.io.File(s"$root/db/ns/mc/data/shard=$shard").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    filesIn(0) shouldBe 10

    wh.compact(c, maxFilesPerShard = 4).fold(fail(_), identity) shouldBe Seq(0L)
    filesIn(0) shouldBe 1 // tiny bytes → one target file
    filesIn(1) shouldBe 1 // under the threshold: untouched

    // data identical after the rewrite
    val rows = engine.sql("db", "ns", "select * from mc order by value").fold(fail(_), _.collect())
    rows.map(_.getAs[Double]("value")).toSeq shouldBe ((1 to 10).map(_.toDouble) :+ 99.0)

    // compaction output is time-ordered inside the file, so parquet
    // row-group timestamp stats are tight and time predicates skip inside
    // the shard (seed order above was by value, not time — re-read raw)
    val file = new java.io.File(s"$root/db/ns/mc/data/shard=0").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val ts = spark.read.parquet(file.getAbsolutePath)
      .select("timestamp").collect().map(_.getLong(0)).toSeq
    ts shouldBe ts.sorted
    // cold data recompressed as zstd by the background pass
    file.getName should include(".zstd.")
  }

  it should "recover half-finished compaction swaps (crash-safe rename-aside)" in {
    val (engine, wh, root) = freshEngine()
    val c = Coords("db", "ns", "mr")
    (1 to 10).foreach { i =>
      wh.append(c, Seq((0 * day + i * 100L, i.toDouble, "g1")).toDF("timestamp", "value", "grp"),
        tags = Set("grp")).fold(fail(_), identity)
    }
    def total: Seq[Double] =
      engine.sql("db", "ns", "select * from mr order by value").fold(fail(_), _.collect())
        .map(_.getAs[Double]("value")).toSeq
    val want = (1 to 10).map(_.toDouble)

    val shardDir = new java.io.File(s"$root/db/ns/mr/data/shard=0")
    // crash point A: between the two renames — the live dir is gone, the
    // aside copy holds all the data. Next compact() must restore it.
    val aside = new java.io.File(s"$root/db/ns/mr/.old_compact_0")
    shardDir.renameTo(aside) shouldBe true
    aside.exists shouldBe true
    wh.compact(c, maxFilesPerShard = 4).fold(fail(_), identity) shouldBe Seq(0L)
    aside.exists shouldBe false
    total shouldBe want

    // crash point B: swap finished but the aside delete was lost — the
    // stale copy must be dropped, never restored over the live dir
    val stale = new java.io.File(s"$root/db/ns/mr/.old_compact_0")
    stale.mkdir() shouldBe true
    new java.io.File(stale, "junk.parquet").createNewFile() shouldBe true
    // crash point C: rewrite died mid-write — tmp output is garbage
    val tmp = new java.io.File(s"$root/db/ns/mr/.tmp_compact_0")
    tmp.mkdir() shouldBe true
    wh.compact(c).fold(fail(_), identity) shouldBe Seq.empty
    stale.exists shouldBe false
    tmp.exists shouldBe false
    total shouldBe want
  }

  it should "reject schema type conflicts on append" in {
    val (_, wh, _) = freshEngine()
    val c          = Coords("db", "ns", "m3")
    seed(wh, c)
    val bad = Seq((3 * day + 1L, 5.0, 42L, "z")).toDF("timestamp", "value", "name", "grp") // name: long now
    wh.append(c, bad, tags = Set("grp")).isLeft shouldBe true
  }

  it should "evolve schemas by union for new fields" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m4")
    seed(wh, c)
    val extra = Seq((3 * day + 1L, 5.0, "d", "z", 99L)).toDF("timestamp", "value", "name", "grp", "extra")
    wh.append(c, extra, tags = Set("grp")).isRight shouldBe true
    val rows = engine.sql("db", "ns", "select * from m4 where extra = 99").fold(fail(_), _.collect())
    rows.length shouldBe 1
    // old rows have null for the new field
    engine.sql("db", "ns", "select * from m4 where extra is null").fold(fail(_), _.count()) shouldBe 4
  }

  it should "fix sharding and retention at initMetric time, ahead of any data" in {
    val (engine, wh, root) = freshEngine()
    val c = Coords("db", "ns", "minit")
    wh.initMetric(c, shardIntervalMs = 1000L, retentionMs = 0L) shouldBe Right(())
    // the initialized metric is visible with an empty field list
    engine.command("db", "ns", Ast.ShowMetrics).fold(fail(_), _.flatten) should contain("minit")
    wh.describe(c) shouldBe Some(Seq.empty)
    // re-init with the same settings is idempotent; conflicting rejects
    wh.initMetric(c, 1000L, 0L) shouldBe Right(())
    wh.initMetric(c, 2000L, 0L).isLeft shouldBe true
    // the FIRST append unions its schema in but keeps the birth interval
    // (1 s shards, not the per-append/default 1 day)
    wh.append(c, Seq((0L, 1.0, "a"), (5000L, 2.0, "b")).toDF("timestamp", "value", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    new java.io.File(s"$root/db/ns/minit/data/shard=0").exists() shouldBe true
    new java.io.File(s"$root/db/ns/minit/data/shard=5").exists() shouldBe true
    engine.sql("db", "ns", "select * from minit").fold(fail(_), _.count()) shouldBe 2L
    // init AFTER data exists with different settings rejects too
    val c2 = Coords("db", "ns", "mdata")
    seed(wh, c2)
    wh.initMetric(c2, 1000L, 0L).isLeft shouldBe true
  }

  it should "restore metric trees from a warehouse backup, refusing clashes all-or-nothing" in {
    val (engine1, wh1, root1) = freshEngine()
    seed(wh1, Coords("db", "ns", "mr1"))
    seed(wh1, Coords("db", "ns", "mr2"))
    // the layout IS the backup format: restore a copy of root1 elsewhere
    val (engine2, wh2, _) = freshEngine()
    seed(wh2, Coords("db", "other", "mkeep"))
    val restored = wh2.restore(root1).fold(fail(_), identity)
    restored.map(_.metric).sorted shouldBe Seq("mr1", "mr2")
    engine2.sql("db", "ns", "select * from mr1").fold(fail(_), _.count()) shouldBe 4L
    engine2.sql("db", "ns", "select sum(value) from mr2 group by grp order by grp")
      .fold(fail(_), _.collect().map(_.getDouble(1)).toSeq) shouldBe
      engine1.sql("db", "ns", "select sum(value) from mr2 group by grp order by grp")
        .fold(fail(_), _.collect().map(_.getDouble(1)).toSeq)
    // pre-existing metrics in the target are untouched
    engine2.sql("db", "other", "select * from mkeep").fold(fail(_), _.count()) shouldBe 4L
    // a clash refuses the WHOLE restore, including non-clashing metrics
    val (engine3, wh3, _) = freshEngine()
    seed(wh3, Coords("db", "ns", "mr1"))
    wh3.restore(root1).isLeft shouldBe true
    engine3.sql("db", "ns", "select * from mr2").isLeft shouldBe true // mr2 NOT restored
    // empty backup root is an error, not a silent no-op
    wh2.restore(Files.createTempDirectory("graft_empty_").toString).isLeft shouldBe true
  }

  it should "keep per-metric atomicity through a mid-copy restore failure" in {
    // backup with two metrics: 'a_ok' restores clean; 'b_bad' carries a
    // dangling symlink whose copy throws MID-restore (after a_ok landed)
    val (engineB, whB, backupRoot) = freshEngine()
    seed(whB, Coords("db", "ns", "a_ok"))
    seed(whB, Coords("db", "ns", "b_bad"))
    Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$backupRoot/db/ns/b_bad/data/dangling.parquet"),
      java.nio.file.Paths.get(s"$backupRoot/db/ns/b_bad/no_such_target"))
    val (engine2, wh2, root2) = freshEngine()
    val err = wh2.restore(backupRoot).swap.getOrElse(fail("restore must report the failure"))
    // the error names what landed, completely
    err should include("restore failed after 1/2")
    err should include("db/ns/a_ok")
    // a_ok is fully present and queryable; b_bad fully ABSENT — the rename
    // never exposed a partial tree, and the staging area swept itself
    engine2.sql("db", "ns", "select * from a_ok").fold(fail(_), _.count()) shouldBe 4L
    wh2.exists(Coords("db", "ns", "b_bad")) shouldBe false
    new java.io.File(s"$root2/db/ns/b_bad").exists() shouldBe false
    new java.io.File(s"$root2/.restore-tmp").exists() shouldBe false
    // the staging dir is catalog-invisible by construction anyway
    wh2.listDatabases should not contain ".restore-tmp"
  }

  it should "execute INSERT statements" in {
    val (engine, _, _) = freshEngine()
    engine.sql("db", "ns", "insert into m5 ts=1000 dim(name=alice) tags(grp=g1) val=7.5").isRight shouldBe true
    engine.sql("db", "ns", "insert into m5 ts=2000 dim(name=bob) tags(grp=g1) val=2.5").isRight shouldBe true
    val rows = engine.sql("db", "ns", "select sum(value) from m5 group by grp").fold(fail(_), _.collect())
    rows.head.getAs[Double]("value") shouldBe 10.0
  }

  it should "execute DELETE with copy-on-write shard rewrite" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m6")
    seed(wh, c)
    engine.sql("db", "ns", s"delete from m6 where timestamp in (${day}, ${2 * day - 1})").isRight shouldBe true
    val left = engine.sql("db", "ns", "select * from m6 order by timestamp").fold(fail(_), _.collect())
    left.map(_.getAs[Double]("value")).toSeq shouldBe Seq(1.0, 4.0)
  }

  it should "validate DELETE predicates against the schema" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m7")
    seed(wh, c)
    engine.sql("db", "ns", "delete from m7 where nope = 1").isLeft shouldBe true
  }

  it should "drop metrics" in {
    val (engine, wh, _) = freshEngine()
    val c               = Coords("db", "ns", "m8")
    seed(wh, c)
    engine.sql("db", "ns", "drop metric m8").isRight shouldBe true
    wh.listMetrics("db", "ns") shouldBe empty
    engine.sql("db", "ns", "select * from m8").isLeft shouldBe true
  }

  it should "evict shards past retention" in {
    val (_, wh, _) = freshEngine()
    val c          = Coords("db", "ns", "m9")
    val df = Seq((0 * day + 100L, 1.0, "a"), (9 * day + 100L, 2.0, "b")).toDF("timestamp", "value", "grp")
    wh.append(c, df, tags = Set("grp"), retentionMs = 5 * day).fold(fail(_), identity)
    // now = day 10, retention 5 days → shard 0 fully expired
    val evicted = wh.evictExpired(c).fold(fail(_), identity)
    evicted shouldBe Seq(0L)
    wh.read(c).fold(fail(_), _.df.count()) shouldBe 1
  }

  it should "partially evict the shard straddling the retention cutoff" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "ns", "m9p")
    // now = day 10, retention 4.5 days → cutoff = day 5.5: shard 0 fully
    // expired, shard 5 straddles (one expired row, one live), shard 9 live
    val half = day / 2
    val df = Seq(
      (0 * day + 100L, 1.0, "a"),
      (5 * day + 100L, 2.0, "b"),        // expired inside the boundary shard
      (5 * day + half + 100L, 3.0, "c"), // live inside the boundary shard
      (9 * day + 100L, 4.0, "d")
    ).toDF("timestamp", "value", "grp")
    wh.append(c, df, tags = Set("grp"), retentionMs = 4 * day + half).fold(fail(_), identity)
    wh.evictExpired(c).fold(fail(_), identity) shouldBe Seq(0L)
    engine.sql("db", "ns", "select * from m9p order by value").fold(fail(_), _.collect())
      .map(_.getAs[Double]("value")).toSeq shouldBe Seq(3.0, 4.0)
  }

  it should "sweep every metric with the maintenance loop" in {
    val (engine, wh, root) = freshEngine()
    val cRet = Coords("db", "ns", "mret")
    wh.append(cRet, Seq((0 * day + 100L, 1.0, "a"), (9 * day + 100L, 2.0, "b")).toDF("timestamp", "value", "grp"),
      tags = Set("grp"), retentionMs = 5 * day).fold(fail(_), identity)
    val cFiles = Coords("db", "ns2", "mfiles")
    (1 to 10).foreach { i =>
      wh.append(cFiles, Seq((0 * day + i * 100L, i.toDouble, "g")).toDF("timestamp", "value", "grp"),
        tags = Set("grp")).fold(fail(_), identity)
    }
    graft.catalog.Maintenance.runOnce(wh)
    // retention applied to the first metric …
    wh.read(cRet).fold(fail(_), _.df.count()) shouldBe 1
    // … and the many-files shard of the second got compacted
    new java.io.File(s"$root/db/ns2/mfiles/data/shard=0").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")) shouldBe 1
    engine.sql("db", "ns2", "select count(*) from mfiles").fold(fail(_), _.collect())
      .head.getAs[Long]("count") shouldBe 10L
    // the scheduled loop starts and stops cleanly
    val h = graft.catalog.Maintenance.start(wh, intervalMs = 60000L)
    h.close()
  }

  it should "scan the input batch exactly once per append (observed count, no re-scan)" in {
    val (_, wh, _) = freshEngine()
    val c          = Coords("db", "ns", "m1scan")
    val acc        = spark.sparkContext.longAccumulator("append-scan-rows")
    val tick       = org.apache.spark.sql.functions.udf((t: Long) => { acc.add(1); t })
    val df = Seq((0 * day + 100L, 1.0, "a"), (1 * day + 100L, 2.0, "b"),
                 (1 * day + 200L, 3.0, "a"), (2 * day + 100L, 4.0, "c"))
      .toDF("timestamp", "value", "grp")
      .withColumn("timestamp", tick(col("timestamp")))
    // the returned ingest count comes from the write job's observed metric;
    // a post-write count() re-run would double the accumulator
    wh.append(c, df, tags = Set("grp")).fold(fail(_), identity) shouldBe 4L
    acc.value shouldBe 4L
  }

  it should "size DELETE's shard rewrite by bytes instead of coalescing to one task" in {
    val (engine, wh, root) = freshEngine()
    val c = Coords("db", "ns", "mdel")
    // 8 appends into one day-shard → 8 files, a few KB total
    (1 to 8).foreach { i =>
      wh.append(c, Seq((0 * day + i * 100L, i.toDouble, "g")).toDF("timestamp", "value", "grp"),
        tags = Set("grp")).fold(fail(_), identity)
    }
    val shardDir = new java.io.File(s"$root/db/ns/mdel/data/shard=0")
    def dataFiles = shardDir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val bytes = dataFiles.map(_.length).sum
    // targetBytes ≈ a third of the shard → the rewrite must produce >1
    // range-partitioned file (the old coalesce(1) shape produced exactly 1)
    wh.delete(Ast.DeleteStatement("db", "ns", "mdel",
      Ast.EqPred("timestamp", Ast.AbsValue(0 * day + 100L))), targetBytes = bytes / 3)
      .fold(fail(_), identity)
    dataFiles.length should be > 1
    engine.sql("db", "ns", "select * from mdel order by value").fold(fail(_), _.collect())
      .map(_.getAs[Double]("value")).toSeq shouldBe (2 to 8).map(_.toDouble)
  }

  it should "report per-metric sweep failures without aborting the rest" in {
    val (_, wh, root) = freshEngine()
    // healthy metric with retention: shard 0 must still get evicted
    val cOk = Coords("db", "ns", "mok")
    wh.append(cOk, Seq((0 * day + 100L, 1.0, "a"), (9 * day + 100L, 2.0, "b"))
      .toDF("timestamp", "value", "grp"), tags = Set("grp"), retentionMs = 5 * day)
      .fold(fail(_), identity)
    // broken metric: a bogus shard dir that makes compact/evict blow up
    val cBad = Coords("db", "ns", "mbad")
    wh.append(cBad, Seq((0 * day + 100L, 1.0, "a")).toDF("timestamp", "value", "grp"),
      tags = Set("grp"), retentionMs = 5 * day).fold(fail(_), identity)
    new java.io.File(s"$root/db/ns/mbad/data/shard=garbage").mkdirs() shouldBe true

    // listMetrics sorts: mbad sweeps BEFORE mok, so a sweep abort would
    // lose mok's eviction — the report must show both the error and the work
    val report = graft.catalog.Maintenance.runOnce(wh)
    report.errors.exists(_.contains("mbad")) shouldBe true
    report.evictedShards should be >= 1
    wh.read(cOk).fold(fail(_), _.df.count()) shouldBe 1
    graft.catalog.Maintenance.lastSweep shouldBe Some(report)
  }

  it should "treat a vanished footer as the documented lower bound, not a failure" in {
    val (_, wh, root) = freshEngine()
    val c = Coords("db", "ns", "mfnf")
    wh.append(c, Seq((0 * day + 100L, 1.0, "a"), (0 * day + 200L, 2.0, "b"))
      .toDF("timestamp", "value", "grp"), tags = Set("grp")).fold(fail(_), identity)
    // a dangling symlink lists as a file but FNFs on open — the mid-swap
    // race shape (file vanishing between listStatus and footer read)
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$root/db/ns/mfnf/data/shard=0/ghost.parquet"),
      java.nio.file.Paths.get(s"$root/db/ns/mfnf/data/shard=0/never-existed.parquet"))
    val rowCount = wh.read(c).fold(fail(_), _.shard.get.rowCount.get)
    rowCount(0L) shouldBe 2L // real footers counted, ghost counted as 0
    rowCount(99L) shouldBe 0L // absent shard: 0, no throw
  }

  it should "serialize writers across Warehouse instances via the advisory file lock" in {
    val root = Files.createTempDirectory("graft_wh_lock_").toString
    val whA  = new Warehouse(spark, root)
    val whB  = new Warehouse(spark, root)
    val c    = Coords("db", "ns", "mlock")
    // interleaved appends from two instances (the two-driver shape; in one
    // JVM the shared monitor serializes before the file lock is attempted)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val futures = (1 to 10).map { i =>
      val wh = if (i % 2 == 0) whA else whB
      pool.submit(new java.util.concurrent.Callable[Either[String, Long]] {
        def call() = wh.append(c,
          Seq((i * 1000L, i.toDouble, s"g$i")).toDF("timestamp", "value", "grp"), tags = Set("grp"))
      })
    }
    futures.map(_.get()).foreach(_.fold(fail(_), identity) shouldBe 1L)
    pool.shutdown()
    new java.io.File(s"$root/db/ns/mlock/.lock").exists shouldBe true
    new Warehouse(spark, root).read(c).fold(fail(_), _.df.count()) shouldBe 10L
  }

  it should "serialize schema-union validation across two driver PROCESSES" in {
    // the genuinely-two-JVM shape the advisory file lock exists for
    // (reference guarantee: one SchemaCoordinator validates every schema
    // mutation, SchemaCoordinator.scala): a forked second driver appends
    // batches carrying its own `child_dim` column while this JVM appends
    // batches carrying `parent_dim`. Serialized read-union-write on
    // meta.json means NO lost update: the final schema holds both columns
    // and every row from both writers is readable.
    val root   = Files.createTempDirectory("graft_wh_2proc_").toString
    val metric = "m2proc"
    val c      = Coords("db", "ns", metric)
    val n      = 6

    val javaBin = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
      "java.base/java.io", "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val childLog = new java.io.File(s"$root/child.log")
    val pb = new ProcessBuilder(
      (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx2g", "-cp", sys.props("java.class.path"),
        "graft.LockProbeMain", root, metric, n.toString)): _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(childLog)
    val child = pb.start()
    try {
      // overlap the writers: wait until the child's session is up
      val ready    = java.nio.file.Paths.get(root, ".child_ready")
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (!Files.exists(ready) && child.isAlive && System.nanoTime() < deadline)
        Thread.sleep(100)
      Files.exists(ready) shouldBe true
      val wh = new Warehouse(spark, root)
      (1 to n).foreach { i =>
        wh.append(c,
          Seq((2000000L + i * 1000L, i.toDouble, s"p$i")).toDF("timestamp", "value", "parent_dim"),
          tags = Set.empty).fold(e => fail(s"parent append rejected: $e"), identity) shouldBe 1L
      }
      child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      withClue(s"child log:\n${new String(Files.readAllBytes(childLog.toPath)).takeRight(2000)}\n") {
        child.exitValue() shouldBe 0
      }
      val ref = wh.read(c).fold(fail(_), identity)
      // no lost schema update: the union carries BOTH writers' columns
      ref.schema.orderedNames should contain allOf ("child_dim", "parent_dim")
      ref.df.count() shouldBe (2L * n)
      ref.df.filter(col("child_dim").isNotNull).count() shouldBe n.toLong
      ref.df.filter(col("parent_dim").isNotNull).count() shouldBe n.toLong
    } finally if (child.isAlive) child.destroyForcibly()
  }

  it should "answer metadata commands" in {
    val (engine, wh, _) = freshEngine()
    seed(wh, Coords("db", "nsA", "mm"))
    engine.command("db", "nsA", Ast.ShowMetrics).fold(fail(_), identity) shouldBe Seq(Seq("mm"))
    engine.command("db", "nsA", Ast.ShowNamespaces).fold(fail(_), identity).flatten should contain("nsA")
    val desc = engine.command("db", "nsA", Ast.DescribeMetric("mm")).fold(fail(_), identity)
    desc should contain(Seq("timestamp", "bigint", "timestamp"))
    desc should contain(Seq("grp", "string", "tag"))
    desc should contain(Seq("name", "string", "dimension"))
  }

  it should "parse metadata commands from text" in {
    import graft.sql.CommandParser
    CommandParser.parse("SHOW METRICS") shouldBe Right(Ast.ShowMetrics)
    CommandParser.parse("use myns") shouldBe Right(Ast.UseNamespace("myns"))
    CommandParser.parse("describe people") shouldBe Right(Ast.DescribeMetric("people"))
    CommandParser.parse("show namespaces") shouldBe Right(Ast.ShowNamespaces)
    CommandParser.parse("EXPLAIN select * from m") shouldBe Right(Ast.Explain("select * from m"))
    CommandParser.parse("bogus").isLeft shouldBe true
  }

  it should "run pipeline commands through the dialect (DEDUP EXACT / AUDIT PROFILE)" in {
    import graft.sql.CommandParser
    // surface: the curation operators reachable as commands, not only as
    // library calls — parse, plan (resolve), execute
    CommandParser.parse("DEDUP EXACT ON mm") shouldBe Right(Ast.DedupExact("mm"))
    CommandParser.parse("audit profile on mm") shouldBe Right(Ast.AuditProfile("mm"))
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "nsA", "mm")
    seed(wh, c)
    // plant an exact triple: the same full record (all visible fields) 3x
    wh.append(c, Seq(
      (5 * 86400000L, 9.0, "dup", "z"),
      (5 * 86400000L, 9.0, "dup", "z"),
      (5 * 86400000L, 9.0, "dup", "z")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    val dups = engine.command("db", "nsA", Ast.DedupExact("mm")).fold(fail(_), identity)
    dups shouldBe Seq(Seq((5 * 86400000L).toString, "3"))
    val prof = engine.command("db", "nsA", Ast.AuditProfile("mm")).fold(fail(_), identity)
    prof.map(_.head) should contain allOf ("timestamp", "value", "name", "grp")
    val nameRow = prof.find(_.head == "name").get
    nameRow(1) shouldBe "7" // n_rows: 4 seeded + 3 dups
    // unknown metric surfaces as a planner error, not an exception
    engine.command("db", "nsA", Ast.DedupExact("nope")).isLeft shouldBe true
  }

  it should "explain a statement's plan without executing it" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "nsA", "mm")
    seed(wh, c)
    def explain(q: String) =
      engine.command("db", "nsA", Ast.Explain(q)).fold(fail(_), identity).map(r => r(0) -> r(1)).toMap
    val scan = explain("select name from mm where value > 3 limit 7")
    scan("plan") shouldBe "Scan"
    scan("limit") shouldBe "7"
    scan("where") should include("value")
    val tag = explain("select count(*) from mm group by grp")
    tag("plan") shouldBe "GroupByTag"
    tag("tag") shouldBe "grp"
    val temporal = explain("select sum(value) from mm group by interval 1 h")
    temporal("plan") shouldBe "GroupByInterval"
    temporal("interval_ms") shouldBe "3600000"
    // plan errors surface, data untouched
    engine.command("db", "nsA", Ast.Explain("select nope() from mm")).isLeft shouldBe true
  }

  "warehouse rollup maintenance" should "serve temporal queries and stay exact through append and delete" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "roll", "ev")
    seed(wh, c)
    wh.enableRollup(c, stepMs = 1000L).fold(fail(_), identity)
    // span (0, 2 days]: lo-1 = 0 and hi are on the 1 s grain; len 1 d
    val q = s"select sum(value) from ev where timestamp > 0 and timestamp <= ${2 * day} group by interval 1 d"
    def run(query: String) = engine.sql("db", "roll", query).fold(fail(_), _.collect().toSeq)
    val noRoll = {
      val (e2, wh2, _) = freshEngine(); seed(wh2, Coords("db", "roll", "ev"))
      e2.sql("db", "roll", q).fold(fail(_), _.collect().toSeq)
    }
    run(q) shouldBe noRoll
    // the read path actually attached the stats
    wh.read(c).toOption.flatMap(_.rollup).map(_.stepMs) shouldBe Some(1000L)

    // append keeps the segment log current
    wh.append(c, Seq((1 * day + 300L, 10.0, "z", "x")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    run(q).map(_.getDouble(3)).sum shouldBe 16.0 // 1+2+3+10 (the 4.0 row is past the span)

    // delete rebuilds the stats from survivors
    engine.sql("db", "roll", "delete from ev where value = 10.0")(tc).fold(fail(_), identity)
    run(q).map(_.getDouble(3)).sum shouldBe 6.0
  }

  it should "keep rollup cells for evicted shards under tiered retention (keepOnEvict)" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "tier", "ev")
    // retention 1 day from "now" = day 2.5: cutoff = day 1.5 — the day-0
    // shard expires whole, day-1 straddles (and must stay whole — shard
    // grain under the tier), day-2 is live
    wh.append(c, Seq(
      (0 * day + 100L, 1.0, "a", "x"),
      (1 * day + 100L, 2.0, "b", "x"),
      (2 * day + 100L, 4.0, "c", "y")
    ).toDF("timestamp", "value", "name", "grp"), tags = Set("grp"),
      retentionMs = day).fold(fail(_), identity)
    wh.enableRollup(c, stepMs = 1000L, keepOnEvict = true).fold(fail(_), identity)

    val now = (2.5 * day).toLong
    val report = graft.catalog.Maintenance.runOnce(wh)(TimeContext(now))
    report.errors shouldBe empty
    report.evictedShards shouldBe 1 // day-0 raw gone

    // rollup-eligible temporal aggregation still answers over the evicted
    // span (the 1.0 point lives only in the stats tier now)...
    val q = s"select sum(value) from ev where timestamp > 0 and timestamp <= ${3 * day} group by interval 1 d"
    engine.sql("db", "tier", q)(TimeContext(now))
      .fold(fail(_), _.collect().toSeq).map(_.getDouble(3)).sum shouldBe 7.0
    // ...while the raw scan has aged the point out (and kept the
    // straddling day-1 shard whole — no partial delete under the tier)
    engine.sql("db", "tier", "select * from ev")(TimeContext(now))
      .fold(fail(_), _.collect().toSeq).map(_.getDouble(1)).sorted shouldBe Seq(2.0, 4.0)
  }

  it should "persist rollup keys and serve group-by-tag from the keyed log" in {
    val (engine, wh, _) = freshEngine()
    val c = Coords("db", "rollk", "ev")
    seed(wh, c)
    wh.enableRollup(c, stepMs = 1000L, keys = Seq("grp")).fold(fail(_), identity)
    wh.rollupCfg(c) shouldBe Some((1000L, Seq("grp")))
    def run(q: String) = engine.sql("db", "rollk", q).fold(fail(_), _.collect().toSeq)
    val byTag = run("select sum(value) from ev group by grp order by grp")
      .map(r => (r.getString(0), r.getDouble(1)))
    byTag shouldBe Seq(("x", 3.0), ("y", 7.0))
    // appended batches keep the keyed segments consistent
    wh.append(c, Seq((1 * day + 400L, 5.0, "q", "y")).toDF("timestamp", "value", "name", "grp"),
      tags = Set("grp")).fold(fail(_), identity)
    run("select sum(value) from ev group by grp order by grp")
      .map(r => (r.getString(0), r.getDouble(1))) shouldBe Seq(("x", 3.0), ("y", 12.0))
  }
}
