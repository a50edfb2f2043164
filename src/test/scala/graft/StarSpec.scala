package graft

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.operators.Star

/** Behavior specs for the star-schema operators (plan shapes are asserted
  * in PlanShapeSpec; cross-engine values by the st_* oracle gates). */
class StarSpec extends SparkTestBase {

  import spark.implicits._

  private val t0 = LocalDateTime.of(2000, 1, 1, 0, 0)

  "Star.customerDistribution" should "count zero-order customers in the k=0 bucket" in {
    val customer = Seq(1L, 2L, 3L).toDF("c_custkey")
    val orders = Seq((10L, 1L), (11L, 1L), (12L, 2L)).toDF("o_orderkey", "o_custkey")
    val out = Star.customerDistribution(customer, orders)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out shouldBe Map(2L -> 1L, 1L -> 1L, 0L -> 1L) // cust 3 never ordered
  }

  "Star.topSupplier" should "return every supplier tied at the max revenue" in {
    val supplier = Seq((1L, "s1"), (2L, "s2"), (3L, "s3")).toDF("s_suppkey", "s_name")
    // suppliers 1 and 2 both earn exactly 100.00 * (1 - 0.00); 3 earns less
    val li = Seq(
      (1L, 100.0, 0.0), (2L, 100.0, 0.0), (3L, 50.0, 0.0)
    ).map { case (sk, p, d) => (sk, p, d, 0.0, java.sql.Timestamp.valueOf("2000-02-01 00:00:00")) }
      .toDF("l_suppkey", "l_extendedprice", "l_discount", "l_tax", "l_shipdate")
    val out = Star.topSupplier(supplier, li, t0, LocalDateTime.of(2001, 1, 1, 0, 0))
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    out shouldBe Array((1L, 100.0), (2L, 100.0))
  }

  "Layout.mortonKey" should "interleave bits exactly and keep quadrants ordered" in {
    import graft.operators.Layout
    // morton(3, 5): x bits 1,1 at even positions, y bits 1,0,1 at odd →
    // 1 + 2 + 4 + 0 + 0 + 32 = 39; corners pin the full-domain ends
    val pts = Seq((3L, 5L), (0L, 0L), (65535L, 65535L)).toDF("x", "y")
    val keys = pts.select(Layout.mortonKey(col("x"), col("y"), bits = 16))
      .collect().map(_.getLong(0))
    keys(0) shouldBe 39L
    keys(1) shouldBe 0L
    keys(2) shouldBe (1L << 32) - 1
    // every key in the low quadrant sorts below every key with the top y
    // bit set (bit 31 dominates) — the locality that bounds the boxes
    val rnd = new scala.util.Random(3)
    val lo = (1 to 20).map(_ => (rnd.nextInt(32768).toLong, rnd.nextInt(32768).toLong))
    val hi = (1 to 20).map(_ => (rnd.nextInt(65536).toLong, 32768L + rnd.nextInt(32768)))
    val ks = (lo ++ hi).toDF("x", "y")
      .select(Layout.mortonKey(col("x"), col("y"), bits = 16)).collect().map(_.getLong(0))
    ks.take(20).max should be < ks.drop(20).min
  }

  "Layout.zorderBuckets" should "bound both axes within each keyspace slice" in {
    import graft.operators.Layout
    // a 16×16 grid over the full 16-bit domain: the 16 slices are the
    // 4×4 top-bit boxes, each holding 16 points within one quarter-span
    // box on BOTH axes — the data-skipping evidence itself
    val grid = for { i <- 0 until 16; j <- 0 until 16 } yield (i * 4096L, j * 4096L)
    val out = Layout.zorderBuckets(grid.toDF("x", "y"), "x", "y", bits = 16, nBuckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4)))
    out.length shouldBe 16
    out.foreach { case (_, n, xSpan, ySpan) =>
      n shouldBe 16L
      xSpan should be <= 16384L
      ySpan should be <= 16384L
    }
    // sorting on the Morton key keeps every row, and each run of 16
    // consecutive keys is one such bounded box
    val laid = grid.toDF("x", "y")
      .orderBy(Layout.mortonKey(col("x"), col("y"), bits = 16))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    laid.sorted shouldBe grid.sorted
    laid.grouped(16).foreach { box =>
      (box.map(_._1).max - box.map(_._1).min) should be <= 16384L
      (box.map(_._2).max - box.map(_._2).min) should be <= 16384L
    }
  }

  "Star.soleLatestShippers" should "credit only the unique last shipper of multi-supplier orders" in {
    val supplier = Seq((1L, "s1"), (2L, "s2"), (3L, "s3")).toDF("s_suppkey", "s_name")
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // order 10 (F, two suppliers): s2 ships last alone → credited
    // order 11 (F, two suppliers): s1 and s3 tie at the max → nobody
    // order 12 (F, single supplier): excluded (ns < 2)
    // order 13 (O): excluded by status
    val li = Seq(
      (10L, 1L, ts("2000-01-01")), (10L, 2L, ts("2000-02-01")),
      (11L, 1L, ts("2000-03-01")), (11L, 3L, ts("2000-03-01")),
      (12L, 3L, ts("2000-04-01")),
      (13L, 2L, ts("2000-05-01")), (13L, 1L, ts("2000-01-05"))
    ).toDF("l_orderkey", "l_suppkey", "l_shipdate")
    val orders = Seq((10L, "F"), (11L, "F"), (12L, "F"), (13L, "O"))
      .toDF("o_orderkey", "o_orderstatus")
    val out = Star.soleLatestShippers(supplier, orders, li)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("s2", 1L))
  }

  "Star.orderPriorityCheck" should "count an order once no matter how many late lines it has" in {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, ts("2000-02-01"), "1-URGENT"),  // two late lines → counted once
      (2L, ts("2000-02-01"), "1-URGENT"),  // shipped on time → not counted
      (3L, ts("1999-01-01"), "5-LOW")      // outside the window
    ).toDF("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Seq(
      (1L, ts("2000-06-01")), (1L, ts("2000-07-01")),
      (2L, ts("2000-02-10")), (3L, ts("2000-06-01"))
    ).toDF("l_orderkey", "l_shipdate")
    val out = Star.orderPriorityCheck(orders, li, t0, LocalDateTime.of(2001, 1, 1, 0, 0))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    out shouldBe Array(("1-URGENT", 1L))
  }

  "Star.dormantHighBalance" should "compare against the positive-balance average exactly" in {
    // positive balances 10.00, 20.00, 30.00 → avg 20.00; only cust 3 (30)
    // exceeds it; cust 4 (-5) is excluded from the average; cust 3 has no
    // orders so it survives the anti join
    val customer = Seq(
      (1L, 0L, 10.0), (2L, 0L, 20.0), (3L, 1L, 30.0), (4L, 1L, -5.0)
    ).toDF("c_custkey", "c_nationkey", "c_acctbal")
    val orders = Seq((100L, 1L)).toDF("o_orderkey", "o_custkey")
      .select(col("o_orderkey"), col("o_custkey"))
    val nation = Seq((0L, "N0"), (1L, "N1")).toDF("n_nationkey", "n_name")
    val out = Star.dormantHighBalance(customer, orders, nation)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    out shouldBe Array(("N1", 1L, 30.0))
  }

  "Star.coPurchasePairs" should "count pair support once per order and lift against independence" in {
    // baskets: {1,2,3}, {1,2}, {1,3} — pair (1,2) and (1,3) co-occur
    // twice, (2,3) once (cut by minSupport); the duplicate lineitem for
    // part 1 in order 10 must not double-count
    val li = Seq(
      (10L, 1L), (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L),
      (30L, 1L), (30L, 3L)
    ).toDF("l_orderkey", "l_partkey")
    val out = Star.coPurchasePairs(li, minSupport = 2L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // n=3 orders; counts: part1→3, part2→2, part3→2
    // lift(1,2) = 2·3/(3·2) = 1.0, lift(1,3) = 1.0
    out shouldBe Array((1L, 2L, 2L, 1.0), (1L, 3L, 2L, 1.0))
  }

  it should "reject a hot order whose pair fan-out exceeds the guard" in {
    // one order with 6 distinct parts: C(6,2)=15 pairs is fine normally,
    // but under maxItemsPerOrder=5 the pre-check must fail LOUD before
    // the self-join, naming the offending size
    val hot = (1L to 6L).map(p => (99L, p)).toDF("l_orderkey", "l_partkey")
    val ex = intercept[IllegalArgumentException] {
      Star.coPurchasePairs(hot, minSupport = 1L, topK = 10, maxItemsPerOrder = 5)
    }
    ex.getMessage should include("6 distinct parts")
    // the same basket passes with the guard at its size
    Star.coPurchasePairs(hot, minSupport = 1L, topK = 100, maxItemsPerOrder = 6)
      .count() shouldBe 15L
  }

  "Layout.withHilbertKey" should "walk every cell exactly once in unit steps" in {
    import graft.operators.Layout
    // the Hilbert invariant that separates it from Morton: sorting the
    // full 8x8 grid by key yields a permutation of 0..63 whose CONSECUTIVE
    // cells are always grid neighbors (|dx| + |dy| = 1) — Z-order jumps
    // at every quadrant boundary, Hilbert never does
    val grid = (for { x <- 0L until 8L; y <- 0L until 8L } yield (x, y)).toDF("x", "y")
    val walk = Layout.withHilbertKey(grid, "x", "y", bits = 3)
      .orderBy("hkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    walk.map(_._3) shouldBe (0L until 64L).toArray
    walk.sliding(2).foreach { case Array((x1, y1, _), (x2, y2, _)) =>
      (math.abs(x1 - x2) + math.abs(y1 - y2)) shouldBe 1L
    }
    // orientation pin: the classic curve starts (0,0) -> (0,1)
    (walk(0)._1, walk(0)._2) shouldBe ((0L, 0L))
    (walk(1)._1, walk(1)._2) shouldBe ((0L, 1L))
  }

  "Layout.zorderBuckets ceil-span" should "keep bucket ids in [0, nBuckets) when nBuckets does not divide the keyspace" in {
    import graft.operators.Layout
    // bits=2 → keyspace 16; nBuckets=3 → span=ceil(16/3)=6: buckets 0,1,2
    // (floor-division span=5 would put keys 15 into bucket 3)
    val pts = (for { x <- 0L until 4L; y <- 0L until 4L } yield (x, y)).toDF("x", "y")
    val ids = Layout.zorderBuckets(pts, "x", "y", bits = 2, nBuckets = 3)
      .select("bucket").collect().map(_.getLong(0)).sorted
    ids.head should be >= 0L
    ids.last should be < 3L
    // more buckets than keys is a config error, not silent null buckets
    intercept[IllegalArgumentException] {
      Layout.zorderBuckets(pts, "x", "y", bits = 2, nBuckets = 20)
    }
  }
}
