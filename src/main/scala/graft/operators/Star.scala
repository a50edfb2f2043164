package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Classic star-schema analytics over the TPC-H-shaped tables the harness
 * ships (`lineitem`/`orders`/`customer`/`supplier`/`nation`/`region`) —
 * the general-OLAP face of the engine next to the metric dialect: wide
 * fact scans, broadcast dimension joins, partial aggregation.
 *
 * Money arithmetic is EXACT integer cents: prices/discounts/taxes are
 * 2-dp-grained, so `round(x*100)` recovers exact BIGINT cents and every
 * aggregate is an integer sum (map-side combined, engine-portable with no
 * FP summation-order sensitivity — a parallel double sum over 6e8 rows
 * agrees with a serial one only to ~1e-11 relative, which is exactly the
 * flakiness class the DuckDB hash-compare would surface). Derived money
 * columns divide the exact sum ONCE at the end. Overflow headroom: the
 * widest per-row term (`cents × pct × pct`) is < 2^38; int64 sums carry
 * ~2^25 such rows per group — beyond that, swap the sums to DECIMAL(38,0)
 * (the shapes are otherwise unchanged).
 *
 * Date columns are TimestampNTZ; bounds are `LocalDateTime` literals so
 * the comparison never routes through the session timezone.
 */
object Star {

  private val epCents = round(col("l_extendedprice") * 100, 0).cast("long")
  private val dPct    = round(col("l_discount") * 100, 0).cast("long")
  private val tPct    = round(col("l_tax") * 100, 0).cast("long")
  /** revenue numerator in cent·pct units: exact int, ÷1e4 at the end. */
  private val revNum  = col("__ep") * (lit(100L) - col("__d"))

  /**
   * TPC-H Q1-shaped pricing summary: per (returnflag, linestatus) the
   * quantity/price/discounted/charged sums, averages and row count over
   * lineitems shipped before `cutoff`. One scan, one 6-group aggregation;
   * every sum is map-side partial.
   */
  def pricingSummary(lineitem: DataFrame, cutoff: LocalDateTime): DataFrame =
    lineitem.filter(col("l_shipdate") <= lit(cutoff))
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("l_quantity"), 0).cast("long").as("__q"),
        epCents.as("__ep"), dPct.as("__d"), tPct.as("__t"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("__q")).as("sum_qty"),
        (sum(col("__ep")).cast("double") / 100.0).as("sum_base_price"),
        (sum(revNum).cast("double") / 10000.0).as("sum_disc_price"),
        (sum(revNum * (lit(100L) + col("__t"))).cast("double") / 1000000.0).as("sum_charge"),
        (sum(col("__q")).cast("double") / count(lit(1)).cast("double")).as("avg_qty"),
        (sum(col("__ep")).cast("double") / 100.0 / count(lit(1)).cast("double")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /**
   * TPC-H Q3-shaped shipping priority: the 10 highest-revenue orders from
   * one market segment, ordered before / shipped after `cut`. The segment
   * slice of `customer` broadcasts (dimension side, explicitly hinted);
   * the orders↔lineitem join shuffles on the order key; the final top-10
   * is TakeOrdered on the exact-integer-derived revenue.
   */
  def shippingPriority(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      segment: String, cut: LocalDateTime): DataFrame =
    lineitem.filter(col("l_shipdate") > lit(cut))
      .select(col("l_orderkey"), epCents.as("__ep"), dPct.as("__d"))
      .join(orders.filter(col("o_orderdate") < lit(cut))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg((sum(revNum).cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)

  /**
   * TPC-H Q5-shaped local supplier revenue: per nation of one region, the
   * revenue from orders in `[lo, hi)` where the supplying and ordering
   * nations match. All three dimensions (`supplier`, `nation`, the
   * region-filtered `region`) broadcast; the only shuffles are the
   * fact-fact order-key join and the |nations|-row aggregation. The
   * customer join is equi on (custkey, nationkey) — the nation-match
   * rides the hash key, never a post-join filter over a wider product.
   */
  def localSupplierRevenue(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
      regionName: String, lo: LocalDateTime, hi: LocalDateTime): DataFrame =
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"), epCents.as("__ep"), dPct.as("__d"))
      .join(orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName).select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg((sum(revNum).cast("double") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  /**
   * TPC-H Q13-shaped customer distribution: how many customers placed
   * exactly k orders, INCLUDING the zero-order customers (the left outer
   * join is the point of the query). Two aggregations: per-customer order
   * count (shuffles on custkey — both sides are "fact"-sized, no
   * broadcast), then a |distinct-k|-row histogram.
   */
  def customerDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /**
   * TPC-H Q8-shaped market share: per order year, the fraction of one
   * region's order revenue supplied by one nation. Numerator and
   * denominator are both exact cent·pct integer sums, so the single final
   * division is engine-portable bit-for-bit. Dimension joins broadcast;
   * the one real shuffle is lineitem↔orders on the order key.
   */
  def marketShare(
      region: DataFrame, nation: DataFrame, customer: DataFrame,
      orders: DataFrame, lineitem: DataFrame, supplier: DataFrame,
      regionName: String, supplierNation: String,
      lo: LocalDateTime, hi: LocalDateTime): DataFrame =
    lineitem
      .select(col("l_orderkey"), col("l_suppkey"), epCents.as("__ep"), dPct.as("__d"))
      .join(orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_custkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName).select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("s_nation"))),
        col("s_nationkey") === col("sn_key"))
      .groupBy(col("o_year"))
      .agg(
        sum(when(col("s_nation") === supplierNation, revNum).otherwise(lit(0L))).as("__num"),
        sum(revNum).as("__den"))
      .select(col("o_year"),
        round(col("__num").cast("double") / col("__den").cast("double"), 6).as("mkt_share"))
      .orderBy(col("o_year"))

  /**
   * TPC-H Q15-shaped top supplier: the supplier(s) with the maximum
   * revenue over a ship-date window. Revenue is the exact cent·pct sum,
   * so the max and the equality against it are integer comparisons; ties
   * (all maximal suppliers) are returned, as in the reference query. The
   * scalar max collects one row; the supplier dimension broadcasts.
   */
  def topSupplier(
      supplier: DataFrame, lineitem: DataFrame,
      lo: LocalDateTime, hi: LocalDateTime): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_suppkey"), epCents.as("__ep"), dPct.as("__d"))
      .groupBy(col("l_suppkey"))
      .agg(sum(revNum).as("__rev"))
    // the scalar max folds in-plan (1-row aggregate broadcast onto the
    // revenue rows): one action instead of a driver collect + a second
    // job re-deriving the same aggregate [guide §2.6, §5]; the integer
    // equality is unchanged
    val mx = rev.agg(max(col("__rev")).as("__mx"))
    rev.crossJoin(broadcast(mx)).filter(col("__rev") === col("__mx"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        (col("__rev").cast("double") / 10000.0).as("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /**
   * TPC-H Q22-shaped dormant high-balance customers: per nation, count
   * and total balance of customers whose balance exceeds the positive-
   * balance average AND who never ordered. The average never materializes
   * as a float: `bal_cents * n > total_cents` is an exact integer
   * comparison (cross-multiplied), so no engine can disagree on the
   * boundary. The order-key exclusion is a left anti join; the 2-scalar
   * global aggregate broadcasts as literals.
   */
  /**
   * TPC-H Q6-shaped revenue-change forecast: the revenue that would have
   * been lost without small discounts — `sum(extendedprice * discount)`
   * over one ship-year, a discount band and a quantity cap. One filtered
   * scan, one scalar aggregation of an exact cent·pct integer. The
   * shipdate bounds push to parquet directly; the discount-band and
   * quantity predicates are defined on ROUNDED derived columns (so the
   * boundary is engine-exact), which can't push — instead conservative
   * raw-column supersets of those bands (`round(x·100) ∈ [lo,hi]` implies
   * `x ∈ [(lo−1)/100, (hi+1)/100]`; `round(q) < n` implies `q < n`) push
   * to the scan, and the exact rounded predicates re-apply post-scan.
   */
  def revenueChange(
      lineitem: DataFrame, lo: LocalDateTime, hi: LocalDateTime,
      discPctLo: Long, discPctHi: Long, qtyLt: Long): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi) &&
        col("l_discount") >= (discPctLo - 1).toDouble / 100.0 &&
        col("l_discount") <= (discPctHi + 1).toDouble / 100.0 &&
        col("l_quantity") < qtyLt.toDouble)
      .select(epCents.as("__ep"), dPct.as("__d"),
        round(col("l_quantity"), 0).cast("long").as("__q"))
      .filter(col("__d") >= discPctLo && col("__d") <= discPctHi && col("__q") < qtyLt)
      .agg((sum(col("__ep") * col("__d")).cast("double") / 10000.0).as("revenue"))

  /**
   * TPC-H Q7-shaped volume shipping: revenue shipped between two specific
   * nations (both directions), per supplier-nation / customer-nation /
   * ship-year. Supplier and customer pre-join their (broadcast) nation
   * dims so the two fact-side joins carry the nation NAME as a 1-of-2
   * filtered attribute; the only real shuffles are lineitem↔orders on the
   * order key and the ≤ 2×|years| row final aggregation. The nation-pair
   * disjunction is applied on the joined row — both orientations survive
   * to one aggregation, as in the reference query.
   */
  def volumeShipping(
      nation: DataFrame, customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, supplier: DataFrame,
      nationA: String, nationB: String,
      lo: LocalDateTime, hi: LocalDateTime): DataFrame = {
    val nat = nation.filter(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey"), col("n_name"))
    val supp = supplier.join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = customer.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    lineitem
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        epCents.as("__ep"), dPct.as("__d"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
              (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg((sum(revNum).cast("double") / 10000.0).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /**
   * TPC-H Q10-shaped returned-item reporting: the `k` customers who
   * returned the most revenue in one order quarter. The quarter slice of
   * `orders` joins lineitems filtered to `l_returnflag = 'R'` on the
   * order key (the one fact-fact shuffle); customer and nation attach as
   * broadcast dims AFTER the per-customer aggregation, so the wide name/
   * balance attributes never ride the big shuffle. Top-k is TakeOrdered
   * on the exact-integer revenue with the customer key as tiebreak.
   */
  def returnedItems(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      nation: DataFrame, lo: LocalDateTime, hi: LocalDateTime, k: Int): DataFrame =
    lineitem.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), epCents.as("__ep"), dPct.as("__d"))
      .join(orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(revNum).as("__rev"))
      .join(customer.select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"),
        (col("__rev").cast("double") / 10000.0).as("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /**
   * TPC-H Q14-shaped promotion effect: the percentage of one ship-month's
   * revenue that came from promo-type parts. `part` is the only dimension
   * (broadcast); numerator and denominator are exact cent·pct integer
   * sums of the SAME aggregation (a conditional sum, not two scans), and
   * the single percentage division happens once at the end.
   */
  def promoEffect(
      part: DataFrame, lineitem: DataFrame,
      promoType: String, lo: LocalDateTime, hi: LocalDateTime): DataFrame =
    lineitem
      .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_partkey"), epCents.as("__ep"), dPct.as("__d"))
      .join(broadcast(part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === promoType, revNum).otherwise(lit(0L))).as("__num"),
        sum(revNum).as("__den"))
      .select(round(lit(100.0) * col("__num").cast("double") / col("__den").cast("double"), 6)
        .as("promo_revenue_pct"))

  /**
   * TPC-H Q17-shaped small-quantity-order revenue: average yearly revenue
   * lost if orders below 20% of a part's average quantity were not taken,
   * for one brand. The brand slice of `part` broadcasts into the fact
   * scan; the per-part average rides a window over the (tiny, ~0.1%)
   * surviving slice — ONE shuffle of the slice, never a second lineitem
   * scan and never a self-join. The 20%-of-average comparison is the
   * exact cross-multiplied integer form `5·q·n < Σq` — no float boundary.
   */
  def smallQuantityRevenue(part: DataFrame, lineitem: DataFrame, brand: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slice = lineitem
      .select(col("l_partkey"), round(col("l_quantity"), 0).cast("long").as("__q"),
        epCents.as("__ep"))
      .join(broadcast(part.filter(col("p_brand") === brand).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
    val w = Window.partitionBy(col("l_partkey"))
    slice
      .withColumn("__sumq", sum(col("__q")).over(w))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__q") * 5L * col("__n") < col("__sumq"))
      .agg((sum(col("__ep")).cast("double") / 100.0 / 7.0).as("avg_yearly"))
  }

  /**
   * TPC-H Q18-shaped large-volume customers: the `k` biggest orders whose
   * total quantity exceeds `qtyThreshold`. The per-order quantity sum is
   * the only fact aggregation; its HAVING-filtered survivor set is tiny
   * and broadcasts into `orders`, so the wide order/customer attributes
   * join AFTER the reduction (never shuffled at fact size). Quantities
   * are exact integers end-to-end.
   */
  def largeVolumeCustomers(
      customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
      qtyThreshold: Long, k: Int): DataFrame = {
    val big = lineitem
      .select(col("l_orderkey"), round(col("l_quantity"), 0).cast("long").as("__q"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("__q")).as("total_qty"))
      .filter(col("total_qty") > qtyThreshold)
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)
  }

  /**
   * MONTHLY REVENUE TREND — per ship-month revenue with the running
   * cumulative and a trailing 3-month moving average: the windowed-
   * analytics face of the star schema (no TPC-H counterpart; every BI
   * deployment runs this shape). Aggregate FIRST (exact-cent month sums,
   * map-side combined), window over the tiny month frame after — the
   * window never sees fact-sized data, so the single-partition window
   * frame (|months| rows) is safe at any corpus size. Cumulative sums
   * stay exact integers; each division happens once, in oracle-mirrored
   * order.
   */
  def monthlyRevenue(lineitem: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val monthly = lineitem
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ym"),
        epCents.as("__ep"), dPct.as("__d"))
      .groupBy(col("ym"))
      .agg(sum(revNum).as("__rev"))
    val w   = Window.orderBy(col("ym"))
    val w3  = w.rowsBetween(-2, 0)
    monthly
      .withColumn("__cum", sum(col("__rev")).over(w))
      .withColumn("__s3", sum(col("__rev")).over(w3))
      .withColumn("__n3", count(lit(1)).over(w3))
      .select(col("ym"),
        (col("__rev").cast("double") / 10000.0).as("revenue"),
        (col("__cum").cast("double") / 10000.0).as("cum_revenue"),
        ((col("__s3").cast("double") / col("__n3").cast("double")) / 10000.0).as("ma3_revenue"))
      .orderBy(col("ym"))
  }

  /**
   * YEAR-OVER-YEAR GROWTH per ship-month: each month's revenue against the
   * same month one year earlier (a key join on `ym − 100`, exact on the
   * yyyymm encoding — never a row-offset lag, which silently misaligns
   * when a month is absent). Same aggregate-first shape as
   * [[monthlyRevenue]]: the join sees only the tiny month frame. Growth is
   * the one division, over exact integer cents; months without a prior
   * year emit NULL growth.
   */
  def yoyGrowth(lineitem: DataFrame): DataFrame = {
    val monthly = lineitem
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).cast("long").as("ym"),
        epCents.as("__ep"), dPct.as("__d"))
      .groupBy(col("ym"))
      .agg(sum(revNum).as("__rev"))
    monthly
      .join(monthly.select(col("ym").as("__pym"), col("__rev").as("__prev")),
        col("ym") === col("__pym") + 100L, "left_outer")
      .select(col("ym"),
        (col("__rev").cast("double") / 10000.0).as("revenue"),
        (col("__prev").cast("double") / 10000.0).as("prev_revenue"),
        round((col("__rev") - col("__prev")).cast("double") / col("__prev").cast("double"), 6)
          .as("yoy_growth"))
      .orderBy(col("ym"))
  }

  /** One Q19 disjunct: brand + inclusive size band + inclusive quantity band. */
  final case class DiscountBand(brand: String, sizeLo: Long, sizeHi: Long, qtyLo: Long, qtyHi: Long)

  /**
   * TPC-H Q19-shaped discounted revenue: total discounted revenue from
   * lineitems matching ANY of the given (brand, size-band, quantity-band)
   * combinations. `part` broadcasts; the OR-of-ANDs predicate evaluates
   * on the joined row inside one codegen stage (each disjunct alone would
   * scan the fact once — the single-pass disjunction is the point). The
   * fact-side quantity bound (`q ≤ max hi`) pre-filters before the join.
   */
  def discountedRevenue(part: DataFrame, lineitem: DataFrame, bands: Seq[DiscountBand]): DataFrame = {
    val maxQty = bands.map(_.qtyHi).max
    val pred = bands.map { b =>
      col("p_brand") === b.brand &&
        col("p_size").between(b.sizeLo, b.sizeHi) &&
        col("__q").between(b.qtyLo, b.qtyHi)
    }.reduce(_ || _)
    lineitem
      .select(col("l_partkey"), round(col("l_quantity"), 0).cast("long").as("__q"),
        epCents.as("__ep"), dPct.as("__d"))
      .filter(col("__q") <= maxQty)
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .agg((sum(revNum).cast("double") / 10000.0).as("revenue"))
  }

  def dormantHighBalance(customer: DataFrame, orders: DataFrame, nation: DataFrame): DataFrame = {
    val balCents = round(col("c_acctbal") * 100, 0).cast("long")
    val cust = customer.select(col("c_custkey"), col("c_nationkey"), balCents.as("__bal"))
    // one row, two exact ints: the positive-balance sum and count —
    // folded in-plan as a broadcast 1-row crossJoin so the gate pays one
    // action, not a scalar collect + a second customer scan job
    // [guide §2.6, §5]; the exact cross-multiplied comparison is unchanged
    val stats = cust.filter(col("__bal") > 0L)
      .agg(sum(col("__bal")).as("__tot"), count(lit(1)).as("__n"))
    cust.crossJoin(broadcast(stats))
      .filter(col("__bal") * col("__n") > col("__tot")) // __bal > total/n, exactly
      .join(orders.select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("numcust"),
        (sum(col("__bal")).cast("double") / 100.0).as("totacctbal"))
      .orderBy(col("n_name"))
  }

  /**
   * TPC-H Q4-shaped order-priority check: per priority class, how many
   * orders placed in `[lo, hi)` had at least one lineitem shipped more
   * than `lateDays` after the order date. The EXISTS is a left-semi join
   * on the order key with the lateness predicate folded into the join
   * condition — no fact×fact product ever materializes, and the count is
   * a 5-group aggregation.
   */
  def orderPriorityCheck(
      orders: DataFrame, lineitem: DataFrame,
      lo: LocalDateTime, hi: LocalDateTime, lateDays: Int = 30): DataFrame =
    orders.filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(lineitem.select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          datediff(col("l_shipdate"), col("o_orderdate")) > lateDays,
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /**
   * TPC-H Q12-shaped shipping-delay bands: lineitems bucketed by how long
   * after the order date they shipped (CASE bands over exact day diffs —
   * explicit bands, not floor-division, because Spark's `div` truncates
   * toward zero while other engines floor, and negative "shipped early"
   * delays would split), counting critical-priority (1-URGENT/2-HIGH)
   * orders against the rest — Q12's two CASE-sums per group. One
   * fact↔fact join on the order key, then a |bands|-row aggregation.
   */
  def shippingDelayBands(
      orders: DataFrame, lineitem: DataFrame,
      lo: LocalDateTime, hi: LocalDateTime): DataFrame = {
    val days = datediff(col("l_shipdate"), col("o_orderdate"))
    val band = when(days < 0, "early").when(days < 90, "0-89")
      .when(days < 365, "90-364").when(days < 730, "365-729").otherwise("730+")
    val crit = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    lineitem.filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi))
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(band.as("delay_band"))
      .agg(
        sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("delay_band"))
  }

  /**
   * TPC-H Q21-shaped waiting-supplier audit (adapted to this schema's
   * columns: no commit/receipt dates, so "kept the order waiting" means
   * SOLE LATEST SHIPPER): over finished multi-supplier orders, the
   * suppliers who alone shipped an order's last line. Per order one
   * max-shipdate + distinct-supplier aggregation, latest shippers kept
   * when exactly one supplier sits at the max — all exact dates/ints, a
   * deterministic top-k by count then name.
   *
   * Shape (round 18): ONE exchange, no pin, no join-back. The line frame
   * hash-partitions on the ORDER key once; the pair-level
   * `(order, supplier, max shipdate)` aggregation and the per-order
   * sole-latest fold both cluster on a key list containing it (subset
   * partitioning), so neither plans its own exchange. The fold itself is
   * `graft_sole_latest` — a flat-primitive-buffer DeclarativeAggregate
   * returning `(ns, last, nl, min key at last)` in one HashAggregate
   * pass, replacing the former per-order stats + pin + join-back +
   * second aggregation (the same answers by construction: the relation
   * is distinct on the pair, so its row count IS the distinct-supplier
   * count). The struct-max spelling of this fold was a measured dead
   * end (SortAggregate degradation — see the round-18 log); the flat
   * buffer keeps hash aggregation and map-side combine. Trade-off: the
   * explicit repartition shuffles line-level rows where the old pair
   * aggregation combined map-side first — TPC-H carries ~1 line per
   * (order, supplier), so the exchange payload is near-identical and the
   * second exchange disappears entirely.
   */
  def soleLatestShippers(
      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
      k: Int = 20): DataFrame = {
    import graft.functions.GraftFunctions
    val lastShippers = lineitem
      .join(orders.filter(col("o_orderstatus") === "F").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("l_shipdate")).as("__sd"))
      .groupBy(col("l_orderkey"))
      .agg(GraftFunctions.soleLatest(col("__sd"), col("l_suppkey")).as("__st"))
      .filter(col("__st.ns") >= 2 && col("__st.nl") === 1)
      .select(col("l_orderkey"), col("__st.key").as("__supp"))
    lastShippers
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("__supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /**
   * TPC-H Q22-shaped sales opportunity: per nation, the count and total
   * balance of above-average-balance customers who never ordered. The
   * average is never materialized as a float: `bal·n > Σbal` compares
   * exact integer cents cross-multiplied (the [[dormantHighBalance]]
   * idiom), the no-orders test is one anti join, and only the final
   * per-nation balance sum divides back to currency.
   */
  def salesOpportunity(
      customer: DataFrame, orders: DataFrame, nation: DataFrame): DataFrame = {
    val balCents = round(col("c_acctbal") * 100, 0).cast("long")
    val cust = customer.select(col("c_custkey"), col("c_nationkey"), balCents.as("__bal"))
    // the [[dormantHighBalance]] in-plan fold: one action, no driver scalar
    val stats = cust.filter(col("__bal") > 0L)
      .agg(sum(col("__bal")).as("__tot"), count(lit(1)).as("__n"))
    cust.crossJoin(broadcast(stats))
      .filter(col("__bal") * col("__n") > col("__tot"))
      .join(orders.select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("numcust"),
        (sum(col("__bal")).cast("double") / 100.0).as("totacctbal"))
      .orderBy(col("numcust").desc, col("n_name"))
  }

  /**
   * TPC-H Q9-shaped product-type profit (cost proxied as `costPct`% of
   * the part's retail price — this schema carries no partsupp supply
   * cost): per supplying nation and order year,
   * `Σ rev − Σ qty·retail·costPct` over lineitems of one part type. Both
   * sums are exact cent·pct int64s (`qty` is integer, retail is 2 dp), so
   * the single ÷1e4 at the end is engine-portable. Part and the
   * supplier→nation chain broadcast; the one real shuffle is
   * lineitem↔orders on the order key.
   */
  def productTypeProfit(
      nation: DataFrame, supplier: DataFrame, part: DataFrame,
      orders: DataFrame, lineitem: DataFrame,
      pType: String, costPct: Int = 80): DataFrame = {
    require(costPct >= 0 && costPct <= 100, "costPct must be a percentage")
    val retailCents = round(col("p_retailprice") * 100, 0).cast("long")
    val costNum = col("__q") * col("__rc") * lit(costPct.toLong)
    lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        round(col("l_quantity"), 0).cast("long").as("__q"),
        epCents.as("__ep"), dPct.as("__d"))
      .join(broadcast(part.filter(col("p_type") === pType)
        .select(col("p_partkey"), retailCents.as("__rc"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(((sum(revNum) - sum(costNum)).cast("double") / 10000.0).as("profit"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /**
   * MARKET-BASKET co-occurrence: the top-k part pairs ordered together in
   * the most orders, with the LIFT of each pair (how much more often the
   * two parts co-occur than independence predicts:
   * `support·N / (count_a·count_b)` over order counts — all exact int64,
   * one division at the end). The cut is deterministic: support DESC,
   * then (part_a, part_b).
   *
   * Scale shape: the per-order self-join shuffles on the order key and
   * fans out C(items-per-order, 2) pairs per order — a BOUNDED per-row
   * blowup (order size is bounded by the business, not the corpus), then
   * a partial-aggregated pair count. The basket relation pins once and
   * feeds the pair join, the per-part counts and the order count; top-k
   * runs as TakeOrdered, never a global sort.
   */
  def coPurchasePairs(
      lineitem: DataFrame,
      minSupport: Long = 2L,
      topK: Int = 50,
      maxItemsPerOrder: Int = 1000
  ): DataFrame = {
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    require(minSupport >= 1, "minSupport must be >= 1")
    require(topK >= 1, "topK must be >= 1")
    require(maxItemsPerOrder >= 2, "maxItemsPerOrder must be >= 2")
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().pinned
    // fan-out guard: the self-join blows up C(items, 2) per order — a hot
    // order with 10^5 distinct parts would emit ~5·10^9 pairs from ONE key.
    // Fail loud before the join rather than melt an executor (the same
    // pre-check discipline as markovTransitions / theilSen). The guard
    // probe FUSES with the order count the lift denominator needs anyway
    // — one per-order aggregation job yields both, so the check is free.
    val stats = li.groupBy(col("ok")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")), count(lit(1))).head()
    val maxItems = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    require(maxItems <= maxItemsPerOrder,
      s"an order holds $maxItems distinct parts (> maxItemsPerOrder=$maxItemsPerOrder): " +
        s"the pair fan-out would be ~${maxItems * (maxItems - 1) / 2} rows from one order key; " +
        "raise maxItemsPerOrder explicitly if that blow-up is intended")
    val nOrders = stats.getLong(1)
    val pc = li.groupBy(col("pk")).agg(count(lit(1)).as("__c"))
    val pairs = li.toDF("ok", "pa")
      .join(li.toDF("ok", "pb"), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val out = pairs
      .join(pc.select(col("pk").as("pa"), col("__c").as("__ca")), "pa")
      .join(pc.select(col("pk").as("pb"), col("__c").as("__cb")), "pb")
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("support"),
        round((col("support").cast("double") * lit(nOrders.toDouble)) /
          (col("__ca").cast("double") * col("__cb").cast("double")), 6).as("lift"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(topK)
    Checkpoints.free(lineitem) // input consumed (often a filtered scan — no pins is a no-op)
    out
  }

  /**
   * GUARDED co-purchase EDGE builder — the `(id_a, id_b)` support-filtered
   * pair graph that [[coPurchasePairs]] ranks, exposed as the single entry
   * point for every graph analytic that walks the basket graph
   * (Adamic–Adar candidates, BFS radius, personalized PageRank). One
   * implementation means ONE copy of the C(items-per-order, 2) fan-out
   * guard: a hot order with 10^5 distinct parts would emit ~5·10^9 pairs
   * from a single key, so the per-order distinct-item max is checked
   * BEFORE the self-join and the build fails loud instead of melting an
   * executor. The guard aggregation also yields the order count, which
   * prices the optional FRACTIONAL support cut (`minSupportFrac`):
   * frequent-itemset practice states support as a fraction of
   * transactions, because an absolute cut of 2 admits every pair once the
   * corpus replicates (measured: the 3× scale probe went 2 s → 48 s on an
   * absolute cut, flat on the fractional one).
   *
   * The returned frame is PINNED ([[graft.pipeline.Checkpoints]]): callers
   * may run a cheap scalar probe (seed selection) and then hand the SAME
   * materialization to the graph walk without re-running the self-join —
   * before this builder existed, `st_ppr` enumerated the edge set twice
   * (once for the seed min, once inside the walk), the board's most
   * expensive gate. Downstream graph ops free the pin via their standard
   * `Checkpoints.free(edges)` on entry.
   */
  def coPurchaseEdges(
      lineitem: DataFrame,
      minSupport: Long = 2L,
      maxItemsPerOrder: Int = 1000,
      minSupportFrac: Option[Double] = None
  ): DataFrame = {
    import graft.pipeline.Checkpoints
    import graft.pipeline.Checkpoints.PinOps
    require(minSupport >= 1, "minSupport must be >= 1")
    require(maxItemsPerOrder >= 2, "maxItemsPerOrder must be >= 2")
    minSupportFrac.foreach(f => require(f > 0.0 && f < 1.0, "minSupportFrac must be in (0, 1)"))
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().pinned
    // finally-scoped free: the fan-out require below is a FAILURE path —
    // without it a rejected build leaked the `li` pin for the session
    try {
      // fused guard probe: per-order max distinct items (the fan-out check)
      // and the order count (the fractional-cut denominator) in ONE job
      val stats = li.groupBy(col("ok")).agg(count(lit(1)).as("__n"))
        .agg(max(col("__n")), count(lit(1))).head()
      val maxItems = if (stats.isNullAt(0)) 0L else stats.getLong(0)
      require(maxItems <= maxItemsPerOrder,
        s"an order holds $maxItems distinct parts (> maxItemsPerOrder=$maxItemsPerOrder): " +
          s"the pair fan-out would be ~${maxItems * (maxItems - 1) / 2} rows from one order key; " +
          "raise maxItemsPerOrder explicitly if that blow-up is intended")
      val nOrders = stats.getLong(1)
      val cut = minSupportFrac
        .map(f => math.max(minSupport, math.ceil(nOrders * f).toLong))
        .getOrElse(minSupport)
      // per-order part pairs enumerate in-row from each order's bounded
      // sorted part array (one aggregation — the guard above already
      // proved every order fits maxItemsPerOrder, so nothing drops);
      // replaces the li ⨝ li self-join: one Exchange instead of two
      graft.pipeline.Dedup.cappedBucketPairs(
          li.select(col("ok"), col("pk").as("id")), Seq("ok"), maxItemsPerOrder)
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__s"))
        .filter(col("__s") >= cut)
        .select(col("id_a"), col("id_b"))
        .pinned
    } finally Checkpoints.free(li, lineitem)
  }

  /**
   * [[coPurchaseEdges]] built for SHARING across many walks in one
   * session: identical guards and algebra, but the result PERSISTS
   * (MEMORY_AND_DISK) instead of local-checkpointing, and no intermediate
   * pins back it — so the graph operators' standard on-entry
   * `Checkpoints.free(edges)` is a no-op against it (free releases only
   * `LogicalRDD` checkpoint leaves), and the lineage stays fully
   * recomputable if cached blocks are ever dropped. The `(ok, pk)`
   * distinct projection is a lazy frame scanned by the guard probe and
   * both self-join sides (≤3 recomputations, paid ONCE per session at
   * build); every subsequent walk — PPR, BFS, Adamic–Adar — reads the one
   * cached edge relation. At 100 TB the equivalent is writing the edge
   * relation as a table once and pointing every walk at it. Release with
   * `edges.unpersist()` when the session retires the graph.
   */
  def coPurchaseEdgesShared(
      lineitem: DataFrame,
      minSupport: Long = 2L,
      maxItemsPerOrder: Int = 1000,
      minSupportFrac: Option[Double] = None
  ): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    require(maxItemsPerOrder >= 2, "maxItemsPerOrder must be >= 2")
    minSupportFrac.foreach(f => require(f > 0.0 && f < 1.0, "minSupportFrac must be in (0, 1)"))
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val stats = li.groupBy(col("ok")).agg(count(lit(1)).as("__n"))
      .agg(max(col("__n")), count(lit(1))).head()
    val maxItems = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    require(maxItems <= maxItemsPerOrder,
      s"an order holds $maxItems distinct parts (> maxItemsPerOrder=$maxItemsPerOrder): " +
        s"the pair fan-out would be ~${maxItems * (maxItems - 1) / 2} rows from one order key; " +
        "raise maxItemsPerOrder explicitly if that blow-up is intended")
    val nOrders = stats.getLong(1)
    val cut = minSupportFrac
      .map(f => math.max(minSupport, math.ceil(nOrders * f).toLong))
      .getOrElse(minSupport)
    // per-order part pairs enumerate in-row from each order's bounded
    // sorted part array (the guard above proved the bound) — no self-join
    val out = graft.pipeline.Dedup.cappedBucketPairs(
        li.select(col("ok"), col("pk").as("id")), Seq("ok"), maxItemsPerOrder)
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("__s"))
      .filter(col("__s") >= cut)
      // support rides along (graph walks project it away; the basket
      // ranking consumes it — one pair enumeration serves both)
      .select(col("id_a"), col("id_b"), col("__s").as("support"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // materialize: every sharer scans the cached relation
    out
  }

  /**
   * [[coPurchasePairs]] over the PREBUILT support-bearing pair relation
   * ([[coPurchaseEdgesShared]]) — the C(items, 2) self-join and support
   * count are NOT re-run; only the lift denominators (per-part order
   * counts, order count) re-derive from `lineitem` in one distinct pass.
   * Identical ranking, identical rounding. The shared relation must have
   * been built at the same `minSupport` cut.
   */
  def coPurchasePairsOn(
      pairsWithSupport: DataFrame,
      lineitem: DataFrame,
      topK: Int = 50
  ): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val li = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    // the order count folds in-plan: count_distinct over the orderkey
    // column alone (a narrower scan than the former distinct-pairs →
    // distinct-ok → count() driver job) rides the one output action as a
    // broadcast 1-row crossJoin [guide §2.6, §5]; the lift arithmetic is
    // the same double chain with the same exact integer inputs
    val no = lineitem.agg(count_distinct(col("l_orderkey")).as("__no"))
    val pc = li.groupBy(col("pk")).agg(count(lit(1)).as("__c"))
    pairsWithSupport
      .select(col("id_a").as("pa"), col("id_b").as("pb"), col("support"))
      .join(pc.select(col("pk").as("pa"), col("__c").as("__ca")), "pa")
      .join(pc.select(col("pk").as("pb"), col("__c").as("__cb")), "pb")
      .crossJoin(broadcast(no))
      .select(col("pa").as("part_a"), col("pb").as("part_b"), col("support"),
        round((col("support").cast("double") * col("__no").cast("double")) /
          (col("__ca").cast("double") * col("__cb").cast("double")), 6).as("lift"))
      .orderBy(col("support").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /**
   * Deterministic walk seed for a [[coPurchaseEdges]] frame: the smallest
   * `id_a`. An EMPTY edge set (a fractional support cut can legally prune
   * every pair) previously surfaced as a bare NullPointerException from
   * `getLong` at the caller; here it frees the pinned frame and fails with
   * a named message instead.
   */
  def walkSeed(edges: DataFrame): Long = {
    val r = edges.agg(min(col("id_a"))).head()
    if (r.isNullAt(0)) {
      graft.pipeline.Checkpoints.free(edges)
      throw new IllegalArgumentException(
        "co-purchase edge set is empty (the support cut pruned every pair): no walk seed — " +
          "lower minSupport/minSupportFrac or verify the input has multi-item orders")
    }
    r.getLong(0)
  }
}
