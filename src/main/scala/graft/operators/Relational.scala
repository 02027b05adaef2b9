package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.Tables

/** Relational core over the driver star schema (SURVEY.md §2.3 J4–J5,
  * §2.4 A6–A8, §2.5 W1–W3, §2.6 O3, §2.7 U3) — all [EXT], built from the
  * public DataFrame API and planned by Catalyst.
  *
  * Oracle-parity note: double summation is order-dependent, so every money
  * aggregate casts per-row to an exact decimal first (products of two/three
  * 2-decimal inputs are exact at scale 4/6), sums in decimal (exact,
  * order-independent), and casts the result back to double — bit-identical
  * between Spark and DuckDB regardless of partitioning.
  *
  * Scale notes (100 TB):
  *  - Dimension joins (region/nation/supplier/customer/part) are broadcast;
  *    only fact⋈fact (lineitem⋈orders) shuffles, on the join key.
  *  - Aggregations are partial+final hash aggregates (map-side combine).
  *  - Top-k is TakeOrderedAndProject (no global sort); per-group top-k is
  *    a single window shuffle on the group key.
  */
object Relational {

  /** (l_suppkey, l_partkey)-grain lineitem partials SHARED by
    * `q_dominant_supplier` and `q_supplier_diversity` (guide §5 — the
    * decontam-report discipline): both faces open with the identical
    * fact aggregate to (supplier, part) grain and differ only in the
    * measures they read, so the combined measure set
    * (supp_qty, n_items, n_ret) materializes ONCE per (session, dir)
    * — one fact shuffle instead of two — and each face projects its
    * slice. The grain table is |distinct (supp, part)|-sized (orders
    * of magnitude under the fact at scale) and persists
    * MEMORY_AND_DISK; eagerly counted under the build name
    * `supp_part_grain` so first touch is billed as a named build. */
  private def suppPartGrain(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.getOrBuild(spark, "supp_part_grain", dir) {
      val t = Tables.lineitem(spark, dir)
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("supp_qty"),
          count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_ret"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t.count()
      t
    }

  /** Exact decimal sum surfaced as double (see class doc). */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact average: exact-decimal sum / count, divided in double. */
  def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  // --- A6: pricing summary (TPC-H Q1 shape) --------------------------------

  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // --- J4: star joins ------------------------------------------------------

  /** 5-way star join: revenue by nation (TPC-H Q5 shape). Dimension sides
    * (customer, nation, region) are explicitly broadcast. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Top-10 unshipped-revenue orders (TPC-H Q3 shape): lineitem is
    * pre-aggregated to order grain BEFORE meeting orders (r20, guide
    * §2.3 "aggregate before you shuffle" / §3.1): the revenue sum only
    * needs lineitem columns and o_orderkey is unique, so grouping by
    * l_orderkey first shrinks the join's fact side from |lineitem| to
    * |orders| rows — map-side partial aggregation compresses the
    * exchange (lineitem files are orderkey-clustered), and the final
    * aggregate's hash partitioning is exactly the join's required
    * distribution, so the join adds NO exchange on this side. The
    * orders probe is left unhinted: AQE broadcasts the pruned
    * (okey, date) projection when it measures small and falls back to
    * a same-key SMJ at scale. Equivalence: revenue per order is the
    * same exact decimal sum, the date filter drops whole orders, and
    * both formulations emit (o_orderkey, o_orderdate, revenue) with
    * identical top-k ordering — the oracle states the classic
    * join-then-group form. */
  def topRevenueOrders(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("2000-01-01"))
      .select(col("o_orderkey"), col("o_orderdate"))
    l.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** Part/brand aggregate with a broadcast dimension join. */
  def revenueByBrand(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice"), 2).as("sum_price"),
        davg(col("l_quantity")).as("avg_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("p_brand"))
  }

  // --- J2/J3 shapes over the star schema: semi / anti ----------------------

  /** Customers with at least one high-value order (left_semi). */
  def customersWithBigOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 100000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Customers with no high-value order (left_anti against a filtered
    * build side — non-empty at every scale factor). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 150000.0)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** TPC-H Q2 shape (J2 depth): for each small part, the suppliers who
    * sold it at its corpus-wide MINIMUM sale price — a correlated
    * scalar-min subquery (`price = (SELECT min(price) ... WHERE same
    * part)`) decorrelated into the aggregate-then-equijoin plan
    * Catalyst itself produces for the SQL form: one map-side-combinable
    * per-part min over lineitem, joined back on (partkey, price).
    *
    * Scale: the min aggregate and the join-back shuffle on l_partkey —
    * the same key, so AQE reuses the exchange; part (filtered) and
    * supplier⋈nation are broadcast dims. DISTINCT collapses tie rows
    * (same part, same supplier, same price sold twice); double equality
    * is engine-exact because both sides are the same parquet values. */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    // Pre-filter the fact side with a broadcast LEFT SEMI on the
    // small-part keys BEFORE the per-part min and the join-back (r20,
    // guide §3.2 — reduce the big side before shuffling it): only
    // small parts are reported, and each part's min is computed from
    // that part's own rows alone, so dropping other parts' rows up
    // front changes nothing — while the min aggregate's exchange and
    // the join-back probe now carry only the selective-part slice.
    // A semi (not an inner attach) keeps the scan-level size estimate,
    // so the join-back still plans the aggregate as a broadcast build
    // (the inner-prefilter variant statically degraded it to SMJ —
    // diff_plans gate); the identical semi subtree on both branches
    // shares one broadcast exchange.
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(p.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
    val perPartMin = li.groupBy(col("l_partkey").as("mp_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    val s = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
    li.join(perPartMin,
        col("l_partkey") === col("mp_partkey") &&
          col("l_extendedprice") === col("min_price"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("min_price"))
      .distinct()
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** TPC-H Q21 shape (J4 depth): "sole-blame" suppliers — in a finished
    * multi-supplier order, this supplier's lineitem came back returned
    * AND no other supplier's did. One correlated EXISTS (another
    * supplier participated: left_semi) chained with one correlated NOT
    * EXISTS (another supplier also failed: left_anti), both keyed on
    * the order with the supplier inequality as the join residual, then
    * a per-supplier count and a deterministic top page.
    *
    * Scale: both subquery probes shuffle on l_orderkey (AQE reuses the
    * exchange across the semi and anti stages); supplier is a broadcast
    * dim; the final top-20 is a TakeOrderedAndProject, not a global
    * sort. The (numwait DESC, s_name) order is total because s_name is
    * unique, so the LIMIT cut is deterministic in both engines. */
  def soleBlameSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val finished = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val l1 = li.filter(col("l_returnflag") === "R")
      .join(finished, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"))
    val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val l3 = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
    l1.join(l2, col("l_orderkey") === col("ok2") &&
          col("l_suppkey") =!= col("sk2"), "left_semi")
      .join(l3, col("l_orderkey") === col("ok3") &&
          col("l_suppkey") =!= col("sk3"), "left_anti")
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  // --- A7: rollup / cube ---------------------------------------------------

  def rollupSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  def cubeSummary(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** A7: explicit grouping sets — per-status totals, per-priority
    * totals, and the grand total in one pass. */
  def groupingSetsSummary(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("sum_price"), count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** F5/F6 date surface: monthly revenue rollup (extract year/month,
    * group, exact sums). */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(
        year(col("o_orderdate")).cast("long").as("o_year"),
        month(col("o_orderdate")).cast("long").as("o_month"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("o_year"), col("o_month"))
  }

  /** SQL-surface face: the same correlated-EXISTS shape as the semi join,
    * expressed through spark.sql over registered temp views — pins that
    * the engine's SQL entry point plans subqueries correctly. */
  def sqlExistsQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    spark.sql(
      """SELECT c_custkey, c_mktsegment
        |FROM graft_customer c
        |WHERE EXISTS (SELECT 1 FROM graft_orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin)
  }

  // --- W1–W3: windows ------------------------------------------------------

  /** W1/O3: top-3 orders per market segment by totalprice (row_number). */
  def topOrdersPerSegment(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    joined
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** `topOrdersPerSegment` via the custom bounded-heap physical operator
    * (graft.plans.TopKPerGroup) instead of a window — same oracle, no
    * per-partition sort. */
  def topOrdersPerSegmentNative(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    graft.plans.TopKPerGroup.topK(joined,
        keys = Seq("c_mktsegment"),
        orderBy = Seq("o_totalprice" -> false, "o_orderkey" -> true),
        k = 3, rankName = "rn")
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  /** W3: running revenue per customer over order date (framed aggregate). */
  def runningRevenuePerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 50)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.withColumn("running_total",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("running_total"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** W3+: event-time RANGE frame (`q_window_range_frame`) — each
    * order's trailing-30-day spend for its customer, a sliding window
    * keyed by VALUE distance (days), not row count: quiet customers
    * aggregate few rows, bursty ones many, which a rowsBetween frame
    * cannot express. Sums run in integer cents so the trailing totals
    * replay exactly in any engine; orders on the same day are frame
    * peers (RANGE semantics) so ties cannot reorder the result.
    *
    * Scale: one (o_custkey) exchange + in-partition sort — the same
    * shape as every keyed window here; the frame bound adds no join
    * and no extra pass. */
  def trailingSpend(spark: SparkSession, dir: String, days: Int = 30): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
      .rangeBetween(-days.toLong, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("day_num"),
        floor(col("o_totalprice") * lit(100) + lit(0.5)).as("cents"))
      .withColumn("trailing_cents", sum(col("cents")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day_num"),
        col("trailing_cents"))
      .orderBy(col("o_custkey"), col("day_num"), col("o_orderkey"))
  }

  /** Skyline / Pareto frontier (`q_skyline`): parts not DOMINATED by
    * any other part, where q dominates p iff q is no worse in both
    * dimensions (size↑, retailprice↓) and strictly better in at least
    * one. The classic multi-criteria "best trade-offs" operator —
    * candidate selection over (quality↑, cost↓)-style axes — that SQL
    * has no native node for.
    *
    * Shape: NOT the O(n²) dominance self-join and NOT a global sort.
    * Dominance only depends on the best (min) price AT each size, so:
    * (1) aggregate to the per-size price minimum — map-side combinable,
    * output bounded by |distinct sizes|; (2) a suffix-min window over
    * that tiny table gives "best price at any strictly larger size";
    * (3) broadcast it back and filter the scan. One small aggregate +
    * one broadcast join — survives 100 TB trivially (the window runs
    * over ~dozens of rows; were the dimension continuous, range-
    * partition the suffix-min like balanceQuartiles). Integer cents
    * keep every comparison engine-exact; the oracle states the NOT
    * EXISTS definition directly, pinning that this plan IS skyline. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
        floor(col("p_retailprice") * lit(100) + lit(0.5)).as("cents"))
    val bySize = p.groupBy(col("p_size")).agg(min(col("cents")).as("mc"))
    // suffix minimum: best price among STRICTLY larger sizes (null at the top)
    val wLarger = Window.orderBy(col("p_size")).rangeBetween(1, Window.unboundedFollowing)
    val frontierBySize = bySize
      .withColumn("min_larger", min(col("mc")).over(wLarger))
    p.join(broadcast(frontierBySize), "p_size")
      // not dominated by a larger size (needs price ≤ ours there), and
      // not dominated at our own size (mc < cents ⇒ someone strictly cheaper)
      .filter((col("min_larger").isNull || col("min_larger") > col("cents")) &&
        col("mc") === col("cents"))
      .select(col("p_partkey"), col("p_size"), col("cents"))
      .orderBy(col("p_size"), col("p_partkey"))
  }

  /** W2: lag/lead — gap in days between a customer's consecutive orders. */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 50)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    o.withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .select(
        col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("o_orderdate"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  // --- A2 shape on the star schema: min_by / argmin -------------------------

  /** Oldest order per customer (min_by) — the A2 argmin as a grouped agg. */
  def oldestOrderPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_custkey"))
      .agg(
        min_by(col("o_orderkey"), struct(col("o_orderdate"), col("o_orderkey"))).as("first_orderkey"),
        to_date(min(col("o_orderdate"))).as("first_orderdate"))
      .orderBy(col("o_custkey"))
  }

  // --- U3: set ops ---------------------------------------------------------

  /** Customers in the BUILDING segment EXCEPT those with big orders, plus
    * INTERSECT of two predicates — exercised as one union of both results. */
  def segmentSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val bigOrderCust = o.filter(col("o_totalprice") > 150000.0)
      .select(col("o_custkey").as("c_custkey"))
    val exceptRes = building.except(bigOrderCust)
      .select(col("c_custkey"), lit("except").as("op"))
    val intersectRes = building.intersect(
        c.filter(col("c_acctbal") > 0).select(col("c_custkey")))
      .select(col("c_custkey"), lit("intersect").as("op"))
    exceptRes.unionByName(intersectRes).orderBy(col("op"), col("c_custkey"))
  }

  // --- J4 outer variants ----------------------------------------------------

  /** LEFT OUTER join keeping zero-order customers: the per-customer
    * order summary a report would run — the probe side stays whole, the
    * aggregated side is built BEFORE the join so the outer join matches
    * one row per key (no fan-out, no double counting). */
  def customerOrderSummary(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("tot"))
    c.join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"),
        coalesce(col("tot"), lit(0.0)).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** FULL OUTER join of two partial aggregates (high-balance customers
    * vs high-balance suppliers per nation): either side may miss a
    * nation, so the join must preserve both — coalesced key, null
    * aggregates kept. */
  def nationBalanceFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9000.0)
      .groupBy(col("c_nationkey"))
      .agg(dsum(col("c_acctbal")).as("cust_bal"), count(lit(1)).as("n_cust"))
    val supp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") > 9000.0)
      .groupBy(col("s_nationkey"))
      .agg(dsum(col("s_acctbal")).as("supp_bal"), count(lit(1)).as("n_supp"))
    cust.join(supp, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
        col("cust_bal"), col("n_cust"), col("supp_bal"), col("n_supp"))
      .orderBy(col("nationkey"))
  }

  // --- A6 pivot -------------------------------------------------------------

  /** Pivot: order totals cross-tabbed priority × status. The status
    * domain is pinned explicitly (F/O/P) so the plan is a single
    * aggregate pass — an unpinned pivot needs an extra distinct-values
    * job first, a full extra scan at 100 TB. */
  def statusPriorityPivot(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .select(col("o_orderpriority"),
        col("F").as("f_total"), col("O").as("o_total"), col("P").as("p_total"))
      .orderBy(col("o_orderpriority"))
  }

  // --- W1 ranking family beyond row_number ----------------------------------

  /** ntile/percent_rank/cume_dist over customer balances — WITHOUT the
    * global un-partitioned window (which funnels every row through one
    * task, the textbook scale-killer). Scale-safe shape:
    *
    *  1. `repartitionByRange` + `sortWithinPartitions` on the ranking
    *     key: a parallel range sort, P tasks.
    *  2. `monotonically_increasing_id()` over the sorted partitions
    *     assigns (partitionId << 33 | local row index) — local index is
    *     deterministic because the sort key is total.
    *  3. A P-row aggregate (count + first id per partition) → running
    *     offsets. The only single-partition exchange in the plan is over
    *     THIS P-row table, never over the data.
    *  4. Broadcast the offsets back: global rank = offset + local index.
    *     ntile/percent_rank/cume_dist are closed-form in (rank, n) when
    *     the ordering key is unique — same double divisions as the
    *     built-ins, so results are bit-identical (RelationalSpec pins
    *     equality against the window formulation).
    *
    * The ranged table is MATERIALIZED (localCheckpoint) before either
    * consumer touches it. This is a correctness requirement, not a
    * perf tweak: `monotonically_increasing_id` is only deterministic
    * within one physical execution, and the offsets aggregate and the
    * rank join are separately-pruned plans (the offsets side reads 2
    * columns, the join side all of them), so Spark does NOT unify them
    * into one ReusedExchange — unmaterialized, each side re-executes
    * the subtree and any layout shift between executions (AQE
    * coalescing, range re-sampling over a nondeterministic child)
    * shifts the mids and corrupts ranks. Observed in the wild:
    * triple-nested quintiles in `ev_rfm` misranked 92/1500 users once
    * the events data grew a 90%-tie group on the leading key.
    * localCheckpoint over persist: the lineage truncation makes
    * re-derivation IMPOSSIBLE (persist can still recompute on block
    * loss), it replaces rather than adds a pass (one ranged sort is
    * written, both consumers read it), and — unlike a session-registry
    * persist — the blocks free via ContextCleaner as soon as the
    * query's DataFrames go unreferenced, so back-to-back rank queries
    * (a Verify/Bench sweep) don't accumulate data-sized caches. */
  /** Scale-safe global row_number over `sortKeys` (which must define a
    * TOTAL order — include a unique tiebreaker): parallel range sort,
    * per-partition offsets computed on a P-row table, broadcast back.
    * Adds `rn` (1-based global rank) and `n` (total rows); the only
    * single-partition exchange in the plan is over the P-row offset
    * table, never over the data. */
  def withGlobalRank(df: DataFrame, sortKeys: Seq[Column]): DataFrame = {
    val parts = math.max(1, math.min(df.sparkSession.sparkContext.defaultParallelism, 64))
    val ranged = df.repartitionByRange(parts, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val cumW = Window.orderBy(col("pid")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = ranged.groupBy(col("pid"))
      .agg(count(lit(1)).as("cnt"), min(col("mid")).as("min_mid"))
      .withColumn("off", coalesce(sum(col("cnt")).over(cumW), lit(0L)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .select(col("pid"), col("off"), col("n"), col("min_mid"))
    ranged.join(broadcast(offs), "pid")
      .withColumn("rn", col("off") + col("mid") - col("min_mid") + 1)
      .drop("mid", "pid", "off", "min_mid")
  }

  def balanceQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_acctbal"))
    val sortKeys = Seq(col("c_acctbal").asc, col("c_custkey").asc)
    withGlobalRank(c, sortKeys)
      // ntile(k): the first (n mod k) buckets hold ⌈n/k⌉ rows, the rest
      // ⌊n/k⌋ — closed form over the global rank (ties impossible: the
      // ordering key includes the unique c_custkey)
      .withColumn("quartile", expr(
        s"""CASE WHEN rn <= (n % $k) * (n DIV $k + 1)
           |  THEN (rn - 1) DIV (n DIV $k + 1) + 1
           |  ELSE (n % $k) + (rn - (n % $k) * (n DIV $k + 1) - 1) DIV (n DIV $k) + 1
           |END""".stripMargin))
      .withColumn("pct_rank", when(col("n") > 1,
        (col("rn") - 1).cast("double") / (col("n") - 1)).otherwise(lit(0.0)))
      .withColumn("cume", col("rn").cast("double") / col("n"))
      .select(col("c_custkey"), col("c_acctbal"),
        col("quartile").cast("long").as("quartile"),
        col("pct_rank"), col("cume"))
      .orderBy(col("c_custkey"))
  }

  // --- J2 correlated scalar shape -------------------------------------------

  /** Most expensive line item(s) per order — the correlated-scalar-
    * subquery shape (`price = (SELECT max ... WHERE same order)`),
    * planned as a single window max + filter: one shuffle on the
    * correlation key, no self-join. */
  def maxPricedLineitems(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val w = Window.partitionBy(col("l_orderkey"))
    l.withColumn("omax", max(col("l_extendedprice")).over(w))
      .filter(col("l_extendedprice") === col("omax"))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  // --- F5 date surface: calendar truncation ---------------------------------

  /** Quarterly revenue via date_trunc — calendar bucketing (vs the
    * extract-based monthlyRevenue). */
  def quarterlyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.groupBy(to_date(date_trunc("quarter", col("o_orderdate"))).as("quarter"))
      .agg(dsum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("quarter"))
  }

  // --- F1–F3 string surface --------------------------------------------------

  /** String-function sweep grouped by the leading word of p_type:
    * substring_index/upper/length/min/max over part attributes. */
  def partTypeStats(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    p.groupBy(upper(substring_index(col("p_type"), " ", 1)).as("type_head"))
      .agg(
        count(lit(1)).as("n_parts"),
        davg(length(col("p_name")), 0).as("avg_name_len"),
        min(col("p_name")).as("first_name"),
        max(col("p_name")).as("last_name"))
      .orderBy(col("type_head"))
  }

  // --- F8 array aggregation --------------------------------------------------

  /** Sorted per-customer order-key arrays (collect_list + array_sort) —
    * the array-valued aggregation surface. Bounded to a key range: an
    * unbounded collect_list is a per-group memory risk at scale. */
  def orderKeyArrays(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).filter(col("o_custkey") <= 100)
    o.groupBy(col("o_custkey"))
      .agg(array_sort(collect_list(col("o_orderkey"))).as("orderkeys"))
      .orderBy(col("o_custkey"))
  }

  /** The gate-facing face of `orderKeyArrays`: the sorted array rendered
    * as a canonical CSV string. Array-typed result columns are not
    * hashable by pandas-based comparators, so the cross-engine check
    * runs on the serialized form (DuckDB: `array_to_string(list_sort(
    * list(...)), ',')`); the typed array stays covered by RelationalSpec. */
  def orderKeyArraysCsv(spark: SparkSession, dir: String): DataFrame =
    orderKeyArrays(spark, dir)
      .withColumn("orderkeys", concat_ws(",", col("orderkeys")))

  // --- A8: sketches ---------------------------------------------------------

  /** Deterministic HyperLogLog NDV estimates, built from first
    * principles so a SQL oracle can replay the sketch bit-for-bit —
    * what the engine-native HLL++ ([[sketchSummary]], test-pinned)
    * can't offer:
    *
    *   - hash: engine-neutral md5-60 of the key's decimal string,
    *   - p = 9 → m = 512 registers; bucket = h mod m, register value =
    *     leading-zero rank of the remaining 51 bits (integer arithmetic
    *     via `length(bin(r))` — no float log),
    *   - register sum Σ 2^(−M_j) carried as the EXACT integer
    *     Σ 2^(52−M_j) (absent buckets contribute 2^52), so partial
    *     aggregation in any order is bit-stable,
    *   - estimate = α_m·m²·2^52 / S with one int→double cast and one
    *     IEEE division.
    *
    * Distribution shape: one scan (both keys exploded to tagged rows),
    * a (flag, key, bucket) partial+final max — at 100 TB each executor
    * emits at most 2·3·512 register rows per partition, the classic
    * mergeable-sketch contract.
    *
    * Like a production sketch library, the query ships the MERGEABLE
    * STATE (exact-integer register sum + empty-register count) plus the
    * raw estimate; the small-range (linear-counting) branch is a
    * driver-side O(1) finalizer ([[hllEstimate]]) because it needs `ln`,
    * which is the one piece of the estimator that is not bit-identical
    * across engines. Everything the executors compute is exact integer
    * arithmetic, so the distributed face stays hash-checkable; corrected
    * accuracy is pinned ±15% by RelationalSpec. */
  val hllM = 512
  val hllAlphaNum: Double =
    (0.7213 / (1 + 1.079 / hllM)) * hllM * hllM * math.pow(2, 52)

  /** The standard HLL finalizer over the query's shipped state: raw
    * harmonic estimate, or linear counting in the small range. */
  def hllEstimate(regSum: Long, zeros: Long): Double = {
    val raw = hllAlphaNum / regSum.toDouble
    if (raw <= 2.5 * hllM && zeros > 0) hllM * math.log(hllM.toDouble / zeros)
    else raw
  }

  def hllNdv(spark: SparkSession, dir: String): DataFrame = {
    val m = hllM
    val l = Tables.lineitem(spark, dir)
    def h60(c: Column): Column =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long")
    val tagged = l.select(col("l_returnflag").as("flag"), explode(array(
        struct(lit("orders").as("key_col"), h60(col("l_orderkey")).as("h")),
        struct(lit("parts").as("key_col"), h60(col("l_partkey")).as("h")))).as("x"))
      .select(col("flag"), col("x.key_col").as("key_col"), col("x.h").as("h"))
    val ranked = tagged.select(col("flag"), col("key_col"),
      pmod(col("h"), lit(m)).as("bucket"),
      when(shiftright(col("h"), 9) === 0, lit(52))
        .otherwise(lit(52) - length(bin(shiftright(col("h"), 9))))
        .as("rank"))
    // registers: max rank per bucket, then the exact integer register sum
    ranked.groupBy(col("flag"), col("key_col"), col("bucket"))
      .agg(max(col("rank")).as("mr"))
      .groupBy(col("flag"), col("key_col"))
      .agg((sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(52 - mr AS INT))")) +
        (lit(m.toLong) - count(lit(1))) * lit(1L << 52)).as("reg_sum"),
        (lit(m.toLong) - count(lit(1))).as("zeros"))
      .select(col("flag").as("l_returnflag"), col("key_col"),
        col("reg_sum"), col("zeros"),
        round(lit(hllAlphaNum) / col("reg_sum").cast("double"), 4).as("raw_est"))
      .orderBy(col("l_returnflag"), col("key_col"))
  }

  /** HLL++ distinct counts + approx percentiles — the engine-native
    * sketch face ([[hllNdv]] is the oracle-replayable one). Pinned by
    * RelationalSpec's 10% bound vs exact. */
  def sketchSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("approx_median_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact percentiles (median) — oracle-checkable counterpart of A8. */
  def exactPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity)"), 4).as("median_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  // --- A6+: mode + median ----------------------------------------------------

  /** Deterministic per-group mode + exact median. Engine built-in
    * `mode()` breaks ties arbitrarily (not oracle-checkable), so the
    * mode is a count + row_number shape with ties broken toward the
    * smallest value: shuffle 1 on (group, value) with map-side combine,
    * shuffle 2 on the group — counts travel, never rows. The median is
    * rounded to absorb engines' interpolation-formula rounding
    * (a + (b-a)/2 vs (a+b)/2), same rationale as exactPercentiles. */
  def segmentModeMedian(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("n").desc, col("c_mktsegment").asc)
    val modes = c.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("c_nationkey"), col("c_mktsegment").as("mode_segment"))
    val med = c.groupBy(col("c_nationkey"))
      .agg(
        round(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY c_acctbal)"), 4)
          .as("median_acctbal"),
        count(lit(1)).as("n_customers"))
    med.join(modes, "c_nationkey")
      .select(col("c_nationkey"), col("mode_segment"), col("median_acctbal"),
        col("n_customers"))
      .orderBy(col("c_nationkey"))
  }

  // --- A6+: unpivot / melt ---------------------------------------------------

  /** Wide→long unpivot (melt) of the part measures — Spark's native
    * `Dataset.unpivot` plans as a single Expand over one scan (no
    * union of per-measure scans, no join), so it stays a narrow map
    * at any scale. Measures are cast to a common double type, as
    * unpivot requires. */
  def partMeasuresLong(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    p.select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")),
        Array(col("p_size"), col("p_retailprice")), "measure", "value")
      .orderBy(col("p_partkey"), col("measure"))
  }

  /** Revenue-coverage concentration (`q_half_coverage`): per nation,
    * the minimum number of customers whose (descending) order revenue
    * covers at least half the nation's total — "how few customers are
    * half the business". All integer cents: a row is needed while
    * 2·(cum − own) < total, i.e. coverage was not yet reached BEFORE
    * it; no halving, no floats. One keyed window per nation (shuffle
    * on the group key, in-partition sort) over the customer-sized
    * revenue table; (cents, custkey) ordering is total so the count is
    * engine-exact. */
  def halfCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val perCust = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("cents").desc, col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tw = Window.partitionBy(col("n_name"))
    perCust
      .withColumn("cum", sum(col("cents")).over(w))
      .withColumn("total", sum(col("cents")).over(tw))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"), max(col("total")).as("total_cents"),
        sum(when(lit(2) * (col("cum") - col("cents")) < col("total"), 1L)
          .otherwise(0L)).as("n_half_coverage"))
      .orderBy(col("n_name"))
  }

  // --- snapshot diff ----------------------------------------------------------

  /** Classify every key across two snapshots of a table as added /
    * removed / changed / unchanged by comparing content digests — the
    * bookkeeping pass an incremental pipeline runs between corpus
    * snapshots to size the downstream work (only added+changed re-enter
    * dedup/quality; removed retire from serving indexes).
    *
    * Scale shape: each side reduces to (key, md5) BEFORE the join, so
    * the full-outer join carries 16-byte digests instead of documents;
    * both sides shuffle once on the key and co-partition. No driver
    * state, no broadcast needed (both sides are corpus-sized). */
  def snapshotDiff(a: DataFrame, b: DataFrame, key: String = "doc_id",
                   payload: String = "text"): DataFrame = {
    val da = a.select(col(key), md5(col(payload).cast("binary")).as("h_a"))
    val db = b.select(col(key), md5(col(payload).cast("binary")).as("h_b"))
    da.join(db, Seq(key), "full_outer")
      .withColumn("status",
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") === col("h_b"), "unchanged")
          .otherwise("changed"))
      .select(col(key), col("status"))
  }

  /** `q_corpus_diff`: [[snapshotDiff]] over the documents table and a
    * deterministically-derived "next crawl" (doc_id % 13 == 0 removed,
    * % 17 == 0 edited, % 19 == 0 re-crawled under a new id) — so the
    * DuckDB oracle replays snapshot B and the whole diff. Output is the
    * per-status summary an ops dashboard reads. */
  def corpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val edited = docs.filter(col("doc_id") % 13 =!= 0)
      .withColumn("text", when(col("doc_id") % 17 === 0,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
    val added = docs.filter(col("doc_id") % 19 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text"))
    val v2 = edited.unionByName(added)
    snapshotDiff(docs, v2)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("status"))
  }

  /** `q_custdist` (TPC-H Q13 shape): the customer order-count
    * distribution — how many customers placed exactly k orders,
    * INCLUDING the zero-order customers only an outer join surfaces.
    * Two aggregates chained: per-customer count over the outer join,
    * then the count-of-counts histogram. Scale: orders shuffles once on
    * o_custkey; the per-customer table is customer-sized and its
    * histogram aggregate is map-combinable; nothing is broadcast
    * because customer is the PROBE side of the outer join (the fact
    * side at real scale is orders, which only shuffles). */
  def custDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** `q_big_orders` (TPC-H Q18 shape): large-volume orders — orders
    * whose total line quantity exceeds a threshold, joined back to the
    * customer. The HAVING aggregate runs FIRST on lineitem alone
    * (map-combinable, one shuffle on the order key), the tiny qualifier
    * set then drives broadcast joins against orders and customer, and
    * the page is a bounded top-k. Quantities are exact decimals so the
    * sum hash-checks. */
  def bigOrders(spark: SparkSession, dir: String,
                minQty: Double = 150.0, k: Int = 20): DataFrame = {
    val qual = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("total_qty"))
      .filter(col("total_qty") > minQty)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"))
    o.join(broadcast(qual), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        col("total_qty").cast("double").as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(k)
  }

  /** `q_volume_shipping` (TPC-H Q7 shape): revenue shipped between two
    * named nations, by (supplier nation, customer nation, ship year).
    * The fact chain joins lineitem→orders once on the order key; the
    * supplier and customer maps and BOTH nation dims ride broadcasts,
    * so the nation-pair predicate evaluates map-side and the only
    * shuffle is the final 3-key aggregate. Money stays in the exact
    * decimal-sum-then-double discipline ([[dsum]]). */
  def volumeShipping(spark: SparkSession, dir: String,
                     nationA: String = "NATION_1",
                     nationB: String = "NATION_2"): DataFrame = {
    // Pre-filter BOTH fact sides to the two named nations BEFORE they
    // meet (r20, guide §2.3/§3.2): the pair predicate implies
    // supp_nation ∈ {A,B} and cust_nation ∈ {A,B}. The lineitem side
    // attaches supp_nation through the FILTERED nation dim (an inner
    // join with a 2-row broadcast — drops ~(2/|nations|) of the fact
    // before anything else touches it). The orders side is pre-filtered
    // with a LEFT SEMI against the {A,B}-customer set rather than the
    // attach join: a semi join keeps the scan-level size estimate, so
    // the fact join still plans as a broadcast locally (an inner-join
    // prefilter here inflated the estimate and statically degraded the
    // fact join to SMJ — caught by the diff_plans gate), while at
    // 100 TB (orders unbroadcastable, fact join a shuffle) both
    // exchanges shrink by the nation share. cust_nation is attached
    // AFTER the fact join from the SAME broadcast cAB relation (one
    // exchange, reused). The residual (A,B)/(B,A) pair filter is
    // unchanged, so the kept rows — and the aggregate — are identical.
    val n1 = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
      .select(col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))
    val cAB = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(n2), col("c_nationkey") === col("cnk"))
      .select(col("c_custkey"), col("cust_nation"))
    val l = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("snk"))
    val o = Tables.orders(spark, dir)
      .join(broadcast(cAB), col("o_custkey") === col("c_custkey"), "left_semi")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cAB), col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .withColumn("l_year", year(col("l_shipdate")).cast("long"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** `q_market_share` (TPC-H Q8 shape): of all lineitem revenue
    * delivered to one REGION's customers per order year, the fraction
    * supplied by one nation. The share is computed in EXACT integers:
    * revenue sums as DECIMAL(18,4), scales to ten-thousandths as a
    * BIGINT, and the ratio is integer micro units — one conditional-sum
    * aggregate, no join of two aggregates, engine-exact. Dims all
    * broadcast; the single shuffle is the per-year aggregate. */
  def marketShare(spark: SparkSession, dir: String,
                  regionName: String = "ASIA",
                  nationName: String = "NATION_1"): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val cnat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir),
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === regionName)
      .select(col("n_nationkey").as("cnk"))
    val snat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(org.apache.spark.sql.types.DecimalType(18, 4))
    // Orders pre-filtered to the region's customers BEFORE the fact
    // join (r20, guide §3.2): the region semi-join decides which
    // ORDERS qualify, so applying it on the orders side first shrinks
    // the l⋈o probe (and, at 100 TB, the orders exchange) by the
    // region's share instead of filtering the joined fact stream. The
    // qualifying row set is identical — the semi predicate only reads
    // order-side columns.
    val oR = o
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(cnat), col("c_nationkey") === col("cnk"), "left_semi")
    l.join(oR, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(snat), col("s_nationkey") === col("snk"))
      .withColumn("o_year", year(col("o_orderdate")).cast("long"))
      .groupBy(col("o_year"))
      .agg(
        (sum(when(col("supp_nation") === nationName, units)
          .otherwise(lit(0).cast(org.apache.spark.sql.types.DecimalType(18, 4))))
          * 10000).cast("long").as("nation_units"),
        (sum(units) * 10000).cast("long").as("total_units"))
      .withColumn("mkt_share_micro",
        expr("(nation_units * 1000000) DIV total_units"))
      .orderBy(col("o_year"))
  }

  /** `q_small_qty_revenue` (TPC-H Q17 shape): revenue from
    * small-quantity lineitems of selected brands — each lineitem
    * qualifies when its quantity is below 20% of ITS PART'S average
    * quantity. That correlated scalar AVG against the fact (`l_quantity
    * < (SELECT 0.2*avg(l_quantity) FROM lineitem WHERE l_partkey =
    * p.p_partkey)`) decorrelates into ONE per-part aggregate joined
    * back on the part key — the same discipline as the Q2 correlated
    * MIN ([[minCostSupplier]]), for the AVG flavor the registry lacked.
    *
    * Exactness: quantities are integral, so `qty < 0.2·(sum/n)` is
    * evaluated as `5·qty·n < sum` in BIGINT — no float boundary can
    * flip between engines. Revenue is [[dsum]] then one double divide.
    *
    * Scale: the brand dimension broadcasts; BOTH the decorrelated
    * aggregate and the probe side are pre-pruned by that broadcast
    * semi-join before anything shuffles (the subquery only matters for
    * parts that survive the brand filter), and both then shuffle on
    * the SAME key (l_partkey), so AQE reuses the exchange. No nested
    * loop anywhere. */
  def smallQtyRevenue(spark: SparkSession, dir: String,
                      brands: Seq[String] =
                        Seq("Brand#1", "Brand#2", "Brand#3")): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin(brands: _*))
      .select(col("p_partkey"), col("p_brand"))
    val pruned = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val perPart = pruned
      .groupBy(col("l_partkey").as("ap_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_li"))
    pruned
      .join(perPart, col("l_partkey") === col("ap_partkey"))
      .filter(col("l_quantity").cast("long") * lit(5L) * col("n_li") <
        col("sum_qty"))
      .groupBy(col("p_brand"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small"))
      .orderBy(col("p_brand"))
  }

  /** `q_priority_wait` (TPC-H Q4 shape): orders per priority that had
    * at least one LATE lineitem (shipped more than `lateDays` after the
    * order date). The EXISTS is a left_semi on the order key whose
    * date-lag predicate is the join RESIDUAL — it references both sides,
    * so it cannot be pushed below the join, but the equi-key keeps the
    * probe a hash semi-join (never a nested loop). Counts only ⇒
    * hash-exact. Scale: one fact shuffle on the order key, then a tiny
    * 5-row priority aggregate. */
  def priorityWait(spark: SparkSession, dir: String,
                   lateDays: Int = 90): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") +
            expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** `q_top_supplier` (TPC-H Q15 shape): the supplier(s) whose revenue
    * over one ship-date quarter equals the MAXIMUM per-supplier revenue
    * — the classic view + scalar-max-subquery, decorrelated into the
    * per-supplier aggregate, a 1-row max broadcast (IdentityBroadcastMode
    * — the Q22 discipline), and an exact-integer equality. Revenue is
    * DECIMAL(18,4) summed then scaled to BIGINT ten-thousandths (the
    * [[marketShare]] units discipline), so "equals the max" cannot
    * waver between engines. Scale: the quarter predicate prunes the
    * fact scan; ONE shuffle for the supplier aggregate; supplier dim
    * broadcasts onto the (tiny) winner set. */
  def topSupplier(spark: SparkSession, dir: String,
                  from: String = "1998-01-01",
                  until: String = "1998-04-01"): DataFrame = {
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg((sum(units) * 10000).cast("long").as("total_units"))
    // scalar max as an unpartitioned window over the SUPPLIER-GRAIN
    // aggregate (not the fact): referencing `rev` twice duplicates its
    // lineage — measured as a second full fact scan (exchange reuse
    // does not canonicalize across the branches) — while the window's
    // single-partition exchange only carries |suppliers| rows
    rev.withColumn("max_units",
        max(col("total_units")).over(Window.partitionBy()))
      .filter(col("total_units") === col("max_units"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_units"))
      .orderBy(col("s_suppkey"))
  }

  /** `q_dominant_supplier` (TPC-H Q20 flavor): per supplier, how many
    * parts they DOMINATE — shipped more than 1/`share` of that part's
    * total shipped quantity. The nested correlated aggregate ("this
    * supplier's quantity vs the part's total") decorrelates into TWO
    * aggregates at different grains, where the part-grain total derives
    * from the supplier-grain partials (one fact scan, partials re-sum —
    * the monoid trick), an equi-join back on the part key, and the
    * exact-integer dominance predicate `share·q > total`. Scale: one
    * fact shuffle to (supp, part) grain; everything after is
    * aggregate-table-sized; supplier dim broadcasts. */
  def dominantSupplier(spark: SparkSession, dir: String,
                       share: Int = 6): DataFrame = {
    // (supp, part) grain read from the session-shared cache (one fact
    // pass for this face AND q_supplier_diversity — see suppPartGrain)
    val sp = suppPartGrain(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"), col("supp_qty"))
    // part-grain total as a window over the supplier-grain partials:
    // a groupBy-then-join-back references `sp` twice, which duplicates
    // its lineage into a SECOND full fact scan (measured — exchange
    // reuse does not fire across the branches); the window re-sums the
    // already-aggregated table in one pass, one partkey exchange
    sp.withColumn("part_qty",
        sum(col("supp_qty")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("supp_qty") * share > col("part_qty"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominant"), sum(col("supp_qty")).as("dom_qty"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_dominant"),
        col("dom_qty"))
      .orderBy(col("s_suppkey"))
  }

  /** `q_special_revenue` (TPC-H Q19 shape): revenue under an OR of
    * brand/quantity/size clause groups — the disjunctive multi-clause
    * predicate that tests whether the engine keeps ONE part join with
    * the whole disjunction evaluated map-side (a naive plan unions
    * three scans). The brand IN superset pushes to the part scan;
    * the OR-of-ANDs is a residual on the single broadcast join.
    * Revenue is [[dsum]]-exact, grouped per brand. */
  def specialRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 15) &&
          col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 25) &&
          col("p_size").between(1, 20)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 35) &&
          col("p_size").between(1, 30)))
      .groupBy(col("p_brand"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  /** `q_discount_revenue` (TPC-H Q6 shape): the pure predicate-pushdown
    * aggregate — revenue that would be forgone by eliminating small
    * discounts on low-quantity items, per ship year. Every predicate
    * (discount band, quantity cap) and the 4-column projection must
    * reach the parquet scan; there is no join at all. Money is
    * [[dsum]]-exact; the double product price·discount is one IEEE
    * multiply on identical parquet values in both engines. */
  def discountRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum(col("l_extendedprice") * col("l_discount"), 4)
        .as("forgone_revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_year"))

  /** `q_profit_by_nation` (TPC-H Q9 shape): product-line profit per
    * (supplier nation, order year) for one part class ('red' parts) —
    * revenue minus a unit cost. The schema has no partsupp, so cost is
    * 10% of the part's retail price per unit (the same join shape:
    * a per-(part) cost column riding the part dim into the fact).
    * Profit is EXACT integers: revenue in BIGINT ten-thousandths minus
    * cost units computed as retail·qty DECIMAL ten-thousandths DIV 10 —
    * both sides sum decimals before scaling, so the subtraction
    * hash-checks. Scale: part (filtered), supplier, nation all
    * broadcast; the one fact shuffle is lineitem⋈orders on the order
    * key, then a (nation, year) aggregate. */
  def profitByNation(spark: SparkSession, dir: String,
                     nameToken: String = "red"): DataFrame = {
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    val costUnits = (col("p_retailprice") * col("l_quantity"))
      .cast(DecimalType(18, 4))
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"), col("p_retailprice"))
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg((((sum(units) * 10000).cast("long")) -
        expr("CAST(sum(CAST(p_retailprice * l_quantity AS DECIMAL(18,4))) * 10000 AS BIGINT) DIV 10"))
        .as("profit_units"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** `q_returned_customers` (TPC-H Q10 shape): the top customers by
    * revenue lost to RETURNED items among orders of one quarter — the
    * returned-item report. Filters push to both fact scans (returnflag
    * to lineitem, the quarter to orders); customer and nation broadcast
    * onto the per-customer aggregate; the page is a bounded top-k in
    * exact integer units. */
  def returnedCustomers(spark: SparkSession, dir: String,
                        from: String = "1998-01-01",
                        until: String = "1998-04-01",
                        k: Int = 20): DataFrame = {
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(until).cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg((sum(units) * 10000).cast("long").as("lost_units"))
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("lost_units"))
      .orderBy(col("lost_units").desc, col("c_custkey"))
      .limit(k)
  }

  /** `q_late_priority_mix` (TPC-H Q12 shape): per ship year, how many
    * LATE-shipped lineitems (more than `lateDays` after the order date)
    * belonged to critical-priority orders vs the rest — the two-way
    * conditional-count report Q12 runs per ship mode (no ship-mode
    * column in this schema; the late predicate is the Q4 cross-table
    * lag). One fact join on the order key, conditional sums exact. */
  def latePriorityMix(spark: SparkSession, dir: String,
                      lateDays: Int = 60): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_year"))

  /** `q_promo_share` (TPC-H Q14 shape): the share of revenue from
    * PROMO-class parts per ship month, as an exact integer micro ratio
    * (one conditional-sum aggregate — the [[marketShare]] discipline,
    * never a join of two aggregates). Part class broadcasts; ONE fact
    * shuffle for the (year, month) aggregate. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    val zero = lit(0).cast(DecimalType(18, 4))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("l_year"),
        month(col("l_shipdate")).cast("long").as("l_month"))
      .agg(
        (sum(when(col("p_type") === "PROMO", units).otherwise(zero)) * 10000)
          .cast("long").as("promo_units"),
        (sum(units) * 10000).cast("long").as("total_units"))
      .withColumn("promo_share_micro",
        expr("(promo_units * 1000000) DIV total_units"))
      .orderBy(col("l_year"), col("l_month"))
  }

  /** `q_important_parts` (TPC-H Q11 shape): parts whose revenue
    * exceeds 1.5× the MEAN per-part revenue — the value-concentration
    * report whose classic form compares each group's total against a
    * fraction of the global total (a scalar subquery over the same
    * aggregate). Both the global total and the part count come from an
    * unpartitioned WINDOW over the part-grain aggregate (the
    * [[topSupplier]] single-scan discipline); the comparison is
    * exact-integer against the floored mean (`2·v > 3·(total DIV n)` —
    * the [[graft.operators.StatsOps.skewReport]] overflow-safe form:
    * v·constant never exceeds a few × the global total). Top page is a
    * bounded top-k by (value desc, partkey). */
  def importantParts(spark: SparkSession, dir: String,
                     pageSize: Int = 100): DataFrame = {
    val units = (col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(DecimalType(18, 4))
    val pv = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(units) * 10000).cast("long").as("value_units"))
    // corpus mean as a 1-row broadcast scalar (r19 optimization round,
    // guide §2.4/§2.5): the former `sum(...) OVER ()` was an
    // un-partitioned window — a SinglePartition exchange funneling the
    // whole |parts|-sized table through ONE task at scale (the
    // WindowExec "no partition defined" hazard). The 1-row aggregate +
    // crossJoin(broadcast) computes the identical exact-integer
    // sum/count pair with partial aggregation and no single-task
    // stage; avg_units = sum DIV count is unchanged bit-for-bit.
    // localCheckpoint pins ONE fact scan: the part join null-rejects
    // l_partkey on the main branch only, so the two pv consumers stop
    // being canonically identical and AQE stage reuse cannot collapse
    // them (the topSupplier double-scan measurement) — while the avg
    // must keep averaging over ALL groups, exactly as the oracle's
    // `FROM pv` subqueries do. Memoized per (session, dir) — r19
    // ADVICE: the checkpoint is an eager Spark job at construction
    // time, and an unmemoized one leaves another block set to
    // ContextCleaner on every invocation of a bench loop.
    val pvM = graft.SessionCache.getOrBuild(spark, "important_parts_pv", dir)(
      pv.localCheckpoint())
    val avg = pvM.agg((sum(col("value_units")))
      .as("sum_units"), count(lit(1)).as("n_parts"))
    pvM.crossJoin(broadcast(avg))
      .withColumn("avg_units", expr("sum_units DIV n_parts"))
      .filter(col("value_units") * 2 > col("avg_units") * 3)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_name"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("value_units"))
      .orderBy(col("value_units").desc, col("p_partkey"))
      .limit(pageSize)
  }

  /** `q_supplier_diversity` (TPC-H Q16 shape): distinct suppliers per
    * (brand, size), EXCLUDING "complaint" suppliers — here, suppliers
    * whose return rate exceeds 30% (the reference Q16 excludes a
    * supplier denylist via NOT IN; a per-item complaint predicate
    * excludes every supplier on this corpus's uniform ~25% returns, so
    * the denylist derives from an exact-integer rate threshold,
    * `10·returns > 3·lineitems`). ONE fact pass: lineitem pre-aggregates
    * to (supplier, part) grain carrying item and return counts; the
    * supplier-grain totals are WINDOWS over that table (the
    * [[dominantSupplier]] discipline — a groupBy-then-join-back would
    * re-scan the fact), the denylist becomes a window-predicate filter,
    * and the oracle states it as the classic NOT IN to pin equivalence.
    * count(DISTINCT supplier) per (brand, size) is exact. */
  def supplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    // (supp, part) grain read from the session-shared cache (one fact
    // pass for this face AND q_dominant_supplier — see suppPartGrain)
    val sp = suppPartGrain(spark, dir)
      .select(col("l_suppkey"), col("l_partkey"), col("n_items"), col("n_ret"))
    val w = Window.partitionBy(col("l_suppkey"))
    sp.withColumn("supp_items", sum(col("n_items")).over(w))
      .withColumn("supp_ret", sum(col("n_ret")).over(w))
      .filter(col("supp_ret") * 10 <= col("supp_items") * 3)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** `q_cust_sales_opp` (TPC-H Q22 shape): the "sales opportunity"
    * report — customers in selected nations whose balance exceeds the
    * average POSITIVE balance of that group but who have placed no
    * order since the cutoff, counted and totalled per nation. Two
    * classic decorrelations in one face: the scalar-avg subquery
    * becomes a 1-row aggregate broadcast as a cross join (the pattern
    * every `crossJoin` in this repo follows), and the NOT EXISTS
    * becomes a left_anti against the date-filtered orders.
    *
    * Exactness: balances carry exactly 2 decimals, so `bal >
    * avg(positive bals)` is evaluated as `cents·n > sum_cents` in
    * BIGINT (cents via floor(x·100+0.5), identical on both engines);
    * the output total is [[dsum]].
    *
    * Scale: the 1-row aggregate broadcasts (never a shuffle); the
    * anti-join's build side is orders ALREADY date-pruned (a parquet
    * min/max-pruned scan at real scale); customer and filtered orders
    * shuffle on the same customer key. */
  def custSalesOpp(spark: SparkSession, dir: String,
                   nationKeys: Seq[Int] = 0 to 9,
                   cutoff: String = "2000-01-01"): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_nationkey").isin(nationKeys: _*))
      .withColumn("bal_cents",
        floor(col("c_acctbal") * 100 + 0.5).cast("long"))
    val avgRow = c.filter(col("c_acctbal") > 0.0)
      .agg(sum(col("bal_cents")).as("avg_sum_cents"),
        count(lit(1)).as("avg_n"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgRow))
      .filter(col("bal_cents") * col("avg_n") > col("avg_sum_cents"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("nationkey"))
  }
}
