package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** ANALYZE-style table statistics ([EXT]): per-column row/null/NDV/
  * min/max in ONE scan — the stats a cost-based optimizer, a partition
  * pruner, or a data-quality monitor feeds on.
  *
  * Scale notes (100 TB): a single aggregate pass computes every
  * column's stats (Catalyst plans multiple COUNT DISTINCTs as one Expand
  * + partial aggregates — still one scan); the `stack` unpivot to
  * one-row-per-column happens on the single result row, driver-light.
  * Exact NDV is the oracle face; at real scale swap
  * `approx_count_distinct` (HLL++, same plan shape) — the sketch face is
  * `Relational.sketchSummary`.
  */
object StatsOps {

  /** One row of stats per requested column (numeric columns: min/max
    * surfaced as double). */
  def columnStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nonnull"),
        count_distinct(col(c)).as(s"${c}__ndv"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = df.agg(count(lit(1)).as("__total"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `${c}__nonnull`, `${c}__ndv`, `${c}__min`, `${c}__max`").mkString(", ")
    wide.select(col("__total"),
        expr(s"stack(${cols.length}, $stackArgs) AS " +
          "(col_name, n_nonnull, ndv, min_val, max_val)"))
      .select(col("col_name"), col("__total").as("n_rows"),
        (col("__total") - col("n_nonnull")).as("n_nulls"),
        col("ndv"), col("min_val"), col("max_val"))
      .orderBy(col("col_name"))
  }

  /** Query face: stats over the orders table's key/measure columns. */
  def orderStats(spark: SparkSession, dir: String): DataFrame =
    columnStats(Tables.orders(spark, dir),
      Seq("o_orderkey", "o_custkey", "o_totalprice"))

  /** Data-quality constraint report (`q_dq_report`): the dbt/deequ-style
    * audit a pipeline runs before publishing a table — uniqueness, FK
    * integrity, null and range rules, one row per rule with its
    * violation count. Notably NONZERO here: the synthetic lineitem
    * really does carry duplicate (l_orderkey, l_linenumber) pairs, which
    * is exactly the kind of fact a DQ gate exists to surface (it broke
    * an early q_quantile_sketch draft that assumed PK uniqueness).
    *
    * Scale: uniqueness/null/range rules are single-scan aggregates with
    * map-side combine; FK rules are keyed anti-joins (AQE picks
    * broadcast when the parent's key projection is small). Nothing
    * collects to the driver beyond the per-rule counts. */
  def dqReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val docs = Tables.documents(spark, dir)
    def face(rule: String, n: org.apache.spark.sql.DataFrame): DataFrame =
      n.select(lit(rule).as("rule"), col("n"))
    val rows = Seq(
      face("lineitem_pk_dup_rows", li.agg((count(lit(1)) -
        countDistinct(col("l_orderkey"), col("l_linenumber"))).as("n"))),
      face("lineitem_orderkey_fk", li.join(o.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
      face("orders_custkey_fk", o.join(c.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"))),
      face("orders_nonpositive_total",
        o.agg(count(when(col("o_totalprice") <= 0, 1)).as("n"))),
      face("documents_empty_text",
        docs.agg(count(when(col("text").isNull || length(col("text")) === 0, 1)).as("n"))))
    rows.reduce(_ unionByName _).orderBy(col("rule"))
  }

  val histBuckets = 16

  /** ANALYZE histograms (`q_histogram`), both flavors over order price
    * cents, k buckets each:
    *
    * - `width`: fixed value ranges — bucket = (v−min)·k DIV span. One
    *   min/max pre-agg broadcast into a second single-scan aggregate;
    *   the shape selectivity estimators use for uniform-ish columns.
    * - `depth`: equal row counts (the equi-height histogram optimizers
    *   prefer under skew) — bucket from the GLOBAL rank via the same
    *   closed-form ntile arithmetic as Relational.balanceQuartiles,
    *   riding its range-partitioned two-pass rank (no one-task window).
    *   Rank ties are impossible: the sort key carries the row identity
    *   (cents, orderkey), so bucket contents — hence each bucket's
    *   lo/hi/n — are engine-exact.
    *
    * Output: (kind, bucket, lo, hi, n) — lo/hi are ACTUAL data values
    * (integer cents), not interpolated edges, so the whole table
    * replays bit-for-bit in the oracle. */
  def priceHistograms(spark: SparkSession, dir: String,
      k: Int = histBuckets): DataFrame = {
    val base = Tables.orders(spark, dir).select(col("o_orderkey").as("okey"),
      floor(col("o_totalprice") * lit(100) + lit(0.5)).as("cents"))
    val mm = base.agg(min(col("cents")).as("lo_all"),
      (max(col("cents")) - min(col("cents")) + 1).as("span"))
    val width = base.crossJoin(broadcast(mm))
      .withColumn("bucket", expr(s"((cents - lo_all) * $k) DIV span"))
      .groupBy(col("bucket"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        count(lit(1)).as("n"))
      .select(lit("width").as("kind"), col("bucket"), col("lo"), col("hi"), col("n"))
    val depth = Relational
      .withGlobalRank(base, Seq(col("cents").asc, col("okey").asc))
      .withColumn("bucket", expr(
        s"""CASE WHEN rn <= (n % $k) * (n DIV $k + 1)
           |  THEN (rn - 1) DIV (n DIV $k + 1)
           |  ELSE (n % $k) + (rn - (n % $k) * (n DIV $k + 1) - 1) DIV (n DIV $k)
           |END""".stripMargin))
      .groupBy(col("bucket"))
      .agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"),
        count(lit(1)).as("n"))
      .select(lit("depth").as("kind"), col("bucket"), col("lo"), col("hi"), col("n"))
    width.unionByName(depth).orderBy(col("kind"), col("bucket"))
  }

  /** Robust outlier report (`q_outliers_mad`): per order priority, the
    * exact median, the exact MAD (median absolute deviation), and the
    * count of rows beyond the 3×MAD fence — the standard
    * robust-statistics screen (mean/stddev fences are dragged by the
    * very outliers they hunt; median/MAD have a 50 % breakdown point).
    *
    * All integer fixed-point: cents, doubled medians (`median_x2` =
    * lower+upper middle, exact for even counts without fractions),
    * quadrupled MAD (`mad_x4` = doubled median of doubled deviations),
    * and the fence test `2·dev > 3·mad_x4` ⇔ |x − med| > 3·MAD — no
    * division anywhere, so any engine replays the report bit-for-bit.
    *
    * Scale (100 TB): the raw table is scanned ONCE, into per-(group,
    * value) counts — map-side combinable, output bounded by the value
    * domain, and persisted for the later stages. Medians come from a
    * running-count window over that VALUE table (not the rows), the
    * deviation table derives from the same counts without touching the
    * base again, and group medians/MADs travel by broadcast. A
    * low-cardinality group key means few window partitions, but each
    * holds distinct VALUES, not rows — the balanceQuartiles
    * range-partition recipe applies only if the value domain itself
    * explodes. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, med, dv, mad) = graft.SessionCache.getOrBuild(spark, "mad_tables", dir) {
      val vc = Tables.orders(spark, dir)
        .select(col("o_orderpriority").as("grp"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        .groupBy(col("grp"), col("c"))
        .agg(count(lit(1)).as("cnt"))
        .persist()
      // Per-group row total n is IDENTICAL for the value pass and the
      // deviation pass (sum of counts is invariant under |c - m| mapping),
      // so compute it once off the cache and broadcast it — each median
      // then needs exactly ONE window pass (the running sum), not a second
      // whole-partition window for n. Threshold algebra: cum >= ceil(n/2)
      // ⟺ 2·cum >= n, and cum >= floor(n/2)+1 ⟺ 2·cum >= n+1 (integers).
      val tot = vc.groupBy(col("grp")).agg(sum(col("cnt")).as("n"))
      def median2(counts: DataFrame, v: String): DataFrame = {
        val wOrd = Window.partitionBy(col("grp")).orderBy(col(v))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts.join(broadcast(tot), "grp")
          .withColumn("cum", sum(col("cnt")).over(wOrd))
          .groupBy(col("grp"))
          .agg(max(col("n")).as("n"),
            (min(when(col("cum") * 2 >= col("n"), col(v)))
              + min(when(col("cum") * 2 >= col("n") + 1, col(v))))
              .as("m2"))
      }
      // med and mad are GROUP-COUNT-sized (5 rows) but each feeds TWO
      // consumers (the next stage's broadcast + the final report join);
      // unpersisted, each consumer re-runs the median's window pass over
      // the cache. Persisting the 5-row results halves the window work.
      val med = median2(vc, "c").persist()
      val dv = vc.join(broadcast(med.select(col("grp"), col("m2"))), "grp")
        .select(col("grp"), abs(col("c") * 2 - col("m2")).as("d"), col("cnt"))
        .groupBy(col("grp"), col("d")).agg(sum(col("cnt")).as("cnt"))
        .persist()
      val mad = median2(dv, "d").select(col("grp"), col("m2").as("mad4")).persist()
      (vc, med, dv, mad)
    }
    val out = dv.join(broadcast(mad), "grp")
      .groupBy(col("grp"))
      .agg(sum(when(col("d") * 2 > col("mad4") * 3, col("cnt"))
        .otherwise(0L)).as("n_outliers"))
    med.join(mad, "grp").join(out, "grp")
      .select(col("grp"), col("n"), col("m2").as("median_x2"),
        col("mad4").as("mad_x4"), col("n_outliers"))
      .orderBy(col("grp"))
  }

  /** Fulfillment-latency histogram (`q_ship_latency`): distribution of
    * order-date → ship-date lag in whole days, per order priority —
    * the SLA monitoring view. The orders side ships only
    * key+priority+date (column pruning) and the join is unhinted —
    * orders is a fact table, so AQE picks broadcast only when the
    * pruned projection measures small; the aggregate is
    * (priority, lag)-bounded with map-side combine; all integer day
    * arithmetic. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag_days"))
      .groupBy(col("priority"), col("lag_days"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("priority"), col("lag_days"))
  }

  /** Monthly price bands (`q_price_bands`): exact Q1/median/Q3 and IQR
    * of order-total cents per order month — the percentile-band
    * trendline a monitoring dashboard draws, with every statistic an
    * exact DOUBLED integer (q_x2 = v[⌈p·n⌉] + v[⌊p·n⌋+1], the
    * lower+upper pair that needs no fractions and replays in any
    * engine).
    *
    * The madOutliers machinery generalized to arbitrary quantiles: the
    * raw table collapses ONCE to per-(month, value) counts (map-side
    * combinable, value-domain-bounded), running-count windows walk the
    * VALUE table, and each quantile is a min-over-threshold aggregate
    * — no per-row ranking, no global sort. */
  def monthlyPriceBands(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vc = Tables.orders(spark, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
      .groupBy(col("month"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    val wOrd = Window.partitionBy(col("month")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("month"))
    def qx2(num: Int, den: Int): Column =
      min(when(col("cum") >= expr(s"($num * n + ${den - 1}) DIV $den"), col("c"))) +
        min(when(col("cum") >= expr(s"($num * n) DIV $den + 1"), col("c")))
    vc.withColumn("cum", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("month"))
      .agg(max(col("n")).as("n"),
        qx2(1, 4).as("q1_x2"), qx2(1, 2).as("med_x2"), qx2(3, 4).as("q3_x2"))
      .withColumn("iqr_x2", col("q3_x2") - col("q1_x2"))
      .orderBy(col("month"))
  }

  /** Per-brand ordinary least squares of price on quantity
    * (`q_linreg`): slope/intercept/R² of extendedprice-dollars vs
    * quantity — the feature-vs-target fit a profiling pass runs per
    * segment.
    *
    * One aggregation pass accumulates the five classic sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) plus Σy² as EXACT integer sums
    * with map-side combine — the closed-form coefficients are then
    * IEEE divisions of exact BIGINT terms, identical in any engine
    * (long→double conversion is correctly rounded everywhere). Bounds:
    * the cross terms n·Σxy and Σx·Σy stay under 2^63 up to ~10⁹ rows
    * per group at these magnitudes; past that the sums move to
    * DECIMAL(38,0) with the same shape (ANSI mode faults loudly, not
    * silently, if the bound is ever crossed). R²'s total-sum-of-squares
    * denominator reuses the same trick: n·Σy² − (Σy)². */
  def linregByBrand(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("x"),
        expr("CAST(round(l_extendedprice) AS BIGINT)").as("y"))
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val s = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("p_brand"), col("n"),
        (num / den).as("slope"),
        ((col("sy").cast("double") - (num / den) * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"),
        ((num * num) / (den * deny)).as("r2"))
      .orderBy(col("p_brand"))
  }

  /** `q_skew_report`: per-join-key skew statistics over the fact table
    * — the planning table that decides WHERE salting / AQE skew
    * handling is needed before a 100 TB run, produced by the engine
    * itself. For each candidate key: distinct keys, rows, the heaviest
    * key and its share (exact integer micro units), and the p50/max
    * count ratio. One count aggregate per key column; the per-key count
    * tables are key-cardinality sized, the report is |keys| rows. All
    * integers ⇒ hash-checks cross-engine. */
  def skewReport(spark: SparkSession, dir: String,
                 keys: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey"))
      : DataFrame = {
    val l = Tables.lineitem(spark, dir)
    keys.map { k =>
      l.groupBy(col(k).as("key")).agg(count(lit(1)).as("cnt"))
        .agg(
          lit(k).as("key_col"),
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_cnt"))
        .withColumn("max_share_micro", expr("(max_cnt * 1000000L) DIV n_rows"))
        // max/mean in micro units — the standard skew factor, exact.
        // Divide by the floored mean (n_rows DIV n_keys, ≥1 since every
        // key has ≥1 row) instead of computing max_cnt*n_keys*1e6: that
        // product overflows BIGINT on high-cardinality 100 TB facts
        // (max_cnt·n_keys > 9.2e12) and Spark would wrap silently under
        // non-ANSI while the oracle errors — this form's largest
        // intermediate is max_cnt*1e6 ≤ n_rows*1e6. The oracle SQL uses
        // the identical arithmetic, so the face stays hash-exact.
        // SEMANTIC BREAK vs pre-r14 artifacts (r14 ADVICE, accepted):
        // dividing by the FLOORED mean inflates the metric by up to
        // ~2x when the per-key mean is small (e.g. true mean 1.9 →
        // divisor 1), so skew values are NOT comparable with artifacts
        // produced before the overflow fix — round-over-round skew
        // comparisons must start from r14.
        .withColumn("skew_factor_micro",
          expr("(max_cnt * 1000000L) DIV (n_rows DIV n_keys)"))
    }.reduce(_.unionByName(_))
      .orderBy(col("key_col"))
  }
}
