package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Count-Min sketch frequency estimation, built from first principles so
  * the sketch itself is oracle-checkable (same construction philosophy as
  * [[Relational.hllNdv]]: engine-neutral md5-derived hashes, pure integer
  * arithmetic, deterministic output in any engine).
  *
  * Cormode & Muthukrishnan, "An Improved Data Stream Summary: The
  * Count-Min Sketch and its Applications", J. Algorithms 55(1), 2005.
  * The estimate for a key is the MIN over `depth` hash rows of the
  * counter its hash lands in — always an overestimate (collisions only
  * add), within eN of truth w.h.p. for width w = e/ε.
  *
  * Scale notes (100 TB): the sketch is `depth × width` counters
  * (4×512 = 2 048 rows) REGARDLESS of input size, built by one
  * partial+final hash aggregate — map-side combine collapses each
  * partition to ≤ 2 048 rows before the exchange, which is exactly the
  * mergeability property that makes CMS the right shape for massive
  * streams. The probe side is a top-k (TakeOrderedAndProject) and every
  * join below it is sketch-sized, so AQE broadcasts them.
  */
object SketchOps {

  val cmsDepth = 4
  val cmsWidth = 512
  val cmsProbeK = 20

  /** Row-`i` bucket for a key: 60-bit integer from the md5 hex prefix of
    * "i:key" (the same engine-neutral construction as hllNdv / the
    * dedup md5-60 faces), reduced mod `cmsWidth`. */
  private def bucket(i: Int, key: Column): Column =
    pmod(
      conv(substring(md5(concat(lit(s"$i:"), key.cast("string")).cast("binary")),
        1, 15), 16, 10).cast("long"),
      lit(cmsWidth))

  private def bucketArray(key: Column): Column =
    array((0 until cmsDepth).map(i =>
      struct(lit(i).as("i"), bucket(i, key).as("bucket"))): _*)

  /** `q_cms`: build a CMS over `orders.o_custkey`, then probe the
    * `cmsProbeK` hottest customers (exact count desc, key asc — a total
    * order, so LIMIT is deterministic) and report estimate vs truth.
    * `cms_est >= exact_cnt` always, by the one-sided CMS guarantee. */
  def cmsFrequency(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.orders(spark, dir).select(col("o_custkey").as("k"))
    // the sketch: one pass, ≤ depth×width rows survive the map side
    val counters = keys
      .select(explode(bucketArray(col("k"))).as("x"))
      .groupBy(col("x.i").as("i"), col("x.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    // probe set: hottest keys with a deterministic tie-break
    val probes = keys.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("k").asc).limit(cmsProbeK)
    probes
      .select(col("k"), col("exact_cnt"), explode(bucketArray(col("k"))).as("x"))
      .select(col("k"), col("exact_cnt"), col("x.i").as("i"), col("x.bucket").as("bucket"))
      .join(counters, Seq("i", "bucket"))
      .groupBy(col("k"), col("exact_cnt"))
      .agg(min(col("cnt")).as("cms_est"))
      .select(col("k").as("o_custkey"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("o_custkey"))
  }

  val kmvK = 256
  val kmvSeed = "kmv-v1"

  /** KMV (k-minimum-values) distinct-count sketch with SET OPERATIONS
    * (`q_kmv_distinct`): hash every key with one shared seeded hash,
    * keep the k smallest per set, and estimate |S| = (k−1)·2⁶⁰ / h₍ₖ₎
    * (the k-th smallest 60-bit hash; Bar-Yossef et al. 2002). Because
    * both sets use the SAME hash, the sketches compose: the union's
    * sketch is the k smallest of the merged samples, and intersection
    * follows by inclusion–exclusion — the cardinality algebra a planner
    * needs ("how many NEW documents does this crawl add?") without ever
    * comparing the sets themselves.
    *
    * Demonstrated on the 1995 vs 1996 active-customer sets (orders).
    * Engine-exact: md5-60 hashing (TextHashUtil convention), bottom-k
    * on the TopKPerGroup bounded-heap exec, and an estimate expression
    * — (k−1)·2⁶⁰ and h₍ₖ₎ both exact in doubles — written identically
    * in both engines, so even the IEEE division replays bit-for-bit.
    * Exact counts ride along (cheap here) to exhibit the error, and the
    * spec pins the ~1/√k relative-error band.
    *
    * Scale: per set, one distinct-style exchange collapsed by the
    * bounded heap to k rows; the union/intersect algebra then runs on
    * 2k-row inputs — at 100 TB the sketches are what you'd persist per
    * partition/day and fold associatively, never rescanning history. */
  def kmvDistinct(spark: SparkSession, dir: String, k: Int = kmvK): DataFrame = {
    val base = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select(year(col("o_orderdate")).as("y"), col("o_custkey").as("ck"))
    val o = base
      .distinct()
      .withColumn("h", conv(substring(md5(concat(lit(kmvSeed + ":"),
        col("ck").cast("string"))), 1, 15), 16, 10).cast("long"))
    val samples = graft.SessionCache.getOrBuild(spark, "kmv_samples", (dir, k))(
      graft.plans.TopKPerGroup.topK(
        o, Seq("y"), Seq(("h", true), ("ck", true)), k).persist())
    // h_(k) per set, and the union sketch's h_(k) from the merged
    // samples (same hash ⇒ merged bottom-k IS the union's bottom-k;
    // distinct first — a key present in both years must count once)
    val hk = samples.groupBy(col("y"))
      .agg(max(col("h")).as("hk"), count(lit(1)).as("ns"))
    val hkU = samples.select(col("h"), col("ck")).distinct()
      .orderBy(col("h"), col("ck")).limit(k)
      .agg(max(col("h")).as("hk_u"), count(lit(1)).as("ns_u"))
    // the estimate, written the SAME way in the oracle SQL: (k-1) and
    // 2^60 folded into one exact double literal, ONE division by h_(k).
    // A sample smaller than k means the sketch SAW the whole set — the
    // sample size is then the exact cardinality, not an extrapolation.
    val num = lit((k - 1).toDouble * 1152921504606846976.0)
    def estOf(ns: Column, hkc: Column): Column =
      when(ns < k, ns.cast("double")).otherwise(num / hkc.cast("double"))
    val est = hk.agg(
        max(when(col("y") === 1995, col("hk"))).as("hk95"),
        max(when(col("y") === 1995, col("ns"))).as("ns95"),
        max(when(col("y") === 1996, col("hk"))).as("hk96"),
        max(when(col("y") === 1996, col("ns"))).as("ns96"))
      .select(estOf(col("ns95"), col("hk95")).as("est_1995"),
        estOf(col("ns96"), col("hk96")).as("est_1996"))
      .crossJoin(hkU.select(estOf(col("ns_u"), col("hk_u")).as("est_union")))
    // exact counts read the PRE-distinct projection (r20, guide §2.4
    // "a distinct on data that is already unique" in reverse —
    // countDistinct dedups internally, so the upstream distinct()
    // exchange on this branch was a second pure-overhead shuffle of
    // the same rows; estimates above still read the deduped+hashed o)
    val exact = base.agg(
      countDistinct(when(col("y") === 1995, col("ck"))).as("exact_1995"),
      countDistinct(when(col("y") === 1996, col("ck"))).as("exact_1996"),
      countDistinct(col("ck")).as("exact_union"))
    est.crossJoin(exact)
      .select(lit(k.toLong).as("k"),
        col("est_1995"), col("exact_1995"),
        col("est_1996"), col("exact_1996"),
        col("est_union"), col("exact_union"),
        (col("est_1995") + col("est_1996") - col("est_union")).as("est_intersect"),
        (col("exact_1995") + col("exact_1996") - col("exact_union")).as("exact_intersect"))
  }

  val bkSampleK = 1024
  val bkSeed = "bk-v1"

  /** Bottom-k-sample quantile sketch (`q_quantile_sketch`): per group,
    * keep the `bkSampleK` rows with the SMALLEST seeded hashes — a
    * deterministic uniform without-replacement sample — and read
    * quantiles off the sample's exact order statistics. Bottom-k
    * sampling is the mergeable backbone (union two sketches, re-take
    * the bottom k — the KMV construction, Bar-Yossef et al. 2002), so
    * this is the fixed-memory quantile path when exact percentiles
    * (one sort per group) are too expensive and the engine-native KLL/
    * GK sketches can't be replayed by an external oracle. Accuracy is
    * the sampling error O(1/√k) — test-pinned against exact medians.
    *
    * Shape: the sample selection runs on the custom TopKPerGroup
    * bounded-heap exec (one ClusteredDistribution exchange, O(k) task
    * memory — never a per-group sort of the full data); the order
    * statistic is a row_number over the k-row sample. The estimate is
    * an EXACT element of the input (index ⌈s·q⌉ of the sorted sample,
    * the inverted-CDF definition), not an interpolation — which is
    * what makes it bit-replayable in any engine. */
  def bottomKQuantiles(spark: SparkSession, dir: String,
      k: Int = bkSampleK): DataFrame = {
    // The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    // pairs with different prices, so the hash input must carry the
    // price too — as exact integer cents (floor(x*100 + 0.5) is the
    // same IEEE arithmetic in any engine) — or the boundary tie at
    // rank k is broken arbitrarily per engine/run.
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"),
        col("l_orderkey").as("okey"),
        col("l_linenumber").cast("long").as("lnum"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).as("cents"))
      .withColumn("pri", md5(concat(lit(bkSeed + ":"),
        col("okey").cast("string"), lit(":"),
        col("lnum").cast("string"), lit(":"),
        col("cents").cast("string"))))
    val sample = graft.plans.TopKPerGroup.topK(
      base, Seq("flag"),
      Seq(("pri", true), ("okey", true), ("lnum", true), ("cents", true)), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("flag")).orderBy(col("price"), col("pri"))
    val ws = org.apache.spark.sql.expressions.Window.partitionBy(col("flag"))
    // inverted-CDF order statistics at dyadic quantiles; ceil(a/b) as
    // (a + b - 1) DIV b keeps the index selection pure integer math
    sample
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("s", count(lit(1)).over(ws))
      .groupBy(col("flag"))
      .agg(max(col("s")).as("n_sample"),
        max(when(col("r") === expr("(s + 3) DIV 4"), col("price"))).as("p25_est"),
        max(when(col("r") === expr("(s + 1) DIV 2"), col("price"))).as("p50_est"),
        max(when(col("r") === expr("(3 * s + 3) DIV 4"), col("price"))).as("p75_est"))
      .select(col("flag").as("l_returnflag"), col("n_sample"),
        col("p25_est"), col("p50_est"), col("p75_est"))
      .orderBy(col("l_returnflag"))
  }
}
