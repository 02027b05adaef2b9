package graft

import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

class GraftSessionSpec extends SparkSuite {

  test("the shared test session is the factory's local session: UTC, 4 shuffle partitions, temp warehouse") {
    GraftSession.settings(Some(4)).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")).toUri.getPath
    assert(warehouse.contains(tmp) && warehouse.contains("graft-warehouse"), warehouse)
  }

  test("SQL functions resolve and each graft rule or strategy is registered exactly once") {
    assert(spark.sql("SELECT cosine_sim(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
      "array(CAST(2 AS FLOAT), CAST(0 AS FLOAT)))").head().getDouble(0) == 1.0)
    val state = spark.asInstanceOf[ClassicSession].sessionState
    val rules = state.optimizer.extendedOperatorOptimizationRules
    Seq(graft.functions.CosineSelfSimilarityRule, graft.plans.WindowTopKRule)
      .foreach(r => assert(rules.count(_ eq r) == 1, r.ruleName))
    val strategies = state.planner.strategies
    Seq(graft.plans.TopKPerGroupStrategy, graft.plans.AsOfJoinStrategy)
      .foreach(s => assert(strategies.count(_ eq s) == 1, s))
  }

  test("the spark-submit path sets neither the master nor the shuffle partitions") {
    val submitted = GraftSession.settings(None)
    assert(!submitted.contains("spark.master"))
    assert(!submitted.contains("spark.sql.shuffle.partitions"))
    assert(submitted("spark.sql.session.timeZone") == "UTC")
  }

  test("extensions already named in spark.sql.extensions are not applied again") {
    assert(GraftSession.namesGraft("graft.GraftExtensions"))
    assert(GraftSession.namesGraft("a.B, graft.GraftExtensions"))
    assert(!GraftSession.namesGraft(""))
    assert(!GraftSession.namesGraft("graft.GraftExtensionsV2"))
  }
}
