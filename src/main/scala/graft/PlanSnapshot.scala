package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape regression harness: one JSON line per registered query
  * with the scale-critical features of its physical plan — exchange /
  * broadcast / sort-merge / nested-loop counts, whole-stage-codegen
  * span count, and scan pushdown evidence — so a round-over-round
  * `diff PLAN_SNAPSHOT.json` surfaces plan regressions (a lost
  * broadcast, a new shuffle, a filter that stopped pushing) without
  * re-reading formatted plans by hand. Shapes come from the
  * AQE-initial plan (broadcast decisions that depend on runtime stats
  * can improve at execution; a regression in the INITIAL plan is still
  * the signal worth diffing).
  *
  * Run: sbt "runMain graft.PlanSnapshot" → writes PLAN_SNAPSHOT.json
  * (sorted keys, stable formatting — diff-friendly). */
object PlanSnapshot {
  def main(args: Array[String]): Unit = {
    // pinned at 4 cores, not SPARK_GRAFT_CPUS: plan shapes (exchange
    // partitioning, broadcast choices) stay comparable across machines
    val spark = GraftSession.local("graft-plan-snapshot", cpus = 4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PLAN_OUT",
      "/root/repo/PLAN_SNAPSHOT.json")
    // iterative faces execute during construction; their loop shapes are
    // audited by spec/scaladoc instead (same exclusion as PlanAudit)
    val iterative = Set("dedup_clusters")

    // count node markers in the printed tree: the AQE wrapper's Scala
    // children do NOT include its inner plan (a tree traversal sees one
    // node), but its toString prints the full initial plan
    def features(plan: SparkPlan): Map[String, Any] = {
      val s = plan.toString
      def c(re: String): Int = re.r.findAllMatchIn(s).length
      Map(
        "shuffle_exchanges" ->
          c("\\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobin)"),
        "broadcast_exchanges" -> c("\\bBroadcastExchange\\b"),
        "sort_merge_joins" -> c("\\bSortMergeJoin\\b"),
        "broadcast_hash_joins" -> c("\\bBroadcastHashJoin\\b"),
        "nested_loop_joins" -> c("NestedLoopJoin|CartesianProduct"),
        "sorts" -> c("\\bSort \\["),
        "scans" -> c("FileScan |Scan parquet"),
        "pushed_filters" ->
          c("PushedFilters: \\[(?!\\])"),
        "partition_filters" ->
          c("PartitionFilters: \\[(?!\\])"))
    }

    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      // explicit sentinel instead of silent omission: snapshot keys must
      // equal registry keys so the machine-diffable contract is total
      if (iterative(name)) Some(name ->
        Map[String, Any]("iterative_loop_derived_unsnapshotable" -> 1))
      else {
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan
          Some(name -> features(plan))
        } catch {
          case e: Throwable =>
            System.err.println(s"[plan] $name failed: ${e.getMessage}")
            Some(name -> Map[String, Any]("error" -> 1))
        }
      }
    }
    val json = rows.map { case (name, f) =>
      val fields = f.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      s"""  "$name": {$fields}"""
    }.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(s"[plan] wrote ${rows.size} query shapes to $outPath")
    graft.ext.DedupOps.releaseShared()
    spark.stop()
  }
}
