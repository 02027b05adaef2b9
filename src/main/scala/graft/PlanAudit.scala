package graft
/** Dev tool: print formatted physical plans for the flagship queries so
  * scale-critical properties (broadcasts, top-k fusion, pushed filters,
  * partial aggregation) can be audited. Run:
  *   sbt "runMain graft.PlanAudit q5_revenue_by_nation ..." */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // pinned at 4 cores, not SPARK_GRAFT_CPUS: plan shapes (exchange
    // partitioning, broadcast choices) stay comparable across machines
    val spark = GraftSession.local("graft-plan-audit", cpus = 4)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // iterative queries execute during CONSTRUCTION (driver-checked
    // convergence), so "explain" would run the whole computation and
    // print only the final checkpoint scan — audit their building
    // blocks instead (the source scaladoc documents the loop shape)
    val iterative = Set("dedup_clusters")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      if (iterative(n))
        println("(iterative query — plans per round; see DedupOps.dedupClusters scaladoc)")
      else
        SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
