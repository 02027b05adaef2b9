package graft

import scala.util.control.NonFatal

/** The profiling main (a local tool, unlike Verify and Bench): runs the named
  * queries IN THE ORDER GIVEN on one session, twice each.
  *   - cold: the first run, which pays codegen and whatever shared-cache
  *     builds the query is first to touch (as in Bench);
  *   - warm: the second run, split into `plan` (the Catalyst phases from
  *     `QueryExecution.tracker`: analysis, optimization, physical
  *     planning — single-threaded driver work that does not scale with
  *     cores) and `exec` (the action itself).
  * Face construction (iterative faces run jobs while building) is in
  * `warm` but in neither `plan` nor `exec`.
  *
  * Usage: runMain graft.Profile <sfDir> [<name> ...]
  * (no names = the full registry, sorted by name)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local("graft-profile")
    try spark.read.parquet(s"$sfDir/lineitem.parquet")
      .limit(1000).groupBy("l_returnflag").count().collect()
    catch { case NonFatal(e) => System.err.println(s"[profile] warm-up failed: $e") }
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    // one run: (total s, plan-phase s, exec s, rows)
    def once(name: String): (Double, Double, Double, Long) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val qe = df.queryExecution
      qe.executedPlan
      val plan = qe.tracker.phases.values
        .map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      ((t2 - t0) / 1e9, plan, (t2 - t1) / 1e9, n)
    }
    val warm = names.flatMap { name =>
      try {
        val (cold, _, _, _) = once(name)
        val (total, plan, exec, n) = once(name)
        println(f"[profile] $name%-28s cold=$cold%7.2f s  warm=$total%6.2f s  " +
          f"plan=$plan%5.2f  exec=$exec%6.2f  ($n rows)")
        Some((total, plan))
      } catch { case NonFatal(e) =>
        System.err.println(s"[profile] $name failed: $e")
        None
      }
    }
    val (warmAll, planAll) = (warm.map(_._1).sum, warm.map(_._2).sum)
    println(f"[profile] TOTAL warm=$warmAll%.1f s  plan=$planAll%.1f s " +
      f"(${100 * planAll / math.max(warmAll, 1e-9)}%.0f%%) over ${warm.size} queries")
    graft.ext.DedupOps.releaseShared()
    spark.stop()
  }
}
