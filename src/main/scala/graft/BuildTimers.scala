package graft

/** Wall-clock attribution for the session-cache builds (r12 judge #1).
  *
  * Every memoized artifact goes through [[SessionCache.getOrBuild]],
  * which runs its build once per (session, name, key) inside [[timed]]
  * — the only caller — and so bills that wall time under the entry's
  * name to whichever query touches it FIRST. Bench diffs [[snapshot]]
  * around every query run, so BENCH_DETAIL carries both the global
  * `"builds": {name: sec}` table and a per-query `build_sec` — the part
  * of a cold number that is shared-artifact construction rather than
  * the query's own plan.
  *
  * Driver-state note: the map is bounded by the number of NAMED build
  * sites (a few dozen), not by data size. */
object BuildTimers {
  private val times =
    scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val sec = (System.nanoTime() - t0) / 1e9
      times.synchronized { times(name) = times.getOrElse(name, 0.0) + sec }
    }
  }

  /** name → accumulated build seconds so far this session. */
  def snapshot(): Map[String, Double] = times.synchronized { times.toMap }

  def reset(): Unit = times.synchronized { times.clear() }
}
