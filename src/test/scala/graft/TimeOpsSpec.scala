package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.operators.{TimeOps, TimesAggregator}

/** Golden duration values from ingestor.spec.js:351–359 and
  * helpers.spec.js:212–221, including the %24 day truncation. */
class TimeOpsSpec extends SparkSuite {

  test("duration column formats golden values (2h:15mins / 1h:05mins / 2h:29mins)") {
    import spark.implicits._
    val got = Fixtures.durations.toDF("label", "s", "e")
      .select(col("label"), TimeOps.jobDuration(col("s"), col("e")).as("d"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("neo_bulk") == "2h:15mins")
    assert(got("elastic_bulk") == "1h:05mins")
    assert(got("total_bulk") == "2h:29mins")
    assert(got("day_trunc") == "2h:05mins")  // 26h05m → days truncated
    assert(got("zero") == "0h:00mins")
    assert(got("error_case") == "timestamp error")
  }

  test("driver-side formatDuration matches the column expression") {
    import spark.implicits._
    assert(TimeOps.formatDuration(Some(0L), Some(8100L)) == "2h:15mins")
    assert(TimeOps.formatDuration(Some(0L), Some(3900L)) == "1h:05mins")
    assert(TimeOps.formatDuration(Some(0L), Some(26 * 3600L + 300L)) == "2h:05mins")
    assert(TimeOps.formatDuration(Some(0L), None) == "timestamp error")
    assert(TimeOps.formatDuration(None, None) == "timestamp error")
    // the two forms agree value for value, the missing end included
    val ends = Seq(Some(0L), Some(59L), Some(8100L), Some(12000L), Some(26 * 3600L + 300L), None)
    val column = ends.toDF("e")
      .select(TimeOps.jobDuration(lit(0L), col("e"))).collect().map(_.getString(0)).toSeq
    assert(column == ends.map(TimeOps.formatDuration(Some(0L), _)))
  }

  test("Times barrier: complete only when both sink ends are set (helpers.spec.js:232–301)") {
    import TimesAggregator.{SinkEvent, rollUp}
    val neo = Seq(SinkEvent("neo4j", "start", 1L), SinkEvent("neo4j", "end", 2L))
    val elastic = Seq(SinkEvent("elastic", "start", 2L), SinkEvent("elastic", "end", 3L))
    assert(!rollUp(Nil).complete)
    assert(!rollUp(neo).complete)
    assert(!rollUp(neo :+ elastic.head).complete)
    assert(rollUp(neo ++ elastic).complete)
  }
}
