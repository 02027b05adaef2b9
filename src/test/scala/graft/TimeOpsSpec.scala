package graft

import org.apache.spark.sql.functions._

import graft.ingest.IngestPipeline
import graft.model.Fixtures
import graft.operators.TimeOps

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
    assert(IngestPipeline.formatDuration(Some(0L), Some(8100L)) == "2h:15mins")
    assert(IngestPipeline.formatDuration(Some(0L), Some(3900L)) == "1h:05mins")
    assert(IngestPipeline.formatDuration(Some(0L), Some(26 * 3600L + 300L)) == "2h:05mins")
    assert(IngestPipeline.formatDuration(Some(0L), None) == "timestamp error")
    assert(IngestPipeline.formatDuration(None, None) == "timestamp error")
  }

  test("Times barrier: complete only when both sink ends are set (helpers.spec.js:232–301)") {
    val t = new IngestPipeline.Times
    assert(!t.isComplete)
    t.neoStart = Some(1L); t.neoEnd = Some(2L)
    assert(!t.isComplete)
    t.elasticStart = Some(2L); t.elasticEnd = Some(3L)
    assert(t.isComplete)
    t.reset()
    assert(!t.isComplete)
  }
}
