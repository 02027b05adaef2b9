package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** §2.10 UDAF surface: the `Times` session roll-up (reference
  * helpers.js:89–120) as a typed `Aggregator` — merge sink start/end
  * events per ingest into one record with the reference's duration
  * strings. Mergeable buffer ⇒ partial aggregation works (map-side
  * combine). The batch control loop folds its own events through the
  * same functions ([[rollUp]]).
  */
object TimesAggregator {

  /** One sink lifecycle event: (sink ∈ {neo4j, elastic}, phase ∈
    * {start, end}, epochSec). */
  final case class SinkEvent(sink: String, phase: String, epochSec: Long)

  final case class TimesBuf(
      neoStart: Option[Long], neoEnd: Option[Long],
      elasticStart: Option[Long], elasticEnd: Option[Long])

  final case class IngestTimes(
      neo_job_duration: String,
      elastic_job_duration: String,
      total_job_duration: String,
      complete: Boolean)

  private def mergeOpt(a: Option[Long], b: Option[Long],
                       pick: (Long, Long) => Long): Option[Long] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(pick(x, y))
      case _ => a.orElse(b)
    }

  def zero: TimesBuf = TimesBuf(None, None, None, None)

  def reduce(b: TimesBuf, e: SinkEvent): TimesBuf =
    (e.sink, e.phase) match {
      case ("neo4j", "start") =>
        b.copy(neoStart = mergeOpt(b.neoStart, Some(e.epochSec), math.min))
      case ("neo4j", "end") =>
        b.copy(neoEnd = mergeOpt(b.neoEnd, Some(e.epochSec), math.max))
      case ("elastic", "start") =>
        b.copy(elasticStart = mergeOpt(b.elasticStart, Some(e.epochSec), math.min))
      case ("elastic", "end") =>
        b.copy(elasticEnd = mergeOpt(b.elasticEnd, Some(e.epochSec), math.max))
      case _ => b
    }

  def merge(a: TimesBuf, b: TimesBuf): TimesBuf = TimesBuf(
    mergeOpt(a.neoStart, b.neoStart, math.min),
    mergeOpt(a.neoEnd, b.neoEnd, math.max),
    mergeOpt(a.elasticStart, b.elasticStart, math.min),
    mergeOpt(a.elasticEnd, b.elasticEnd, math.max))

  def finish(b: TimesBuf): IngestTimes = {
    val ends = Seq(b.neoEnd, b.elasticEnd).flatten
    IngestTimes(
      neo_job_duration = TimeOps.formatDuration(b.neoStart, b.neoEnd),
      elastic_job_duration = TimeOps.formatDuration(b.elasticStart, b.elasticEnd),
      // the total runs from the NEO4J start (not the earliest start)
      // to the latest end — the reference computes
      // getJobDuration(neoStart, ingestEndTime) (ingestor.js:335),
      // so an elastic job that starts first does not move the total
      total_job_duration = TimeOps.formatDuration(
        b.neoStart, if (ends.size == 2) Some(ends.max) else None),
      complete = b.neoEnd.isDefined && b.elasticEnd.isDefined)
  }

  /** One ingest's events rolled up on the driver: the aggregator's own
    * fold, run without a Spark job (the batch loop's metrics row). */
  def rollUp(events: Seq[SinkEvent]): IngestTimes =
    finish(events.foldLeft(zero)(reduce))

  val aggregator: Aggregator[SinkEvent, TimesBuf, IngestTimes] =
    new Aggregator[SinkEvent, TimesBuf, IngestTimes] {
      override def zero: TimesBuf = TimesAggregator.zero
      override def reduce(b: TimesBuf, e: SinkEvent): TimesBuf = TimesAggregator.reduce(b, e)
      override def merge(a: TimesBuf, b: TimesBuf): TimesBuf = TimesAggregator.merge(a, b)
      override def finish(b: TimesBuf): IngestTimes = TimesAggregator.finish(b)
      override def bufferEncoder: Encoder[TimesBuf] = Encoders.product[TimesBuf]
      override def outputEncoder: Encoder[IngestTimes] = Encoders.product[IngestTimes]
    }
}
