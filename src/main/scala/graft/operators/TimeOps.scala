package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Duration / metrics computations (SURVEY.md §2.4 A4–A5).
  *
  * Reference `getJobDuration` (/root/reference/src/helpers.js:65–73):
  * seconds diff, formatted `"{H}h:{MM}mins"` with minutes zero-padded,
  * hours NOT padded, and days truncated via `% 24` — reproduced
  * faithfully, including the `'timestamp error'` fallback for an invalid
  * end timestamp. Golden values: 8100s → "2h:15mins", 3900s →
  * "1h:05mins", 8940s → "2h:29mins" (ingestor.spec.js:355–358).
  */
object TimeOps {

  /** A5: format a seconds duration as the reference does. */
  def formatDurationSeconds(seconds: Column): Column =
    when(seconds.isNull, lit("timestamp error"))
      .otherwise(format_string("%dh:%02dmins",
        floor(seconds / 3600L) % 24L,
        floor(seconds / 60L) % 60L))

  /** A5 on the driver: the same format over two optional epoch seconds,
    * 'timestamp error' when either is missing (helpers.js:65–73). */
  def formatDuration(startSec: Option[Long], endSec: Option[Long]): String =
    (startSec, endSec) match {
      case (Some(s), Some(e)) =>
        val seconds = e - s
        f"${(seconds / 3600) % 24}%dh:${(seconds / 60) % 60}%02dmins"
      case _ => "timestamp error"
    }

  /** A5 over two epoch-second columns; null end ⇒ 'timestamp error'
    * (helpers.js:66). */
  def jobDuration(startEpoch: Column, endEpoch: Column): Column =
    formatDurationSeconds(endEpoch - startEpoch)

  /** Readable-date format used in the metrics doc (ingestor.js:332):
    * moment 'ddd MMM YYYY HH:mm' — Java pattern 'EEE MMM yyyy HH:mm'.
    * (The 'Do' ordinal of ingestor.js:255 has no Java equivalent; we emit
    * plain day-of-month — documented deviation, SURVEY §2.8 F5.) */
  def readableDate(ts: Column): Column =
    date_format(ts, "EEE MMM yyyy HH:mm")
}
