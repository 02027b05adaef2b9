package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.operators.ChangeOps

/** T9 [EXT]: event-time streaming over the `events` shape — watermarked
  * tumbling windows, stateful sessionization via mapGroupsWithState, and
  * watermarked dedup. The batch-checkable faces live in
  * graft.operators.EventOps; these are the streaming executions, tested
  * with a file/memory stream in EventStreamSpec.
  */
object EventStream {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                         event_type: String, value: Double)

  final case class SessionState(start: Long, lastUs: Long, n: Long)

  final case class SessionOut(user_id: Long, session_start: Long,
                              session_end: Long, n_events: Long)

  /** Watermarked 10-minute tumbling counts — late data beyond 5 minutes
    * is dropped (the watermark analogue of the reference's commit-marker
    * gating, SURVEY §2.9 T3). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Watermarked dedup on event_id (stateful exactly-once shaping). */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state (the `Times`-style session machine, T8): one
    * state per user; a session CLOSES (emits) only when a later event
    * from the same user arrives more than `gapMinutes` after it. The
    * last open session per user intentionally stays in state until
    * such an event arrives (GroupStateTimeout.NoTimeout — no
    * processing-time flush); the batch face `EventOps.sessionize`
    * emits trailing sessions and is the oracle-checked surface. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 5): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val us = e.ts.getTime * 1000L
            cur match {
              case Some(s) if us - s.lastUs <= gapUs =>
                cur = Some(s.copy(lastUs = us, n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(userId, s.start / 1000000L, s.lastUs / 1000000L, s.n)
                cur = Some(SessionState(us, us, 1))
              case None =>
                cur = Some(SessionState(us, us, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** T9 via the NATIVE SessionWindow operator in streaming mode: the
    * watermark both drops late events and FINALIZES sessions — a session
    * is emitted (append mode) once the watermark passes its close, which
    * is exactly the flush the mapGroupsWithState version above leaves to
    * the caller. The lateness bound scales with the session gap
    * (`lateMinutes` defaults to the gap) so a wider-gap session never
    * silently keeps a 5-minute bound. Batch face:
    * graft.operators.EventOps.sessionWindowStats (oracle-checked); note
    * the batch face sums `value` as exact decimal (`dsum`) while this
    * streaming face uses a plain double `sum` — incremental state
    * merging is order-dependent, so streaming sums can drift from the
    * oracle by float-association ULPs. */
  def sessionWindowCounts(events: DataFrame, gapMinutes: Int = 5,
                          lateMinutes: Option[Int] = None): DataFrame =
    events
      .withWatermark("ts", s"${lateMinutes.getOrElse(gapMinutes)} minutes")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("w.start").as("session_start"), col("w.end").as("session_end_excl"),
        col("n_events"), col("sum_value"))

  /** Watermarked stream-stream interval join: each error event joined to
    * the same user's clicks from the preceding `windowMinutes` — the
    * streaming face of EventOps.clicksBeforeErrors. Both sides carry
    * watermarks so Spark can bound the join state (clicks older than the
    * interval + watermark are evicted). */
  def clicksBeforeErrorsStream(events: DataFrame,
                               windowMinutes: Int = 5): DataFrame = {
    val errors = events.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("err_ts"))
      .withWatermark("err_ts", "1 minute")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", s"${windowMinutes + 1} minutes")
    errors.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("err_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("click_ts") < col("err_ts"),
      "leftOuter")
      .select(col("err_id"), col("user_id"), col("err_ts"), col("click_ts"))
  }

  /** Streaming upsert (CDC apply loop): each micro-batch
    * ([[applyUpsert]]) is compacted to its latest record per key
    * (`ChangeOps.latestByKey` — in-batch dedup), then merged over the
    * committed table with `ChangeOps.upsert` (updates win, untouched keys
    * pass through). The merged table is written as a fresh segment and
    * committed through [[ViewCommit]] (a manifest listing only that
    * segment, then a sweep), so a crash at any step leaves the previous
    * table or the new one, never neither. foreachBatch is exactly how
    * Spark applies MERGE-style sinks without a transactional table
    * format; with one (Delta/Iceberg-style) the body becomes that
    * table's merge call and the read-modify-write disappears.
    *
    * There is no checkpoint and no replay guard: Spark's batch ids
    * restart with every query, so a version is the committed one + 1.
    * None is needed — applying a batch again to its own result gives the
    * same table. Read the table with [[upserted]].
    *
    * Scale notes: the in-batch compaction is the partial-aggregating
    * max_by (no sort); the merge anti-join broadcasts only the BATCH's
    * keys, so the target table never shuffles. The full-target rewrite
    * is the plain-parquet cost (a format with row-level deletes rewrites
    * only matched files). */
  def upsertStream(events: DataFrame, targetDir: String,
                   keyCols: Seq[String], orderCols: Seq[String],
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        applyUpsert(batch.toDF(), targetDir, keyCols, orderCols)
      }
      .trigger(trigger)
      .start()

  /** One upsert micro-batch: merge `batch` over the committed table,
    * write the result straight into `seg_b<v>` (v = committed + 1),
    * commit a manifest listing only that segment, and sweep the rest. */
  def applyUpsert(batch: DataFrame, targetDir: String,
                  keyCols: Seq[String], orderCols: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val compacted = ChangeOps.latestByKey(batch, keyCols, orderCols)
    val (version, merged) = committedUpsert(spark, targetDir) match {
      case Some((v, base)) => (v + 1, ChangeOps.upsert(base, compacted, keyCols))
      case None => (0L, compacted)
    }
    val dir = new Path(targetDir)
    val seg = s"seg_b$version"
    merged.write.mode("overwrite").parquet(new Path(dir, seg).toString)
    ViewCommit.Manifest(version, "upsertStream", Seq(seg)).commit(spark, targetDir)
    ViewCommit.sweep(ViewCommit.fsFor(dir, spark), dir)(n => !n.startsWith("seg_") || n == seg)
  }

  /** The committed upsert table; no rows and no columns before its first
    * commit. */
  def upserted(spark: SparkSession, targetDir: String): DataFrame =
    committedUpsert(spark, targetDir).fold(spark.emptyDataFrame)(_._2)

  /** The committed version and table, or None before the first commit
    * (every commit lists one segment). A `targetDir` holding parquet
    * files but no manifest (a plain parquet table, the layout before
    * upserts committed through ViewCommit) fails: read as empty, its rows
    * would be dropped by the next commit. */
  private def committedUpsert(spark: SparkSession,
                              targetDir: String): Option[(Long, DataFrame)] = {
    val dir = new Path(targetDir)
    val committed = ViewCommit.segments(spark, targetDir)
    if (committed.isEmpty && Option(ViewCommit.fsFor(dir, spark)
        .globStatus(new Path(dir, "*.parquet"))).exists(_.nonEmpty))
      throw new IllegalStateException(s"upsert target $targetDir holds parquet " +
        "files but no _meta manifest: it is a plain parquet table. Move it " +
        "aside and apply it as the first batch of a fresh target " +
        "(EventStream.applyUpsert).")
    committed.map { case (v, segs) => v -> spark.read.parquet(segs: _*) }
  }

  /** Run windowedCounts over a stream to a memory sink (test/demo entry). */
  def startMemory(spark: SparkSession, events: DataFrame,
                  queryName: String): StreamingQuery =
    windowedCounts(events)
      .writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
}
