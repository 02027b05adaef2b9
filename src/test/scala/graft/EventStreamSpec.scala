package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured Streaming faces (T9): watermark windows, watermarked
  * dedup, and the mapGroupsWithState session machine, driven through a
  * MemoryStream source. */
class EventStreamSpec extends SparkSuite {

  private def ts(minute: Int, second: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$second%02d")

  test("windowed counts aggregate a replayed stream correctly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "click", 1.0),
      Event(3, ts(11), 1, "view", 1.0),
      Event(4, ts(12), 2, "click", 1.0))
    val q = EventStream.startMemory(spark, input.toDF(), "win_counts")
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT window.start, event_type, n FROM win_counts ORDER BY 1, 2").collect()
    // 10:00–10:10: 2 clicks; 10:10–10:20: 1 click + 1 view
    assert(rows.length == 3)
    assert(rows.map(_.getLong(2)).toSeq == Seq(2L, 1L, 1L))
  }

  test("watermarked dedup drops the duplicate event_id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(1, ts(1, 30), 1, "click", 1.0),  // duplicate id within watermark
      Event(2, ts(2), 1, "view", 1.0))
    val q = EventStream.dedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val n = spark.sql("SELECT count(*) FROM dedup_out").collect().head.getLong(0)
    assert(n == 2)
  }

  test("watermarked dedup holds state across batches and expires it past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.dedup(input.toDF())
      .writeStream.format("memory").queryName("dedup_xbatch")
      .outputMode("append").trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      // batch 1: two distinct ids ⇒ watermark after this batch = 10:02-5m
      input.addData(Event(1, ts(1), 1, "click", 1.0),
                    Event(2, ts(2), 1, "view", 1.0))
      q.processAllAvailable()
      // batch 2: a CROSS-BATCH duplicate of id 1 (state still live —
      // expiry 10:01+5m is ahead of the watermark) ⇒ dropped; the 10:30
      // event advances the watermark to 10:25, past both ids' expiries
      input.addData(Event(1, ts(3), 1, "click", 1.0),
                    Event(9, ts(30), 2, "click", 1.0))
      q.processAllAvailable()
      // batch 3: id 2 replayed with a FRESH (non-late) timestamp after
      // its dedup state expired ⇒ re-emitted (the WithinWatermark
      // contract: dedup is only guaranteed inside the watermark delay)
      input.addData(Event(2, ts(26), 1, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.sql("SELECT event_id FROM dedup_xbatch")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 2L, 9L),
        s"expected cross-batch dup dropped, expired id re-emitted; got $ids")
    } finally q.stop()
  }

  test("watermark drops late data beyond the 5-minute threshold (T9)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("late_out")
      .outputMode("update").start()
    try {
      // batch 1: events at 10:01 and 10:30 → watermark advances to 10:25
      input.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(30), 1, "click", 1.0))
      q.processAllAvailable()
      // batch 2: a late event at 10:05 — its window [10:00,10:10) is
      // older than the watermark ⇒ dropped, count stays 1
      input.addData(Event(3, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      val n = spark.sql(
        """SELECT n FROM late_out
          |WHERE window.start = TIMESTAMP '2024-01-01 10:00:00'
          |ORDER BY n DESC LIMIT 1""".stripMargin).collect().head.getLong(0)
      assert(n == 1L, "late event should have been dropped by the watermark")
    } finally q.stop()
  }

  test("stream-stream interval join pairs errors with preceding clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.clicksBeforeErrorsStream(input.toDF())
      .writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    input.addData(
      Event(1, ts(1), 1, "click", 1.0),   // within 5 min of the error
      Event(2, ts(3), 1, "error", 1.0),
      Event(3, ts(10), 2, "error", 1.0),  // user 2 has no clicks
      Event(4, ts(20), 1, "click", 1.0))  // after the error — excluded
    q.processAllAvailable()
    // a later batch must advance BOTH sides' watermarks (each is computed
    // after its event-type filter) so error 3's outer row can be emitted
    input.addData(Event(5, ts(59), 3, "click", 1.0), Event(6, ts(59), 4, "error", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT err_id, click_ts FROM ssj_out ORDER BY err_id").collect()
    val byErr = rows.groupBy(_.getLong(0))
    assert(byErr(2L).exists(r => !r.isNullAt(1)), "error 2 should match the 10:01 click")
    assert(byErr(2L).forall(r => r.isNullAt(1) ||
      r.getTimestamp(1) == ts(1)), "only the preceding click matches")
    // left outer: unmatched error appears with null click once the
    // watermark closes its window (AvailableNow drains fully)
    assert(byErr.contains(3L))
    assert(byErr(3L).forall(_.isNullAt(1)))
  }

  test("streaming session_window emits a session once the watermark passes its close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("swin_out")
      .outputMode("append").start()
    try {
      // session: 10:01 + 10:02; the 10:30 event pushes the watermark to
      // 10:25, past the session close (10:07) → session finalized
      input.addData(Event(1, ts(1), 7, "click", 2.0), Event(2, ts(2), 7, "click", 3.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(30), 7, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, session_start, session_end_excl, n_events, sum_value FROM swin_out").collect()
      assert(rows.length == 1, "exactly the closed session is emitted")
      val r = rows.head
      assert(r.getLong(0) == 7L)
      assert(r.getTimestamp(1) == ts(1))
      assert(r.getTimestamp(2) == ts(7))   // last event 10:02 + 5 min gap
      assert(r.getLong(3) == 2L)
      assert(r.getDouble(4) == 5.0)
    } finally q.stop()
  }

  test("stateful sessionization closes a session after the gap and keeps state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    // batch 1: two events 1 minute apart (same session)
    input.addData(Event(1, ts(1), 7, "click", 1.0), Event(2, ts(2), 7, "click", 1.0))
    q.processAllAvailable()
    // batch 2: event 20 minutes later closes the first session
    input.addData(Event(3, ts(22), 7, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql(
      "SELECT user_id, n_events FROM sessions_out").collect()
    assert(rows.length == 1)          // first session emitted, second still open
    assert(rows.head.getLong(0) == 7L)
    assert(rows.head.getLong(1) == 2L)
  }

  test("upsertStream maintains latest-per-key across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val target = tmpDir("graft-upsert-target") + "/t"
    val input = MemoryStream[Event]
    def run(): Unit = {
      val q = EventStream.upsertStream(input.toDF(), target,
        keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"))
      q.awaitTermination()
    }
    // batch 1: two users, user 1 appears twice (in-batch compaction)
    input.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 1, "view", 2.0),
      Event(3, ts(1), 2, "click", 3.0))
    run()
    // batch 2: newer record for user 1, first record for user 3
    input.addData(
      Event(4, ts(9), 1, "purchase", 9.0),
      Event(5, ts(3), 3, "click", 4.0))
    run()
    val rows = EventStream.upserted(spark, target)
      .orderBy("user_id")
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("event_id")))
    assert(rows.toSeq == Seq((1L, "purchase", 4L), (2L, "click", 3L),
      (3L, "click", 5L)))
    // a plain parquet table without a manifest is never read as empty
    val plain = tmpDir("graft-upsert-plain") + "/t"
    spark.range(1).write.parquet(plain)
    val e = intercept[IllegalStateException](EventStream.upserted(spark, plain))
    assert(e.getMessage.contains(plain))
  }

  test("throughput smoke: sf0.1 replay through upsertStream under a processing-time trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Replay the full sf0.1 events table (100k rows) as 5 micro-batches
    // through the CDC upsert sink — the end-to-end cost each batch pays
    // is compaction + target merge + segment write and manifest commit,
    // i.e. the real sink path, not a memory sink. The bound is
    // deliberately loose (shared CI box); the interesting failure is an
    // order-of-magnitude stall, e.g. the merge anti-join degenerating to
    // a shuffle of the target.
    val target = tmpDir("graft-upsert-tp") + "/t"
    // derive the replay fixture from the suite's sf dir (largest
    // available sibling SF) instead of hardcoding a path that breaks
    // if the testdata layout moves
    val replayDir = Seq("sf0.1", "sf0.01", "sf0.001")
      .map(s => sf.replaceAll("sf[0-9.]+/?$", s))
      .find(d => new java.io.File(d + "/events.parquet").isFile)
      .getOrElse(sf)
    val all = graft.operators.EventOps.events(spark, replayDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect()
    val input = MemoryStream[Event]
    val q = EventStream.upsertStream(input.toDF(), target,
      keyCols = Seq("user_id"), orderCols = Seq("ts", "event_id"),
      trigger = Trigger.ProcessingTime("100 milliseconds"))
    val t0 = System.nanoTime()
    try {
      all.grouped(20000).foreach { chunk =>
        input.addData(chunk)
        q.processAllAvailable() // forces one micro-batch per chunk
      }
    } finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"replayed ${all.length} rows in 5 upsert batches: $secs%.1f s "
      + f"(${all.length / secs}%.0f rows/s)")
    // the wall-clock bound only holds on an unloaded box (STATUS records
    // 10x per-query outliers under contention), so it is opt-in: set
    // GRAFT_STRICT_TIMING to enforce; otherwise the rate is info() only
    if (sys.env.contains("GRAFT_STRICT_TIMING"))
      assert(secs < 120.0, f"upsert replay took $secs%.1f s — sink stalled")
    else if (secs >= 120.0)
      info(f"SLOW (not failing without GRAFT_STRICT_TIMING): $secs%.1f s")
    assert(EventStream.upserted(spark, target).count() ==
      all.map(_.user_id).distinct.length.toLong)
  }
}
