package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming heavy hitters — the streaming face of
  * `graft.operators.SkewOps.heavyHitters`: maintain Misra-Gries
  * candidate summaries over an unbounded event stream, so a pipeline
  * can know its hot keys (for salting, alerting, or cache admission)
  * WITHOUT a per-key grouped aggregate whose state grows with the key
  * universe.
  *
  * State shape: keys hash into `buckets` state groups
  * (`pmod(user_id, buckets)`), each group holding ONE bounded
  * Misra-Gries summary of at most `k` counters in
  * `flatMapGroupsWithState` state — total state is buckets·k longs, a
  * constant, regardless of how many distinct keys the stream carries
  * (the stateful-dedup alternative keys state BY user and grows
  * without bound). Because the partitioning is BY KEY, every key lives
  * in exactly one bucket, so the classic per-summary guarantee applies
  * directly: a key whose true count in its bucket exceeds
  * n_bucket/(k+1) cannot be decremented away and MUST survive in the
  * snapshot — no cross-bucket merge error. `buckets` also bounds the
  * state-update parallelism: at cluster scale raise it (each bucket is
  * an independent state task), k stays the per-bucket memory knob.
  *
  * Each micro-batch emits the updated buckets' FULL counter snapshots
  * (Update semantics), stamped with the batch id, to an append-only
  * parquet log; [[candidates]] reads back the LATEST snapshot per
  * bucket — the exact current state — and a verification pass (the
  * batch `heavyHitters` phase 2) turns candidates into exact counts
  * when needed.
  */
object HeavyHitterStream {

  final case class MGState(counters: Map[Long, Long])

  /** Start tracking: `events` must carry `user_id`. Snapshots append to
    * `snapshotDir` as (bucket, user_id, mg_count, batch_id). */
  def track(events: DataFrame, snapshotDir: String,
            buckets: Int = 16, k: Int = 64,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .select(col("user_id").cast("long").as("uid"),
        pmod(col("user_id").cast("long"), lit(buckets.toLong)).as("bucket"))
      .as[(Long, Long)]
    val snapshots = keyed
      .groupByKey(_._2)
      .flatMapGroupsWithState[MGState, (Long, Long, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state) =>
          val counters = scala.collection.mutable.LongMap.empty[Long]
          state.getOption.foreach(_.counters.foreach { case (u, c) =>
            counters(u) = c
          })
          rows.foreach { case (uid, _) =>
            if (counters.contains(uid)) counters(uid) += 1L
            else if (counters.size < k) counters(uid) = 1L
            else {
              // decrement-all: O(k) per trigger, amortized O(1)/element
              counters.toList.foreach { case (u, c) =>
                if (c == 1L) counters.remove(u) else counters(u) = c - 1L
              }
            }
          }
          state.update(MGState(counters.toMap))
          counters.iterator.map { case (u, c) => (bucket, u, c) }
      }
      .toDF("bucket", "user_id", "mg_count")
    snapshots.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", s"$snapshotDir/_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.toDF().withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$snapshotDir/log")
        ()
      }
      .start()
  }

  /** The current candidate set: each bucket's latest snapshot (state is
    * the full summary, so older snapshots of the same bucket are
    * superseded, not merged). Keys live in exactly one bucket, so the
    * union IS the global Misra-Gries candidate table. */
  def candidates(spark: SparkSession, snapshotDir: String): DataFrame = {
    val logPath = new org.apache.hadoop.fs.Path(s"$snapshotDir/log")
    val fs = ViewCommit.fsFor(logPath, spark)
    if (!fs.exists(logPath)) {
      // no batch has committed a snapshot yet — an empty summary, not
      // an AnalysisException
      import spark.implicits._
      return Seq.empty[(Long, Long, Long)]
        .toDF("bucket", "user_id", "mg_count")
    }
    val log = spark.read.parquet(logPath.toString)
      // a crash between the foreachBatch append and the checkpoint
      // commit replays the batch from the same state version, appending
      // an IDENTICAL snapshot — drop the replay copies (the same
      // idempotence concern IncrementalAgg solves with the batch id its
      // `_meta` manifest commits; here the replayed rows are bit-equal,
      // so a distinct suffices)
      .dropDuplicates("bucket", "batch_id", "user_id")
    val latest = log.groupBy(col("bucket"))
      .agg(max(col("batch_id")).as("batch_id"))
    log.join(latest, Seq("bucket", "batch_id"))
      .select(col("bucket"), col("user_id"), col("mg_count"))
      .orderBy(col("bucket"), col("user_id"))
  }
}
