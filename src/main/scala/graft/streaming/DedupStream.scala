package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental exact dedup — the streaming face of
  * `graft.ext.DedupOps.incrementalDedup`: documents arrive as a stream
  * and only content never seen before (in this batch, in earlier
  * batches, or in any earlier RUN) is admitted to the corpus.
  *
  * Why foreachBatch + an external digest store rather than
  * `dropDuplicatesWithinWatermark`: the watermark variant bounds its
  * state by TIME, which is the right tool for replayed/late events but
  * wrong for corpus building — a document is a duplicate no matter how
  * long ago its twin was ingested, so the digest set is unbounded and
  * must outlive both the watermark horizon and the query itself. An
  * append-only parquet digest store (16-byte md5 per distinct text)
  * externalizes exactly that set, survives restarts, and is shared with
  * the batch pipeline.
  *
  * Scale notes (100 TB corpus, small micro-batches): the store is
  * digest-only — the corpus text never re-reads. Per batch: one
  * batch-sized groupBy (narrow digest keys), one anti-join whose probe
  * side is the batch; in production the store side is prefiltered by
  * the SAME persisted Bloom filter `incrementalDedup` builds, so the
  * store scan touches only filter-hit buckets. Failure semantics are
  * at-least-once, matching the ingest pipeline's documented T7
  * deviation: admitted-rows and store appends are two writes, so a
  * crash between them can re-admit a document on replay (a dedup
  * downstream is cheap; silently DROPPING a never-stored document
  * would not be recoverable, so the admit write goes first).
  */
object DedupStream {

  final case class Doc(doc_id: Long, text: String)

  /** Start the admission stream: `docs` must carry `doc_id` and `text`.
    * Admitted rows (plus their `digest`) append to `admittedDir`;
    * distinct new digests append to `storeDir`. */
  def admitStream(docs: DataFrame, storeDir: String, admittedDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val store = new org.apache.hadoop.fs.Path(storeDir)
        val fs = ViewCommit.fsFor(store, spark)
        val cols = batch.columns
        // one row per digest within the batch: keeper = min doc_id (the
        // same argmin `incrementalDedup` applies in-batch)
        val compact = batch.toDF()
          .withColumn("digest", md5(col("text")))
          .groupBy(col("digest"))
          .agg(min_by(struct(cols.toIndexedSeq.map(col): _*), col("doc_id")).as("r"))
          .select((col("digest") +: cols.toIndexedSeq.map(c => col(s"r.$c"))): _*)
        val admitted =
          if (fs.exists(store))
            compact.join(spark.read.parquet(storeDir), Seq("digest"), "left_anti")
          else compact
        // admit first, then record digests: a crash between the two
        // writes re-admits (at-least-once) instead of losing documents
        val materialized = admitted.localCheckpoint()
        materialized.write.mode("append").parquet(admittedDir)
        materialized.select(col("digest")).write.mode("append").parquet(storeDir)
        ()
      }
      .trigger(trigger)
      .start()
}
