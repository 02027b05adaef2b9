package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental exact dedup — the streaming face of
  * `graft.ext.DedupOps.incrementalDedup`: documents arrive as a stream
  * and only content never seen before (in this batch, in earlier
  * batches, or in any earlier RUN) is admitted to the corpus.
  *
  * Why foreachBatch + the admitted table as digest store rather than
  * `dropDuplicatesWithinWatermark`: the watermark variant bounds its
  * state by TIME, which is the right tool for replayed/late events but
  * wrong for corpus building — a document is a duplicate no matter how
  * long ago its twin was ingested, so the digest set is unbounded and
  * must outlive both the watermark horizon and the query itself. The
  * admitted table's `digest` column (16-byte md5 per distinct text) is
  * exactly that set; there is no separate store.
  *
  * Scale notes (100 TB corpus, small micro-batches): the anti-join reads
  * only the `digest` column of the admitted table — parquet never
  * touches the corpus text. Per batch: one batch-sized groupBy (narrow
  * digest keys), one anti-join whose probe side is the batch; in
  * production the digest side is prefiltered by the SAME persisted
  * Bloom filter `incrementalDedup` builds, so the scan touches only
  * filter-hit buckets. Failure semantics are exactly-once per digest:
  * a batch is one append, and a batch replayed after its append landed
  * finds its own digests and admits nothing.
  */
object DedupStream {

  final case class Doc(doc_id: Long, text: String)

  /** Start the admission stream: `docs` must carry `doc_id` and `text`.
    * Admitted rows, plus their `digest`, append to `admittedDir`. */
  def admitStream(docs: DataFrame, admittedDir: String,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        admitBatch(batch.toDF(), admittedDir)
      }
      .trigger(trigger)
      .start()

  /** One admission micro-batch: append the rows of `batch` whose text's
    * digest `admittedDir` does not hold yet, one per digest. */
  def admitBatch(batch: DataFrame, admittedDir: String): Unit = {
    val spark = batch.sparkSession
    val dir = new Path(admittedDir)
    val cols = batch.columns.toIndexedSeq
    // one row per digest within the batch: keeper = min doc_id (the
    // same argmin `incrementalDedup` applies in-batch)
    val compact = batch
      .withColumn("digest", md5(col("text")))
      .groupBy(col("digest"))
      .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("r"))
      .select((col("digest") +: cols.map(c => col(s"r.$c"))): _*)
    val admitted =
      if (ViewCommit.fsFor(dir, spark).exists(dir))
        compact.join(spark.read.schema("digest STRING").parquet(admittedDir),
          Seq("digest"), "left_anti")
      else compact
    admitted.write.mode("append").parquet(admittedDir)
  }
}
