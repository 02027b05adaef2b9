package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.DedupStream
import graft.streaming.DedupStream.Doc

/** Streaming incremental dedup: admission is exactly-once per distinct
  * text within a batch, across batches, across query RESTARTS (the
  * admitted table's digests outlive the query — the property
  * dropDuplicatesWithinWatermark cannot give corpus building), and
  * across a replay of a batch whose append already landed. */
class DedupStreamSpec extends SparkSuite {

  private def admittedIds(dir: String): Set[Long] =
    spark.read.parquet(dir).select("doc_id").collect().map(_.getLong(0)).toSet

  test("admitStream dedupes within batch, across batches, and across restarts") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmpDir("graft-dadmit") + "/admitted"

    val input = MemoryStream[Doc]
    // batch 1: in-batch dup (1,3 share text) — keeper is min doc_id
    input.addData(Doc(1, "aaa"), Doc(2, "bbb"), Doc(3, "aaa"))
    val q = DedupStream.admitStream(input.toDF(), out,
      Trigger.AvailableNow())
    q.processAllAvailable()
    assert(admittedIds(out) == Set(1L, 2L))
    q.stop()

    // batch 2, SAME query lineage not required — new query, same table:
    // 4 duplicates stored content, 5 is new
    val input2 = MemoryStream[Doc]
    input2.addData(Doc(4, "bbb"), Doc(5, "ccc"))
    val q2 = DedupStream.admitStream(input2.toDF(), out,
      Trigger.AvailableNow())
    q2.processAllAvailable()
    assert(admittedIds(out) == Set(1L, 2L, 5L))
    q2.stop()

    // the admitted table itself is digest-unique (the downstream corpus
    // sees one row per distinct text ever streamed)
    val dups = spark.read.parquet(out)
      .groupBy("digest").count().filter(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("a batch applied again after its append landed admits nothing new") {
    import spark.implicits._
    val out = tmpDir("graft-dreplay") + "/admitted"
    val first = Seq(Doc(1, "aaa"), Doc(2, "bbb"), Doc(3, "aaa")).toDF()
    val second = Seq(Doc(4, "bbb"), Doc(5, "ccc")).toDF()
    DedupStream.admitBatch(first, out)
    DedupStream.admitBatch(second, out)
    // the process died after the append, before the stream recorded the
    // batch: the redelivered batch finds its own digests
    DedupStream.admitBatch(second, out)
    val rows = spark.read.parquet(out).select("doc_id", "digest")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(rows.map(_._1).sorted == Seq(1L, 2L, 5L))
    assert(rows.map(_._2).distinct.size == rows.size)
  }
}
