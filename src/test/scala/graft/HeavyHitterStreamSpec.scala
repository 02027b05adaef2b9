package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.HeavyHitterStream

/** A local filesystem under another scheme: a default FS that a
  * `file:` path must not be resolved against. */
class OtherSchemeFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftother:///")
}

/** Streaming Misra-Gries heavy hitters: bounded state per bucket, the
  * per-bucket survival guarantee across micro-batches, and snapshot
  * supersession in the log. */
class HeavyHitterStreamSpec extends SparkSuite {

  private case class Ev(user_id: Long)

  test("per-bucket MG guarantee holds across micro-batches; state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir("graft-hh")
    val buckets = 4
    val k = 8

    // three micro-batches of a skewed stream: user 40 is hot (lives in
    // bucket 0), user 41 moderately hot (bucket 1), the rest is a spray
    // of one-off users that tries to evict them
    val hot = (1 to 60).map(_ => Ev(40L))
    val warm = (1 to 25).map(_ => Ev(41L))
    val noise = (100 to 179).map(i => Ev(i.toLong))
    val all = hot ++ warm ++ noise
    val input = MemoryStream[Ev]
    val batches = all.grouped(all.size / 3 + 1).toSeq
    // one query incarnation per batch: AvailableNow drains what's there
    // and stops; the MG state survives incarnations via the checkpoint
    // (so this also pins cross-restart state recovery)
    batches.foreach { b =>
      input.addData(b: _*)
      val q = HeavyHitterStream.track(input.toDF(), dir, buckets, k)
      q.awaitTermination()
    }

    val cand = HeavyHitterStream.candidates(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // bounded state: each bucket's snapshot holds at most k counters
    cand.groupBy(_._1).foreach { case (b, rows) =>
      assert(rows.length <= k, s"bucket $b holds ${rows.length} > $k counters")
    }

    // the MG survival guarantee, per bucket: any key whose true count
    // in its bucket exceeds n_bucket/(k+1) must be in the snapshot
    val byBucket = all.groupBy(e => e.user_id % buckets)
    byBucket.foreach { case (b, evs) =>
      val n = evs.size.toLong
      val mustSurvive = evs.groupBy(_.user_id).collect {
        case (u, es) if es.size.toLong * (k + 1) > n => u
      }.toSet
      val present = cand.collect { case (`b`, u, _) => u }.toSet
      assert(mustSurvive.subsetOf(present),
        s"bucket $b lost ${mustSurvive -- present}")
    }
    // and concretely: both planted hitters survived the noise
    assert(cand.exists(_._2 == 40L))
    assert(cand.exists(_._2 == 41L))

    // supersession: candidates() returns ONE snapshot per bucket (no
    // stale duplicates from earlier batches)
    val dupKeys = cand.groupBy(c => (c._1, c._2)).filter(_._2.size > 1)
    assert(dupKeys.isEmpty, s"stale snapshot rows: ${dupKeys.keys}")

    // the MG count is a lower bound on the true count (decrements only)
    val trueCounts = all.groupBy(_.user_id).view.mapValues(_.size.toLong)
    cand.foreach { case (_, u, c) =>
      assert(c <= trueCounts(u), s"user $u: MG count $c > true ${trueCounts(u)}")
    }
  }

  test("candidates resolve the filesystem from the snapshot path, not the default FS") {
    import spark.implicits._
    val dir = "file:" + tmpDir("graft-hh-scheme")
    Seq((0L, 7L, 3L, 0L)).toDF("bucket", "user_id", "mg_count", "batch_id")
      .write.parquet(s"$dir/log")
    val conf = spark.sparkContext.hadoopConfiguration
    val savedDefault = conf.get("fs.defaultFS")
    conf.set("fs.graftother.impl", classOf[OtherSchemeFileSystem].getName)
    conf.set("fs.defaultFS", "graftother:///")
    val cand =
      try HeavyHitterStream.candidates(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      finally {
        conf.set("fs.defaultFS", savedDefault)
        conf.unset("fs.graftother.impl")
      }
    assert(cand == Seq((0L, 7L, 3L)))
  }
}
