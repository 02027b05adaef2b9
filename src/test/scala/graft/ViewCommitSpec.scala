package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.EventOps
import graft.streaming.{CusumStream, EventStream, SessionStream, ViewCommit}

/** Crash states of the shared segment commit
  * ([[ViewCommit.appendSegment]]) over both segmented views and the
  * upsert table: a batch that dies after writing `seg_b<id>`, after
  * writing the compacted `seg_c<id>`, or after its manifest commit but
  * before the sweep is retried, then a batch is replayed, and the view
  * must equal the one-shot result with only its listed segment dirs
  * left on disk. */
class ViewCommitSpec extends SparkSuite {

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  /** A crash state: the batch it hits, the data dirs the dead run wrote,
    * and the entries of its manifest if its commit landed (its sweep
    * never runs). */
  private final case class Crash(name: String, batch: Int, written: Set[String],
                                 committed: Option[Seq[String]])

  /** A view under test: its micro-batches, how one is applied under a
    * base dir (view at `<base>/view`), how the committed view reads
    * back, the one-shot result of all batches, and its crash states.
    * A `guarded` view skips a replayed old batch id; an unguarded one
    * (the upsert table) is replayed with the batch it just applied. */
  private final case class View(name: String, batches: Seq[DataFrame],
                                apply: (DataFrame, Long, String) => Unit,
                                read: String => DataFrame,
                                oneShot: () => DataFrame,
                                crashes: Seq[Crash],
                                guarded: Boolean = true)

  /** With compactAfter = 2, batch 1 appends a second segment and batch 2
    * folds three into `seg_c2`. */
  private val compactAfter = 2

  private val segmentCrashes = Seq(
    Crash("seg_b written, not committed", 1, Set("seg_b1"), committed = None),
    Crash("seg_c written, not committed", 2, Set("seg_b2", "seg_c2"), committed = None),
    Crash("committed, not swept", 2, Set("seg_b2", "seg_c2"),
      committed = Some(Seq("seg_c2"))))

  private def sessionView: View = {
    import spark.implicits._
    val batches = (0L until 4L).map { i =>
      Seq((i, 10L, 310L, 2L, 500L + i), (i + 10, 20L, 320L, 1L, 100L))
        .toDF("user_id", "session_start", "session_end_excl",
          "n_events", "sum_cents")
    }
    View("sessions", batches,
      (b, id, base) => SessionStream.applyBatch(b, id, s"$base/view",
        owner = "spec", compactAfter = compactAfter),
      base => SessionStream.currentSessions(spark, s"$base/view"),
      () => batches.reduce(_ unionByName _),
      segmentCrashes)
  }

  private def cusumView: View = {
    val ev = EventOps.events(spark, sf).select("ts", "event_type")
    val batches = (0 until 4).map(i =>
      ev.filter(org.apache.spark.sql.functions.expr(
        s"pmod(xxhash64(ts, event_type), 4) = $i")))
    View("cusum", batches,
      (b, id, base) => CusumStream.applyBatch(b, id, s"$base/view",
        s"$base/alerts", owner = "spec", compactAfter = compactAfter),
      base => CusumStream.readStatistic(spark, s"$base/view"),
      () => EventOps.cusumShift(spark, sf),
      segmentCrashes)
  }

  /** The upsert table: keys 1 and 2, then a batch adding key 3 dies; the
    * retry must keep keys 1 and 2 next to 3. */
  private def upsertView: View = {
    import spark.implicits._
    val batches = Seq(
      Seq((1L, 1L, "a"), (1L, 2L, "b")),
      Seq((2L, 1L, "c")),
      Seq((3L, 1L, "d")),
      Seq((1L, 5L, "e"), (4L, 1L, "f"))).map(_.toDF("k", "ts", "v"))
    View("upsert", batches,
      (b, _, base) => EventStream.applyUpsert(b, s"$base/view",
        keyCols = Seq("k"), orderCols = Seq("ts")),
      base => EventStream.upserted(spark, s"$base/view"),
      () => Seq((1L, 5L, "e"), (2L, 1L, "c"), (3L, 1L, "d"), (4L, 1L, "f"))
        .toDF("k", "ts", "v"),
      Seq(
        Crash("segment written, not committed", 2, Set("seg_b2"), committed = None),
        Crash("committed, not swept", 2, Set("seg_b2"), committed = Some(Seq("seg_b2")))),
      guarded = false)
  }

  private def dataDirs(viewDir: String): Set[String] = {
    val st = Files.list(Paths.get(viewDir))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("seg_") || n.startsWith("data_b")).toSet
    finally st.close()
  }

  private def committed(viewDir: String): ViewCommit.Manifest =
    ViewCommit.Manifest.read(spark, viewDir).get

  test("segment commit crash states: retry + replay equals the one-shot view, only listed segments remain") {
    for (view <- Seq(sessionView, cusumView, upsertView); crash <- view.crashes) {
      val label = s"${view.name} / ${crash.name}"
      val base = tmpDir("graft-viewcommit")
      val viewDir = s"$base/view"
      val k = crash.batch
      view.batches.zipWithIndex.foreach { case (b, i) =>
        if (i != k) view.apply(b, i.toLong, base)
        else {
          val before = canon(view.read(base))
          val dirsBefore = dataDirs(viewDir)
          // kill the run at its commit: a directory where the manifest's
          // tmp file goes makes the create fail after every data write
          val blocker = Paths.get(viewDir, "_meta.tmp")
          Files.createDirectories(blocker)
          Files.write(blocker.resolve("x"), Array[Byte](1))
          intercept[java.io.IOException](view.apply(b, i.toLong, base))
          // what a crash mid-manifest-write leaves: a torn tmp file
          Files.delete(blocker.resolve("x"))
          Files.delete(blocker)
          Files.write(blocker, "torn".getBytes("UTF-8"))
          assert((dirsBefore ++ crash.written).subsetOf(dataDirs(viewDir)), label)
          assert(committed(viewDir).batchId == k - 1, label)
          assert(canon(view.read(base)) == before,
            s"$label: an uncommitted segment was visible")
          crash.committed.foreach { live =>
            // the manifest rename landed; the sweep never ran
            ViewCommit.Manifest(k.toLong, "spec", live).commit(spark, viewDir)
          }
          view.apply(b, i.toLong, base) // the retried batch
          // a replay: an old batch id is a no-op under the replay guard;
          // the upsert table rewrites the batch it just applied
          val r = if (view.guarded) 0 else i
          view.apply(view.batches(r), r.toLong, base)
          if (crash.committed.isEmpty)
            assert(dataDirs(viewDir) == committed(viewDir).entries.toSet,
              s"$label: the retry left unlisted segment dirs")
        }
      }
      assert(canon(view.read(base)) == canon(view.oneShot()),
        s"$label: retry + replay lost or doubled rows")
      val m = committed(viewDir)
      if (view.guarded) assert(m.batchId == view.batches.size - 1, label)
      assert(dataDirs(viewDir) == m.entries.toSet,
        s"$label: unlisted segment dirs remain: ${dataDirs(viewDir) -- m.entries}")
    }
  }
}
