package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.operators.EventOps
import graft.streaming.{CusumStream, SessionStream, ViewCommit}

/** Crash states of the shared segment commit
  * ([[ViewCommit.appendSegment]]) over both segmented views: a batch
  * that dies after writing `seg_b<id>`, after writing the compacted
  * `seg_c<id>`, or after its manifest commit but before the sweep is
  * retried, then an old batch is replayed, and the view must equal the
  * one-shot result with only its listed segment dirs left on disk. */
class ViewCommitSpec extends SparkSuite {

  private def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toSeq).toSeq.sortBy(_.mkString("\u0000"))

  /** A segmented view under test: its micro-batches, how one is applied
    * under a base dir (view at `<base>/view`), how the committed view
    * reads back, and the one-shot result of all batches. */
  private final case class View(name: String, batches: Seq[DataFrame],
                                apply: (DataFrame, Long, String) => Unit,
                                read: String => DataFrame,
                                oneShot: () => DataFrame)

  private val compactAfter = 2

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
      () => batches.reduce(_ unionByName _))
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
      () => EventOps.cusumShift(spark, sf))
  }

  /** A crash state: the batch it hits, and whether the dead run's
    * manifest commit landed (its sweep never runs). With
    * compactAfter = 2, batch 1 appends a second segment and batch 2
    * folds three into `seg_c2`. */
  private final case class Crash(name: String, batch: Int, committed: Boolean)

  private val crashes = Seq(
    Crash("seg_b written, not committed", 1, committed = false),
    Crash("seg_c written, not committed", 2, committed = false),
    Crash("committed, not swept", 2, committed = true))

  private def dataDirs(viewDir: String): Set[String] = {
    val st = Files.list(Paths.get(viewDir))
    try st.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("seg_") || n.startsWith("data_b")).toSet
    finally st.close()
  }

  private def committed(viewDir: String): ViewCommit.Manifest =
    ViewCommit.Manifest.read(spark, viewDir).get

  test("segment commit crash states: retry + replay equals the one-shot view, only listed segments remain") {
    for (view <- Seq(sessionView, cusumView); crash <- crashes) {
      val label = s"${view.name} / ${crash.name}"
      val base = tmpDir("graft-viewcommit")
      val viewDir = s"$base/view"
      val k = crash.batch
      view.batches.zipWithIndex.foreach { case (b, i) =>
        if (i != k) view.apply(b, i.toLong, base)
        else {
          val before = canon(view.read(base))
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
          val written = Set(s"seg_b$k") ++ (if (k == 2) Set("seg_c2") else Set())
          assert(written.subsetOf(dataDirs(viewDir)), label)
          assert(committed(viewDir).batchId == k - 1, label)
          assert(canon(view.read(base)) == before,
            s"$label: an uncommitted segment was visible")
          if (crash.committed) {
            // the manifest rename landed; the sweep never ran
            ViewCommit.Manifest(k.toLong, "spec", Seq("seg_c2"))
              .commit(spark, viewDir)
            assert(Set("seg_b0", "seg_b1", "seg_b2", "seg_c2")
              .subsetOf(dataDirs(viewDir)), label)
          }
          view.apply(b, i.toLong, base) // the retried batch
          view.apply(view.batches.head, 0L, base) // a replay: no-op
          if (!crash.committed)
            assert(dataDirs(viewDir) == committed(viewDir).entries.toSet,
              s"$label: the retry left unlisted segment dirs")
        }
      }
      assert(canon(view.read(base)) == canon(view.oneShot()),
        s"$label: retry + replay lost or doubled rows")
      val m = committed(viewDir)
      assert(m.batchId == view.batches.size - 1, label)
      assert(dataDirs(viewDir) == m.entries.toSet,
        s"$label: unlisted segment dirs remain: ${dataDirs(viewDir) -- m.entries}")
    }
  }
}
