package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{IngestPipeline, LoadSink, MetricsSink, Sinks}

/** The paper's ingest loop drained from a staged backlog of bulk
  * folders: each operation is one `IngestPipeline.processPendingOnce`,
  * which lists the bucket, picks the oldest folder, gates on its
  * manifest, loads every entity into both sinks in parallel, appends the
  * metrics row and deletes the folder. A folder is a sample of every
  * table with several files per entity.
  *
  * The backlog is staged first, and its oldest folder is self-checked
  * with `verifyChecksums` and `reconcile` (every folder comes from the
  * same generator code). Set-up then runs in rounds: each drains the
  * oldest folder, and its time is that loop's wall time. The timed region
  * then keeps draining oldest first. After every loop, outside any clock,
  * the drained folder is checked and one new folder is staged, so every
  * loop sees the same backlog depth (the loop's listing work grows with
  * the depth). */
object IngestWorkload {

  /** A fifth of every sf table per folder, four files per entity. */
  val fraction = 0.2
  val filesPerEntity = 4
  /** Folders waiting behind the one a loop loads. */
  val backlogDepth = 8
  val setupRounds = 5
  private val base = 1700000000L

  def run(spark: SparkSession, o: Main.Opts, t0: Long): Result = {
    val warehouse = s"${o.work}/warehouse"
    val log = (s: String) => System.err.println(s"[perfbench] $s")

    val plan = new Plan(o)
    val bucket = plan.bucket

    var attempted = 0
    var failed = 0
    val checker = new Checker(spark, bucket, warehouse)
    def loop(f: FolderGen.Folder, sinks: Option[Sinks] = None,
             onSinkEvent: (String, String) => Unit = (_, _) => ())
        : (Option[IngestPipeline.IngestMetrics], Double) = {
      attempted += 1
      val ts = System.nanoTime()
      val m = try IngestPipeline.processPendingOnce(spark, bucket, warehouse,
                    onSinkEvent = onSinkEvent, sinks = sinks)
              catch { case NonFatal(e) => log(s"${f.name}: loop failed: $e"); None }
      (m, Stats.secs(ts))
    }
    def verify(f: FolderGen.Folder, m: Option[IngestPipeline.IngestMetrics]): Unit =
      if (!checker.check(f, m)) failed += 1

    val backlog = mutable.Queue.fill(backlogDepth)(plan.next())
    /** The oldest folder, and a new one staged in its place. */
    def oldest(): FolderGen.Folder = { backlog += plan.next(); backlog.dequeue() }
    // the generator's self-check, through the program's manifest checks
    attempted += 1
    if (!checker.selfCheck(backlog.head)) failed += 1
    // set-up rounds: one warm-up loop each
    val rounds = (0 until setupRounds).map { _ =>
      val f = oldest()
      val (m, sec) = loop(f)
      verify(f, m)
      sec
    }
    log(f"set-up rounds ${rounds.map(s => f"$s%.2f").mkString(" ")} s; session start to timing ${Stats.secs(t0)}%.2f s")

    // timed drain
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val lat = mutable.ArrayBuffer.empty[Double]
    val untracedLat = mutable.ArrayBuffer.empty[Double]
    val seam = new SeamTimer(Sinks.parquet(spark, warehouse))
    var tracedRows = 0L
    var tracedGz = 0L
    while (lat.sum + untracedLat.sum < o.seconds || lat.isEmpty) {
      val f = oldest()
      trace match {
        case Some(t) if (lat.size + untracedLat.size) % 2 == 1 =>
          val (m, s) = t.during {
            val r = loop(f, Some(seam.sinks), seam.onSinkEvent)
            seam.endOp(r._2)
            (r, r._2)
          }
          verify(f, m)
          lat += s
          tracedRows += f.rows
          tracedGz += f.gzBytes
        case _ =>
          val (m, s) = loop(f)
          verify(f, m)
          (if (trace.isDefined) untracedLat else lat) += s
      }
    }

    val metrics = trace match {
      case None => Seq(
        ("setup_s", Stats.median(rounds), "s"),
        ("op_p50_s", Stats.median(lat.toSeq), "s"))
      case Some(t) =>
        val n = t.ops.toDouble
        Trace.layerMetrics(t.common(Main.cores(spark)) ++ Map(
          "ingest.control_s" -> seam.controlSec / n,
          "ingest.sink_phase_s" -> seam.phaseSec / n,
          "ingest.sink_overlap" -> seam.overlap,
          "ingest.sink_write_s" -> seam.writeSec / math.max(seam.writeCalls, 1),
          "ingest.sink_write_calls" -> seam.writeCalls / n,
          "ingest.metrics_append_s" -> seam.appendSec / n,
          "ingest.bytes_written" -> t.bytesWritten / n,
          "ingest.write_amp" -> t.bytesWritten.toDouble / tracedGz,
          "sources.rows_parsed" -> t.recordsRead / n,
          "sources.parse_ratio" -> t.recordsRead.toDouble / tracedRows,
          "registry.cache_mb" -> Trace.cacheMb(spark),
          "trace.overhead" -> Trace.overhead(lat.toSeq, untracedLat.toSeq)))
    }
    log(s"drained ${lat.size + untracedLat.size} folders; " +
      s"latencies ${(lat ++ untracedLat).map(s => f"$s%.2f").mkString(" ")}")
    Result(attempted, failed, metrics)
  }

  /** Stage the first folders of a run and print `folder file sha256` lines. */
  def printManifests(spark: SparkSession, o: Main.Opts): Unit = {
    require(o.workload == "ingest_bulk", s"not an ingest workload: ${o.workload}")
    val plan = new Plan(o)
    Seq.fill(backlogDepth + setupRounds)(plan.next()).foreach { f =>
      f.manifest.foreach { case (file, sha) => println(s"${f.name} $file $sha") }
    }
  }

  /** The seeded folders of one run. Folders take all chunks but
    * one, so consecutive folders differ; they sort in staging order. */
  final class Plan(o: Main.Opts) {
    val bucket = s"${o.work}/bucket"
    private val chunks = filesPerEntity + 1
    private val pools = {
      val t = System.nanoTime()
      val p = FolderGen.pool(o.data, o.cache, fraction / filesPerEntity * chunks, chunks, o.seed)
      System.err.println(f"[perfbench] generated ${p.map(_.chunks.map(_.rows).sum).sum} rows " +
        f"in $chunks chunks per entity in ${Stats.secs(t)}%.2f s")
      p
    }

    private var staged = 0

    /** Stage the next folder. */
    def next(): FolderGen.Folder = {
      val i = staged
      staged += 1
      val pick = (0 until chunks).filter(_ != i % chunks)
      FolderGen.stage(bucket, (base + i).toString, "bulk", pools.map(p => p -> pick.map(p.chunks)))
    }
  }

  /** Timing wrappers around the program's sink seam and `onSinkEvent`. */
  final class SeamTimer(base: Sinks) {
    var writeSec = 0.0
    var writeCalls = 0L
    var appendSec = 0.0
    var phaseSec = 0.0
    var sinkWallSec = 0.0
    var controlSec = 0.0
    private val starts = mutable.Map.empty[String, Long]
    private val ends = mutable.Map.empty[String, Long]
    private var opAppend = 0.0

    val sinks: Sinks = Sinks(
      load = name => {
        val s = base.load(name)
        new LoadSink {
          def name: String = s.name
          def writeEntity(entity: String, df: DataFrame): Unit = {
            val t = System.nanoTime()
            try s.writeEntity(entity, df)
            finally SeamTimer.this.synchronized { writeSec += Stats.secs(t); writeCalls += 1 }
          }
        }
      },
      metrics = new MetricsSink {
        def append(m: IngestPipeline.IngestMetrics): Unit = {
          val t = System.nanoTime()
          try base.metrics.append(m) finally opAppend += Stats.secs(t)
        }
      })

    val onSinkEvent: (String, String) => Unit = (sink, event) => synchronized {
      (if (event == "start") starts else ends)(sink) = System.nanoTime()
    }

    /** Close one traced loop of `wall` seconds. */
    def endOp(wall: Double): Unit = synchronized {
      val phase = if (starts.isEmpty || ends.isEmpty) 0.0
                  else (ends.values.max - starts.values.min) / 1e9
      phaseSec += phase
      sinkWallSec += starts.keys.map(k => ends.get(k).map(_ - starts(k)).getOrElse(0L)).sum / 1e9
      appendSec += opAppend
      controlSec += math.max(0.0, wall - phase - opAppend)
      starts.clear(); ends.clear(); opAppend = 0.0
    }

    def overlap: Double = if (phaseSec > 0) sinkWallSec / phaseSec else 0.0
  }

  /** Output checks, run outside the timed region. */
  final class Checker(spark: SparkSession, bucket: String, warehouse: String) {
    private def fail(f: FolderGen.Folder, why: String): Boolean = {
      System.err.println(s"[perfbench] CHECK FAILED ${f.name}: $why"); false
    }

    /** The generator's own self-check of a staged folder, through the
      * program's manifest checks. */
    def selfCheck(f: FolderGen.Folder): Boolean = try {
      val bad = IngestPipeline.verifyChecksums(spark, bucket, f.name)
        .filter(!col("ok")).count()
      val listing = IngestPipeline.listKeys(spark, bucket)
      val (undeclared, missing) = IngestPipeline.reconcile(spark, listing, bucket, f.name)
      if (bad > 0) fail(f, s"$bad checksum mismatches")
      else if (undeclared.nonEmpty || missing.nonEmpty)
        fail(f, s"manifest undeclared=$undeclared missing=$missing")
      else true
    } catch { case NonFatal(e) => fail(f, s"self-check threw $e") }

    /** After a loop: the metrics row names this folder and its type, the
      * folder is gone, and each sink holds exactly its rows per entity. */
    def check(f: FolderGen.Folder, m: Option[IngestPipeline.IngestMetrics]): Boolean = try {
      if (!m.exists(r => r.ingest == f.name && r.`type` == f.kind))
        return fail(f, s"loop returned $m")
      if (Files.exists(Paths.get(bucket, "pending", f.name)))
        return fail(f, "folder still pending")
      val (mcols, mrows) = ParquetRows.read(s"$warehouse/es_load_dates")
      val (ingest, typ) = (mcols.indexOf("ingest"), mcols.indexOf("type"))
      val types = mrows.filter(_(ingest) == f.name).map(_(typ))
      if (types != Seq(f.kind)) return fail(f, s"metrics rows ${types.mkString(",")}")
      val targets = for (sink <- Seq("neo4j", "elastic"); e <- f.expected.toSeq.sorted) yield (sink, e)
      val bad = Parallel.map(targets) { case (sink, (entity, want)) =>
        val (_, rows) = ParquetRows.read(s"$warehouse/$sink/$entity")
        val got = (rows.size.toLong, rows.map(r => FolderGen.lineHash(r.mkString(","))).sum)
        if (got == want) None else Some(s"$sink/$entity has $got, want $want")
      }.flatten
      if (bad.nonEmpty) fail(f, bad.mkString("; ")) else true
    } catch { case NonFatal(e) => fail(f, s"check threw $e") }
  }
}
