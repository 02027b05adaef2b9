package graft

import java.io.{File, FileOutputStream}
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import graft.ingest.IngestPipeline

/** The local filesystem under its own scheme, deleting one entry at a
  * time: a recursive delete removes a folder's subdirectories before its
  * own files, an order an object store's unordered bulk delete may take.
  * The process "dies" (an IOException) at the first delete after an
  * entity data file (`*.csv.gz`) is gone. */
class DyingDeleteFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftdying:///")
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    if (!exists(p)) false
    else {
      if (recursive && getFileStatus(p).isDirectory)
        listStatus(p).sortBy(st => (!st.isDirectory, st.getPath.getName))
          .foreach(st => delete(st.getPath, true))
      if (DyingDeleteFileSystem.dataDeleted)
        throw new java.io.IOException(s"the process died before deleting $p")
      val deleted = super.delete(p, false)
      if (p.getName.endsWith(".csv.gz")) DyingDeleteFileSystem.dataDeleted = true
      deleted
    }
}

object DyingDeleteFileSystem {
  @volatile var dataDeleted = false
}

/** Scripted-sequence tests for the ingest dataflow T2–T5, mirroring the
  * reference's mock-sequenced loop tests (ingestor.spec.js): manifest
  * gating, oldest-first consumption, bulk-parallel / delta-serial sink
  * ordering, exactly-once cleanup, metrics golden shape. */
class IngestPipelineSpec extends SparkSuite {

  import IngestFixtures.{makeIngest, writeGz, writeManifest}

  test("wait states: empty bucket, no marker, missing manifest all return None") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    // empty
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // only non-timestamp folders, even with a marker and a manifest
    makeIngest(bucket, "junk", "bulk")
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    assert(Files.exists(Paths.get(s"$bucket/pending/junk/manifest.json")))
    // folder without marker file
    writeGz(s"$bucket/pending/1538055240/person/person_headers.csv.gz", "a,b\n")
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // marker but no manifest yet (T3 gate)
    makeIngest(bucket, "1538055241", "bulk", withManifest = false)
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // manifest arrives ⇒ processes
    writeManifest(bucket, "1538055241")
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(m.isDefined)
    assert(m.get.ingest == "1538055241")
  }

  test("T2: always consumes the OLDEST pending folder first") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "2222", "bulk")
    makeIngest(bucket, "1111", "incremental")
    makeIngest(bucket, "3333", "incremental")
    val first = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(first.get.ingest == "1111")
    assert(first.get.`type` == "incremental")
    val second = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(second.get.ingest == "2222")
    assert(second.get.`type` == "bulk")
  }

  test("T4: consumed folder is deleted; reprocessing moves on (exactly-once)") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(!Files.exists(Paths.get(s"$bucket/pending/1538055240")))
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
  }

  // --- the crash table: a loop that dies at a step, then re-runs --------

  private val crashName = "1538055240"
  private val crashEntities = Seq("company", "person")

  private def stageCrash(bucket: String, ingestType: String): Unit = {
    makeIngest(bucket, crashName, ingestType)
    writeGz(s"$bucket/pending/$crashName/company/company_headers.csv.gz", "company_id,name\n")
    writeGz(s"$bucket/pending/$crashName/company/company_sample.csv.gz", "1,acme\n2,globex\n")
  }

  private def sinkRows(wh: String): Map[(String, String), Seq[String]] =
    (for (s <- Seq("neo4j", "elastic"); e <- crashEntities) yield (s, e) ->
      spark.read.parquet(s"$wh/$s/$e").collect().map(_.mkString("|")).toSeq.sorted
    ).toMap

  private def metricsRows(wh: String): Long =
    spark.read.parquet(s"$wh/es_load_dates").filter(s"ingest = '$crashName'").count()

  private final class Died extends RuntimeException("the process died")

  /** One loop over `bucket` into `wh` that dies right after the step
    * named `dieAfter` (never if None) and returns the steps it passed in
    * the order they passed. A delta loop drives one sink at a time, so
    * its steps are a sequence; a bulk loop runs each sink's steps on its
    * own thread. */
  private def deadRun(bucket: String, wh: String, dieAfter: Option[String]): Seq[String] = {
    val passed = mutable.ArrayBuffer.empty[String]
    def step(what: String): Unit = {
      passed.synchronized { passed += what }
      if (dieAfter.contains(what)) throw new Died
    }
    val parquet = graft.ingest.Sinks.parquet(spark, wh)
    val dying = graft.ingest.Sinks(
      load = n => new graft.ingest.LoadSink {
        val name = n
        def writeEntity(entity: String, df: org.apache.spark.sql.DataFrame): Unit = {
          parquet.load(n).writeEntity(entity, df); step(s"write $n/$entity")
        }
      },
      metrics = m => { parquet.metrics.append(m); step("metrics append") })
    IngestPipeline.processPendingOnce(spark, bucket, wh,
      onSinkEvent = (sink, ev) => if (ev == "end") step(s"end $sink"),
      sinks = Some(dying))
    passed.synchronized(passed.toSeq)
  }

  /** The one-shot loop's steps and sink contents for `ingestType`. */
  private def oneShot(ingestType: String): (Seq[String], Map[(String, String), Seq[String]]) = {
    val wh = tmpDir("graft-wh")
    val bucket = tmpDir("graft-bucket")
    stageCrash(bucket, ingestType)
    val steps = deadRun(bucket, wh, dieAfter = None)
    (steps, sinkRows(wh))
  }

  /** A row dying right after the named step. */
  private def diesAfter(step: String): (String, (String, String) => Unit) =
    step -> ((b: String, w: String) => { intercept[Died](deadRun(b, w, Some(step))); () })

  /** Each row kills a loop over a fresh `ingestType` folder, then re-runs
    * it with the parquet sinks: each sink must equal the one-shot load,
    * marker and manifest must be gone, a further loop loads nothing, and
    * the metrics table holds 1 row, 2 only after the metrics-append
    * death (the append is at-least-once, Sinks). A folder whose cleanup
    * began is consumed, so its re-run loads nothing. */
  private def crashTable(ingestType: String, expected: Map[(String, String), Seq[String]],
                         rows: Seq[(String, (String, String) => Unit)]): Unit =
    for ((crash, dies) <- rows) {
      val bucket = tmpDir("graft-bucket")
      val wh = tmpDir("graft-wh")
      stageCrash(bucket, ingestType)
      dies(bucket, wh)
      val rerun = IngestPipeline.processPendingOnce(spark, bucket, wh)
      assert(rerun.isDefined == (crash != "mid-cleanup"), crash)
      assert(sinkRows(wh) == expected, crash)
      assert(!Files.exists(Paths.get(s"$bucket/pending/$crashName/$ingestType.txt")), crash)
      assert(!Files.exists(Paths.get(s"$bucket/pending/$crashName/manifest.json")), crash)
      assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty, crash)
      assert(metricsRows(wh) == (if (crash == "metrics append") 2L else 1L), crash)
    }

  test("crash table: a delta loop that dies at any step re-runs to the one-shot sinks and consumes its folder once") {
    val (steps, expected) = oneShot("incremental")
    assert(steps == Seq("write neo4j/company", "write neo4j/person", "end neo4j",
      "write elastic/company", "write elastic/person", "end elastic",
      "metrics append"))

    // the death mid-cleanup: after the load and its metrics row, the
    // folder's delete dies once its first data file is gone
    val conf = spark.sparkContext.hadoopConfiguration
    def diesMidCleanup(bucket: String, wh: String): Unit = {
      DyingDeleteFileSystem.dataDeleted = false
      // uncached, so no dying instance outlives this test in the JVM
      conf.set("fs.graftdying.impl", classOf[DyingDeleteFileSystem].getName)
      conf.setBoolean("fs.graftdying.impl.disable.cache", true)
      try {
        intercept[java.io.IOException](
          IngestPipeline.processPendingOnce(spark, s"graftdying://$bucket", wh))
        assert(DyingDeleteFileSystem.dataDeleted)
      } finally {
        conf.unset("fs.graftdying.impl")
        conf.unset("fs.graftdying.impl.disable.cache")
        DyingDeleteFileSystem.dataDeleted = false
      }
    }

    crashTable("incremental", expected,
      steps.map(diesAfter) :+ ("mid-cleanup" -> diesMidCleanup _))
  }

  test("crash table: a bulk loop that dies after any sink write or sink end re-runs to the one-shot sinks") {
    val (steps, expected) = oneShot("bulk")
    // the two sinks interleave, but each keeps its own order and the
    // metrics append follows both
    Seq("neo4j", "elastic").foreach { s =>
      assert(steps.filter(_.contains(s)) == Seq(s"write $s/company", s"write $s/person", s"end $s"))
    }
    assert(steps.size == 7 && steps.last == "metrics append", steps)
    crashTable("bulk", expected, steps.init.map(diesAfter))
  }

  test("bulk join: a failing sink surfaces only after the other sink's write has finished") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    val elasticWriting = new java.util.concurrent.CountDownLatch(1)
    val elasticWritten = new java.util.concurrent.atomic.AtomicBoolean(false)
    final class Broken extends RuntimeException("the neo4j sink failed")
    val binding = graft.ingest.Sinks(
      load = n => new graft.ingest.LoadSink {
        val name = n
        def writeEntity(entity: String, df: org.apache.spark.sql.DataFrame): Unit =
          if (n == "neo4j") {
            elasticWriting.await(60, java.util.concurrent.TimeUnit.SECONDS)
            throw new Broken
          } else {
            elasticWriting.countDown()
            Thread.sleep(1500)           // the surviving write takes a while
            elasticWritten.set(true)
          }
      },
      metrics = _ => ())
    intercept[Broken](IngestPipeline.processPendingOnce(spark, bucket, wh, sinks = Some(binding)))
    assert(elasticWritten.get, "the loop threw while the elastic sink was still writing")
    assert(Files.exists(Paths.get(s"$bucket/pending/1538055240/bulk.txt")))
  }

  test("metrics row: the durations roll up the sinks' clock reads (2h:15mins / 1h:05mins / 3h:20mins)") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    val t0 = 1538050000L
    // neo4j start, neo4j end, elastic start, elastic end, load date
    val reads = Iterator(t0, t0 + 8100, t0 + 8100, t0 + 12000, t0 + 12000)
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock = () => reads.next()).get
    assert(!reads.hasNext)
    assert(m.neo_job_duration == "2h:15mins")
    assert(m.elastic_job_duration == "1h:05mins")
    assert(m.total_job_duration == "3h:20mins")
    assert(m.load_date == new java.sql.Timestamp((t0 + 12000) * 1000L))
  }

  test("metrics row: a constant clock yields the same row for bulk and delta, field for field") {
    val c = 1538055240L
    Seq("bulk", "incremental").foreach { kind =>
      val bucket = tmpDir("graft-bucket")
      val wh = tmpDir("graft-wh")
      makeIngest(bucket, "1538055240", kind)
      val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock = () => c).get
      assert(m == IngestPipeline.IngestMetrics("1538055240", kind,
        new java.sql.Timestamp(c * 1000L), "Thu Sep 2018 13:34",
        "0h:00mins", "0h:00mins", "0h:00mins"), kind)
    }
  }

  test("T5: delta runs neo4j strictly before elastic; bulk overlaps") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    val events = mutable.ArrayBuffer.empty[(String, String)]
    IngestPipeline.processPendingOnce(spark, bucket, wh,
      onSinkEvent = (sink, ev) => events.synchronized { events += (sink -> ev) })
    assert(events.toSeq == Seq(
      "neo4j" -> "start", "neo4j" -> "end",
      "elastic" -> "start", "elastic" -> "end"),
      s"delta must serialize neo4j before elastic, got $events")

    makeIngest(bucket, "1538055250", "bulk")
    val bulkEvents = mutable.ArrayBuffer.empty[(String, String)]
    IngestPipeline.processPendingOnce(spark, bucket, wh,
      onSinkEvent = (sink, ev) => bulkEvents.synchronized { bulkEvents += (sink -> ev) })
    // both sinks started before either finished is not guaranteed on a
    // busy machine, but both must appear and both must complete
    assert(bulkEvents.count(_._2 == "start") == 2)
    assert(bulkEvents.count(_._2 == "end") == 2)
  }

  test("sink seam: custom bindings receive loads + metrics, T5 order intact") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    val calls = mutable.ArrayBuffer.empty[(String, String, Long)]
    val metricsSeen = mutable.ArrayBuffer.empty[IngestPipeline.IngestMetrics]
    final class Rec(val name: String) extends graft.ingest.LoadSink {
      def writeEntity(entity: String, df: org.apache.spark.sql.DataFrame): Unit =
        calls.synchronized { calls += ((name, entity, df.count())) }
    }
    val binding = graft.ingest.Sinks(
      load = n => new Rec(n),
      metrics = m => metricsSeen.synchronized { metricsSeen += m })
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(binding))
    assert(m.isDefined)
    // delta ⇒ neo4j's entity load strictly precedes elastic's (T5 holds
    // THROUGH the seam), and each sink saw the 3 loaded rows
    assert(calls.toSeq == Seq(("neo4j", "person", 3L), ("elastic", "person", 3L)),
      s"seam calls: $calls")
    // metrics went through the bound MetricsSink, not the parquet table,
    // and the default warehouse saw no writes at all
    assert(metricsSeen.map(_.ingest).toSeq == Seq("1538055240"))
    assert(!Files.exists(Paths.get(s"$wh/es_load_dates")))
    assert(!Files.exists(Paths.get(s"$wh/neo4j")))
  }

  test("sinks receive the CSV.gz data; metrics row has the golden shape") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    var t = 1538050000L
    val clock = () => { t += 4050; t }   // each stage advances 4050s
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock).get
    // both sinks materialized the person entity with schema from sidecar
    Seq("neo4j", "elastic").foreach { sink =>
      val df = spark.read.parquet(s"$wh/$sink/person")
      assert(df.columns.toSeq == Seq("person_id", "name", "age"))
      assert(df.count() == 3)
    }
    assert(m.`type` == "bulk")
    assert(m.neo_job_duration.matches("\\d+h:\\d{2}mins"))
    assert(m.total_job_duration.matches("\\d+h:\\d{2}mins"))
    // metrics row persisted to the warehouse metrics table (S8)
    val metrics = spark.read.parquet(s"$wh/es_load_dates")
    assert(metrics.count() == 1)
    assert(metrics.columns.toSet == Set("ingest", "type", "load_date",
      "readable_date", "neo_job_duration", "elastic_job_duration",
      "total_job_duration"))
  }

  private def podJson(ready: Boolean, startedAtIso: String) =
    s"""{"status":{"containerStatuses":[{"name":"build","ready":$ready,
       |"restartCount":0,"state":{"running":{"startedAt":"$startedAtIso"}}}]}}"""
      .stripMargin.replace("\n", "")

  test("T6: sink end times wait on the rolling update — stale pods poll until fresh") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    var t = 1538050000L              // ≈ 2018-09-27; job starts shortly after
    val clock = () => { t += 100; t }
    val stale = podJson(ready = true, "2018-09-01T00:00:00Z")  // before job start
    val fresh = podJson(ready = true, "2018-12-01T00:00:00Z")  // after job start
    val polls = mutable.Map("neo4j" -> 0, "elastic" -> 0)
    var settles = 0
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock,
      podsFor = sink => {
        polls(sink) += 1
        if (polls(sink) <= 2) Seq(stale) else Seq(fresh)
      },
      settle = () => settles += 1).get
    // each sink kept polling through the 2 scripted stale states and
    // completed on the fresh one (checkRollingStatus, ingestor.js:180–193)
    assert(polls("neo4j") == 3 && polls("elastic") == 3, polls)
    // the one-interval settle ran before the first check and between
    // retries: 1 + 2 per sink (ingestor.js:259)
    assert(settles == 6, s"settles=$settles")
    assert(m.neo_job_duration.matches("\\d+h:\\d{2}mins"))
  }

  test("T6: a ready-but-never-rolled pod errors out instead of spinning forever") {
    val stale = podJson(ready = true, "2018-09-01T00:00:00Z")
    intercept[IllegalStateException] {
      IngestPipeline.awaitRollingUpdate(spark, () => Seq(stale),
        jobStartSec = 1538050000L, settle = () => (), maxPolls = 3)
    }
    // fresh startedAt but container not ready also keeps polling (both
    // conditions gate, ingestor.js:188–191)
    val notReady = podJson(ready = false, "2018-12-01T00:00:00Z")
    intercept[IllegalStateException] {
      IngestPipeline.awaitRollingUpdate(spark, () => Seq(notReady),
        jobStartSec = 1538050000L, settle = () => (), maxPolls = 3)
    }
    // no pods ⇒ stage is a no-op
    IngestPipeline.awaitRollingUpdate(spark, () => Nil,
      jobStartSec = 1538050000L, settle = () => (), maxPolls = 1)
  }

  test("checksum verification flags the tampered file (F10/J3)") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk", withManifest = false)
    // compute the real sha256 of the headers file; declare a wrong one
    // for the sample file
    val headerBytes = Files.readAllBytes(
      Paths.get(s"$bucket/pending/1538055240/person/person_headers.csv.gz"))
    val realSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(headerBytes).map("%02x".format(_)).mkString
    Files.writeString(Paths.get(s"$bucket/pending/1538055240/manifest.json"),
      s"""{"FileName": "person_headers.csv.gz", "SHA256": "$realSha"}
         |{"FileName": "person_sample.csv.gz", "SHA256": "deadbeef"}
         |{"FileName": "ghost.csv.gz", "SHA256": "00"}""".stripMargin)
    val rows = IngestPipeline.verifyChecksums(spark, bucket, "1538055240")
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(rows("person_headers.csv.gz"))     // matches
    assert(!rows("person_sample.csv.gz"))     // tampered
    assert(!rows("ghost.csv.gz"))             // declared but absent
  }

  test("T7: a corrupt data file fails the cycle loudly (no silent spin)") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    // overwrite the gzip with non-gzip bytes under the .gz name
    Files.write(
      Paths.get(s"$bucket/pending/1538055240/person/person_headers.csv.gz"),
      "this is not gzip".getBytes("UTF-8"))
    intercept[Exception] {
      IngestPipeline.processPendingOnce(spark, bucket, wh)
    }
    // folder NOT deleted — at-least-once: the ingest replays after a fix
    assert(Files.exists(Paths.get(s"$bucket/pending/1538055240")))
  }

  test("distributed listing face equals the driver-side listing") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk")
    makeIngest(bucket, "1538055250", "incremental")
    val driverSide = IngestPipeline.listKeys(spark, bucket)
      .collect().map(_.getString(0)).toSet
    val distributed = IngestPipeline.listKeysDistributed(spark, bucket)
      .collect().map(_.getString(0)).toSet
    assert(distributed == driverSide, s"diff: ${distributed.diff(driverSide)} / ${driverSide.diff(distributed)}")
    // and it feeds the same control decision
    assert(IngestPipeline.oldestPending(
      IngestPipeline.listKeysDistributed(spark, bucket)).get.ingestName == "1538055240")
    // empty bucket ⇒ empty frame, same as the driver face
    assert(IngestPipeline.listKeysDistributed(spark, tmpDir("graft-empty")).isEmpty)
  }

  /** Reference listing for `listKeys`: Hadoop's own `listFiles(root, true)`. */
  private def listFilesKeys(bucket: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(bucket)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fsys.makeQualified(root).toUri
    val it = fsys.listFiles(root, true)
    val keys = mutable.ArrayBuffer.empty[String]
    while (it.hasNext) keys += rootUri.relativize(it.next().getPath.toUri).getPath
    keys.toSeq
  }

  test("control-plane parity on an awkward bucket: listing, folder, type, entities") {
    import org.apache.spark.sql.functions.{col, get, lit, split}
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    Files.createDirectories(Paths.get(s"$bucket/other"))
    Files.writeString(Paths.get(s"$bucket/other/readme.txt"), "not pending")
    makeIngest(bucket, "junk", "bulk")                     // non-numeric + marker
    writeGz(s"$bucket/pending/1538055230/person/person_headers.csv.gz",
      "person_id,name,age\n")                              // no marker file
    makeIngest(bucket, "1538055240", "incremental")        // the oldest valid
    writeGz(s"$bucket/pending/1538055240/company/company_headers.csv.gz",
      "company_id,name\n")
    writeGz(s"$bucket/pending/1538055240/company/company_sample.csv.gz",
      "1,acme\n")
    writeGz(s"$bucket/pending/1538055240/person/archive/person_old.csv.gz",
      "9,old,99\n")                                        // nested deeper
    makeIngest(bucket, "1538055250", "bulk")
    assert(Files.size(Paths.get(s"$bucket/pending/1538055240/incremental.txt")) == 0)

    val expectedKeys = listFilesKeys(bucket)
    assert(expectedKeys.contains("other/readme.txt"))
    assert(expectedKeys.contains("pending/1538055240/incremental.txt"))
    assert(IngestPipeline.listKeys(spark, bucket).collect().map(_.getString(0)).toSeq
      == expectedKeys)
    assert(IngestPipeline.listKeysDistributed(spark, bucket)
      .collect().map(_.getString(0)).toSet == expectedKeys.toSet)

    // the decisions the DataFrame control plane made on that listing
    import spark.implicits._
    val listing = expectedKeys.toDF("key")
    val expected = IngestPipeline.oldestPending(listing).get
    val expectedEntities = listing
      .filter(col("key").startsWith(s"pending/${expected.ingestName}/"))
      .select(get(split(col("key"), "/"), lit(2)).as("entity"),
        get(split(col("key"), "/"), lit(3)).as("file"))
      .filter(col("file").isNotNull)
      .select("entity").distinct().collect().map(_.getString(0)).toSeq.sorted
    assert(expected == IngestPipeline.IngestParams("1538055240", "incremental"))
    assert(expectedEntities == Seq("company", "person"))

    val loads = mutable.ArrayBuffer.empty[(String, String)]
    final class Rec(val name: String) extends graft.ingest.LoadSink {
      def writeEntity(entity: String, df: org.apache.spark.sql.DataFrame): Unit =
        loads.synchronized { loads += (name -> entity) }
    }
    val binding = graft.ingest.Sinks(load = n => new Rec(n), metrics = _ => ())
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(binding)).get
    assert(IngestPipeline.IngestParams(m.ingest, m.`type`) == expected)
    assert(loads.toSeq == Seq("neo4j", "elastic").flatMap(s => expectedEntities.map(s -> _)))
    assert(!Files.exists(Paths.get(s"$bucket/pending/1538055240")))
    assert(Files.exists(Paths.get(s"$bucket/pending/junk")))
    assert(Files.exists(Paths.get(s"$bucket/pending/1538055230")))
  }

  test("manifest reconciliation reports undeclared and missing files") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk")
    writeGz(s"$bucket/pending/1538055240/person/person_extra.csv.gz", "x\n")
    val listing = IngestPipeline.listKeys(spark, bucket)
    val (undeclared, missing) =
      IngestPipeline.reconcile(spark, listing, bucket, "1538055240")
    assert(undeclared.contains("person_extra.csv.gz"))
    assert(missing.isEmpty)
  }

  /** A listing DataFrame from literal keys — the Spark face of the
    * reference's `s3_samples` fixtures (__mocks__/s3-client.js:3–92). */
  private def listingOf(keys: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    keys.toSeq.toDF("key")
  }

  test("start loop keeps polling through error, empty, no-ts-folders and " +
       "invalid-folder listings — 6 polls to the first valid ingest " +
       "(s3-client.spec.js:8–14 / __mocks__/s3-client.js:95–101)") {
    // the jest ts_folders mock sequence, state for state:
    val script = Iterator[() => org.apache.spark.sql.DataFrame](
      () => throw new RuntimeException("aws error"), // poll 1: error
      () => listingOf(),                             // poll 2: empty
      () => listingOf(),                             // poll 3: empty
      () => listingOf(                               // poll 4: no ts folders
        "pending/.DS_Store", "pending/manifest.json"),
      () => listingOf(                               // poll 5: bad folders
        "pending/.DS_Store",                         //   (ts folder, no
        "pending/1538055240/person/person_headers.csv.gz"), // marker file)
      () => listingOf(                               // poll 6: valid
        "pending/.DS_Store", "pending/manifest.json",
        "pending/1538055240/person/person_headers.csv.gz",
        "pending/1538055240/bulk.txt",
        "pending/1538055240/manifest.json",
        "pending/1538055250/person/person_headers.csv.gz",
        "pending/1538055250/person/person_sample.csv.gz"))
    val (params, polls) = IngestPipeline.pollForIngest(() => script.next()())
    assert(params.ingestName == "1538055240")
    assert(params.ingestType == "bulk")
    assert(polls == 6) // expect(s3.listObjectsV2.mock.calls.length).toBe(6)
  }

  test("waitForManifest polls until the commit marker appears — 4 polls " +
       "(ingestor.js:109–118 / __mocks__/s3-client.js:103–107)") {
    val withManifest = listingOf(
      "pending/1538055240/person/person_headers.csv.gz",
      "pending/1538055240/bulk.txt",
      "pending/1538055240/manifest.json")
    val script = Iterator[() => org.apache.spark.sql.DataFrame](
      () => listingOf(),                             // poll 1: empty
      () => listingOf(                               // poll 2: no ts folders
        "pending/.DS_Store", "pending/manifest.json"),
      () => listingOf(                               // poll 3: no manifest yet
        "pending/1538055240/person/person_headers.csv.gz",
        "pending/1538055240/bulk.txt",
        "pending/1538055250/person/person_headers.csv.gz",
        "pending/1538055250/person/person_sample.csv.gz"),
      () => withManifest)                            // poll 4: manifest
    val polls =
      IngestPipeline.pollForManifest(() => script.next()(), "1538055240")
    assert(polls == 4) // the jest manifest_folders sequence length
  }

  // kubectl status fixtures, verbatim shapes from helpers.spec.js:18–110
  private val completeJob =
    """{"status": {"startTime": "2016-09-22T13:56:42Z",
      |            "completionTime": "2016-09-22T13:59:03Z",
      |            "succeeded": 1}}""".stripMargin
  private val runningJob =
    """{"status": {"startTime": "2016-09-22T13:56:42Z", "active": 1}}"""
  private val podBuildReady =
    """{"status": {"containerStatuses": [
      |  {"name": "build", "ready": true, "restartCount": 0,
      |   "state": {"running": {"startedAt": "2018-10-09T10:10:00Z"}}}]}}"""
      .stripMargin
  private val podBuildNotReady =
    """{"status": {"containerStatuses": [
      |  {"name": "build", "ready": false, "restartCount": 0,
      |   "state": {"running": {"startedAt": "2018-10-09T10:10:00Z"}}}]}}"""
      .stripMargin

  test("a poller that never succeeds chains its last swallowed error as the cause") {
    var n = 0
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val e =
      try intercept[IllegalStateException] {
        IngestPipeline.pollForJobComplete(spark, () => {
          n += 1; throw new RuntimeException(s"kubectl error $n")
        }, maxPolls = 3)
      } finally System.setErr(saved)
    assert(e.getMessage == "job not complete after 3 polls")
    assert(e.getCause != null && e.getCause.getMessage == "kubectl error 3")
    // each swallowed failure left one line
    val lines = buf.toString("UTF-8").linesIterator
      .filter(_.startsWith("[graft] job not complete: poll ")).toList
    assert(lines == (1 to 3).map(i => s"[graft] job not complete: poll $i " +
      s"failed: java.lang.RuntimeException: kubectl error $i"), buf.toString("UTF-8"))
  }

  test("checkJobStatus polls through error, empty stdout and a running job " +
       "— 4 polls to completion (ingestor.spec.js 'wait for a job to " +
       "finish' / __mocks__/child_process.js:51–54)") {
    val script = Iterator[() => String](
      () => throw new RuntimeException("kubectl get jobs error"), // poll 1
      () => "",           // poll 2: empty stdout
      () => runningJob,   // poll 3: active, not succeeded
      () => completeJob)  // poll 4: succeeded = 1
    val polls = IngestPipeline.pollForJobComplete(spark, () => script.next()())
    assert(polls == 4) // expect(child_process.exec.mock.calls.length).toBe(4)
  }

  test("checkPodStatus polls through error and a not-ready build container " +
       "— 3 polls to ready (ingestor.spec.js 'wait for a pod to be in a " +
       "ready state' / __mocks__/child_process.js:45–48)") {
    val script = Iterator[() => String](
      () => throw new RuntimeException("kubectl get pods error"), // poll 1
      () => podBuildNotReady, // poll 2: build ready = false
      () => podBuildReady)    // poll 3: build ready = true (staleness is
                              //   the rolling poller's concern, not this one's)
    val polls = IngestPipeline.pollForPodReady(spark, () => script.next()())
    assert(polls == 3) // expect(child_process.exec.mock.calls.length).toBe(3)
  }
}
