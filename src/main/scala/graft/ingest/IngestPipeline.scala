package graft.ingest

import java.net.URI
import java.util.concurrent.{ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KubeOps, ListingOps, TimeOps, TimesAggregator}
import graft.operators.TimesAggregator.SinkEvent

/** The reference's ingest control loop re-expressed as a batch pipeline
  * (SURVEY.md §2.9 T1–T8, §3.1): poll a bucket prefix for timestamped
  * folders, gate on the manifest commit marker, consume the OLDEST folder,
  * load its CSV.gz entity files into two sinks with the reference's
  * ordering semantics (bulk ⇒ parallel, delta ⇒ neo4j strictly before
  * elastic — ingestor.js:272–287), delete the folder's objects, and append
  * a metrics row whose durations are the [[TimesAggregator]] roll-up of
  * the sinks' start/end events.
  *
  * The "bucket" is any Hadoop-FS-visible directory (file:// in tests,
  * s3a:// in production — the FileSystem API is identical). Sinks are
  * parquet tables under a warehouse dir, written with overwrite per
  * (sink, ingest) — the idempotency analogue of the reference deleting old
  * k8s jobs before relaunch (S10, ingestor.js:136–146).
  *
  * Scale notes: the data plane is `spark.read.csv` → `write.parquet`,
  * fully distributed; only the tiny control decisions (which folder,
  * manifest present) are driver-side, mirroring the reference where the
  * control loop is a single node but the load runs on the cluster.
  * Each loop lists the bucket ONCE, as a driver-side key list: emptiness,
  * the manifest gate and the entity names are read off that list, and
  * the oldest folder is the loop's one control Spark action. The
  * listing is a recursive `listStatus` walk, not
  * `listFiles(root, true)`: it skips the per-file `LocatedFileStatus`
  * (block locations, and on the local FS a permission load per file).
  * On s3a the walk costs one LIST request per directory instead of one
  * flat paged listing of the prefix — the same trade Spark's own
  * `HadoopFSUtils.listLeafFiles` makes for non-HDFS filesystems, and
  * cheap at control-plane depth (pending/<ts>/<entity>/<file>).
  * Bucket-scale listings go through [[listKeysDistributed]], which
  * walks each first-level shard on an executor.
  */
object IngestPipeline {

  final case class IngestParams(ingestName: String, ingestType: String)

  final case class IngestMetrics(
      ingest: String,
      `type`: String,
      load_date: java.sql.Timestamp,
      readable_date: String,
      neo_job_duration: String,
      elastic_job_duration: String,
      total_job_duration: String)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S1: every object key under `dir` (recursive), relative to
    * `rootUri`, in `listFiles(dir, true)` order (depth first, each
    * directory in its own listing order) but without its per-file cost
    * (see the scale notes above). The one listing routine behind both
    * listing faces. */
  private def keysUnder(filesystem: FileSystem, dir: Path, rootUri: URI): Seq[String] =
    filesystem.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) keysUnder(filesystem, st.getPath, rootUri)
      else Seq(rootUri.relativize(st.getPath.toUri).getPath)
    }

  /** Every key under `bucket` on the driver; empty if it does not exist. */
  private def bucketKeys(spark: SparkSession, bucket: String): Seq[String] = {
    val root = new Path(bucket)
    val filesystem = fs(spark, bucket)
    if (!filesystem.exists(root)) Nil
    else keysUnder(filesystem, root, filesystem.makeQualified(root).toUri)
  }

  /** S1: list every object key under `bucket` (recursive), relative to
    * the bucket root — the Spark face of `s3.listObjectsV2`. */
  def listKeys(spark: SparkSession, bucket: String): DataFrame = {
    import spark.implicits._
    bucketKeys(spark, bucket).toDF("key")
  }

  /** S1 at 100 TB: `listKeys` above mirrors the reference's single-node
    * control plane (an ArrayBuffer of keys on the driver) — correct for
    * control-plane-sized listings, but a bucket with tens of millions of
    * objects belongs on the executors. This face shards the listing the
    * standard way: the driver lists only the FIRST level (the shard
    * prefixes), and each executor walks its shard with the same
    * [[keysUnder]] — the driver never holds more than the shard list,
    * and the full key set is born distributed. Keys are relative to the
    * bucket root and byte-identical to `listKeys` (including zero-length
    * marker files, which file-content sources silently drop). */
  def listKeysDistributed(spark: SparkSession, bucket: String): DataFrame = {
    import spark.implicits._
    val root = new Path(bucket)
    val filesystem = fs(spark, bucket)
    if (!filesystem.exists(root)) return Seq.empty[String].toDF("key")
    val rootUri = filesystem.makeQualified(root).toUri
    val shards = filesystem.listStatus(root).map(_.getPath.toString).toSeq.sorted
    if (shards.isEmpty) return Seq.empty[String].toDF("key")
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.createDataset(shards)
      .repartition(math.min(shards.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        it.flatMap { shard =>
          val p = new Path(shard)
          keysUnder(p.getFileSystem(bcConf.value.value), p, rootUri)
        }
      }
      .toDF("key")
  }

  /** §3.2: the oldest pending ingest, or None while the bucket has no
    * valid timestamped marker folder (the wait states of ingestor.js:82–96). */
  def oldestPending(listing: DataFrame): Option[IngestParams] = {
    val rows = ListingOps.oldestPendingIngest(listing).collect()
    rows.headOption.map(r => IngestParams(r.getString(0), r.getString(1)))
  }

  /** T3: the manifest commit-marker key (ingestor.js:109–118). */
  private def manifestKey(ingestName: String): String =
    s"pending/$ingestName/manifest.json"

  /** T3: the manifest commit-marker gate (ingestor.js:109–118). */
  def manifestPresent(listing: DataFrame, ingestName: String): Boolean =
    !listing.filter(col("key") === manifestKey(ingestName)).isEmpty

  /** The reference's setTimeout-poll-until-success loop, ONCE for all
    * four pollers: counts attempts, logs a NonFatal supplier failure as
    * `[graft] <what>: poll <n> failed: <e>` and polls again
    * (ingestor.js:76–80 — AWS/exec error ⇒ log + retry), throws past
    * `maxPolls` with the last failure, if any, as the cause. */
  private def pollUntil[A](maxPolls: Int, what: String)
                          (attempt: () => Option[A]): (A, Int) = {
    var polls = 0
    var lastError: Throwable = null
    while (polls < maxPolls) {
      polls += 1
      val r = try attempt()
              catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"[graft] $what: poll $polls failed: $e"); lastError = e; None }
      r match {
        case Some(a) => return (a, polls)
        case None => ()
      }
    }
    throw new IllegalStateException(s"$what after $maxPolls polls", lastError)
  }

  /** The reference's `start` loop (ingestor.js:71–103) with an
    * INJECTABLE listing supplier — the mock-sequenced jest contract
    * (s3-client.spec.js:8–14 over __mocks__/s3-client.js:95–101): a
    * poll that errors, lists an empty bucket, has no timestamped
    * folders, or has timestamped folders but no valid marker file
    * keeps polling; the first listing with a valid oldest ingest
    * returns it together with the number of polls spent, so the spec
    * can assert the exact poll count per wait state like the jest
    * mocks do. Driver-paced like the reference's setTimeout loop (the
    * production face is IngestStream's ProcessingTime trigger). */
  def pollForIngest(nextListing: () => DataFrame,
                    maxPolls: Int = 1000): (IngestParams, Int) =
    // oldestPending is None in all three wait states: an empty bucket
    // (ingestor.js:81), no timestamped folders (:85) and timestamped
    // folders with no marker file (:91–95)
    pollUntil(maxPolls, "no valid ingest")(() => oldestPending(nextListing()))

  /** `waitForManifest` (ingestor.js:109–118) with an injectable
    * supplier: polls until `pending/<name>/manifest.json` appears,
    * returning the poll count (the jest mock sequence asserts 4:
    * empty → no ts folders → folder without manifest → manifest,
    * __mocks__/s3-client.js:103–107). */
  def pollForManifest(nextListing: () => DataFrame, ingestName: String,
                      maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "manifest absent") { () =>
      if (manifestPresent(nextListing(), ingestName)) Some(()) else None
    }._2

  /** `checkJobStatus` (ingestor.js:211–224) with an injectable kubectl
    * supplier: polls the job JSON until status.succeeded is truthy —
    * exec error (supplier throws), empty stdout, and a still-running job
    * all poll again (the jest get_job_status sequence asserts 4:
    * error → "" → running → complete, __mocks__/child_process.js:51–54,
    * ingestor.spec.js "should wait for a job to finish"). */
  def pollForJobComplete(spark: SparkSession, nextJobsJson: () => String,
                         maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "job not complete") { () =>
      if (KubeOps.jobCompleteJson(spark, nextJobsJson())) Some(()) else None
    }._2

  /** `checkPodStatus` (ingestor.js:196–209) with an injectable supplier:
    * polls the pod JSON until the build container reports ready — exec
    * error and a not-ready build container poll again (the jest
    * get_pod_status sequence asserts 3: error → build-not-ready →
    * build-ready, __mocks__/child_process.js:45–48, ingestor.spec.js
    * "should wait for a pod to be in a ready state"; note the third
    * fixture is ready for THIS check — its staleness only matters to
    * the rolling-update freshness poller, [[awaitRollingUpdate]]). */
  def pollForPodReady(spark: SparkSession, nextPodJson: () => String,
                      maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "pod not ready") { () =>
      if (KubeOps.podReadyJson(spark, nextPodJson())) Some(()) else None
    }._2

  /** J3: files present vs declared; returns (undeclared, missing) names. */
  def reconcile(spark: SparkSession, listing: DataFrame, bucket: String,
                ingestName: String): (Seq[String], Seq[String]) = {
    val folderFiles = listing
      .filter(col("key").startsWith(s"pending/$ingestName/"))
    val manifest = spark.read
      .schema("FileName STRING, SHA256 STRING")
      .json(s"$bucket/pending/$ingestName/manifest.json")
    val rec = ListingOps.reconcileManifest(folderFiles, manifest).collect()
    (rec.filter(_.getString(1) == "undeclared").map(_.getString(0)).toSeq,
      rec.filter(_.getString(1) == "missing").map(_.getString(0)).toSeq)
  }

  /** F10/J3: verify manifest SHA256 declarations against the actual
    * file bytes (the reference only checks manifest *presence*,
    * ingestor.js:109–118; we implement the full integrity check the
    * manifest design implies, README.md:17–33). Distributed: the
    * binaryFile source hashes on executors. */
  def verifyChecksums(spark: SparkSession, bucket: String,
                      ingestName: String): DataFrame = {
    val manifest = spark.read
      .schema("FileName STRING, SHA256 STRING")
      .json(s"$bucket/pending/$ingestName/manifest.json")
    val actual = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.csv.gz")
      .option("recursiveFileLookup", "true")
      .load(s"$bucket/pending/$ingestName/")
      .select(
        element_at(split(col("path"), "/"), -1).as("FileName"),
        lower(sha2(col("content"), 256)).as("actual_sha256"))
    manifest.join(actual, Seq("FileName"), "left")
      .select(col("FileName"), col("SHA256").as("declared_sha256"),
        col("actual_sha256"),
        (col("actual_sha256").isNotNull &&
          lower(col("SHA256")) === col("actual_sha256")).as("ok"))
  }

  /** Entity names present in the ingest folder: the subdirectories of
    * `pending/<name>/` holding at least one file (a
    * `<entity>_headers.csv.gz` / `<entity>_sample.csv.gz` pair —
    * s3-client.js:20–29), sorted. */
  private def entities(keys: Seq[String], ingestName: String): Seq[String] =
    keys.filter(_.startsWith(s"pending/$ingestName/"))
      .map(_.split("/", -1))
      .collect { case segs if segs.length > 3 => segs(2) }
      .distinct.sorted

  /** S5: entity CSV.gz with sidecar-header schema, served by the
    * DataSource V2 implementation (sources/v2/GraftIngestSource —
    * per-file partitions, column pruning, filter pushdown;
    * IngestSourceSpec pins parity with the plain `spark.read.csv`
    * formulation this used to be). */
  def loadEntity(spark: SparkSession, bucket: String, ingestName: String,
                 entity: String): DataFrame =
    spark.read.format("graft-ingest")
      .option("path", s"$bucket/pending/$ingestName/$entity")
      .option("entity", entity)
      .load()

  /** T6 rolling-update / CI-settle stage (ingestor.js:231–236, 259): after
    * a sink's load completes, the reference sleeps ONE polling interval
    * ("wait for drone to trigger a rolling update"), then polls each of
    * the sink's pods until the `build` container is ready AND its
    * `running.startedAt` is after the sink's job start
    * (checkRollingStatus, ingestor.js:180–193) — only then is the sink's
    * end time recorded. `podJsons` returns the CURRENT kubectl pod
    * documents for the sink (a scripted stale→fresh sequence in tests,
    * `kubectl get pods -o json` in production); an empty list means the
    * sink has no pods to roll (stage skipped). `maxPolls` bounds the spin
    * so a never-fresh pod surfaces as an error (T7), where the reference
    * would poll forever. */
  private[graft] def awaitRollingUpdate(
      spark: SparkSession, podJsons: () => Seq[String], jobStartSec: Long,
      settle: () => Unit, maxPolls: Int): Unit = {
    import spark.implicits._
    settle() // the fixed one-interval sleep before the first check
    var polls = 0
    var fresh = false
    while (!fresh) {
      val docs = podJsons()
      if (docs.isEmpty) return
      val stale = KubeOps.parsePods(docs.toDF("json"))
        .filter(!(col("ready") &&
          KubeOps.podFresh(col("startedAt"),
            timestamp_seconds(lit(jobStartSec)))))
      fresh = stale.isEmpty
      if (!fresh) {
        polls += 1
        if (polls >= maxPolls)
          throw new IllegalStateException(
            s"rolling update did not settle after $maxPolls polls")
        settle()
      }
    }
  }

  /** The T6 stage's poll bound per sink: a pod that never rolls fails
    * the loop (T7) instead of spinning forever. */
  private val RollingUpdateMaxPolls = 10000

  /** One sink's load (runJob's waterfall, ingestor.js:224–246): record
    * its start, feed every entity through the bound [[LoadSink]] (S9+S10
    * idempotency is the sink's contract — the parquet binding overwrites
    * `warehouse/<sink>/<entity>`), wait out the T6 rolling update, record
    * its end. Returns the sink's two events; each is also passed to
    * `onSinkEvent` as it happens. */
  private def loadSink(spark: SparkSession, bucket: String, ingestName: String,
                       entityNames: Seq[String], sinks: Sinks, clock: () => Long,
                       onSinkEvent: (String, String) => Unit,
                       podsFor: String => Seq[String], settle: () => Unit)
                      (name: String): Seq[SinkEvent] = {
    def record(phase: String): SinkEvent = {
      val e = SinkEvent(name, phase, clock())
      onSinkEvent(name, phase)
      e
    }
    val start = record("start")
    val sink = sinks.load(name)
    entityNames.foreach(e => sink.writeEntity(e, loadEntity(spark, bucket, ingestName, e)))
    awaitRollingUpdate(spark, () => podsFor(name), start.epochSec, settle,
      RollingUpdateMaxPolls)
    Seq(start, record("end"))
  }

  /** T5: THE core scheduling semantic — bulk runs both sinks' `load` in
    * parallel (async.parallel, ingestor.js:272–281); delta runs neo4j
    * strictly before elastic (async.eachSeries, ingestor.js:283–287). A
    * bulk loop waits for BOTH sinks before it returns or throws: the
    * first failure is rethrown with the other suppressed in it, so no
    * sink is still writing once the loop has failed. */
  private def runSinks(ingestType: String)
                      (load: String => Seq[SinkEvent]): Seq[SinkEvent] = {
    val names = Seq("neo4j", "elastic")
    if (ingestType == "bulk") {
      val pool = Executors.newFixedThreadPool(names.size)
      try {
        val outcomes = names.map(n => pool.submit[Seq[SinkEvent]](() => load(n))).map { f =>
          try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
        }
        val failures = outcomes.collect { case Left(e) => e }
        failures.headOption.foreach { first =>
          failures.tail.foreach(first.addSuppressed)
          throw first
        }
        outcomes.collect { case Right(events) => events }.flatten
      } finally pool.shutdown()
    } else names.flatMap(load)        // incremental/delta: strictly serial
  }

  /** T4: exactly-once consumption — delete the ingest folder's objects
    * after a successful load + metrics write (ingestor.js:312–320). The
    * type marker goes first, then the manifest, then the data: without
    * its marker the loop never picks the folder again, so a death
    * mid-delete leaves an unmarked remainder, never a marked folder with
    * a partial entity set that the next loop would load into both sinks.
    * (A marker without its manifest is a folder still arriving, which
    * the loop would wait on forever, hence marker before manifest.) */
  def cleanup(spark: SparkSession, bucket: String, ingestName: String): Unit = {
    val filesystem = fs(spark, bucket)
    val folder = new Path(s"$bucket/pending/$ingestName")
    (ListingOps.markerFiles :+ "manifest.json")
      .foreach(f => filesystem.delete(new Path(folder, f), false))
    filesystem.delete(folder, true)
  }

  /** The full batch cycle: returns the metrics row if an ingest ran, None
    * if the pipeline is in a wait state (empty bucket / no marker folder /
    * manifest not yet arrived). Any stage error propagates — the Spark
    * analogue of enterErrorState is a failed job, not a silent spin (T7). */
  def processPendingOnce(spark: SparkSession, bucket: String, warehouse: String,
                         clock: () => Long = () => System.currentTimeMillis / 1000,
                         onSinkEvent: (String, String) => Unit = (_, _) => (),
                         podsFor: String => Seq[String] = _ => Nil,
                         settle: () => Unit = () => (),
                         sinks: Option[Sinks] = None)
      : Option[IngestMetrics] = {
    import spark.implicits._
    val bound = sinks.getOrElse(Sinks.parquet(spark, warehouse))
    // one driver-side listing per loop; the one control-plane Spark
    // action is the oracle-checked oldestPendingIngest
    val keys = bucketKeys(spark, bucket)
    if (keys.isEmpty) return None
    val listing = keys.toDF("key")
    // oldestPendingIngest keeps only timestamp folders, so None also
    // covers the no-timestamp-folder wait state
    val params = oldestPending(listing) match {
      case None => return None
      case Some(p) => p
    }
    if (!keys.contains(manifestKey(params.ingestName))) return None

    val events = runSinks(params.ingestType)(
      loadSink(spark, bucket, params.ingestName, entities(keys, params.ingestName),
        bound, clock, onSinkEvent, podsFor, settle))
    val times = TimesAggregator.rollUp(events)
    val loadDate = new java.sql.Timestamp(clock() * 1000L)
    val metrics = IngestMetrics(
      ingest = params.ingestName,
      `type` = params.ingestType,
      load_date = loadDate,
      readable_date = {
        val df = spark.createDataset(Seq(loadDate)).toDF("ts")
          .select(TimeOps.readableDate(col("ts"))).collect()
        df.head.getString(0)
      },
      neo_job_duration = times.neo_job_duration,
      elastic_job_duration = times.elastic_job_duration,
      total_job_duration = times.total_job_duration)

    // S8: metrics sink (mongo in the reference — mongodb.js:30–38;
    // the bound MetricsSink, parquet by default)
    bound.metrics.append(metrics)

    // commit: delete the consumed folder once both sinks ended (T4, the
    // T8 barrier)
    if (times.complete) cleanup(spark, bucket, params.ingestName)
    Some(metrics)
  }
}
