package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one commit protocol of the streaming writes: the maintained views
  * (CusumStream, SessionStream, IncrementalAgg) and the CDC upsert table
  * (`EventStream.upsertStream`). A view only becomes visible through
  * its manifest, as the reference's loop only loads a folder once its
  * `manifest.json` marker exists (ingestor.js:109–118); each view adds
  * only its delta, its merge and its served faces. This is the only code
  * under `streaming/` that renames anything (a `tools/cadence.sh` lint).
  *
  * **Manifest format.** `<viewDir>/_meta`, UTF-8 lines:
  *   - line 1: the last applied micro-batch id;
  *   - line 2: the owner token of the query that owns the view;
  *   - lines 3+: entries — the live segment dir names (`seg_b<id>`,
  *     `seg_c<id>`) of a segmented view (CusumStream, SessionStream),
  *     or `bucket:version` lines of the bucket-versioned IncrementalAgg.
  * A pre-segment manifest has no entries; its single merged
  * `data_b<id>` dir, if present, counts as its one segment.
  *
  * **Commit steps** of one micro-batch ([[appendSegment]] for the
  * segmented views; IncrementalAgg runs the same steps on its bucket
  * version dirs, the upsert table on its one `seg_b<version>`):
  *   1. [[guard]]: read the manifest and check the owner. A batch id at
  *      or below line 1 is a replay (a foreachBatch redelivery) and is
  *      a no-op. The upsert table skips this step: its batches carry no
  *      stable id, and a replayed batch rewrites the same table.
  *   2. Write the batch's data into a fresh dir the manifest does not
  *      list yet (`seg_b<id>`; past `compactAfter` live segments also
  *      the folded `seg_c<id>`). A crash here leaves an unlisted dir:
  *      invisible to readers, overwritten by the retried batch, which
  *      re-merges from the previous committed version.
  *   3. Commit: write the new manifest to `_meta.tmp` and rename it
  *      over `_meta` ([[commitMeta]]). Rename is atomic on HDFS and
  *      POSIX filesystems, so readers see the previous manifest or the
  *      new one, never a torn prefix (`fs.create(_meta, overwrite)`
  *      would truncate in place).
  *   4. Sweep ([[sweep]]): delete the data dirs the new manifest does
  *      not list. A crash or failure here leaves garbage, not
  *      corruption; the next commit's sweep collects it.
  *
  * **Malformed manifests** (a torn write from a store without atomic
  * rename, or hand edits) raise an `IllegalStateException` naming the
  * file and the recovery path, never a bare index or number-format
  * crash.
  *
  * **Ownership by token, not checkpoint path.** Batch ids are monotone
  * only for one checkpointed query, so [[maintain]] requires a
  * checkpoint and mints a UUID owner token into it ([[ownerToken]]).
  * Deleting and recreating the checkpoint at the same path restarts
  * batch ids at 0 but mints a fresh token, so [[guard]] rejects the
  * impostor loudly instead of silently skipping its first batches as
  * replays. Views committed before tokens stored the checkpoint PATH
  * as owner; [[guard]] accepts that path once and migrates line 2 to
  * the token at once.
  */
object ViewCommit {

  /** Resolve the filesystem FROM THE PATH'S SCHEME (not the default
    * FS): view/checkpoint dirs may live on file:// while the default
    * is hdfs:// or s3a://. */
  def fsFor(p: Path, spark: SparkSession): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def metaPath(viewDir: String): Path = new Path(viewDir, "_meta")

  /** A view manifest (format above). */
  final case class Manifest(batchId: Long, owner: String, entries: Seq[String]) {
    /** Install this manifest as the view's commit point. */
    def commit(spark: SparkSession, viewDir: String): Unit =
      commitMeta(spark, viewDir, (Seq(batchId.toString, owner) ++ entries).mkString("\n"))
  }

  object Manifest {
    /** The committed manifest, or None if the view never committed. */
    def read(spark: SparkSession, viewDir: String): Option[Manifest] =
      readMetaLines(fsFor(new Path(viewDir), spark), viewDir).map { lines =>
        parsed(viewDir, lines)(ls =>
          Manifest(ls(0).trim.toLong, ls(1).trim,
            ls.drop(2).map(_.trim).filter(_.nonEmpty)))
      }
  }

  /** Commit a manifest body atomically: tmp write + rename-overwrite.
    * The rename is the commit point. */
  def commitMeta(spark: SparkSession, viewDir: String, body: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mp = metaPath(viewDir)
    val fs = mp.getFileSystem(conf)
    val tmp = new Path(viewDir, "_meta.tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    val fc = FileContext.getFileContext(fs.getUri, conf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(mp),
      Options.Rename.OVERWRITE)
  }

  /** The manifest's lines, or None if the view has never committed.
    * An EMPTY manifest file is malformed (a torn non-atomic write),
    * not "no commit" — it fails hard. */
  def readMetaLines(fs: FileSystem, viewDir: String): Option[Seq[String]] = {
    val mp = metaPath(viewDir)
    if (!fs.exists(mp)) None
    else {
      val in = fs.open(mp)
      val text =
        try new String(in.readAllBytes(), "UTF-8")
        finally in.close()
      if (text.trim.isEmpty) throw metaParseError(viewDir, "file is empty")
      Some(text.split("\n").toSeq)
    }
  }

  /** The hard error a malformed manifest raises — names the file, the
    * symptom, and the recovery path. */
  private def metaParseError(viewDir: String, detail: String): IllegalStateException =
    new IllegalStateException(
      s"malformed view manifest ${metaPath(viewDir)}: $detail. The manifest " +
        "commit is an atomic rename, so this indicates a torn write from a " +
        "pre-atomic version or a store without atomic rename. The committed " +
        "data_b<id>/seg_* directories are intact — recover by rewriting " +
        "_meta to point at the newest COMPLETE version (line 1 = batch id, " +
        "line 2 = owner token, then bucket:version lines for partitioned " +
        "views or segment-dir lines for the segment-committed views).")

  /** Parse wrapper: any exception inside `parse` becomes the
    * diagnosable manifest error instead of a bare index/format crash. */
  def parsed[T](viewDir: String, lines: Seq[String])(parse: Seq[String] => T): T =
    try parse(lines)
    catch {
      case e: IllegalStateException => throw e
      case scala.util.control.NonFatal(e) =>
        throw metaParseError(viewDir, s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  /** A bucket-versioned view's entries as bucket → version (lines
    * without `:` are ignored; a malformed one is the diagnosable
    * error). */
  def bucketVersions(viewDir: String, m: Manifest): Map[Long, Long] =
    parsed(viewDir, m.entries)(_.filter(_.contains(":")).map { l =>
      val Array(b, v) = l.split(":", 2); b.trim.toLong -> v.trim.toLong
    }.toMap)

  /** The manifest of a bucket-versioned view at `versions`. */
  def bucketManifest(batchId: Long, owner: String, versions: Map[Long, Long]): Manifest =
    Manifest(batchId, owner, versions.toSeq.sorted.map { case (b, v) => s"$b:$v" })

  /** Step 1, the replay guard: the committed manifest, if any, after
    * checking that `owner` owns it. A stored owner equal to
    * `legacyOwner` (this query's checkpoint path, for views committed
    * before owner tokens) is accepted and rewritten to `owner` right
    * away — not at the next data commit, which a pure replay never
    * reaches, so the path-acceptance window closes on first contact.
    * Every migration is logged: it is the one unauthenticated first
    * contact in the scheme. Any other owner fails loudly. */
  def guard(spark: SparkSession, viewDir: String, owner: String,
            legacyOwner: Option[String]): Option[Manifest] =
    Manifest.read(spark, viewDir).map { m =>
      require(m.owner == owner || legacyOwner.contains(m.owner),
        s"view $viewDir is owned by the query whose owner token is '${m.owner}'; " +
          s"this query's token is '$owner' (minted into its checkpoint " +
          "directory at creation), so its batch ids restart at 0 and its " +
          "batches would be silently skipped by the replay guard — resume " +
          "from the owning checkpoint or start a fresh viewDir. If this " +
          "view is legitimately this query's (committed under a pre-token " +
          "version), migrate by hand: set _meta line 2 to the token above.")
      if (m.owner == owner) m
      else {
        System.err.println(s"[graft] WARN view $viewDir: migrating legacy " +
          s"path-owner '${m.owner}' to owner token '$owner'")
        val migrated = m.copy(owner = owner)
        migrated.commit(spark, viewDir)
        migrated
      }
    }

  /** The live segment dir names of a committed manifest: its entries,
    * or a pre-segment manifest's `data_b<id>` dir if it exists. */
  private def segmentNames(fs: FileSystem, viewDir: String, m: Manifest): Seq[String] =
    if (m.entries.nonEmpty) m.entries
    else if (m.batchId >= 0 && fs.exists(new Path(viewDir, s"data_b${m.batchId}")))
      Seq(s"data_b${m.batchId}")
    else Nil

  /** A segmented view's committed batch id and live segment paths, or
    * None if it never committed. */
  def segments(spark: SparkSession, viewDir: String): Option[(Long, Seq[String])] =
    Manifest.read(spark, viewDir).map { m =>
      m.batchId -> segmentNames(fsFor(new Path(viewDir), spark), viewDir, m)
        .map(s => new Path(viewDir, s).toString)
    }

  /** Steps 2–4 for a segmented view: write `delta` as `seg_b<batchId>`
    * on top of `prev` (the manifest [[guard]] returned), commit, sweep.
    * Past `compactAfter` live segments the commit first folds them all
    * into one `seg_c<batchId>` through `compact` (the view's merge),
    * so readers never union an unbounded set. An empty delta commits
    * nothing (a trigger the watermark closed nothing in; safe, since a
    * replayed empty batch is a no-op either way). The delta is
    * materialized once for the emptiness probe and the write, and its
    * blocks are released after.
    * @return true iff a new version was committed */
  def appendSegment(spark: SparkSession, viewDir: String, prev: Option[Manifest],
                    batchId: Long, owner: String, delta: DataFrame,
                    compactAfter: Int)(compact: DataFrame => DataFrame): Boolean = {
    val d = delta.localCheckpoint()
    try !d.isEmpty && {
      val vp = new Path(viewDir)
      val fs = fsFor(vp, spark)
      def path(s: String) = new Path(vp, s).toString
      val segName = s"seg_b$batchId"
      d.write.mode("overwrite").parquet(path(segName))
      val appended = prev.fold(Seq.empty[String])(segmentNames(fs, viewDir, _)) :+ segName
      val live =
        if (appended.size <= compactAfter) appended
        else {
          val cName = s"seg_c$batchId"
          compact(spark.read.parquet(appended.map(path): _*))
            .write.mode("overwrite").parquet(path(cName))
          Seq(cName)
        }
      Manifest(batchId, owner, live).commit(spark, viewDir)
      sweep(fs, vp)(n =>
        !(n.startsWith("seg_") || n.startsWith("data_b")) || live.contains(n))
      true
    } finally org.apache.spark.sql.graftbridge.ColumnBridge.unpersistCheckpointed(d)
  }

  /** Best-effort GC after a commit: delete every entry of `dir` whose
    * name fails `keep`. A failure leaves garbage, not corruption (the
    * next commit's sweep collects it), so it is logged once and the
    * sweep returns false instead of throwing. */
  def sweep(fs: FileSystem, dir: Path)(keep: String => Boolean): Boolean =
    try {
      fs.listStatus(dir).foreach { st =>
        if (!keep(st.getPath.getName)) fs.delete(st.getPath, true)
      }
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] sweep of $dir failed: $e")
        false
    }

  /** The view-owner identity for a checkpointed query: a UUID minted
    * ONCE into `<checkpointDir>/_graft_owner` when the checkpoint is
    * first used. Deleting + recreating the checkpoint (batch ids
    * restart at 0) mints a fresh token, so the view's replay guard
    * rejects the impostor instead of silently skipping its batches.
    * Creation is create-if-absent (no overwrite) so a concurrent
    * first-use races to one winner; both readers then agree. */
  def ownerToken(spark: SparkSession, checkpointDir: String): String = {
    val p = new Path(checkpointDir, "_graft_owner")
    val fs = fsFor(p, spark)
    def read(): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }
    if (fs.exists(p)) read()
    else {
      fs.mkdirs(new Path(checkpointDir))
      val token = java.util.UUID.randomUUID().toString
      try {
        val out = fs.create(p, false)
        try out.write(token.getBytes("UTF-8")) finally out.close()
        token
      } catch {
        // lost the create race — the winner's token is the owner
        case _: java.io.IOException => read()
      }
    }
  }

  /** Maintain a view from the streaming `df`: mint the owner token into
    * the REQUIRED checkpoint (it keeps batch ids monotone for the
    * view's lifetime and names the view's owner) and hand each
    * micro-batch, its id and the token to `apply`. */
  def maintain(df: DataFrame, checkpointDir: String, trigger: Trigger)
              (apply: (DataFrame, Long, String) => Unit): StreamingQuery = {
    val owner = ownerToken(df.sparkSession, checkpointDir)
    df.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        apply(batch.toDF(), batchId, owner)
      }
      .trigger(trigger)
      .start()
  }
}
