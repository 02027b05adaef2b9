package graft.streaming

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Shared commit-protocol primitives for the maintained-view streams
  * (CusumStream, IncrementalAgg) — the r13 advice fixes, in one place:
  *
  *   1. **Atomic `_meta` commit.** `fs.create(_meta, overwrite=true)`
  *      truncates in place, so a crash mid-write leaves a torn/empty
  *      manifest and the view is unreadable — the one failure the
  *      "one file create is the commit point" design claimed to
  *      exclude. [[commitMeta]] writes the body to `_meta.tmp` and
  *      `FileContext.rename(..., Options.Rename.OVERWRITE)`s it over
  *      `_meta`: rename is atomic on HDFS and POSIX local filesystems,
  *      so readers observe either the previous manifest or the new
  *      one, never a prefix.
  *   2. **Malformed manifests are a hard, diagnosable error.** A torn
  *      `_meta` (pre-fix artifacts, or a non-atomic store) used to
  *      surface as `ArrayIndexOutOfBounds`/`NumberFormatException`
  *      deep in the parser; [[readMetaLines]] + [[metaParseError]]
  *      turn it into an `IllegalStateException` naming the file and
  *      the recovery path (the committed `data_b<id>` dirs survive —
  *      restore `_meta` by hand from the newest complete version).
  *   3. **Ownership by token, not checkpoint path.** The replay guard
  *      compared checkpoint PATH strings, so deleting and recreating a
  *      checkpoint at the same path restarted batch ids at 0 while the
  *      owner still "matched" — silently skipping the first batches,
  *      exactly the failure the guard exists to prevent.
  *      [[ownerToken]] mints a UUID file inside the checkpoint
  *      directory at creation: a recreated checkpoint gets a FRESH
  *      token and the view rejects it loudly.
  */
object ViewCommit {

  /** Resolve the filesystem FROM THE PATH'S SCHEME (not the default
    * FS): view/checkpoint dirs may live on file:// while the default
    * is hdfs:// or s3a://. */
  def fsFor(p: Path, spark: SparkSession): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def metaPath(viewDir: String): Path = new Path(viewDir, "_meta")

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
    * not "no commit" — it fails hard via [[metaParseError]]. */
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
  def metaParseError(viewDir: String, detail: String): IllegalStateException =
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

  /** Replay-guard owner check shared by the maintained views, with a
    * one-time LEGACY migration path (r14 ADVICE): views committed
    * before the UUID-token scheme stored the CHECKPOINT PATH as their
    * owner, so a bare token equality would lock every pre-upgrade view
    * out of its own legitimate query. A stored owner equal to this
    * query's checkpoint path (`legacyOwner`) is therefore accepted —
    * the caller must then call [[migrateOwner]] IMMEDIATELY (returns
    * true) so the window closes on first contact. Any other mismatch
    * is the loud impostor error, whose message also names the manual
    * recovery (edit `_meta` line 2) for hand-migration cases.
    * @return true iff accepted via the legacy path (migration due) */
  def requireOwner(viewDir: String, stored: String, owner: String,
                   legacyOwner: Option[String]): Boolean = {
    require(stored == owner || legacyOwner.contains(stored),
      s"view $viewDir is owned by the query whose owner token is '$stored'; " +
        s"this query's token is '$owner' (minted into its checkpoint " +
        "directory at creation), so its batch ids restart at 0 and its " +
        "batches would be silently skipped by the replay guard — resume " +
        "from the owning checkpoint or start a fresh viewDir. If this " +
        "view is legitimately this query's (committed under a pre-token " +
        "version), migrate by hand: set _meta line 2 to the token above.")
    stored != owner
  }

  /** One-time legacy migration: rewrite the manifest's OWNER line to
    * the minted token the moment a legacy (path-owned) manifest is
    * accepted — NOT at the next data commit, which a pure replay
    * (batchId ≤ lastApplied) never reaches. Without the immediate
    * rewrite the path-owner acceptance window stays open indefinitely,
    * re-exposing the recreated-checkpoint silent-skip hole the token
    * scheme exists to close; after this commit the path no longer
    * matches and only the token does. Atomic like every commit. */
  def migrateOwner(spark: SparkSession, viewDir: String, newOwner: String): Unit = {
    val fs = fsFor(new Path(viewDir), spark)
    readMetaLines(fs, viewDir).foreach { lines =>
      // loud by design (r15 ADVICE): the legacy path-owner acceptance is
      // the one unauthenticated first contact in the scheme — a
      // recreated checkpoint at the same path could claim a pre-token
      // view here — so every migration leaves an auditable trace of the
      // view dir, the path-owner it replaced, and the minted token
      System.err.println(s"[graft] WARN view $viewDir: migrating legacy " +
        s"path-owner '${lines.lift(1).getOrElse("")}' to owner token '$newOwner'")
      val body = (lines.take(1) ++ Seq(newOwner) ++ lines.drop(2)).mkString("\n")
      commitMeta(spark, viewDir, body)
    }
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
}
