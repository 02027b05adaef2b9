package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Control-plane listing operators — the heart of the reference's query
  * semantics over S3 object listings (SURVEY.md §2.2 P1–P5, P12; §2.4
  * A1–A2; §2.6 O1–O2; §2.7 U2; §3.2).
  *
  * Reference: /root/reference/src/helpers.js:14–63. The listing is a
  * DataFrame with a single `key: string` column whose value encodes a
  * 3-level hierarchy `pending/<unix-ts>/<entity>/<file>`.
  *
  * Scale: all ops are narrow (project/filter) except the argmin, which
  * Catalyst plans as TakeOrderedAndProject (top-1, no global sort) — at a
  * 100 TB listing this is a single reduce of per-partition minima.
  */
object ListingOps {

  /** P1 `isTimestamp` (helpers.js:14): value parses as a unix timestamp
    * (number or numeric string). `moment.unix` accepts any finite number;
    * we require a castable non-negative long, which matches every fixture
    * the reference tests (helpers.spec.js:113–120). */
  def isTimestamp(c: Column): Column =
    c.try_cast("long").isNotNull && c.try_cast("long") >= 0

  /** The type marker files of an ingest folder (helpers.js:22–39). */
  val markerFiles: Seq[String] = Seq("bulk.txt", "incremental.txt")

  /** Key → path-segment array. */
  def segments(key: Column): Column = split(key, "/")

  /** P2 `hasTimestampFolders` (helpers.js:16–20): any key whose 2nd path
    * segment is a timestamp. Aggregates to one boolean row. */
  def hasTimestampFolders(listing: DataFrame): DataFrame =
    listing
      .select(get(segments(col("key")), lit(1)).as("folder"))
      .agg(coalesce(max(when(isTimestamp(col("folder")), true).otherwise(false)), lit(false))
        .as("has_ts_folders"))

  /** §3.2 `getIngestJobParams` (helpers.js:22–39): project each key to
    * (ingestName, markerFile), keep marker rows, take the argmin by folder
    * name, strip `.txt`.
    *
    * Deviation (documented, SURVEY §7.4): the reference string-sorts the
    * folder names (helpers.js:25) which happens to be correct for
    * equal-length unix timestamps; we sort numerically.
    */
  def oldestPendingIngest(listing: DataFrame): DataFrame =
    listing
      .select(
        get(segments(col("key")), lit(1)).as("ingestName"),
        get(segments(col("key")), lit(2)).as("file"))
      .filter(col("file").isin(markerFiles: _*))
      // a junk (non-numeric) folder carrying a marker file must not win
      // the argmin: its cast is null, and Spark sorts nulls FIRST under
      // plain asc — filter to timestamp folders and keep nulls last as
      // belt-and-braces
      .filter(isTimestamp(col("ingestName")))
      .orderBy(col("ingestName").try_cast("long").asc_nulls_last)
      .limit(1)
      .select(
        col("ingestName"),
        regexp_replace(col("file"), "\\.txt$", "").as("ingestType"))

  /** P12 + U2 `getIngestFiles` (helpers.js:58–63): rows whose key contains
    * `ingestName` as a path segment, with the manifest key and the bare
    * folder key prepended. Bag semantics — the manifest key may appear
    * twice (helpers.spec.js:268–277 pins 5 rows for 1538055240). */
  def ingestFiles(listing: DataFrame, ingestName: String): DataFrame = {
    val spark = listing.sparkSession
    import spark.implicits._
    val prepended = Seq(
      s"pending/$ingestName/manifest.json",
      s"pending/$ingestName").toDF("key")
    prepended.union(
      listing
        .filter(array_contains(segments(col("key")), ingestName))
        .select("key"))
  }

  /** S2/J2 manifest-existence probe (ingestor.js:109–118): left-semi of
    * candidate folders against keys that are exactly
    * `pending/<folder>/manifest.json`. */
  def foldersWithManifest(folders: DataFrame, listing: DataFrame): DataFrame = {
    val manifests = listing
      .select(segments(col("key")).as("p"))
      .filter(size(col("p")) === 3 && col("p").getItem(2) === "manifest.json")
      .select(col("p").getItem(1).as("folder"))
    folders.join(manifests, Seq("folder"), "left_semi")
  }

  /** J3 manifest⇄files reconciliation (README.md:17–33): files present in
    * the folder listing but not declared in the manifest (left_anti), plus
    * declared-but-missing the other way. `which` ∈ {undeclared, missing}. */
  def reconcileManifest(folderFiles: DataFrame, manifest: DataFrame): DataFrame = {
    val files = folderFiles.select(
      element_at(segments(col("key")), -1).as("FileName"))
      .filter(!col("FileName").isin(("manifest.json" +: markerFiles): _*))
    val undeclared = files.join(manifest, Seq("FileName"), "left_anti")
      .select(col("FileName"), lit("undeclared").as("which"))
    val missing = manifest.select("FileName").join(files, Seq("FileName"), "left_anti")
      .select(col("FileName"), lit("missing").as("which"))
    undeclared.unionByName(missing)
  }
}
