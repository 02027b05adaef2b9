package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TextOps

/** Streaming DSIR admission — the SERVING face of the hashed-n-gram
  * importance selection ([[TextOps.dsirScores]]): the 256-bucket ratio
  * table and the selection threshold are trained in batch, persisted
  * as a tiny parquet artifact, and applied to a document stream as a
  * pure stateless projection (the ScoreStream production split).
  *
  * Statelessness is the point: a document's score is the integer mean
  * of its tokens' bucket ratios, and the whole token fold runs INSIDE
  * one row via `aggregate(...)` over the token array — no explode, no
  * groupBy, no state store, so micro-batch cost is one codegen'd map.
  * The ratio table rides the plan as a 256-slot literal array indexed
  * by the md5-prefix bucket; because the batch face's per-doc sum is
  * an order-free exact-integer sum of the same per-token ratios, a
  * served score is bit-identical to the batch score for the same
  * document (DsirStreamSpec pins it).
  *
  * The artifact carries the DENSE 256-bucket grid: buckets the training
  * corpus never observed serve the add-1-smoothed default ratio, so an
  * out-of-vocabulary token degrades gracefully instead of crashing a
  * lookup (the batch face can never see an unobserved bucket — serving
  * can). */
object DsirStream {

  /** Train on `dir` and persist (bucket_idx, ratio_micro) ×256 plus a
    * 1-row threshold table under `artifactDir`. Fails fast on a
    * degenerate corpus: percentile_cont over zero tokenized documents
    * is NULL, and serving a null threshold as 0.0 would silently admit
    * every document while the batch face selects none. */
  def writeModel(spark: SparkSession, dir: String, artifactDir: String): Unit = {
    TextOps.dsirRatioGrid(spark, dir)
      .write.mode("overwrite").parquet(s"$artifactDir/ratios")
    val thrDf = TextOps.dsirThreshold(spark, dir)
    val row = thrDf.collect().head
    require(!row.isNullAt(row.fieldIndex("thr")),
      s"DSIR threshold is NULL — training corpus at $dir has no tokenized documents")
    thrDf.sparkSession.createDataFrame(
      java.util.List.of(row), thrDf.schema)
      .write.mode("overwrite").parquet(s"$artifactDir/threshold")
  }

  /** Score a (streaming or batch) frame carrying `doc_id` + `text`
    * against the persisted model: (doc_id, n_tokens, score_micro,
    * selected). */
  def scoreStream(docs: DataFrame, artifactDir: String): DataFrame = {
    val spark = docs.sparkSession
    val grid = spark.read.parquet(s"$artifactDir/ratios").collect()
      .map(r => r.getAs[Long]("bucket_idx") -> r.getAs[Long]("ratio_micro"))
      .toMap
    require(grid.size == TextOps.dsirBuckets,
      s"ratio artifact must carry the dense grid, got ${grid.size}")
    val ratioArr = array((0 until TextOps.dsirBuckets).map(i =>
      lit(grid(i.toLong))): _*)
    val thrRow = spark.read.parquet(s"$artifactDir/threshold").collect().head
    // a NULL here would unbox to 0.0 and admit EVERYTHING — refuse to
    // serve a degenerate model (the batch face selects nothing for it)
    require(!thrRow.isNullAt(thrRow.fieldIndex("thr")),
      s"threshold artifact at $artifactDir carries NULL — retrain on a non-empty corpus")
    val thr = thrRow.getAs[Double]("thr")
    val toks = filter(TextOps.tokens(col("text")), t => length(t) > 0)
    // bucket index = first 2 hex chars of md5(token), as an int lookup
    // into the literal grid (conv is codegen'd; +1 for 1-based arrays)
    def ratioOf(t: org.apache.spark.sql.Column) =
      element_at(ratioArr,
        conv(substring(md5(t), 1, 2), 16, 10).cast("int") + 1)
    docs
      .withColumn("__toks", toks)
      // total on NULL text (size/aggregate of a null array are null):
      // a null-text doc serves as (0 tokens, score 0, not selected) —
      // exactly the batch face's coalesce semantics
      .withColumn("n_tokens",
        coalesce(size(col("__toks")), lit(0)).cast("long"))
      .withColumn("w_sum", aggregate(col("__toks"), lit(0L),
        (acc, t) => acc + ratioOf(t)))
      .select(col("doc_id"), col("n_tokens"),
        when(col("n_tokens") > 0, expr("w_sum DIV n_tokens"))
          .otherwise(lit(0L)).as("score_micro"))
      .withColumn("selected", coalesce(
        col("n_tokens") > 0 && col("score_micro").cast("double") >= lit(thr),
        lit(false)))
  }

  /** `text_dsir_served`: the admission serving path as a registered
    * oracle face — train-and-persist the 256-bucket grid + threshold
    * once per session, then score the corpus THROUGH the artifact (the
    * dense literal-array fold). The served per-doc score is the same
    * exact-integer mean the batch face computes, so the batch oracle
    * (projected to the served columns) hash-checks the artifact
    * round-trip inside the driver gate. */
  def servedScores(spark: SparkSession, dir: String): DataFrame = {
    val art = graft.SessionCache.tempDir(spark, "dsirmodel", dir)(
      d => writeModel(spark, dir, d))
    scoreStream(graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")), art)
      .orderBy(col("doc_id"))
  }
}
