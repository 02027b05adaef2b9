package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.TextOps

/** Streaming quality scoring — the SERVING face of the trained filter
  * (`graft.ext.TextOps.lrTrain`): weights are trained in batch, written
  * once as a 4-row parquet artifact, and applied to a document stream
  * as a pure stateless projection.
  *
  * This is the production split for a learned corpus filter: training
  * touches the historical corpus (batch, expensive, occasional);
  * admission scoring runs on the ingest stream (narrow, per-row,
  * continuous). Because the scorer reuses the training chain's exact
  * feature + hard-sigmoid expressions ([[TextOps.lrFeatureProjection]]
  * / [[TextOps.lrProb]]), a served score is bit-identical to the batch
  * face's score for the same row — pinned by ScoreStreamSpec.
  *
  * Scale: the model is O(features) and rides the plan as literals (no
  * join, no broadcast, no state store); the stream stays append-mode
  * with zero watermark/state requirements, so micro-batch cost is one
  * codegen'd map over the batch.
  */
object ScoreStream {

  /** Train on `dir` (memoized — shares the session's training run) and
    * persist the weights artifact. */
  def writeModel(spark: SparkSession, dir: String,
                 artifactDir: String): Unit =
    TextOps.qualityLrWeights(spark, dir)
      .write.mode("overwrite").parquet(artifactDir)

  /** Load the artifact into micro-unit literals (bias, stopword_ratio,
    * ttr, len_norm order — the [[TextOps.lrProb]] contract). */
  private def loadWeights(spark: SparkSession,
                          artifactDir: String): Array[Long] = {
    val byName = spark.read.parquet(artifactDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Array(byName("bias"), byName("stopword_ratio"), byName("ttr"),
      byName("len_norm"))
  }

  /** Score a (streaming or batch) frame carrying `doc_id` + `text`
    * against the persisted model: (doc_id, score, pred). */
  def scoreStream(docs: DataFrame, artifactDir: String): DataFrame = {
    val w = loadWeights(docs.sparkSession, artifactDir)
    val p = TextOps.lrProb(w)
    TextOps.lrFeatureProjection(docs)
      .select(col("doc_id"), round(p, 6).as("score"),
        (p >= lit(0.5)).as("pred"))
  }

  /** `text_lr_served`: the serving path as a registered oracle face —
    * train-and-persist once per session, then score the corpus THROUGH
    * the artifact (weights re-loaded from parquet and re-planted as
    * plan literals). Identical training and identical score expression
    * ⇒ row-identical to the batch `text_quality_lr` scores, so the
    * batch oracle (projected to the served columns) hash-checks the
    * artifact round-trip inside the driver gate. */
  def servedScores(spark: SparkSession, dir: String): DataFrame = {
    val art = graft.SessionCache.tempDir(spark, "lrmodel", dir)(
      d => writeModel(spark, dir, d))
    scoreStream(graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")), art)
      .orderBy(col("doc_id"))
  }
}
