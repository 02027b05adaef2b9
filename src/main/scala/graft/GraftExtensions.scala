package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CosineSelfSimilarityRule, CosineSimilarity, DotProduct, EditWithin1, Int8AdcDot, MinhashSignature, Simhash64, WordShingles}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions. Every [[GraftSession]] applies it
  * (once, also when `spark.sql.extensions` already names
  * `graft.GraftExtensions`).
  *
  * The DataFrame API (`graft.ext.SimilarityOps`) does not require the
  * extension — it builds the expressions directly; this registration is
  * for SQL users (`SELECT cosine_sim(a.embedding, b.embedding) ...`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("int8_adc_dot"),
      new ExpressionInfo(classOf[Int8AdcDot].getName, "int8_adc_dot"),
      (children: Seq[Expression]) => Int8AdcDot(children(0), children(1))))
    ext.injectOptimizerRule(_ => CosineSelfSimilarityRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRule)
    ext.injectFunction((
      FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty, "word_shingles takes at least 1 argument")
        WordShingles(children(0), literalInt(children, 1, default = 3))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[Simhash64].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"simhash64 takes 1 argument, got ${children.length}")
        Simhash64(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_sig"),
      (children: Seq[Expression]) => {
        require(children.nonEmpty, "minhash_sig takes at least 1 argument")
        MinhashSignature(children(0), literalInt(children, 1, default = 32))
      }))
    ext.injectFunction((
      FunctionIdentifier("packed_pairs"),
      new ExpressionInfo(classOf[graft.functions.PackedPairs].getName, "packed_pairs"),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"packed_pairs takes 1 argument, got ${children.length}")
        graft.functions.PackedPairs(children(0))
      }))
    ext.injectFunction((
      FunctionIdentifier("edit_within1"),
      new ExpressionInfo(classOf[EditWithin1].getName, "edit_within1"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"edit_within1 takes 2 arguments, got ${children.length}")
        EditWithin1(children(0), children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("zvalue"),
      new ExpressionInfo("graft.sources.LayoutOps", "zvalue"),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"zvalue takes 2 arguments, got ${children.length}")
        // expands to codegen'd Catalyst bit-arithmetic primitives
        graft.sources.LayoutOps.zValueExpr(children(0), children(1))
      }))
  }

  /** SQL-surface size arguments must be literals (they shape the
    * generated kernel, like approx_percentile's accuracy). */
  private def literalInt(children: Seq[Expression], i: Int, default: Int): Int = {
    require(children.length <= i + 1,
      s"too many arguments: expected at most ${i + 1}, got ${children.length}")
    if (children.length <= i) default
    else children(i) match {
      case e if e.foldable => e.eval() match {
        case n: Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"argument ${i + 1} must be a non-null integer literal, got $other")
      }
      case e => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $e")
    }
  }
}
