package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the engine's custom Catalyst expressions
  * (builder preference order (b) + the SparkSessionExtensions entry
  * point): `word_shingles(text[, k])` and `simhash_agg(hash_col)`
  * become callable from `spark.sql(...)` exactly like built-ins —
  * analyzed, optimized, and codegen'd by Catalyst, usable by SQL-only
  * consumers of the library.
  *
  * Activate with `spark.sql.extensions=graft.plans.GraftExtensions`
  * (as [[graft.Session]] builds every session) or a builder's
  * `withExtensions(new GraftExtensions)`.
  */
object GraftExtensions {

  /** Imperative registration for sessions created WITHOUT the extension
    * conf (e.g. a caller-owned session handed to the query map): same
    * builders, registered into the session's function registry. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.sql.graftbridge.FunctionBridge.registerAll(spark)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def kOf(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"word_shingles k must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => WordShingles(text, 3)
        case Seq(text, k) => WordShingles(text, kOf(k))
        case _ => throw new IllegalArgumentException(
          "word_shingles(text[, k]) takes 1 or 2 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash_agg"),
      new ExpressionInfo(classOf[SimhashAgg].getName, "simhash_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => SimhashAgg(child).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "simhash_agg(hash_col) takes exactly 1 argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("cms_agg"),
      new ExpressionInfo(classOf[CmsAgg].getName, "cms_agg"),
      (args: Seq[Expression]) => args match {
        case Seq(child) => CmsAgg(child).toAggregateExpression()
        case _ => throw new IllegalArgumentException(
          "cms_agg(hash_col) takes exactly 1 argument")
      }))
    def binary(name: String, mk: (Expression, Expression) => Expression): Unit =
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[VecDot].getName, name),
        (args: Seq[Expression]) => args match {
          case Seq(a, b) => mk(a, b)
          case _ => throw new IllegalArgumentException(
            s"$name(a, b) takes exactly 2 arguments")
        }))
    binary("vec_dot", VecDot)
    binary("vec_l2sq", VecL2Sq)
    binary("vec_l2sq_long", VecL2SqLong)
    binary("sorted_intersect_count", SortedIntersectCount)
    ext.injectFunction((
      new FunctionIdentifier("hash_embed"),
      new ExpressionInfo(classOf[HashEmbed].getName, "hash_embed"),
      (args: Seq[Expression]) => args match {
        case Seq(toks, Literal(b: Int, _), Literal(p: org.apache.spark.unsafe.types.UTF8String, _)) =>
          HashEmbed(toks, b, p.toString)
        case _ => throw new IllegalArgumentException(
          "hash_embed(tokens, buckets_literal, prefix_literal) takes 3 arguments")
      }))
    ext.injectFunction((
      new FunctionIdentifier("hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "hash60"),
      (args: Seq[Expression]) => args match {
        case Seq(x) => HashExprs.hash60Expr(x)
        case _ => throw new IllegalArgumentException(
          "hash60(x) takes exactly 1 argument")
      }))
    ext.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => NfcNormalize(text)
        case _ => throw new IllegalArgumentException(
          "nfc_normalize(text) takes exactly 1 argument")
      }))
  }
}
