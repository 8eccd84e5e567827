package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4.x removed the public Column(Expression) constructor; the
  * supported conversion lives in `private[sql]` ExpressionUtils. This
  * bridge (inside the sql package namespace, the standard extension
  * pattern) exposes exactly the two conversions our custom expressions
  * need. */
object ColumnBridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
}

/** Logical-plan access for custom operators (builder preference (c)):
  * constructing a DataFrame over a custom `LogicalPlan` needs the
  * `private[sql]` `Dataset.ofRows`, and idempotent planner-strategy
  * registration for caller-owned sessions needs the classic session's
  * `experimental` hook. Same supported extension pattern as above. */
object PlanBridge {
  import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.SparkStrategy

  def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.asInstanceOf[ClassicDataset[_]].queryExecution.analyzed

  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** Register a planner strategy if the session doesn't have it yet
    * (sessions built with `spark.sql.extensions=graft.plans.GraftExtensions`
    * already do; this covers caller-owned sessions). */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[ClassicSession].experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(s)) exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}

/** Function-registry access for imperative SQL-function registration
  * (`sessionState` is private[sql]; this is the same supported pattern
  * as ColumnBridge). Keep the builders in sync with
  * [[graft.plans.GraftExtensions]]. */
object FunctionBridge {
  import org.apache.spark.sql.classic.{SparkSession => ClassicSession}

  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.asInstanceOf[ClassicSession].sessionState.functionRegistry
    reg.createOrReplaceTempFunction("word_shingles", args => args match {
      case Seq(text) => graft.plans.WordShingles(text, 3)
      case Seq(text, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
        graft.plans.WordShingles(text, k)
      case _ => throw new IllegalArgumentException("word_shingles(text[, k])")
    }, "scala_udf")
    reg.createOrReplaceTempFunction("simhash_agg", args =>
      graft.plans.SimhashAgg(args.head).toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("cms_agg", args =>
      graft.plans.CmsAgg(args.head).toAggregateExpression(), "scala_udf")
    reg.createOrReplaceTempFunction("vec_dot", args =>
      graft.plans.VecDot(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_l2sq", args =>
      graft.plans.VecL2Sq(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vec_l2sq_long", args =>
      graft.plans.VecL2SqLong(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("sorted_intersect_count", args =>
      graft.plans.SortedIntersectCount(args(0), args(1)), "scala_udf")
    reg.createOrReplaceTempFunction("hash60", args =>
      graft.plans.HashExprs.hash60Expr(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize", args =>
      graft.plans.NfcNormalize(args.head), "scala_udf")
    reg.createOrReplaceTempFunction("hash_embed", args => args match {
      case Seq(toks,
        org.apache.spark.sql.catalyst.expressions.Literal(b: Int, _),
        org.apache.spark.sql.catalyst.expressions.Literal(
          p: org.apache.spark.unsafe.types.UTF8String, _)) =>
        graft.plans.HashEmbed(toks, b, p.toString)
      case _ => throw new IllegalArgumentException(
        "hash_embed(tokens, buckets_literal, prefix_literal)")
    }, "scala_udf")
  }
}

/** Streaming-plan access for the custom V1 streaming source
  * ([[graft.streaming.DeltaStream]]): `Source.getBatch` must return a
  * DataFrame whose leaves are marked `isStreaming = true` (the contract
  * Spark's own FileStreamSource satisfies via an isStreaming
  * LogicalRelation) — a plain batch read fails MicroBatchExecution's
  * streaming-plan check. Same supported extension pattern as above. */
object StreamBridge {
  import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
  import org.apache.spark.sql.execution.datasources.LogicalRelation

  /** Re-root `df`'s relation leaves as streaming leaves. */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[ClassicDataset[org.apache.spark.sql.Row]]
    val plan = classic.queryExecution.analyzed.transformUp {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    }
    ClassicDataset.ofRows(classic.sparkSession, plan)
  }
}

/** Type access: `StructType.asNullable` (every field, nested ones too,
  * made nullable — what Spark's own file reads apply to a user schema)
  * is internal to Spark. */
object TypeBridge {
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable
}
