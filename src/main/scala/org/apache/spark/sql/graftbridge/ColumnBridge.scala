package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters.
  *
  * Spark 4 moved `Column` to a backend-agnostic `ColumnNode` representation;
  * wrapping a custom Catalyst [[Expression]] into a [[Column]] (and back) goes
  * through `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]`. Extension libraries conventionally host a small shim inside
  * the `org.apache.spark.sql` package namespace for this (same pattern as
  * public Spark extension projects; see SNIPPETS.md [1]/[3]).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Column → Catalyst expression, converted EAGERLY.
    *
    * `ExpressionUtils.expression` only wraps the column's node in a lazy
    * [[org.apache.spark.sql.classic.ColumnNodeExpression]] that the
    * analyzer would expand later — but callers here inspect the tree
    * STRUCTURALLY (conjunct splitting, attribute binding, data-source
    * filter translation), and against the lazy wrapper every one of those
    * silently sees an opaque leaf: a `functions.col`-built mutation
    * predicate would translate to NO pushable filters, so stats-sidecar
    * file pre-shrink (delete/update probes, readPruned, OPTIMIZE WHERE)
    * would quietly degrade to scanning every candidate file (found live
    * in round 9 — OPTIMIZE WHERE rewrote the whole table). Spark's own
    * [[org.apache.spark.sql.classic.ColumnNodeToExpressionConverter]]
    * object is the eager path the analyzer itself uses (its parser also
    * expands `expr("…")` text), so convert through it up front. */
  def expression(c: Column): Expression =
    ExpressionUtils.expression(c) match {
      case org.apache.spark.sql.classic.ColumnNodeExpression(node) =>
        org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(node)
      case e => e
    }

  /** DataFrame from a (possibly custom) logical plan — `Dataset.ofRows` is
    * likewise `private[sql]`. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Batch plan → STREAMING DataFrame over the same rows — what a v1
    * [[org.apache.spark.sql.execution.streaming.Source]]'s `getBatch` must
    * return (`isStreaming = true`), built exactly the way Spark's own file
    * stream source does it (`internalCreateDataFrame` is `private[sql]`). */
  def streamingOfRows(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    reflag(spark, df, isStreaming = true)

  /** The inverse, for a v1 streaming SINK: the micro-batch DataFrame
    * arrives flagged streaming (so `df.write` refuses); re-wrap its
    * executed plan as a BATCH frame — the same move ForeachBatchSink
    * makes before handing user code the batch. */
  def batchOfRows(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    reflag(spark, df, isStreaming = false)

  private def reflag(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame,
      isStreaming: Boolean): org.apache.spark.sql.DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(classic.queryExecution.toRdd, classic.schema,
        isStreaming)
  }

  /** The single partition-column name of an identity
    * [[org.apache.spark.sql.connector.expressions.Transform]] — the
    * connector-expression case classes are `private[sql]`, so the
    * pattern match lives here. None for bucket/days/… transforms. */
  def identityTransformName(
      t: org.apache.spark.sql.connector.expressions.Transform): Option[String] =
    t match {
      case org.apache.spark.sql.connector.expressions.IdentityTransform(ref)
          if ref.fieldNames.length == 1 => Some(ref.fieldNames.head)
      case _ => None
    }

  /** The `PATH_NOT_FOUND` error `spark.read.parquet` raises for a missing
    * input path (`QueryCompilationErrors` is `private[sql]`). */
  def pathNotFound(path: String): Throwable =
    org.apache.spark.sql.errors.QueryCompilationErrors.dataPathNotExistError(path)

  /** Catalyst predicate → data-source [[org.apache.spark.sql.sources.Filter]],
    * when expressible — the same translation Spark runs before handing
    * pushed filters to a DSv2 source (`DataSourceStrategy.translateFilter`
    * is `private[sql]`). Conjuncts that don't translate return None and the
    * caller must keep them row-level. */
  def translateFilter(predicate: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = true)
}
