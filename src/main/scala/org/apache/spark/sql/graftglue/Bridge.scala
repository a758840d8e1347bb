package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}

/** Minimal access layer to `private[sql]` constructors, for turning a custom
  * [[LogicalPlan]] node into a user-facing DataFrame. This is the standard
  * packaging technique for third-party Spark plan extensions (the DSv2 /
  * SparkSessionExtensions APIs cover sources, rules, strategies and functions,
  * but not "hand me a DataFrame over my own logical node").
  */
object Bridge {
  /** Wrap a (resolved) logical plan as a DataFrame on the given session. */
  def ofRows(session: org.apache.spark.sql.SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(session.asInstanceOf[CSparkSession], plan)

  /** SQL text run over DataFrames rather than the session catalog: each
    * table name in `tables` (including inside subqueries such as a LATERAL
    * one) resolves to its DataFrame's plan under that name as alias, so
    * building the query registers no temp view and a user table of the same
    * name is never shadowed. Names not in `tables` resolve as usual.
    */
  def sqlOver(session: org.apache.spark.sql.SparkSession, text: String,
              tables: (String, DataFrame)*): DataFrame = {
    val byName = tables.toMap
    val parsed = session.asInstanceOf[CSparkSession].sessionState.sqlParser.parsePlan(text)
    ofRows(session, parsed.transformUpWithSubqueries {
      case r: UnresolvedRelation if byName.contains(r.tableName) =>
        SubqueryAlias(r.tableName, analyzed(byName(r.tableName)))
    })
  }

  /** The analyzed logical plan behind a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.analyzed

  /** The optimized logical plan (for plan-shape assertions in specs). */
  def optimized(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].queryExecution.optimizedPlan

  /** Canonicalize -0.0/NaN in float-typed expressions (what Spark's planner
    * does to equi-join keys) so byte-level key comparison is value equality.
    */
  def normalizeFloats(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Wrap a raw catalyst expression as a user-facing Column. */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The catalyst expression behind a Column (inverse of [[columnOf]]). */
  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** An uncorrelated scalar subquery over a DataFrame's plan — evaluated
    * ONCE per query execution and fed to the enclosing expression as a
    * constant (lazily, at execution time — no job at plan-construction).
    */
  def scalarSubquery(df: DataFrame): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(analyzed(df))
}
