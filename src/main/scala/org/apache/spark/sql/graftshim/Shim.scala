package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge to Spark 4's `private[sql]` Column <-> Expression conversions
 * (org.apache.spark.sql.classic.ExpressionUtils). Lives under org.apache.spark.sql
 * only to satisfy the access modifier; no Spark internals are modified.
 */
object Shim {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
  /** DataFrame over an already-analyzed logical plan (classic.Dataset.ofRows is
    * `private[sql]`). Used by the write-arrange rule to run its url-only
    * boundary-sample job against the write's child query. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** Catalyst predicate -> data-source Filter (`private[sql]` DataSourceStrategy).
    * Used by the stream-filter push rule: Spark's MicroBatchExecution builds
    * stream scans with NO pushdown, so the engine translates filters itself. */
  def translateFilter(e: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)
  /** Spark's per-JVM Hadoop conf (`private[spark]` SparkHadoopUtil): the XML
    * resources plus the `spark.hadoop.*` system properties of this JVM. Shared
    * by every caller, so it must only be read. */
  def jvmHadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.deploy.SparkHadoopUtil.get.conf
}

/** `private[sql]` analysis types re-exported for the graft expression layer. */
object ShimTypes {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType
  def typeCollection(types: org.apache.spark.sql.types.AbstractDataType*): AbstractDataType =
    org.apache.spark.sql.types.TypeCollection(types: _*)
  def accepts(t: AbstractDataType, dt: org.apache.spark.sql.types.DataType): Boolean =
    t.acceptsType(dt)
}
