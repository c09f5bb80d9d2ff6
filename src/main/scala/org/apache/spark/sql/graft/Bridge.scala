package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.OneRowRelation
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.BaseRelation

/** Column ⇄ Expression conversion and `Dataset.ofRows` live behind
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`,
  * `classic.Dataset`), so this one-file package bridge re-exports what
  * graft needs: its native Catalyst expressions
  * ([[graft.functions.VectorKernels]]), frames over a file relation
  * resolved once ([[graft.store.Warehouse]]'s relation memo), a cached
  * frame's row count and driver-side evaluation of constant columns.
  * No other private API is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The file relation a plain file read (`spark.read...parquet`)
    * resolved to: its schema and file listing, fixed. */
  def fileRelation(df: DataFrame): Option[BaseRelation] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l.relation
    }

  /** A frame over an already resolved relation: no listing, no schema
    * inference. Every call gets fresh attribute ids, so one relation
    * can appear several times in one plan (a self-join, a table
    * joined twice). */
  def frame(spark: SparkSession, rel: BaseRelation): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(rel, isStreaming = false))

  /** Exact row count of a cached frame once its cache is fully built,
    * read from the cache's own row counter (no job); None before. */
  def cachedRows(df: DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
      .map(_.cachedRepresentation)
      .filter(_.cacheBuilder.isCachedColumnBuffersLoaded)
      .flatMap(_.computeStats().rowCount).map(_.toLong)
  }

  /** Evaluate columns that reference no input on the driver: analyze
    * them over a one-row relation (resolving their functions exactly
    * as a query would) and evaluate each bound expression. No Spark
    * job runs. */
  def evalConstants(spark: SparkSession, cols: Seq[Column]): Seq[Any] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], OneRowRelation())
      .select(cols: _*).queryExecution.analyzed.expressions.map(_.eval())
}
