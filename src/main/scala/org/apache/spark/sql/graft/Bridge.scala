package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.sources.BaseRelation

/** Column ⇄ Expression conversion and `Dataset.ofRows` live behind
  * `private[sql]` in Spark 4 (`classic.ExpressionUtils`,
  * `classic.Dataset`), so this one-file package bridge re-exports what
  * graft needs: its native Catalyst expressions
  * ([[graft.functions.VectorKernels]]), frames over a file relation
  * resolved once ([[graft.store.Warehouse]]'s relation memo), a cached
  * frame's row count, a frame cached and counted in one tracked pass
  * ([[graft.view.Write]]'s batch) and driver-side evaluation of
  * constant columns. No other private API is touched. */
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

  /** What [[cachedPass]] learned while it filled the cache: a frame
    * over the cached rows, their exact count, and at most one marked
    * row per partition. */
  final case class Pass(frame: DataFrame, rows: Long, marked: Seq[Row])

  /** `df` computed once and kept, in one pass that also probes it.
    *
    * The plan runs as ONE tracked SQL execution named `name`: it
    * reaches every `QueryExecutionListener`, and its jobs carry
    * `spark.sql.execution.id`. Its last job hands each partition's
    * rows to `persist` (the caller's cache, which also releases them)
    * and, while the cache fills, counts and sizes them and picks the
    * partition's first row whose column `mark` is not null. The
    * returned frame reads the cached rows through [[rowsFrame]], so a
    * join plans it by its real size. */
  def cachedPass(df: DataFrame, name: String, mark: String)(
      persist: RDD[InternalRow] => RDD[InternalRow]): Pass = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val schema = df.schema
    val markAt = schema.fieldIndex(mark)
    val rowBytes = EstimationUtils.getSizePerRow(qe.analyzed.output).toLong
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = persist(qe.toRdd.map(_.copy()))
      val parts = rdd.mapPartitions { it =>
        var n, bytes = 0L
        var first: InternalRow = null
        it.foreach { r =>
          n += 1
          bytes += (r match {
            case u: UnsafeRow => u.getSizeInBytes.toLong
            case _ => rowBytes
          })
          if (first == null && !r.isNullAt(markAt)) first = r
        }
        val marked = Option(first).map(r =>
          CatalystTypeConverters.createToScalaConverter(schema)(r).asInstanceOf[Row])
        Iterator((n, bytes, marked))
      }.collect()
      val rows = parts.map(_._1).sum
      Pass(rowsFrame(df, rdd, rows, parts.map(_._2).sum), rows, parts.flatMap(_._3).toSeq)
    }
  }

  /** A frame over internal rows computed from `df`'s plan, with `df`'s
    * columns (fresh attribute ids) and statistics that carry the rows'
    * exact count and size. The partition count is kept, so a
    * one-partition batch stays one partition for the operators above
    * it. */
  private def rowsFrame(df: DataFrame, rdd: RDD[InternalRow], rows: Long, bytes: Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val stats = Statistics(sizeInBytes = BigInt(bytes.max(1L)), rowCount = Some(BigInt(rows)))
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.queryExecution.analyzed.output.map(_.newInstance()), rdd,
        UnknownPartitioning(rdd.getNumPartitions))(ds.sparkSession, Some(stats)))
  }

  /** Evaluate columns that reference no input on the driver: analyze
    * them over a one-row relation (resolving their functions exactly
    * as a query would) and evaluate each bound expression. No Spark
    * job runs. */
  def evalConstants(spark: SparkSession, cols: Seq[Column]): Seq[Any] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], OneRowRelation())
      .select(cols: _*).queryExecution.analyzed.expressions.map(_.eval())
}
