package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, SparkSession => CSparkSession}

/** Static factory bridging custom logical plans into public Datasets
  * (the classic Dataset.ofRows is private[sql]) — the standard
  * pattern used by Spark-extension libraries (e.g. the Qbeast/Delta
  * connector layout).
  */
object GraftPlans {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Wrap a Catalyst expression as a public Column (the classic
    * ExpressionUtils is private[sql]).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The Catalyst expression tree behind a public Column, converted
    * eagerly (ExpressionUtils.expression defers the conversion behind
    * an opaque leaf, which a tree rewrite cannot see into).
    */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Build a DataFrame flagged `isStreaming=true` from already-planned
    * InternalRows — what a V1 streaming Source's getBatch must return
    * (MicroBatchExecution asserts the flag). Same shape MemoryStream
    * uses via the private[sql] internalCreateDataFrame.
    */
  def streamingDF(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[CSparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** A plain batch DataFrame from already-planned InternalRows (the
    * V1 Sink.addBatch drain: re-planning the incremental frame as a
    * fresh query is incorrect there).
    */
  def batchDF(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[CSparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** The planned InternalRow RDD of a batch DataFrame. */
  def toInternalRdd(df: DataFrame)
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] =
    df.asInstanceOf[CDataFrame].queryExecution.toRdd
}
