package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Catalyst Expression bridge.
  *
  * Spark 4 unified the Column API over ColumnNode and made the
  * conversion helpers `private[sql]`; graft needs them to rewrite
  * attribute references (JoinedFrame right-side renames) and to build
  * custom Catalyst expressions. Living under org.apache.spark.sql is
  * the standard extension-library pattern (same approach as public
  * connectors, e.g. spark-cassandra-connector / frameless).
  */
object Bridge {
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Fully-converted catalyst expression tree. Spark 4's Column wraps a
    * ColumnNode, and `ExpressionUtils.expression` returns a lazy
    * `ColumnNodeExpression` shim whose children are NOT catalyst nodes —
    * a catalyst `transform` over it silently matches nothing. Rewrites
    * (e.g. JoinedFrame's right-rename remap) must convert first. */
  def catalystExpr(c: Column): Expression =
    org.apache.spark.sql.classic.GraftClassicBridge.toCatalyst(ExpressionUtils.expression(c))

  /** Arrow-IPC batch export (one serialized RecordBatch per element) —
    * Spark's own python/R interchange path, `private[sql]` in Spark 4. */
  def arrowBatchRdd(df: DataFrame): org.apache.spark.rdd.RDD[Array[Byte]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].toArrowBatchRdd

  /** Arrow-IPC batch export with a caller-bounded batch size: at most
    * `maxRecordsPerBatch` rows per serialized RecordBatch, multiple
    * batches per partition as needed. Spark's own RDD honors only the
    * session-wide `arrow.maxRecordsPerBatch` conf; this is the per-call
    * knob (reference `to_batches(batch_size)`). */
  def arrowBatchRdd(df: DataFrame, maxRecordsPerBatch: Long): org.apache.spark.rdd.RDD[Array[Byte]] = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val schema = ds.schema
    val conf = ds.sparkSession.sessionState.conf
    val tz = conf.sessionLocalTimeZone
    val large = conf.arrowUseLargeVarTypes
    ds.queryExecution.toRdd.mapPartitionsInternal { iter =>
      org.apache.spark.sql.execution.arrow.ArrowConverters.toBatchIterator(
        iter, schema, maxRecordsPerBatch, tz, true, large, org.apache.spark.TaskContext.get())
    }
  }

  /** Codegen'd Bloom-filter membership probe over a LongType column —
    * the same `BloomFilterMightContain` expression Spark's own runtime
    * row-level filtering injects (SPARK-32268), with the filter bytes
    * inlined as a binary literal. The bytes are the standard
    * `org.apache.spark.util.sketch.BloomFilter` stream serialization
    * (`writeTo`), i.e. exactly what the PUBLIC `df.stat.bloomFilter`
    * sketch emits — build with the public API, probe natively in
    * whole-stage codegen. NULL values probe to NULL (filtered out by
    * a WHERE, the desired semantics). */
  def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(
        bloomBytes, org.apache.spark.sql.types.BinaryType),
      ExpressionUtils.expression(value)))

  /** Arrow-IPC batches → DataFrame (driver-side iterator). */
  def fromArrowBatches(
      batches: Iterator[Array[Byte]],
      schemaJson: String,
      spark: SparkSession): DataFrame =
    org.apache.spark.sql.execution.arrow.ArrowConverters.toDataFrame(
      batches, schemaJson, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
}
