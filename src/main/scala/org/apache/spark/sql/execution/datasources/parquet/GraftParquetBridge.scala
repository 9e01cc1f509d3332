package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Companion shim to [[org.apache.spark.sql.graftbridge.Bridge]]:
  * `ParquetFileFormat.readSchema` is `private[parquet]`, so converting a
  * footer read on the driver into the schema Spark's own inference
  * would resolve has to live in this package. */
object GraftParquetBridge {
  /** The Spark schema of one parquet footer, under `spark`'s parquet
    * confs (binaryAsString, int96AsTimestamp, inferTimestampNTZ,
    * nanosAsLong) and preferring the Spark schema Spark writers embed. */
  def readSchema(footer: Footer, spark: SparkSession): Option[StructType] =
    ParquetFileFormat.readSchema(Seq(footer), spark)

  /** Every row of one parquet file, read on the driver by the reader a
    * Spark scan task runs (`ParquetFileFormat`'s, under `spark`'s confs)
    * and converted as `Dataset.collect` converts them: a `Row` carrying
    * the schema a read of the file resolves (`schema`, all nullable). */
  def readRows(spark: SparkSession, conf: Configuration, file: FileStatus,
      schema: StructType): Seq[Row] = {
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(file.getPath), 0L,
      file.getLen, Array.empty, file.getModificationTime, file.getLen))
    val toRow = CatalystTypeConverters.createToScalaConverter(schema.asNullable)
    // the reader reuses its row object: convert each row before the next
    try rows.map(r => toRow(r).asInstanceOf[Row]).toVector
    finally rows match { case c: java.io.Closeable => c.close(); case _ => }
  }
}
