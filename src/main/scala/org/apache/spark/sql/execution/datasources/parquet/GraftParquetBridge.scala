package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
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
}
