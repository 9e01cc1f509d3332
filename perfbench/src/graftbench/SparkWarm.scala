package graftbench

import org.apache.spark.sql.SparkSession

/** Loads the Spark classes a plain local session uses (a shuffle, a
  * join, a parquet write and read), for the class-data archive
  * perfbench/build.py dumps. It touches no class of the library, so
  * those are never archived and load cold in every benchmark run. */
object SparkWarm {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = SparkSession.builder().master("local[1]").appName("graftbench-warm").getOrCreate()
    val t = spark.range(1000).selectExpr("id", "id % 7 AS k", "cast(id AS string) AS s")
    t.join(t.groupBy("k").count(), "k").write.parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").orderBy("id").collect()
    spark.stop()
  }
}
