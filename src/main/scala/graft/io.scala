package graft

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

/** Typed IO — colnade read/scan/write + from_rows/from_dict
  * (reference colnade-polars/src/colnade_polars/io.py:25-105).
  *
  * Spark is lazy, so read ≡ scan (the reference's eager/lazy read split
  * collapses): a typed parquet read pins its schema from one footer read
  * on the driver ([[Parquet.read]]), so building the frame launches no
  * hidden schema-inference job, and `collect()` is the first action.
  * Every typed read projects exactly the schema's columns so the parquet
  * scan's ReadSchema is pruned even if the file carries more.
  */
object Tio {

  def readParquet[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] =
    typed(Parquet.read(spark, path), schema)

  /** The typed boundary every read and constructor goes through:
    * structural check (if the session's [[GValidation.level]] is on) →
    * prune to the schema's columns → value constraints (under `Full`).
    * Pruning BEFORE the constraints keeps their one aggregation pass
    * scanning only schema columns. Under `Off` this runs no Spark job. */
  private def typed[S <: GSchema](raw: DataFrame, schema: S): TFrame[S] = {
    val level = GValidation.level(raw.sparkSession)
    if (level != GValidation.Off) Validator.structural(raw, schema)
    val pruned = raw.select(schema.columnNames.map(col): _*)
    if (level == GValidation.Full) Validator.constraints(pruned, schema)
    new TFrame[S](pruned, Some(schema))
  }

  /** Alias for readParquet — Spark frames are already lazy plans. */
  def scanParquet[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] =
    readParquet(spark, path, schema)

  def readCsv[S <: GSchema](spark: SparkSession, path: String, schema: S,
      header: Boolean = true): TFrame[S] =
    typed(spark.read
      .option("header", header.toString)
      .schema(schema.structType)
      .csv(path), schema)

  /** JSON-lines read (one object per line — the dominant raw-corpus
    * interchange format; Spark reads `.json`/`.jsonl`, compressed or
    * not, the same way). The schema is PINNED from the GSchema, never
    * inferred: JSON schema inference is a full extra pass over the
    * data — a catastrophic hidden scan at 100 TB — and infers unstable
    * types across batches. Fields absent from a line read as null and
    * are caught by the usual nullability validation; extra fields are
    * ignored (pruned by the pinned schema). Corrupt lines fail the job
    * by default (`mode=PERMISSIVE` would null them silently — opt in
    * via [[TFrame.withRaw]] if a lossy read is really wanted). */
  def readJson[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] =
    typed(spark.read
      .schema(schema.structType)
      .option("mode", "FAILFAST")
      .json(path), schema)

  /** JSON-lines write — the inverse of [[readJson]]. */
  def writeJson[S <: GSchema](tf: TFrame[S], path: String, mode: String = "overwrite"): Unit =
    tf.df.write.mode(mode).json(path)

  /** Typed ORC read — same contract as [[readParquet]] (structural
    * validation at the boundary, column-pruned projection): ORC is the
    * other splittable columnar warehouse format with native Spark
    * support, and like parquet it serves predicate pushdown and column
    * pruning from file/stripe metadata, so the 100 TB scan behavior is
    * equivalent (PushedFilters/ReadSchema show up in the plan the same
    * way). */
  def readOrc[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] =
    typed(spark.read.orc(path), schema)

  def writeOrc[S <: GSchema](tf: TFrame[S], path: String,
      partitionBy: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    val w = tf.df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** WARC/WET crawl-archive read (ISO 28500; `.warc` / `.warc.gz`,
    * globs ok) — the published pipelines' raw entry point, one task
    * per archive file, corrupt records degrade to tombstone rows.
    * Untyped by design (the record schema is WARC's, not a GSchema):
    * see [[graft.sources.Warc.read]] for the row layout and the scale
    * shape. */
  def readWarc(spark: SparkSession, path: String,
      maxPayloadBytes: Int = 16 * 1024 * 1024): DataFrame =
    graft.sources.Warc.read(spark, path, maxPayloadBytes)

  def writeParquet[S <: GSchema](tf: TFrame[S], path: String,
      partitionBy: Seq[String] = Nil, mode: String = "overwrite"): Unit = {
    val w = tf.df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv[S <: GSchema](tf: TFrame[S], path: String, mode: String = "overwrite"): Unit =
    tf.df.write.mode(mode).option("header", "true").csv(path)

  /** Write as a BUCKETED managed table (`bucketBy` + `saveAsTable` —
    * bucketing metadata lives in the session catalog, which is why this
    * is a table, not a path). The 100 TB payoff: two tables bucketed on
    * the same keys into the same bucket count join/aggregate on those
    * keys with NO exchange — the most expensive recurring shuffle of a
    * pipeline (fact-fact join) is paid once at write time, then never
    * again. `sortKeys` additionally sorts within each bucket file.
    * BucketSpec pins the exchange-free join plan. */
  def writeBucketed[S <: GSchema](
      tf: TFrame[S], table: String, bucketKeys: Seq[GCol[_]], nBuckets: Int,
      sortKeys: Seq[GCol[_]] = Nil, mode: String = "overwrite"): Unit = {
    require(bucketKeys.nonEmpty, "writeBucketed: at least one bucket key")
    require(nBuckets > 0, s"writeBucketed: nBuckets must be positive, got $nBuckets")
    val w = tf.df.write.mode(mode).format("parquet")
      .bucketBy(nBuckets, bucketKeys.head.name, bucketKeys.tail.map(_.name): _*)
    val ws = if (sortKeys.nonEmpty) w.sortBy(sortKeys.head.name, sortKeys.tail.map(_.name): _*)
             else w
    ws.saveAsTable(table)
  }

  /** Typed read of a catalog table (the counterpart of [[writeBucketed]];
    * works for any table). Scan is pruned to the schema's columns. */
  def readTable[S <: GSchema](spark: SparkSession, table: String, schema: S): TFrame[S] =
    typed(spark.table(table), schema)

  /** Typed construction from case-class rows — colnade from_rows
    * (reference io.py:79-96); the case class plays Schema.Row and the
    * Encoder is the compile-time row/schema link. */
  def fromRows[S <: GSchema, R: Encoder](spark: SparkSession, schema: S, rows: Seq[R]): TFrame[S] = {
    val df = spark.createDataset(rows).toDF()
    typed(df.select(schema.columns.map(c => col(c.name).cast(relaxNullable(c.dataType))): _*),
      schema)
  }

  /** Casting to a type with non-nullable inner struct fields is rejected
    * by Catalyst; nullability is enforced by validation, not the cast. */
  private def relaxNullable(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = relaxNullable(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(relaxNullable(e), containsNull = true)
      case MapType(k, v, _) => MapType(relaxNullable(k), relaxNullable(v), valueContainsNull = true)
      case other => other
    }
  }

  /** Columnar construction — colnade from_dict (reference
    * dataframe.py:703): column name → values, all the same length. */
  def fromDict[S <: GSchema](spark: SparkSession, schema: S, data: Map[String, Seq[Any]]): TFrame[S] = {
    val names = schema.columnNames
    val missing = names.filterNot(data.contains)
    require(missing.isEmpty, s"fromDict: missing columns ${missing.mkString(", ")}")
    val lens = data.values.map(_.size).toSet
    require(lens.size == 1, s"fromDict: ragged columns (lengths $lens)")
    import scala.jdk.CollectionConverters._
    val rows: java.util.List[org.apache.spark.sql.Row] =
      (0 until lens.head).map(i =>
        org.apache.spark.sql.Row.fromSeq(names.map(n => data(n)(i)))).asJava
    typed(spark.createDataFrame(rows, schema.structType), schema)
  }

  /** Arrow-IPC import — colnade from_batches/from_pyarrow (reference
    * dataframe.py, arrow.py:27-70): serialized RecordBatches → typed
    * frame, the inverse of [[TFrame.toArrowBatches]]. */
  def fromBatches[S <: GSchema](
      spark: SparkSession, schema: S, batches: Iterator[Array[Byte]]): TFrame[S] =
    fromDF(org.apache.spark.sql.graftbridge.Bridge.fromArrowBatches(
      batches, schema.structType.json, spark), schema)

  /** Wrap an existing DataFrame under a schema (validating boundary). */
  def fromDF[S <: GSchema](df: DataFrame, schema: S): TFrame[S] = typed(df, schema)

  /** Vertical concat — colnade concat() (reference dataframe.py:114).
    * All frames must share the same schema object. */
  def concat[S <: GSchema](frames: TFrame[S]*): TFrame[S] = {
    require(frames.size >= 2, s"concat() requires at least 2 frames, got ${frames.size}")
    val s = frames.head.schemaOpt
    require(frames.forall(_.schemaOpt == s), "concat(): schema mismatch between frames")
    new TFrame[S](frames.map(_.df).reduce(_ unionByName _), s)
  }
}
