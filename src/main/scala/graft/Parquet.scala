package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.{MetadataFilter, NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import scala.jdk.CollectionConverters._

/** The library's one parquet read path.
  *
  * `spark.read.parquet(path)` without a schema makes Spark infer it, and
  * Spark infers by launching a job that reads one footer on an executor
  * — even for a single local file. At small scale that job dominates a
  * typed read (tens of milliseconds and a scheduler round trip per
  * read). [[read]] does what that job does on the driver instead: it
  * finds the file Spark would pick (the first data file in path order),
  * reads only its footer (row groups skipped), converts it with Spark's
  * own `ParquetFileFormat.readSchema`, and pins the result with
  * `spark.read.schema(...)`. The relation is the one inference would
  * have built: partition columns are still discovered from the
  * directory names, and the schema is the file's, so the typed
  * boundary's structural check still sees a missing column or a changed
  * dtype.
  *
  * Spark's inference stays on exactly two paths:
  *   - no data file is found (a missing path, an empty directory, or
  *     only `_temporary/` wreckage), so Spark raises its usual error;
  *   - `spark.sql.parquet.mergeSchema=true`, where the merge needs every
  *     footer.
  *
  * Summary files (`_metadata`, `_common_metadata`), which inference
  * would consult first, are not read: Spark writers have not produced
  * them by default since Spark 2.0, and they carry the data files'
  * schema. */
private[graft] object Parquet {

  /** `path` as a DataFrame, its schema pinned from one footer. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val conf = hadoopConf(spark)
    val first =
      if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) None
      else dataFiles(conf, path).nextOption()
    first.flatMap(f => GraftParquetBridge.readSchema(
        new Footer(f.getPath, footer(conf, f, SKIP_ROW_GROUPS)), spark))
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The first row of the parquet at `path` (its data files in path
    * order), read on the driver with no Spark job: the footer pins the
    * schema as [[read]] does, and Spark's own parquet reader decodes the
    * file, so the `Row` and its schema are the ones
    * `read(spark, path).head()` returns for a one-row table such as a
    * catalog's or a model's `params`. None when `path` holds no data
    * file or no row. */
  def readFirstRow(spark: SparkSession, path: String): Option[Row] = {
    val conf = hadoopConf(spark)
    dataFiles(conf, path).flatMap { f =>
      GraftParquetBridge.readSchema(new Footer(f.getPath, footer(conf, f, SKIP_ROW_GROUPS)), spark)
        .fold(Seq.empty[Row])(GraftParquetBridge.readRows(spark, conf, f, _))
    }.nextOption()
  }

  /** Whether `path` holds committed parquet — at least one data file —
    * whose footers all record zero rows. A missing path or a directory
    * with no data file is not verifiably empty. */
  def holdsNoRows(spark: SparkSession, path: String): Boolean = {
    val conf = hadoopConf(spark)
    val files = dataFiles(conf, path)
    files.hasNext &&
      files.forall(f => footer(conf, f, NO_FILTER).getBlocks.asScala.forall(_.getRowCount == 0))
  }

  /** The session's Hadoop conf with its SQL confs applied — what Spark's
    * own file listing and footer reads use. */
  private def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Spark's file-index name rule: `_`- and `.`-prefixed names (other
    * than partition dirs such as `_k=v`) and in-flight `._COPYING_`
    * files hold no data. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The data files under `path` (a file, a directory or a glob), lazily,
    * in the order Spark's inference sorts them (by full path string), so
    * the first one is the file inference would read. A directory sorts
    * as its name plus `/`, which makes a depth-first walk visit the
    * leaves in exactly that order. Root directories are descended
    * whatever their name, as Spark does. */
  private def dataFiles(conf: Configuration, path: String): Iterator[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def walk(statuses: Array[FileStatus], isRoot: Boolean): Iterator[FileStatus] =
      statuses.sortBy(s => if (s.isDirectory) s"${s.getPath}/" else s.getPath.toString)
        .iterator.flatMap { s =>
          val name = s.getPath.getName
          if (s.isDirectory) {
            if (!isRoot && hidden(name)) Iterator.empty
            else walk(fs.listStatus(s.getPath), isRoot = false)
          } else if (hidden(name)) Iterator.empty
          else Iterator.single(s)
        }
    walk(Option(fs.globStatus(root)).getOrElse(Array.empty), isRoot = true)
  }

  private def footer(conf: Configuration, f: FileStatus, filter: MetadataFilter): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf).withMetadataFilter(filter).build())
    try reader.getFooter finally reader.close()
  }
}
