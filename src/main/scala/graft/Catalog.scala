package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The shared on-disk catalog commit protocol — ONE implementation of
  * what [[graft.operators.Dedup.writeMinHashIndex]],
  * [[graft.operators.Sketch.writeSketches]] and
  * [[graft.operators.Ann.writePqCodes]] each re-implemented (r19
  * verdict #4), and the marker-last discipline the table-shaped model
  * saves ([[graft.operators.Bm25]], [[graft.operators.TfIdf]],
  * [[graft.operators.NgramLM]]) follow:
  *
  *   - `params/` is the COMMIT MARKER: data dirs write FIRST, the
  *     one-row params table LAST, so a crash between the two leaves a
  *     tree that reads as corrupt (params-less), never
  *     valid-but-wrong.
  *   - `mode = "append"` fail-fasts on a params mismatch (each format
  *     words its own message — appending under different parameters
  *     produces silently wrong results, never loud ones) and on
  *     params-less data (half-written; repair is an explicit
  *     overwrite or restoring params/, never implicit).
  *   - Re-creation (`overwrite` over an existing catalog) drops the
  *     stale marker FIRST: stale params over half-overwritten data
  *     would validate reads against the wrong configuration.
  *   - An append never rewrites the marker: a crash inside a marker
  *     rewrite would make the whole accumulated catalog look wiped to
  *     the next reader.
  *
  * Single-table model saves ([[graft.operators.LogReg]],
  * [[graft.operators.NgramLR]], [[graft.operators.Pca]]) need no
  * marker — one directory is the whole artifact and a loader fails
  * loudly on a missing/partial one — and route through [[saveTable]]
  * so every persistence path in the library lands here. */
object Catalog {

  /** Read the committed params row at `path/params`, `None` when no
    * committed catalog exists there: no marker dir (checked on the
    * filesystem, so a fresh catalog costs no failed read), or a marker
    * dir holding no committed file (a crashed marker write). `parse`
    * reads columns BY NAME so a column-order change in the persisted
    * file fails loudly instead of silently swapping fields. */
  def readParams[P](spark: SparkSession, path: String)(parse: Row => P): Option[P] =
    if (!dataExists(spark, path, Seq("params"))) None
    else try Some(parse(Parquet.read(spark, s"$path/params").head()))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Whether any of the catalog's data dirs exist under `path` — data
    * present while [[readParams]] returns None means a HALF-WRITTEN
    * catalog (a crash between the data writes and the marker), not an
    * empty one. */
  def dataExists(spark: SparkSession, path: String, dataDirs: Seq[String]): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    // A probe failure PROPAGATES (ADVICE r20): both callers use this to
    // refuse appending over a possibly half-written catalog, and a
    // transient filesystem error swallowed as `false` would let an
    // append slip past exactly the guard the commit protocol exists
    // for. Read-side callers that want degrade-to-false must catch at
    // their own boundary.
    dataDirs.exists { d =>
      val p = new org.apache.hadoop.fs.Path(s"$path/$d")
      p.getFileSystem(conf).exists(p)
    }
  }

  private def dropMarker(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/params")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** Run the append-capable commit protocol at `path`.
    *
    * @param existing the committed params (a [[readParams]] result —
    *        the caller reads them first because it usually needs them
    *        for its own messages)
    * @param dataDirs subdirs the catalog owns (the params-less probe)
    * @param what catalog kind for the params-less message
    *        ("MinHash index", "sketch catalog", "PQ codes catalog")
    * @param validateAppend called with the committed params on an
    *        append — throw the format's own mismatch wording here
    * @param writeData writes the data dirs with the caller's `mode`
    * @param writeParams writes the one-row marker (mode overwrite);
    *        runs LAST and only when the catalog is (re)created */
  def write[P](
      spark: SparkSession, path: String, mode: String,
      existing: Option[P], dataDirs: Seq[String], what: String)(
      validateAppend: P => Unit)(
      writeData: => Unit)(
      writeParams: => Unit): Unit = {
    require(mode == "overwrite" || mode == "append",
      s"unsupported catalog write mode: $mode")
    if (mode == "append") existing match {
      case Some(p) => validateAppend(p)
      case None =>
        require(!dataExists(spark, path, dataDirs),
          s"$what at $path has ${dataDirs.map(_ + "/").mkString(" or ")} but no params/ — " +
            "a failed write left it inconsistent; re-create it with mode=\"overwrite\" " +
            "(discarding the accumulated state) or restore params/ before appending")
    }
    if (mode == "overwrite" && existing.isDefined) dropMarker(spark, path)
    writeData
    if (mode == "overwrite" || existing.isEmpty) writeParams
  }

  /** One-shot model persistence (no append surface): data tables
    * first, the one-row `params` marker LAST — [[write]]'s marker
    * discipline without its append protocol. Data tables keep their
    * layout; the params row coalesces to one file. */
  def saveTables(path: String, tables: Seq[(String, DataFrame)], params: DataFrame): Unit = {
    tables.foreach { case (d, df) => df.write.mode("overwrite").parquet(s"$path/$d") }
    params.repartition(1).write.mode("overwrite").parquet(s"$path/params")
  }

  /** Single-table artifact persistence: the whole model is one
    * directory (atomic enough — a loader fails loudly on a missing or
    * partial table), coalesced to one file. */
  def saveTable(path: String, table: DataFrame): Unit =
    table.repartition(1).write.mode("overwrite").parquet(path)
}
