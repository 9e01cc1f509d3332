package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._

/** Per-session registry of what graft ITSELF materializes: the
  * operator-internal persists (hot-bucket guard, candidate and collapse
  * maps, span/line occurrence streams, Bloom fingerprints, model count
  * tables) and the eager `localCheckpoint`s of the composed pipelines.
  * A Dataset `persist()` leaves a CacheManager entry that is never
  * auto-released, and checkpoint blocks cannot be evicted (only
  * spilled), so a long-lived session that builds many such plans would
  * accumulate both without bound. Every entry is keyed by the session
  * that built the frame; [[release]] frees exactly that session's
  * entries. Other sessions of the same SparkContext, and every cache or
  * checkpoint the caller made itself, are left alone.
  *
  * Persist handles are STRONG deliberately: the CacheManager holds the
  * entry (plan + columnar blocks) regardless of whether any Dataset
  * object survives GC, so a weak handle would lose the only way to
  * remove the entry. Checkpoint RDDs are held WEAKLY: the ContextCleaner
  * already frees an unreferenced checkpoint, and a strong handle would
  * pin every earlier round of an iterative loop until the release. */
private[graft] object InternalCaches {
  private final case class Entry(session: SparkSession, free: () => Unit)
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()

  /** Persist `df` and register it under its session; returns it. The
    * frame keeps its lineage, so a consumer that runs after a release
    * recomputes instead of failing. Each call site notes its measured
    * "scans with → without": the leaf scans, summed over every job a
    * SparkEntry query launches on sf0.01, with the persist and without
    * it (exchange reuse counted). A plan that is already cached is
    * returned as is, unregistered: the CacheManager keeps one entry per
    * plan and `unpersist` drops it by plan, so releasing a second
    * registration would drop the cache its first owner still uses. */
  def persist(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val p = df.persist()
      reg.add(Entry(p.sparkSession, () => p.unpersist(blocking = false)))
      p
    }

  /** Eager `localCheckpoint` of `df`, its checkpoint RDD registered under
    * the frame's session; returns the checkpointed frame. The frame has
    * no lineage: it cannot be re-executed after its session's release. */
  def checkpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    val rdd = new java.lang.ref.WeakReference(cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd)
    reg.add(Entry(cp.sparkSession, () => Option(rdd.get).foreach(_.unpersist(blocking = true))))
    cp
  }

  /** The one storage decision of every operator that takes a
    * `checkpointDir` ([[graft.operators.Dedup.duplicateClusters]],
    * [[graft.operators.Dedup.duplicateClustersStar]],
    * [[graft.operators.Pack.selectByBudget]],
    * [[graft.operators.Pack.selectByBudgetPerGroup]]): runs `body` with a
    * [[Snapshots]] run whose [[Snapshots.freeze]] pins a frame's layout.
    * The `checkpointDir` contract:
    *
    *  - `None` (default): each freeze is an eager [[checkpoint]], whose
    *    blocks live in EXECUTOR-LOCAL storage. Fine on local[n]; on a
    *    real cluster an executor lost mid-job kills the query (lineage
    *    truncated, blocks gone).
    *  - `Some(dir)`: pass a reliable store path (HDFS/S3). Each freeze
    *    writes a parquet snapshot under ONE run directory
    *    `<dir>/<prefix>-<uuid>/` and re-reads it with the written schema
    *    pinned (a zero-row snapshot has no footer to infer from). The
    *    SparkContext-global checkpoint directory is never touched.
    *  - On successful return exactly one run directory remains: it backs
    *    the returned lazy frame, and it is the caller's to delete once
    *    the result is consumed. Superseded steps are dropped as the body
    *    goes, so an iterative loop keeps O(1) snapshots.
    *  - On ANY failure the whole run directory is best-effort deleted
    *    before the error propagates (the original error wins; a cleanup
    *    error rides along as suppressed): a failed call leaves nothing. */
  def snapshots[T](spark: SparkSession, checkpointDir: Option[String], prefix: String)(
      body: Snapshots => T): T = {
    val run = new Snapshots(spark,
      checkpointDir.map(d => s"$d/$prefix-${java.util.UUID.randomUUID()}"))
    try body(run)
    catch {
      case t: Throwable =>
        try run.drop(run.runDir)
        catch { case cleanup: Throwable => t.addSuppressed(cleanup) }
        throw t
    }
  }

  /** One operator call's frozen steps; see [[snapshots]]. */
  final class Snapshots private[InternalCaches] (
      spark: SparkSession, private[InternalCaches] val runDir: Option[String]) {
    private var step = 0

    /** Materialize `df` now. Returns the frozen frame and, in reliable
      * mode, the step directory that backs it (for [[drop]]). */
    def freeze(df: DataFrame): (DataFrame, Option[String]) = runDir match {
      case Some(base) =>
        val p = s"$base/step-$step"; step += 1
        df.write.parquet(p)
        (spark.read.schema(df.schema).parquet(p), Some(p))
      case None => (checkpoint(df), None)
    }

    /** Delete a superseded step; a local checkpoint has nothing to drop. */
    def drop(path: Option[String]): Unit = path.foreach { d =>
      val p = new Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Unpersist and forget every entry registered under `spark`. */
  def release(spark: SparkSession): Unit = {
    val it = reg.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.session eq spark) {
        it.remove()
        try e.free() catch { case _: Throwable => () }
      }
    }
  }
}

/** The library's one way to read aggregates off a pass it runs anyway
  * (Spark's `Dataset.observe`): [[run]] builds a plan with named metric
  * sets attached, runs the caller's action on it, and returns the
  * action's result with one row per observation, keyed by its name.
  *
  * The helper owns the action because an Observation only completes
  * when a TRACKED Dataset action on its plan finishes (a write,
  * `collect`, `localCheckpoint`): an untracked one such as
  * `queryExecution.toRdd.foreach` never completes it, and a failed one
  * completes it with partial metrics. So a failed action's error
  * propagates before any metric is read, and a delivery that never
  * comes raises after [[Bound]] instead of hanging. An observation
  * below a shuffle that adaptive execution finds empty is pruned with
  * its subtree and reports an empty row, so such a caller keeps the
  * shuffle non-empty ([[Validator.collectViolations]] does). */
private[graft] object Observed {
  /** Metrics reach the Observation on the listener bus just after the
    * action returns; the bound only catches a delivery that never comes. */
  val Bound: FiniteDuration = 10.seconds

  /** `plan` gets the attach function `(frame, name, metrics) => frame`;
    * `action` runs on the frame `plan` returns. Names must differ
    * within one plan (Spark rejects a repeated name). */
  def run[T](plan: ((DataFrame, String, Seq[Column]) => DataFrame) => DataFrame)(
      action: DataFrame => T): (T, Map[String, Row]) = {
    val attached = scala.collection.mutable.ListBuffer.empty[Observation]
    val result = action(plan { (frame, name, metrics) =>
      attached += Observation(name)
      frame.observe(attached.last, metrics.head, metrics.tail: _*)
    })
    result -> attached.map(o => o.name -> (try Await.result(o.future, Bound) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"observation '${o.name}' got no metrics within $Bound of its action")
    })).toMap
  }
}

/** Standard session factory for graft entry points (Bench/Verify/specs).
  *
  * Owns every session-level conf the library depends on, so no reader or
  * operator ever mutates the running session behind the user's back:
  *
  *  - `spark.sql.shuffle.partitions` sized to the core count (local mode;
  *    on a real cluster set it to ~2-3× total executor cores, or leave
  *    AQE coalescing to shrink it).
  *  - `spark.sql.legacy.parquet.nanosAsLong` — the driver-generated
  *    events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
  *    reader only admits as a raw Long under this flag; [[tables.events]]
  *    truncates to micros. Set here, at build time, not inside a reader.
  *  - AQE on (default in Spark 4) — runtime partition coalescing and
  *    skew-join splitting are part of the 100 TB design.
  */
object GraftSession {

  /** Build a local session with `cpus` threads. */
  def local(cpus: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .getOrCreate()

  /** Release what graft's own operators materialized in `spark`: the
    * registered persists and `localCheckpoint`s of [[InternalCaches]].
    *
    * The composed pipelines (corpus prep, incremental MinHash, token
    * chunking, cluster propagation) deliberately checkpoint
    * intermediate frames — each boundary kills a measured recompute.
    * Checkpoint blocks can be spilled, never evicted, so in a
    * long-lived session that runs MANY such jobs they accumulate and
    * squeeze execution memory for every later job. Call this between
    * jobs once a job's result has been fully consumed.
    *
    * Scope: only entries registered under `spark` are freed. Other
    * sessions of the same SparkContext keep theirs, and frames the
    * caller `cache()`d or checkpointed itself are the caller's to
    * release (the ContextCleaner frees an unreferenced checkpoint).
    *
    * Contract: after release, a frame backed by a released graft
    * checkpoint CANNOT be re-executed (there is nothing left to
    * recompute from) — only call when prior results are consumed or
    * persisted externally. Checkpoint RDDs unpersist blocking, so the
    * memory is free when the next job starts. */
  def releaseCachedBlocks(spark: SparkSession): Unit = InternalCaches.release(spark)

  /** Apply graft's required confs to any builder (cluster deploys too).
    * Also registers the native kernels as SQL functions
    * (word_shingles/minhash_sig/minhash_bands/simhash64/cosine_sim) via
    * the standard SparkSessionExtensions hook. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new org.apache.spark.sql.graftexpr.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bucketed saveAsTable needs a warehouse; keep it out of the cwd
      // AND unique per JVM — the in-memory catalog starts empty each
      // run, so a stale shared location would fail saveAsTable with
      // LOCATION_ALREADY_EXISTS. (Cluster deploys override this with
      // their real warehouse + persistent catalog.)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
}
