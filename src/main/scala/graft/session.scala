package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry for operator-INTERNAL persisted frames (currently the
  * hot-bucket guard's narrow bucket stream). Dataset-level `persist()`
  * registers a CacheManager entry that is NEVER auto-released — unlike
  * `localCheckpoint` RDDs, which the ContextCleaner collects once
  * unreferenced — so a long-lived session that builds many dedup plans
  * (a streaming micro-batch loop, a 53-query benchmark sweep) would
  * accumulate entries and blocks without bound. Operators register what
  * they persist; job boundaries drain: [[GStream.dedupStream]] after
  * each micro-batch, [[GraftSession.releaseCachedBlocks]] for
  * batch/bench flows. Draining only unpersists — the frames keep their
  * lineage (persist, not checkpoint), so a late consumer recomputes
  * instead of failing. References are STRONG deliberately: the
  * CacheManager holds the entry (plan + columnar blocks) regardless of
  * whether any Dataset object survives GC, so a weak registry would
  * lose the only handle that can remove the entry; the wrapper objects
  * held between drains are tiny next to the blocks they unlock. */
private[graft] object InternalCaches {
  private final case class Entry(threadId: Long, threadName: String, df: DataFrame)
  private val log = org.slf4j.LoggerFactory.getLogger("graft.InternalCaches")
  private val reg = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()

  /** Register a frame the operator just persisted; returns it. Entries
    * are tagged with the registering thread — the "flow" scope: a plan
    * is built and its caches registered on the thread that constructs
    * it (the main thread for batch/bench sweeps, the micro-batch
    * execution thread for a stream), and the SAME flow drains at its
    * own job boundary. */
  def register(df: DataFrame): DataFrame = {
    reg.add(Entry(Thread.currentThread().getId, Thread.currentThread().getName, df))
    df
  }

  private def unpersist(e: Entry): Unit =
    try e.df.unpersist(blocking = false)
    catch { case _: Throwable => () }

  /** Unpersist (and forget) the frames registered by THIS flow (= this
    * thread). Per-job-boundary hygiene: with two concurrent jobs in one
    * JVM (a streaming micro-batch loop next to a batch query), a global
    * drain here would unpersist the OTHER job's still-in-use bucket
    * cache mid-query — correctness survives (lineage is kept) but the
    * double-evaluation the persist exists to prevent silently returns.
    * Thread scoping removes that hazard for every current caller
    * (register and drain happen on the same thread in all flows). */
  def drain(): Unit = {
    val self = Thread.currentThread().getId
    val it = reg.iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.threadId == self) { it.remove(); unpersist(e) }
    }
  }

  /** Unpersist (and forget) EVERY registered frame, any flow —
    * whole-session cleanup for [[GraftSession.releaseCachedBlocks]],
    * whose contract already requires all prior results consumed. Warns
    * when it reaps another thread's entries: that is either a flow that
    * forgot its own boundary drain (a leak this backstop exists for) or
    * a concurrent job whose cache is being pulled mid-query. */
  def drainAll(): Unit = {
    val self = Thread.currentThread().getId
    var df = reg.poll()
    while (df != null) {
      if (df.threadId != self)
        log.warn("drainAll: releasing cache registered by " +
          s"thread '${df.threadName}' (#${df.threadId}) from " +
          s"'${Thread.currentThread().getName}' — if that flow is still running, " +
          "its persisted subtree will silently recompute")
      unpersist(df)
      df = reg.poll()
    }
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

  /** Drop every block the session's persisted / `localCheckpoint`ed
    * frames hold in the block manager.
    *
    * The composed pipelines (corpus prep, incremental MinHash, token
    * chunking, cluster propagation) deliberately `localCheckpoint`
    * intermediate frames — that is the correct per-job shape (each
    * boundary kills a measured recompute). But checkpoint blocks are a
    * lineage truncation point: Spark can spill them, never evict them,
    * so in a long-lived session that runs MANY such jobs the blocks
    * accumulate and squeeze execution memory for every later job
    * (measured: a 54-query benchmark sweep degrades ~10% pass-over-pass
    * from exactly this). Call this between jobs once a job's result has
    * been fully consumed.
    *
    * Contract: after release, frames whose lineage was truncated by the
    * dropped blocks CANNOT be re-executed (there is nothing left to
    * recompute from) — only call when prior results are consumed or
    * persisted externally. Blocking so the memory is actually free when
    * the next job starts. */
  def releaseCachedBlocks(spark: SparkSession): Unit = {
    // Dataset-level operator caches first: unpersisting through the
    // Dataset removes the CacheManager ENTRY, not just the blocks —
    // entries otherwise accumulate per built plan and are never GC'd.
    // drainAll (not the flow-scoped drain): this is whole-session
    // cleanup, and its contract above already demands prior results be
    // consumed; foreign-flow entries are reaped with a warning.
    InternalCaches.drainAll()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

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
