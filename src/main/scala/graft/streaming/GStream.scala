package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}

import graft._
import graft.operators.Dedup

/** Structured-streaming surface (SURVEY §2.6). The reference has no
  * streaming story — this is the Spark-native extension: the same typed
  * schema layer over `readStream`, event-time windows with watermarks
  * (ST1), and stateful gap sessionization via `flatMapGroupsWithState`
  * (ST2).
  *
  * Batch/stream unification is Spark's own: [[tumblingAgg]] produces the
  * identical logical plan on a batch frame, which is what the
  * StreamingSpec pins (MemoryStream result == q18-shaped batch result).
  */
object GStream {

  /** Typed streaming read over a parquet directory: the streaming twin of
    * [[Tio.readParquet]] — schema comes from the GSchema (a stream can't
    * infer), columns pruned to the declared set. */
  def readStreamParquet[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] = {
    val raw = spark.readStream.schema(schema.structType).parquet(path)
    new TFrame[S](raw.select(schema.columnNames.map(col): _*), Some(schema))
  }

  /** Typed streaming read over JSON-lines files — the streaming twin of
    * [[Tio.readJson]], for corpora that land as jsonl drops. Schema is
    * pinned (a stream can't infer), FAILFAST on corrupt lines. */
  def readStreamJson[S <: GSchema](spark: SparkSession, path: String, schema: S): TFrame[S] = {
    val raw = spark.readStream.schema(schema.structType)
      .option("mode", "FAILFAST").json(path)
    new TFrame[S](raw.select(schema.columnNames.map(col): _*), Some(schema))
  }

  /** ST1 — tumbling event-time window aggregation with a watermark.
    * Works identically on streaming and batch frames; on a stream the
    * watermark bounds state (windows older than it are finalized and
    * dropped — mandatory for an unbounded 100 TB/day stream). */
  def tumblingAgg[S <: GSchema](
      tf: TFrame[S],
      ts: GCol[Timestamp],
      windowDuration: String,
      watermarkDelay: String,
      keys: Seq[GCol[_]],
      aggs: Seq[Aliased],
  ): DataFrame =
    windowedAgg(tf, ts, window(col(ts.name), windowDuration), watermarkDelay, keys, aggs)

  /** ST1 (sliding variant) — overlapping event-time windows: each event
    * lands in `windowDuration / slideDuration` windows. Same watermark
    * state-bounding contract as [[tumblingAgg]]; state grows by the
    * overlap factor, so keep the ratio modest on high-cardinality keys. */
  def slidingAgg[S <: GSchema](
      tf: TFrame[S],
      ts: GCol[Timestamp],
      windowDuration: String,
      slideDuration: String,
      watermarkDelay: String,
      keys: Seq[GCol[_]],
      aggs: Seq[Aliased],
  ): DataFrame =
    windowedAgg(tf, ts, window(col(ts.name), windowDuration, slideDuration),
      watermarkDelay, keys, aggs)

  private def windowedAgg[S <: GSchema](
      tf: TFrame[S], ts: GCol[Timestamp], win: Column,
      watermarkDelay: String, keys: Seq[GCol[_]], aggs: Seq[Aliased]): DataFrame = {
    val wm = if (tf.df.isStreaming) tf.df.withWatermark(ts.name, watermarkDelay) else tf.df
    wm.groupBy(win +: keys.map(_.column): _*)
      .agg(aggs.head.column, aggs.tail.map(_.column): _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
  }

  // ------------------------------------------------------------- ST3
  /** Streaming incremental near-dedup over a document stream: each
    * micro-batch is deduped against the persisted MinHash index (and
    * within itself) via [[Dedup.minhashKeepIncremental]]; survivors
    * land in `outPath/batch_id=N/` and are appended to the index. The
    * index IS the stream's dedup state — kept on shared storage, not
    * the state store, so it survives restarts, has no watermark-bounded
    * horizon (a duplicate of a document ingested months ago is still
    * caught), and is shared with batch pipelines.
    *
    * Delivery contract: idempotent end-to-end under replay. Per-batch
    * output directories are OVERWRITTEN, and `minhashKeepIncremental`
    * ignores index entries carrying the replayed batch's own ids, so a
    * batch retried after a mid-write failure reproduces byte-identical
    * survivors; the index append itself is at-least-once, but duplicate
    * index entries for an id are inert (the indexed bucket side is
    * deduplicated before the hot-bucket guard counts members, candidates
    * are distinct, self ids excluded). Doc ids must be globally unique
    * across the stream. */
  def dedupStream(
      docs: DataFrame, id: Column, text: Column, indexPath: String, outPath: String,
      threshold: Double, checkpointDir: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64): StreamingQuery = {
    val spark = docs.sparkSession
    if (Dedup.readIndexParams(spark, indexPath).isEmpty) {
      // Missing params + existing NON-EMPTY data is a half-written index
      // (e.g. a crash inside a previous creation): bootstrapping over it
      // would overwrite the accumulated dedup state with an empty index
      // and silently re-admit every historical duplicate. Refuse; repair
      // is an explicit decision. The one self-inflicted case we CAN
      // repair safely: this function's own empty-index bootstrap crashed
      // between its (zero-row) data writes and the params write — the
      // orphaned directories verifiably hold no state, so re-running the
      // bootstrap loses nothing and the stream restarts unattended.
      require(!Dedup.indexDataExists(spark, indexPath) || Dedup.indexDataIsEmpty(spark, indexPath),
        s"MinHash index at $indexPath has non-empty buckets/ or shingles/ but no params/ — " +
          "refusing to bootstrap an empty index over existing data; restore params/ or " +
          "explicitly re-create the index with Dedup.writeMinHashIndex(mode = \"overwrite\")")
      // bootstrap an empty index so the first micro-batch has something
      // to join against (and the params are pinned up front); overwrite
      // mode replaces any verifiably-empty orphaned directories
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], docs.schema)
      Dedup.writeMinHashIndex(empty, id, text, indexPath, shingleK, numHashes, bands)
    }
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val kept = Dedup
          .minhashKeepIncremental(batch.toDF(), id, text, indexPath, threshold)
          .persist() // compute survivors ONCE, consume twice, then release
        try {
          kept.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
          if (!kept.isEmpty)
            Dedup.writeMinHashIndex(kept, id, text, indexPath, shingleK, numHashes, bands,
              mode = "append")
        } finally {
          kept.unpersist(blocking = false)
          // Release what the batch's operators registered (guard, collapse
          // and candidate persists, the shingle-set checkpoint): without a
          // per-batch release a long-running stream accumulates them per
          // micro-batch. Each micro-batch runs on the stream's own clone
          // of the session, so this never touches the caller's caches.
          GraftSession.releaseCachedBlocks(batch.sparkSession)
        }
      }
      .start()
  }

  // ------------------------------------------------------------- ST4
  /** Streaming benchmark decontamination: the L15 keep applied to a
    * document STREAM. [[graft.operators.Dedup.decontaminatedKeepSet]]
    * is a pure narrow stateless filter (driver-side bench fingerprint
    * set compiled into an `InSet` probe — no join, no shuffle, no
    * watermark, no state store), so it attaches to any streaming
    * DataFrame unchanged; this wrapper exists to document the
    * contract: the bench is STATIC and small (eval-set sized — its
    * fingerprints are collected to the driver when the query is
    * BUILT; a bench update requires restarting the stream), and
    * exactly-once output is the sink's concern, as with any narrow
    * streaming transform. For large or evolving benches run the
    * broadcast/bloom batch keeps per micro-batch via foreachBatch
    * (the [[dedupStream]] pattern). */
  def decontamStream(
      docs: DataFrame, text: Column,
      bench: DataFrame, benchText: Column, k: Int = 8): DataFrame = {
    require(docs.isStreaming, "decontamStream expects a streaming DataFrame")
    require(!bench.isStreaming, "the benchmark side must be static")
    Dedup.decontaminatedKeepSet(docs, text, bench, benchText, k)
  }

  // ------------------------------------------------------------- ST5
  /** Streaming quality gate: the L39 Gopher rule filter applied to a
    * document STREAM. [[graft.functions.TextFns.gopherFlags]] is one
    * narrow stateless struct expression (no join, no shuffle, no
    * state), so it attaches to any streaming DataFrame unchanged; the
    * wrapper documents the contract and keeps the flag struct in the
    * output for per-rule monitoring sinks. The same argument covers
    * quantile bucketing: compute
    * [[graft.operators.Profile.quantileThresholds]] on a STATIC
    * reference frame when the query is built, then
    * [[graft.operators.Profile.bucketByThresholds]] (a narrow
    * comparison chain) applies to the stream directly.
    * Model SCORING ([[graft.operators.NaiveBayes.score]], NgramLM) is
    * NOT narrow (per-doc aggregation); run it per micro-batch via
    * foreachBatch, the [[dedupStream]] pattern. */
  def qualityGateStream(docs: DataFrame, text: Column, flagsCol: String = "gopher"): DataFrame = {
    require(docs.isStreaming, "qualityGateStream expects a streaming DataFrame")
    docs.withColumn(flagsCol, graft.functions.TextFns.gopherFlags(text))
      .where(col(s"$flagsCol.keep"))
  }

  /** ST6 — the C4 line/document cleaning attached to a stream: like
    * the Gopher gate, [[graft.functions.TextFns.c4Clean]] is one
    * narrow STATELESS struct expression (line rewrite + page flags),
    * so it needs no watermark, no state store, and no stream-static
    * join — micro-batch results are byte-identical to the batch
    * operator on the same rows. Kept pages get their REWRITTEN text in
    * `structCol.text_clean`; per-rule flags stay for monitoring sinks. */
  def c4CleanStream(
      docs: DataFrame, text: Column, structCol: String = "c4",
      minLineWords: Int = 3, minSentences: Int = 5,
      blockedPhrases: Seq[String] = Nil): DataFrame = {
    require(docs.isStreaming, "c4CleanStream expects a streaming DataFrame")
    docs.withColumn(structCol,
        graft.functions.TextFns.c4Clean(text, minLineWords, minSentences, blockedPhrases))
      .where(col(s"$structCol.keep"))
  }

  /** ST7 — the L53 quality-classifier score attached to a stream:
    * [[graft.operators.LogReg.score]] is one narrow stateless
    * projection (exact-ratio features + a sigmoid — no join, no
    * shuffle, no state), so a model TRAINED on a static labeled
    * reference frame (the published fit-once-score-everything
    * classifier contract) scores an unbounded document stream with
    * micro-batch results byte-identical to the batch operator on the
    * same rows. Re-training requires restarting the query — the
    * model rides the plan, the [[decontamStream]] caveat. */
  def qualityScoreStream(
      docs: DataFrame, id: Column, text: Column,
      model: graft.operators.LrModel): DataFrame = {
    require(docs.isStreaming, "qualityScoreStream expects a streaming DataFrame")
    graft.operators.LogReg.score(docs, id, text, model)
  }

  // ------------------------------------------------------------- ST2
  /** Input row for sessionization. */
  final case class SEvent(user_id: Long, ts: Timestamp, event_type: String)
  /** One closed (gap-expired) session. */
  final case class SessionInfo(user_id: Long, start: Timestamp, end: Timestamp, n_events: Long)
  // Public: Spark codegen instantiates the state encoder's target class,
  // which a private case class blocks at runtime.
  final case class SessState(startMs: Long, endMs: Long, n: Long)

  /** ST7 — streaming WARC/WET ingestion: the incremental-crawl twin of
    * [[Tio.readWarc]] for archives LANDING in a directory (the
    * continuous-crawl flow — new segments appear as files; batch
    * ingestion re-lists everything). Spark's `binaryFile` streaming
    * source tracks newly-arrived files (whole-file `content` per row,
    * exactly the not-splittable-archive unit [[graft.sources.Warc]]
    * parallelizes by) and the same ISO 28500 record walk flat-maps
    * each archive into WarcRows — the batch reader's degrade-not-die
    * contract unchanged. Source state is the seen-files log only;
    * record parsing is stateless, so any downstream watermark/agg
    * composes. `maxFilesPerTrigger` bounds a micro-batch (an archive
    * is ~1 GB — a handful per trigger keeps executor memory flat). */
  def readStreamWarc(spark: SparkSession, path: String,
      maxPayloadBytes: Int = 16 * 1024 * 1024,
      maxFilesPerTrigger: Option[Int] = None,
      decodePayloadText: Boolean = true): DataFrame = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}
    // binaryFile's schema is FIXED by the source; the streaming API
    // still requires it stated (a stream cannot infer)
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    var reader = spark.readStream.format("binaryFile").schema(binarySchema)
    maxFilesPerTrigger.foreach(n => reader = reader.option("maxFilesPerTrigger", n.toString))
    reader.load(path)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])](Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .flatMap { case (file, bytes) =>
        graft.sources.Warc.parseBytes(file, bytes, maxPayloadBytes, decodePayloadText)
      }(Encoders.product[graft.sources.Warc.WarcRow])
      .toDF()
  }

  /** ST2 — gap-based sessionization with `flatMapGroupsWithState`:
    * events within `gapMs` of the session's end extend it; a larger gap
    * (or event-time timeout once the watermark passes end+gap) closes it
    * and emits a [[SessionInfo]]. State per key is one tiny record; the
    * watermark timeout guarantees state is dropped — bounded memory on an
    * unbounded stream. */
  def sessionize(events: Dataset[SEvent], gapMs: Long, watermarkDelay: String = "10 seconds"): Dataset[SessionInfo] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionInfo](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) { (uid, evts, state) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(SessionInfo(uid, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n))
        } else {
          // Interval sweep over (existing session ∪ batch events) sorted
          // by start time: adjacent items merge when separated by <= gap.
          // This handles an above-watermark event EARLIER than the open
          // session correctly — within the gap of startMs it back-extends
          // the session; beyond it, it forms (and closes) its own earlier
          // session instead of dragging startMs arbitrarily backwards
          // (the naive `t - endMs <= gap` test merges ANY earlier event).
          var closed = List.empty[SessionInfo]
          val items = (state.getOption.map(s => (s.startMs, s.endMs, s.n)).toList ++
            evts.map { e => val t = e.ts.getTime; (t, t, 1L) }.toList)
            .sortBy(x => (x._1, x._2))
          var cur: Option[(Long, Long, Long)] = None
          items.foreach { case item @ (s0, e0, n0) =>
            cur match {
              case Some((cs, ce, cn)) if s0 - ce <= gapMs =>
                cur = Some((cs, math.max(ce, e0), cn + n0))
              case Some((cs, ce, cn)) =>
                closed ::= SessionInfo(uid, new Timestamp(cs), new Timestamp(ce), cn)
                cur = Some(item)
              case None =>
                cur = Some(item)
            }
          }
          cur.map { case (cs, ce, cn) => SessState(cs, ce, cn) }.foreach { s =>
            state.update(s)
            // end+gap can be <= the current watermark when this batch's
            // events arrived very late; setTimeoutTimestamp rejects a
            // non-future timestamp with IllegalArgumentException (query
            // death). Clamp to watermark+1: the session then closes on
            // the next trigger instead of killing the stream.
            state.setTimeoutTimestamp(
              math.max(s.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
          }
          closed.reverseIterator
        }
      }
  }
}
