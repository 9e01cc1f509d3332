package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.GStream
import graft.streaming.GStream.{SEvent, SessionInfo}

/** ST1, ST2: streaming window agg equals the batch plan on the same
  * data; stateful sessionization closes sessions on gaps and timeouts. */
class StreamingSpec extends SparkSpec {

  object SEvents extends GSchema {
    val user_id    = col[Long]("user_id")
    val ts         = col[Timestamp]("ts")
    val event_type = col[String]("event_type")
  }

  private def t(iso: String): Timestamp = Timestamp.from(Instant.parse(iso))

  test("ST1: MemoryStream tumbling window agg == identical batch agg") {
    val events = Seq(
      SEvent(1L, t("2024-01-01T10:05:00Z"), "a"),
      SEvent(2L, t("2024-01-01T10:20:00Z"), "a"),
      SEvent(3L, t("2024-01-01T10:40:00Z"), "b"),
      SEvent(4L, t("2024-01-01T11:10:00Z"), "a"),
    )
    def windowed(tf: TFrame[SEvents.type]) =
      GStream.tumblingAgg(tf, SEvents.ts, "1 hour", "10 minutes",
        Seq(SEvents.event_type), Seq(gref[Long]("user_id").count.asName("n")))

    val input = MemoryStream(Encoders.product[SEvent], spark)
    val stf = new TFrame[SEvents.type](input.toDF(), Some(SEvents))
    val q = windowed(stf).writeStream
      .format("memory").queryName("st1_out").outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // advance the watermark far past every window so they all finalize
      input.addData(Seq(SEvent(99L, t("2024-01-01T20:00:00Z"), "flush")))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("st1_out")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = windowed(Tio.fromRows(spark, SEvents, events)(Encoders.product[SEvent]))
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed == batch)
    assert(batch.map(x => (x._2, x._3)) == Set(("a", 2L), ("b", 1L), ("a", 1L)))
  }

  test("ST1: deterministic sampling and splits apply to streams, stream == batch") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Sampling
    // stateless narrow ops: the same rows survive (and get the same
    // split) whether the data arrives as a stream or a batch
    val docs = (1L to 200L).map(i => Doc(i, s"doc number $i body"))
    val input = MemoryStream(Encoders.product[Doc], spark)
    val sampled = Sampling.withSplit(
      Sampling.sampleHash(input.toDF(), col("doc_id"), 0.5, seed = 3),
      col("doc_id"), "split", Seq("train" -> 0.9, "val" -> 0.1), seed = 3)
    val q = sampled.writeStream
      .format("memory").queryName("st1_sample_out").outputMode("append").start()
    try {
      input.addData(docs.take(100)); q.processAllAvailable()
      input.addData(docs.drop(100)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st1_sample_out")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    import spark.implicits._
    val batch = Sampling.withSplit(
        Sampling.sampleHash(docs.toDF(), col("doc_id"), 0.5, seed = 3),
        col("doc_id"), "split", Seq("train" -> 0.9, "val" -> 0.1), seed = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("ST4: streaming decontamination == the batch keep, stateless across batches") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog tonight"
    val docs = (1L to 60L).map { i =>
      if (i % 5 == 0) Doc(i, s"prefix $i " + boiler)   // contaminated
      else Doc(i, s"unique document body number $i with its own words $i")
    }
    val bench = Seq((9001L, boiler)).toDF("doc_id", "text")
    val input = MemoryStream(Encoders.product[Doc], spark)
    val kept = graft.streaming.GStream.decontamStream(
      input.toDF(), col("text"), bench, col("text"), k = 5)
    val q = kept.writeStream
      .format("memory").queryName("st4_decontam_out").outputMode("append").start()
    try {
      input.addData(docs.take(30)); q.processAllAvailable()
      input.addData(docs.drop(30)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st4_decontam_out")
      .select("doc_id").as[Long].collect().toSet
    val batch = Dedup.decontaminatedKeep(
        docs.toDF(), col("doc_id"), col("text"), bench, col("text"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(!streamed.exists(_ % 5 == 0))   // every planted doc dropped
  }

  test("ST5: streaming Gopher gate == batch keep; bucket assignment attaches to a stream") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFns
    import graft.operators.Profile
    import spark.implicits._
    val good = ("the quick brown words flow nicely and that prose has normal " +
      "shape with enough variety to be kept around here plus filler tokens " +
      "of usual length and a few more ordinary words to clear the fifty " +
      "word floor that the published gopher gate requires for any document " +
      "to be considered long enough to carry real training signal today")
    val docs = (1L to 40L).map(i =>
      if (i % 4 == 0) Doc(i, good + s" tail$i") else Doc(i, s"too short $i"))
    val input = MemoryStream(Encoders.product[Doc], spark)
    val gated = graft.streaming.GStream.qualityGateStream(input.toDF(), col("text"))
    val q = gated.writeStream
      .format("memory").queryName("st5_gate_out").outputMode("append").start()
    try {
      input.addData(docs.take(20)); q.processAllAvailable()
      input.addData(docs.drop(20)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st5_gate_out").select("doc_id").as[Long].collect().toSet
    val batch = docs.toDF().withColumn("g", TextFns.gopherFlags(col("text")))
      .where(col("g.keep")).select("doc_id").as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.forall(_ % 4 == 0))
    // bucketByQuantiles: thresholds from a STATIC reference, the narrow
    // assignment applied to the stream verbatim
    val ref = (1 to 100).map(i => (i.toLong, i)).toDF("doc_id", "n_chars")
    val ts = Profile.quantileThresholds(ref, col("n_chars"), Seq(0.5))
    val input2 = MemoryStream(Encoders.product[(Long, Int)], spark)
    val bucketed = Profile.bucketByThresholds(
      input2.toDF().toDF("doc_id", "n_chars"), col("n_chars"), ts, "b")
    val q2 = bucketed.writeStream
      .format("memory").queryName("st5_bucket_out").outputMode("append").start()
    try { input2.addData(Seq((1L, 10), (2L, 90))); q2.processAllAvailable() }
    finally q2.stop()
    val got = spark.table("st5_bucket_out")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 0, 2L -> 1))
  }

  test("ST7: streaming quality-LR score == batch score bit-for-bit across micro-batches") {
    import org.apache.spark.sql.functions.col
    import graft.operators.LogReg
    import spark.implicits._
    // model trained on a STATIC labeled reference frame at build time
    val ref = ((1L to 20L).map(i =>
      (i, Array.fill(15)("the quick brown fox and that dog").mkString(" "), true)) ++
      (21L to 40L).map(i => (i, s"tiny $i", false))).toDF("doc_id", "text", "label")
    val model = LogReg.train(ref, col("text"), col("label"))
    val docs = (1L to 30L).map(i =>
      if (i % 2 == 0) Doc(i, Array.fill(20)("plenty of good words here").mkString(" "))
      else Doc(i, s"tiny $i"))
    val input = MemoryStream(Encoders.product[Doc], spark)
    val scored = graft.streaming.GStream.qualityScoreStream(
      input.toDF(), col("doc_id"), col("text"), model)
    val q = scored.writeStream
      .format("memory").queryName("st7_score_out").outputMode("append").start()
    try {
      input.addData(docs.take(15)); q.processAllAvailable()
      input.addData(docs.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st7_score_out")
      .as[(Long, Long, Boolean)].collect().toSet
    val batch = LogReg.score(docs.toDF(), col("doc_id"), col("text"), model)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    // the long docs clear the threshold, the tiny ones don't
    assert(streamed.forall { case (id, _, keep) => keep == (id % 2 == 0) })
  }

  test("ST6: streaming C4 cleaning == batch keep with rewritten text across micro-batches") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFns
    import spark.implicits._
    val docs = (1L to 30L).map { i =>
      if (i % 3 == 0)
        Doc(i, s"A kept sentence number $i stands here.\nAnother fine line follows it too.")
      else if (i % 3 == 1)
        Doc(i, s"no terminal punctuation line $i\nstill nothing here")
      else
        Doc(i, s"Great line number $i sits here.\nlorem ipsum dolor sit amet.")
    }
    val input = MemoryStream(Encoders.product[Doc], spark)
    val cleaned = graft.streaming.GStream.c4CleanStream(
      input.toDF(), col("text"), minSentences = 2)
    val q = cleaned.writeStream
      .format("memory").queryName("st6_c4_out").outputMode("append").start()
    try {
      input.addData(docs.take(15)); q.processAllAvailable()
      input.addData(docs.drop(15)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st6_c4_out")
      .select(col("doc_id"), col("c4.text_clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = docs.toDF().withColumn("c", TextFns.c4Clean(col("text"), minSentences = 2))
      .where(col("c.keep"))
      .select(col("doc_id"), col("c.text_clean"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.keySet.forall(_ % 3 == 0))   // lorem docs gated, bare lines starve
  }

  test("ST1: MemoryStream sliding window agg == identical batch agg, with overlap") {
    val events = Seq(
      SEvent(1L, t("2024-01-01T10:05:00Z"), "a"),
      SEvent(2L, t("2024-01-01T10:20:00Z"), "a"),
      SEvent(3L, t("2024-01-01T10:40:00Z"), "b"),
    )
    def windowed(tf: TFrame[SEvents.type]) =
      GStream.slidingAgg(tf, SEvents.ts, "1 hour", "30 minutes", "10 minutes",
        Seq(SEvents.event_type), Seq(gref[Long]("user_id").count.asName("n")))

    val input = MemoryStream(Encoders.product[SEvent], spark)
    val stf = new TFrame[SEvents.type](input.toDF(), Some(SEvents))
    val q = windowed(stf).writeStream
      .format("memory").queryName("st1_slide_out").outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      input.addData(Seq(SEvent(99L, t("2024-01-01T20:00:00Z"), "flush")))
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val streamed = rows(spark.table("st1_slide_out"))
    val batch = rows(windowed(Tio.fromRows(spark, SEvents, events)(Encoders.product[SEvent])))
    assert(streamed == batch)
    // overlap: both "a" events (10:05, 10:20) land in BOTH the
    // [09:30,10:30) and [10:00,11:00) windows — two window_starts,
    // count 2 in each (a tumbling 1h window would emit one row)
    val aRows = batch.filter(_._2 == "a")
    assert(aRows.map(_._1).size == 2 && aRows.map(_._3) == Set(2L))
  }

  test("ST1: readStreamJson streams a jsonl drop with the pinned schema") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-sjson").toString
    val data = s"$dir/data"
    Tio.writeJson(Tio.fromRows(spark, SEvents,
      Seq(SEvent(1L, t("2024-01-01T10:05:00Z"), "a")))(Encoders.product[SEvent]), data)
    val q = GStream.readStreamJson(spark, data, SEvents).toNative
      .writeStream.format("memory").queryName("sjson_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sjson_out").where(col("event_type") === "a").count() == 1L)
    } finally q.stop()
  }

  test("ST2: sessionize closes sessions on gap and on event-time timeout") {
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ev(uid: Long, sec: Long) = SEvent(uid, new Timestamp(base + sec * 1000), "x")

    val input = MemoryStream(Encoders.product[SEvent], spark)
    val sessions = GStream.sessionize(input.toDS(), gapMs = 100000L, watermarkDelay = "10 seconds")
    val q = sessions.writeStream
      .format("memory").queryName("st2_out").outputMode("append").start()
    try {
      input.addData(Seq(ev(1L, 0), ev(1L, 30), ev(1L, 200)))
      q.processAllAvailable() // gap 30→200 closes session {0..30}
      input.addData(Seq(ev(1L, 1000)))
      q.processAllAvailable() // closes session {200}
      input.addData(Seq(ev(2L, 5000)))
      q.processAllAvailable() // watermark → 4990
      input.addData(Seq(ev(2L, 6000)))
      q.processAllAvailable() // timeout fires for u1 session {1000}
    } finally q.stop()

    val got = spark.table("st2_out").as[SessionInfo](Encoders.product[SessionInfo])
      .collect().filter(_.user_id == 1L)
      .map(s => (s.start.getTime - base, s.end.getTime - base, s.n_events)).toSet
    assert(got == Set((0L, 30000L, 2L), (200000L, 200000L, 1L), (1000000L, 1000000L, 1L)))
  }

  test("ST2 × L33: streaming sessionize agrees with the batch Timeline rollup") {
    // two INDEPENDENT implementations of gap sessionization
    // (flatMapGroupsWithState vs lag/running-sum windows) must produce
    // the same closed sessions on the same data
    import org.apache.spark.sql.functions.col
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ev(uid: Long, sec: Long) = SEvent(uid, new Timestamp(base + sec * 1000), "x")
    val events = Seq(
      ev(1L, 0), ev(1L, 30), ev(1L, 200), ev(1L, 1000),
      ev(2L, 10), ev(2L, 90), ev(2L, 300))

    val input = MemoryStream(Encoders.product[SEvent], spark)
    val q = GStream.sessionize(input.toDS(), gapMs = 100000L, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("st2x_out").outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      input.addData(Seq(ev(99L, 100000))) // advance watermark: close all
      q.processAllAvailable()
      input.addData(Seq(ev(99L, 200000)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("st2x_out").as[SessionInfo](Encoders.product[SessionInfo])
      .collect().filter(_.user_id <= 2L)
      .map(s => (s.user_id, s.start.getTime, s.end.getTime, s.n_events)).toSet

    import spark.implicits._
    val batchEv = events.map(e => (e.user_id, e.ts.getTime, 0.0))
      .toDF("user_id", "ms", "value")
    val batch = graft.operators.Timeline.sessionStats(
        batchEv, Seq("user_id"), "ms", gap = 100000L, valueCol = "value")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Long]("n_events"))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("ST3: streaming incremental dedup catches duplicates across micro-batches via the index") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup").toString
    val input = MemoryStream(Encoders.product[Doc], spark)
    val q = GStream.dedupStream(input.toDF(), col("doc_id"), col("text"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.5, checkpointDir = s"$tmp/ckpt")
    try {
      input.addData(Seq(
        Doc(1L, "the quick brown fox jumps over the lazy dog"),
        Doc(2L, "The quick  brown fox jumps over the lazy dog"), // in-batch dup of 1
        Doc(3L, "completely different content about spark executors tonight")))
      q.processAllAvailable()
      input.addData(Seq(
        Doc(10L, "the quick brown fox jumps over the lazy dog"), // dup of INDEXED 1
        Doc(11L, "yet another entirely new document with fresh words")))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally q.stop()

    val ids = spark.read.parquet(s"$tmp/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 3L, 11L))
    // the index carries every survivor: a fresh batch query sees them
    assert(graft.operators.Dedup.readIndexParams(spark, s"$tmp/idx").contains((3, 128, 64)))
  }

  test("ST3: dedupStream releases its micro-batch caches and never the caller's") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.storage.StorageLevel
    val cm = spark.sharedState.cacheManager
    spark.sqlContext.clearCache()
    GraftSession.releaseCachedBlocks(spark)
    // a persist the CALLER's session registered, alive across the stream
    val mine = InternalCaches.persist(spark.range(0, 100).select((col("id") * 2).as("x")))
    assert(mine.count() == 100L)

    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup-rel").toString
    val input = MemoryStream(Encoders.product[Doc], spark)
    // each micro-batch runs on the stream's own clone of the session
    val batchSessions = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val probe = input.toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) => batchSessions.add(b.sparkSession); () }
      .start()
    val q = GStream.dedupStream(input.toDF(), col("doc_id"), col("text"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.5, checkpointDir = s"$tmp/ckpt")
    try {
      input.addData(Seq(
        Doc(1L, "the quick brown fox jumps over the lazy dog"),
        Doc(2L, "The quick  brown fox jumps over the lazy dog"), // in-batch dup of 1
        Doc(3L, "completely different content about spark executors tonight")))
      q.processAllAvailable()
      input.addData(Seq(
        Doc(10L, "the quick brown fox jumps over the lazy dog"), // dup of INDEXED 1
        Doc(11L, "yet another entirely new document with fresh words")))
      q.processAllAvailable()
      input.addData(Seq(
        Doc(20L, "completely different content about spark executors tonight"))) // dup of 3
      q.processAllAvailable()
      probe.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally { q.stop(); probe.stop() }

    assert(!batchSessions.isEmpty && batchSessions.toArray.forall(_ ne spark))
    val ids = spark.read.parquet(s"$tmp/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 3L, 11L))
    // the caller's entry is intact and is the only one left: the stream
    // released what its batches registered and nothing else
    assert(mine.storageLevel != StorageLevel.NONE)
    assert(mine.collect().map(_.getLong(0)).toSet == (0L until 200L by 2).toSet)
    GraftSession.releaseCachedBlocks(spark)
    assert(cm.isEmpty)
  }

  test("ST3: dedupStream resumes after restart — the index carries dedup state across queries") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup-rs").toString
    val input = MemoryStream(Encoders.product[Doc], spark)
    def start() = GStream.dedupStream(input.toDF(), col("doc_id"), col("text"),
      s"$tmp/idx", s"$tmp/out", threshold = 0.5, checkpointDir = s"$tmp/ckpt")

    val q1 = start()
    try {
      input.addData(Seq(
        Doc(1L, "the quick brown fox jumps over the lazy dog"),
        Doc(2L, "a totally separate document about streaming state stores")))
      q1.processAllAvailable()
    } finally q1.stop()

    val q2 = start() // fresh query, same checkpoint + same index
    try {
      input.addData(Seq(
        Doc(10L, "the quick brown fox jumps over the lazy dog"), // dup of PRE-RESTART 1
        Doc(11L, "new content arriving after the restart entirely")))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty)
    } finally q2.stop()

    val ids = spark.read.parquet(s"$tmp/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 2L, 11L)) // 10 caught against the pre-restart index
  }

  test("ST3: bootstrap refuses a non-empty param-less index but auto-repairs an empty orphan") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sdedup-boot").toString
    def del(p: String): Unit = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    }

    // (1) real accumulated state whose params/ went missing: starting the
    // stream must refuse — bootstrapping an empty index over it would
    // silently re-admit every historical duplicate
    val badIdx = s"$tmp/bad/idx"
    Dedup.writeMinHashIndex(
      Seq(Doc(1L, "the quick brown fox jumps over the lazy dog")).toDF(),
      col("doc_id"), col("text"), badIdx)
    del(s"$badIdx/params")
    val input0 = MemoryStream(Encoders.product[Doc], spark)
    val err = intercept[IllegalArgumentException] {
      GStream.dedupStream(input0.toDF(), col("doc_id"), col("text"),
        badIdx, s"$tmp/bad/out", threshold = 0.5, checkpointDir = s"$tmp/bad/ckpt")
    }
    assert(err.getMessage.contains("refusing"))

    // (2) the bootstrap's own crash signature — zero-row data dirs, no
    // params — auto-repairs: the stream starts unattended and dedups
    val okIdx = s"$tmp/ok/idx"
    Dedup.writeMinHashIndex(Seq.empty[Doc].toDF(), col("doc_id"), col("text"), okIdx)
    del(s"$okIdx/params")
    assert(Dedup.indexDataExists(spark, okIdx) && Dedup.indexDataIsEmpty(spark, okIdx))
    val input = MemoryStream(Encoders.product[Doc], spark)
    val q = GStream.dedupStream(input.toDF(), col("doc_id"), col("text"),
      okIdx, s"$tmp/ok/out", threshold = 0.5, checkpointDir = s"$tmp/ok/ckpt")
    try {
      input.addData(Seq(
        Doc(1L, "the quick brown fox jumps over the lazy dog"),
        Doc(2L, "The quick  brown fox jumps over the lazy dog"))) // in-batch dup of 1
      q.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally q.stop()
    val ids = spark.read.parquet(s"$tmp/ok/out")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L))
  }

  test("ST2: sessionize state survives a query restart from checkpoint") {
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ev(uid: Long, sec: Long) = SEvent(uid, new Timestamp(base + sec * 1000), "x")

    // memory sink doesn't support recovery; foreachBatch does — collect
    // emitted sessions into a driver-side buffer across both runs
    val buf = java.util.Collections.synchronizedList(new java.util.ArrayList[SessionInfo]())
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sess-ckpt").toString
    val input = MemoryStream(Encoders.product[SEvent], spark)
    val sessions = GStream.sessionize(input.toDS(), gapMs = 100000L, watermarkDelay = "10 seconds")
    def start() = sessions.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[SessionInfo], _: Long) =>
        ds.collect().foreach(buf.add)
      }
      .start()

    val q1 = start()
    try {
      input.addData(Seq(ev(1L, 0), ev(1L, 30)))
      q1.processAllAvailable() // leaves an OPEN session {0..30, n=2} in state
    } finally q1.stop()

    val q2 = start() // recover offsets + flatMapGroupsWithState state
    try {
      input.addData(Seq(ev(1L, 200))) // gap 30→200 closes the RESTORED session
      q2.processAllAvailable()
      assert(q2.exception.isEmpty)
    } finally q2.stop()

    import scala.jdk.CollectionConverters._
    val got = buf.asScala
      .map(s => (s.user_id, s.start.getTime - base, s.end.getTime - base, s.n_events)).toSet
    // both pre-restart events are in the emitted session: state survived
    assert(got.contains((1L, 0L, 30000L, 2L)))
  }

  test("ST2: an early above-watermark event beyond the gap forms its own session") {
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ev(uid: Long, sec: Long) = SEvent(uid, new Timestamp(base + sec * 1000), "x")

    val input = MemoryStream(Encoders.product[SEvent], spark)
    // huge watermark delay: even much-earlier events stay above-watermark
    // and reach the stateful function instead of being dropped upstream
    val sessions = GStream.sessionize(input.toDS(), gapMs = 10000L, watermarkDelay = "2 hours")
    val q = sessions.writeStream
      .format("memory").queryName("st2_early").outputMode("append").start()
    try {
      input.addData(Seq(ev(1L, 100)))
      q.processAllAvailable() // open session {100}
      // 50s is 50s before the session start — far beyond the 10s gap, so
      // it must become its own (already-gap-expired) session, NOT merge
      // into {100} and drag its start back
      input.addData(Seq(ev(1L, 50)))
      q.processAllAvailable()
      // 95s is within the gap of the session start: back-extends to {95..100}
      input.addData(Seq(ev(1L, 95)))
      q.processAllAvailable()
      // 300s closes the current session by gap: it must be {95..100}, 2 events
      input.addData(Seq(ev(1L, 300)))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally q.stop()

    val got = spark.table("st2_early").as[SessionInfo](Encoders.product[SessionInfo])
      .collect().map(s => (s.start.getTime - base, s.end.getTime - base, s.n_events)).toSet
    assert(got == Set((50000L, 50000L, 1L), (95000L, 100000L, 2L)))
  }

  test("ST2: a very late event cannot kill the query") {
    val base = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    def ev(uid: Long, sec: Long) = SEvent(uid, new Timestamp(base + sec * 1000), "x")

    val input = MemoryStream(Encoders.product[SEvent], spark)
    val sessions = GStream.sessionize(input.toDS(), gapMs = 10000L, watermarkDelay = "10 seconds")
    val q = sessions.writeStream
      .format("memory").queryName("st2_late").outputMode("append").start()
    try {
      // drive the watermark far ahead (t=5000s → watermark ≈ 4990s)
      input.addData(Seq(ev(1L, 5000)))
      q.processAllAvailable()
      // a drastically late event: end+gap (15s) is far below the
      // watermark. Spark 4 drops sub-watermark rows BEFORE
      // flatMapGroupsWithState (verified here: no user-2 state is ever
      // created), and sessionize's watermark clamp covers any path that
      // still reaches setTimeoutTimestamp with a stale end. Either way
      // the query must survive and keep emitting.
      input.addData(Seq(ev(2L, 5)))
      q.processAllAvailable()
      input.addData(Seq(ev(1L, 6000)))
      q.processAllAvailable()
      assert(q.exception.isEmpty)
    } finally q.stop()

    val out = spark.table("st2_late").as[SessionInfo](Encoders.product[SessionInfo])
      .collect().map(_.user_id).toSet
    // the late row was dropped pre-function: no user-2 session, and the
    // user-1 stream kept closing sessions normally
    assert(!out.contains(2L))
  }
}
