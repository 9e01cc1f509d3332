package graft

import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

import graft.operators.{NaiveBayes, Pack}

/** `GraftSession.releaseCachedBlocks` frees what graft registered under
  * the releasing session, and nothing of another session or the caller;
  * [[Observed]] never waits past its bound. */
class SessionSpec extends SparkSpec with TimeLimits {
  implicit val signaler: Signaler = ThreadSignaler

  test("Observed raises, naming the observation, when its action never completes it") {
    failAfter(Span(2, Minutes)) {
      // an RDD action on the plan runs no tracked Dataset action
      val e = intercept[IllegalStateException] {
        Observed.run(observe => observe(spark.range(0, 10).toDF(), "untracked", Seq(count(lit(1)))))(
          _.queryExecution.toRdd.foreach(_ => ()))
      }
      assert(e.getMessage.contains("'untracked'"), e.getMessage)
    }
  }

  test("a session's release leaves another session's checkpoints and user caches intact") {
    val a = spark
    val b = spark.newSession()
    val sc = a.sparkContext
    def persistentIds = sc.getPersistentRDDs.keySet

    // A: a frame backed by a graft checkpoint, and a user cache()
    val before = persistentIds
    val src = a.range(0, 2000).select(col("id"),
      (col("id") % 7 + 1).as("w"), (col("id") * 37 % 1000).cast("double").as("score"))
    val picked = Pack.selectByBudget(src, col("id"), col("w"), col("score"), budget = 500)
    val checkpointIds = persistentIds -- before
    assert(checkpointIds.nonEmpty, "selectByBudget should hold a checkpoint RDD")
    val cached = a.range(0, 1000).select((col("id") * 3).as("x")).cache()
    assert(cached.count() == 1000L)
    val cachedRdd = cached.queryExecution.withCachedData.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers
    }.get
    // a plan the user cached that graft then persists too (twice): graft
    // must register nothing, or its release would drop the user's entry
    val shared = a.range(0, 500).select((col("id") * 5).as("y")).cache()
    assert(shared.count() == 500L)
    val recached = captureWarnings("org.apache.spark.sql.execution.CacheManager") {
      InternalCaches.persist(shared)
      InternalCaches.persist(a.range(0, 500).select((col("id") * 5).as("y")))
    }
    assert(recached.isEmpty, s"graft re-persisted a cached plan: $recached")

    // B: an operator that registers a persist, then B's release
    val bDocs = b.createDataFrame(Seq(("spam", "buy cheap pills now"), ("ham", "see you at lunch")))
      .toDF("label", "text")
    val bCounts = NaiveBayes.fit(bDocs, col("label"), col("text")).tokenCounts
    assert(bCounts.storageLevel != StorageLevel.NONE)
    GraftSession.releaseCachedBlocks(b)

    val kept = picked.collect()
    assert(kept.map(_.getAs[Long]("weight")).sum <= 500L && kept.nonEmpty)
    val rel = cached.queryExecution.withCachedData.collectFirst { case r: InMemoryRelation => r }.get
    assert(rel.cacheBuilder.isCachedColumnBuffersLoaded)
    assert(sc.getRDDStorageInfo.exists(i => i.id == cachedRdd.id && i.numCachedPartitions > 0),
      "A's user cache must keep its blocks")
    assert(bCounts.storageLevel == StorageLevel.NONE, "B's entry must be gone")

    // A's own release frees A's checkpoint, and still not the user cache
    GraftSession.releaseCachedBlocks(a)
    assert((persistentIds intersect checkpointIds).isEmpty)
    assert(persistentIds.contains(cachedRdd.id))
    assert(shared.storageLevel != StorageLevel.NONE,
      "the user's cache of a plan graft also persisted must survive graft's release")
    cached.unpersist(blocking = true)
    shared.unpersist(blocking = true)
  }
}
