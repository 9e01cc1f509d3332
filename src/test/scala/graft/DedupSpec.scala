package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

final case class Doc(doc_id: Long, text: String)
final case class Emb(vec_id: Long, embedding: Seq[Float])

/** L1–L5 logic gates on planted duplicates — the ground-truth twin of
  * the rows-only driver gates (SURVEY §2.5). */
class DedupSpec extends SparkSpec {

  object Docs extends GSchema {
    val doc_id = col[Long]("doc_id")
    val text   = col[String]("text")
  }

  // 1 and 2 identical; 3 near-dup of 1 (last word changed: 6/8 shingles
  // shared, J = 0.75); 4 unrelated.
  private val docs = Seq(
    Doc(1L, "the quick brown fox jumps over the lazy dog"),
    Doc(2L, "The quick  brown fox jumps over the lazy dog"), // case+spacing: same normText
    Doc(3L, "the quick brown fox jumps over the lazy cat"),
    Doc(4L, "spark shuffles partitions across the cluster executors nightly"),
  )
  private def df = {
    import spark.implicits._
    Tio.fromRows(spark, Docs, docs).toNative
  }

  test("exactGroups collapses normalized duplicates to min-id representative") {
    val g = Dedup.exactGroups(df, col("text"), col("doc_id")).collect()
    assert(g.length == 3)
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("exactKeep drops only the higher-id exact duplicate") {
    val out = Dedup.exactKeep(df, col("text"), col("doc_id"))
    val kept = out.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L, 4L))
    // keep-list shape: no full-row window exchange in the plan — the
    // only aggregation shuffles (fingerprint, id), never the text
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected no window exchange, got:\n$plan")
  }

  test("exactKeepBy keeps the best-scored copy; ties and NULL scores break to min id") {
    import spark.implicits._
    val rows = Seq(
      // group A: 2 wins on score
      (1L, "the quick fox", 13L),
      (2L, "the  quick  fox", 15L),
      (3L, "The Quick Fox", 13L),
      // group B: equal scores -> min id 5
      (5L, "same score here", 8L),
      (6L, "same  score  here", 8L),
      // singleton
      (4L, "unique doc", 10L)).toDF("doc_id", "text", "score")
    val kept = Dedup.exactKeepBy(rows, col("text"), col("doc_id"), col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 5L, 4L))
    // NULL scores lose to any scored copy; an all-NULL group keeps min id
    val withNulls = Seq(
      (7L, "partly scored", None: Option[Long]),
      (8L, "partly  scored", Some(1L)),
      (9L, "never scored", None: Option[Long]),
      (10L, "never  scored", None: Option[Long])).toDF("doc_id", "text", "score")
    val keptN = Dedup.exactKeepBy(withNulls, col("text"), col("doc_id"), col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptN == Set(8L, 9L))
    // constant score degrades to exactKeep exactly
    val constKeep = Dedup.exactKeepBy(rows, col("text"), col("doc_id"),
        org.apache.spark.sql.functions.lit(1))
      .select("doc_id").as[Long].collect().toSet
    val plain = Dedup.exactKeep(rows, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().toSet
    assert(constKeep == plain)
  }

  test("minhash LSH candidates contain every true near-dup pair") {
    val cands = Dedup.minhashCandidates(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)) && cands.contains((1L, 3L)) && cands.contains((2L, 3L)))
  }

  test("jaccardPairs verifies candidates with exact set Jaccard") {
    val pairs = Dedup.jaccardPairs(df, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) == 0.75)
    assert(pairs((2L, 3L)) == 0.75)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhashKeep applies the min-id representative rule transitively down") {
    val kept = Dedup.minhashKeep(df, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 4L))
  }

  test("minhashKeepBy keeps the best-scored cluster member; ties, NULLs, and chains behave") {
    import spark.implicits._
    // fixture cluster {1, 2, 3}: 1~2 exact, 1~3 near (J=0.75) — one
    // transitive cluster; 4 is a singleton. Score = favor doc 3.
    val scored = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Some(10L)),
      (2L, "The quick  brown fox jumps over the lazy dog", Some(10L)),
      (3L, "the quick brown fox jumps over the lazy cat", Some(99L)),
      (4L, "spark shuffles partitions across the cluster executors nightly", Some(1L)))
      .toDF("doc_id", "text", "score")
    val kept = Dedup.minhashKeepBy(scored, col("doc_id"), col("text"), col("score"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"highest score must represent the cluster: $kept")
    // tie on score -> lowest id; NULL score loses to any scored member
    val ties = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", Some(10L)),
      (2L, "The quick  brown fox jumps over the lazy dog", Some(10L)),
      (3L, "the quick brown fox jumps over the lazy cat", None: Option[Long]),
      (4L, "spark shuffles partitions across the cluster executors nightly", None: Option[Long]))
      .toDF("doc_id", "text", "score")
    val keptT = Dedup.minhashKeepBy(ties, col("doc_id"), col("text"), col("score"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(keptT == Set(1L, 4L), s"tie -> min id, NULL loses, all-NULL singleton keeps: $keptT")
    // constant score degrades to exactly one member per cluster = the
    // min id (the minhashKeep representative)
    val constKeep = Dedup.minhashKeepBy(df, col("doc_id"), col("text"),
        org.apache.spark.sql.functions.lit(1), 0.5)
      .select("doc_id").as[Long].collect().toSet
    val plain = Dedup.minhashKeep(df, col("doc_id"), col("text"), 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(constKeep == plain)
  }

  test("exact-copy collapse: pairs and keeps match an all-pairs exact-Jaccard reference") {
    import org.apache.spark.sql.functions.{array_distinct, array_intersect, array_union, size}
    // Independent reference on real data: every pair of the 500 docs
    // (124,750 pairs) by cross join, exact shingle-set Jaccard >= 0.5 —
    // no LSH, no buckets, no collapse.
    val d = graft.tables.documents(spark, "/root/testdata/sf0.001").toNative
    val sets = d.select(col("doc_id"),
      array_distinct(graft.functions.TextFns.shingles(col("text"), 3)).as("s"))
    val ref = sets.toDF("id_a", "s_a").crossJoin(sets.toDF("id_b", "s_b"))
      .where(col("id_a") < col("id_b") && size(array_union(col("s_a"), col("s_b"))) > 0)
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("s_a"), col("s_b"))).cast("double") /
          size(array_union(col("s_a"), col("s_b")))).as("jaccard"))
      .where(col("jaccard") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(ref.nonEmpty)
    val pairs = Dedup.jaccardPairs(d, col("doc_id"), col("text"), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))).toSet
    assert(pairs == ref)
    val ids = d.select("doc_id").collect().map(_.getLong(0)).toSet
    val keeps = Dedup.minhashKeep(d, col("doc_id"), col("text"), 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keeps == ids -- ref.map(_._2)) // no smaller-id partner in the reference
  }

  test("simhashPairs finds hamming-0 twins and nothing across content") {
    val pairs = Dedup.simhashPairs(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0) // identical normText ⇒ identical simhash
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("duplicateClusters assigns the component min id transitively (chain A~B~C)") {
    import spark.implicits._
    val chain = Seq(
      Doc(10L, "the quick brown fox jumps over the lazy dog"),
      Doc(11L, "the quick brown fox jumps over the lazy cat"),
      Doc(12L, "a speedy brown fox jumps over the lazy cat"),
      Doc(13L, "completely unrelated content about spark shuffle partitions"),
      Doc(20L, "another isolated pair of documents first twin here now"),
      Doc(21L, "another isolated pair of documents first twin here soon"),
    )
    val d = Tio.fromRows(spark, Docs, chain).toNative
    val pairs = Dedup.jaccardPairs(d, col("doc_id"), col("text"), 0.5)
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the chain is NOT a clique: 10~11, 11~12, but J(10,12) < 0.5
    assert(ps == Set((10L, 11L), (11L, 12L), (20L, 21L)))
    val expected = Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    val (local, localJobs) = jobsDuring(Dedup.duplicateClusters(pairs))
    val clusters = local.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    // transitive: 12 reaches 10 through 11; the isolated pair stays separate
    assert(clusters == expected)
    // reliable-checkpoint mode (cluster fault tolerance) — same answer
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val (reliableDf, reliableJobs) =
      jobsDuring(Dedup.duplicateClusters(pairs, checkpointDir = Some(ckptDir)))
    val reliable = reliableDf.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(reliable == expected)
    // each round is one observed freeze: no probe job of its own
    assert(localJobs <= 71 && reliableJobs <= 65, s"jobs: local $localJobs, reliable $reliableJobs")
  }

  test("duplicateClusters on an empty pair set returns an empty frame (no hang)") {
    val none = Dedup.jaccardPairs(df, col("doc_id"), col("text"), threshold = 1.01)
    assert(Dedup.duplicateClusters(none).collect().isEmpty)
  }

  test("duplicateClusters reliable mode leaves no run directory behind on failure") {
    import spark.implicits._
    // a 4-node chain has diameter 3: maxIters = 1 cannot converge
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val base = java.nio.file.Files.createTempDirectory("graft-cc-fail").toString
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(pairs, maxIters = 1, checkpointDir = Some(base))
    }
    // the failed run deleted its graft-cc-<uuid>/ directory (edges + snapshots)
    val leftovers = new java.io.File(base).listFiles()
    assert(leftovers == null || leftovers.isEmpty,
      s"expected no leaked run dirs, found: ${leftovers.map(_.getName).mkString(", ")}")
  }

  test("duplicateClustersStar matches duplicateClusters on a random pair graph") {
    import spark.implicits._
    // 60 nodes, random edges: both algorithms must produce the exact
    // same (id -> component min) labeling, roots self-labeled included.
    val rnd = new scala.util.Random(5)
    val edges = (1 to 90).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)
    }.filter { case (a, b) => a != b }
    val pairs = edges.toDF("id_a", "id_b")
    val viaProp = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.duplicateClustersStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaProp)
  }

  test("duplicateClustersStar collapses a deep chain within its logarithmic round budget") {
    import spark.implicits._
    // A 400-node path has diameter 399: min-label propagation needs
    // ~400 rounds (its default 25 throws), star contraction converges
    // in O(log^2 n) — well inside the SAME default budget of 25. This
    // is the adversarial shape the variant exists for.
    val n = 400L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.duplicateClusters(chain).collect() // diameter >> default maxIters
    }
    val labels = Dedup.duplicateClustersStar(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L)) // one component, min id 0
  }

  test("duplicateClustersStar: a co-star input is not mistaken for a converged forest") {
    import spark.implicits._
    // {(5,2),(5,3)}: source/target sides are disjoint, so a
    // disjointness-only convergence probe would accept this state and
    // emit node 5 twice with different labels (the ScalaCheck
    // counterexample). Node 5 bridges 2 and 3 into ONE component with
    // min 2 — the out-degree probe forces the extra contraction round.
    val pairs = Seq((5L, 2L), (5L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.duplicateClustersStar(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 3, s"one row per node, got ${labels.toSeq}")
    assert(labels.toMap == Map(2L -> 2L, 3L -> 2L, 5L -> 2L))
  }

  test("duplicateClustersStar: empty input, reliable mode, and failure cleanup") {
    import spark.implicits._
    val none = Dedup.jaccardPairs(df, col("doc_id"), col("text"), threshold = 1.01)
    assert(Dedup.duplicateClustersStar(none).collect().isEmpty)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ccs-ckpt").toString
    val reliable = Dedup.duplicateClustersStar(pairs, checkpointDir = Some(ckpt)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val base = java.nio.file.Files.createTempDirectory("graft-ccs-fail").toString
    intercept[IllegalStateException] {
      Dedup.duplicateClustersStar(pairs, maxIters = 0, checkpointDir = Some(base))
    }
    val leftovers = new java.io.File(base).listFiles()
    assert(leftovers == null || leftovers.isEmpty,
      s"expected no leaked run dirs, found: ${leftovers.map(_.getName).mkString(", ")}")
  }

  test("persisted MinHash index: incremental keep == full-corpus keep restricted to the batch") {
    import spark.implicits._
    val old = Seq(
      Doc(1L, "the quick brown fox jumps over the lazy dog"),
      Doc(4L, "spark shuffles partitions across the cluster executors nightly"))
    val batch = Seq(
      Doc(10L, "The quick  brown fox jumps over the lazy dog"), // exact dup of indexed 1
      Doc(11L, "an entirely fresh document about training data pipelines"),
      Doc(12L, "an entirely fresh document about training data pipeline"), // near-dup of 11
      Doc(13L, "unrelated third text mentioning neither foxes nor sparks today"))
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-idx").toString + "/idx"
    val oldDf = Tio.fromRows(spark, Docs, old).toNative
    val newDf = Tio.fromRows(spark, Docs, batch).toNative

    intercept[IllegalArgumentException] {
      Dedup.minhashKeepIncremental(newDf, col("doc_id"), col("text"), idx, 0.5)
    }
    Dedup.writeMinHashIndex(oldDf, col("doc_id"), col("text"), idx)
    assert(Dedup.readIndexParams(spark, idx).contains((3, 128, 64)))

    val kept = Dedup.minhashKeepIncremental(newDf, col("doc_id"), col("text"), idx, 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(11L, 13L)) // 10 dups indexed 1; 12 dups in-batch 11
    // matches the one-shot rule over the whole corpus, restricted to the batch
    val full = Dedup.minhashKeep(Tio.fromRows(spark, Docs, old ++ batch).toNative,
        col("doc_id"), col("text"), 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == full.filter(_ >= 10L))

    // append the surviving batch docs, dedup the next batch against them
    Dedup.writeMinHashIndex(
      newDf.where(col("doc_id").isin(11L, 13L)), col("doc_id"), col("text"), idx,
      mode = "append")
    val next = Tio.fromRows(spark, Docs,
      Seq(Doc(20L, "an entirely fresh document about training data pipelines"))).toNative
    assert(Dedup.minhashKeepIncremental(next, col("doc_id"), col("text"), idx, 0.5)
      .collect().isEmpty) // 20 duplicates the appended 11

    // appending with different hash params must fail fast
    val err = intercept[IllegalArgumentException] {
      Dedup.writeMinHashIndex(oldDf, col("doc_id"), col("text"), idx,
        numHashes = 64, bands = 32, mode = "append")
    }
    assert(err.getMessage.contains("refusing to append"))
  }

  test("incremental dedup is replay-idempotent after its own batch reached the index") {
    import spark.implicits._
    val old = Seq(Doc(1L, "the quick brown fox jumps over the lazy dog"))
    val batch = Seq(
      Doc(10L, "The quick  brown fox jumps over the lazy dog"), // dup of indexed 1
      Doc(11L, "an entirely fresh document about training data pipelines"),
      Doc(12L, "an entirely fresh document about training data pipeline")) // dup of 11
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-replay").toString + "/idx"
    val oldDf = Tio.fromRows(spark, Docs, old).toNative
    val newDf = Tio.fromRows(spark, Docs, batch).toNative
    Dedup.writeMinHashIndex(oldDf, col("doc_id"), col("text"), idx)
    def run() = Dedup.minhashKeepIncremental(newDf, col("doc_id"), col("text"), idx, 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val first = run()
    assert(first == Set(11L))
    // partial-failure replay: the WHOLE batch (not just survivors) was
    // already appended — self-ids in the index must be ignored, so the
    // replay reproduces the identical survivor set instead of dropping
    // everything against its own stale copies
    Dedup.writeMinHashIndex(newDf, col("doc_id"), col("text"), idx, mode = "append")
    assert(run() == first)
  }

  test("incremental exact-copy collapse: keeps match minhashKeep over history and batch, replayed too") {
    import spark.implicits._
    val old = Seq(Doc(1L, "the quick brown fox jumps over the lazy dog"))
    val batch = Seq(
      Doc(10L, "an entirely fresh document about training data pipelines"),
      Doc(11L, "an entirely fresh  DOCUMENT about training data pipelines"), // exact dup of 10 (normText)
      Doc(12L, "an entirely fresh document about training data pipelines"), // exact dup of 10
      Doc(13L, "The quick  brown fox jumps over the lazy dog"),  // exact dup of indexed 1 — a REP that drops
      Doc(14L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 13: non-rep whose rep drops
      Doc(15L, "unrelated third text mentioning neither foxes nor sparks today"))
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-collapse").toString + "/idx"
    Dedup.writeMinHashIndex(Tio.fromRows(spark, Docs, old).toNative, col("doc_id"), col("text"), idx)
    val newDf = Tio.fromRows(spark, Docs, batch).toNative
    def run() = Dedup.minhashKeepIncremental(newDf, col("doc_id"), col("text"), idx, 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // reference: the one-shot keep over history ∪ batch, restricted to the batch
    val batchIds = batch.map(_.doc_id).toSet
    val ref = Dedup.minhashKeep(Tio.fromRows(spark, Docs, old ++ batch).toNative,
        col("doc_id"), col("text"), 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet.intersect(batchIds)
    val kept = run()
    assert(kept == Set(10L, 15L)) // 11,12 dup 10 in-batch; 13 dups indexed 1; 14 dups 13
    assert(kept == ref)
    // replay: whole batch (reps AND non-reps) already appended — the
    // guard must exclude stale self-copies for every member id
    Dedup.writeMinHashIndex(newDf, col("doc_id"), col("text"), idx, mode = "append")
    assert(run() == ref)
  }

  test("index audit finds a crashed append's bucket-less ids; param-less data refuses appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.array_distinct
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-halfw").toString + "/idx"
    val oldDf = Tio.fromRows(spark, Docs, docs).toNative
    Dedup.writeMinHashIndex(oldDf, col("doc_id"), col("text"), idx)
    assert(Dedup.indexMissingBucketIds(spark, idx).isEmpty) // completed write: consistent

    // Simulate an append that crashed between its two writes: the
    // batch's shingles landed (the first write writeMinHashIndex does),
    // its buckets did not — those docs are invisible to candidate gen.
    val batch = Tio.fromRows(spark, Docs, Seq(
      Doc(50L, "totally new content about gradient checkpoint schedules"),
      Doc(51L, "the quick brown fox jumps over the lazy dog"))).toNative
    batch.select(col("doc_id").as("id"),
        array_distinct(graft.functions.TextFns.shingles(col("text"), 3)).as("shingles"))
      .write.mode("append").parquet(s"$idx/shingles")
    val missing = Dedup.indexMissingBucketIds(spark, idx)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(missing == Set(50L, 51L))
    // the documented contract: replaying the SAME batch restores consistency
    Dedup.writeMinHashIndex(batch, col("doc_id"), col("text"), idx, mode = "append")
    assert(Dedup.indexMissingBucketIds(spark, idx).isEmpty)

    // params/ lost (crash during a re-creation): appends must refuse —
    // the data can no longer be validated against any hash configuration
    val pdir = new org.apache.hadoop.fs.Path(s"$idx/params")
    pdir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pdir, true)
    val err = intercept[IllegalArgumentException] {
      Dedup.writeMinHashIndex(batch, col("doc_id"), col("text"), idx, mode = "append")
    }
    assert(err.getMessage.contains("no params"))
    assert(!Dedup.indexDataIsEmpty(spark, idx)) // real state: NOT auto-repairable

    // The very first write crashed before its bucket commit: the audit
    // finds the absent buckets/ on the filesystem, not by a failed read
    // that makes Spark's parquet reader warn from FileStreamSink.
    val fresh = java.nio.file.Files.createTempDirectory("graft-mh-first").toString + "/idx"
    batch.select(col("doc_id").as("id"),
        array_distinct(graft.functions.TextFns.shingles(col("text"), 3)).as("shingles"))
      .write.parquet(s"$fresh/shingles")
    val warnings = captureWarnings("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
      assert(Dedup.indexMissingBucketIds(spark, fresh)
        .collect().map(_.getAs[Long]("id")).toSet == Set(50L, 51L))
    }
    assert(warnings.isEmpty, s"an absent buckets/ must not warn, got $warnings")
  }

  test("index audits survive the worst crash shapes: absent buckets/, unreadable wreckage") {
    import spark.implicits._
    import org.apache.spark.sql.functions.array_distinct
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

    // The very first write crashed before ANY bucket commit: shingles/
    // exists, buckets/ does not. The audit must report every shingled id
    // as missing, not throw on the absent directory.
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-nobk").toString + "/idx"
    Tio.fromRows(spark, Docs, docs.take(2)).toNative
      .select(col("doc_id").as("id"),
        array_distinct(graft.functions.TextFns.shingles(col("text"), 3)).as("shingles"))
      .write.parquet(s"$idx/shingles")
    val missing = Dedup.indexMissingBucketIds(spark, idx)
      .collect().map(_.getAs[Long]("id")).toSet
    assert(missing == docs.take(2).map(_.doc_id).toSet)

    // A data dir that EXISTS but holds no committed parquet (only the
    // wreckage of a crashed write) is NOT verifiably empty — the crashed
    // write may have been seeding real data, so bootstrap must refuse.
    val idx2 = java.nio.file.Files.createTempDirectory("graft-mh-wreck").toString + "/idx"
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx2/buckets/_temporary/0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx2/shingles/_temporary/0"))
    assert(Dedup.indexDataExists(spark, idx2))
    assert(!Dedup.indexDataIsEmpty(spark, idx2))

    // ...while a fully absent index IS verifiably empty (nothing to lose)
    val idx3 = java.nio.file.Files.createTempDirectory("graft-mh-none").toString + "/idx"
    assert(Dedup.indexDataIsEmpty(spark, idx3))
  }

  test("spanDupStats: shared k-token blocks are counted per window, cross-doc only") {
    import spark.implicits._
    // docs 20/21 share one exact 5-token block inside otherwise-unrelated
    // text; doc 22 repeats a window WITHIN itself only; doc 23 is unique.
    val corpus = Seq(
      Doc(20L, "alpha beta gamma delta epsilon totally different tail one"),
      Doc(21L, "other head words alpha beta gamma delta epsilon distinct ending"),
      Doc(22L, "x y z w v x y z w v"), // in-doc repeat: NOT contamination
      Doc(23L, "completely unique words never repeated anywhere else at all"))
    val out = Dedup.spanDupStats(
        Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"), k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows")))).toMap
    // doc 20: 5 windows of 9 tokens, 1 shared ("alpha..epsilon"); doc 21:
    // 6 windows of 10 tokens, 1 shared; doc 22: all 6 windows repeat
    // in-doc only (nd = 1 doc) -> zero dup; doc 23: nothing shared
    assert(out(20L) == ((5L, 1L)))
    assert(out(21L) == ((6L, 1L)))
    assert(out(22L)._2 == 0L)
    assert(out(23L) == ((5L, 0L)))
  }

  private def spanRows(out: org.apache.spark.sql.DataFrame) =
    out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text_clean"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_removed")))).toMap

  test("removeDupSpans: keep-one-copy rewrite, cross-doc only") {
    import spark.implicits._
    val corpus = Seq(
      Doc(20L, "alpha beta gamma delta epsilon totally different tail one"),
      Doc(21L, "other head words alpha beta gamma delta epsilon distinct ending"),
      Doc(22L, "x y z w v x y z w v"), // in-doc repeat: never flagged
      Doc(23L, "completely unique words never repeated anywhere else at all"))
    val out = spanRows(Dedup.removeDupSpans(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"), k = 5))
    // 20 is the min-id holder of the shared window: keeps everything
    assert(out(20L) == (("alpha beta gamma delta epsilon totally different tail one", 9L, 0L)))
    // 21 loses exactly the 5 covered tokens, the rest survives in order
    assert(out(21L) == (("other head words distinct ending", 10L, 5L)))
    assert(out(22L) == (("x y z w v x y z w v", 10L, 0L)))
    assert(out(23L)._3 == 0L)
  }

  test("removeDupSpans: keepRep=false strips every copy; overlap merges by coverage") {
    import spark.implicits._
    // A and B share a 6-token run => two OVERLAPPING flagged windows;
    // coverage removes 6 tokens (not 10) from each non-kept doc.
    val corpus = Seq(
      Doc(30L, "p q r s t u different tail words here"),
      Doc(31L, "x p q r s t u y z w"))
    val both = spanRows(Dedup.removeDupSpans(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"),
      k = 5, keepRep = false))
    assert(both(30L) == (("different tail words here", 10L, 6L)))
    assert(both(31L) == (("x y z w", 10L, 6L)))
    // default keepRep: the min-id doc keeps its copy intact
    val rep = spanRows(Dedup.removeDupSpans(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"), k = 5))
    assert(rep(30L)._3 == 0L)
    assert(rep(31L) == (("x y z w", 10L, 6L)))
  }

  test("removeDupSpans: short-doc whole-text window, case/spacing norm, NULL text") {
    import spark.implicits._
    val corpus = Seq(
      Doc(40L, "tiny doc"),       // < k tokens: whole-text window
      Doc(41L, "Tiny  Doc"),      // same normalized window -> empties
      Doc(42L, null),             // NULL rides through untouched
      Doc(43L, "a lone unique document"))
    val out = spanRows(Dedup.removeDupSpans(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"), k = 5))
    assert(out(40L) == (("tiny doc", 2L, 0L)))       // rep keeps, original case
    assert(out(41L) == (("", 2L, 2L)))               // non-rep empties
    assert(out(42L) == ((null, 0L, 0L)))
    // untouched docs come back whitespace-collapsed but case-preserved
    assert(out(43L) == (("a lone unique document", 4L, 0L)))
  }

  private def lineRows(out: org.apache.spark.sql.DataFrame) =
    out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[String]("text_clean"), r.getAs[Long]("n_lines"),
        r.getAs[Long]("n_removed")))).toMap

  test("lineDupStats: cross-doc duplicated lines flagged; blanks and in-doc repeats not") {
    import spark.implicits._
    val corpus = Seq(
      Doc(50L, "unique fifty intro\nCopyright Footer Line\n\nbody text fifty"),
      Doc(51L, "another intro here\ncopyright  footer line\nbody text fiftyone"),
      Doc(52L, "repeat me\nrepeat me\nsolo line"))
    val out = Dedup.lineDupStats(
        Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines")))).toMap
    // footer matches ACROSS case/spacing normalization; blank line of 50
    // is excluded from n_lines; 52's in-doc repeat never flags (nd = 1)
    assert(out(50L) == ((3L, 1L)))
    assert(out(51L) == ((3L, 1L)))
    assert(out(52L) == ((3L, 0L)))
  }

  test("removeDupLines: rep keeps its copies; raw line text, order, blanks preserved") {
    import spark.implicits._
    val corpus = Seq(
      Doc(50L, "unique fifty intro\nCopyright Footer Line\n\nbody text fifty"),
      Doc(51L, "another intro here\ncopyright  footer line\nbody text fiftyone"),
      Doc(52L, "repeat me\nrepeat me\nsolo line"),
      Doc(53L, null))
    val out = lineRows(Dedup.removeDupLines(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text")))
    // 50 is the min-id holder: untouched, blank line and raw case intact
    assert(out(50L) == (("unique fifty intro\nCopyright Footer Line\n\nbody text fifty", 3L, 0L)))
    // 51 loses exactly its (raw) footer line, order preserved
    assert(out(51L) == (("another intro here\nbody text fiftyone", 3L, 1L)))
    assert(out(52L) == (("repeat me\nrepeat me\nsolo line", 3L, 0L)))
    assert(out(53L) == ((null, 0L, 0L)))
  }

  test("removeDupLines: keepRep=false strips every copy, in-doc multiplicity included") {
    import spark.implicits._
    val corpus = Seq(
      Doc(60L, "shared line\nshared line\nonly sixty"),
      Doc(61L, "shared line\nonly sixtyone"))
    val all = lineRows(Dedup.removeDupLines(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text"),
      keepRep = false))
    assert(all(60L) == (("only sixty", 3L, 2L)))
    assert(all(61L) == (("only sixtyone", 2L, 1L)))
    // default: 60 (min id) keeps BOTH copies, 61 loses its one
    val rep = lineRows(Dedup.removeDupLines(
      Tio.fromRows(spark, Docs, corpus).toNative, col("doc_id"), col("text")))
    assert(rep(60L) == (("shared line\nshared line\nonly sixty", 3L, 0L)))
    assert(rep(61L) == (("only sixtyone", 2L, 1L)))
  }

  /** 100 docs repeating ONE 9-word cycle 2..101 times: identical
    * shingle sets (the 7 in-cycle windows plus the 2 wrap-around ones),
    * hence identical MinHash bands — one (band, bucket) group of 100
    * per band — yet distinct md5 fingerprints (normText only lowercases
    * and collapses whitespace), so the exact-copy collapse keeps every
    * one a representative and the hot-bucket guard is what stands
    * between the bucket and O(b²) pair rows. */
  private val cycled = (0 until 100).map(i => Doc(100L + i,
    Seq.fill(i + 2)("lorem ipsum dolor sit amet consectetur adipiscing elit sed").mkString(" ")))

  /** 1000 EXACT copies of one text (ids 1000..1999): one fingerprint
    * group, which the collapse bands as a single representative. */
  private val clique = (1000L until 2000L).map(i =>
    Doc(i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed"))

  /** Over-cap bucket groups and member rows of a bucket stream, via the
    * public monitoring twin of the guard. */
  private def oversized(bk: org.apache.spark.sql.DataFrame, keys: Seq[String], cap: Int) = {
    val over = Dedup.oversizedBuckets(bk, keys, cap).select("bucket_size").collect()
      .map(_.getLong(0))
    Dedup.SkippedBuckets(over.length.toLong, over.sum)
  }

  test("hot-bucket guard bounds a degenerate bucket and keeps true pairs") {
    import spark.implicits._
    val all = Tio.fromRows(spark, Docs, docs ++ cycled).toNative
    val cands = Dedup.minhashCandidates(all, col("doc_id"), col("text"), maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the cycled bucket is dropped; the planted true pairs survive
    assert(cands == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the monitoring twin surfaces exactly what the cap skipped
    val over = Dedup.oversizedBuckets(
      Dedup.minhashBuckets(all, col("doc_id"), col("text")),
      Seq("band", "bucket"), 50).collect()
    assert(over.length == 64 && over.forall(_.getAs[Long]("bucket_size") == 100L))
    // EXACT copies never reach the guard: the collapse bands ONE rep for
    // the whole clique and its pairs come from the fingerprint groups
    // directly — complete, not capped
    val copies = Tio.fromRows(spark, Docs, docs ++ clique).toNative
    val collapsed = Dedup.minhashCandidates(copies, col("doc_id"), col("text"), maxBucket = 50)
    assert(collapsed.count() == 999L * 1000L / 2 + 3) // C(1000,2) within + 3 planted
    // at gate scale (no degenerate bucket) the default cap never fires
    val uncapped = Dedup.minhashCandidates(df, col("doc_id"), col("text"), maxBucket = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val defaulted = Dedup.minhashCandidates(df, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defaulted == uncapped)
  }

  test("guard-internal caches drain at job boundaries (no CacheManager accumulation)") {
    // The guard persist()s its bucket stream; a Dataset cache entry is
    // never auto-released, so the registry + release is what keeps a
    // micro-batch loop / query sweep from accumulating one entry per
    // built plan. Consume a guard-bearing query, then release: the
    // session's CacheManager must be empty again, and (lineage kept —
    // persist, not checkpoint) the same operator re-runs fine after.
    def emptyCache = spark.sharedState.cacheManager.isEmpty
    spark.sqlContext.clearCache() // isolate from earlier tests' leftovers
    GraftSession.releaseCachedBlocks(spark)
    assert(emptyCache)
    val pairs = Dedup.simhashPairs(df, col("doc_id"), col("text"), maxBucket = 50).collect()
    assert(!emptyCache, "guard should have registered a persisted bucket stream")
    GraftSession.releaseCachedBlocks(spark)
    assert(emptyCache, "release must remove the Dataset cache ENTRY, not just blocks")
    val again = Dedup.simhashPairs(df, col("doc_id"), col("text"), maxBucket = 50).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      pairs.map(r => (r.getLong(0), r.getLong(1))).toSet)
    GraftSession.releaseCachedBlocks(spark)
  }

  test("drain is flow-scoped: one flow's boundary drain leaves another flow's cache alone") {
    // A flow is a session: two sessions of one SparkContext (a streaming
    // micro-batch loop next to a batch sweep) share its CacheManager and
    // block manager. A boundary release must free only the caches
    // registered under the releasing session — freeing another session's
    // bucket cache mid-query would silently reinstate the double
    // evaluation the persist prevents.
    def emptyCache = spark.sharedState.cacheManager.isEmpty
    spark.sqlContext.clearCache()
    GraftSession.releaseCachedBlocks(spark)
    assert(emptyCache)
    val other = spark.newSession()
    import other.implicits._
    val otherDocs = Tio.fromRows(other, Docs, docs).toNative
    Dedup.simhashPairs(otherDocs, col("doc_id"), col("text"), maxBucket = 50).collect()
    assert(!emptyCache, "the other session should have registered a persisted bucket stream")
    GraftSession.releaseCachedBlocks(spark) // the base session registered nothing
    assert(!emptyCache, "the base session's release must not touch another session's cache")
    GraftSession.releaseCachedBlocks(other)
    assert(emptyCache)
  }

  test("a first write into a fresh index probes its params marker without a failed read") {
    // Spark's parquet reader warns from FileStreamSink when asked for a
    // missing path; the catalog must find out "no marker yet" on the
    // filesystem instead of by provoking that failure.
    val idx = java.nio.file.Files.createTempDirectory("graft-mh-fresh").toString + "/index"
    val warnings = captureWarnings("org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
      Dedup.writeMinHashIndex(df, col("doc_id"), col("text"), idx)
    }
    assert(warnings.isEmpty, s"fresh index write must not warn, got $warnings")
    assert(Dedup.readIndexParams(spark, idx).contains((3, 128, 64)))
  }

  test("simhash and embedding self-joins honor the hot-bucket cap") {
    import spark.implicits._
    val template = (100L until 700L).map(i =>
      Doc(i, "boilerplate footer text repeated across the whole crawl"))
    val all = Tio.fromRows(spark, Docs, docs ++ template).toNative
    val pairs = Dedup.simhashPairs(all, col("doc_id"), col("text"), maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a >= 100L && b >= 100L })

    val base = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val near = Seq(1f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f)
    val tmplV = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
    val embs = Seq(Emb(1L, base), Emb(2L, near)) ++ (100L until 700L).map(i => Emb(i, tmplV))
    val e = Tio.fromRows(spark, Embs, embs).toNative
    val ep = Dedup.embeddingPairs(e, col("vec_id"), col("embedding"),
        tau = 0.95, dim = 8, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ep == Set((1L, 2L)))
  }

  test("reported variants surface exactly what the hot-bucket guard skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, explode, lit, shiftright, struct}
    val all = Tio.fromRows(spark, Docs, docs ++ cycled).toNative
    // every one of the 64 bands puts the 100 cycled docs in one bucket →
    // 64 skipped groups, 6,400 skipped rows; the report is the guard's
    // rep-level stream (exactKeep = the collapse's representatives)
    val (kept, rep) = Dedup.minhashKeepReported(all, col("doc_id"), col("text"), 0.5,
      maxBucket = 50)
    assert(rep == Dedup.SkippedBuckets(64L, 6400L))
    assert(rep == oversized(Dedup.minhashBuckets(
      Dedup.exactKeep(all, col("text"), col("doc_id")), col("doc_id"), col("text")),
      Seq("band", "bucket"), 50))
    val keptIds = kept.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds == Set(1L, 4L) ++ cycled.map(_.doc_id)) // capped: reported, not deduped
    // the reported frame is the plain operator's result
    assert(keptIds == Dedup.minhashKeep(all, col("doc_id"), col("text"), 0.5, maxBucket = 50)
      .collect().map(_.getAs[Long]("doc_id")).toSet)
    // guard off: nothing skipped, the cycled docs dedup to their min id
    val (keptOff, repOff) = Dedup.minhashKeepReported(all, col("doc_id"), col("text"), 0.5,
      maxBucket = 0)
    assert(repOff == Dedup.SkippedBuckets(0L, 0L))
    assert(keptOff.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L, 100L))
    // EXACT copies collapse before banding, so a clique of them reports
    // ZERO skips and dedups fully to its min id — the guard is left for
    // buckets that are hot WITHOUT being exact copies
    val (keptC, repC) = Dedup.minhashKeepReported(
      Tio.fromRows(spark, Docs, docs ++ clique).toNative, col("doc_id"), col("text"), 0.5,
      maxBucket = 50)
    assert(repC == Dedup.SkippedBuckets(0L, 0L))
    assert(keptC.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L, 1000L))

    // without a degenerate bucket the report is zero and the result
    // matches the plain API exactly
    val (kept2, rep2) = Dedup.minhashKeepReported(df, col("doc_id"), col("text"), 0.5)
    assert(rep2 == Dedup.SkippedBuckets(0L, 0L))
    assert(kept2.collect().map(_.getAs[Long]("doc_id")).toSet == Set(1L, 4L))

    // simhash: the cycled docs share one signature, so all 4 chunks are hot
    val (sp, rep3) = Dedup.simhashPairsReported(all, col("doc_id"), col("text"), maxBucket = 50)
    val chunks = Dedup.simhashSignatures(all, col("doc_id"), col("text"))
      .select(col("doc_id"), explode(array((0 until 4).map(i => struct(lit(i).as("chunk"),
        shiftright(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL)).as("ckey"))): _*)).as("c"))
      .select(col("doc_id"), col("c.chunk"), col("c.ckey"))
    assert(rep3.groups == 4L && rep3.rows >= 400L)
    assert(rep3 == oversized(chunks, Seq("chunk", "ckey"), 50))
    assert(sp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet.contains((1L, 2L)))
    assert(Dedup.simhashPairsReported(all, col("doc_id"), col("text"), maxBucket = 0)._2 ==
      Dedup.SkippedBuckets(0L, 0L))

    // embedding: identical vectors agree in all 8 tables
    val tmplV = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
    val embs = Seq(Emb(1L, Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      Emb(2L, Seq(1f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f))) ++
      (100L until 700L).map(i => Emb(i, tmplV))
    val e = Tio.fromRows(spark, Embs, embs).toNative
    val (ep, rep4) = Dedup.embeddingPairsReported(e, col("vec_id"), col("embedding"),
      tau = 0.95, dim = 8, maxBucket = 50)
    val tables = graft.operators.Vec.hyperplaneBuckets(
        e.select(col("vec_id").as("_id"), col("embedding").as("_v")), col("_v"), 8, 8, 8, 7L)
      .select("_id", "tbl", "bucket")
    assert(rep4.groups == 8L && rep4.rows >= 4800L)
    assert(rep4 == oversized(tables, Seq("tbl", "bucket"), 50))
    assert(ep.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  object Embs extends GSchema {
    val vec_id    = col[Long]("vec_id")
    val embedding = col[Seq[Float]]("embedding")
  }

  test("embeddingPairs finds planted cosine near-dups via sign-LSH buckets") {
    import spark.implicits._
    val base = Seq(1f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)
    val near = Seq(1f, 0.05f, 0f, 0f, 0f, 0f, 0f, 0f) // cos ≈ 0.99875
    val ortho = Seq(0f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val e = Tio.fromRows(spark, Embs, Seq(Emb(1L, base), Emb(2L, near), Emb(3L, ortho))).toNative
    val pairs = Dedup.embeddingPairs(e, col("vec_id"), col("embedding"), tau = 0.95, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }
}
