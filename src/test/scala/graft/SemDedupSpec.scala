package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup}

/** L23 SemDeDup gates: k-means-partitioned semantic dedup
  * (cluster-then-compare) on planted embedding clusters — the ground
  * truth the driver's partial oracle (verify stage re-derived in
  * DuckDB from the `sem_cand` export) cannot cover: cluster
  * assignment, keep semantics, unusable-vector dropout, the recall
  * contract at cluster boundaries, and the hot-bucket guard. */
class SemDedupSpec extends SparkSpec {

  object Embs extends GSchema {
    val vec_id    = col[Long]("vec_id")
    val embedding = col[Seq[Float]]("embedding")
  }

  /** Two tight orthogonal clusters + one lone orthogonal vector. */
  private def plantedRows: Seq[Emb] = Seq(
    Emb(1L, Seq(1f, 0.01f, 0f, 0f)),  // cluster A
    Emb(2L, Seq(1f, 0.02f, 0f, 0f)),  // cluster A (near-dup of 1)
    Emb(3L, Seq(0f, 0f, 1f, 0.01f)),  // cluster B
    Emb(4L, Seq(0f, 0f, 1f, 0.02f)),  // cluster B (near-dup of 3)
    Emb(5L, Seq(0f, 1f, 0f, 0f)),     // lone
  )

  private def planted = {
    import spark.implicits._
    Tio.fromRows(spark, Embs, plantedRows).toNative
  }

  /** Hand-made unit centroids: assignment is then exact by
    * construction (nearest of three orthogonal axes), so the planted
    * tests cannot hinge on k-means initialization luck; trainIvf's own
    * clustering quality is AnnSpec's concern. */
  private val axes: Array[Array[Double]] = Array(
    Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))

  test("semanticPairs finds within-cluster near-dups and nothing across clusters") {
    val e = planted
    val unit = axes
    val pairs = Dedup.semanticPairs(unit, e, col("vec_id"), col("embedding"), tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)))
  }

  test("nClusters=1 degenerates to brute-force all-pairs (recall law)") {
    val e = planted
    val unit = Ann.trainIvf(e, col("embedding"), dim = 4, nClusters = 1, seed = 7)
    val sem = Dedup.semanticPairs(unit, e, col("vec_id"), col("embedding"), tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force reference over the same rows
    val rows = plantedRows
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val brute = (for {
      x <- rows; y <- rows if x.vec_id < y.vec_id
      if cos(x.embedding, y.embedding) >= 0.5
    } yield (x.vec_id, y.vec_id)).toSet
    assert(sem == brute)
  }

  test("semanticKeep drops the larger id of each verified pair, keeps the rest") {
    val e = planted
    val unit = axes
    val kept = Dedup.semanticKeep(unit, e, col("vec_id"), col("embedding"), tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
  }

  test("unusable vectors join no cluster but survive semanticKeep") {
    import spark.implicits._
    // NULL vector and an all-NaN vector (empty centroid list) — the two
    // unusable shapes that DROP from assignment; a wrong-LENGTH vector
    // throws by module contract (same as Vec.cosine), not tested here.
    val e = planted.unionByName(
      Seq((6L, null.asInstanceOf[Seq[Float]]),
          (7L, Seq(Float.NaN, Float.NaN, Float.NaN, Float.NaN)))
        .toDF("vec_id", "embedding"))
    val unit = axes
    val assigned = Ann.assignClusters(unit, e, col("vec_id"), col("embedding"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!assigned.contains(6L) && !assigned.contains(7L))
    val kept = Dedup.semanticKeep(unit, e, col("vec_id"), col("embedding"), tau = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L, 6L, 7L))
  }

  test("hot-bucket guard caps a degenerate cluster; reported variant counts it") {
    import spark.implicits._
    // 50 near-identical vectors (one giant cluster) + one planted pair
    // in another direction.
    val pile = (10L until 60L).map(i => Emb(i, Seq(1f, (i % 7) * 1e-4f, 0f, 0f)))
    val pair = Seq(Emb(1L, Seq(0f, 0f, 1f, 0.01f)), Emb(2L, Seq(0f, 0f, 1f, 0.02f)))
    val e = Tio.fromRows(spark, Embs, pile ++ pair).toNative
    val unit: Array[Array[Double]] = Array(Array(1.0, 0, 0, 0), Array(0.0, 0, 1, 0))
    val (pairs, report) = Dedup.semanticPairsReported(
      unit, e, col("vec_id"), col("embedding"), tau = 0.95, maxBucket = 10)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
    assert(report.groups == 1L && report.rows == 50L)
    // the report is exactly the monitoring twin over the same assignment stream
    val over = Dedup.oversizedBuckets(
        Ann.assignClusters(unit, e, col("vec_id"), col("embedding")), Seq("cid"), 10)
      .select("bucket_size").collect().map(_.getLong(0))
    assert(report == Dedup.SkippedBuckets(over.length.toLong, over.sum))
    // guard off: no report, and the pile's pairs are no longer capped
    val (all, off) = Dedup.semanticPairsReported(
      unit, e, col("vec_id"), col("embedding"), tau = 0.95, maxBucket = 0)
    assert(off == Dedup.SkippedBuckets(0L, 0L))
    assert(all.count() > 1L)
  }

  test("empty corpus / untrainable quantizer yields an empty typed result") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val out = Dedup.semanticPairs(empty, col("vec_id"), col("embedding"),
      tau = 0.9, dim = 4, nClusters = 4, trainSampleRows = 64, seed = 7, maxBucket = 500)
    assert(out.columns.toSeq == Seq("id_a", "id_b", "sim"))
    assert(out.count() == 0L)
  }

  test("candidates export matches the pairs the query verified (oracle coupling)") {
    val e = planted
    val unit = axes
    val cand = Dedup.semanticCandidates(unit, e, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verified = Dedup.semanticPairs(unit, e, col("vec_id"), col("embedding"), tau = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at tau=0 every candidate with usable vectors verifies
    assert(verified == cand)
  }
}
