package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bm25, RankFusion}

/** L51 BM25 + L52 reciprocal-rank fusion: hand-computed weights on a
  * tiny corpus, saturation and length-normalization laws, zero-hit
  * docs, OOV terms, NULL text, deterministic top-k, save/load,
  * broadcast ≡ shuffle, partition invariance; RRF hand example, tie
  * break, single-list degeneracy. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // N=4 docs (one NULL text); dl: 3, 4, 4, 0; total tokens 11
  // df: the=3, cat=2, sat=2, dog=1, mat=1
  private val docs = Seq(
    (1L, "the cat sat"),
    (2L, "the cat the cat"),
    (3L, "the dog sat mat"),
    (4L, null.asInstanceOf[String])).toDF("doc_id", "text")

  private def refWeight(tf: Long, df: Long, dl: Long, n: Long, adlMicro: Long,
      k1: Double = 1.2, b: Double = 0.75): Long = {
    val idf = math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
    val norm = k1 * ((1.0 - b) + b * (dl.toDouble * 1000000.0 / adlMicro.toDouble))
    math.round(1000000.0 * (idf * (tf.toDouble * (k1 + 1.0) / (tf.toDouble + norm))))
  }

  test("fit: distinct-per-doc df, nDocs counts NULL-text rows, avgdl frozen as micro") {
    val m = Bm25.fit(docs, col("text"))
    assert(m.nDocs == 4L)
    assert(m.avgDlMicro == math.round(1000000.0 * 11 / 4))   // 2_750_000
    val dfs = m.docFreq.as[(String, Long)].collect().toMap
    assert(dfs == Map("the" -> 3L, "cat" -> 2L, "sat" -> 2L, "dog" -> 1L, "mat" -> 1L))
  }

  test("score: hand-computed per-term weights sum exactly; zero-hit and NULL docs row 0") {
    val m = Bm25.fit(docs, col("text"))
    val got = Bm25.score(docs, col("doc_id"), col("text"), Seq("cat", "mat"), m)
      .select("id", "dl", "n_hits", "bm25_micro")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val a = m.avgDlMicro
    assert(got(1L) == ((3L, 1L, refWeight(1, 2, 3, 4, a))))
    assert(got(2L) == ((4L, 1L, refWeight(2, 2, 4, 4, a))))
    assert(got(3L) == ((4L, 1L, refWeight(1, 1, 4, 4, a))))   // only 'mat' matches
    assert(got(4L) == ((0L, 0L, 0L)))                        // NULL text: dl 0, score 0
    assert(got.size == 4)
  }

  test("laws: tf saturates below tf*(k1+1); longer docs score less; rarer terms more") {
    val m = Bm25.fit(docs, col("text"))
    val a = m.avgDlMicro
    // saturation: doubling tf less than doubles the weight
    assert(refWeight(2, 2, 4, 4, a) < 2 * refWeight(1, 2, 4, 4, a))
    assert(refWeight(2, 2, 4, 4, a) > refWeight(1, 2, 4, 4, a))
    // length normalization: same tf, longer doc, lower weight
    assert(refWeight(1, 2, 8, 4, a) < refWeight(1, 2, 3, 4, a))
    // idf: rarer term (df 1) outweighs common (df 3) at equal tf/dl
    assert(refWeight(1, 1, 4, 4, a) > refWeight(1, 3, 4, 4, a))
  }

  test("score: OOV query terms take df = 0 (finite, positive idf)") {
    val m = Bm25.fit(docs.where(col("doc_id") <= 3), col("text"))
    val got = Bm25.score(Seq((9L, "zebra zebra")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), Seq("zebra"), m)
      .select("bm25_micro").as[Long].head()
    assert(got == refWeight(2, 0, 2, 3, m.avgDlMicro))
    assert(got > 0)
  }

  test("topK: deterministic (score desc, id asc) cut with 1-based rank") {
    val m = Bm25.fit(docs, col("text"))
    val got = Bm25.topK(docs, col("doc_id"), col("text"), Seq("cat", "mat"), m, n = 3)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1, 2, 3))
    // doc 3 hits the rare 'mat' (df 1): must lead; NULL doc never in top 3
    assert(got.head._2 == 3L)
    assert(!got.map(_._2).contains(4L))
  }

  test("broadcast ≡ shuffle model; partition invariance; save/load round trip") {
    val m = Bm25.fit(docs, col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dl", "n_hits", "bm25_micro")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val base = rows(Bm25.score(docs, col("doc_id"), col("text"), Seq("cat", "the"), m))
    val shuffled = collectShuffled(
        Bm25.score(docs, col("doc_id"), col("text"), Seq("cat", "the"), m)
          .select("id", "dl", "n_hits", "bm25_micro"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(shuffled == base)
    assert(rows(Bm25.score(docs.repartition(7), col("doc_id"), col("text"),
      Seq("cat", "the"), m)) == base)
    val dir = java.nio.file.Files.createTempDirectory("bm25").toString
    Bm25.save(m, dir)
    val m2 = Bm25.load(spark, dir)
    assert(m2.nDocs == m.nDocs && m2.avgDlMicro == m.avgDlMicro)
    assert(rows(Bm25.score(docs, col("doc_id"), col("text"), Seq("cat", "the"), m2)) == base)
  }

  test("RRF: hand example — shared id sums both lists; ties break by id; nano exact") {
    val l1 = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val l2 = Seq((20L, 1), (40L, 2)).toDF("id", "rank")
    def c(r: Int) = math.round(1.0e9 / (60.0 + r))
    val got = RankFusion.fuse(Seq(l1, l2))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(10L) == ((1L, c(1))))
    assert(got(20L) == ((2L, c(2) + c(1))))
    assert(got(30L) == ((1L, c(3))))
    assert(got(40L) == ((1L, c(2))))
    // fuseTopK: 20 leads (two lists); 10 vs 40 tie on c(1) vs c(2)? no —
    // 10 has c(1) > 40's c(2); build a REAL tie: same rank in one list each
    val t1 = Seq((7L, 1)).toDF("id", "rank")
    val t2 = Seq((5L, 1)).toDF("id", "rank")
    val top = RankFusion.fuseTopK(Seq(t1, t2), n = 2)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).toSeq
    assert(top == Seq((1, 5L), (2, 7L)))   // equal rrf_nano -> id ascending
  }

  test("RRF: single list degenerates to the input order; kappa shifts but keeps order") {
    val l = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val got = RankFusion.fuseTopK(Seq(l), n = 3)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(got == Seq(1L, 2L, 3L))
    val k0 = RankFusion.fuseTopK(Seq(l), n = 3, kappa = 0)
      .select("rank", "id").as[(Int, Long)].collect().sortBy(_._1).map(_._2).toSeq
    assert(k0 == Seq(1L, 2L, 3L))
  }

  test("scoreHof (the interpreted test reference) is output-identical to the kernel path") {
    val m = Bm25.fit(docs, col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dl", "n_hits", "bm25_micro")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(rows(Bm25.scoreHof(docs, col("doc_id"), col("text"), Seq("cat", "mat"), m)) ==
      rows(Bm25.score(docs, col("doc_id"), col("text"), Seq("cat", "mat"), m)))
  }

  test("fit: empty corpus fails with the intended message, not head()'s NoSuchElement") {
    val e = intercept[IllegalArgumentException] {
      Bm25.fit(docs.where(col("doc_id") > 100), col("text"))
    }
    assert(e.getMessage.contains("at least one document"), e.getMessage)
  }

  test("score: query terms normalize through the token contract (case/blank/dup)") {
    val m = Bm25.fit(docs, col("text"))
    def rows(q: Seq[String]) =
      Bm25.score(docs, col("doc_id"), col("text"), q, m)
        .select("id", "dl", "n_hits", "bm25_micro")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val base = rows(Seq("cat", "mat"))
    assert(rows(Seq(" CAT ", "Mat", "cat", "", "  ")) == base)
    val e = intercept[IllegalArgumentException] {
      Bm25.score(docs, col("doc_id"), col("text"), Seq("", "  "), m)
    }
    assert(e.getMessage.contains("non-blank query term"), e.getMessage)
  }

  test("plan: score broadcasts the model slice and never builds a cartesian") {
    val m = Bm25.fit(docs, col("text"))
    val plan = Bm25.score(docs, col("doc_id"), col("text"), Seq("cat"), m)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("plan: the top-k cuts are TakeOrderedAndProject, never a global sort") {
    val m = Bm25.fit(docs, col("text"))
    val pTop = Bm25.topK(docs, col("doc_id"), col("text"), Seq("cat"), m, n = 3)
      .queryExecution.executedPlan.toString
    assert(pTop.contains("TakeOrderedAndProject"), pTop)
    val l = (1L to 50L).map(i => (i, i.toInt)).toDF("id", "rank")
    val pFuse = RankFusion.fuseTopK(Seq(l), n = 2)
      .queryExecution.executedPlan.toString
    assert(pFuse.contains("TakeOrderedAndProject"), pFuse)
  }
}
