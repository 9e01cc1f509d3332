package graft

import org.apache.spark.sql.functions._
import graft.operators.TfIdf

/** L34 TF-IDF: hand-computed df/idf on a tiny corpus, the
  * Σtf·idf ≡ Σoccurrence-idf identity, OOV smoothing on a fit/score
  * split, token-less docs, deterministic top-k ties, broadcast ≡
  * shuffle, partition invariance. */
class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  // N=4 docs; df: the=3, cat=2, dog=1, sat=2, mat=1
  private val docs = Seq(
    (1L, "the cat sat"),
    (2L, "the cat the cat"),   // tf(cat)=2, tf(the)=2
    (3L, "the dog sat mat"),
    (4L, "")).toDF("doc_id", "text")

  private def microIdf(df: Long, n: Long): Long =
    math.round(math.log((n + 1).toDouble / (df + 1).toDouble) * 1e6)

  test("fit: distinct-per-doc document frequencies, nDocs counts every row") {
    val m = TfIdf.fit(docs, col("text"))
    assert(m.nDocs == 4L)
    val dfs = m.docFreq.as[(String, Long)].collect().toMap
    assert(dfs == Map("the" -> 3L, "cat" -> 2L, "sat" -> 2L, "dog" -> 1L, "mat" -> 1L))
  }

  test("score: per-doc sum of occurrence idfs (= Σ tf·idf), micro-nat exact") {
    val m = TfIdf.fit(docs, col("text"))
    val got = TfIdf.score(docs, col("doc_id"), col("text"), m)
      .select("id", "n_tokens", "tfidf_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val i = Map("the" -> microIdf(3, 4), "cat" -> microIdf(2, 4),
      "sat" -> microIdf(2, 4), "dog" -> microIdf(1, 4), "mat" -> microIdf(1, 4))
    assert(got(1L) == ((3L, i("the") + i("cat") + i("sat"))))
    assert(got(2L) == ((4L, 2 * i("the") + 2 * i("cat"))))   // tf·idf via occurrences
    assert(got(3L) == ((4L, i("the") + i("dog") + i("sat") + i("mat"))))
    assert(got(4L) == ((0L, 0L)))                            // token-less doc
  }

  test("score: OOV terms on a fit/score split take the smoothed floor ln(N+1)") {
    val m = TfIdf.fit(docs.where(col("doc_id") <= 3), col("text"))
    val got = TfIdf.score(Seq((9L, "zebra")).toDF("doc_id", "text"),
        col("doc_id"), col("text"), m)
      .select("tfidf_micro").as[Long].head()
    assert(got == microIdf(0, 3))   // df=0 -> ln((N+1)/1), finite
  }

  test("topTerms: rarest-first, ties broken by term, k cuts exactly") {
    val m = TfIdf.fit(docs, col("text"))
    val got = TfIdf.topTerms(docs, col("doc_id"), col("text"), m, k = 2)
      .where(col("id") === 3L).orderBy("rank")
      .select("term", "rank").as[(String, Int)].collect().toSeq
    // doc 3 weights: dog=mat (df 1) > sat (df 2) > the; tie dog/mat -> term asc
    assert(got == Seq("dog" -> 1, "mat" -> 2))
    val all = TfIdf.topTerms(docs, col("doc_id"), col("text"), m, k = 2)
    assert(all.where(col("id") === 4L).count() == 0)   // empty doc: no rows
    assert(all.groupBy("id").count().agg(max("count")).head().getLong(0) <= 2)
  }

  test("save/load round trip: the loaded model scores identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tfidf").toString
    val m = TfIdf.fit(docs, col("text"))
    TfIdf.save(m, dir)
    val back = TfIdf.load(spark, dir)
    assert(back.nDocs == m.nDocs)
    val a = TfIdf.score(docs, col("doc_id"), col("text"), m).collect().map(_.toSeq).toSet
    val b = TfIdf.score(docs, col("doc_id"), col("text"), back).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("broadcast and shuffle model joins agree; partition invariance") {
    val m = TfIdf.fit(docs, col("text"))
    val a = TfIdf.score(docs, col("doc_id"), col("text"), m).collect().map(_.toSeq).toSet
    val b = collectShuffled(TfIdf.score(docs.repartition(7), col("doc_id"), col("text"), m))
      .map(_.toSeq).toSet
    assert(a == b)
  }
}
