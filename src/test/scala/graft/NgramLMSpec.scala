package graft

import org.apache.spark.sql.functions._
import graft.operators.NgramLM

/** L29 n-gram LM quality scoring: hand-computed add-one probabilities
  * on a tiny corpus, OOV floor on a fit/score split, zero-token
  * conventions, exactness (micro-nat quantization makes the doc sum
  * partition-invariant), and broadcast/shuffle-join equivalence. */
class NgramLMSpec extends SparkSpec {
  import spark.implicits._

  private def micro(p: Double): Long = Math.round(Math.log(p) * 1e6)

  test("bigrams: consecutive pairs, no whole-text collapse") {
    val df = Seq("a b c d", "solo", "", "x y").toDF("t")
      .select(NgramLM.bigrams(NgramLM.tokens(col("t"))).as("bg"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(List("a b", "b c", "c d"), Nil, Nil, List("x y")))
  }

  test("fitUnigram counts tokens after normalization; N and V are exact") {
    val df = Seq("a  A b", "c a").toDF("t") // norm folds case + spaces
    val m = NgramLM.fitUnigram(df, col("t"))
    val counts = m.counts.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    assert(m.totalTokens == 5L && m.vocabSize == 3L)
  }

  test("scoreUnigram matches hand-computed add-one log-probs") {
    val df = Seq((1L, "a a b"), (2L, "c")).toDF("id", "t")
    val m = NgramLM.fitUnigram(df, col("t"))
    assert(m.totalTokens == 4L && m.vocabSize == 3L)
    val got = NgramLM.scoreUnigram(df, col("id"), col("t"), m)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // p(a) = 3/7, p(b) = 2/7, p(c) = 2/7
    assert(got(1L) == ((3L, 2 * micro(3.0 / 7) + micro(2.0 / 7))))
    assert(got(2L) == ((1L, micro(2.0 / 7))))
  }

  test("OOV tokens take the Laplace floor 1/(N+V) when scoring a different split") {
    val fitDf = Seq("a a b").toDF("t") // N=3, V=2
    val m = NgramLM.fitUnigram(fitDf, col("t"))
    val got = NgramLM.scoreUnigram(Seq((9L, "zz")).toDF("id", "t"), col("id"), col("t"), m)
      .head()
    assert(got.getLong(1) == 1L)
    assert(got.getLong(2) == micro(1.0 / 5))
  }

  test("zero-token documents score (0, 0, NULL) and are not dropped") {
    val df = Seq((1L, "a b"), (2L, "   "), (3L, "")).toDF("id", "t")
    val m = NgramLM.fitUnigram(df, col("t"))
    val rows = NgramLM.scoreUnigram(df, col("id"), col("t"), m)
      .orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).getLong(1) == 0L && rows(1).getLong(2) == 0L && rows(1).isNullAt(3))
    assert(rows(2).getLong(1) == 0L && rows(2).getLong(2) == 0L && rows(2).isNullAt(3))
  }

  test("scores are partition-invariant (quantization makes the sum exact)") {
    val docs = (1L to 300L).map(i => (i, s"tok${i % 7} tok${i % 3} tok${i % 11} x y z"))
    val df = docs.toDF("id", "t")
    val m = NgramLM.fitUnigram(df, col("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      NgramLM.scoreUnigram(d, col("id"), col("t"), m)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(run(df) == run(df.repartition(17)))
  }

  test("scoreBigram matches hand-computed conditional log-probs") {
    // corpus: "a b a" and "b a" -> unigrams a:3 b:2 (V=2);
    // bigrams: "a b":1, "b a":2
    val df = Seq((1L, "a b a"), (2L, "b a")).toDF("id", "t")
    val m = NgramLM.fitBigram(df, col("t"))
    assert(m.vocabSize == 2L)
    val got = NgramLM.scoreBigram(df, col("id"), col("t"), m)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc1: p(b|a) = (1+1)/(3+2), p(a|b) = (2+1)/(2+2)
    assert(got(1L) == ((2L, micro(2.0 / 5) + micro(3.0 / 4))))
    assert(got(2L) == ((1L, micro(3.0 / 4))))
  }

  test("single-token docs have no bigrams; shuffle join equals broadcast join") {
    val df = Seq((1L, "a b c"), (2L, "solo")).toDF("id", "t")
    val m = NgramLM.fitBigram(df, col("t"))
    val b = NgramLM.scoreBigram(df, col("id"), col("t"), m).orderBy("id").collect().toSeq
    val s = collectShuffled(NgramLM.scoreBigram(df, col("id"), col("t"), m).orderBy("id"))
    assert(b == s)
    assert(b(1).getLong(1) == 0L && b(1).getLong(2) == 0L && b(1).isNullAt(3))
    val um = NgramLM.fitUnigram(df, col("t"))
    val u1 = collectShuffled(NgramLM.scoreUnigram(df, col("id"), col("t"), um).orderBy("id"))
    val u2 = NgramLM.scoreUnigram(df, col("id"), col("t"), um).orderBy("id").collect()
    assert(u1 == u2.toSeq)
  }

  test("pmiTop: hand-computed PMI, minCount floor, deterministic tie cut") {
    // corpus: "x y" repeated 3 times in one doc + "a b" once each in
    // separate docs. Bigrams: "x y":3, "y x":2, "a b":1.
    // Unigrams: x:3 y:3 a:1 b:1 -> N_u = 8, N_b = 6.
    val df = Seq((1L, "x y x y x y"), (2L, "a b")).toDF("id", "t")
    val m = NgramLM.fitBigram(df, col("t"))
    val got = NgramLM.pmiTop(m, k = 10, minCount = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == Set("x y", "y x"), s"minCount=2 must drop 'a b': $got")
    def pmi(cAb: Long, cA: Long, cB: Long): Long =
      Math.round(math.log((cAb.toDouble / 6.0) / ((cA.toDouble / 8.0) * (cB.toDouble / 8.0))) * 1e6)
    assert(got("x y") == ((3L, 3L, 3L, pmi(3, 3, 3))))
    assert(got("y x") == ((2L, 3L, 3L, pmi(2, 3, 3))))
    // broadcast and shuffle paths agree; k cuts deterministically
    val b = NgramLM.pmiTop(m, k = 1, minCount = 2).head()
    val s = collectShuffled(NgramLM.pmiTop(m, k = 1, minCount = 2)).head
    assert(b.getString(0) == "x y" && s.getString(0) == "x y")
  }

  test("save/load round trips: loaded models score identically (uni + bi)") {
    import spark.implicits._
    val df = Seq((1L, "a b a c"), (2L, "b c d e"), (3L, "a a")).toDF("id", "t")
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    val um = NgramLM.fitUnigram(df, col("t"))
    NgramLM.saveUnigram(um, s"$dir/uni")
    val ub = NgramLM.loadUnigram(spark, s"$dir/uni")
    assert(ub.totalTokens == um.totalTokens && ub.vocabSize == um.vocabSize)
    assert(NgramLM.scoreUnigram(df, col("id"), col("t"), ub).collect().map(_.toSeq).toSet ==
      NgramLM.scoreUnigram(df, col("id"), col("t"), um).collect().map(_.toSeq).toSet)
    val bm = NgramLM.fitBigram(df, col("t"))
    NgramLM.saveBigram(bm, s"$dir/bi")
    val bb = NgramLM.loadBigram(spark, s"$dir/bi")
    assert(bb.vocabSize == bm.vocabSize)
    assert(NgramLM.scoreBigram(df, col("id"), col("t"), bb).collect().map(_.toSeq).toSet ==
      NgramLM.scoreBigram(df, col("id"), col("t"), bm).collect().map(_.toSeq).toSet)
  }

  test("fitKnBigram: discount, context/continuation stats match hand counts") {
    val df = Seq("a b", "a b", "a c", "b c").toDF("t")
    val m = NgramLM.fitKnBigram(df, col("t"))
    // bigram counts: "a b":2, "a c":1, "b c":1 -> T=3, n1=2, n2=1
    assert(m.vocabSize == 3L && m.bigramTypes == 3L && m.n1 == 2L && m.n2 == 1L)
    assert(m.discount == 0.5) // 2 / (2 + 2*1)
    val ctx = m.ctx.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ctx == Map("a" -> ((3L, 2L)), "b" -> ((1L, 1L))))
    val cont = m.cont.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cont == Map("b" -> 1L, "c" -> 2L))
    // no-singleton corpus hits the documented D=0.5 fallback… and a
    // corpus whose types are all count>=3 hits n1+2n2 == 0
    val m2 = NgramLM.fitKnBigram(Seq("x y", "x y", "x y").toDF("t"), col("t"))
    assert(m2.n1 == 0L && m2.n2 == 0L && m2.discount == 0.5)
  }

  test("scoreKnBigram matches hand-computed interpolated-KN probs incl. both backoffs") {
    val fit = Seq("a b", "a b", "a c", "b c").toDF("t")
    val m = NgramLM.fitKnBigram(fit, col("t"))
    val d = 0.5
    def pc(nPrec: Long): Double = (nPrec + 1).toDouble / 6.0 // T+V = 6
    def pKn(cab: Long, cCtx: Long, nFollow: Long, nPrec: Long): Double =
      (math.max(cab.toDouble - d, 0.0) + (d * nFollow.toDouble) * pc(nPrec)) / cCtx.toDouble
    val docs = Seq(
      (1L, "a b"),  // seen pair
      (2L, "a z"),  // unseen continuation under known context
      (3L, "z a"),  // unseen context -> continuation prob alone
      (4L, "b c"),  // seen singleton pair
      (5L, "solo"), // no bigrams
      (6L, "a b c") // two pairs summed exactly
    ).toDF("id", "t")
    val got = NgramLM.scoreKnBigram(docs, col("id"), col("t"), m)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(got(1L) == ((1L, micro(pKn(2, 3, 2, 1)), Some(micro(pKn(2, 3, 2, 1)) / 1e6))))
    assert(got(2L)._1 == 1L && got(2L)._2 == micro(pKn(0, 3, 2, 0)))
    // 'a' never occurs as a continuation in the fit corpus -> n_prec=0
    assert(got(3L)._1 == 1L && got(3L)._2 == micro(pc(0)))
    assert(got(4L)._2 == micro(pKn(1, 1, 1, 2)))
    assert(got(5L) == ((0L, 0L, None)))
    assert(got(6L) == ((2L,
      micro(pKn(2, 3, 2, 1)) + micro(pKn(1, 1, 1, 2)),
      Some((micro(pKn(2, 3, 2, 1)) + micro(pKn(1, 1, 1, 2))).toDouble / 2e6))))
    // shuffle join path identical to broadcast
    val sh = collectShuffled(NgramLM.scoreKnBigram(docs, col("id"), col("t"), m))
      .map(_.toSeq).toSet
    assert(sh == NgramLM.scoreKnBigram(docs, col("id"), col("t"), m).collect().map(_.toSeq).toSet)
  }
}
