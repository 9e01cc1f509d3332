package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.NaiveBayes

/** L36 multinomial Naive Bayes: hand-computed add-one posteriors on a
  * tiny corpus, prior-only zero-token docs, deterministic min-label
  * tie-break, OOV Laplace floor, NULL-label exclusion from fit,
  * broadcast/shuffle equivalence, save/load, partition invariance,
  * and the single-exchange score plan shape. */
class NaiveBayesSpec extends SparkSpec {
  import spark.implicits._

  /** Spark round(x,0) semantics: HALF_UP via BigDecimal (half away
    * from zero for these negative log-probs) — NOT Math.round. */
  private def micro(p: Double): Long =
    BigDecimal(math.log(p) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  // corpus: A = {"a a b", "a"}, B = {"b b c"}
  // A: a:3 b:1 (n_tok 4, n_docs 2); B: b:2 c:1 (n_tok 3, n_docs 1); V=3, N=3
  private def tiny = Seq(
    (1L, "A", "a a b"), (2L, "A", "a"), (3L, "B", "b b c")).toDF("id", "lab", "t")

  test("fit: integer counts, label stats, vocab, priors") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    assert(m.totalDocs == 3L && m.vocabSize == 3L)
    val byLabel = m.labels.map(l => l.label -> l).toMap
    assert(byLabel("A").nDocs == 2L && byLabel("A").nTokens == 4L)
    assert(byLabel("B").nDocs == 1L && byLabel("B").nTokens == 3L)
    assert(byLabel("A").priorMicro == micro(2.0 / 3))
    assert(byLabel("B").priorMicro == micro(1.0 / 3))
    val counts = m.tokenCounts.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("A", "a") -> 3L, ("A", "b") -> 1L, ("B", "b") -> 2L, ("B", "c") -> 1L))
  }

  test("score matches hand-computed add-one posteriors") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    val got = NaiveBayes.score(Seq((9L, "a b")).toDF("id", "t"), col("id"), col("t"), m).head()
    // A: ln(2/3) + ln(4/7) + ln(2/7);  B: ln(1/3) + ln(1/6) + ln(3/6)
    val sa = micro(2.0 / 3) + micro(4.0 / 7) + micro(2.0 / 7)
    val sb = micro(1.0 / 3) + micro(1.0 / 6) + micro(3.0 / 6)
    assert(sa > sb) // sanity: "a b" is A-ish
    assert(got.getLong(1) == 2L)
    assert(got.getString(2) == "A")
    assert(got.getLong(3) == sa)
  }

  test("OOV tokens take each label's Laplace floor 1/(n_tok_c+V)") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    val got = NaiveBayes.score(Seq((9L, "zz")).toDF("id", "t"), col("id"), col("t"), m)
      .head()
    // A: ln(2/3) + ln(1/7);  B: ln(1/3) + ln(1/6)
    val sa = micro(2.0 / 3) + micro(1.0 / 7)
    val sb = micro(1.0 / 3) + micro(1.0 / 6)
    assert(got.getString(2) == (if (sa >= sb) "A" else "B"))
    assert(got.getLong(3) == math.max(sa, sb))
  }

  test("zero-token docs classify by prior alone; none are dropped") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    val rows = NaiveBayes.score(
      Seq((1L, "a"), (2L, "   "), (3L, null.asInstanceOf[String])).toDF("id", "t"),
      col("id"), col("t"), m).orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(1).getLong(1) == 0L && rows(1).getString(2) == "A") // prior(A) > prior(B)
    assert(rows(1).getLong(3) == micro(2.0 / 3))
    assert(rows(2).getLong(1) == 0L && rows(2).getString(2) == "A")
  }

  test("exact score ties break to the lexicographically smallest label") {
    // one doc per label, disjoint same-shape vocab: scoring a zero-token
    // doc gives equal priors -> tie -> min label
    val df = Seq((1L, "L2", "x"), (2L, "L1", "y")).toDF("id", "lab", "t")
    val m = NaiveBayes.fit(df, col("lab"), col("t"))
    val got = NaiveBayes.score(Seq((9L, "")).toDF("id", "t"), col("id"), col("t"), m).head()
    assert(got.getString(2) == "L1")
  }

  test("NULL-label rows are excluded from fit (not counted anywhere)") {
    val df = Seq((1L, "A", "a a b"), (2L, "A", "a"), (3L, "B", "b b c"),
      (4L, null.asInstanceOf[String], "a b c d e")).toDF("id", "lab", "t")
    val m = NaiveBayes.fit(df, col("lab"), col("t"))
    assert(m.totalDocs == 3L && m.vocabSize == 3L)
    assert(m.labels.map(_.label).toSet == Set("A", "B"))
  }

  test("fit on zero labeled rows fails loudly") {
    val df = Seq((1L, null.asInstanceOf[String], "a")).toDF("id", "lab", "t")
    intercept[IllegalArgumentException] {
      NaiveBayes.fit(df, col("lab"), col("t"))
    }
  }

  test("broadcast and shuffle-join scoring agree") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    val probe = Seq((1L, "a b c"), (2L, "c c"), (3L, "")).toDF("id", "t")
    val b = NaiveBayes.score(probe, col("id"), col("t"), m).orderBy("id").collect().toSeq
    val s = collectShuffled(NaiveBayes.score(probe, col("id"), col("t"), m).orderBy("id"))
    assert(b == s)
  }

  test("save/load round trips: loaded model scores identically") {
    val m = NaiveBayes.fit(tiny, col("lab"), col("t"))
    val dir = java.nio.file.Files.createTempDirectory("graft-nb").toString
    NaiveBayes.save(m, dir)
    val l = NaiveBayes.load(spark, dir)
    assert(l.vocabSize == m.vocabSize && l.totalDocs == m.totalDocs && l.labels == m.labels)
    val probe = Seq((1L, "a b c"), (2L, "zz"), (3L, "")).toDF("id", "t")
    assert(
      NaiveBayes.score(probe, col("id"), col("t"), l).collect().map(_.toSeq).toSet ==
      NaiveBayes.score(probe, col("id"), col("t"), m).collect().map(_.toSeq).toSet)
  }

  test("scores are partition-invariant (micro-nat sums are exact)") {
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "even" else "odd",
      s"tok${i % 7} tok${i % 3} tok${i % 11} x y"))
    val df = docs.toDF("id", "lab", "t")
    val m = NaiveBayes.fit(df, col("lab"), col("t"))
    def run(d: org.apache.spark.sql.DataFrame) =
      NaiveBayes.score(d, col("id"), col("t"), m)
        .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(run(df) == run(df.repartition(17)))
  }

  test("plan: score is one broadcast join + one keyed exchange; no join per label") {
    // load a persisted model so the broadcast side is a parquet scan +
    // the single pivot aggregation — the fit-once-score-many shape
    val dir = java.nio.file.Files.createTempDirectory("graft-nb-plan").toString
    NaiveBayes.save(NaiveBayes.fit(tiny, col("lab"), col("t")), dir)
    val m = NaiveBayes.load(spark, dir)
    val df = NaiveBayes.score(Seq((1L, "a b"), (2L, "c")).toDF("id", "t"),
      col("id"), col("t"), m)
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert(plan.contains("BroadcastHashJoin"), s"model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"token stream must not shuffle or cross:\n$plan")
    // exactly 2 keyed exchanges: the model pivot (broadcast side, |vocab|
    // rows) and the per-doc aggregation — the token stream itself and
    // the |labels| per-label sums ride ONE exchange, never |labels| many
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"pivot + per-doc agg = 2 keyed exchanges, got $exchanges:\n$plan")
  }
}
