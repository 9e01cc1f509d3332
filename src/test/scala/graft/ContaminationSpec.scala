package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** L15 benchmark decontamination: planted n-gram overlap between a
  * corpus and a held-out eval set. */
class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  // the eval set: one question whose 5-gram windows must not leak
  private val bench = Seq(
    (100L, "what is the capital of france and why does it matter"),
    (101L, "compute the sum of the first hundred primes quickly"),
  ).toDF("doc_id", "text")

  // doc 1 embeds a full bench sentence (contaminated); doc 2 shares a
  // sub-threshold fragment (4 words < k=5, clean); doc 3 is unrelated
  private val corpus = Seq(
    (1L, "intro text what is the capital of france and why does it matter closing text"),
    (2L, "the capital of france is a lovely place to visit in the spring"),
    (3L, "entirely unrelated content about distributed prefix sums on spark"),
  ).toDF("doc_id", "text")

  test("flags exactly the docs sharing a full k-gram with the bench set") {
    val stats = Dedup.contaminationStats(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(stats(1L) > 0L, "doc embedding a bench sentence must be flagged")
    assert(stats(2L) == 0L, "sub-k overlap must NOT flag")
    assert(stats(3L) == 0L)
  }

  test("window counts and ratio follow the spanDupStats conventions") {
    val r = Dedup.contaminationStats(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .where(col("doc_id") === 1L).head()
    val (nw, nc, ratio) = (r.getLong(1), r.getLong(2), r.getDouble(3))
    // doc 1: 15 words → 11 windows of 5; the embedded 11-word sentence
    // contributes its 7 windows, all present in bench doc 100
    assert(nw == 11L, s"n_windows $nw")
    assert(nc == 7L, s"n_contaminated $nc")
    assert(ratio == 7.0 / 11.0)
  }

  test("decontaminatedKeep returns exactly the clean rows, full schema") {
    val kept = Dedup.decontaminatedKeep(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
    assert(kept.columns.toSeq == corpus.columns.toSeq)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("NULL-text corpus rows are KEPT (zero windows = clean), though absent from stats") {
    val withNull = corpus.unionAll(
      Seq((4L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    // stats convention: explode(shingles(NULL)) yields no rows, so doc 4
    // has no stats row — documented, and the keep decision must not
    // inherit the drop
    val stats = Dedup.contaminationStats(
        withNull, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(!stats.contains(4L))
    val kept = Dedup.decontaminatedKeep(
        withNull, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 4L), s"NULL-text doc must be kept as clean, got $kept")
  }

  test("shuffled-join opt-out (hints disabled) agrees with broadcast") {
    def stats = Dedup.contaminationStats(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
    val a = stats.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = collectShuffled(stats).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("a corpus window repeated in-doc counts with multiplicity") {
    val c = Seq((9L, "alpha beta gamma delta epsilon alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val b = Seq((90L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val r = Dedup.contaminationStats(c, col("doc_id"), col("text"), b, col("text"), k = 5).head()
    // 10 words → 6 windows; windows 1 and 6 are the bench 5-gram
    assert(r.getLong(1) == 6L)
    assert(r.getLong(2) == 2L)
  }

  test("an empty bench set flags nothing") {
    val r = Dedup.contaminationStats(
        corpus, col("doc_id"), col("text"),
        bench.where(lit(false)), col("text"), k = 5)
      .agg(sum(col("n_contaminated"))).head().getLong(0)
    assert(r == 0L)
  }

  test("bloom keep is EXACTLY the broadcast keep — Bloom only prunes, never decides") {
    val exact = Dedup.decontaminatedKeep(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .collect().map(_.toSeq).toSet
    val bloom = Dedup.decontaminatedKeepBloom(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .collect().map(_.toSeq).toSet
    assert(bloom == exact)
    // a deliberately terrible filter (fpp .5, undersized) floods the
    // verify join with false positives — the answer must not move
    val floody = Dedup.decontaminatedKeepBloom(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5,
        fpp = 0.5, expectedItems = Some(1L))
      .collect().map(_.toSeq).toSet
    assert(floody == exact)
  }

  test("InSet keep (narrow filter) is EXACTLY the broadcast keep") {
    val exact = Dedup.decontaminatedKeep(
        corpus, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .collect().map(_.toSeq).toSet
    val set = Dedup.decontaminatedKeepSet(
        corpus, col("text"), bench, col("text"), k = 5)
      .collect().map(_.toSeq).toSet
    assert(set == exact)
    // empty bench keeps everything; NULL text is kept
    val withNull = corpus.unionAll(
      Seq((97L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val all = Dedup.decontaminatedKeepSet(
        withNull, col("text"), bench.where(lit(false)), col("text"), k = 5)
    assert(all.count() == withNull.count())
    val kept = Dedup.decontaminatedKeepSet(
        withNull, col("text"), bench, col("text"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(97L))
  }

  test("InSet keep plans as a pure narrow filter — no join, no exchange") {
    val plan = Dedup.decontaminatedKeepSet(
        corpus, col("text"), bench, col("text"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Exchange"),
      s"the set keep must stay a narrow filter:\n$plan")
  }

  test("bloom keep: NULL-text and zero-window corpus rows are KEPT") {
    val withNull = corpus.unionAll(
      Seq((99L, null.asInstanceOf[String]), (98L, "tiny")).toDF("doc_id", "text"))
    val kept = Dedup.decontaminatedKeepBloom(
        withNull, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(99L) && kept.contains(98L))
  }

  // ---------------------------------------------------------------- L37
  // doc 11 is a light reflow of bench doc 200 (high shingle Jaccard,
  // zero long exact windows); doc 12 shares topic words only; doc 13
  // is an exact copy of bench doc 201.
  private val nearBench = Seq(
    (200L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (201L, "completely original benchmark question about prime factorization")
  ).toDF("doc_id", "text")
  private val nearCorpus = Seq(
    (11L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (12L, "a quick note about a brown dog by the river"),
    (13L, "completely original benchmark question about prime factorization"),
    (14L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  test("crossNearPairs: paraphrase/reflow flagged, topical overlap not, exact copy J=1") {
    val pairs = Dedup.crossNearPairs(
        nearCorpus, col("doc_id"), col("text"),
        nearBench, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((11L, 200L)), "reflowed doc must near-match its bench source")
    assert(pairs((13L, 201L)) == 1.0, "exact copy must verify at J=1")
    assert(!pairs.keys.exists(_._1 == 12L), "topical-overlap doc must stay clean")
    assert(!pairs.keys.exists(_._1 == 14L), "NULL text can never pair")
    // no within-side pairs ever: id_a from corpus, id_b from bench
    assert(pairs.keys.forall { case (a, b) => a < 100L && b >= 200L })
  }

  test("decontaminatedKeepNear drops exactly the flagged docs; NULL text kept") {
    val kept = Dedup.decontaminatedKeepNear(
        nearCorpus, col("doc_id"), col("text"),
        nearBench, col("doc_id"), col("text"), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L, 14L))
    // empty bench keeps everything
    val all = Dedup.decontaminatedKeepNear(
        nearCorpus, col("doc_id"), col("text"),
        nearBench.where(lit(false)), col("doc_id"), col("text"), threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(all == Set(11L, 12L, 13L, 14L))
  }

  test("crossNearPairs: broadcast and shuffle bench paths agree; no cartesian") {
    def pairs = Dedup.crossNearPairs(
        nearCorpus, col("doc_id"), col("text"),
        nearBench, col("doc_id"), col("text"), threshold = 0.5)
    def triples(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val broadcastPairs = triples(pairs.collect().toSeq)
    assert(broadcastPairs.nonEmpty)
    assert(triples(collectShuffled(pairs)) == broadcastPairs)
    val plan = Dedup.crossNearPairs(
        nearCorpus, col("doc_id"), col("text"),
        nearBench, col("doc_id"), col("text"), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cross LSH must never cartesian:\n$plan")
  }
}
