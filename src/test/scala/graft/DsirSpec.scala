package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dsir

/** Independent twin of the engine's DSIR model: JVM md5 buckets,
  * add-one integer-ratio models, per-bucket micro-nat quantization.
  * Shared by the fixed fixtures and the generated sweep. */
private[graft] object DsirLocal {
  def grams(text: String): Seq[String] = {
    val ws = text.trim.replaceAll("\\s+", " ").toLowerCase
      .split(" ").filter(_.nonEmpty).toSeq
    ws ++ ws.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }
  def bucket(g: String, buckets: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(g.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16) % buckets
  }
  def weights(
      corpus: Seq[Doc], target: Seq[Doc], buckets: Int): Map[Long, (Long, Long)] = {
    def fit(ds: Seq[Doc]) = ds.flatMap(d => grams(Option(d.text).getOrElse("")))
      .map(bucket(_, buckets)).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tm = fit(target); val rm = fit(corpus)
    val np = tm.values.sum; val nq = rm.values.sum
    def lr(b: Long): Long = math.round((
      math.log(tm.getOrElse(b, 0L).toDouble + 1.0) - math.log(np.toDouble + buckets) -
      math.log(rm.getOrElse(b, 0L).toDouble + 1.0) + math.log(nq.toDouble + buckets)
      ) * 1000000.0)
    corpus.map { d =>
      val bs = grams(Option(d.text).getOrElse("")).map(bucket(_, buckets))
      d.doc_id -> (bs.size.toLong, bs.map(lr).sum)
    }.toMap
  }
}

/** DSIR hashed-ngram importance weights (L42) — independent local
  * reimplementation as ground truth (fixed fixtures AND a generated
  * sweep), plus the model laws: target ≡ raw zeroes every weight
  * exactly, unseen grams take the default, weights are
  * partition-invariant, broadcast ≡ shuffle. */
class DsirSpec extends SparkSpec {

  private def docs(rows: Doc*) = {
    import spark.implicits._
    rows.toDS.toDF
  }

  private val Local = DsirLocal

  private val corpus = Seq(
    Doc(1L, "the cat sat on the mat"),
    Doc(2L, "a dog ran across the yard"),
    Doc(3L, "the cat and the dog"),
    Doc(4L, "quantum flux capacitors hum"),
    Doc(5L, ""),
    Doc(6L, null))
  private val target = Seq(
    Doc(10L, "the cat sat quietly"),
    Doc(11L, "a cat and a mat"))

  test("md5 mode matches an independent local implementation; xx mode separates the same") {
    val exp = Local.weights(corpus, target, buckets = 64)
    val out = Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(target: _*), col("text"), buckets = 64, md5Hash = true)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == exp, s"engine $out vs local $exp")
    // the planted split must actually separate: cat-ish docs score
    // higher per gram than the OOV quantum doc
    assert(out(1L)._2 > out(4L)._2)
    // the default xxhash64 kernel: gram COUNTS are hash-independent
    // and zero-gram docs still score (0,0). (Cross-doc weight ORDER at
    // this toy scale is smoothing-dominated — B >> N makes rare-vs-OOV
    // ordering a function of bucket count, not target-likeness — so
    // the semantic assertion lives on the md5 twin above and the
    // identity law below, which are hash-mode-agnostic.)
    val fast = Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(target: _*), col("text"), buckets = 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fast.view.mapValues(_._1).toMap == out.view.mapValues(_._1).toMap)
    assert(fast(5L) == (0L, 0L) && fast(6L) == (0L, 0L))
  }

  test("generated corpora: engine == independent local implementation (sweep)") {
    // seeded generated sweep (each case is two tiny Spark jobs)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val rng = new scala.util.Random(7)
    for (case_ <- 1 to 5) {
      val n = 1 + rng.nextInt(10)
      val corpusG = (0 until n).map { i =>
        Doc(i.toLong, Seq.fill(rng.nextInt(7))(words(rng.nextInt(words.size))).mkString(" "))
      }
      val targetG = corpusG.filter(_.doc_id % 3 == 0)
      val exp = Local.weights(corpusG, targetG, buckets = 512)
      val out = Dsir.weights(docs(corpusG: _*), col("doc_id"), col("text"),
          docs(targetG: _*), col("text"), buckets = 512, md5Hash = true)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(out == exp, s"case $case_: engine $out vs local $exp (corpus $corpusG)")
    }
  }

  test("target == raw zeroes every weight EXACTLY (the identity law)") {
    val out = Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(corpus: _*), col("text"), buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.values.forall(_ == 0L),
      s"cp==cq and Np==Nq per bucket must cancel to 0 micro-nats: $out")
  }

  test("zero-gram and NULL docs score (0, 0)") {
    val out = Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(target: _*), col("text"), buckets = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(5L) == (0L, 0L) && out(6L) == (0L, 0L))
  }

  test("grams absent from BOTH models take the default log-ratio") {
    // raw model fit on corpus docs 1-3 only; the scored quantum doc's
    // grams hit neither model -> logw = n_grams * default
    val fitOn = corpus.take(3)
    val (table, default) = Dsir.logRatioTable(
      Dsir.fitBuckets(docs(target: _*), col("text"), 4096),
      Dsir.fitBuckets(docs(fitOn: _*), col("text"), 4096), 4096)
    val out = Dsir.scoreWeights(docs(Doc(4L, "quantum flux capacitors hum")),
        col("doc_id"), col("text"), table, default, 4096)
      .head()
    val nGrams = out.getLong(1)
    assert(nGrams == 7L) // 4 unigrams + 3 bigrams
    // collision-free at 4096 buckets for this tiny vocab (checked by
    // the equality itself): every gram lands on the default
    assert(out.getLong(2) == nGrams * default)
  }

  test("weights are partition-invariant and broadcast == shuffle") {
    val base = Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(target: _*), col("text"), buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val repart = Dsir.weights(docs(corpus: _*).repartition(7), col("doc_id"), col("text"),
        docs(target: _*).repartition(3), col("text"), buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val shuffled = collectShuffled(Dsir.weights(docs(corpus: _*), col("doc_id"), col("text"),
        docs(target: _*), col("text"), buckets = 64))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(base == repart && base == shuffled)
  }
}
