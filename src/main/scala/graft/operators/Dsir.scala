package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
  * arXiv:2302.03169): score every raw-corpus document by how much more
  * likely its hashed n-gram features are under a TARGET distribution
  * (the high-quality reference set) than under the RAW distribution,
  * then resample the corpus toward the target. This is the published
  * cheap alternative to classifier-based selection (L36): two bags of
  * hashed n-gram counts stand in for the classifier.
  *
  * The model: unigrams + consecutive bigrams of the normalized
  * whitespace tokens (the paper's k ≤ 2 hashed features) hash into
  * `buckets` buckets; target and raw bucket-count vectors get add-one
  * (Laplace) smoothing, so every probability is the integer ratio
  * `(cnt_b + 1) / (N + B)`. A document's log importance weight is the
  * sum over its gram OCCURRENCES of `ln(p_b / q_b)` — per-bucket
  * log-ratios quantized to integer micro-nats BEFORE the doc sum (the
  * L29 convention: the sum is then an exact, order-free BIGINT).
  *
  * Cross-engine exactness: the bucket hash is the first 8 hex chars of
  * md5(gram) read as an integer mod `buckets` (the L16/L27 draw — both
  * engines md5 the identical UTF-8 bytes), and the log-ratio chain is
  * FIXED as `ln(cp+1) − ln(Np+B) − ln(cq+1) + ln(Nq+B)` on
  * integer-valued doubles, so both engines quantize the identical IEEE
  * value (documented ≤0.5e-6 nat/gram boundary risk, as L29).
  *
  * Scale shape (100 TB): each fit is ONE word-count aggregate whose
  * output is capped at `buckets` rows (the shuffle carries map-side
  * combined bucket partials, never grams); the log-ratio table is ≤ B
  * rows and BROADCASTS (a table too large to broadcast opts out with
  * `spark.sql.optimizer.disableHints=true`, set on a
  * `spark.newSession()` because it drops every hint in that session);
  * the exploded gram stream never shuffles — only the per-doc partial agg
  * exchanges (~1 row/doc/task). The paper's Gumbel-noise resampling
  * step is deliberately replaced by DETERMINISTIC composition:
  * normalize weights into rates for [[Sampling.sampleImportance]], cut
  * a budget with [[Pack.selectByBudget]] ordered by weight, or take
  * [[Sampling.topKPerGroup]] per domain — all reproducible under
  * re-runs and repartitioning, which `exp(Gumbel)` draws are not. */
object Dsir {

  /** Hashed n-gram feature buckets of a document: unigrams + bigrams
    * of [[NgramLM.tokens]], each mapped into `buckets` buckets.
    * `md5Hash = false` (default) hashes with Spark's native
    * `xxhash64` — measured 7× faster than the md5 chain at 10×
    * stress scale, the right kernel for a 100 TB pass; `md5Hash =
    * true` uses the first 8 hex chars of md5 (the L16/L27 draw),
    * reproducible in ANY engine — pick it when weights must be
    * re-derivable outside the JVM (it is what DsirSpec's independent
    * local model checks). The weight SEMANTICS are identical either
    * way; only bucket placement differs. Empty/NULL text →
    * empty/NULL array. Pure narrow expression. CALLERS pass a
    * MATERIALIZED token array at scale (the [[NgramLM.bigrams]]
    * staging contract); the module's own paths stage via
    * [[stagedBuckets]]. */
  def hashedBuckets(text: Column, buckets: Int, md5Hash: Boolean = false): Column = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    bucketsOfToks(NgramLM.tokens(text), buckets, md5Hash)
  }

  /** Bucket stream of a MATERIALIZED token array (callers stage the
    * tokenization so the bigram zip never re-tokenizes — the
    * [[hashedBuckets]] doc). Public: [[NgramLR]] reuses this exact
    * kernel as its feature extractor, so the two selection methods
    * (importance ratios and the trained classifier) share one feature
    * space. ONE fused codegen'd pass ([[org.apache.spark.sql.graftexpr
    * .GramBucketsExpr]], r21) — bit-identical to the previous
    * `transform(concat(toks, bigrams(toks)), g => hash % buckets)` HOF
    * chain (GramBucketsSpec pins the equivalence), without per-gram
    * string materialization or the md5 branch's hex/substr/conv
    * round-trip (measured 2.3× on dsir_weights_md5 at sf0.1:
    * 4.80 → 2.06 s). */
  def bucketsOfTokens(toks: Column, buckets: Int, md5Hash: Boolean): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.graftexpr.GramBucketsExpr(
        org.apache.spark.sql.graftbridge.Bridge.expr(toks), buckets, md5Hash))

  private def bucketsOfToks(toks: Column, buckets: Int, md5Hash: Boolean): Column =
    bucketsOfTokens(toks, buckets, md5Hash)

  /** `(keep-names…, _graft_bs)` with the tokenization STAGED in its
    * own projection so the bigram zip never re-tokenizes. */
  private def stagedBuckets(
      df: DataFrame, keep: Seq[(String, Column)], text: Column,
      buckets: Int, md5Hash: Boolean): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.select(keep.map { case (n, c) => c.as(n) } :+ NgramLM.tokens(text).as("_graft_toks"): _*)
      .select(keep.map { case (n, _) => col(n) } :+
        bucketsOfToks(col("_graft_toks"), buckets, md5Hash).as("_graft_bs"): _*)
  }

  /** The exploded `(idCols…, b)` gram-occurrence stream — public so
    * the driver gate can EXPORT it at verify scale and re-derive the
    * whole model + scoring downstream in SQL (the PARTIAL-oracle
    * pattern: only the hash kernel rests on the spec). */
  def occurrences(
      df: DataFrame, id: Column, text: Column, buckets: Int,
      md5Hash: Boolean = false): DataFrame =
    stagedBuckets(df, Seq("doc_id" -> id), text, buckets, md5Hash)
      .select(col("doc_id"), explode(col("_graft_bs")).as("b"))

  /** Fit one side's bucket-count model: `(b, cnt)`, ≤ `buckets` rows,
    * one map-side-combined aggregate over one scan. */
  def fitBuckets(
      df: DataFrame, text: Column, buckets: Int,
      md5Hash: Boolean = false): DataFrame =
    stagedBuckets(df, Nil, text, buckets, md5Hash)
      .select(explode(col("_graft_bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))

  /** The per-bucket micro-nat log-ratio table
    * `(b, lr_micro = round(1e6·(ln(cp+1) − ln(Np+B) − ln(cq+1) +
    * ln(Nq+B))))` over the UNION of both models' buckets, plus the
    * default for unseen buckets (cp = cq = 0). Returns the ≤ 2B-row
    * table and the default as a pair. Np/Nq collect as two scalars
    * (bounded-artifact contract — the models are ≤ B rows). */
  def logRatioTable(
      target: DataFrame, raw: DataFrame, buckets: Int): (DataFrame, Long) = {
    // the ≤B-row count models are each read twice more below (the
    // union merge + the scoring broadcast) — persist so the corpus
    // fit-scan behind them runs ONCE, not per consumer. Scans with →
    // without, per persist: dsir_weights 3 → 4
    val t = graft.InternalCaches.persist(target)
    val r = graft.InternalCaches.persist(raw)
    val np = t.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val nq = r.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val denP = lit(np.toDouble + buckets)
    val denQ = lit(nq.toDouble + buckets)
    def lr(cp: Column, cq: Column): Column =
      round((log(cp.cast("double") + 1.0) - log(denP) -
        log(cq.cast("double") + 1.0) + log(denQ)) * 1000000.0, 0).cast("long")
    // bucket union via tagged UNION + one hash agg — a full-outer join
    // of the two model tables can't broadcast and would sort-merge
    val table = t.select(col("b"), col("cnt").as("_cp"), lit(0L).as("_cq"))
      .unionAll(r.select(col("b"), lit(0L).as("_cp"), col("cnt").as("_cq")))
      .groupBy("b")
      .agg(sum("_cp").as("_cp"), sum("_cq").as("_cq"))
      .select(col("b"), lr(col("_cp"), col("_cq")).as("lr_micro"))
    val default = math.round((math.log(1.0) - math.log(np.toDouble + buckets) -
      math.log(1.0) + math.log(nq.toDouble + buckets)) * 1000000.0)
    (table, default)
  }

  /** Score documents with a prepared log-ratio table: per doc, the
    * gram count and the exact micro-nat log importance weight. Grams
    * whose bucket is absent from the table take `defaultLr` (a doc
    * from the scored corpus always hits the table when `raw` was fit
    * on that corpus). Zero-gram / NULL-text docs score (0, 0) — the
    * empty product. Returns `(id, n_grams, logw_micro)`. */
  def scoreWeights(
      df: DataFrame, id: Column, text: Column,
      lrTable: DataFrame, defaultLr: Long, buckets: Int,
      md5Hash: Boolean = false): DataFrame =
    stagedBuckets(df, Seq("id" -> id), text, buckets, md5Hash)
      .select(col("id"), explode_outer(col("_graft_bs")).as("b"))
      .join(broadcast(lrTable), Seq("b"), "left")
      .groupBy("id")
      .agg(
        count(col("b")).as("n_grams"),
        coalesce(sum(when(col("b").isNotNull,
          coalesce(col("lr_micro"), lit(defaultLr)))), lit(0L)).as("logw_micro"))

  /** The composed flow: fit target + raw (raw = the corpus itself, the
    * paper's default), build the ratio table, score every corpus doc.
    * Four jobs total — two B-bounded fits, two scalar collects — then
    * one scoring pass. */
  def weights(
      corpus: DataFrame, id: Column, text: Column,
      target: DataFrame, targetText: Column,
      buckets: Int = 10000, md5Hash: Boolean = false): DataFrame = {
    val (table, default) = logRatioTable(
      fitBuckets(target, targetText, buckets, md5Hash),
      fitBuckets(corpus, text, buckets, md5Hash), buckets)
    scoreWeights(corpus, id, text, table, default, buckets, md5Hash)
  }
}
