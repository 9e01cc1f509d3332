package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** N-gram language-model quality scoring (SURVEY §2.5 L29) — the
  * CCNet-style perplexity signal (Wenzek et al. 2020, arXiv:1911.00359
  * §3.3: docs are ranked by LM perplexity and the corpus cut into
  * quality buckets). CCNet uses a pre-trained 5-gram KenLM; here the
  * model itself is FIT distributedly (a token-count aggregate), so the
  * operator is self-contained: fit on a trusted reference split, score
  * the whole corpus — or fit and score the same corpus for an
  * "in-domain typicality" signal.
  *
  * Model: add-one (Laplace) unigram/bigram LM. Laplace keeps every
  * probability a RATIO OF INTEGERS — `(cnt+1)/(N+V)` — which is what
  * makes the score reproducible bit-for-bit across engines (the DuckDB
  * oracles re-derive it): both engines divide the same exact integers
  * in the same order, take `ln` of the identical double, and quantize.
  *
  * Score: mean per-token log-probability. The per-token value is
  * quantized to integer MICRO-nats (`round(ln(p)·1e6)` as BIGINT)
  * BEFORE the per-document sum, so the sum is exact and order-free —
  * a raw double sum over an exploded token stream would drift with
  * partitioning/merge order and can never hash-match an oracle.
  * Deviation bound: ≤ 0.5e-6 nat per token. Perplexity is
  * `exp(-avg_logprob)` — monotone, so ranking/bucketing can use
  * `avg_logprob` directly and callers needing the literal perplexity
  * exponentiate themselves (keeping `exp`'s cross-libm wobble out of
  * the gated surface).
  *
  * Scale shape (100 TB): fit is a word-count — ONE shuffle with
  * map-side partial aggregation, output |vocab| rows. Scoring joins
  * the exploded token stream against the count table: the vocab
  * broadcasts and the token stream NEVER shuffles — the only exchange
  * is the per-doc partial aggregation, which map-side-combines to ~1
  * row per (doc, task). A vocab too large to broadcast (≫10⁷ types)
  * opts out with `spark.sql.optimizer.disableHints=true`, set on a
  * `spark.newSession()` because it drops every hint in that session;
  * token frequency is Zipfian, so that path relies on AQE skew-join
  * splitting (sort-merge) — the broadcast path has no skew by
  * construction and is the one to prefer.
  */
object NgramLM {

  /** Fitted unigram model: `counts` = (token, cnt), plus the two
    * scalars scoring needs. `totalTokens` = Σcnt = N, `vocabSize` =
    * |counts| = V. */
  final case class UnigramModel(counts: DataFrame, totalTokens: Long, vocabSize: Long)

  /** Fitted bigram model: `bigrams` = (bigram "w1 w2", cnt),
    * `unigrams` = (token, cnt) for the conditional's denominator,
    * `vocabSize` = |unigram vocab| (the Laplace V). */
  final case class BigramModel(bigrams: DataFrame, unigrams: DataFrame, vocabSize: Long)

  /** Normalized non-empty tokens — the module's tokenization contract
    * ([[TextFns.normText]] + single-space split, empty strings out so a
    * blank document contributes nothing to the model or the score).
    * SQL mirror: list_filter(string_split(lower(trim(regexp_replace(
    * text,'\s+',' ','g'))),' '), t -> t <> '') */
  def tokens(text: Column): Column =
    filter(TextFns.wsTokens(TextFns.normText(text)), t => t =!= "")

  /** Consecutive-pair bigrams as "w1 w2" strings; <2 tokens → empty
    * array (NO whole-text collapse — a 1-token doc has no bigram,
    * unlike the dedup shingles whose collapse exists for recall).
    * Callers must pass a MATERIALIZED token column (own projection):
    * the zip re-references it, and CollapseProject keeps
    * multi-referenced non-cheap expressions staged. */
  def bigrams(toks: Column): Column =
    zip_with(slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))

  /** Fit the add-one unigram LM: one word-count aggregate (map-side
    * partial), then one tiny two-scalar agg over the |vocab|-row count
    * table for (N, V). */
  def fitUnigram(df: DataFrame, text: Column): UnigramModel = {
    val counts = df
      .select(explode(tokens(text)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val nv = counts.agg(coalesce(sum("cnt"), lit(0L)).as("n"), count(lit(1)).as("v")).head()
    UnigramModel(counts, nv.getLong(0), nv.getLong(1))
  }

  /** Fit the add-one bigram LM: unigram counts (the conditional's
    * denominator) AND bigram counts from ONE corpus scan — each doc's
    * tokens and consecutive pairs explode into a single tagged stream
    * (`u`/`b`) feeding ONE word-count aggregate (map-side partial).
    * Only the model-sized count table persists (registered with
    * [[graft.InternalCaches]], released with the session's caches);
    * the corpus itself is never cached and never scanned twice —
    * at fit-on-100 TB the scan IS the cost, so halving it matters. */
  def fitBigram(df: DataFrame, text: Column): BigramModel = {
    val counts = taggedCounts(df, text)
    val uni = counts.where(col("tag") === "u").select(col("gram").as("token"), col("cnt"))
    val bi = counts.where(col("tag") === "b").select(col("gram").as("bigram"), col("cnt"))
    BigramModel(bi, uni, uni.count())
  }

  /** The shared tagged u/b count table (cached, model-sized) both
    * bigram fits read — one corpus scan, one aggregate. Scans with →
    * without: lm_bigram 2 → 4, lm_kn 2 → 5, text_pmi 1 → 5. */
  private def taggedCounts(df: DataFrame, text: Column): DataFrame = {
    val toked = df.select(tokens(text).as("_toks"))
    graft.InternalCaches.persist(toked
      .select(explode(concat(
        transform(col("_toks"), t => struct(lit("u").as("tag"), t.as("gram"))),
        transform(bigrams(col("_toks")), g => struct(lit("b").as("tag"), g.as("gram")))
      )).as("_tg"))
      .groupBy(col("_tg.tag").as("tag"), col("_tg.gram").as("gram"))
      .agg(count(lit(1)).as("cnt")))
  }

  /** Persist a fitted unigram LM (count table as parquet + one-row
    * params): fit once on the reference split, score every run after.
    * Loaded counts stay a LAZY scan — a ≫10⁷-type vocab is exactly as
    * usable as a fresh fit (score it with hints disabled, see the
    * object doc). */
  def saveUnigram(model: UnigramModel, path: String): Unit = {
    val spark = model.counts.sparkSession
    import spark.implicits._
    graft.Catalog.saveTables(path, Seq("counts" -> model.counts),
      Seq((model.totalTokens, model.vocabSize)).toDF("n", "v"))
  }

  /** Load a model saved by [[saveUnigram]]. Params are read BY NAME
    * (not ordinal) so a column-order change in the persisted file
    * fails loudly instead of silently swapping N and V. */
  def loadUnigram(spark: org.apache.spark.sql.SparkSession, path: String): UnigramModel = {
    val p = graft.Parquet.read(spark, s"$path/params").select("n", "v").head()
    UnigramModel(graft.Parquet.read(spark, s"$path/counts"), p.getLong(0), p.getLong(1))
  }

  /** Persist a fitted bigram LM — see [[saveUnigram]]. */
  def saveBigram(model: BigramModel, path: String): Unit = {
    val spark = model.bigrams.sparkSession
    import spark.implicits._
    graft.Catalog.saveTables(path,
      Seq("bigrams" -> model.bigrams, "unigrams" -> model.unigrams),
      Seq(model.vocabSize).toDF("v"))
  }

  /** Load a model saved by [[saveBigram]] (params read by name — see
    * [[loadUnigram]]). */
  def loadBigram(spark: org.apache.spark.sql.SparkSession, path: String): BigramModel =
    BigramModel(
      graft.Parquet.read(spark, s"$path/bigrams"),
      graft.Parquet.read(spark, s"$path/unigrams"),
      graft.Parquet.read(spark, s"$path/params").select("v").head().getLong(0))

  /** Top-`k` collocations by pointwise mutual information (Church &
    * Hanks 1990 — the classic collocation statistic; tokenizer/vocab
    * audits use exactly this to find multi-word units): for each
    * bigram with pair count ≥ `minCount`,
    * `PMI = ln( p(w1 w2) / (p(w1)·p(w2)) )` with `p(w1 w2) =
    * c(ab)/N_bi` and `p(w) = c(w)/N_uni`. Returns
    * `(bigram, n_pair, n_w1, n_w2, pmi_micro)` — PMI desc, bigram asc
    * (deterministic cut), quantized to integer micro-nats.
    *
    * Cross-engine exactness: the division chain is FIXED —
    * `(c_ab/N_b) / ((c_a/N_u) · (c_b/N_u))`, each step
    * integer-derived double — so both engines `ln` the identical
    * IEEE value; no BIGINT product that could overflow at corpus
    * scale ever forms. `minCount` is the published noise floor: a
    * 1-occurrence pair of two hapaxes maximizes raw PMI.
    *
    * Plan shape: the model's count tables join by token — the unigram
    * side is vocab-sized and broadcasts (opt-out as in the object
    * doc); the k-row result is a TakeOrdered, no global sort. Fit once
    * with [[fitBigram]] (one corpus scan), derive collocations and
    * score perplexity from the same model. */
  def pmiTop(model: BigramModel, k: Int, minCount: Long = 5L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val nU = model.unigrams.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    val nB = model.bigrams.agg(coalesce(sum("cnt"), lit(0L))).head().getLong(0)
    require(nB > 0, "pmiTop: the fitted model has no bigrams")
    val pPair = col("n_pair").cast("double") / lit(nB.toDouble)
    val pW1 = col("n_w1").cast("double") / lit(nU.toDouble)
    val pW2 = col("n_w2").cast("double") / lit(nU.toDouble)
    model.bigrams
      .where(col("cnt") >= minCount)
      .select(col("bigram"), col("cnt").as("n_pair"),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .join(broadcast(model.unigrams.select(col("token").as("w1"), col("cnt").as("n_w1"))), "w1")
      .join(broadcast(model.unigrams.select(col("token").as("w2"), col("cnt").as("n_w2"))), "w2")
      .select(col("bigram"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log(pPair / (pW1 * pW2)) * 1000000.0, 0).cast("long").as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bigram").asc)
      .limit(k)
  }

  /** Integer micro-nat log-prob of `p = num / den` (both exact
    * integer-valued columns): `round(ln(num/den) · 1e6)` as LONG. The
    * division is double-on-double with fixed operand order, so the
    * oracle computes the identical IEEE value. */
  private def microLogProb(num: Column, den: Column): Column =
    round(log(num.cast("double") / den) * 1000000.0, 0).cast("long")

  /** Fitted interpolated Kneser-Ney bigram LM (SURVEY §2.5 L29, the
    * KN option): `bigrams` = (bigram, cnt); `ctx` = per context w1
    * `(token, c_ctx = Σ c(w1 ·), n_follow = |{w2 : c(w1 w2) > 0}|)`;
    * `cont` = per continuation w2 `(token, n_prec = |{w1 :
    * c(w1 w2) > 0}|)`; `vocabSize` the Laplace V; `bigramTypes` =
    * T = Σ n_prec; `n1`/`n2` the bigram-type counts at count 1/2
    * (the standard discount estimate's inputs). */
  final case class KnBigramModel(
      bigrams: DataFrame, ctx: DataFrame, cont: DataFrame,
      vocabSize: Long, bigramTypes: Long, n1: Long, n2: Long) {
    /** The Ney/Chen–Goodman discount `D = n1 / (n1 + 2·n2)` — a ratio
      * of exact integers, so both engines derive the identical IEEE
      * double; 0.5 when the corpus has no 1- or 2-count bigram types
      * (degenerate, documented). */
    def discount: Double =
      if (n1 + 2 * n2 == 0) 0.5 else n1.toDouble / (n1 + 2 * n2).toDouble
  }

  /** Fit the interpolated-KN bigram LM: the SAME one corpus scan as
    * [[fitBigram]] (the tagged u/b count aggregate), then the KN
    * statistics — context totals/fan-out, continuation fan-in, the
    * type-count scalars — as aggregates over the persisted MODEL-SIZED
    * count table (≤ |bigram types| rows; the corpus is never
    * rescanned). This is the published-fidelity upgrade over the add-k
    * model: CCNet's perplexity filter is KenLM's interpolated KN
    * (Wenzek et al. 2020 §3.3; Heafield 2011), whose bigram form this
    * is. */
  def fitKnBigram(df: DataFrame, text: Column): KnBigramModel = {
    val counts = taggedCounts(df, text)
    val bi = counts.where(col("tag") === "b").select(col("gram").as("bigram"), col("cnt"))
    val ctx = bi
      .groupBy(substring_index(col("bigram"), " ", 1).as("token"))
      .agg(sum("cnt").as("c_ctx"), count(lit(1)).as("n_follow"))
    val cont = bi
      .groupBy(substring_index(col("bigram"), " ", -1).as("token"))
      .agg(count(lit(1)).as("n_prec"))
    // V and the three bigram-type scalars in ONE job over the cached
    // tagged table (r22): the old shape ran uni.count() (inside
    // fitBigram) and then this aggregate — two driver round-trips
    // where one materializes-and-aggregates pass suffices. Same exact
    // integers: V = |u rows| ≡ uni.count(), T/n1/n2 filter tag b.
    val stats = counts.agg(
      coalesce(sum(when(col("tag") === "u", 1L)), lit(0L)).as("v"),
      coalesce(sum(when(col("tag") === "b", 1L)), lit(0L)).as("t"),
      coalesce(sum(when(col("tag") === "b" && col("cnt") === 1, 1L)), lit(0L)).as("n1"),
      coalesce(sum(when(col("tag") === "b" && col("cnt") === 2, 1L)), lit(0L)).as("n2")).head()
    KnBigramModel(bi, ctx, cont,
      stats.getLong(0), stats.getLong(1), stats.getLong(2), stats.getLong(3))
  }

  /** Score documents under interpolated Kneser-Ney: per consecutive
    * pair (w1, w2),
    * `p = (max(c(w1 w2) − D, 0) + (D·n_follow(w1))·pc(w2)) / c_ctx(w1)`
    * when the context was seen, else the continuation probability
    * alone, with `pc(w2) = (n_prec(w2) + 1) / (T + V)` — the
    * continuation distribution carries the module's add-one floor so
    * an unseen CONTINUATION keeps positive mass (pure KN leaves it
    * zero; the Laplace-on-continuation variant keeps every input an
    * exact integer, the module's cross-engine convention). Per-pair
    * log-probs quantize to micro-nats BEFORE the doc sum (order-free
    * BIGINT). The float chain is FIXED — pc first, then
    * `(max(cab − D, 0) + (D·n_follow)·pc) / c_ctx`, every operand an
    * integer-derived double — so the SQL oracle computes the
    * identical IEEE values. <2-token docs score (0, 0, NULL).
    * Returns `(id, n_bigrams, logprob_micro, avg_logprob)`.
    *
    * Plan shape: identical to [[scoreBigram]] plus one more
    * model-sized broadcast join (continuation fan-in) — the exploded
    * pair stream still never shuffles before the per-doc agg. */
  def scoreKnBigram(
      df: DataFrame, id: Column, text: Column, model: KnBigramModel): DataFrame = {
    val d = lit(model.discount)
    val denTV = lit(model.bigramTypes.toDouble + model.vocabSize.toDouble)
    val exploded = df
      .select(id.as("id"), tokens(text).as("_toks"))
      .select(col("id"), explode_outer(bigrams(col("_toks"))).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val pc = (coalesce(col("n_prec"), lit(0L)) + 1).cast("double") / denTV
    val pKnown = (greatest(coalesce(col("_bcnt"), lit(0L)).cast("double") - d, lit(0.0))
      + (d * col("n_follow").cast("double")) * pc) / col("c_ctx").cast("double")
    val p = when(col("c_ctx").isNull, pc).otherwise(pKnown)
    exploded
      .join(broadcast(model.bigrams.withColumnRenamed("cnt", "_bcnt")), Seq("bigram"), "left")
      .join(broadcast(model.ctx.withColumnRenamed("token", "w1")), Seq("w1"), "left")
      .join(broadcast(model.cont.withColumnRenamed("token", "w2")), Seq("w2"), "left")
      .groupBy("id")
      .agg(
        count(col("bigram")).as("n_bigrams"),
        coalesce(sum(when(col("bigram").isNotNull,
          round(log(p) * 1000000.0, 0).cast("long"))), lit(0L))
          .as("logprob_micro"))
      .withColumn("avg_logprob",
        when(col("n_bigrams") > 0,
          col("logprob_micro").cast("double") / (lit(1000000.0) * col("n_bigrams"))))
  }

  /** Score documents under a unigram model: per-doc token count,
    * exact micro-nat log-prob sum, and mean log-prob (nats/token).
    * Out-of-vocabulary tokens (fit on a different split) take the
    * Laplace floor `1/(N+V)`. Documents with zero tokens score
    * (0, 0, NULL). Returns `(id, n_tokens, logprob_micro,
    * avg_logprob)`. */
  def scoreUnigram(
      df: DataFrame, id: Column, text: Column, model: UnigramModel): DataFrame = {
    val den = lit(model.totalTokens.toDouble + model.vocabSize.toDouble)
    df.select(id.as("id"), explode_outer(tokens(text)).as("token"))
      .join(broadcast(model.counts), Seq("token"), "left")
      .groupBy("id")
      .agg(
        count(col("token")).as("n_tokens"),
        // the explode_outer placeholder row of a zero-token doc must
        // contribute NOTHING (not the OOV floor): gate on token
        coalesce(sum(when(col("token").isNotNull,
          microLogProb(coalesce(col("cnt"), lit(0L)) + 1, den))), lit(0L))
          .as("logprob_micro"))
      .withColumn("avg_logprob",
        when(col("n_tokens") > 0,
          col("logprob_micro").cast("double") / (lit(1000000.0) * col("n_tokens"))))
  }

  /** Score documents under a bigram model: mean conditional log-prob
    * `ln (c(w1 w2)+1)/(c(w1)+V)` over the doc's consecutive pairs.
    * Both the pair and the context count take the add-one/OOV floor.
    * Documents with <2 tokens have no bigrams and score (0, 0, NULL).
    * Returns `(id, n_bigrams, logprob_micro, avg_logprob)`. Two
    * broadcast joins (pair + context) on the exploded pair stream —
    * the stream itself still never shuffles before the per-doc agg. */
  def scoreBigram(
      df: DataFrame, id: Column, text: Column, model: BigramModel): DataFrame = {
    val exploded = df
      .select(id.as("id"), tokens(text).as("_toks"))
      .select(col("id"), explode_outer(bigrams(col("_toks"))).as("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
    exploded
      .join(broadcast(model.bigrams.withColumnRenamed("cnt", "_bcnt")), Seq("bigram"), "left")
      .join(broadcast(model.unigrams.withColumnRenamed("token", "w1")
        .withColumnRenamed("cnt", "_ucnt")), Seq("w1"), "left")
      .groupBy("id")
      .agg(
        count(col("bigram")).as("n_bigrams"),
        coalesce(sum(when(col("bigram").isNotNull, microLogProb(
          coalesce(col("_bcnt"), lit(0L)) + 1,
          (coalesce(col("_ucnt"), lit(0L)) + lit(model.vocabSize)).cast("double")))), lit(0L))
          .as("logprob_micro"))
      .withColumn("avg_logprob",
        when(col("n_bigrams") > 0,
          col("logprob_micro").cast("double") / (lit(1000000.0) * col("n_bigrams"))))
  }
}
