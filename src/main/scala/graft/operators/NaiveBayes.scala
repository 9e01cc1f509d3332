package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes document classifier (SURVEY §2.5 L36) — the
  * classic linear text classifier (McCallum & Nigam 1998) that modern
  * pipelines use as the cheap "quality / domain classifier" stage:
  * GPT-3 (Brown et al. 2020, appendix A) and CCNet-style pipelines
  * filter CommonCrawl with a linear classifier fit on a trusted
  * reference corpus; fastText's supervised mode is the same
  * bag-of-words linear-score shape. Fit on labeled docs (e.g. curated
  * vs crawled), score every corpus doc, keep by predicted label or
  * by score margin.
  *
  * Model: add-one (Laplace) multinomial NB. Every probability is a
  * RATIO OF INTEGERS — prior `n_docs_c / N_docs`, per-token likelihood
  * `(cnt(c,t)+1)/(n_tokens_c+V)` — and every per-token/per-prior value
  * is quantized to integer MICRO-nats (`round(ln(p)·1e6)` as BIGINT)
  * BEFORE the per-document sum, the [[NgramLM]] convention that makes
  * scores exact, order-free, and bit-reproducible across engines (the
  * DuckDB oracle re-fits the identical integer-ratio model).
  * Tokenization is the module contract ([[NgramLM.tokens]]).
  *
  * Scale shape (100 TB):
  *  - FIT is one TOKEN-BEARING corpus scan (explode + word-count
  *    aggregate with map-side partial combine, keyed (label, token);
  *    output is model-sized) plus a label-only doc-count whose scan
  *    column-prunes to the label column — see [[fit]] for why that
  *    beats a tagged single scan here. Label stats collect to the
  *    driver — a bounded artifact (|labels| rows; classifiers have a
  *    handful of classes).
  *  - SCORE never multiplies the token stream by |labels|: the model
  *    pivots to one row per token with a count column PER LABEL
  *    (|vocab| rows × |labels| cols), broadcasts, and the exploded
  *    stream left-joins it ONCE. Per-label sums are |labels| agg
  *    columns in ONE per-doc aggregation (map-side combine), so the
  *    only exchange carries ~1 row per doc. Argmax is a narrow
  *    `array_min` over (-score, label) structs — score desc, min
  *    label on ties, fully deterministic. A ≫10⁷-type vocab opts
  *    out with `spark.sql.optimizer.disableHints=true`, set on a
  *    `spark.newSession()` because it drops every hint in that session
  *    (Zipfian skew notes as in [[NgramLM]]).
  */
object NaiveBayes {

  /** Per-label fit statistics: docs in class, total token occurrences
    * in class, and the micro-nat prior `round(ln(n_docs/N)·1e6)`. */
  final case class NbLabel(label: String, nDocs: Long, nTokens: Long, priorMicro: Long)

  /** Fitted model: `tokenCounts` = (label, token, cnt) — kept as a
    * DataFrame (lazy; may be a parquet scan after [[load]]) —
    * `labels` sorted ascending, `vocabSize` = |distinct tokens across
    * all labels| (the Laplace V), `totalDocs` = Σ n_docs. */
  final case class NbModel(
      tokenCounts: DataFrame, labels: Seq[NbLabel], vocabSize: Long, totalDocs: Long)

  /** Spark's round() and DuckDB's round() both round half AWAY FROM
    * ZERO; `math.round` rounds half UP (toward +∞), which differs for
    * the negative log-probs — so driver-side priors quantize through
    * BigDecimal HALF_UP (= away from zero for our negatives' carrier,
    * matching both engines). */
  private def microRound(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Fit on labeled docs. Rows with a NULL label are EXCLUDED (they
    * can't be attributed to a class); docs with no tokens still count
    * toward their label's prior.
    *
    * One TOKEN-BEARING corpus scan (the expensive one: explode +
    * word-count aggregate, map-side combine). The per-label doc count
    * deliberately runs as a SEPARATE aggregate: it needs no text at
    * all, so its scan column-prunes to the label column alone —
    * unlike [[NgramLM.fitBigram]], where both counts tokenize the full
    * text and a tagged single scan is the win, tagging here would
    * wrap every token in a struct to save a near-free scan. All
    * driver-side state is the bounded |labels|-row stats + 3 scalars;
    * the count table itself stays distributed (registered persist,
    * read by the stats/vocab aggregates and the scoring pivot). Scans
    * with → without: nb_classify 3 → 4. */
  def fit(df: DataFrame, label: Column, text: Column): NbModel = {
    val counts = graft.InternalCaches.persist(df
      .where(label.isNotNull)
      .select(label.cast("string").as("label"), explode(NgramLM.tokens(text)).as("token"))
      .groupBy("label", "token")
      .agg(count(lit(1)).as("cnt")))
    val docCounts = df.where(label.isNotNull)
      .groupBy(label.cast("string").as("label")).agg(count(lit(1)).as("n_docs"))
      .collect() // bounded artifact: one row per class
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(docCounts.nonEmpty, "NaiveBayes.fit: no labeled rows")
    // Per-label token totals AND the vocab size in ONE job over the
    // cached count table (r22): the old shape ran a groupBy-label
    // collect and then a distinct-count — two driver round-trips where
    // one materializes-and-aggregates pass suffices. Same exact
    // integers: conditional sums ≡ the per-label groupBy, the distinct
    // count ≡ select(token).distinct().count().
    val labelKeys = docCounts.keys.toSeq.sorted
    val statAggs = countDistinct(col("token")).as("_graft_v") +:
      labelKeys.zipWithIndex.map { case (l, i) =>
        coalesce(sum(when(col("label") === l, col("cnt"))), lit(0L)).as(s"_graft_t_$i")
      }
    val statRow = counts.agg(statAggs.head, statAggs.tail: _*).head()
    val tokStats = labelKeys.zipWithIndex
      .map { case (l, i) => l -> statRow.getLong(i + 1) }.toMap
    val totalDocs = docCounts.values.sum
    val labels = docCounts.toSeq.sortBy(_._1).map { case (l, nd) =>
      NbLabel(l, nd, tokStats.getOrElse(l, 0L),
        microRound(math.log(nd.toDouble / totalDocs) * 1000000.0))
    }
    NbModel(counts, labels, statRow.getLong(0), totalDocs)
  }

  /** Integer micro-nat log-prob of `num / den` — fixed operand order
    * so the oracle computes the identical IEEE double. */
  private def microLogProb(num: Column, den: Double): Column =
    round(log(num.cast("double") / lit(den)) * 1000000.0, 0).cast("long")

  /** Classify docs: `(id, n_tokens, pred, score_micro)` where `pred`
    * is the argmax label (ties → lexicographically smallest) and
    * `score_micro` its total micro-nat log posterior (prior + Σ
    * per-token conditionals; OOV tokens take each label's Laplace
    * floor `1/(n_tokens_c+V)`). Zero-token docs are classified by
    * prior alone. One broadcast join + one per-doc aggregation — the
    * token stream never shuffles. */
  def score(df: DataFrame, id: Column, text: Column, model: NbModel): DataFrame = {
    val labels = model.labels.sortBy(_.label)
    // hand-rolled pivot: tokenCounts is one row per (label, token), so a
    // conditional max per label in ONE groupBy(token) aggregation gives
    // the per-label count columns with a single exchange (Dataset.pivot
    // plans groupBy(token,label) + pivotfirst = two); columns are named
    // positionally so label strings can never collide with column syntax.
    // The micro-nat conditionals are computed HERE, per vocab entry, so
    // the expensive ln runs |vocab|·|labels| times inside the (broadcast)
    // model build — not once per token OCCURRENCE per label (measured
    // ~2× on a 10-class corpus); identical IEEE chain either way. OOV
    // tokens take each label's Laplace floor ln(1/(n_tok_c+V)) — a
    // per-label constant, quantized driver-side with the same rounding.
    val pivAggs = labels.zipWithIndex.map { case (l, i) =>
      microLogProb(
        coalesce(max(when(col("label") === l.label, col("cnt"))), lit(0L)) + 1,
        l.nTokens.toDouble + model.vocabSize.toDouble).as(s"_graft_q_$i")
    }
    val piv = model.tokenCounts.groupBy("token").agg(pivAggs.head, pivAggs.tail: _*)
    val floors = labels.map(l =>
      microRound(math.log(1.0 / (l.nTokens.toDouble + model.vocabSize.toDouble)) * 1000000.0))
    val sums = labels.indices.map { i =>
      coalesce(sum(when(col("token").isNotNull,
        coalesce(col(s"_graft_q_$i"), lit(floors(i))))), lit(0L))
        .as(s"_graft_s_$i")
    }
    val perDoc = df
      .select(id.as("id"), explode_outer(NgramLM.tokens(text)).as("token"))
      .join(broadcast(piv), Seq("token"), "left")
      .groupBy("id")
      .agg(count(col("token")).as("n_tokens"), sums: _*)
    // narrow argmax: min over (-total, label) = max score, min label
    val best = array_min(array(labels.zipWithIndex.map { case (l, i) =>
      val total = col(s"_graft_s_$i") + lit(l.priorMicro)
      struct((-total).as("neg"), lit(l.label).as("label"), total.as("score"))
    }: _*))
    perDoc.select(col("id"), col("n_tokens"),
      best("label").as("pred"), best("score").as("score_micro"))
  }

  /** Persist a fitted model: the count table as parquet, label stats
    * as parquet, scalars as a one-row params file. The loaded
    * `tokenCounts` stays a LAZY scan — fit once, score many runs. */
  def save(model: NbModel, path: String): Unit = {
    model.tokenCounts.write.mode("overwrite").parquet(s"$path/counts")
    val spark = model.tokenCounts.sparkSession
    import spark.implicits._
    model.labels.map(l => (l.label, l.nDocs, l.nTokens, l.priorMicro))
      .toDF("label", "n_docs", "n_tokens", "prior_micro").repartition(1)
      .write.mode("overwrite").parquet(s"$path/labels")
    Seq((model.vocabSize, model.totalDocs)).toDF("v", "n_docs_total").repartition(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /** Load a model saved by [[save]]. Columns read BY NAME so a
    * column-order change in the persisted files fails loudly. */
  def load(spark: SparkSession, path: String): NbModel = {
    val labels = graft.Parquet.read(spark, s"$path/labels")
      .select("label", "n_docs", "n_tokens", "prior_micro")
      .orderBy("label").collect()
      .map(r => NbLabel(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val p = graft.Catalog.modelParams(spark, path)
    NbModel(graft.Parquet.read(spark, s"$path/counts"), labels,
      p.getAs[Long]("v"), p.getAs[Long]("n_docs_total"))
  }
}
