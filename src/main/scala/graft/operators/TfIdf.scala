package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF relevance/typicality scoring (SURVEY §2.5 L34) — the classic
  * corpus-statistics weighting (Spärck Jones 1972; the SMART/BM25
  * lineage) used in pipeline practice for keyword extraction, topical
  * filtering, and importance-weighted corpus selection (e.g. the
  * DSIR-style importance resampling family samples by corpus-statistic
  * scores of exactly this shape).
  *
  * Model: smoothed idf `ln((N+1)/(df+1))` (the +1s keep OOV terms
  * finite when fitting on one split and scoring another). Like
  * [[NgramLM]], every per-occurrence value is quantized to integer
  * MICRO-nats (`round(idf·1e6)` as BIGINT) before any sum, so doc
  * scores are exact, order-free, and bit-reproducible across engines —
  * both engines divide the same exact integers, `ln` the identical
  * double, and round once. Tokenization is the module contract
  * ([[NgramLM.tokens]]: normText + whitespace split, empties dropped).
  *
  * The doc-score trick that keeps scoring ONE exchange: a document's
  * Σ_terms tf·idf equals Σ_occurrences idf(token) — so scoring never
  * materializes tf at all. The exploded token stream broadcast-joins
  * the |vocab|-row df table and partial-aggregates straight to one row
  * per doc (map-side combine; the stream itself never shuffles).
  * [[topTerms]] is the only member that needs tf, and pays one
  * (id, token) word-count exchange plus the per-doc top-k — the same
  * WindowGroupLimit-partial shape as `Sampling.topKPerGroup`.
  *
  * Scale shape (100 TB): fit = one distinct-per-doc word-count (the
  * in-doc distinct is the NARROW `array_distinct`, so the shuffle
  * carries each (doc, term) once, not each occurrence); N is a
  * driver scalar (bounded-artifact contract). A vocab too large to
  * broadcast opts out with `spark.sql.optimizer.disableHints=true`, set
  * on a `spark.newSession()` because it drops every hint in that
  * session — Zipfian skew notes as in [[NgramLM]]. */
object TfIdf {

  /** Fitted document-frequency model: `docFreq` = (token, df) with df
    * = number of DISTINCT docs containing the token; `nDocs` = total
    * documents in the fit split (including token-less ones — they are
    * part of the collection the statistic describes). */
  final case class DfModel(docFreq: DataFrame, nDocs: Long)

  /** Integer micro-nat smoothed idf of a df count: exact integers in,
    * fixed-order IEEE division, one `ln`, one rounding. */
  private def microIdf(dfCnt: Column, nDocs: Long): Column =
    round(log(lit((nDocs + 1).toDouble) / (dfCnt + 1).cast("double")) * 1000000.0, 0)
      .cast("long")

  /** Fit document frequencies: `array_distinct` IN the row (narrow),
    * then one word-count aggregate — the shuffle carries each
    * (doc, term) pair once. */
  def fit(df: DataFrame, text: Column): DfModel = {
    val counts = df
      .select(explode(array_distinct(NgramLM.tokens(text))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("df"))
    DfModel(counts, df.count())
  }

  /** Score docs: `(id, n_tokens, tfidf_micro, avg_idf)` where
    * `tfidf_micro` = Σ_occurrences microIdf(token) (= Σ_terms tf·idf,
    * exact) and `avg_idf` = that sum / 1e6 / n_tokens (nats; NULL for
    * token-less docs, which score (0, 0, NULL)). High avg means rare
    * vocabulary, low means stopword-heavy — the typicality signal. */
  def score(df: DataFrame, id: Column, text: Column, model: DfModel): DataFrame =
    df.select(id.as("id"), explode_outer(NgramLM.tokens(text)).as("token"))
      .join(broadcast(model.docFreq), Seq("token"), "left")
      .groupBy("id")
      .agg(
        count(col("token")).as("n_tokens"),
        // explode_outer's placeholder row for a token-less doc must
        // contribute nothing (not the OOV idf): gate on token
        coalesce(sum(when(col("token").isNotNull,
          microIdf(coalesce(col("df"), lit(0L)), model.nDocs))), lit(0L))
          .as("tfidf_micro"))
      .withColumn("avg_idf",
        when(col("n_tokens") > 0,
          col("tfidf_micro").cast("double") / (lit(1000000.0) * col("n_tokens"))))

  /** Persist a fitted model: the df table as parquet plus a one-row
    * params file — fit once on the reference corpus, score many runs.
    * The loaded `docFreq` stays a LAZY parquet scan (never collected),
    * so a giant vocab is exactly as usable as a fresh fit. */
  def save(model: DfModel, path: String): Unit = {
    val spark = model.docFreq.sparkSession
    import spark.implicits._
    graft.Catalog.saveTables(path, Seq("df" -> model.docFreq),
      Seq(model.nDocs).toDF("n_docs"))
  }

  /** Load a model saved by [[save]]. Params read BY NAME so a
    * column-order change in the file fails loudly, never misreads. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): DfModel =
    DfModel(graft.Parquet.read(spark, s"$path/df"),
      graft.Parquet.read(spark, s"$path/params").select("n_docs").head().getLong(0))

  /** Per-doc top-`k` terms by tf·idf weight: `(id, term, tf,
    * weight_micro, rank)`, ties broken by term (ascending) so the cut
    * is deterministic. Token-less docs have no terms and no rows.
    * One (id, token) word-count exchange + the per-doc ordered top-k
    * (rank-over-partition; Spark's WindowGroupLimit pushes the k-cut
    * map-side, so no partition materializes more than k rows per doc
    * beyond the scan). */
  def topTerms(
      df: DataFrame, id: Column, text: Column, model: DfModel, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = Window.partitionBy("id")
      .orderBy(col("weight_micro").desc, col("term").asc)
    df.select(id.as("id"), explode(NgramLM.tokens(text)).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .join(broadcast(model.docFreq), Seq("token"), "left")
      .select(col("id"), col("token").as("term"), col("tf"),
        (col("tf") * microIdf(coalesce(col("df"), lit(0L)), model.nDocs))
          .as("weight_micro"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }
}
