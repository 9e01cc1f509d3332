package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Okapi BM25 ranking (SURVEY §2.5 L51) — the standard sparse-retrieval
  * score (Robertson & Spärck Jones; the probabilistic-relevance BM25 of
  * Robertson et al., TREC-3 1994; Lucene's default since 6.0) used in
  * pipeline practice for keyword retrieval over a corpus, seed-document
  * expansion, and the sparse leg of hybrid (sparse+dense) retrieval —
  * [[RankFusion]] fuses this with the [[Ann]] cosine leg.
  *
  * Model: the non-negative idf `ln(1 + (N − df + 0.5)/(df + 0.5))`
  * (Lucene's variant — never negative for df ≤ N) with the classic
  * saturation `tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`. As with
  * [[TfIdf]]/[[NgramLM]], every per-(doc, term) weight is quantized to
  * integer MICRO-units (`round(w·1e6)` BIGINT) BEFORE the per-doc sum,
  * so scores are exact, order-free, and engine-reproducible; `avgdl`
  * itself is frozen at fit time as integer micro-tokens
  * (`avgDlMicro`), so both engines divide the same exact scalar.
  * Every double expression is written in one fixed left-associative
  * order, mirrored verbatim by the SQL oracle. Tokenization is the
  * module contract ([[NgramLM.tokens]]).
  *
  * Scale shape (100 TB): fit is ONE corpus scan — each doc explodes
  * its DISTINCT tokens (tagged `d`, the df stream) plus ONE stats row
  * (tagged `s`, carrying its length) into a single map-side-combined
  * word-count (the [[NgramLM.fitBigram]] one-scan discipline; the `s`
  * key is hot but combines to one row per task). Scoring filters the
  * token stream to the query terms IN THE ROW (narrow) before
  * anything shuffles — only hit occurrences reach the two map-side-
  * combined exchanges ((doc, term) tf, then the per-doc sum); the
  * corpus text itself never shuffles. The |query|-row df slice rides
  * a broadcast. [[topK]] is scoring + `TakeOrderedAndProject`
  * (per-partition partial top-k, never a global sort). */
object Bm25 {

  /** Fitted model: `docFreq` = (token, df) with df = distinct docs
    * containing the token; `nDocs` = ALL docs in the fit split
    * (token-less included — they are part of the collection);
    * `avgDlMicro` = round(1e6·totalTokens/nDocs) as the frozen
    * integer scalar both engines normalize lengths against. */
  final case class Bm25Model(docFreq: DataFrame, nDocs: Long, avgDlMicro: Long)

  /** Null-safe token array: NULL text → empty array (the doc still
    * counts toward N and contributes dl = 0 to avgdl). */
  private def toksOrEmpty(text: Column): Column =
    coalesce(NgramLM.tokens(text), typedLit(Seq.empty[String]))

  /** Fit document frequencies AND the length stats from ONE corpus
    * scan: per doc, the distinct tokens (tag `d`) and one `s` row
    * carrying dl explode into a single tagged stream feeding one
    * map-side-combined aggregate; only the vocab-sized count table
    * persists (released with the session's releaseCachedBlocks). Scans
    * with → without: bm25_score 2 → 3, bm25_many 5 → 6. */
  def fit(df: DataFrame, text: Column): Bm25Model = {
    val toked = df.select(toksOrEmpty(text).as("_toks"))
    val counts = graft.InternalCaches.persist(toked
      .select(explode(concat(
        transform(array_distinct(col("_toks")),
          t => struct(lit("d").as("tag"), t.as("gram"), lit(1L).as("w"))),
        array(struct(lit("s").as("tag"), lit("").as("gram"),
          size(col("_toks")).cast("long").as("w")))
      )).as("_tg"))
      .groupBy(col("_tg.tag").as("tag"), col("_tg.gram").as("gram"))
      .agg(count(lit(1)).as("cnt"), sum(col("_tg.w")).as("wsum")))
    val docFreq = counts.where(col("tag") === "d")
      .select(col("gram").as("token"), col("cnt").as("df"))
    // an empty corpus has no `s` row at all — headOption, so the
    // caller sees the intended message, not head()'s NoSuchElement
    val stats = counts.where(col("tag") === "s")
      .select(col("cnt"), col("wsum")).collect().headOption
    require(stats.nonEmpty, "BM25 fit needs at least one document")
    val (nDocs, totalTokens) = (stats.get.getLong(0), stats.get.getLong(1))
    require(totalTokens > 0, "BM25 fit needs at least one token in the corpus")
    // identical op order to the SQL mirror: (1e6 * nt) / nd, half-up
    Bm25Model(docFreq, nDocs, math.round(1000000.0 * totalTokens / nDocs))
  }

  /** The per-(doc, term) BM25 weight in integer micro-units. Fixed
    * left-associative double arithmetic — the SQL mirror is
    * `CAST(round(1000000.0 * (ln(1.0 + (nd - dfc + 0.5)/(dfc + 0.5))
    * * (tf*(1.2 + 1.0)) / (tf + 1.2*((1.0 - 0.75) + 0.75*(dl *
    * 1000000.0 / adl))))) AS BIGINT)` with dfc/tf/dl/adl cast to
    * DOUBLE. OOV terms (df absent) take df = 0. */
  private def weightMicro(
      tf: Column, dfc: Column, dl: Column,
      nDocs: Long, avgDlMicro: Long, k1: Double, b: Double): Column = {
    val dfd  = dfc.cast("double")
    val tfd  = tf.cast("double")
    val idf  = log(lit(1.0) + (lit(nDocs.toDouble) - dfd + lit(0.5)) / (dfd + lit(0.5)))
    val norm = lit(k1) * ((lit(1.0) - lit(b)) +
      lit(b) * (dl.cast("double") * lit(1000000.0) / lit(avgDlMicro.toDouble)))
    val sat  = tfd * (lit(k1) + lit(1.0)) / (tfd + norm)
    round(lit(1000000.0) * (idf * sat), 0).cast("long")
  }

  /** Query terms normalized through the same contract the corpus
    * tokens passed (trim + lowercase; blanks out, duplicates
    * collapsed — a repeated query term never contributed twice, the
    * df join is by distinct token). Terms containing whitespace can
    * never match a single token and are the caller's bug to fix. */
  private def normQuery(query: Seq[String]): Seq[String] =
    query.iterator
      .map(t => if (t == null) "" else t.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).toSeq.distinct

  /** Score every doc against `query`: `(id, dl, n_hits, bm25_micro)`
    * where `n_hits` = distinct query terms present and `bm25_micro` =
    * Σ_terms weightMicro (0 for docs matching nothing — every doc
    * gets a row). Query terms pass [[normQuery]], so a caller's
    * mixed-case term matches the lowercased corpus tokens. The in-row
    * keep-set filter ([[org.apache.spark.sql.graftexpr.KeepTokensExpr]]
    * — one codegen'd hash-set probe per token, never an interpreted
    * per-token lambda) drops non-query tokens before the explode
    * output reaches any exchange; `explode_outer` over the filtered
    * array keeps zero-hit docs on one placeholder row each. */
  def score(
      df: DataFrame, id: Column, text: Column, query: Seq[String],
      model: Bm25Model, k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scoreImpl(df, id, text, query, model, k1, b, hofFilter = false)

  /** Test reference for [[score]]: the r16 INTERPRETED HOF token
    * filter (`filter(toks, t => t.isin(query: _*))` — an interpreted
    * predicate per token with an O(|query|) isin per call) that
    * [[org.apache.spark.sql.graftexpr.KeepTokensExpr]] replaced.
    * Bm25Spec pins the two output-identical. */
  private[graft] def scoreHof(
      df: DataFrame, id: Column, text: Column, query: Seq[String],
      model: Bm25Model): DataFrame =
    scoreImpl(df, id, text, query, model, 1.2, 0.75, hofFilter = true)

  private def scoreImpl(
      df: DataFrame, id: Column, text: Column, query: Seq[String],
      model: Bm25Model, k1: Double, b: Double, hofFilter: Boolean): DataFrame = {
    val qn = normQuery(query)
    require(qn.nonEmpty, "BM25 needs at least one non-blank query term")
    val vocab = broadcast(model.docFreq.where(col("token").isin(qn: _*)))
    import org.apache.spark.sql.graftbridge.Bridge
    val kept =
      if (hofFilter) filter(col("_toks"), t => t.isin(qn: _*))
      else Bridge.column(
        org.apache.spark.sql.graftexpr.KeepTokensExpr(
          Bridge.expr(col("_toks")), qn))
    df.select(id.as("id"), toksOrEmpty(text).as("_toks"))
      .select(col("id"), size(col("_toks")).cast("long").as("dl"),
        explode_outer(kept).as("token"))
      .groupBy("id", "dl", "token").agg(count(lit(1)).as("tf"))
      .join(vocab, Seq("token"), "left")
      .groupBy("id", "dl")
      .agg(
        count(when(col("token").isNotNull, lit(1))).as("n_hits"),
        coalesce(sum(when(col("token").isNotNull,
          weightMicro(col("tf"), coalesce(col("df"), lit(0L)), col("dl"),
            model.nDocs, model.avgDlMicro, k1, b))), lit(0L))
          .as("bm25_micro"))
  }

  /** MULTI-query scoring — the retrieval batch shape (seed-document
    * expansion, hybrid search: hundreds of queries against one
    * corpus). ONE corpus pass for ALL queries: the keep-set kernel
    * filters the token stream to the UNION of every query's terms in
    * the row (narrow, one hash probe per token), the (doc, term) tf
    * aggregate map-side-combines ONCE, and only then does the tiny
    * broadcast (term → qid, df) table fan hits out per query — the
    * per-query expansion happens AFTER the heavy exchange, so exchange
    * volume is hit-occurrences, not hits × queries. `queries` is a
    * (qid, term) frame; terms pass the [[normQuery]] contract per
    * term (trim + lower, blanks out, (qid, term) dups collapsed) and
    * the table is a BOUNDED driver artifact (`maxQueryTerms`
    * fail-fast — batch shape, not a corpus join).
    *
    * Returns `(qid, id, dl, n_hits, bm25_micro)` for (doc, query)
    * pairs with ≥ 1 hit — unlike [[score]], zero-hit docs get NO row
    * (an all-docs × all-queries dense result is exactly the blow-up
    * batch retrieval exists to avoid; absent = 0 by contract). */
  def scoreMany(
      df: DataFrame, id: Column, text: Column, queries: DataFrame,
      model: Bm25Model, k1: Double = 1.2, b: Double = 0.75,
      maxQueryTerms: Int = 100000): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.graftbridge.Bridge
    val qt = queries.select(col("qid").cast("long").as("qid"),
        lower(trim(col("term"))).as("token"))
      .where(col("qid").isNotNull && col("token").isNotNull && col("token") =!= "")
      .distinct()
      .limit(maxQueryTerms + 1)
      .collect()
    require(qt.length <= maxQueryTerms,
      s"more than $maxQueryTerms distinct (qid, term) pairs — batch the queries")
    require(qt.nonEmpty, "scoreMany needs at least one non-blank query term")
    val allTerms = qt.map(_.getString(1)).distinct.toSeq
    import spark.implicits._
    val qtDf = qt.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("qid", "token")
    // df slice for the union of terms: broadcast-pruned vocab scan,
    // then the (token, qid, df) fan-out table broadcasts whole (left
    // join keeps OOV terms at df = 0, the score() convention)
    val qdfSlice = model.docFreq
      .join(broadcast(qtDf.select("token").distinct()), Seq("token"))
    val qvocab = broadcast(qtDf.join(qdfSlice, Seq("token"), "left"))
    val kept = Bridge.column(org.apache.spark.sql.graftexpr.KeepTokensExpr(
      Bridge.expr(col("_toks")), allTerms))
    df.select(id.as("id"), toksOrEmpty(text).as("_toks"))
      .select(col("id"), size(col("_toks")).cast("long").as("dl"),
        explode(kept).as("token"))
      .groupBy("id", "dl", "token").agg(count(lit(1)).as("tf"))
      .join(qvocab, Seq("token"))
      .groupBy("qid", "id", "dl")
      .agg(
        count(lit(1)).as("n_hits"),
        sum(weightMicro(col("tf"), coalesce(col("df"), lit(0L)), col("dl"),
          model.nDocs, model.avgDlMicro, k1, b)).as("bm25_micro"))
  }

  /** [[scoreMany]] + the deterministic per-query top-`n` cut
    * (`bm25_micro desc, id asc` within each qid): adds `rank`. The
    * rank-filter compiles to `WindowGroupLimit` (partial per-partition
    * group top-n before the shuffle — the select_topk_group shape),
    * never a global sort. */
  def topKMany(
      df: DataFrame, id: Column, text: Column, queries: DataFrame,
      model: Bm25Model, n: Int, k1: Double = 1.2, b: Double = 0.75,
      maxQueryTerms: Int = 100000): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    scoreMany(df, id, text, queries, model, k1, b, maxQueryTerms)
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("bm25_micro").desc, col("id").asc)).cast("int"))
      .where(col("rank") <= n)
  }

  /** Top-`n` docs for `query` by `(bm25_micro desc, id asc)` —
    * deterministic cut, executed as `TakeOrderedAndProject` (partial
    * per-partition top-n, combined on the driver; never a global
    * sort). Zero-score docs compete too (BM25's contract: they rank
    * last). Returns `(id, dl, n_hits, bm25_micro, rank)`. */
  def topK(
      df: DataFrame, id: Column, text: Column, query: Seq[String],
      model: Bm25Model, n: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    val cut = score(df, id, text, query, model, k1, b)
      .orderBy(col("bm25_micro").desc, col("id").asc)
      .limit(n)
    // rank over the n surviving rows only (bounded, single tiny task)
    cut.withColumn("rank",
      row_number().over(Window.orderBy(col("bm25_micro").desc, col("id").asc)).cast("int"))
  }

  /** Persist a fitted model (the [[TfIdf.save]] shape): df table +
    * one-row params. The loaded `docFreq` stays a LAZY scan. */
  def save(model: Bm25Model, path: String): Unit = {
    val spark = model.docFreq.sparkSession
    import spark.implicits._
    graft.Catalog.saveTables(path, Seq("df" -> model.docFreq),
      Seq((model.nDocs, model.avgDlMicro)).toDF("n_docs", "avgdl_micro"))
  }

  /** Load a model saved by [[save]] (params read BY NAME). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Bm25Model = {
    val p = graft.Parquet.read(spark, s"$path/params").select("n_docs", "avgdl_micro").head()
    Bm25Model(graft.Parquet.read(spark, s"$path/df"), p.getLong(0), p.getLong(1))
  }
}

/** Reciprocal-rank fusion (SURVEY §2.5 L52) — Cormack, Clarke &
  * Büttcher 2009 (SIGIR): fuse several rankings of the same id space
  * by `Σ_lists 1/(κ + rank)`, the standard way hybrid retrieval
  * combines the sparse ([[Bm25]]) and dense ([[Ann]] cosine) legs
  * without score calibration — only RANKS cross lists, so the legs'
  * score scales never need reconciling.
  *
  * Each list's contribution is quantized to integer NANO-units
  * (`round(1e9/(κ + rank))` BIGINT — rank and κ are exact integers,
  * so both engines divide the same values) and summed exactly; ties
  * in the fused score break by id ascending.
  *
  * Scale shape: a union of (id, rank) lists → ONE map-side-combined
  * groupBy(id). [[fuse]] returns the scored set un-ranked (callers
  * compose: filter, join, further fusion); [[fuseTopK]] adds the
  * deterministic top-n cut via `TakeOrderedAndProject` + a rank
  * window over the n survivors only — never a global sort or an
  * unbounded window. */
object RankFusion {

  /** Fuse rankings (each `(id, rank)`, rank 1-based): returns
    * `(id, n_lists, rrf_nano)` — `n_lists` = lists the id appeared
    * in, `rrf_nano` = Σ round(1e9/(κ + rank)). */
  def fuse(rankings: Seq[DataFrame], kappa: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kappa >= 0, s"kappa must be non-negative, got $kappa")
    val contrib = round(lit(1.0E9) / (lit(kappa.toDouble) + col("rank").cast("double")), 0)
      .cast("long")
    rankings
      .map(_.select(col("id"), contrib.as("_c")))
      .reduce(_.union(_))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lists"), sum(col("_c")).as("rrf_nano"))
  }

  /** [[fuse]] + the deterministic top-`n` cut
    * (`rrf_nano desc, id asc`): `(id, n_lists, rrf_nano, rank)`. */
  def fuseTopK(rankings: Seq[DataFrame], n: Int, kappa: Int = 60): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    import org.apache.spark.sql.expressions.Window
    fuse(rankings, kappa)
      .orderBy(col("rrf_nano").desc, col("id").asc)
      .limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rrf_nano").desc, col("id").asc)).cast("int"))
  }
}
