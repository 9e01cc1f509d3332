package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Fitted hashed-n-gram quality classifier. `w(b)` is the weight of
  * hash bucket b (a PRESENCE feature); `lenW(k)` the weight of length
  * bin k ([[NgramLR.lenBin]]); `wLen` the dense length slope
  * (n_grams / 100); `bias` the intercept. Training has the [[LogReg]]
  * determinism contract: per-partition gradient partials combine on
  * the driver in partition INDEX order and the update arithmetic is a
  * fixed-order chain, so two trains over the same input layout agree
  * bit-for-bit (what the ngram_lr_model aux export relies on). */
final case class NgramLrModel(
    buckets: Int, bias: Double, wLen: Double,
    lenW: Array[Double], w: Array[Double]) {
  require(w.length == buckets, s"weight table has ${w.length} rows, buckets = $buckets")
  require(lenW.length == NgramLR.LenBins,
    s"length table has ${lenW.length} rows, needs ${NgramLR.LenBins}")

  /** Micro-quantized scoring tables (round(1e6·w) — the module's
    * cross-engine convention): BIGINT sums of these are exact and
    * order-free, which raw double sums over an unordered gram stream
    * are not. */
  lazy val wMicro: Array[Long] = w.map(v => math.round(v * 1e6))
  lazy val lenWMicro: Array[Long] = lenW.map(v => math.round(v * 1e6))
  lazy val biasMicro: Long = math.round(bias * 1e6)
  lazy val wLenMicro: Long = math.round(wLen * 1e6)
}

/** Hashed-n-gram quality classifier (SURVEY §2.5 L53b) — the
  * DCLM/fastText corpus-filter shape (Li et al. 2024, arXiv:2406.11794
  * §4.4; Joulin et al. 2017's linear bag model): the strongest
  * published CHEAP quality filter is a linear model over hashed
  * unigram+bigram bags, not a handful of engineered ratios
  * ([[LogReg]]'s 8-feature contract). The feature space is EXACTLY
  * [[Dsir.bucketsOfTokens]] — unigrams + consecutive bigrams of the
  * normalized tokens, hashed into `buckets` buckets — so DSIR
  * importance ratios and this classifier are two scorers over one
  * feature kernel.
  *
  * The model: score(d) = σ(bias + wLen·(n/100) + lenW[bin(n)] +
  * Σ_{distinct b} w[b]) where n is the doc's gram-occurrence count.
  * Three deliberate parameterization choices, all measured on
  * held-out Gopher labels (the NgramLRSpec law):
  *   - The bag enters as binary PRESENCE features (the standard
  *     binary bag-of-words for linear text classifiers): presence
  *     sums over a family of cue buckets recover DISTINCT-hit
  *     features (e.g. Gopher's distinct-stopword count) that raw
  *     counts and frequencies provably cannot — the frequency variant
  *     plateaued at 76% held-out agreement, counts at 86%.
  *   - Length enters BINNED (64 indicator bins of width 8, the
  *     classical discretization trick) beside the monotone n/100
  *     slope: a hard published gate like `words ≥ 25` is a step, and
  *     an AND of binary cues IS linearly separable where an AND over
  *     monotone continuous cues is not (presence bag alone: 89%).
  *   - The bag trains under an L1 proximal step (`l1Bag`): the true
  *     filter depends on a few cue families, so the sparsity prior
  *     zeroes the buckets that merely memorize training vocabulary —
  *     the move from 98.3% (ridge-only, 4096 live buckets) to 100.0%
  *     held-out (30 live buckets) vs the 8-feature model's 99.7%.
  *
  * Cross-engine exactness (the quality_lr discipline): scoring
  * quantizes weights to integer micro units FIRST — the gram-stream
  * dot product is then an exact order-free BIGINT sum over DISTINCT
  * bucket ids ([[org.apache.spark.sql.graftexpr.BucketDotExpr]] over
  * `array_distinct`), the length-bin lookup is one more integer add —
  * and the z chain is the fixed arity sequence `(bias_micro +
  * wlen_micro·(n/100) + lenw_micro + s_micro) / 1e6` on integer-valued
  * doubles, identical IEEE in any engine; the one libm sigmoid's
  * ≤1-ulp wobble is absorbed by micro quantization (`score_micro =
  * round(1e6·σ(z))`, keep = `score_micro ≥ 500000`).
  *
  * Scale shape (100 TB): TRAIN is full-batch diagonal-Newton descent —
  * `iters` passes over a persisted sparse presence projection, each
  * ONE aggregate-shaped scan collecting P·(2·(B+2+bins)+1) doubles (no
  * shuffle; B ≤ 1e5 by fail-fast, and the training input is
  * sample-sized by published contract — pass [[Sampling]] output).
  * IRLS is deliberately NOT used here: its B×B Hessian is quadratic
  * in the bucket count (the [[LogReg]] IRLS is only affordable at
  * d = 9). SCORE is the corpus-scale member: tokenize → hash → one
  * codegen'd BIGINT dot per row — a pure narrow projection, nothing
  * shuffles, nothing collects (strictly narrower than the DSIR
  * scoring shape, whose broadcast-join + per-doc agg pays one
  * exchange). */
object NgramLR {

  /** Length-indicator bins: `min(n_grams / 8, 63)` — bin width 8 grams
    * ≈ 4 words resolves the word-count gates published filters use
    * (Gopher 50, C4 3-sentence ≈ dozens) up to 512 grams; the dense
    * n/100 slope extrapolates beyond. */
  val LenBins = 64

  /** The bin index of a gram count (engine-mirrorable integer ops). */
  def lenBin(n: Int): Int = math.min(n / 8, LenBins - 1)

  /** Row cap for the driver-local iteration path ([[TrainLoop]]):
    * 200k sparse rows of ~60 gram ids ≈ 60 MB — bounded driver work;
    * larger inputs run the distributed per-iteration loop unchanged. */
  private[operators] val LocalTrainMaxRows = 200000L

  /** Train by full-batch DIAGONAL-Newton descent: each pass ONE scan
    * of the persisted sparse rows; per partition a dense gradient AND
    * diagonal-Hessian pair accumulates over (bias, slope, bins,
    * buckets), partials combine in partition INDEX order, and the
    * update is the per-coordinate damped Newton step
    * `w_i -= lr·(g_i/n + l2·w_i) / (h_ii/n + l2 + damp)` — plain GD
    * with one global rate cannot serve features whose scales differ,
    * and the full Newton system is B². Rows with NULL text or NULL
    * label skip. `md5Hash` must match scoring
    * ([[Dsir.hashedBuckets]]'s kernel choice: xxhash64 default, md5
    * when the model must re-derive outside the JVM). */
  def train(
      df: DataFrame, text: Column, label: Column,
      buckets: Int = 4096, iters: Int = 120, lr: Double = 0.7,
      l2: Double = 1e-6, l2Bag: Double = 1e-4, l1Bag: Double = 1e-3,
      damp: Double = 1e-2, md5Hash: Boolean = false): NgramLrModel = {
    require(buckets > 0 && buckets <= 100000,
      s"buckets must be in (0, 1e5] (the driver holds one gradient per bucket), got $buckets")
    require(iters > 0, s"iters must be positive, got $iters")
    require(lr > 0, s"lr must be positive, got $lr")
    val toks = NgramLM.tokens(text)
    val feats = df
      .select(Dsir.bucketsOfTokens(toks, buckets, md5Hash).as("bs"),
        label.cast("boolean").as("y"))
      .where(col("bs").isNotNull && col("y").isNotNull)
    // persist PRIMITIVE sparse rows: (sorted DISTINCT bucket ids,
    // n gram occurrences, y) — every pass reads this
    val rows = feats.rdd.map { r =>
      val bs = r.getSeq[Long](0)
      val set = new java.util.TreeSet[Integer]()
      bs.foreach(b => set.add(Integer.valueOf(b.toInt)))
      val ids = new Array[Int](set.size)
      var i = 0
      val it = set.iterator()
      while (it.hasNext) { ids(i) = it.next().intValue; i += 1 }
      (ids, bs.length, if (r.getBoolean(1)) 1.0 else 0.0)
    }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // layout: [0] bias, [1] slope, [2, 2+LenBins) bins, [2+LenBins..) buckets
    val off = 2 + LenBins
    val d = off + buckets
    val w = new Array[Double](d)
    // ONE per-partition fold shared by the driver-local and distributed
    // paths (the LogReg pattern) — defined once so they cannot drift.
    val fold = (wb: Array[Double], rs: Iterator[(Array[Int], Int, Double)]) => {
      val g = new Array[Double](d)
      val h = new Array[Double](d)
      var c = 0L
      rs.foreach { case (ids, n, y) =>
        val xl = n.toDouble / 100.0
        val lb = 2 + lenBin(n)
        var z = wb(0) + wb(1) * xl + wb(lb)
        var i = 0
        while (i < ids.length) { z += wb(ids(i) + off); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = p - y
        val wgt = p * (1.0 - p)
        g(0) += r; h(0) += wgt
        g(1) += r * xl; h(1) += wgt * xl * xl
        g(lb) += r; h(lb) += wgt
        i = 0
        while (i < ids.length) {
          g(ids(i) + off) += r
          h(ids(i) + off) += wgt
          i += 1
        }
        c += 1L
      }
      (g, h, c)
    }
    try {
      // Sample-sized training sets iterate DRIVER-LOCALLY ([[TrainLoop]]):
      // one collect instead of `iters` jobs, bit-identical weights
      // (same partition boundaries, same row order, same combine order);
      // over-cap inputs fall back to the distributed loop unchanged.
      val localParts = TrainLoop.localPartitions(rows, LocalTrainMaxRows)
      var it = 0
      while (it < iters) {
        val wb = w.clone()
        // partials combine in partition INDEX order — the pinned
        // combine order (the LogReg pattern)
        val partials = localParts match {
          case Some(ps) => ps.map(p => fold(wb, p.iterator))
          case None => rows.mapPartitions(rs => Iterator.single(fold(wb, rs))).collect()
        }
        val grad = new Array[Double](d)
        val hess = new Array[Double](d)
        var cnt = 0L
        partials.foreach { case (g2, h2, c2) =>
          var i = 0
          while (i < d) { grad(i) += g2(i); hess(i) += h2(i); i += 1 }
          cnt += c2
        }
        require(cnt > 0, "NgramLR training needs at least one usable (text, label) row")
        val inv = 1.0 / cnt
        var i = 0
        while (i < d) {
          // dense cues (bias/slope/bins) ride the light ridge; the bag
          // takes l2Bag AND an L1 proximal step — word-identity
          // weights must EARN their magnitude, and the sparsity prior
          // zeroes the buckets that merely memorize the training
          // vocabulary (soft-threshold: the standard deterministic
          // proximal-gradient step)
          val ridge = if (i < off) l2 else l2Bag
          val denom = hess(i) * inv + ridge + damp
          var v = w(i) - lr * (grad(i) * inv + ridge * wb(i)) / denom
          if (i >= off && l1Bag > 0) {
            val t = lr * l1Bag / denom
            v = if (v > t) v - t else if (v < -t) v + t else 0.0
          }
          w(i) = v
          i += 1
        }
        it += 1
      }
    } finally rows.unpersist(blocking = false)
    NgramLrModel(buckets, w(0), w(1),
      java.util.Arrays.copyOfRange(w, 2, off),
      java.util.Arrays.copyOfRange(w, off, d))
  }

  /** Score every doc: `(id, n_grams, score_micro, keep)` — tokenize,
    * hash, one exact BIGINT presence-dot over distinct buckets + the
    * length-bin lookup, the fixed z chain, quantized sigmoid. NULL
    * text → NULL score_micro, keep false. Pure narrow projection
    * (plan-gated in NgramLRSpec). */
  def score(df: DataFrame, id: Column, text: Column, model: NgramLrModel,
      md5Hash: Boolean = false): DataFrame = {
    val bs = Dsir.bucketsOfTokens(NgramLM.tokens(text), model.buckets, md5Hash)
    val staged = df.select(id.as("id"), bs.as("_bs"))
      .select(col("id"),
        size(col("_bs")).cast("long").as("n_grams"),
        Bridge.column(org.apache.spark.sql.graftexpr.BucketDotExpr(
          Bridge.expr(array_distinct(col("_bs"))), model.wMicro.toSeq)).as("_smic"))
    val n = col("n_grams")
    // the length-bin lookup reuses the same exact-dot kernel over a
    // one-element array (least(n/8, 63) — integer ops both engines share)
    val lenTerm = Bridge.column(org.apache.spark.sql.graftexpr.BucketDotExpr(
      Bridge.expr(array(least(floor(n / lit(8)).cast("long"), lit(NgramLR.LenBins - 1).cast("long")))),
      model.lenWMicro.toSeq))
    // the FIXED z chain (mirrored verbatim by the gate oracle)
    val z = (lit(model.biasMicro).cast("double")
      + lit(model.wLenMicro).cast("double") * (n.cast("double") / lit(100.0))
      + (lenTerm + col("_smic")).cast("double")) / lit(1000000.0)
    val scoreMicro = when(col("n_grams").isNotNull,
      round(lit(1000000.0) * (lit(1.0) / (lit(1.0) + exp(-z))), 0).cast("long"))
    staged
      .select(col("id"), col("n_grams"), scoreMicro.as("score_micro"))
      .withColumn("keep", coalesce(col("score_micro") >= 500000L, lit(false)))
  }

  /** The model as a frame `(i, w_micro)`: i ∈ [0, B) the bucket
    * weights, i = B the bias, i = B+1 the length slope, i ∈
    * [B+2, B+2+LenBins) the length bins — all in the micro units
    * scoring actually uses (the exported table IS the scoring
    * contract). */
  def toFrame(model: NgramLrModel, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val b = model.buckets.toLong
    (model.wMicro.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
      ++ Seq((b, model.biasMicro), (b + 1, model.wLenMicro))
      ++ model.lenWMicro.zipWithIndex.map { case (v, i) => (b + 2 + i, v) })
      .toDF("i", "w_micro")
  }

  /** Persist a fitted model (double-precision originals in the same
    * index layout as [[toFrame]], so a reload trains nothing and
    * scores identically). */
  def save(model: NgramLrModel, path: String,
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val b = model.buckets.toLong
    val rows = model.w.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq ++
      Seq((b, model.bias), (b + 1, model.wLen)) ++
      model.lenW.zipWithIndex.map { case (v, i) => (b + 2 + i, v) }
    graft.Catalog.saveTable(path, rows.toDF("i", "w"))
  }

  /** Load a model saved by [[save]]. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): NgramLrModel = {
    val m = graft.Parquet.read(spark, path).select("i", "w")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = m.size - 2 - LenBins
    NgramLrModel(b, m(b.toLong), m(b.toLong + 1),
      Array.tabulate(LenBins)(i => m(b.toLong + 2 + i)),
      Array.tabulate(b)(i => m(i.toLong)))
  }
}
