package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns

/** Fitted quality classifier: `weights(0)` is the bias, then one
  * weight per [[LogReg.featureExprs]] feature, in order. Training is
  * deterministic FOR A FIXED INPUT LAYOUT: per-partition
  * gradient/Hessian partials combine on the driver in partition INDEX
  * order (pinned — unlike a `treeAggregate`, whose final reduce merges
  * in task-arrival order) and the Newton solve is a fixed-order
  * elimination, so two trains over the same layout agree bit-for-bit
  * (what the lr_model aux export relies on); a differently-PARTITIONED
  * input changes the double-sum association and agrees only to float
  * tolerance. */
final case class LrModel(weights: Array[Double]) {
  def dim: Int = weights.length
}

/** Logistic-regression document-quality classifier (SURVEY §2.5 L53) —
  * the published corpus-filter shape: GPT-3 trained a classifier over
  * document features to score CommonCrawl against a trusted corpus
  * (Brown et al. 2020, arXiv:2005.14165 Appendix A), and the recipe
  * persists (CCNet's linear model, Wenzek 2020; DCLM's fastText
  * filter, Li et al. 2024). Labels come from any boolean column — the
  * intended use here is DISTILLING a rule gate ([[TextFns.gopherFlags]]
  * `.keep`, [[TextFns.c4Clean]] `.keep`) into a smooth, thresholdable
  * score, so the corpus can be CUT AT ANY QUALITY QUANTILE instead of
  * the rules' hard keep/drop (the select-by-budget composition:
  * score → [[Pack.selectByBudget]]).
  *
  * Features are a FIXED, engine-mirrorable contract (exact integer
  * ratios of token/char counts — no `ln`, no libm in the features, so
  * both engines build bit-identical inputs); the only transcendental
  * is the final sigmoid, whose ≤1-ulp cross-libm wobble is absorbed by
  * micro quantization (`score_micro = round(1e6·σ(w·x))` BIGINT, the
  * module convention). `keep` derives from the QUANTIZED score
  * (`score_micro ≥ 500000`), so the boolean can never disagree with
  * the score across engines.
  *
  * Scale shape (100 TB): TRAIN is full-batch IRLS (Newton) —
  * `iters` ≤ 25 passes over a persisted (features, label) projection,
  * each ONE aggregate-shaped scan (d+d² doubles of state, no
  * shuffle). Published practice fits quality classifiers on a BOUNDED
  * labeled sample (10⁵–10⁷ docs), so the training input is sample-
  * sized by contract — pass [[graft.operators.Sampling]] output.
  * SCORE is the corpus-scale member: a pure narrow projection (a
  * fixed-arity arithmetic chain + one sigmoid per row — whole-stage
  * codegen, nothing shuffles, nothing collects). */
object LogReg {

  /** Number of non-bias features in the contract. */
  val NumFeatures = 8

  /** Row cap for the driver-local iteration path ([[TrainLoop]]): 1M
    * rows of 8 features ≈ 150 MB — bounded driver work; anything
    * larger runs the distributed per-iteration loop unchanged. */
  private[operators] val LocalTrainMaxRows = 1000000L

  /** The fixed feature contract over a text column — the size cues
    * (x1–x3) plus the Gopher-aligned ratios the rule gate
    * ([[TextFns.gopherFlags]], Rae et al. 2021 A1.1) actually tests,
    * so distilling that gate into a smooth score is LEARNABLE (the
    * 3-feature contract could not linearly separate symbol-ratio or
    * bullet-line failures). Tokens per [[NgramLM.tokens]]; lines are
    * `\n`-split and trimmed (the gopherFlags conventions, verbatim):
    *   x1 = n_tokens / 100.0
    *   x2 = char_length(text) / 1000.0
    *   x3 = mean token length = (len(normText) − (n_tokens−1)) / n_tokens
    *        (total token chars = normalized length minus the n−1
    *        single spaces; 0.0 for token-less docs)
    *   x4 = symbol-to-word ratio: (#`#` + #`…` + #(runs of ≥3 dots)) / n_tokens
    *        (0.0 for token-less docs)
    *   x5 = bullet-line fraction: lines starting `•`/`-`/`*` over all lines
    *   x6 = ellipsis-line fraction: lines ending `...`/`…` over all lines
    *   x7 = alpha-word fraction: tokens containing [a-z] over n_tokens
    *        (0.0 for token-less docs)
    *   x8 = distinct [[TextFns.gopherStopwords]] hits / 8.0
    * Every feature is an exact integer/integer (or integer/literal)
    * double division — identical IEEE doubles in any engine, no libm.
    * SQL mirrors are in the quality_lr oracle (toks = the tokenization
    * contract, nt = len(toks), ls = trimmed lines).
    * NULL text → NULL x1/x2 (score propagates NULL, keep false). */
  def featureExprs(text: Column): Seq[Column] = {
    // ONE kernel pass (TextStatsExpr, r17) — the Column formulation
    // (five regexes + interpreted per-line/per-token lambdas) put
    // quality_lr at 114.8 s in the sf10 sweep, almost all of it
    // feature extraction. Counts are bit-compatible; the ratio
    // arithmetic below is unchanged (x3's numerator: len(norm) −
    // (nt − 1) IS the lowered-token char sum — norm is the tokens
    // joined by single spaces).
    val st = TextFns.textStats(text)
    val nt = st.getField("n_tokens").cast("long")
    val ntd = nt.cast("double")
    val nLines = st.getField("n_lines").cast("double")
    Seq(
      ntd / lit(100.0),
      length(text).cast("double") / lit(1000.0),
      when(nt > 0, st.getField("char_sum").cast("double") / ntd)
        .otherwise(lit(0.0)),
      when(nt > 0, st.getField("n_sym").cast("double") / ntd).otherwise(lit(0.0)),
      st.getField("n_bullet").cast("double") / nLines,
      st.getField("n_ellipsis").cast("double") / nLines,
      when(nt > 0, st.getField("n_alpha").cast("double") / ntd)
        .otherwise(lit(0.0)),
      st.getField("n_stop").cast("double") / lit(8.0))
  }

  /** Train by full-batch IRLS (iteratively reweighted least squares —
    * the classical Newton method for logistic regression, McCullagh &
    * Nelder 1989): `iters` Newton steps, each ONE pass over a
    * persisted PRIMITIVE (x, y) RDD (unpersisted when training
    * returns). Per pass each partition accumulates the d-vector
    * gradient `Σ(σ(w·x) − y)·x` AND the d×d Hessian
    * `Σ σ(w·x)(1 − σ(w·x))·x·xᵀ` (bias folded in as x0 = 1); the
    * driver normalizes by n, adds the `l2` ridge (λ·w to the
    * gradient, λ·I to the Hessian — keeps the system positive-
    * definite when classes are linearly separable, where unpenalized
    * weights diverge), and solves the 9×9 Newton system. Rows with
    * NULL text or NULL label are skipped.
    *
    * IRLS is the right optimizer at this dimensionality: plain GD on
    * these features needed thousands of corpus passes to distill the
    * Gopher gate (measured 71% agreement after its 60 passes — the
    * majority-class plateau); IRLS reaches 99.6% in ≤10 passes, and
    * each pass is the same one treeAggregate-shaped scan with
    * d+d² = 90 doubles of state.
    *
    * Determinism: per-partition partials combine on the driver IN
    * PARTITION INDEX ORDER (a `treeAggregate` would merge in
    * task-ARRIVAL order — its final reduce is why [[Pca]]'s
    * determinism carries the fixed-layout caveat), and the Newton
    * solve is a fixed-order Gaussian elimination — two trains over
    * the same layout are bit-identical. The per-pass driver traffic
    * is P·(d+d²+1) doubles — bounded: the training input is
    * sample-sized by contract. */
  def train(
      df: DataFrame, text: Column, label: Column,
      iters: Int = 25, l2: Double = 1e-6): LrModel = {
    require(iters > 0, s"iters must be positive, got $iters")
    require(l2 > 0, s"l2 ridge must be positive (it pins the Newton system PD), got $l2")
    val d = NumFeatures + 1
    val feats = df
      .select(array(featureExprs(text): _*).as("x"), label.cast("boolean").as("y"))
      .where(col("x").isNotNull && !exists(col("x"), v => v.isNull) &&
        col("y").isNotNull)
    // Persist the PRIMITIVE rows, not the frame: every Newton pass
    // reads this, and caching the DataFrame would still pay Row→array
    // deserialization per pass (measured 3.2 s/pass on the 100×
    // table; as primitives the pass is the arithmetic alone).
    val rows = feats.rdd.map(r =>
      (r.getSeq[Double](0).toArray, if (r.getBoolean(1)) 1.0 else 0.0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = new Array[Double](d)
    val nf = NumFeatures
    // ONE per-partition fold shared by both execution paths below —
    // the arithmetic (accumulation order included) is defined once, so
    // the paths cannot drift.
    val fold = (wb: Array[Double], rs: Iterator[(Array[Double], Double)]) => {
      val g = new Array[Double](d)
      val h = new Array[Double](d * d)
      var c = 0L
      val xb = new Array[Double](d)
      rs.foreach { case (x, y) =>
        xb(0) = 1.0
        var i = 0
        while (i < nf) { xb(i + 1) = x(i); i += 1 }
        var z = 0.0
        i = 0
        while (i < d) { z += wb(i) * xb(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = p - y
        val wgt = p * (1.0 - p)
        i = 0
        while (i < d) {
          g(i) += r * xb(i)
          var j = i
          while (j < d) { h(i * d + j) += wgt * xb(i) * xb(j); j += 1 }
          i += 1
        }
        c += 1L
      }
      (g, h, c)
    }
    // try/finally: the zero-usable-rows require below must not strand
    // the persisted RDD in the block manager
    try {
      // Sample-sized training sets iterate DRIVER-LOCALLY over the
      // collected partitions (one job instead of `iters` jobs; see
      // [[TrainLoop]] — partition boundaries and row order preserved,
      // so the weights are bit-identical to the distributed loop,
      // which remains the over-cap fallback).
      val localParts = TrainLoop.localPartitions(rows, LocalTrainMaxRows)
      var it = 0
      while (it < iters) {
        val wb = w.clone()
        // partials combine in partition INDEX order — the pinned
        // combine order that makes the pass deterministic (collect()
        // returns them in that order; the local path iterates it).
        val partials = localParts match {
          case Some(ps) => ps.map(p => fold(wb, p.iterator))
          case None => rows.mapPartitions(rs => Iterator.single(fold(wb, rs))).collect()
        }
        val grad = new Array[Double](d)
        val hess = new Array[Double](d * d)
        var cnt = 0L
        partials.foreach { case (g2, h2, c2) =>
          var i = 0
          while (i < d) { grad(i) += g2(i); i += 1 }
          i = 0
          while (i < d * d) { hess(i) += h2(i); i += 1 }
          cnt += c2
        }
        require(cnt > 0, "LogReg training needs at least one usable (text, label) row")
        val inv = 1.0 / cnt
        var i = 0
        while (i < d) {
          grad(i) = grad(i) * inv + l2 * wb(i)
          var j = i
          while (j < d) {
            val v = hess(i * d + j) * inv + (if (i == j) l2 else 0.0)
            hess(i * d + j) = v
            hess(j * d + i) = v
            j += 1
          }
          i += 1
        }
        val delta = solveInPlace(hess, grad, d)
        i = 0
        while (i < d) { w(i) -= delta(i); i += 1 }
        it += 1
      }
    } finally rows.unpersist(blocking = false)
    LrModel(w)
  }

  /** Deterministic Gaussian elimination with partial pivoting
    * (max-|pivot|, FIRST index wins ties — a fixed order, so the
    * Newton solve is bit-reproducible); clobbers `a` (row-major d×d)
    * and `b`. The ridge keeps the system positive-definite, so a zero
    * pivot means the caller passed l2 = 0 on degenerate data. */
  private def solveInPlace(a: Array[Double], b: Array[Double], d: Int): Array[Double] = {
    var col = 0
    while (col < d) {
      var piv = col
      var best = math.abs(a(col * d + col))
      var r = col + 1
      while (r < d) {
        val v = math.abs(a(r * d + col))
        if (v > best) { best = v; piv = r }
        r += 1
      }
      if (piv != col) {
        var j = 0
        while (j < d) {
          val t = a(col * d + j); a(col * d + j) = a(piv * d + j); a(piv * d + j) = t
          j += 1
        }
        val t = b(col); b(col) = b(piv); b(piv) = t
      }
      val pv = a(col * d + col)
      require(pv != 0.0, "singular Newton system — ridge l2 must be positive")
      r = col + 1
      while (r < d) {
        val f = a(r * d + col) / pv
        if (f != 0.0) {
          var j = col
          while (j < d) { a(r * d + j) -= f * a(col * d + j); j += 1 }
          b(r) -= f * b(col)
        }
        r += 1
      }
      col += 1
    }
    val x = new Array[Double](d)
    var i = d - 1
    while (i >= 0) {
      var s = b(i)
      var j = i + 1
      while (j < d) { s -= a(i * d + j) * x(j); j += 1 }
      x(i) = s / a(i * d + i)
      i -= 1
    }
    x
  }

  /** Score every doc: `(id, score_micro, keep)` with `score_micro =
    * round(1e6·σ(w·x))` (BIGINT; NULL for NULL text) and `keep =
    * score_micro ≥ 500000` (false for NULL). The w·x chain is the
    * fixed left-associative fold `(…((w0·1 + w1·x1) + w2·x2) + …) +
    * w8·x8`, mirrored verbatim by the SQL oracle. Pure narrow
    * projection. */
  def score(df: DataFrame, id: Column, text: Column, model: LrModel): DataFrame = {
    require(model.dim == NumFeatures + 1,
      s"model has ${model.dim} weights, contract needs ${NumFeatures + 1}")
    val xs = featureExprs(text)
    val z = xs.zipWithIndex.foldLeft(lit(model.weights(0)) * lit(1.0): Column) {
      case (acc, (x, i)) => acc + lit(model.weights(i + 1)) * x
    }
    val scoreMicro =
      round(lit(1000000.0) * (lit(1.0) / (lit(1.0) + exp(-z))), 0).cast("long")
    df.select(id.as("id"), scoreMicro.as("score_micro"))
      .withColumn("keep", coalesce(col("score_micro") >= 500000L, lit(false)))
  }

  /** The weights as a frame: rows `(i, w)` with i = 0 the bias — the
    * persisted/exported shape (the [[Pca.toFrame]] pattern). */
  def toFrame(model: LrModel, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    model.weights.zipWithIndex.map { case (w, i) => (i, w) }.toSeq.toDF("i", "w")
  }

  /** Persist a fitted model. */
  def save(model: LrModel, path: String, spark: org.apache.spark.sql.SparkSession): Unit =
    graft.Catalog.saveTable(path, toFrame(model, spark))

  /** Load a model saved by [[save]] (columns read by name). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): LrModel = {
    val m = graft.Parquet.read(spark, path).select("i", "w")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    LrModel(Array.tabulate(m.size)(m(_)))
  }
}
