package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fitted PCA basis: `mean` (length dim) and `components` — k rows of
  * length dim, unit-norm, ordered by DESCENDING explained variance,
  * each sign-canonicalized (the entry of largest magnitude is
  * positive). Training is BIT-deterministic FOR A FIXED INPUT LAYOUT:
  * per-partition (n, Σv, Σvvᵀ) partials combine on the driver in
  * partition INDEX order (the LogReg.train pattern), so two trains
  * over the same files with the same splits agree bit-for-bit; a
  * differently-partitioned input agrees only to float tolerance
  * (PcaSpec pins 1e-8 under repartition). */
final case class PcaModel(mean: Array[Double], components: Array[Array[Double]]) {
  def dim: Int = mean.length
  def k: Int = components.length
}

/** Distributed PCA over an embedding column (L50) — the standard
  * dimensionality-reduction step in front of the vector stack (a
  * 64→16 projection cuts every ANN/IVF/PQ/dedup distance pass 4×;
  * PCA-then-quantize is the published OPQ-lite recipe). Exact
  * covariance eigendecomposition, not a sketch: embedding dims are
  * small by contract (d ≤ 1024), so the d×d Gram fits any driver
  * while the DATA pass stays one scan.
  *
  * TRAIN is a single scan over the vectors — per-partition state is
  * (n, Σv, Σvvᵀ), d²+d+1 doubles, one partial per partition collected
  * to the driver and folded in partition-INDEX order (the 1000-executor
  * shape: no shuffle, ~8 KB per partition at d=32; the pinned fold
  * order is what makes the pass bit-deterministic for a fixed layout —
  * `treeAggregate` merges in task-ARRIVAL order and is not) — then a
  * driver-side d×d eigendecomposition (breeze `eigSym`, ships with
  * Spark). Covariance is the POPULATION form Σvvᵀ/n − μμᵀ
  * (documented; the n vs n−1 choice shifts eigenVALUES only, never
  * the basis). Vectors that are NULL, wrong-length, or contain
  * NaN/Inf are SKIPPED in training (the Ann module convention).
  *
  * APPLY is a pure narrow projection: center then k dot products in
  * EXPLICIT ascending-index fold order (`aggregate(zip_with(...))`)
  * so any engine reproduces the arithmetic; the centered vector is
  * staged once per row. NaN inputs propagate to NaN projections
  * (filter upstream, as with Ann). */
object Pca {

  def train(df: DataFrame, vec: Column, dim: Int, k: Int): PcaModel = {
    require(dim >= 1 && dim <= 1024, s"dim must be in [1, 1024], got $dim")
    require(k >= 1 && k <= dim, s"k must be in [1, dim=$dim], got $k")
    val rows = df.select(vec.cast("array<double>").as("v"))
      .where(col("v").isNotNull && size(col("v")) === dim &&
        !exists(col("v"), x => isnan(x) || x === Double.PositiveInfinity ||
          x === Double.NegativeInfinity))
      .rdd.map(_.getSeq[Double](0).toArray)
    val d = dim
    // collect() returns partials in partition INDEX order — the pinned
    // combine order that makes the pass bit-deterministic for a fixed
    // layout (treeAggregate merges in task-arrival order and is not).
    // Bound the driver's resident partials: one (n, Σv, Σvvᵀ) per
    // collected partition is (d²+d+1)·8 bytes — at the d=1024 contract
    // cap that is ~8.4 MB, so a many-partition input must coalesce
    // first (no shuffle; consecutive parents merge in order, so the
    // pinned fold stays deterministic for a fixed layout) to keep the
    // collected set under ~256 MB.
    val partialBytes = (d.toLong * d + d + 1) * 8
    val maxParts = math.max(1, ((256L << 20) / partialBytes).toInt)
    val bounded = if (rows.getNumPartitions > maxParts) rows.coalesce(maxParts) else rows
    val partials = bounded.mapPartitions { vs =>
      val sum = new Array[Double](d)
      val gram = new Array[Double](d * d)
      var cnt = 0L
      vs.foreach { v =>
        var i = 0
        while (i < d) {
          sum(i) += v(i)
          var j = i
          while (j < d) { gram(i * d + j) += v(i) * v(j); j += 1 }
          i += 1
        }
        cnt += 1L
      }
      Iterator.single((cnt, sum, gram))
    }.collect()
    var n = 0L
    val s = new Array[Double](d)
    val g = new Array[Double](d * d)
    partials.foreach { case (c2, s2, g2) =>
      var i = 0
      while (i < d) { s(i) += s2(i); i += 1 }
      i = 0
      while (i < d * d) { g(i) += g2(i); i += 1 }
      n += c2
    }
    require(n >= 2, s"PCA needs at least 2 usable vectors, got $n")
    val mean = s.map(_ / n)
    val cov = breeze.linalg.DenseMatrix.tabulate[Double](d, d) { (i, j) =>
      val ij = if (i <= j) g(i * d + j) else g(j * d + i)
      ij / n - mean(i) * mean(j)
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ASCENDING
    val comps = (0 until k).map { c =>
      val idx = d - 1 - c
      val raw = Array.tabulate(d)(r => es.eigenvectors(r, idx))
      // canonical sign: the largest-magnitude entry is positive
      val m = raw.maxBy(math.abs)
      if (m < 0) raw.map(-_) else raw
    }.toArray
    PcaModel(mean, comps)
  }

  /** Project `vec` onto the basis: appends `outCol` =
    * `[dot(v − mean, c_0), …, dot(v − mean, c_{k-1})]` (array of
    * double). Explicit ascending-index fold — mirrorable in SQL — but
    * executed as ONE native codegen'd kernel
    * ([[org.apache.spark.sql.graftexpr.PcaProjectExpr]]): the basis
    * ships once per task as a reference object and the per-row cost is
    * a primitive k·d loop. The interpreted HOF chain this replaces
    * ([[projectHof]], kept as the test reference) paid SURVEY §4's
    * 64–80× per-element interpretation tax on exactly the pass L50
    * exists to make cheap. Bit-identical arithmetic — PcaSpec pins the
    * two forms equal through `==` on every component. `vec` must be
    * array<float> or array<double> (embeddings' native types — no
    * pre-cast copy). */
  def project(df: DataFrame, vec: Column, model: PcaModel,
      outCol: String = "proj"): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val flat = (model.mean.toSeq ++ model.components.toSeq.flatten).toIndexedSeq
    df.withColumn(outCol, Bridge.column(
      org.apache.spark.sql.graftexpr.PcaProjectExpr(
        Bridge.expr(vec), flat, model.dim, model.k)))
  }

  /** The round-15 interpreted `zip_with`+`aggregate` projection — kept
    * ONLY as the test reference for [[project]] (the PcaSpec
    * bit-equality law). Do not use in pipelines. */
  private[graft] def projectHof(df: DataFrame, vec: Column, model: PcaModel,
      outCol: String = "proj"): DataFrame = {
    val meanLit = array(model.mean.map(lit): _*)
    val staged = df.withColumn("_graft_cv",
      zip_with(vec.cast("array<double>"), meanLit, (a, b) => a - b))
    val projs = model.components.map { c =>
      val compLit = array(c.map(lit): _*)
      aggregate(zip_with(col("_graft_cv"), compLit, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
    }
    staged.withColumn(outCol, array(projs: _*)).drop("_graft_cv")
  }

  /** The basis as a frame: rows `(cidx, comp)` with `cidx = -1`
    * carrying the mean — the persisted/exported shape. */
  def toFrame(model: PcaModel, spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    ((-1, model.mean.toSeq) +:
      model.components.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("cidx", "comp")
  }

  /** Persist a fitted basis (the [[NgramLM.saveUnigram]] shape). */
  def save(model: PcaModel, path: String, spark: org.apache.spark.sql.SparkSession): Unit =
    graft.Catalog.saveTable(path, toFrame(model, spark))

  /** Load a basis saved by [[save]] (columns read by name). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): PcaModel = {
    val rows = spark.read.parquet(path).select("cidx", "comp")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val k = rows.keySet.max + 1
    PcaModel(rows(-1), Array.tabulate(k)(rows(_)))
  }
}
