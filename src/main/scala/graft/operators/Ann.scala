package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftexpr.{CentroidIdsExpr, CosineSimExpr, HyperplaneBucketsExpr, PqAdcExpr, PqEncodeExpr, PqLutExpr, TopKByScore}

/** Vector column kernels shared by ANN search and embedding dedup
  * (SURVEY §2.5 L5–L7). Pure `org.apache.spark.sql.functions` — the
  * folds are codegen'd higher-order functions, no UDFs. */
object Vec {

  /** Cosine similarity between two float/double array columns, computed
    * as a deterministic left-to-right double fold — `dot/(‖a‖·‖b‖)` —
    * so any engine that folds sequentially in double reproduces it
    * bit-for-bit (round to 6 decimals for a cross-engine gate).
    * Native codegen'd kernel: the higher-order-function formulation is
    * interpreted per element and boxes every value. */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimExpr(Bridge.expr(a), Bridge.expr(b)))

  /** Deterministic Lloyd's k-means for the IVF coarse quantizer:
    * seeded init from the sample itself, fixed iteration count, plain
    * double arithmetic — same centroids on every run and JVM. Runs on
    * the DRIVER over a bounded sample (offline training step). */
  def kmeans(sample: Array[Array[Double]], k: Int, seed: Long, iters: Int = 10): Array[Array[Double]] = {
    require(sample.nonEmpty, "kmeans: empty training sample")
    val dim = sample.head.length
    val rnd = new java.util.Random(seed)
    val centroids = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone()) ++
      Array.fill(math.max(0, k - sample.length))(sample(rnd.nextInt(sample.length)).clone())
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) { val d = dist2(v, centroids(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { centroids(c)(i) = sums(c)(i) / counts(c); i += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Deterministic pseudo-random hyperplanes: `tables·bits` planes of
    * `dim` coordinates in [-1, 1), from a fixed-seed LCG (java.util
    * .Random is specified exactly, so every JVM generates the same
    * planes — results are reproducible across runs and clusters). */
  def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextDouble() * 2.0 - 1.0)
  }

  /** Explode a vector frame into one row per (row, table) with that
    * table's bucket id: output columns `(<id passthroughs…>, tbl,
    * bucket)`. All tables' buckets come from ONE native pass over the
    * vector (HyperplaneBucketsExpr), then posexplode. */
  def hyperplaneBuckets(
      df: DataFrame, vecCol: Column, dim: Int,
      tables: Int, bits: Int, seed: Long): DataFrame = {
    val flat = scala.collection.immutable.ArraySeq.unsafeWrapArray(
      hyperplanes(dim, tables, bits, seed).flatten.flatten)
    val buckets = Bridge.column(HyperplaneBucketsExpr(Bridge.expr(vecCol), flat, tables, bits))
    df.select(df.columns.map(col) :+ posexplode(buckets).as(Seq("tbl", "bucket")): _*)
  }
}

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2.5 L6–L7).
  *
  * Scale design (§4): the probe set is the SMALL side — it broadcasts;
  * the vector table streams through once. Per-probe top-k runs through
  * [[TopKByScore]], a partial-merge aggregate, so each map task emits at
  * most k rows per probe and the shuffle is O(partitions·probes·k) —
  * independent of table size. No window function, no global sort.
  */
object Ann {

  private def topKPerProbe(sims: DataFrame, k: Int): DataFrame = {
    val agg = Bridge.column(TopKByScore(
      Bridge.expr(col("sim")), Bridge.expr(col("neighbor_id")), k).toAggregateExpression())
    sims.groupBy("probe_id").agg(agg.as("_topk"))
      .select(col("probe_id"), posexplode(col("_topk")).as(Seq("_pos", "_nb")))
      .select(col("probe_id"), col("_nb.id").as("neighbor_id"),
        col("_nb.score").as("sim"), (col("_pos") + 1).cast("int").as("rank"))
  }

  /** L6 — exact brute-force top-k: one scan of `df`, cosine against every
    * broadcast probe, map-side top-k. `probes` must have columns
    * (probe_id, probe_vec). Self-matches (probe_id == id) are excluded. */
  def topKBrute(df: DataFrame, id: Column, vec: Column, probes: DataFrame, k: Int): DataFrame = {
    val sims = df.select(id.as("neighbor_id"), vec.as("_v"))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("probe_vec").as("_pv"))))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), round(Vec.cosine(col("_v"), col("_pv")), 6).as("sim"))
    topKPerProbe(sims, k)
  }

  /** L7 (IVF variant) — inverted-file ANN: a small k-means coarse
    * quantizer is trained ONCE on a seeded driver-side sample (IVF
    * training is an offline step; the sample is bounded, never the full
    * table), every vector is assigned to its nearest centroid with one
    * native-kernel pass, and each probe searches only its `nProbe`
    * closest inverted lists — an equi-join on the centroid id, followed
    * by exact rerank through the same partial top-k aggregate. At 100 TB
    * the scan fraction is ≈ nProbe/nClusters. */
  def topKIvf(
      df: DataFrame, id: Column, vec: Column, probes: DataFrame, k: Int,
      dim: Int, nClusters: Int = 16, nProbe: Int = 4,
      trainSampleRows: Int = 2048, seed: Long = 7L): DataFrame =
    topKIvfWith(trainIvf(df, vec, dim, nClusters, trainSampleRows, seed),
      df, id, vec, probes, k, nProbe)

  /** Train the IVF coarse quantizer (offline step): seeded uniform
    * sample + deterministic k-means, returning UNIT-normalized centroids
    * (empty when the table has no usable vectors). Persist with
    * [[saveIvf]] so later search runs skip retraining — a production
    * corpus trains once, searches many times. */
  def trainIvf(
      df: DataFrame, vec: Column, dim: Int, nClusters: Int = 16,
      trainSampleRows: Int = 2048, seed: Long = 7L): Array[Array[Double]] = {
    // Seeded UNIFORM training sample: orderBy(rand) compiles to
    // TakeOrderedAndProject (each partition keeps its own n by the
    // random key, the driver merges p·n candidates — no full sort).
    // A bare limit(n) would train the quantizer on the first rows of
    // the scan order — one parquet file of one shard at 100 TB — and
    // bias the centroids on clustered/sorted data. The array<double>
    // cast reads float or double embeddings alike.
    val sample = df.select(vec.cast("array<double>").as("_v"))
      .orderBy(rand(seed)).limit(trainSampleRows)
      .collect()
      .flatMap(r => Option(r.getSeq[Double](0)).map(_.toArray))
      .filter(_.length == dim)
    if (sample.isEmpty) Array.empty
    else {
      // Unit-normalize the trained centroids so assignment ranks by one
      // dot product per centroid (ranking by dot == by cosine at norm 1);
      // empty clusters keep a zero centroid and rank last.
      Vec.kmeans(sample, nClusters, seed).map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n > 0) c.map(_ / n) else c
      }
    }
  }

  /** Persist a trained IVF quantizer as parquet rows `(cid, centroid)`. */
  def saveIvf(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a quantizer saved by [[saveIvf]], in cid order. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] =
    graft.Parquet.read(spark, path).orderBy("cid")
      .collect().map(_.getSeq[Double](1).toArray)

  /** Nearest-centroid assignment `(id, cid)` for a trained quantizer —
    * the IVF inverted-list build step, exposed for cluster-then-compare
    * consumers ([[Dedup.semanticPairs]]'s SemDeDup partition). One
    * codegen'd dot-product pass ([[CentroidIdsExpr]], centroids as ONE
    * reference object — plan size flat in nClusters); rows whose vector
    * is unusable (NULL, or all-NaN → empty centroid list) are dropped,
    * matching IVF's degenerate-vector dropout. Wrong-LENGTH vectors
    * throw, same contract as [[Vec.cosine]]. */
  def assignClusters(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column): DataFrame = {
    require(unit.nonEmpty, "assignClusters: empty quantizer (no usable training vectors)")
    val dim = unit.head.length
    // get(), not apply(0): an all-NaN vector's centroid list is EMPTY
    // and ANSI mode makes [0] on an empty array throw — get() degrades
    // it to NULL, which the isNotNull filter then drops.
    df.select(id.as("id"),
        get(Bridge.column(CentroidIdsExpr(Bridge.expr(vec),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(unit.flatten), dim, 1)), lit(0))
          .as("cid"))
      .where(col("cid").isNotNull)
  }

  /** IVF search against an already-trained (or [[loadIvf]]-loaded)
    * quantizer — the per-batch piece of the train-once / search-many
    * production flow. Same output shape and semantics as [[topKIvf]]. */
  def topKIvfWith(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, k: Int, nProbe: Int = 4): DataFrame = {
    if (unit.isEmpty) {
      // Never-throw contract (EdgeSpec): empty table / all-null vectors
      // → empty result with the standard ANN output schema.
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("sim"), lit(0).as("rank")).where(lit(false))
    }
    val sims = ivfCandJoin(unit, df, id, vec, probes, nProbe)
      .select(col("probe_id"), col("neighbor_id"),
        round(Vec.cosine(col("_v"), col("_pv")), 6).as("sim"))
    topKPerProbe(sims, k)
  }

  /** The candidate stage of [[topKIvfWith]]: `(probe_id, neighbor_id,
    * _v, _pv)` — rows sharing one of the probe's nProbe inverted lists,
    * with both vectors still attached for the rerank. */
  private def ivfCandJoin(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, nProbe: Int): DataFrame = {
    val dim = unit.head.length
    def topc(v: Column, top: Int): Column =
      Bridge.column(CentroidIdsExpr(Bridge.expr(v),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(unit.flatten), dim, top))
    // get(), not apply(0): a degenerate (all-NaN) vector's centroid
    // list is EMPTY and ANSI mode makes [0] on an empty array a runtime
    // error — get() degrades it to a NULL cid, which the equi-join then
    // drops (NULL joins nothing), preserving the documented
    // degenerate-vector dropout.
    val data = df.select(id.as("neighbor_id"), vec.as("_v"), get(topc(vec, 1), lit(0)).as("cid"))
    val probed = probes.select(col("probe_id"), col("probe_vec").as("_pv"),
      explode(topc(col("probe_vec"), nProbe)).as("cid"))
    // No distinct needed: each data row has exactly one cid and a
    // probe's nProbe list ids are distinct, so (probe_id, neighbor_id)
    // appears at most once.
    data.join(broadcast(probed), Seq("cid"))
      .where(col("probe_id") =!= col("neighbor_id"))
  }

  /** The distinct IVF candidate pairs `(probe_id, neighbor_id)` a
    * [[topKIvfWith]] search with the same quantizer reranks — public
    * and exportable so an external engine can re-derive the exact
    * rerank from the candidates plus the raw vectors (the driver's
    * DuckDB oracle reruns it with `list_cosine_similarity`), leaving
    * only centroid training/assignment to AnnSpec's recall gate. */
  def ivfCandidates(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, nProbe: Int = 4): DataFrame = {
    if (unit.isEmpty)
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id")).where(lit(false))
    ivfCandJoin(unit, df, id, vec, probes, nProbe).select("probe_id", "neighbor_id")
  }

  /** A trained product quantizer: `m` subspaces of `subDim` dims, `k`
    * codes each; `flat` is the [sub][code][subDim] codebook tensor.
    * Codebooks quantize UNIT-normalized vectors (ADC dot ≈ cosine). */
  final case class PqCodebooks(m: Int, subDim: Int, k: Int, flat: Seq[Double]) {
    require(flat.isEmpty || flat.length == m * k * subDim,
      s"flat length ${flat.length} != m*k*subDim = ${m * k * subDim}")
    def isEmpty: Boolean = flat.isEmpty
  }

  /** L7b — train a product quantizer (offline step, same seeded uniform
    * sample as [[trainIvf]]): unit-normalize the sample, split each
    * vector into `m` subvectors, run deterministic k-means with `codes`
    * centroids per subspace. Empty/degenerate tables yield an empty
    * quantizer (searches return empty — the never-throw contract). */
  def trainPq(
      df: DataFrame, vec: Column, dim: Int, m: Int = 8, codes: Int = 16,
      trainSampleRows: Int = 2048, seed: Long = 7L): PqCodebooks = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val sample = df.select(vec.cast("array<double>").as("_v"))
      .orderBy(rand(seed)).limit(trainSampleRows)
      .collect()
      .flatMap(r => Option(r.getSeq[Double](0)).map(_.toArray))
      .filter(v => v.length == dim && !v.exists(_.isNaN))
      .flatMap { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n > 0) Some(v.map(_ / n)) else None
      }
    if (sample.isEmpty) PqCodebooks(m, subDim, codes, Nil)
    else {
      val flat = (0 until m).flatMap { s =>
        val sub = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
        Vec.kmeans(sub, codes, seed + s).iterator.flatten.toSeq
      }
      PqCodebooks(m, subDim, codes, flat)
    }
  }

  /** Persist a product quantizer as parquet rows `(sub, cid, centroid)`
    * — shape (m, k, subDim) is recovered from the rows on load. */
  def savePq(spark: org.apache.spark.sql.SparkSession, cb: PqCodebooks, path: String): Unit = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.m; c <- 0 until cb.k
    } yield (s, c, cb.flat.slice((s * cb.k + c) * cb.subDim, (s * cb.k + c + 1) * cb.subDim))
    (if (cb.isEmpty) Seq.empty[(Int, Int, Seq[Double])] else rows)
      .toDF("sub", "cid", "centroid").repartition(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a quantizer saved by [[savePq]]. An empty save loads back as
    * an empty (search-returns-empty) quantizer with a 1×1 shape. */
  def loadPq(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebooks = {
    val rows = graft.Parquet.read(spark, path).orderBy("sub", "cid")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    if (rows.isEmpty) PqCodebooks(1, 1, 1, Nil)
    else PqCodebooks(rows.map(_._1).max + 1, rows.head._3.length,
      rows.map(_._2).max + 1, rows.flatMap(_._3).toSeq)
  }

  /** Size the PQ/IVF×PQ `rerank` knob for a corpus with near-duplicate
    * vectors. ADC quantization cannot order near-ties (members of a
    * near-dup cluster land on the same codes, so their ADC scores are
    * equal and the top-`rerank` cut among them is arbitrary): if the
    * true top-`k` neighbors each have up to `dupMultiplicity` near-tie
    * copies, the candidate list needs `k · dupMultiplicity` slots
    * before the exact rerank is guaranteed to see the true winners.
    * Measured on a jittered sf10 corpus (cos ≥ 0.995 clusters of ~100
    * at the default rerank=50): recall@10 drops to 0.64; at
    * `rerankFor(10, 100)` it recovers to ≥ 0.9 (AnnSpec pins the
    * small-scale twin). The cheaper production alternative is to
    * near-dedup BEFORE indexing — `corpus_prep_near` composes exactly
    * that — after which the default floor is the right size. */
  def rerankFor(k: Int, dupMultiplicity: Int, floor: Int = 50): Int =
    math.max(floor, math.multiplyExact(math.max(k, 1), math.max(dupMultiplicity, 1)))

  /** L7b — PQ-compressed ANN: the scan side carries `m` SMALL INTS per
    * vector instead of `dim` floats (the 100 TB memory story: 8 bytes
    * vs 256 at dim=64/float — and the full-precision vectors stay in
    * cold storage, touched only for the final rerank). Scoring is ADC:
    * each probe precomputes an m·k lookup table ONCE (one column on the
    * broadcast probe side), every (probe, vector) pair costs O(m) table
    * reads — not O(dim) multiplies. Top-`rerank` approximate candidates
    * per probe flow through the same partial-merge top-k aggregate
    * (shuffle O(partitions·probes·rerank)), then ONLY those fetch their
    * true vectors (narrow join by id) for the exact cosine top-`k`.
    * Recall < 1 by design — AnnSpec pins it vs brute force. On a corpus
    * with near-duplicate vectors `rerank` must grow with the duplicate
    * multiplicity (see [[rerankFor]]) or be preceded by near-dedup. */
  def topKPq(
      df: DataFrame, id: Column, vec: Column, probes: DataFrame, k: Int,
      dim: Int, m: Int = 8, codes: Int = 16, rerank: Int = 50,
      trainSampleRows: Int = 2048, seed: Long = 7L): DataFrame =
    topKPqWith(trainPq(df, vec, dim, m, codes, trainSampleRows, seed),
      df, id, vec, probes, k, rerank)

  /** PQ search against an already-trained (or [[loadPq]]-loaded)
    * quantizer — the per-batch piece of train-once / search-many. */
  def topKPqWith(
      cb: PqCodebooks, df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, k: Int, rerank: Int = 50): DataFrame = {
    if (cb.isEmpty) {
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("sim"), lit(0).as("rank")).where(lit(false))
    }
    exactRerank(pqCandidates(cb, df, id, vec, probes, rerank), df, id, vec, probes, k)
  }

  /** IVF×PQ composition — the standard massive-corpus shape (a coarse
    * quantizer prunes which inverted lists are scanned, PQ codes make
    * the scan itself cheap): candidates come from the probe's `nProbe`
    * inverted lists (equi-join on the centroid id, scan fraction ≈
    * nProbe/nClusters), are scored by ADC (O(m) per pair) instead of
    * full-precision cosine, and only the top-`rerank` fetch true
    * vectors for the exact top-`k`. Codes quantize the raw normalized
    * vectors (IVF-Flat coarse + one global PQ codebook) — simpler than
    * FAISS's per-list residual encoding, at slightly lower ADC
    * fidelity; the exact rerank absorbs the difference. With
    * `nProbe = nClusters` this degrades exactly to [[topKPqWith]]
    * (spec-pinned). */
  def topKIvfPqWith(
      unit: Array[Array[Double]], cb: PqCodebooks, df: DataFrame,
      id: Column, vec: Column, probes: DataFrame, k: Int,
      nProbe: Int = 4, rerank: Int = 50): DataFrame = {
    if (unit.isEmpty || cb.isEmpty) {
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("sim"), lit(0).as("rank")).where(lit(false))
    }
    exactRerank(ivfPqCandidates(unit, cb, df, id, vec, probes, nProbe, rerank),
      df, id, vec, probes, k)
  }

  /** The top-`rerank` ADC candidates per probe `(probe_id, neighbor_id)`
    * a [[topKIvfPqWith]] search reranks — public and exportable so the
    * driver's DuckDB oracle can re-derive the exact rerank (as
    * [[pqCandidates]]/[[ivfCandidates]] do for the standalone paths,
    * leaving coarse assignment + codebooks + ADC to AnnSpec's recall and
    * composition gates). Deterministic: seeded training, tie-breaks by
    * id everywhere. */
  def ivfPqCandidates(
      unit: Array[Array[Double]], cb: PqCodebooks, df: DataFrame,
      id: Column, vec: Column, probes: DataFrame,
      nProbe: Int = 4, rerank: Int = 50): DataFrame = {
    if (unit.isEmpty || cb.isEmpty)
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id")).where(lit(false))
    val dim = unit.head.length
    def topc(v: Column, top: Int): Column =
      Bridge.column(CentroidIdsExpr(Bridge.expr(v),
        scala.collection.immutable.ArraySeq.unsafeWrapArray(unit.flatten), dim, top))
    def enc(v: Column): Column =
      Bridge.column(PqEncodeExpr(Bridge.expr(v), cb.flat, cb.m, cb.subDim, cb.k))
    def lutc(v: Column): Column =
      Bridge.column(PqLutExpr(Bridge.expr(v), cb.flat, cb.m, cb.subDim, cb.k))
    def adc(codes: Column, l: Column): Column =
      Bridge.column(PqAdcExpr(Bridge.expr(codes), Bridge.expr(l), cb.k))
    // at 100 TB both columns are written once, offline: the search scan
    // reads (id, cid, m codes) — never the raw vectors
    // get(), not apply(0): see ivfCandJoin — ANSI-safe dropout for
    // degenerate vectors whose centroid list is empty.
    val data = df.select(id.as("neighbor_id"), get(topc(vec, 1), lit(0)).as("cid"),
        enc(vec).as("_codes"))
      .where(size(col("_codes")) > 0)
    val probed = probes.select(col("probe_id"), lutc(col("probe_vec")).as("_lut"),
        explode(topc(col("probe_vec"), nProbe)).as("cid"))
      .where(size(col("_lut")) > 0)
    val scored = data.join(broadcast(probed), Seq("cid"))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), adc(col("_codes"), col("_lut")).as("sim"))
    topKPerProbe(scored, rerank).select("probe_id", "neighbor_id")
  }

  /** Exact cosine top-`k` over an already-pruned candidate set: fetch
    * true vectors by id, score, partial top-k. The candidate set is
    * bounded by the probe count (× rerank breadth / bucket width — the
    * module contract that probes are the SMALL side), so it BROADCASTS
    * explicitly: the vector table streams through the join without a
    * shuffle ever being planned — at 100 TB an AQE-rescued sort-merge
    * would still map-stage the full table. */
  private def exactRerank(
      cand: DataFrame, df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, k: Int): DataFrame = {
    val sims = df.select(id.as("neighbor_id"), vec.as("_v"))
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(probes.select(col("probe_id"), col("probe_vec").as("_pv"))), Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"), round(Vec.cosine(col("_v"), col("_pv")), 6).as("sim"))
    topKPerProbe(sims, k)
  }

  /** The top-`rerank` ADC candidates per probe `(probe_id,
    * neighbor_id)` a [[topKPqWith]] search reranks — public and
    * exportable so the driver's DuckDB oracle can re-derive the exact
    * rerank (leaving codebook training + ADC to AnnSpec's recall gate).
    * Deterministic: seeded training, tie-breaks by id everywhere. */
  def pqCandidates(
      cb: PqCodebooks, df: DataFrame, id: Column, vec: Column,
      probes: DataFrame, rerank: Int): DataFrame = {
    if (cb.isEmpty)
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id")).where(lit(false))
    // at 100 TB the encoded table is written ONCE (m small ints per
    // row) and re-scanned per probe batch ([[writePqCodes]] is that
    // write); the raw vectors never ride the scoring scan
    val encoded = df.select(id.as("neighbor_id"), pqEncode(cb, vec).as("_codes"))
      .where(size(col("_codes")) > 0)
    pqScoreEncoded(cb, encoded, probes, rerank)
  }

  /** PQ-encode a vector column under `cb` (the codes-catalog row
    * payload; empty array for degenerate vectors). */
  def pqEncode(cb: PqCodebooks, vec: Column): Column =
    Bridge.column(PqEncodeExpr(Bridge.expr(vec), cb.flat, cb.m, cb.subDim, cb.k))

  /** ADC scoring + per-probe top-`rerank` over an ALREADY-ENCODED
    * frame `(neighbor_id, _codes)` — the shared tail of
    * [[pqCandidates]] (encode-on-the-fly) and [[searchPqCodes]]
    * (codes read from the persisted catalog). */
  private def pqScoreEncoded(
      cb: PqCodebooks, encoded: DataFrame, probes: DataFrame, rerank: Int): DataFrame = {
    def lut(v: Column): Column =
      Bridge.column(PqLutExpr(Bridge.expr(v), cb.flat, cb.m, cb.subDim, cb.k))
    def adc(codes: Column, l: Column): Column =
      Bridge.column(PqAdcExpr(Bridge.expr(codes), Bridge.expr(l), cb.k))
    val probeLuts = probes
      .select(col("probe_id"), lut(col("probe_vec")).as("_lut"))
      .where(size(col("_lut")) > 0)
    val scored = encoded.crossJoin(broadcast(probeLuts))
      .where(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), adc(col("_codes"), col("_lut")).as("sim"))
    topKPerProbe(scored, rerank).select("probe_id", "neighbor_id")
  }

  // ------------------------------------------------------------------
  // Persisted PQ codes catalog (compute-once / search-many — the
  // pattern the MinHash index and theta catalog already follow)
  // ------------------------------------------------------------------

  /** Persist the PQ-ENCODED corpus as a searchable catalog:
    * `path/codes/` holds `(id, codes)` parquet (m small ints per row —
    * the 100 TB scan layout), `path/params/` holds the codebook tensor
    * and is the COMMIT MARKER, written LAST (the
    * [[Dedup.writeMinHashIndex]] discipline): a crash between the two
    * writes leaves a params-less tree that reads as corrupt, never as
    * valid-but-wrong. `mode = "append"` adds a batch and FAIL-FASTS
    * unless the stored codebook is IDENTICAL to `cb` — codes are
    * meaningless under any other codebook — and refuses params-less
    * data (repair is an explicit overwrite). Overwrite drops the old
    * marker FIRST for the same reason. Degenerate vectors (NULL /
    * all-NaN / zero-norm) encode to empty and are dropped, matching
    * the on-the-fly path. */
  def writePqCodes(
      cb: PqCodebooks, df: DataFrame, id: Column, vec: Column,
      path: String, mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    // commit protocol shared via graft.Catalog (marker-last, append
    // fail-fasts, stale-marker drop on re-creation)
    graft.Catalog.write(spark, path, mode,
      readPqCodesParams(spark, path), Seq("codes"), "PQ codes catalog") { p =>
      require(p == cb,
        s"PQ codes catalog at $path was built with (m, subDim, k)=(${p.m}, ${p.subDim}, " +
          s"${p.k}) and a different codebook; refusing to append codes from another quantizer")
    } {
      df.select(id.as("id"), pqEncode(cb, vec).as("codes"))
        .where(size(col("codes")) > 0)
        .write.mode(mode).parquet(s"$path/codes")
    } {
      import spark.implicits._
      Seq((cb.m, cb.subDim, cb.k, cb.flat))
        .toDF("m", "sub_dim", "k", "flat")
        .write.mode("overwrite").parquet(s"$path/params")
    }
  }

  /** The codebook committed at `path`, None if no catalog exists. */
  def readPqCodesParams(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[PqCodebooks] =
    graft.Catalog.readParams(spark, path)(r =>
      PqCodebooks(r.getAs[Int]("m"), r.getAs[Int]("sub_dim"),
        r.getAs[Int]("k"), r.getSeq[Double](r.fieldIndex("flat"))))

  /** PQ search over a PERSISTED codes catalog: ADC candidates come
    * from `path/codes` — the corpus is NOT re-encoded per search
    * session (the r18 gap: [[topKPqWith]] takes the raw-vector frame
    * and pays the encode pass every time) — and only the top-`rerank`
    * fetch their true vectors from `raw` (cold storage) for the exact
    * cosine top-`k`. Law (AnnSpec): identical results to
    * [[topKPqWith]] with the committed codebook over the same corpus.
    * Throws if no catalog is committed at `path`. */
  def searchPqCodes(
      spark: org.apache.spark.sql.SparkSession, path: String,
      raw: DataFrame, id: Column, vec: Column,
      probes: DataFrame, k: Int, rerank: Int = 50): DataFrame = {
    val cb = readPqCodesParams(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no PQ codes catalog committed at $path"))
    if (cb.isEmpty) {
      return probes.select(col("probe_id"), lit(0L).as("neighbor_id"),
        lit(0.0).as("sim"), lit(0).as("rank")).where(lit(false))
    }
    val encoded = graft.Parquet.read(spark, s"$path/codes")
      .select(col("id").as("neighbor_id"), col("codes").as("_codes"))
    exactRerank(pqScoreEncoded(cb, encoded, probes, rerank), raw, id, vec, probes, k)
  }

  /** L7 — LSH-bucketed ANN: candidates are rows sharing a hyperplane
    * bucket with the probe in ANY table (equi-join on (tbl, bucket)),
    * deduplicated to distinct pairs, then exact cosine rerank of each
    * candidate ONCE ([[exactRerank]] — the score-once shape the PQ/IVF
    * paths share; scoring before dedup would evaluate the cosine t
    * times for a pair colliding in t tables and drag the data-side
    * vector through the ×tables exploded stream). Same output shape as
    * [[topKBrute]]; recall < 1 by design — AnnSpec pins recall vs brute
    * force. At 100 TB the candidate join replaces the full scan per
    * probe-set with a bucket-pruned fraction ~ tables/2^bits. */
  def topKLsh(
      df: DataFrame, id: Column, vec: Column, probes: DataFrame, k: Int,
      dim: Int, tables: Int = 8, bits: Int = 8, seed: Long = 7L,
      maxCandidatesPerProbe: Int = DefaultMaxLshCandidates): DataFrame =
    exactRerank(
      lshCandidates(df, id, vec, probes, dim, tables, bits, seed, maxCandidatesPerProbe),
      df, id, vec, probes, k)

  /** The candidate stage of [[topKLsh]]: `(probe_id, neighbor_id, _v,
    * _pv)` — one row per shared (tbl, bucket), NOT yet deduplicated
    * (a pair colliding in t tables appears t times). */
  private def lshCandJoin(
      df: DataFrame, id: Column, vec: Column, probes: DataFrame,
      dim: Int, tables: Int, bits: Int, seed: Long): DataFrame = {
    val data = Vec.hyperplaneBuckets(
      df.select(id.as("neighbor_id"), vec.as("_v")), col("_v"), dim, tables, bits, seed)
    val probeBuckets = Vec.hyperplaneBuckets(
      probes.select(col("probe_id"), col("probe_vec").as("_pv")), col("_pv"), dim, tables, bits, seed)
    data.join(broadcast(probeBuckets), Seq("tbl", "bucket"))
      .where(col("probe_id") =!= col("neighbor_id"))
  }

  /** Per-probe candidate ceiling for [[topKLsh]] — a safety valve, not
    * a recall knob. At healthy parameters candidates/probe ≈
    * tables·n/2^bits and the exactRerank broadcast is small; but a hot
    * bucket (many identical or zero vectors hashing together) makes
    * the candidate set proportional to bucket occupancy, and
    * BROADCASTING an unbounded set is how a skewed corpus kills the
    * driver at 100 TB. The cap keeps the `maxCandidatesPerProbe`
    * pairs with the MOST table collisions (collision count is the LSH
    * proximity signal — a pair colliding in more tables is closer in
    * expectation), ties broken by smallest id, via the same
    * partial-merge top-k aggregate the rerank uses — no window, and
    * the per-group state is bounded by the cap. */
  val DefaultMaxLshCandidates: Int = 65536

  /** The distinct LSH candidate pairs `(probe_id, neighbor_id)` a
    * [[topKLsh]] search with the same params reranks — public and
    * exportable so an external engine can re-derive the exact rerank
    * from the candidates plus the raw vectors (the driver's DuckDB
    * oracle reruns it with `list_cosine_similarity`), leaving only the
    * hyperplane hashing to AnnSpec's recall gate. Deduplication is a
    * collision-count aggregate (same shuffle as a distinct) feeding
    * the bounded per-probe cap — see [[DefaultMaxLshCandidates]]. */
  def lshCandidates(
      df: DataFrame, id: Column, vec: Column, probes: DataFrame,
      dim: Int, tables: Int = 8, bits: Int = 8, seed: Long = 7L,
      maxCandidatesPerProbe: Int = DefaultMaxLshCandidates): DataFrame = {
    require(maxCandidatesPerProbe > 0 && maxCandidatesPerProbe <= (1 << 20),
      s"maxCandidatesPerProbe must be in (0, 2^20], got $maxCandidatesPerProbe" +
        " (the cap is TopKByScore per-group state — see its k bound)")
    val coll = lshCandJoin(df, id, vec, probes, dim, tables, bits, seed)
      .groupBy("probe_id", "neighbor_id")
      .agg(count(lit(1)).cast("double").as("sim")) // collision count = LSH proximity proxy
    topKPerProbe(coll, maxCandidatesPerProbe).select("probe_id", "neighbor_id")
  }
}
