package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for training-data pipelines
  * (SURVEY §2.5 L16).
  *
  * Why not `df.sample(fraction, seed)`: Spark's native sampler draws
  * from a per-partition RNG stream, so the selected ROWS change
  * whenever the partitioning changes — a repartition, a different file
  * split, AQE coalescing, or simply re-reading the same data at a
  * different parallelism yields a different sample. At 100 TB a
  * pipeline is re-run, re-partitioned and resumed constantly; a sample
  * that silently drifts between runs is not reproducible science.
  *
  * Here the keep/drop decision is a pure function of a user-chosen key
  * (plus a seed): keep iff the first 8 hex chars of
  * `md5(key || ':' || seed)` — a uniform 32-bit draw — fall below
  * `rate · 2³²`. Properties:
  *
  *  - **Partition-independent**: same key + seed + rate → same decision
  *    on any cluster layout, any engine (the predicate is plain ANSI
  *    SQL — the DuckDB oracle runs the identical expression).
  *  - **Narrow**: a pure filter — no shuffle, no state, fully
  *    codegen'd; composes with pushdown on other predicates.
  *  - **Consistent across tables**: sampling two tables by the same
  *    join key with the same seed keeps ALIGNED subsets, so joins of
  *    samples are samples of the join (the classic hash-sampling
  *    coordination trick).
  *  - **Same-seed nesting composes by MIN, not by product**: a rate-r2
  *    sample of a rate-r1 sample with the SAME seed equals a
  *    rate-min(r1, r2) sample — each key has ONE draw per seed, so the
  *    tighter threshold selects a subset of the looser one (this is
  *    what makes re-sampling a sample safe: it can only shrink it
  *    deterministically). For multiplicative composition (an
  *    independent r1·r2 thinning), use DIFFERENT seeds — different
  *    seeds give independent draws.
  *
  * The 32-bit threshold comparison is done on the HEX STRING (8
  * fixed-width lowercase chars compare lexicographically exactly like
  * the number) so the expression needs no engine-specific hex-to-int
  * conversion and stays bit-identical across engines.
  */
object Sampling {

  /** `floor(rate · 2³²)` as 8 lowercase hex chars — the string a key's
    * hash prefix must stay below to be kept. Exposed so oracles/tests
    * can embed the identical literal. */
  def thresholdHex(rate: Double): String = {
    require(rate > 0.0 && rate < 1.0, s"threshold only defined for rate in (0,1), got $rate")
    "%08x".format((rate * 4294967296.0).toLong)
  }

  /** The 8-hex-char uniform draw for `key` under `seed`.
    * SQL mirror: substr(md5(key::VARCHAR || ':<seed>'), 1, 8) */
  def hashDraw(key: Column, seed: Int): Column =
    substring(md5(concat(key.cast("string"), lit(":" + seed)).cast("binary")), 1, 8)

  /** Boolean keep-predicate for a flat rate. */
  def keepPredicate(key: Column, rate: Double, seed: Int): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    if (rate <= 0.0) lit(false)
    else if (rate >= 1.0) lit(true)
    else hashDraw(key, seed) < lit(thresholdHex(rate))
  }

  /** Deterministic Bernoulli(rate) sample keyed on `key`. Rows with a
    * NULL key are dropped (their draw is NULL, and NULL never passes a
    * filter) — the convention every sampler here shares. */
  def sampleHash(df: DataFrame, key: Column, rate: Double, seed: Int = 0): DataFrame =
    df.where(keepPredicate(key, rate, seed))

  /** Per-ROW deterministic Bernoulli(rateᵢ) — importance resampling
    * (the DSIR-shaped step: keep probability proportional to a per-doc
    * score/weight, e.g. quality or domain-match). Same draw as
    * [[sampleHash]] but the threshold is COMPUTED per row from `rate`
    * (clamped to [0,1]; NULL rates drop the row): still a pure narrow
    * codegen'd filter — no shuffle, no join, reproducible under any
    * partitioning, and same-seed draws nest with [[sampleHash]] by the
    * threshold-MIN law. Cross-engine exact: the threshold is
    * `floor(rate·2³²)` (explicit floor — engines disagree on
    * double→int CAST rounding) rendered as 8 lowercase hex chars, the
    * same fixed-width lexicographic compare as every L16 member.
    * SQL mirror: substr(md5(key::VARCHAR || ':<seed>'), 1, 8) <
    * lower(lpad(hex(CAST(floor(r*4294967296.0) AS BIGINT)), 8, '0'))
    * OR r >= 1.0. */
  def sampleImportance(df: DataFrame, key: Column, rate: Column, seed: Int = 0): DataFrame = {
    val r = least(lit(1.0), greatest(lit(0.0), rate))
    val thr = lower(lpad(hex(floor(r * 4294967296.0).cast("long")), 8, "0"))
    df.where(r >= 1.0 || hashDraw(key, seed) < thr)
  }

  /** Stratified deterministic sample: per-stratum rates (data-mixture
    * weighting — e.g. keep 80% of high-quality English, 10% of the
    * rest), strata not listed fall back to `defaultRate`. One CASE
    * expression — still a pure narrow filter, no join, no shuffle. */
  def sampleStratified(
      df: DataFrame, key: Column, strata: Column,
      rates: Map[String, Double], defaultRate: Double, seed: Int = 0): DataFrame = {
    val draw = hashDraw(key, seed)
    def keep(rate: Double): Column = {
      require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
      if (rate <= 0.0) lit(false)
      else if (rate >= 1.0) lit(true)
      else draw < lit(thresholdHex(rate))
    }
    val pred = rates.toSeq.sortBy(_._1).foldRight(keep(defaultRate)) {
      case ((stratum, rate), elseCol) => when(strata === lit(stratum), keep(rate)).otherwise(elseCol)
    }
    df.where(pred)
  }

  /** Deterministic dataset split — train/val/test assignment as a pure
    * function of the key: the [0,1) hash draw is cut at the cumulative
    * weight boundaries, in the given order. Returns the frame plus a
    * split-label column. The classic leakage guard: a doc keeps its
    * split across re-runs, re-partitions and corpus growth, so
    * yesterday's test doc can never drift into today's train set.
    * Weights must be positive and sum to ≤ 1 (any remainder falls into
    * the LAST split, keeping the expression total). One narrow
    * codegen'd CASE — no shuffle. */
  def withSplit(
      df: DataFrame, key: Column, out: String,
      splits: Seq[(String, Double)], seed: Int = 0): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 > 0.0), s"split weights must be positive: $splits")
    val total = splits.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"split weights must sum to <= 1, got $total")
    val draw = hashDraw(key, seed)
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail // cumulative upper bounds
    val chain = splits.init.zip(cuts.init).foldRight(lit(splits.last._1)) {
      case (((name, _), cut), elseCol) =>
        when(draw < lit(thresholdHex(cut)), name).otherwise(elseCol)
    }
    // a NULL key must yield a NULL split, not silently fall through the
    // CASE into the last label (all null-key docs landing in 'test'
    // would be a leakage trap, not a default)
    df.withColumn(out, when(key.isNotNull, chain))
  }

  /** [[withSplit]] with the NEAR-DUPLICATE leakage guard: hashing the
    * doc id alone still lets two near-copies land on opposite sides of
    * the train/test cut — exactly the contamination Lee et al. 2022
    * (arXiv:2107.06499 §6.2) measure between dedup'd corpora and their
    * eval splits. Here every duplicate-cluster member splits by its
    * CLUSTER id (the min member id from [[Dedup.duplicateClusters]]),
    * so a whole near-dup family lands on ONE side; docs absent from
    * `clusters` are singletons and split by their own id — which is
    * the same hash domain, so singleton assignments are IDENTICAL to
    * plain [[withSplit]] and adding clusters later only moves docs
    * that gained duplicates. NULL ids still yield NULL splits.
    *
    * Scale shape: one equi-join against the cluster map (only
    * duplicated docs appear in it — the small side; AQE broadcasts it
    * when it fits) + the same narrow codegen'd CASE; nothing else
    * shuffles. `clusters` must be `(id, cluster_id)` with unique ids
    * (the [[Dedup.duplicateClusters]] contract). */
  def withSplitLeakageSafe(
      df: DataFrame, id: Column, clusters: DataFrame, out: String,
      splits: Seq[(String, Double)], seed: Int = 0): DataFrame = {
    val c = clusters.toDF("_graft_cl_id", "_graft_cl_cid")
    withSplit(
      df.join(c, id === col("_graft_cl_id"), "left"),
      coalesce(col("_graft_cl_cid"), id), out, splits, seed)
      .drop("_graft_cl_id", "_graft_cl_cid")
  }

  /** Exactly `min(n, |stratum|)` rows per stratum — the FIXED-BUDGET
    * mixture sampler ("2M docs per language"), complementing the
    * rate-based [[sampleStratified]]. Selection order is the same
    * deterministic draw (ties broken by key), so the result is again a
    * pure function of (key, strata, n, seed): growing a stratum only
    * displaces its highest-draw survivors, and two runs on different
    * partitionings agree row-for-row.
    *
    * Scale shape: `row_number ≤ n` over (stratum, draw) — Spark's
    * WindowGroupLimit rewrite inserts a PARTIAL group-limit before the
    * shuffle, so each map task forwards at most n rows per stratum and
    * a billion-row stratum never funnels through one sort
    * (plan-asserted in PlanAuditSpec). Keys must be unique (module
    * convention) for the total order. */
  def sampleExactPerStratum(
      df: DataFrame, key: Column, strata: Column, n: Int, seed: Int = 0): DataFrame = {
    require(n >= 0, s"n must be non-negative, got $n")
    if (n == 0) return df.where(lit(false))
    // null keys are excluded up front (the same fate sampleHash gives
    // them): their null draw would otherwise sort FIRST under Spark's
    // nulls-first ascending default and silently eat the budget
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata).orderBy(hashDraw(key, seed), key)
    df.where(key.isNotNull)
      .withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") <= n)
      .drop("_graft_rn")
  }

  /** The top `n` rows per group by an explicit quality order — the
    * "best k docs per domain/language" mixture selector, the
    * score-ordered sibling of [[sampleExactPerStratum]]'s hash draw
    * (that one samples REPRESENTATIVELY; this one keeps the BEST).
    * Ordered by `score` DESCENDING, ties broken by `key` ascending so
    * selection is a deterministic total order. NULL scores sort LAST —
    * an unscored row never displaces a scored one, and fills a group's
    * budget only after every scored member; NULL keys are excluded
    * (module convention — a null tie-break would make displacement
    * nondeterministic).
    *
    * Scale shape: identical to [[sampleExactPerStratum]] — `row_number
    * ≤ n` over (group, score desc) rewrites to a PARTIAL
    * WindowGroupLimit, so each map task forwards at most n rows per
    * group and a billion-row group never funnels through one sort
    * (plan-asserted in PlanAuditSpec). For a TOKEN budget per group
    * rather than a row count, use [[Pack.selectByBudgetPerGroup]]. */
  def topKPerGroup(
      df: DataFrame, key: Column, group: Column, score: Column, n: Int): DataFrame = {
    require(n >= 0, s"n must be non-negative, got $n")
    if (n == 0) return df.where(lit(false))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(score.desc_nulls_last, key)
    df.where(key.isNotNull)
      .withColumn("_graft_rn", row_number().over(w))
      .where(col("_graft_rn") <= n)
      .drop("_graft_rn")
  }

  /** Cluster-balanced DIVERSITY sample over an embedding column — keep
    * (up to) `nPerCluster` vectors from each k-means cell of an
    * [[graft.operators.Ann.trainIvf]]-trained quantizer, drawn by the
    * same deterministic hash draw as [[sampleExactPerStratum]]. A flat
    * hash sample keeps the corpus' MODE (dense regions dominate by
    * mass); sampling per cluster caps every semantic region at the
    * same count, which is the standard embedding-space diversity
    * pruning shape from the public data-curation literature (Sorscher
    * et al. 2022, arXiv:2206.14486 — prototype-based pruning over
    * k-means cells; SemDeDup's clustering reused for selection instead
    * of dedup). Returns `(id, cid)` — the kept keys with their cluster,
    * join back by id for full rows (the [[graft.operators.Dedup]]
    * keep-list convention).
    *
    * Determinism: training is seed-fixed, assignment is a pure function
    * of (vector, centroids), and the draw is the md5 hash order — the
    * result is a pure function of the input multiset, independent of
    * partitioning (the L16 module contract). Vectors with no usable
    * cell (all-NaN/empty — assignment NULL) are dropped, matching
    * [[graft.operators.Ann.assignClusters]].
    *
    * Scale shape: assignment is ONE codegen'd pass with the centroid
    * table a per-executor reference object (no join); the per-cell draw
    * is `row_number ≤ n` over (cid, draw) which plans a PARTIAL
    * WindowGroupLimit — map tasks forward ≤ n rows per cell, so a
    * billion-vector cell never funnels through one sort. At 100 TB size
    * nClusters ≈ corpus/targetCellSize exactly as for SemDeDup. */
  def sampleDiverseByCluster(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      nPerCluster: Int, seed: Int = 0): DataFrame = {
    require(nPerCluster >= 0, s"nPerCluster must be non-negative, got $nPerCluster")
    val assigned = Ann.assignClusters(unit, df, id, vec)
    sampleExactPerStratum(assigned, col("id"), col("cid"), nPerCluster, seed)
  }

  /** Per-group keep rates for TEMPERATURE-based mixture resampling —
    * the standard recipe for rebalancing a multi-source/multi-language
    * corpus (Arivazhagan et al. 2019, arXiv:1907.05019 §4; XLM-R,
    * Conneau et al. 2020, arXiv:1911.02116, α∈[0.3,0.7]; mC4/T5): a
    * group's sampling mass is `n_s^α` normalized over groups, so α=1
    * keeps natural proportions, α=0 equalizes groups, and intermediate
    * α up-weights the tail without drowning the head. The rate for
    * group s targets `targetCount · p_s` kept rows: `min(1, T·p_s/n_s)`.
    *
    * Cross-engine determinism (the oracle contract): the weight is
    * QUANTIZED to an exact integer `q_s = round(n_s^α · 1e6)` so the
    * normalizing denominator is an order-free BIGINT sum, and the rate
    * is the fixed IEEE sequence `T.toDouble · q_s / Σq / n_s` — every
    * engine computes the identical double. For α = 0.5 the power is
    * `sqrt` (correctly rounded by IEEE 754 everywhere, so q_s is
    * bit-exact across engines); 0 and 1 are likewise exact. Other α
    * use `pow`, correct to ~1 ulp on common libms — a q_s boundary
    * flip is possible in principle (documented, like centsSum's
    * quantization in SparkEntry); gates pin α=0.5. */
  def temperatureRates(
      counts: Map[String, Long], alpha: Double, targetCount: Long): Map[String, Double] = {
    require(alpha >= 0.0, s"alpha must be non-negative, got $alpha")
    require(targetCount >= 0, s"targetCount must be non-negative, got $targetCount")
    require(counts.values.forall(_ > 0), s"group counts must be positive: $counts")
    def weight(n: Long): Long = {
      val w =
        if (alpha == 0.5) Math.sqrt(n.toDouble)
        else if (alpha == 1.0) n.toDouble
        else if (alpha == 0.0) 1.0
        else Math.pow(n.toDouble, alpha)
      Math.round(w * 1000000.0)
    }
    val q = counts.map { case (g, n) => g -> weight(n) }
    val denom = q.values.sum
    counts.map { case (g, n) =>
      g -> math.min(1.0, targetCount.toDouble * q(g) / denom / n)
    }
  }

  /** Deterministic temperature resample: measure group sizes (ONE
    * mixture-sized aggregate — |groups| rows to the driver, the same
    * bounded-collect contract as [[Pack.selectByBudgetPerGroup]]'s
    * budgets), derive [[temperatureRates]], and apply them as the
    * [[sampleStratified]] CASE — a pure narrow codegen'd filter, so
    * the data-sized pass never shuffles. Rows with a NULL group are
    * dropped (no rate can be derived — module convention for NULL
    * keys). Expected kept rows ≈ `targetCount` (Bernoulli, so ±√n
    * noise per group; for exact per-group counts compose
    * [[sampleExactPerStratum]] with driver-computed budgets). */
  def sampleTemperature(
      df: DataFrame, key: Column, group: Column, alpha: Double,
      targetCount: Long, seed: Int = 0): DataFrame = {
    val g = group.cast("string")
    val counts = df.where(g.isNotNull).groupBy(g.as("g")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return df.where(lit(false))
    val rates = temperatureRates(counts, alpha, targetCount)
    sampleStratified(df.where(g.isNotNull), key, g, rates, defaultRate = 0.0, seed)
  }

  /** Deterministic TRAINING-ORDER shuffle assignment — the "globally
    * shuffle the corpus before training" step every pipeline runs after
    * curation: each row gets a `shard` (its output file) and a `draw`
    * (its rank key within the shard), both pure functions of
    * (key, seed). Curated corpora arrive ordered by source/time/dedup
    * cluster — exactly the correlations training must not see in
    * sequence; hashing gives every epoch-0 data loader the same
    * pseudo-random order on every re-run, resume, or re-partitioning
    * (`df.orderBy(rand)` is none of those). shard = the md5 32-bit draw
    * mod `nShards`; within-shard order = (draw, key). NULL keys are
    * dropped (module convention — they cannot place deterministically).
    *
    * Scale shape: the assignment is one narrow codegen'd projection (no
    * shuffle at all); materializing the order is ONE hash exchange on
    * `shard` + a per-shard sort — the sort each shard writer does
    * anyway — never a global single-partition ORDER BY. [[shuffled]]
    * returns that materialized form directly. */
  def shuffleShards(
      df: DataFrame, key: Column, nShards: Int, seed: Int = 0): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    df.where(key.isNotNull)
      .withColumn("draw", hashDraw(key, seed))
      // the draw is 8 hex chars (< 2^32): conv to its non-negative value
      .withColumn("shard", conv(col("draw"), 16, 10).cast("long") % nShards)
  }

  /** Deterministic weighted source INTERLEAVING (L49) — the data-loader
    * mixing schedule: given per-source weights, emit a global order in
    * which every prefix carries each source in proportion to its
    * weight (stride scheduling — source g's k-th row lands at time
    * `(k − 0.5) / w_g`, the classic weighted-fair-queueing virtual
    * time). This is the ORDER-level twin of the mixture SIZE knobs
    * (temperature rates, per-group budgets): after choosing how much
    * of each source to train on, the loader still needs sources
    * interleaved smoothly rather than concatenated — a curriculum
    * accident otherwise.
    *
    * Determinism: within-source order is the L27 md5 draw of `key`
    * (ties by key — KEYS MUST BE UNIQUE, the module convention), so
    * the schedule is a pure function of (key, group, seed) — stable
    * under re-runs, resumes, and any partitioning. Rows of groups
    * absent from `weights` DROP (the module's mixture contract); NULL
    * keys drop. Returns the input plus `mix_order` (double) —
    * materialize with a range exchange + per-task sort on it (the
    * [[shuffled]] shape), never a global single-task ORDER BY.
    * TIE-BREAK: whenever two sources share a weight (and for any
    * rational weight ratio) distinct rows land on the SAME mix_order
    * by construction — `(k−0.5)/w` collides across sources — so a
    * sort on mix_order alone is not a total order. Consumers that
    * need a fully deterministic sequence MUST sort by
    * `(mix_order, group, key)`; the appended column is the schedule
    * TIME, not a unique sequence number.
    *
    * Scale: the per-source rank is computed with the two-phase
    * distributed rank ([[Pack.selectByBudget]]'s shape), NOT a
    * per-source `row_number` window — a window keyed on the source
    * caps parallelism at |sources| tasks, which at 100 TB would
    * stream the whole corpus through a handful of WindowExec sorts.
    * Here: (1) a NARROW (group, draw, key) projection is
    * range-partitioned on exactly that triple (each group's rows form
    * contiguous partition runs), sorted in-partition, and pinned with
    * `localCheckpoint` so both passes see one frozen layout (bytes
    * per row, not the corpus — the full rows never materialize);
    * (2) per-(partition, group) counts — a bounded
    * partitions×|sources| collect, like Pack's offsets — become
    * driver-computed exclusive prefix offsets; (3) the rank is the
    * narrow codegen'd `in-partition position + offset` (positions
    * from `monotonically_increasing_id`, assigned in the frozen sort
    * order), the offsets joined back as a BROADCAST of the tiny
    * addend table; (4) the `(r − 0.5) / w` IEEE chain both engines
    * reproduce bit-for-bit, then ONE equi-join on the unique key
    * re-attaches the full rows (corpus-wide shuffle — the same single
    * wide exchange the window version spent, now at full
    * parallelism). EAGER: runs the checkpoint + counts jobs at call
    * time; consume before releasing executor storage (the
    * [[Pack.selectByBudget]] contract). */
  def interleaveByWeight(
      df: DataFrame, key: Column, group: Column,
      weights: Map[String, Double], seed: Int = 0): DataFrame = {
    require(weights.nonEmpty, "interleaveByWeight needs at least one weighted group")
    require(weights.values.forall(_ > 0.0), s"weights must be positive: $weights")
    val spark = df.sparkSession
    val filtered = df.where(key.isNotNull && group.isin(weights.keys.toSeq: _*))
    // Phase 1: frozen narrow global order. monotonically_increasing_id
    // encodes (partitionId << 33 | position), assigned in the
    // in-partition sort order and FROZEN by the checkpoint, so
    // position-within-partition is (mid − min mid of the group's run).
    val sorted = graft.InternalCaches.checkpoint(filtered
      .select(group.cast("string").as("_graft_g"),
        hashDraw(key, seed).as("_graft_d"), key.as("_graft_k"))
      .repartitionByRange(col("_graft_g"), col("_graft_d"), col("_graft_k"))
      .sortWithinPartitions("_graft_g", "_graft_d", "_graft_k")
      .select(col("_graft_g"), col("_graft_k"),
        spark_partition_id().as("_graft_p"),
        monotonically_increasing_id().as("_graft_mid")))
    // Phase 2: bounded counts → exclusive per-group prefix offsets.
    // addend(p, g) = (rows of g in earlier partitions) + 1 − first mid
    // of g's run in p, so rank = mid + addend in one narrow add.
    val counts = sorted.groupBy("_graft_p", "_graft_g")
      .agg(count(lit(1)).as("_n"), min("_graft_mid").as("_first"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val starts = Pack.exclusiveOffsets(counts.toSeq.map { case (p, g, n, _) => (p, g, n) })
    val addRows = counts.toSeq.zip(starts).map { case ((p, g, _, first), start) =>
      (p, g, start + 1L - first)
    }
    import spark.implicits._
    val addTable = addRows.toDF("_graft_p", "_graft_g", "_graft_add")
    // Phase 3: narrow rank + the fixed (r − 0.5)/w stride chain.
    val w = weights.tail.foldLeft(
      when(col("_graft_g") === weights.head._1, lit(weights.head._2))) {
      case (acc, (g, wt)) => acc.when(col("_graft_g") === g, lit(wt))
    }
    val mixed = sorted
      .join(broadcast(addTable), Seq("_graft_p", "_graft_g"))
      .select(col("_graft_k"),
        (((col("_graft_mid") + col("_graft_add")).cast("double") - 0.5) / w)
          .as("mix_order"))
    // Phase 4: one wide equi-join re-attaches the full rows.
    filtered.join(mixed.withColumnRenamed("_graft_k", "_graft_jk"),
        key === col("_graft_jk"))
      .drop("_graft_jk")
  }

  /** [[shuffleShards]] materialized into the actual training order:
    * hash-partitioned on `shard` (a task may carry several whole
    * shards — hash placement, not identity) and sorted by
    * (shard, draw, key) within each task, so a
    * `write.partitionBy("shard")` emits per-shard files whose row order
    * IS the shuffle order. */
  def shuffled(
      df: DataFrame, key: Column, nShards: Int, seed: Int = 0): DataFrame =
    shuffleShards(df, key, nShards, seed)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("draw"), key)
}
