package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based corpus audit statistics (SURVEY §2.5 L18): approximate
  * distinct counts and cross-corpus overlap via Spark's built-in
  * Apache DataSketches HLL aggregates.
  *
  * The question "how much of corpus B is already in corpus A" is an
  * everyday audit at training-data scale (did this crawl re-ingest
  * last month's? does the new source overlap the eval set's domain?),
  * and the exact answer — a distinct join of two 100 TB key sets — is
  * the most expensive query in the book. Sketches answer it with ONE
  * streaming pass and kilobytes of state: HLL sketches merge
  * map-side (the shuffle carries sketch bytes, not keys), and
  * |A ∩ B| = |A| + |B| − |A ∪ B| by inclusion-exclusion over three
  * estimates. Relative error ≈ 1.04/√2^lgK per estimate (~0.8% at the
  * default lgK=14) — the spec gates the end-to-end tolerance.
  *
  * Not oracle-gated: DuckDB's approx_count_distinct uses a different
  * sketch, so cross-engine results agree only within tolerance, and
  * the driver's gate is exact-hash. SketchSpec pins estimates against
  * exact counts instead. For exact overlap, [[overlapExact]] is the
  * honest tool — it IS oracle-gated (`overlap_exact`), and SketchSpec
  * additionally pins the estimate within tolerance of it on the gate
  * shape.
  */
object Sketch {

  /** Exact twin of [[overlapEstimate]] — identical one-row output
    * schema `(n_a, n_b, n_union, n_overlap)`, exact counts. The cost
    * the sketch avoids, paid honestly: group the tagged union by key
    * (ONE shuffle whose payload is the distinct keys — map-side
    * combine collapses duplicates before the exchange, and per-side
    * membership is two max-flags, not a join), then one global
    * partial-merge agg over the distinct-key frame. No join, no
    * second pass. NULL keys are ignored on both sides, matching the
    * sketch (HLL aggregates skip null inputs). At 100 TB prefer the
    * sketch unless the answer feeds an exact billing/dedup decision:
    * shuffling every distinct key once is the floor for exactness. */
  def overlapExact(
      a: DataFrame, keyA: Column, b: DataFrame, keyB: Column): DataFrame = {
    val tagged = a.select(keyA.cast("string").as("_k")).withColumn("_sa", lit(true))
      .unionAll(b.select(keyB.cast("string").as("_k")).withColumn("_sa", lit(false)))
    tagged
      .where(col("_k").isNotNull)
      .groupBy("_k")
      .agg(
        max(when(col("_sa"), 1L).otherwise(0L)).as("_ina"),
        max(when(!col("_sa"), 1L).otherwise(0L)).as("_inb"))
      .agg(
        coalesce(sum(col("_ina")), lit(0L)).as("n_a"),
        coalesce(sum(col("_inb")), lit(0L)).as("n_b"),
        count(lit(1)).as("n_union"),
        coalesce(sum(col("_ina") * col("_inb")), lit(0L)).as("n_overlap"))
  }

  /** One-row frame `(n_a, n_b, n_union, n_overlap)` — estimated
    * distinct key counts of each side, their union, and (by
    * inclusion-exclusion, clamped at 0) the overlap. ONE pass over the
    * tagged union of both key sets: all three sketches build in a
    * single partial-merge aggregate, so neither key set is ever
    * shuffled or joined. */
  def overlapEstimate(
      a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
      lgK: Int = 14): DataFrame = {
    val tagged = a.select(keyA.cast("string").as("_k")).withColumn("_sa", lit(true))
      .unionAll(b.select(keyB.cast("string").as("_k")).withColumn("_sa", lit(false)))
    tagged
      .agg(
        hll_sketch_agg(when(col("_sa"), col("_k")), lgK).as("_ska"),
        hll_sketch_agg(when(!col("_sa"), col("_k")), lgK).as("_skb"),
        hll_sketch_agg(col("_k"), lgK).as("_sku"))
      .select(
        coalesce(hll_sketch_estimate(col("_ska")), lit(0L)).as("n_a"),
        coalesce(hll_sketch_estimate(col("_skb")), lit(0L)).as("n_b"),
        coalesce(hll_sketch_estimate(col("_sku")), lit(0L)).as("n_union"))
      .withColumn("n_overlap", greatest(lit(0L), col("n_a") + col("n_b") - col("n_union")))
  }

  /** Pairwise n-gram overlap MATRIX across source groups — the N-way
    * generalization of [[overlapExact]] for the "which of my sources
    * re-ingest each other" audit (crawl snapshots, site mirrors,
    * dataset families): for every unordered pair of groups, the count
    * of distinct k-token windows they share and the resulting window
    * Jaccard. Output `(group_a, group_b, n_a, n_b, n_shared, jaccard)`
    * with group_a < group_b, COMPLETE over all group pairs —
    * zero-overlap pairs appear with n_shared = 0 (absence of evidence
    * printed, not implied). NULL groups and NULL texts are skipped.
    *
    * Scale shape: one scan shingles each doc and distincts (group,
    * 64-bit window fp) — map-side combine collapses within-group
    * repeats before the ONE data-sized shuffle, whose payload is
    * (fp, group) pairs, never window text. Per-fp group sets then
    * expand to strictly-ordered pairs IN PLACE (an array transform over
    * collect_set, bounded by the group count) — no fp self-join, so the
    * matrix costs one shuffle + one tiny pair aggregation. Intended for
    * mixture-sized group counts (sources/domains/languages, not
    * high-cardinality keys): per-fp state is one array ≤ |groups| and
    * the final aggregate is ≤ C(|groups|, 2) rows. Same 64-bit
    * collision floor as [[graft.operators.Dedup.spanDupStats]]. */
  def sourceOverlapMatrix(
      df: DataFrame, group: Column, text: Column, k: Int = 8): DataFrame = {
    val g = df
      .select(group.cast("string").as("_grp"),
        explode(graft.functions.TextFns.shingles(text, k)).as("_gram"))
      .where(col("_grp").isNotNull)
      .select(col("_grp"), xxhash64(col("_gram")).as("_fp"))
      .distinct()
    val sizes = g.groupBy("_grp").agg(count(lit(1)).as("_n"))
    val shared = g
      .groupBy("_fp").agg(sort_array(collect_set(col("_grp"))).as("_gs"))
      .where(size(col("_gs")) >= 2)
      .select(explode(expr(
        "flatten(transform(_gs, (a, i) -> " +
          "transform(slice(_gs, i + 2, size(_gs)), b -> struct(a AS ga, b AS gb))))"))
        .as("_p"))
      .groupBy(col("_p.ga").as("group_a"), col("_p.gb").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
    // complete matrix scaffold: every unordered pair of OBSERVED groups
    // (sizes is |groups| rows — broadcast on both sides of the tiny cross)
    val a = sizes.select(col("_grp").as("group_a"), col("_n").as("n_a"))
    val b = sizes.select(col("_grp").as("group_b"), col("_n").as("n_b"))
    broadcast(a).crossJoin(broadcast(b))
      .where(col("group_a") < col("group_b"))
      .join(broadcast(shared), Seq("group_a", "group_b"), "left")
      .na.fill(0L, Seq("n_shared"))
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")))
      .select("group_a", "group_b", "n_a", "n_b", "n_shared", "jaccard")
  }

  // ------------------------------------------------- persisted sketches
  // The compute-once/roll-up-forever pattern (L18b): fine-grain THETA
  // sketches are built in ONE pass over the data and persisted as a
  // binary column; every coarser-grain distinct count, union, overlap,
  // or difference afterwards is algebra over the kilobyte sketches —
  // the 100 TB corpus is never rescanned. Theta (not HLL) because the
  // question catalog includes intersections/differences, which HLL
  // cannot answer; Spark's built-in Apache DataSketches theta
  // aggregates are order-independent (KMV keeps the k smallest
  // hashes), so sketches and estimates are deterministic under any
  // partitioning. Estimates carry the usual ~1/√k relative error —
  // spec-gated against exact counts (same contract as
  // [[overlapEstimate]]; not driver-gated, DuckDB has no twin).

  /** One pass, one sketch per group: `(groups…, sketch, n_distinct_est)`.
    * `sketch` is the compact serialized theta sketch — persist it next
    * to the partition's other stats; everything below consumes it.
    * NULL keys are skipped (DataSketches convention). */
  def distinctSketches(
      df: DataFrame, groups: Seq[String], key: Column,
      lgNomEntries: Int = 12): DataFrame = {
    require(groups.nonEmpty, "distinctSketches needs at least one group column")
    df.groupBy(groups.map(col): _*)
      .agg(theta_sketch_agg(key.cast("string"), lit(lgNomEntries)).as("sketch"))
      .withColumn("n_distinct_est", theta_sketch_estimate(col("sketch")))
  }

  /** Roll persisted sketches up to a coarser grain WITHOUT rescanning
    * data: union-merge per remaining group columns (empty `groups` =
    * the global total, one row). Input is [[distinctSketches]] output
    * (or any frame with a theta `sketch` column). */
  def rollupDistinct(sketches: DataFrame, groups: Seq[String]): DataFrame = {
    val merged =
      if (groups.isEmpty) sketches.agg(theta_union_agg(col("sketch")).as("sketch"))
      else sketches.groupBy(groups.map(col): _*)
        .agg(theta_union_agg(col("sketch")).as("sketch"))
    merged.withColumn("n_distinct_est", theta_sketch_estimate(col("sketch")))
  }

  /** On-disk sketch catalog — the compute-once contract as a durable
    * artifact (the [[graft.operators.Dedup.writeMinHashIndex]] shape):
    * `sketches/` holds [[distinctSketches]] output parquet, `params/`
    * one row `(lg_nom_entries, groups)` written LAST as the commit
    * marker. `mode = "append"` adds a new batch's per-group sketches
    * after a fail-fast params check — theta sketches at different
    * lgNomEntries (or a different grain) union into silently WRONG
    * estimates, so a mismatch throws instead. Duplicate groups across
    * appends are the POINT: consumers [[rollupDistinct]] over the
    * catalog, and theta union is associative/idempotent-free-merge, so
    * rollup-over-appended-batches ≡ the one-shot sketch of everything
    * (pinned exactly in SketchSpec). A crash between the data write
    * and the params write of the initial creation leaves a
    * params-less directory that [[readSketches]] refuses to read. */
  def writeSketches(
      df: DataFrame, groups: Seq[String], key: Column, path: String,
      lgNomEntries: Int = 12, mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    // commit protocol shared via graft.Catalog (marker-last, append
    // fail-fasts, stale-marker drop on re-creation)
    graft.Catalog.write(spark, path, mode,
      readSketchParams(spark, path), Seq("sketches"), "sketch catalog") {
      case (lg, gs) =>
        require(lg == lgNomEntries && gs == groups,
          s"sketch catalog at $path has (lgNomEntries, groups)=($lg, $gs); " +
            s"refusing to append with ($lgNomEntries, $groups) — mixed-param theta " +
            "unions estimate wrong, never loudly")
    } {
      distinctSketches(df, groups, key, lgNomEntries)
        .write.mode(mode).parquet(s"$path/sketches")
    } {
      import spark.implicits._
      Seq((lgNomEntries, groups)).toDF("lg_nom_entries", "groups")
        .repartition(1).write.mode("overwrite").parquet(s"$path/params")
    }
  }

  /** Catalog params `(lgNomEntries, groups)`, None if no catalog at
    * `path`. Read by name (column-order-proof). */
  def readSketchParams(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[(Int, Seq[String])] =
    graft.Catalog.readParams(spark, path)(r =>
      (r.getAs[Int]("lg_nom_entries"), r.getSeq[String](r.fieldIndex("groups"))))

  /** Lazy scan of a catalog written by [[writeSketches]] — feed it to
    * [[rollupDistinct]] / [[sketchOverlapMatrix]]; appended batches'
    * duplicate groups merge in the rollup. Fails fast on a catalog
    * with no commit marker (half-written — see [[writeSketches]]). */
  def readSketches(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    require(readSketchParams(spark, path).isDefined,
      s"no committed sketch catalog at $path (params/ missing)")
    graft.Parquet.read(spark, s"$path/sketches")
  }

  /** Pairwise overlap matrix from PERSISTED sketches — the
    * [[sourceOverlapMatrix]] audit without its data pass: every
    * unordered pair of rows in `sketches` (keyed by `group`), with
    * native theta intersection (no inclusion-exclusion error
    * stacking). |groups| is mixture-sized by contract, so the
    * pair expansion is a broadcast cross of kilobyte rows. Returns
    * `(group_a, group_b, n_a_est, n_b_est, n_shared_est, jaccard_est)`. */
  def sketchOverlapMatrix(sketches: DataFrame, group: String): DataFrame = {
    val a = sketches.select(col(group).cast("string").as("group_a"),
      col("sketch").as("_ska"))
    val b = sketches.select(col(group).cast("string").as("group_b"),
      col("sketch").as("_skb"))
    broadcast(a).crossJoin(broadcast(b))
      .where(col("group_a") < col("group_b"))
      .withColumn("n_a_est", theta_sketch_estimate(col("_ska")))
      .withColumn("n_b_est", theta_sketch_estimate(col("_skb")))
      .withColumn("n_shared_est",
        theta_sketch_estimate(theta_intersection(col("_ska"), col("_skb"))))
      .withColumn("jaccard_est", col("n_shared_est").cast("double") /
        (col("n_a_est") + col("n_b_est") - col("n_shared_est")))
      .select("group_a", "group_b", "n_a_est", "n_b_est", "n_shared_est", "jaccard_est")
  }

  // ---------------------------------------------------------------- L44
  // Per-slice heavy hitters — "the most frequent tokens / domains per
  // language / source" (boilerplate shows up as an item whose count is
  // wildly off its slice's Zipf line). EXACT counting is the right
  // Spark shape: the count aggregate combines map-side, so the shuffle
  // carries each task's DISTINCT (group, item) partials — occurrence
  // volume never crosses the wire — and the k-cut never materializes
  // a global sort. The GLOBAL variant is [[Profile.topValues]] (its
  // TakeOrdered sends k rows per task to the driver merge); a sketch
  // variant (count-min + candidate stream) only wins when per-task
  // distinct items outgrow executor memory — restrict the stream with
  // [[Sampling.sampleHash]] first in that regime (documented, not a
  // separate code path).

  /** Per-group top-`k` items (top tokens per language, top domains per
    * source): count once, then the [[Sampling.topKPerGroup]]
    * (cnt desc, item asc) cut — the PARTIAL WindowGroupLimit prunes to
    * ≤ k rows per group map-side before the one exchange. NULL items
    * and NULL groups are skipped. Returns `(grp, item, cnt)`. */
  def topItemsPerGroup(
      df: DataFrame, group: Column, item: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = df.where(item.isNotNull && group.isNotNull)
      .groupBy(group.as("grp"), item.as("item"))
      .agg(count(lit(1)).as("cnt"))
    Sampling.topKPerGroup(counts, col("item"), col("grp"), col("cnt"), k)
  }
}
