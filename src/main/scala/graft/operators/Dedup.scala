package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{InternalCaches, Observed}
import graft.functions.TextFns
import org.apache.spark.sql.graftbridge.Bridge

/** Deduplication operators for LLM-data pipelines (SURVEY §2.5 L1–L5).
  *
  * Every pipeline here is a *join strategy*, not just a hash function:
  * the 100 TB contract is that no step ever compares all pairs —
  * candidate generation is always a bucketed equi-join whose shuffle is
  * O(n·bands), and exact verification runs only inside buckets.
  *
  * All hashing is deterministic (fixed seeds), so results are stable
  * across runs and partitionings.
  */
object Dedup {

  /** Default hot-bucket cap for the LSH self-joins (see [[guardBuckets]]).
    * 500 members ⇒ ≤ ~125k intra-bucket pairs, bounded work per bucket;
    * sized far above anything honest LSH produces at gate scale. */
  val DefaultMaxBucket = 500

  // ------------------------------------------------------------------ L1
  /** Exact-dedup groups: one row per distinct normalized text —
    * `(fp, keep_id, n_dups)` with the min-id row as representative.
    * Uses md5 so any engine can oracle it; the shuffle moves only the
    * fingerprint + id, never the text. */
  def exactGroups(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(TextFns.fingerprintMd5(text).as("fp"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows surviving exact dedup: the min-id row per distinct normalized
    * text. Keep-list shape, no full-row window exchange: (1) a groupBy
    * on the fingerprint builds the `(fp → min id)` keep-list with
    * map-side partial aggregation — that shuffle carries only
    * fingerprint + id; (2) a left-semi join on `id` keeps the winning
    * rows (AQE broadcasts the keep-list when the distinct count fits;
    * otherwise it is a narrow-key hash join, never a sort). The
    * fingerprint is 128-bit md5, same as [[exactGroups]] — at
    * billions of docs a 64-bit hash alone drops distinct rows on
    * birthday collisions. Assumes `id` is unique (it is the
    * representative key throughout this module). */
  def exactKeep(df: DataFrame, text: Column, id: Column): DataFrame = {
    val keep = df.groupBy(TextFns.fingerprintMd5(text).as("_fp"))
      .agg(min(id).as("_keep_id"))
      .select(col("_keep_id"))
    df.join(keep, id === col("_keep_id"), "left_semi")
  }

  /** [[exactKeep]] with a QUALITY choice of representative — the
    * published "keep the longest / highest-scoring copy" convention
    * (normalized-identical pages differ in raw whitespace, markup
    * damage, or an attached quality score; dropping by min-id throws
    * that signal away). Per fingerprint group the winner maximizes
    * `(score, then LOWEST id)` — the id tiebreak keeps the cut
    * deterministic, and a constant score degrades to [[exactKeep]]
    * exactly. NULL scores sort below every non-NULL score (they win
    * only all-NULL groups, again by min id). Same keep-list shape and
    * scale contract as [[exactKeep]]: the groupBy shuffle carries
    * (fp, score, id) partials — `max_by` over the (score, −id) struct
    * combines map-side — and the semi-join stays AQE-broadcastable.
    * Ids must be unique AND non-negative (the −id tiebreak). */
  def exactKeepBy(df: DataFrame, text: Column, id: Column, score: Column): DataFrame = {
    val keep = df.groupBy(TextFns.fingerprintMd5(text).as("_fp"))
      .agg(max_by(id, struct(score, -id)).as("_keep_id"))
      .select(col("_keep_id"))
    df.join(keep, id === col("_keep_id"), "left_semi")
  }

  // ------------------------------------------------------ hot-bucket guard
  /** Hot-bucket guard for the LSH self-joins. A degenerate key —
    * boilerplate/template docs, zero-ish embeddings — puts b rows in one
    * bucket and the self-join emits O(b²) pairs; AQE's skew split fixes
    * the shuffle, not the quadratic blowup inside the bucket. Standard
    * practice: drop buckets over `maxBucket` members from candidate
    * generation. Members of an over-cap bucket are near-exact copies of
    * one another, which exact dedup (L1) already collapses without
    * quadratic cost — run it first in production pipelines. Sizing is a
    * map-side-combined `groupBy(keys).count` semi-joined back — NOT a
    * count-over-window: WindowExec materializes one task per key group,
    * so the very hot bucket the guard exists for (10⁸⁺ members) would
    * become a single-task straggler inside the guard itself. The
    * groupBy partial-aggregates the hot key on every mapper and the
    * semi-join's probe side is AQE-skew-splittable; semantics are
    * identical. `maxBucket <= 0` disables the guard (and its report);
    * [[oversizedBuckets]] surfaces what a given cap would skip.
    *
    * Every LSH operator builds its plan through this one function; the
    * `*Reported` variants add only [[Guarded.skipped]] on top. */
  private def guardBuckets(bk: DataFrame, keys: Seq[String], maxBucket: Int): Guarded =
    if (maxBucket <= 0) Guarded(bk, bucketSizes(bk, keys), maxBucket)
    else {
      // Cache the narrow (id, keys…) bucket stream before referencing it
      // twice (sizes groupBy + semi-join probe). Without this the
      // upstream bucketing subtree — hyperplane hashing for the
      // embedding path, simhash signatures, MinHash banding — evaluates
      // twice whenever exchange reuse doesn't fire (measured: ×2.98 on
      // the embedding path); at 100 TB that doubles a full scan+hash
      // pass. persist(), not localCheckpoint: the BlockManager's
      // per-block locking already guarantees compute-once across the
      // consumers (the skip report included), while the lineage stays
      // in the plan — so the plan-shape audits still see the upstream
      // scans/joins, and a frame released by session hygiene recomputes
      // instead of dying. The downstream bucketed self-join's two sides
      // share the same cached blocks too. Registered with
      // InternalCaches under the session: Dataset persist entries never
      // auto-release, so the session's releaseCachedBlocks frees them.
      // Scans with → without: dedup_simhash 1 → 3, dedup_minhash 6 → 9,
      // dedup_incremental 16 → 21.
      val mat = InternalCaches.persist(bk)
      val sizes = bucketSizes(mat, keys)
      val small = sizes.where(col("_bsz") <= maxBucket).select(keys.map(col): _*)
      // re-select: the USING-join moves key columns first, and callers
      // (bucketSelfJoin's positional toDF) depend on bk's column order
      Guarded(mat.join(small, keys, "left_semi").select(mat.columns.map(col): _*),
        sizes, maxBucket)
    }

  /** Per-bucket member counts `(keys…, _bsz)` — a map-side-combined
    * groupBy (one row per bucket), never a per-key window task. */
  private def bucketSizes(bk: DataFrame, keys: Seq[String]): DataFrame =
    bk.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bsz"))

  /** Monitoring twin of the guard: bucket groups a cap of `maxBucket`
    * would drop, with sizes — `(keys…, bucket_size)`. Run over
    * [[minhashBuckets]] (keys `band`,`bucket`) or any bucketed frame to
    * log skipped volume before a production dedup; no silent loss. */
  def oversizedBuckets(bk: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    bucketSizes(bk, keys).where(col("_bsz") > maxBucket)
      .withColumnRenamed("_bsz", "bucket_size")

  /** What one run's hot-bucket guard dropped: over-cap bucket `groups`
    * and their member `rows` (per-band doc slots, not distinct docs). */
  final case class SkippedBuckets(groups: Long, rows: Long)

  /** The guard's output: the capped bucket stream and the lazy
    * per-bucket sizes it was cut by. */
  private final case class Guarded(capped: DataFrame, sizes: DataFrame, maxBucket: Int) {
    /** Eager skip report — one small aggregation over the sizes, which
      * read the guard's cached bucket stream, so reporting never re-runs
      * the hashing scan. `(0, 0)` when the guard is off. */
    def skipped: SkippedBuckets =
      if (maxBucket <= 0) SkippedBuckets(0L, 0L)
      else {
        val r = sizes.where(col("_bsz") > maxBucket)
          .agg(count(lit(1)), coalesce(sum(col("_bsz")), lit(0L)))
          .head()
        SkippedBuckets(r.getLong(0), r.getLong(1))
      }
  }

  /** Candidate pairs from a capped bucket frame `(id, keys…)`: the
    * bucketed self-join on `keys`, id_a < id_b, deduplicated. */
  private def bucketSelfJoin(bk: DataFrame, keys: Seq[String]): DataFrame = {
    val a = bk.toDF("id_a" +: keys: _*)
    val b = bk.toDF("id_b" +: keys: _*)
    a.join(b, keys)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Normalized distinct shingle sets `(_jid, _set)` for exact verify. */
  private def shingleSets(df: DataFrame, id: Column, text: Column, shingleK: Int): DataFrame =
    df.select(id.as("_jid"), array_distinct(TextFns.shingles(text, shingleK)).as("_set"))

  /** Exact set-Jaccard verification of candidate pairs: id_a resolves
    * in `setsA`, id_b in `setsB` (both `(_jid, _set)`). Integer
    * intersection/union sizes, so the double ratio is bit-identical
    * across engines.
    *
    * CALLER CONTRACT (the candidate-prune discipline): derive each
    * sets side from docs pruned by [[candSideDocs]] (or an equivalent
    * id-level semi-join) — the verify is an inner equi-join on id, so
    * rows whose id never appears among the candidates contribute
    * nothing, yet an unpruned side tokenizes + shingles its ENTIRE input (the r21 plan audit:
    * `word_shingles` evaluated over the full rep set on BOTH verify
    * sides). Pruning at the sets level does NOT work: the optimizer
    * keeps the semi-join above the shingle projection (measured
    * neutral at sf0.1, and it re-plans the prune as a sort-merge join
    * that shuffles the full set arrays) — the prune must sit below
    * the projection by construction. */
  private def jaccardVerify(
      cands: DataFrame, setsA: DataFrame, setsB: DataFrame, threshold: Double): DataFrame =
    cands
      .join(setsA.select(col("_jid").as("id_a"), col("_set").as("_set_a")), "id_a")
      .join(setsB.select(col("_jid").as("id_b"), col("_set").as("_set_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("_set_a"), col("_set_b"))).cast("double") /
          size(array_union(col("_set_a"), col("_set_b"))))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Persist + register the narrow candidate stream `(id_a, id_b)` —
    * two longs per pair — where the verify shape consumes it three times
    * (two prune sides + the probe itself) and exchange reuse cannot
    * stand in for it: the cross-corpus and incremental shapes, whose
    * candidate lineage is not one reusable exchange. Same discipline as
    * the hot-bucket guard / collapse member map (InternalCaches-
    * registered, lineage kept). Scans with → without: decontam_near
    * 9 → 11, dedup_incremental 16 → 17. The plain self-join verify
    * ([[guardedJaccardPairs]]) does not persist: exchange reuse already
    * runs its candidate generation once (dedup_minhash 6 → 6,
    * dedup_jaccard 5 → 5). */
  private def persistedCands(cands: DataFrame): DataFrame =
    InternalCaches.persist(cands)

  /** `docs` restricted to the ids on `side` ("id_a" / "id_b") of the
    * candidate stream — applied BELOW the shingle projection, so only
    * candidate docs pay the tokenize+shingle CPU and only
    * candidate-sized set streams reach the verify join. At 100 TB
    * this is the difference between shingling the corpus three times
    * (once to band, twice to verify) and once (+ the candidates).
    * The prune side carries an explicit broadcast hint (r22): left to
    * AQE, the static plan chose SortMergeJoin LeftSemi — an
    * Exchange+Sort of the FULL docs (id, text) by id, a shuffle the
    * prune exists to avoid — and the r21 driver run measured it as a
    * 17.5% dedup_minhash regression. The candidate stream is persisted
    * and hot-bucket-capped (two longs per pair, O(candidates) — the
    * verify probe itself already broadcast-joins it), so the hint is
    * size-safe by the same argument as the probe joins. No distinct()
    * on the prune side: the broadcast hash relation dedups keys and a
    * distinct would add an exchange per side. */
  private def candSideDocs(docs: DataFrame, id: Column, cands: DataFrame, side: String): DataFrame =
    docs.join(broadcast(cands.select(col(side).as("_pid"))), id === col("_pid"), "left_semi")


  // ------------------------------------------------------------------ L2
  /** LSH band buckets: `(_id, band, bucket)` — one row per (doc, band),
    * bucket = xxhash64 of that band's signature slice. Equal buckets in
    * the same band ⇒ candidate pair. Shuffle size O(n·bands). */
  def minhashBuckets(
      df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes must divide into bands=$bands")
    // Fused signature+banding expression: ONE pass per row. (A transform
    // lambda over a signature column re-evaluates the signature per band
    // once CollapseProject inlines it — measured 60× slower at sf0.1.)
    val buckets = TextFns.minhashBands(
      array_distinct(TextFns.shingles(text, shingleK)), numHashes, bands)
    df.select(id.as("_id"), posexplode(buckets))
      .toDF("_id", "band", "bucket")
  }

  // ----------------------------------------------- exact-duplicate collapse
  /** Membership map for [[collapseByText]]: `member` is `(_mid, _rid)`
    * — every non-null-text row's id with its group REPRESENTATIVE (the
    * min id among rows sharing the 128-bit normalized-text
    * fingerprint); `reps` is the input restricted to representatives. */
  private final case class Collapsed(member: DataFrame, reps: DataFrame)

  private def collapseByText(df: DataFrame, id: Column, text: Column): Collapsed = {
    val m = df.select(id.as("_mid"), TextFns.fingerprintMd5(text).as("_mfp"))
      .where(col("_mfp").isNotNull)
    val repOf = m.groupBy("_mfp").agg(min(col("_mid")).as("_rid"))
    // Persist the narrow (member, rep) map: every collapsed path
    // references it repeatedly — expandRepPairs twice, withinGroupPairs
    // twice, and `reps` below — and each uncached reference re-runs the
    // FULL md5-fingerprint scan + groupBy over the corpus text (the r21
    // plan audit counted the fingerprint subtree 8× in dedup_jaccard).
    // Two longs per doc; same persist discipline (and InternalCaches
    // registration) as the hot-bucket guard's bucket stream. Scans with
    // → without: dedup_minhash 6 → 10, dedup_incremental 16 → 19.
    val member = InternalCaches.persist(
      m.join(repOf, "_mfp").select(col("_mid"), col("_rid")))
    // reps via the cached member (its _rid column carries every rep id;
    // a semi-join ignores the duplication) — repOf itself is then
    // consumed exactly once, when member first materializes.
    val reps = df.join(member.select(col("_rid")), id === col("_rid"), "left_semi")
    Collapsed(member, reps)
  }

  /** Expand rep-level pairs `(id_a, id_b, carry…)` to member-level
    * pairs: each (rep_a, rep_b) pair becomes every (a ∈ group_a,
    * b ∈ group_b) pair, reordered so id_a < id_b, carrying the rep
    * pair's extra columns verbatim (equal texts ⇒ equal scores). */
  private def expandRepPairs(repPairs: DataFrame, member: DataFrame, carry: Seq[String]): DataFrame = {
    val ma = member.select(col("_rid").as("id_a"), col("_mid").as("_ma"))
    val mb = member.select(col("_rid").as("id_b"), col("_mid").as("_mb"))
    repPairs.join(ma, "id_a").join(mb, "id_b")
      .select(least(col("_ma"), col("_mb")).as("id_a") +:
        greatest(col("_ma"), col("_mb")).as("id_b") +: carry.map(col): _*)
  }

  /** The within-group pair stream `(id_a, id_b)`, id_a < id_b — every
    * same-fingerprint pair, an exact duplicate by construction. Keyed
    * self-join on the rep id: per-group output is C(g,2), the answer's
    * own size, with no band multiplier and no verify. */
  private def withinGroupPairs(member: DataFrame): DataFrame = {
    val wa = member.select(col("_rid").as("_g"), col("_mid").as("id_a"))
    val wb = member.select(col("_rid").as("_g"), col("_mid").as("id_b"))
    wa.join(wb, "_g").where(col("id_a") < col("id_b")).select("id_a", "id_b")
  }

  private val BandKeys = Seq("band", "bucket")

  /** Candidate pairs `(id_a, id_b)`, id_a < id_b. NEVER a cartesian:
    * the join keys are (band, bucket), and buckets over `maxBucket`
    * members are dropped (hot-bucket guard, see [[guardBuckets]]).
    *
    * The LSH stage always runs over the exact-duplicate collapse: rows
    * are grouped by the 128-bit normalized-text fingerprint, ONLY the
    * min-id representative of each group is banded and self-joined,
    * within-group pairs come straight from the fingerprint groups
    * (duplicates by construction) and rep-level candidates expand back
    * to member pairs. Equal normalized text ⇒ identical shingle sets ⇒
    * identical signatures and buckets, so the candidate set is the
    * member-level one wherever the cap does not fire — and strictly
    * closer to complete where it does (g copies inflate member-level
    * buckets past the cap that their ONE rep row never strains). The
    * point is scale: a group of g copies in a member-level join emits
    * C(g,2)·bands pair-rows before the distinct (g=100, 64 bands →
    * 316,800 rows per group; ~1.6 BILLION rows on the 100×-replicated
    * sf10 stress corpus) just to rediscover that copies are copies —
    * collapse makes that term C(g,2) exactly once, with no band
    * multiplier. */
  def minhashCandidates(
      df: DataFrame, id: Column, text: Column,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val c = collapseByText(df, id, text)
    val (repCands, _) = repCandidates(c, id, text, shingleK, numHashes, bands, maxBucket)
    expandRepPairs(repCands, c.member, Nil).unionAll(withinGroupPairs(c.member))
  }

  /** Rep-level candidate pairs of a collapsed frame — the guarded
    * banded self-join over representatives only — and the guard. */
  private def repCandidates(
      c: Collapsed, id: Column, text: Column,
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int): (DataFrame, Guarded) = {
    val g = guardBuckets(minhashBuckets(c.reps, id, text, shingleK, numHashes, bands),
      BandKeys, maxBucket)
    (bucketSelfJoin(g.capped, BandKeys), g)
  }

  // ------------------------------------------------------------------ L4
  /** LSH candidates verified by exact shingle-set Jaccard:
    * `(id_a, id_b, jaccard)` for pairs ≥ `threshold`. Intersection and
    * union are integer set sizes, so the double ratio is bit-identical
    * across engines. The candidate set is typically tiny relative to n;
    * AQE broadcast-joins it against the shingle sets at runtime.
    *
    * Over the exact-duplicate collapse (see [[minhashCandidates]]) the
    * exact verify runs at REP level only: within-group pairs are J = 1
    * exactly (identical sets — no verify needed, emitted directly) and
    * each cross-group member pair carries its rep pair's verified
    * Jaccard (equal sets ⇒ equal scores). Output is the all-pairs
    * answer wherever LSH recalls the pair and the cap does not fire. */
  def jaccardPairs(
      df: DataFrame, id: Column, text: Column, threshold: Double,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    guardedJaccardPairs(df, id, text, threshold, shingleK, numHashes, bands, maxBucket)._1

  /** [[jaccardPairs]] and the guard that capped its candidates. */
  private def guardedJaccardPairs(
      df: DataFrame, id: Column, text: Column, threshold: Double,
      shingleK: Int, numHashes: Int, bands: Int, maxBucket: Int): (DataFrame, Guarded) = {
    val c = collapseByText(df, id, text)
    val (cands, g) = repCandidates(c, id, text, shingleK, numHashes, bands, maxBucket)
    // Prune df, not c.reps: every candidate id IS a rep id (the
    // bucket stream was built from reps), so df ⋉ cand-ids ≡
    // (df ⋉ member-rids) ⋉ cand-ids — identical rows, and the verify
    // sides skip the doc-count-sized member semi-join entirely (r22).
    val repPairs = jaccardVerify(cands,
      shingleSets(candSideDocs(df, id, cands, "id_a"), id, text, shingleK),
      shingleSets(candSideDocs(df, id, cands, "id_b"), id, text, shingleK),
      threshold)
    val within = withinGroupPairs(c.member)
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
      .where(lit(1.0) >= threshold)
    (expandRepPairs(repPairs, c.member, Seq("jaccard")).unionAll(within), g)
  }

  /** `df` minus the `id_b` side of every pair — the min-id-representative
    * keep rule, as a left-anti join against the drop list. */
  private def dropLaterIds(df: DataFrame, id: Column, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as("_drop_id")), id === col("_drop_id"), "left_anti")

  /** Near-dedup keep-list: drop every doc that duplicates (Jaccard ≥
    * threshold) a smaller-id doc — the min-id-representative rule,
    * applied as an anti-join against the verified pairs. The collapse
    * does not change the drop set: a doc has a smaller-id duplicate
    * among members iff its rep pair says so, because group reps ARE the
    * group minimums. */
  def minhashKeep(
      df: DataFrame, id: Column, text: Column, threshold: Double,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    dropLaterIds(df, id,
      jaccardPairs(df, id, text, threshold, shingleK, numHashes, bands, maxBucket))

  /** [[minhashKeep]] that ALSO returns what the hot-bucket guard
    * skipped — the default for production runs, where capped buckets
    * must be logged, not silently lost. The frame is exactly
    * [[minhashKeep]]'s plan; the report is one eager aggregation over
    * the guard's cached bucket sizes (see [[guardBuckets]]), and is
    * `(0, 0)` when `maxBucket <= 0`. Use [[oversizedBuckets]] for a
    * per-bucket breakdown. The report counts REP-level buckets: exact
    * copies collapse before banding, so they can no longer inflate a
    * bucket past the cap — a corpus whose only degeneracy is exact
    * duplication reports ZERO skips and dedups fully. */
  def minhashKeepReported(
      df: DataFrame, id: Column, text: Column, threshold: Double,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): (DataFrame, SkippedBuckets) = {
    val (pairs, g) =
      guardedJaccardPairs(df, id, text, threshold, shingleK, numHashes, bands, maxBucket)
    (dropLaterIds(df, id, pairs), g.skipped)
  }

  /** [[minhashKeep]]'s KEEP-BEST sibling — the near-dup twin of
    * [[exactKeepBy]]: per near-duplicate CLUSTER keep the member with
    * the highest `score` (quality/length), ties to the LOWEST id —
    * the published keep-best convention, instead of minhashKeep's
    * min-id representative. Clusters are the connected components of
    * the verified pairs ([[duplicateClusters]] — transitively closed,
    * so a chain A~B~C keeps exactly one member even when A and C
    * never pair directly); docs in no cluster are singletons and keep
    * themselves. NULL scores lose to any scored member; an all-NULL
    * cluster keeps its min id (the `max_by` over the (score, −id)
    * struct — ids must be unique and non-negative, as exactKeepBy).
    *
    * Scale shape: pair generation + clustering is the dedup_clusters
    * path (banded LSH, narrow signatures, iterative propagation);
    * the cut itself adds ONE equi-join against the cluster map (only
    * duplicated docs appear in it — AQE-broadcastable), one map-side
    * combined groupBy over (cluster, score, id) partials, and a
    * semi-join keep. The text column never shuffles. */
  def minhashKeepBy(
      df: DataFrame, id: Column, text: Column, score: Column, threshold: Double,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val pairs = jaccardPairs(df, id, text, threshold, shingleK, numHashes, bands, maxBucket)
    val cl = duplicateClusters(pairs)
      .select(col("id").as("_graft_cl_id"), col("cluster_id").as("_graft_cl_cid"))
    val keep = df
      .join(cl, id === col("_graft_cl_id"), "left")
      .groupBy(coalesce(col("_graft_cl_cid"), id).as("_graft_ck"))
      .agg(max_by(id, struct(score, -id)).as("_keep_id"))
      .select(col("_keep_id"))
    df.join(keep, id === col("_keep_id"), "left_semi")
  }

  // ------------------------------------------------- persisted index (L2+)
  /** Write a persisted MinHash-LSH index for [[minhashKeepIncremental]] —
    * the re-runnable form of [[minhashKeep]]: a production 100 TB corpus
    * is deduped in increments against the corpus indexed so far, never by
    * re-hashing everything per batch. Layout under `path` (all parquet):
    *
    *   - `buckets/`  `(id, band, bucket)` — the narrow candidate-
    *     generation stream the incremental equi-join shuffles;
    *   - `shingles/` `(id, shingles)` — the exact-verify side, joined
    *     back by id for candidate ids only;
    *   - `params/`   one row `(shingle_k, num_hashes, bands)` — queries
    *     against an index with different hash params fail fast instead
    *     of silently missing duplicates.
    *
    * `mode = "append"` adds a new batch (e.g. the survivors of the last
    * incremental run) to an existing index after checking param equality.
    * Ids must be unique across everything ever written to one index.
    * The batch's shingle sets are materialized once (localCheckpoint) to
    * feed both index sides in a single text pass — so seed an enormous
    * initial corpus in bounded batches via `append`, the same way it
    * would arrive in production, rather than as one giant write.
    *
    * APPEND ATOMICITY: an append is two writes (`shingles/` first, then
    * `buckets/`) and is NOT atomic across them — a crash in between
    * leaves the batch's docs shingled but bucket-less, so they never
    * generate candidates. The contract is at-least-once REPLAY: after
    * any append failure, re-append the SAME batch (duplicate rows are
    * inert — see [[minhashKeepIncremental]]). [[GStream.dedupStream]]
    * replays automatically via its streaming checkpoint; standalone
    * batch callers must replay themselves, and can audit an index of
    * uncertain history with [[indexMissingBucketIds]]. */
  def writeMinHashIndex(
      df: DataFrame, id: Column, text: Column, path: String,
      shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      mode: String = "overwrite"): Unit = {
    val spark = df.sparkSession
    // the commit protocol (marker-last, append fail-fasts, stale-marker
    // drop on re-creation) lives in graft.Catalog — shared with the
    // sketch catalog, the PQ codes catalog, and the model saves
    graft.Catalog.write(spark, path, mode,
      readIndexParams(spark, path), Seq("buckets", "shingles"), "MinHash index") { p =>
      require(p == ((shingleK, numHashes, bands)),
        s"MinHash index at $path has params (shingleK, numHashes, bands)=$p; " +
          s"refusing to append with (${shingleK}, ${numHashes}, ${bands})")
    } {
      // ONE normalization+shingling pass over the batch text (the
      // dominant cost): cache the shingle sets for the two writes, then
      // RELEASE the blocks — a lingering cache would tax every later job
      // in a long-lived session with GC/storage pressure.
      val sets = df.select(id.as("id"), array_distinct(TextFns.shingles(text, shingleK)).as("shingles"))
        .persist()
      try {
        sets.write.mode(mode).parquet(s"$path/shingles")
        sets.select(col("id"), posexplode(TextFns.minhashBands(col("shingles"), numHashes, bands)))
          .toDF("id", "band", "bucket")
          .write.mode(mode).parquet(s"$path/buckets")
      } finally sets.unpersist(blocking = false)
    } {
      import spark.implicits._
      Seq((shingleK, numHashes, bands)).toDF("shingle_k", "num_hashes", "bands")
        .write.mode("overwrite").parquet(s"$path/params")
    }
  }

  /** Hash params of the index at `path`, None if no index exists there. */
  def readIndexParams(spark: org.apache.spark.sql.SparkSession, path: String): Option[(Int, Int, Int)] =
    graft.Catalog.readParams(spark, path)(r =>
      (r.getAs[Int]("shingle_k"), r.getAs[Int]("num_hashes"), r.getAs[Int]("bands")))

  /** Whether index data directories exist at `path`. Data present while
    * [[readIndexParams]] returns None means a half-written (crashed)
    * index — callers must refuse to treat it as empty. */
  def indexDataExists(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.Catalog.dataExists(spark, path, Seq("buckets", "shingles"))

  /** Whether the index data directories at `path` are VERIFIABLY empty:
    * each of `buckets/` and `shingles/` is absent, or holds committed
    * parquet whose footers record zero rows. True means the index holds
    * no accumulated dedup state — e.g. an empty-index bootstrap that
    * crashed before its params write (a zero-row parquet write commits
    * readable footers) — so re-creating it loses nothing. A directory
    * that EXISTS but has no data file (only `_temporary/` task files
    * from a crashed write) is NOT verifiably empty: the crashed write
    * may have been seeding real data, so this returns false and the
    * caller refuses. Answered from the file listing and footers on the
    * driver, so it runs no Spark job. Callers use this to distinguish a
    * repairable orphan from a real half-written index (see
    * [[GStream.dedupStream]]'s bootstrap). */
  def indexDataIsEmpty(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    Seq("buckets", "shingles").forall { d =>
      !graft.Catalog.dataExists(spark, path, Seq(d)) || graft.Parquet.holdsNoRows(spark, s"$path/$d")
    }

  /** Append-consistency audit: ids present in `shingles/` but absent
    * from `buckets/` — the signature of an append that crashed between
    * its two writes (see the atomicity note on [[writeMinHashIndex]]).
    * Docs listed here are invisible to candidate generation until their
    * batch is replayed. Empty result == consistent (bucket-side ids ⊇
    * shingle-side ids always holds for completed writes; the converse
    * direction cannot occur because shingles are written first). An
    * absent or unreadable `buckets/` — the very first write crashed
    * before any bucket commit — reports EVERY shingled id as missing
    * rather than failing the audit itself. */
  def indexMissingBucketIds(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val sh = graft.Parquet.read(spark, s"$path/shingles").select("id").distinct()
    val bk =
      if (!graft.Catalog.dataExists(spark, path, Seq("buckets"))) sh.limit(0)
      else try graft.Parquet.read(spark, s"$path/buckets").select("id").distinct()
      catch { case _: org.apache.spark.sql.AnalysisException => sh.limit(0) } // exists, unreadable
    sh.join(bk, Seq("id"), "left_anti")
  }

  /** Incremental near-dedup of a new batch against a persisted index
    * (plus within-batch dedup): returns the new docs that duplicate
    * (exact-Jaccard ≥ `threshold`) neither any indexed doc nor a
    * smaller-id doc in the same batch. Equivalent to [[minhashKeep]]
    * over (indexed ∪ batch) restricted to the batch, when indexed ids
    * precede batch ids — without touching the indexed corpus' text.
    *
    * Scale shape: the indexed bucket table is first pruned with a
    * left-semi join on the batch's (band, bucket) set — AQE broadcasts
    * that set for a typical small increment, so the huge indexed side
    * never fully shuffles. The hot-bucket guard then runs jointly over
    * (pruned indexed ∪ batch) rows: a degenerate bucket is degenerate
    * regardless of which side its members came from, and the per-bucket
    * sizes are exact because the semi-join keeps whole buckets.
    *
    * Index entries whose id appears in THIS batch are ignored (anti-join
    * on the batch's id set): a batch replayed after a partial failure —
    * its docs already appended to the index — dedups to exactly the
    * same survivors as the first attempt instead of dropping everything
    * against its own stale copies. This makes retries idempotent, which
    * [[graft.streaming.GStream.dedupStream]] relies on. */
  def minhashKeepIncremental(
      newDocs: DataFrame, id: Column, text: Column, indexPath: String,
      threshold: Double, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val spark = newDocs.sparkSession
    val (shingleK, numHashes, bands) = readIndexParams(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(s"no MinHash index found at $indexPath"))
    // Batch-side exact-duplicate collapse (see [[minhashCandidates]]):
    // only min-id representatives are shingled, banded, and verified —
    // non-rep members are dropped directly (their rep is a smaller-id
    // exact duplicate in the same batch). The INDEX side is never
    // collapsed: a rep is checked against every indexed doc
    // individually, so equivalence does not depend on the index being
    // duplicate-free. The replay guard below stays on ALL batch ids —
    // a replayed batch's stale index copies must be excluded whether
    // or not the copy was a representative.
    val c = collapseByText(newDocs, id, text)
    // ONE normalization+shingling pass over the batch text (the dominant
    // per-batch cost): materialize the shingle sets via a registered
    // checkpoint and derive BOTH the bucket stream and the verify side
    // from the materialized blocks. The blocks live until the session's
    // releaseCachedBlocks (or until the ContextCleaner collects the
    // unreferenced result), so the caller consumes the result first.
    // Two consequences, accepted deliberately: (1) this call is eager —
    // it launches the shingling job now; (2) checkpoint blocks have no
    // lineage, so losing an executor before the result is consumed
    // fails that JOB (no recompute) — the recovery story is a re-CALL,
    // which is cheap because the batch is the small side and safe
    // because this function is replay-idempotent (the contract
    // [[GStream.dedupStream]]'s foreachBatch retries already rely on).
    val newSets = InternalCaches.checkpoint(shingleSets(c.reps, id, text, shingleK))
    val newIds = newDocs.select(id.as("_nid"))
    val newBk = newSets.select(col("_jid").as("_id"),
        posexplode(TextFns.minhashBands(col("_set"), numHashes, bands)))
      .toDF("_id", "band", "bucket")
    val oldBk = graft.Parquet.read(spark, s"$indexPath/buckets")
      .join(newIds, col("id") === col("_nid"), "left_anti") // replay safety: drop stale self-copies
      .join(newBk.select("band", "bucket").distinct(), BandKeys, "left_semi")
      .select(col("id").as("_id"), col("band"), col("bucket"))
      // At-least-once appends can leave duplicate (id, band, bucket)
      // rows; distinct AFTER the semi-join prune (so only surviving
      // buckets pay the shuffle) keeps the guard's count an exact
      // member count — replayed rows must not push a legitimate bucket
      // over maxBucket and silently drop its real duplicates.
      .distinct()
    val tagged = guardBuckets(
      oldBk.withColumn("_new", lit(false)).union(newBk.withColumn("_new", lit(true))),
      BandKeys, maxBucket).capped
    val newSide = tagged.where(col("_new")).drop("_new").toDF("id_b", "band", "bucket")
    val oldSide = tagged.where(!col("_new")).drop("_new").toDF("id_a", "band", "bucket")
    val newSideA = tagged.where(col("_new")).drop("_new").toDF("id_a", "band", "bucket")
    val cands = persistedCands(
      oldSide.join(newSide, BandKeys)
        .union(newSideA.join(newSide, BandKeys).where(col("id_a") < col("id_b")))
        .select("id_a", "id_b")
        .distinct())
    // Candidate-id prune on both verify sides (the [[candSideDocs]]
    // discipline, at the sets level — the index side is a stored
    // shingle table and the batch side is already materialized, so
    // there is no shingle CPU to push below; the prune keeps the
    // verify joins candidate-sized instead of index-sized). Broadcast
    // hint on the id sides for the same reason as [[candSideDocs]]:
    // without it the stats-less prune plans as a SortMergeJoin that
    // shuffles the stored set arrays by id.
    val aSets = graft.Parquet.read(spark, s"$indexPath/shingles")
      .join(newIds, col("id") === col("_nid"), "left_anti") // mirror the bucket-side exclusion
      .select(col("id").as("_jid"), col("shingles").as("_set"))
      .union(newSets)
      .join(broadcast(cands.select(col("id_a").as("_pid"))),
        col("_jid") === col("_pid"), "left_semi")
    val bSets = newSets
      .join(broadcast(cands.select(col("id_b").as("_pid"))),
        col("_jid") === col("_pid"), "left_semi")
    val repDrops = jaccardVerify(cands, aSets, bSets, threshold)
      .select(col("id_b").as("_drop_id"))
      .distinct()
    val nonRepDrops = c.member.where(col("_mid") =!= col("_rid")).select(col("_mid").as("_drop_id"))
    newDocs.join(repDrops.unionAll(nonRepDrops), id === col("_drop_id"), "left_anti")
  }

  // ----------------------------------------------------------------- L14
  /** Substring-level duplication statistics — the window-level twin of
    * document-level dedup (the "duplicated spans" measure from the
    * public train-data-dedup literature): for each doc, how many of its
    * k-token windows also occur in at least `minDf` DISTINCT docs.
    * Returns `(doc_id, n_windows, n_dup_windows, dup_ratio)`; a high
    * ratio flags boilerplate/template contamination that doc-level
    * near-dedup misses (two long docs sharing one big block are far
    * apart in whole-doc Jaccard). Windows repeated only WITHIN a doc do
    * not count — the measure is cross-corpus contamination.
    *
    * Scale shape: windows are hashed to 64-bit fingerprints so the
    * shuffles carry (fp, doc_id) pairs, never the window text; the plan
    * is groupBy(fp, doc) with map-side combine → per-fp doc count →
    * groupBy(doc) — all narrow, O(total tokens) rows, no join and no
    * candidate blowup. A 64-bit collision falsely flags one window;
    * P(any collision) ≈ m²/2⁶⁵ ≈ 3e-7 even at a billion distinct
    * windows, far below the noise floor of a ratio statistic. */
  def spanDupStats(
      df: DataFrame, id: Column, text: Column,
      k: Int = 8, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf counts distinct docs sharing a window; need >= 2, got $minDf")
    val g = df
      .select(id.as("doc_id"), explode(TextFns.shingles(text, k)).as("_gram"))
      .select(col("doc_id"), xxhash64(col("_gram")).as("_fp"))
    // one row per (window fp, doc): _n = occurrences of the window in
    // the doc; the per-fp row count is then the DISTINCT doc count.
    // That count is a groupBy + equi-join back, NOT a count-over-window:
    // a boilerplate fingerprint shared by 10⁸ docs would otherwise pin
    // its whole group into one WindowExec task (AQE skew handling
    // applies to joins, not windows). The join probe side skew-splits.
    val perDocGram = g.groupBy("_fp", "doc_id").agg(count(lit(1)).as("_n"))
    val fpDocCount = perDocGram.groupBy("_fp").agg(count(lit(1)).as("_nd"))
    perDocGram
      .join(fpDocCount, "_fp")
      .groupBy("doc_id")
      .agg(
        sum(col("_n")).as("n_windows"),
        sum(when(col("_nd") >= minDf, col("_n")).otherwise(0L)).as("n_dup_windows"))
      .withColumn("dup_ratio", col("n_dup_windows").cast("double") / col("n_windows"))
  }

  // ----------------------------------------------------------------- L24
  /** Duplicated-span REMOVAL — the rewrite step [[spanDupStats]] only
    * measures: strip from each document the k-token windows that also
    * occur in ≥ `minDf` DISTINCT documents (window-granularity version
    * of the repeated-substring dedup from the public train-data-dedup
    * literature — Lee et al. 2022, arXiv:2107.06499, remove long
    * substrings repeated across the corpus; windows here are the same
    * fixed-k normalized word shingles as every other text op, not
    * suffix-array maximal repeats — that deviation is the documented
    * price of a shuffle-only distributed plan).
    *
    * Semantics: a window is FLAGGED iff its distinct-doc frequency ≥
    * `minDf` (within-doc repeats alone never flag — same convention as
    * [[spanDupStats]]). With `keepRep = true` (default, the published
    * keep-one-copy contract) the min-`doc_id` holder of each flagged
    * window keeps ALL its occurrences; every other doc removes the
    * tokens covered by any flagged window (overlapping windows merge
    * by coverage). Docs shorter than k tokens collapse to one
    * whole-text window (the [[graft.functions.TextFns.shingles]]
    * convention), so a short doc duplicated elsewhere empties rather
    * than slips under the window size. Output
    * `(doc_id, text_clean, n_tokens, n_removed)` — `text_clean` is the
    * surviving tokens of the whitespace-collapsed ORIGINAL-case text
    * joined by single spaces (original spacing is not preserved; the
    * flagging itself is case-insensitive, matching the shingle
    * normalization), NULL text stays NULL with zero counts.
    *
    * Scale shape: one scan explodes (doc_id, start, fp) with 64-bit
    * window fingerprints — shuffles carry hashes, never window text;
    * flagging is the same two-level map-side-combined groupBy as
    * [[spanDupStats]] (no count-over-window: a boilerplate fp in 10⁸
    * docs would pin one WindowExec task); the occurrence←flag equi-join
    * is AQE-skew-splittable on exactly those hot fingerprints; per-doc
    * removal starts aggregate to ONE array bounded by the doc's own
    * window count, and the rebuild is a narrow per-row filter. Same
    * 64-bit collision floor as [[spanDupStats]] (a collision falsely
    * removes one window; P(any) ≈ 3e-7 at 1e9 distinct windows). */
  def removeDupSpans(
      df: DataFrame, id: Column, text: Column,
      k: Int = 8, minDf: Int = 2, keepRep: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf counts distinct docs sharing a window; need >= 2, got $minDf")
    val base = df.select(id.as("doc_id"), text.as("_text"))
    // Persist the narrow (doc, pos, fp) occurrence stream: it feeds the
    // flag aggregation AND the removal join's probe side, and the probe
    // reference would otherwise re-run the whole tokenize+shingle+hash
    // scan (the hot-bucket guard's discipline — three longs per window,
    // InternalCaches-registered, lineage kept). Scans with → without:
    // span_removal 2 → 3.
    val occ = InternalCaches.persist(base
      .select(col("doc_id"),
        posexplode(TextFns.shingles(col("_text"), k)).as(Seq("_pos", "_gram")))
      .select(col("doc_id"), col("_pos"), xxhash64(col("_gram")).as("_fp")))
    val flagged = occ
      .groupBy("_fp", "doc_id").agg(count(lit(1)).as("_n"))
      .groupBy("_fp").agg(count(lit(1)).as("_nd"), min(col("doc_id")).as("_rep"))
      .where(col("_nd") >= minDf)
      .select("_fp", "_rep")
    val removals = occ.join(flagged, "_fp")
      .where(if (keepRep) col("doc_id") =!= col("_rep") else lit(true))
      .groupBy("doc_id").agg(array_sort(collect_set(col("_pos"))).as("_starts"))
    base.join(removals, Seq("doc_id"), "left")
      .withColumn("_toks", split(trim(regexp_replace(col("_text"), "\\s+", " ")), " "))
      .withColumn("_kept", when(col("_starts").isNull, col("_toks"))
        .otherwise(expr(
          s"filter(_toks, (t, i) -> NOT exists(_starts, s -> s <= i AND i < s + $k))")))
      .select(
        col("doc_id"),
        when(col("_text").isNull, lit(null).cast("string"))
          .otherwise(array_join(col("_kept"), " ")).as("text_clean"),
        when(col("_text").isNull, lit(0L))
          .otherwise(size(col("_toks")).cast("long")).as("n_tokens"),
        when(col("_text").isNull, lit(0L))
          .otherwise((size(col("_toks")) - size(col("_kept"))).cast("long")).as("n_removed"))
  }

  // ----------------------------------------------------------------- L38
  /** Per-doc duplicated-LINE statistics — the natural-boundary sibling
    * of [[spanDupStats]]: web boilerplate (nav bars, cookie banners,
    * footers) repeats as whole LINES across pages, and the published
    * pipelines dedup at exactly this granularity (CCNet, Wenzek 2020
    * §3.1 dedups paragraph/line units; RefinedWeb, Penedo 2023 §3.3
    * line-level corrections). A line is DUPLICATED iff its normalized
    * form (lower/trim/collapse-space — the module convention) occurs in
    * ≥ `minDf` DISTINCT documents; blank/whitespace-only lines are
    * structure, never boilerplate, and are excluded from both counts.
    * Returns `(doc_id, n_lines, n_dup_lines, dup_ratio)` over non-blank
    * lines (with multiplicity, the [[spanDupStats]] convention).
    *
    * Scale shape: identical to [[spanDupStats]] — the shuffle carries
    * (64-bit line fp, doc_id), never line text; distinct-doc counting
    * is the two-level map-side-combined groupBy, NOT a count-window (a
    * footer in 10⁸ docs would pin one WindowExec task); the flag join
    * is AQE-skew-splittable on exactly those hot fingerprints. Same
    * collision floor (P ≈ 3e-7 at 1e9 distinct lines). */
  def lineDupStats(
      df: DataFrame, id: Column, text: Column, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf counts distinct docs sharing a line; need >= 2, got $minDf")
    val g = df
      .select(id.as("doc_id"), explode(split(text, "\n")).as("_line"))
      .select(col("doc_id"), xxhash64(TextFns.normText(col("_line"))).as("_fp"),
        (TextFns.normText(col("_line")) =!= "").as("_nb"))
      .where(col("_nb"))
    val perDocLine = g.groupBy("_fp", "doc_id").agg(count(lit(1)).as("_n"))
    val fpDocCount = perDocLine.groupBy("_fp").agg(count(lit(1)).as("_nd"))
    perDocLine
      .join(fpDocCount, "_fp")
      .groupBy("doc_id")
      .agg(
        sum(col("_n")).as("n_lines"),
        sum(when(col("_nd") >= minDf, col("_n")).otherwise(0L)).as("n_dup_lines"))
      .withColumn("dup_ratio", col("n_dup_lines").cast("double") / col("n_lines"))
  }

  /** Duplicated-line REMOVAL — strip from each document every line
    * whose normalized form occurs in ≥ `minDf` distinct documents,
    * preserving the raw text of surviving lines and their order
    * (unlike [[removeDupSpans]], which re-tokenizes, lines are natural
    * units: the output is the original lines minus the removed ones,
    * joined by `\n`). With `keepRep = true` (default) the min-`doc_id`
    * holder of each duplicated line keeps ALL its copies — the
    * keep-one-copy contract; `false` removes every copy everywhere
    * (the RefinedWeb convention for boilerplate). Blank lines are
    * never flagged and always survive. NULL text stays NULL with zero
    * counts. Output `(doc_id, text_clean, n_lines, n_removed)` —
    * `n_lines` counts the doc's non-blank lines, `n_removed` the
    * copies removed.
    *
    * Scale shape: flagging as [[lineDupStats]]; per-doc removal
    * positions aggregate to ONE array bounded by the doc's own line
    * count; the rebuild is a narrow per-row positional filter — full
    * text rides only the final doc_id-keyed join (AQE broadcasts the
    * removal side when boilerplate is sparse). */
  def removeDupLines(
      df: DataFrame, id: Column, text: Column,
      minDf: Int = 2, keepRep: Boolean = true): DataFrame = {
    require(minDf >= 2, s"minDf counts distinct docs sharing a line; need >= 2, got $minDf")
    val base = df.select(id.as("doc_id"), text.as("_text"))
    // persisted for the same two-consumer reason as [[removeDupSpans]];
    // scans with → without: line_removal 2 → 3
    val occ = InternalCaches.persist(base
      .select(col("doc_id"), posexplode(split(col("_text"), "\n")).as(Seq("_pos", "_line")))
      .select(col("doc_id"), col("_pos"),
        xxhash64(TextFns.normText(col("_line"))).as("_fp"),
        (TextFns.normText(col("_line")) =!= "").as("_nb"))
      .where(col("_nb")))
    val flagged = occ
      .groupBy("_fp", "doc_id").agg(count(lit(1)).as("_n"))
      .groupBy("_fp").agg(count(lit(1)).as("_nd"), min(col("doc_id")).as("_rep"))
      .where(col("_nd") >= minDf)
      .select("_fp", "_rep")
    val removals = occ.join(flagged, "_fp")
      .where(if (keepRep) col("doc_id") =!= col("_rep") else lit(true))
      .groupBy("doc_id").agg(array_sort(collect_set(col("_pos"))).as("_drops"))
    val nonBlank = filter(split(col("_text"), "\n"),
      l => TextFns.normText(l) =!= "")
    base.join(removals, Seq("doc_id"), "left")
      .withColumn("_lines", split(col("_text"), "\n"))
      .withColumn("_kept", when(col("_drops").isNull, col("_lines"))
        .otherwise(expr("filter(_lines, (l, i) -> NOT array_contains(_drops, i))")))
      .select(
        col("doc_id"),
        when(col("_text").isNull, lit(null).cast("string"))
          .otherwise(array_join(col("_kept"), "\n")).as("text_clean"),
        when(col("_text").isNull, lit(0L))
          .otherwise(size(nonBlank).cast("long")).as("n_lines"),
        when(col("_text").isNull, lit(0L))
          .otherwise((size(col("_lines")) - size(col("_kept"))).cast("long")).as("n_removed"))
  }

  // ----------------------------------------------------------------- L15
  /** Benchmark decontamination — the published n-gram-overlap method
    * (flag a training doc if any of its k-token windows also occurs in
    * a held-out evaluation set; GPT-3 appendix C used k=13): per corpus
    * doc, `(doc_id, n_windows, n_contaminated, contamination_ratio)`
    * where `n_contaminated` counts the doc's windows (with
    * multiplicity, same convention as [[spanDupStats]]) that appear
    * anywhere in `bench`. `n_contaminated = 0` means the doc is clean;
    * use [[decontaminatedKeep]] for the filtered corpus directly.
    *
    * Scale shape: the benchmark side collapses to its DISTINCT window
    * fingerprints — eval sets are tiny next to a 100 TB corpus, so that
    * set broadcasts (hinted; a pathologically large bench opts out with
    * `spark.sql.optimizer.disableHints=true`, set on a
    * `spark.newSession()` because it drops every hint in that session).
    * The corpus side streams once: shingle → 64-bit fingerprint →
    * broadcast-probe → groupBy(doc) with map-side combine. The only
    * shuffle carries (doc_id, partial counts); window text never moves.
    * Same 64-bit collision floor as [[spanDupStats]] — a collision
    * falsely flags one window, P(any) ≈ 3e-7 at 1e9 distinct windows. */
  def contaminationStats(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchText: Column,
      k: Int = 8): DataFrame = {
    val bfp = bench
      .select(explode(TextFns.shingles(benchText, k)).as("_g"))
      .select(xxhash64(col("_g")).as("_fp"))
      .distinct()
      .withColumn("_hit", lit(1L))
    corpus
      .select(corpusId.as("doc_id"), explode(TextFns.shingles(corpusText, k)).as("_g"))
      .select(col("doc_id"), xxhash64(col("_g")).as("_fp"))
      .join(broadcast(bfp), Seq("_fp"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contamination_ratio",
        col("n_contaminated").cast("double") / col("n_windows"))
  }

  /** Corpus rows with ZERO benchmark-overlapping windows — the actual
    * decontaminated training set. Drop-list + left-anti: the flagged
    * set (docs with ≥1 contaminated window) is the join side, so full
    * rows never ride the stats shuffle AND the anti side is the small
    * one (contamination is the exception, not the rule). Rows whose
    * text is NULL (or yields no windows) are KEPT: they have zero
    * benchmark-overlapping windows by definition — under the round-9
    * keep-list formulation they silently vanished, because
    * `explode(shingles(NULL))` eliminates them from
    * [[contaminationStats]] (which still reports no row for them —
    * the stats convention; the KEEP decision is what must not drop
    * them). NULL-ID rows are likewise KEPT (a null anti-join key
    * never matches the drop list) — note this is the SQL `NOT
    * EXISTS` semantics, not `NOT IN` (which drops every row when any
    * id is NULL); the module-wide convention remains unique non-null
    * ids, under which the two are identical. */
  def decontaminatedKeep(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchText: Column,
      k: Int = 8): DataFrame = {
    val flagged = contaminationStats(corpus, corpusId, corpusText, bench, benchText, k)
      .where(col("n_contaminated") > 0L)
      .select(col("doc_id").as("_drop_id"))
    corpus.join(flagged, corpusId === col("_drop_id"), "left_anti")
  }

  // ---------------------------------------------------------------- L15d
  /** [[decontaminatedKeep]] as a PURE NARROW FILTER — zero shuffle,
    * zero join, zero state — for the small-bench contract (eval sets
    * are tiny next to the corpus): the bench's distinct window
    * fingerprints are collected ONCE to a driver set (bounded-artifact
    * contract, 8 B per distinct window) and compiled into Spark's
    * `InSet` predicate — the same O(1)-probe static-set expression
    * Catalyst itself rewrites large IN-lists to — applied inside an
    * `exists` over each doc's window fingerprints. No per-row set
    * rebuild, no exchange anywhere.
    *
    * Because the whole keep decision is stateless and narrow, this
    * exact function applies UNCHANGED to a STREAMING DataFrame —
    * `graft.streaming.GStream.decontamStream` is this filter attached
    * to a stream (no watermark, no stream-static join, nothing to
    * checkpoint beyond the source offsets). Exactly
    * [[decontaminatedKeep]]'s result: NULL-text / zero-window docs are
    * KEPT. For benches too large to hold on the driver use
    * [[decontaminatedKeep]] (broadcast) or [[decontaminatedKeepBloom]]
    * (bloom + verify) per micro-batch via foreachBatch instead. */
  def decontaminatedKeepSet(
      corpus: DataFrame, corpusText: Column,
      bench: DataFrame, benchText: Column, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    val fps: Set[Any] = bench
      .select(explode(TextFns.shingles(benchText, k)).as("_g"))
      .select(xxhash64(col("_g")).as("_fp"))
      .distinct()
      .collect().map(_.getLong(0): Any).toSet
    val contaminated = exists(TextFns.shingles(corpusText, k),
      g => Bridge.column(InSet(Bridge.expr(xxhash64(g)), fps)))
    corpus.where(coalesce(!contaminated, lit(true)))
  }

  // ---------------------------------------------------------------- L15c
  /** [[decontaminatedKeep]] for the regime where the benchmark/drop
    * set is too large to ride a broadcast-hash join: Bloom-filter
    * semi-join reduction (the published MassiveText/Gopher-style use
    * of Bloom membership for corpus-scale dedup, and the same move
    * Spark's runtime row-filtering makes for shuffled joins,
    * SPARK-32268). Result is EXACTLY [[decontaminatedKeep]]'s — the
    * Bloom pass only prunes, it never decides:
    *
    *  1. the bench side collapses to DISTINCT 64-bit window
    *     fingerprints (one shuffle of the SMALL side) and feeds the
    *     public `df.stat.bloomFilter` sketch — a distributed
    *     tree-aggregate whose result is `numBits/8` bytes on the
    *     driver regardless of input size (the bounded-artifact
    *     contract; ~1.2 MB per 10⁶ distinct windows at fpp 0.01);
    *  2. the corpus streams ONCE through a narrow, codegen'd
    *     `might_contain` filter — no shuffle, no broadcast-join
    *     hash-table build; only the ~(true hits + fpp) fraction of
    *     (doc_id, fp) pairs survives;
    *  3. survivors exact-verify against the bench fingerprints in a
    *     SHUFFLED hash join — both sides are now small, and every
    *     Bloom false positive dies here, which is what makes the
    *     result exact rather than probabilistic;
    *  4. truly-hit doc ids form the drop list for the same left-anti
    *     keep as [[decontaminatedKeep]] (NULL-text / zero-window /
    *     NULL-id rows are KEPT, same contract).
    *
    * At 100 TB the win is step 2: the naive shuffled join moves every
    * corpus window's (doc_id, fp) through the exchange; the Bloom
    * probe cuts that to the contaminated sliver for the price of one
    * broadcast-sized byte array shipped with the tasks. `fpp` trades
    * filter size against wasted exact-verify traffic — NEVER
    * correctness. `expectedItems` skips the bench-count job when the
    * caller already knows the cardinality. */
  def decontaminatedKeepBloom(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchText: Column,
      k: Int = 8, fpp: Double = 0.01, expectedItems: Option[Long] = None): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    // distinct bench fps are read three times (count, sketch build,
    // exact verify) — registered persist, same rationale as guardBuckets;
    // scans with → without: dedup_bloom_keep 3 → 5
    val bfp = InternalCaches.persist(
      bench.select(explode(TextFns.shingles(benchText, k)).as("_g"))
        .select(xxhash64(col("_g")).as("_fp"))
        .distinct())
    val n = expectedItems.getOrElse(math.max(bfp.count(), 1L))
    val bloom = bfp.stat.bloomFilter("_fp", n, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val candidates = corpus
      .select(corpusId.as("doc_id"), explode(TextFns.shingles(corpusText, k)).as("_g"))
      .select(col("doc_id"), xxhash64(col("_g")).as("_fp"))
      .where(Bridge.mightContain(bytes, col("_fp")))
    val flagged = candidates
      .join(bfp, Seq("_fp"), "left_semi")
      .select(col("doc_id").as("_drop_id"))
      .distinct()
    corpus.join(flagged, corpusId === col("_drop_id"), "left_anti")
  }

  // ---------------------------------------------------------------- L37
  /** Rep-level verified cross pairs `(id_a = corpus REP, id_b = bench
    * REP, jaccard)` plus the corpus and bench member maps — the shared
    * core of [[crossNearPairs]] (which expands both sides) and
    * [[decontaminatedKeepNear]] (which only needs flagged corpus
    * members, so expanding the bench side there would be waste).
    *
    * Exact-copy collapse on BOTH sides: at duplicate-dense scale (a
    * crawl where every doc has g copies) a member-level flow bands and
    * verifies each copy separately — g_corpus · g_bench times the same
    * set comparison. Reps band/verify ONCE; equal normalized text ⇒
    * identical shingle sets ⇒ identical Jaccard, so expanding rep pairs
    * to members reproduces the member-level answer wherever the
    * bench-side cap does not fire (and strictly more where it does — g
    * copies can no longer inflate a bucket). */
  private def crossNearRepPairs(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      threshold: Double, shingleK: Int, numHashes: Int, bands: Int,
      maxBucket: Int): (DataFrame, Collapsed, Collapsed) = {
    val c = collapseByText(corpus, corpusId, corpusText)
    val b = collapseByText(bench, benchId, benchText)
    val cb = minhashBuckets(c.reps, corpusId, corpusText, shingleK, numHashes, bands)
    val bb = guardBuckets(
      minhashBuckets(b.reps, benchId, benchText, shingleK, numHashes, bands),
      BandKeys, maxBucket).capped
      .toDF("_bid", "band", "bucket")
    val cands = persistedCands(
      cb.join(broadcast(bb), BandKeys)
        .select(col("_id").as("id_a"), col("_bid").as("id_b"))
        .distinct())
    val repPairs = jaccardVerify(cands,
      shingleSets(candSideDocs(c.reps, corpusId, cands, "id_a"),
        corpusId, corpusText, shingleK),
      shingleSets(candSideDocs(b.reps, benchId, cands, "id_b"),
        benchId, benchText, shingleK), threshold)
    (repPairs, c, b)
  }

  /** NEAR-duplicate cross-corpus contamination — the gap exact n-gram
    * decontamination ([[contaminationStats]]) can't see: a training doc
    * that is a light paraphrase/reflow of an eval doc shares few exact
    * k-token windows but has high shingle-set Jaccard. Published eval
    * hygiene uses exactly this pair of checks (GPT-3 appendix C's
    * n-gram overlap; the Pile and PaLM report near-dup decontamination
    * via MinHash-LSH). Returns verified cross pairs
    * `(id_a = corpus doc, id_b = bench doc, jaccard ≥ threshold)`.
    *
    * Scale shape (100 TB corpus, small bench): both sides band with the
    * SAME MinHash parameters; the bench's O(|bench|·bands) bucket rows
    * BROADCAST, so the corpus bucket stream never shuffles — the join
    * is a narrow broadcast-hash probe, unlike the self-join dedup path
    * (no within-corpus pair term at all). Both sides go through the
    * exact-duplicate collapse first (see [[crossNearRepPairs]]): on a
    * duplicate-dense corpus (the sf10 stress corpus carries 100 copies
    * per doc) a member-level flow bands and Jaccard-verifies every
    * (corpus copy × bench copy) combination — measured at sf10: 134 s
    * member-level → seconds collapsed. The hot-bucket guard caps the
    * BENCH side: per-corpus-row fanout = size of the matching bench
    * bucket, so capping bench buckets at `maxBucket` bounds candidate
    * volume at O(n·bands·maxBucket) with zero corpus-side counting
    * shuffle (capping the corpus side would cost an O(n·bands) group
    * count for a blowup the tiny bench can't cause). Candidates are
    * exact-verified by shingle-set Jaccard ([[jaccardVerify]] —
    * integer set sizes, bit-identical ratio), so LSH recall is the only
    * approximation: 128 hashes / 64 bands ⇒ P(miss | J≥0.5) ≈ 1e-8.
    * A bench too large to broadcast opts out with
    * `spark.sql.optimizer.disableHints=true`, set on a
    * `spark.newSession()` because it drops every hint in that session. */
  def crossNearPairs(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      threshold: Double, shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (repPairs, c, b) = crossNearRepPairs(corpus, corpusId, corpusText,
      bench, benchId, benchText, threshold, shingleK, numHashes, bands, maxBucket)
    // expand rep pairs to member pairs on BOTH sides (no id
    // reordering — the sides are distinct corpora by contract)
    val ma = c.member.select(col("_rid").as("id_a"), col("_mid").as("_ma"))
    val mb = b.member.select(col("_rid").as("id_b"), col("_mid").as("_mb"))
    repPairs.join(ma, "id_a").join(mb, "id_b")
      .select(col("_ma").as("id_a"), col("_mb").as("id_b"), col("jaccard"))
  }

  /** The decontaminated corpus under the NEAR-duplicate criterion:
    * drop every corpus doc whose shingle-set Jaccard against ANY bench
    * doc reaches `threshold`; keep everything else. Drop-list +
    * left-anti (full rows never ride the verify shuffle). NULL-text /
    * zero-shingle corpus rows are KEPT (they near-match nothing), the
    * [[decontaminatedKeep]] contract; compose both keeps for the full
    * published hygiene (exact windows AND near-dup). */
  def decontaminatedKeepNear(
      corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchId: Column, benchText: Column,
      threshold: Double, shingleK: Int = 3, numHashes: Int = 128, bands: Int = 64,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val (repPairs, c, _) = crossNearRepPairs(corpus, corpusId, corpusText,
      bench, benchId, benchText, threshold, shingleK, numHashes, bands, maxBucket)
    // only the corpus side needs expanding: a member is contaminated
    // iff its rep is (equal text ⇒ equal Jaccard against everything),
    // and WHICH bench doc matched is irrelevant to the keep decision
    val flagged = c.member.join(repPairs.select(col("id_a").as("_rid")).distinct(), "_rid")
      .select(col("_mid").as("_drop_id"))
    corpus.join(flagged, corpusId === col("_drop_id"), "left_anti")
  }

  // ----------------------------------------------------------------- L13
  /** Connected components over a verified duplicate-pair graph:
    * `(id, cluster_id)` with cluster_id = the smallest doc id in the
    * component, one row per doc with at least one duplicate (docs
    * without pairs are implicit singletons). This is the transitive
    * step pair-based dedup needs: with A~B and B~C but A≁C, the min-id
    * rule alone picks representatives per-pair; clustering gives every
    * member the same canonical id.
    *
    * Iterative min-label propagation: each round joins labels to the
    * edge list and takes the min over neighbors — shuffle O(|edges|)
    * per round, rounds = component diameter (near-dup components are
    * chains/cliques of a few docs, so a handful in practice; raise
    * `maxIters` for adversarial chains). Lineage is truncated per
    * round (the classic iterative-Spark requirement) and convergence
    * is the round's changed-label count, observed on the freeze that
    * materializes it ([[graft.Observed]]): no separate probe job per
    * round.
    *
    * `checkpointDir` selects where each round is frozen, per the
    * contract of [[graft.InternalCaches.snapshots]]: executor-local
    * `localCheckpoint` by default, else parquet snapshots under one
    * `graft-cc-<uuid>/` run directory. A round's snapshot is dropped as
    * soon as the next round is on disk; on any failure (non-convergence,
    * a Spark job dying mid-round) the run directory is deleted. */
  def duplicateClusters(
      pairs: DataFrame, maxIters: Int = 25,
      checkpointDir: Option[String] = None): DataFrame =
    InternalCaches.snapshots(pairs.sparkSession, checkpointDir, "graft-cc") { run =>
      val p = pairs.select(col("id_a"), col("id_b"))
      val (edges, edgesPath) = run.freeze( // materialize once: candidate gen never re-runs per round
        p.select(col("id_a").as("u"), col("id_b").as("v"))
          .union(p.select(col("id_b").as("u"), col("id_a").as("v"))))
      var (labels, labelsPath) = run.freeze(
        edges.select(col("u").as("id")).distinct()
          .select(col("id"), col("id").as("cluster_id")))
      var changed = true
      var it = 0
      while (changed && it < maxIters) {
        val nmin = edges.join(labels, edges("v") === labels("id"))
          .groupBy("u").agg(min("cluster_id").as("_nmin"))
        val ((next, nextPath), observed) = Observed.run { observe =>
          observe(labels.join(nmin, labels("id") === nmin("u"), "left")
            .select(labels("id"),
              least(col("cluster_id"), coalesce(col("_nmin"), col("cluster_id"))).as("cluster_id"),
              (coalesce(col("_nmin"), col("cluster_id")) < col("cluster_id")).as("_c")),
            "n_changed", Seq(count(when(col("_c"), 1))))
        }(run.freeze)
        changed = observed("n_changed").getLong(0) > 0L
        run.drop(labelsPath) // round N-1's snapshot: unreferenced once round N is on disk
        labelsPath = nextPath
        labels = next.drop("_c")
        it += 1
      }
      if (changed)
        throw new IllegalStateException(
          s"duplicateClusters: not converged after $maxIters rounds (component diameter > $maxIters); raise maxIters")
      run.drop(edgesPath) // the loop is done; only the final label snapshot stays live
      labels
    }

  /** [[duplicateClusters]] by alternating star contraction — same
    * output contract (`(id, cluster_id)`, cluster_id = component min,
    * one row per doc with ≥1 pair, roots self-labeled), different
    * round complexity: **O(log² n) rounds regardless of component
    * shape** (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) versus label propagation's
    * rounds-=-diameter. Near-dup components are usually
    * chains/cliques of a few docs, where propagation's cheaper rounds
    * win — but a boilerplate-chained corpus can produce components
    * whose diameter grows with corpus size, and at 100 TB a
    * 10 000-long chain means 10 000 propagation rounds vs ~15 star
    * rounds. Use this variant when component shape is unknown or
    * adversarial; keep [[duplicateClusters]] for the common
    * small-diameter case.
    *
    * Each round runs Large-Star then Small-Star, each a
    * groupBy-min + join over the edge list (shuffle O(|edges|), edges
    * never grow beyond the input size after distinct):
    *  - Large-Star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u),
    *    v > u — strictly-larger neighbors re-hang from the local min.
    *  - Small-Star(u): m = min(N(u)) over smaller neighbors; emit
    *    (v, m) for v ∈ N(u) ∪ {u}, v ≠ m — the center and its smaller
    *    neighbors star onto the min.
    * The fixed point is a forest of stars rooted at each component's
    * minimum id; the labels are the star edges themselves. Convergence
    * is detected structurally, from two one-column probes per round:
    * the edge set is a star forest — and a fixed point — exactly when
    * (1) no target-side node also occurs on the source side AND
    * (2) every source node occurs exactly once (out-degree 1).
    * BOTH are required: {(5,2),(5,3)} passes the disjointness probe
    * alone but is a "co-star" (node 5 bridging two targets), not a
    * converged forest — ScalaCheck found exactly this against the
    * union-find oracle. With both probes true and the (source >
    * target) edge invariant this implementation maintains, every star
    * root is its component's minimum, and neither star operation ever
    * splits or merges components.
    *
    * `checkpointDir`: as [[duplicateClusters]], per
    * [[graft.InternalCaches.snapshots]], with `graft-ccs-<uuid>/` run
    * directories. */
  def duplicateClustersStar(
      pairs: DataFrame, maxIters: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val b = e.select(col("a"), col("b"))
        .union(e.select(col("b").as("a"), col("a").as("b")))
      val mm = b.groupBy("a").agg(min(col("b")).as("_mn"))
        .select(col("a"), least(col("a"), col("_mn")).as("_m"))
      b.join(mm, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("_m").as("b"))
        .where(col("a") =!= col("b")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical (larger, smaller); m = min neighbor of the center
      val c = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mm = c.groupBy("a").agg(min(col("b")).as("_m"))
      val nbr = c.join(mm, "a").where(col("b") =!= col("_m"))
        .select(col("b").as("a"), col("_m").as("b"))
      nbr.union(mm.select(col("a"), col("_m").as("b")))
        .where(col("a") =!= col("b")).distinct()
    }
    InternalCaches.snapshots(pairs.sparkSession, checkpointDir, "graft-ccs") { run =>
      val p0 = pairs.select(col("id_a"), col("id_b"))
        .where(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("a"),
          least(col("id_a"), col("id_b")).as("b"))
        .distinct()
      var (edges, edgesPath) = run.freeze(p0)
      // Star-forest test (see scaladoc): targets never re-occur as
      // sources AND every source has out-degree 1. Both violation
      // indicators union into ONE limit-1 probe — a single job per
      // round, not two O(|edges|) scans (the r14 advisory); trivially
      // true for an empty set.
      def flattened(e: DataFrame): Boolean =
        e.select(col("b"))
          .join(e.select(col("a").as("b")), Seq("b"), "left_semi")
          .select(lit(1).as("_graft_viol"))
          .union(
            e.groupBy("a").agg(count(lit(1)).as("_n"))
              .where(col("_n") > 1).select(lit(1).as("_graft_viol")))
          .isEmpty
      var converged = flattened(edges)
      var it = 0
      while (!converged && it < maxIters) {
        val (next, nextPath) = run.freeze(smallStar(largeStar(edges)))
        converged = flattened(next)
        run.drop(edgesPath)
        edges = next; edgesPath = nextPath
        it += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"duplicateClustersStar: not converged after $maxIters rounds; raise maxIters")
      // fixed point = stars on component minima: members are the edge
      // heads, roots self-label
      edges.select(col("a").as("id"), col("b").as("cluster_id"))
        .union(edges.select(col("b").as("id"), col("b").as("cluster_id")).distinct())
    }
  }

  // ------------------------------------------------------------------ L3
  /** SimHash near-dup pairs `(id_a, id_b, hamming)` with hamming ≤
    * `maxHamming` (≤ 3 by default). Pigeonhole banding: a 64-bit simhash
    * split into 4 16-bit chunks — any pair within hamming 3 agrees on at
    * least one chunk, so the chunk-equality self-join has recall 1 while
    * random 16-bit collisions keep buckets tiny. Degenerate chunks
    * (identical boilerplate) are bounded by the hot-bucket guard. */
  def simhashPairs(
      df: DataFrame, id: Column, text: Column, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    guardedSigPairs(simhashSignatures(df, id, text), maxHamming, maxBucket)._1

  /** [[simhashPairs]] that ALSO returns what the hot-bucket guard
    * skipped (see [[minhashKeepReported]]). */
  def simhashPairsReported(
      df: DataFrame, id: Column, text: Column, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): (DataFrame, SkippedBuckets) = {
    val (pairs, g) = guardedSigPairs(simhashSignatures(df, id, text), maxHamming, maxBucket)
    (pairs, g.skipped)
  }

  /** Per-doc 64-bit SimHash signatures `(doc_id, sig)` — the upstream
    * stage [[simhashPairs]] bands and joins. Public and exportable so an
    * external engine can re-derive the ENTIRE pairing step (banding,
    * hot-bucket cap, chunk-equality join, hamming filter) from the
    * signatures alone: hamming is `bit_count(xor(sig_a, sig_b))` and the
    * band keys are `(sig >> 16·chunk) & 0xFFFF` — plain integer SQL.
    * The driver's DuckDB oracle does exactly that, so only the hash
    * kernel itself ([[TextFns.simhash64]]) rests on SqlFunctionsSpec. */
  def simhashSignatures(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      TextFns.simhash64(TextFns.wsTokens(TextFns.normText(text))).as("sig"))

  /** Hamming-ball pairs from ANY 64-bit signature frame `(doc_id,
    * sig)` — the pigeonhole banding/cap/join stage shared by text
    * SimHash ([[simhashPairs]]) and image perceptual hashes
    * ([[graft.operators.Media.phashPairs]]): 4×16-bit chunks guarantee
    * recall 1 for hamming ≤ 3, the hot-bucket guard bounds degenerate
    * chunks, and the whole step is re-derivable in plain integer SQL
    * from the exported signatures (the PARTIAL-oracle contract). */
  def pairsFromSigs64(
      sigs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    guardedSigPairs(sigs, maxHamming, maxBucket)._1

  /** The banded, guarded chunk-equality join of [[pairsFromSigs64]]
    * and the guard that capped it. */
  private def guardedSigPairs(
      sigs: DataFrame, maxHamming: Int, maxBucket: Int): (DataFrame, Guarded) = {
    val g = guardBuckets(bandSigs64(sigs), Seq("chunk", "ckey"), maxBucket)
    (simhashJoin(g.capped, maxHamming), g)
  }

  /** `(_id, _sh, chunk, ckey)` — one row per (doc, 16-bit chunk). */
  private def bandSigs64(sigs: DataFrame): DataFrame = {
    val h = sigs.toDF("_id", "_sh")
    val chunks = (0 until 4).map { i =>
      struct(lit(i).as("chunk"), shiftright(col("_sh"), i * 16).bitwiseAND(lit(0xFFFFL)).as("ckey"))
    }
    h.select(col("_id"), col("_sh"), explode(array(chunks: _*)).as("c"))
      .select(col("_id"), col("_sh"), col("c.chunk").as("chunk"), col("c.ckey").as("ckey"))
  }

  private def simhashJoin(capped: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= 3, "4-chunk pigeonhole guarantees recall only for hamming <= 3")
    val a = capped.toDF("id_a", "sh_a", "chunk", "ckey")
    val b = capped.toDF("id_b", "sh_b", "chunk", "ckey")
    a.join(b, Seq("chunk", "ckey"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("int").as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------------ L5
  /** Embedding cosine near-dup pairs `(id_a, id_b, sim)` with rounded
    * cosine ≥ `tau`, candidates from random-hyperplane (sign) LSH:
    * `tables` independent bucket tables of `bitsPerTable` hyperplanes
    * each. The self-join keys are (table, bucket) — never all-pairs —
    * and only `(id, tbl, bucket)` rides the candidate shuffle: vectors
    * are joined back by id for the exact-cosine verify step, so the
    * O(n·tables) exploded stream stays ~24 bytes/row instead of
    * carrying the embedding ×tables. Oversized buckets (degenerate
    * near-identical embeddings) are dropped by the hot-bucket guard.
    * Recall is probabilistic (raise `tables` to push it up); the
    * DedupSpec pins it against brute force on planted duplicates. */
  def embeddingPairs(
      df: DataFrame, id: Column, vec: Column, tau: Double, dim: Int,
      tables: Int = 8, bitsPerTable: Int = 8, seed: Long = 7L,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    embeddingVerify(
      embeddingCandidates(df, id, vec, dim, tables, bitsPerTable, seed, maxBucket),
      df, id, vec, tau)

  /** The LSH candidate pairs `(id_a, id_b)` of [[embeddingPairs]],
    * BEFORE exact-cosine verification — public and exportable so an
    * external engine can re-derive the whole verify/threshold stage
    * from the candidates plus the raw vectors (the driver's DuckDB
    * oracle reruns it with `list_cosine_similarity`), leaving only the
    * hyperplane hashing to AnnSpec's recall gate. */
  def embeddingCandidates(
      df: DataFrame, id: Column, vec: Column, dim: Int,
      tables: Int = 8, bitsPerTable: Int = 8, seed: Long = 7L,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    guardedEmbeddingCandidates(df, id, vec, dim, tables, bitsPerTable, seed, maxBucket)._1

  /** [[embeddingPairs]] that ALSO returns what the hot-bucket guard
    * skipped (see [[minhashKeepReported]]). */
  def embeddingPairsReported(
      df: DataFrame, id: Column, vec: Column, tau: Double, dim: Int,
      tables: Int = 8, bitsPerTable: Int = 8, seed: Long = 7L,
      maxBucket: Int = DefaultMaxBucket): (DataFrame, SkippedBuckets) = {
    val (cands, g) =
      guardedEmbeddingCandidates(df, id, vec, dim, tables, bitsPerTable, seed, maxBucket)
    (embeddingVerify(cands, df, id, vec, tau), g.skipped)
  }

  /** [[embeddingCandidates]] and the guard that capped them. Only
    * `(_id, tbl, bucket)` rides the candidate shuffle, never vectors. */
  private def guardedEmbeddingCandidates(
      df: DataFrame, id: Column, vec: Column, dim: Int,
      tables: Int, bitsPerTable: Int, seed: Long, maxBucket: Int): (DataFrame, Guarded) = {
    val bk = Vec.hyperplaneBuckets(df.select(id.as("_id"), vec.as("_v")),
        col("_v"), dim, tables, bitsPerTable, seed)
      .select("_id", "tbl", "bucket")
    val g = guardBuckets(bk, Seq("tbl", "bucket"), maxBucket)
    (bucketSelfJoin(g.capped, Seq("tbl", "bucket")), g)
  }

  /** Exact-cosine verification: join vectors back by id, keep ≥ tau. */
  private def embeddingVerify(
      cand: DataFrame, df: DataFrame, id: Column, vec: Column, tau: Double): DataFrame = {
    val vecs = df.select(id.as("_vid"), vec.as("_vv"))
    cand
      .join(vecs.select(col("_vid").as("id_a"), col("_vv").as("_v_a")), "id_a")
      .join(vecs.select(col("_vid").as("id_b"), col("_vv").as("_v_b")), "id_b")
      .select(col("id_a"), col("id_b"), round(Vec.cosine(col("_v_a"), col("_v_b")), 6).as("sim"))
      .where(col("sim") >= tau)
  }

  // ----------------------------------------------------------------- L23
  /** SemDeDup-style semantic near-dup pairs `(id_a, id_b, sim)` with
    * rounded cosine ≥ `tau`: k-means partition the embedding space
    * (the trained IVF coarse quantizer — [[Ann.trainIvf]]), then
    * compare WITHIN each cluster only (Abbas et al. 2023, "SemDeDup",
    * arXiv:2303.09540). Complements the sign-LSH path
    * ([[embeddingPairs]]): clusters are k DISJOINT cells (one top-1
    * assignment per vector — each candidate pair arises exactly once,
    * no cross-table dedup pass, no ×tables explode of the id stream),
    * and cluster granularity is a single dial — at 100 TB size
    * `nClusters ≈ n / targetClusterSize` so the per-cluster self-join
    * stays bounded; degenerate piles beyond that land on the same
    * hot-bucket guard as every other LSH path. Recall: a near-dup pair
    * split across a k-means boundary is missed — the published method
    * accepts this (its clusters are exactly this partition); raise
    * `nClusters` resolution or fall back to [[embeddingPairs]]' multi-
    * table LSH when boundary recall matters. Keep semantics downstream
    * ([[semanticKeep]]) follow the module contract: drop `id_b` of
    * every verified pair, min-id representative survives (the paper
    * keeps the member farthest from the centroid; representative
    * choice does not change WHAT is duplicated, and min-id keeps the
    * keep-list deterministic and oracle-able). */
  def semanticPairs(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      tau: Double, maxBucket: Int = DefaultMaxBucket): DataFrame =
    embeddingVerify(semanticCandidates(unit, df, id, vec, maxBucket), df, id, vec, tau)

  /** [[semanticPairs]] with quantizer training inlined (gate/small-corpus
    * convenience; production trains once via [[Ann.trainIvf]] +
    * [[Ann.saveIvf]] and passes the loaded quantizer). */
  def semanticPairs(
      df: DataFrame, id: Column, vec: Column, tau: Double, dim: Int,
      nClusters: Int, trainSampleRows: Int, seed: Long,
      maxBucket: Int): DataFrame = {
    val unit = Ann.trainIvf(df, vec, dim, nClusters, trainSampleRows, seed)
    if (unit.isEmpty) emptyPairs(df, id)
    else semanticPairs(unit, df, id, vec, tau, maxBucket)
  }

  /** The within-cluster candidate pairs `(id_a, id_b)` of
    * [[semanticPairs]], BEFORE exact-cosine verification — public and
    * exportable so an external engine can re-derive the verify stage
    * from the candidates plus the raw vectors (the driver's DuckDB
    * oracle reruns it with `list_cosine_similarity`), leaving only
    * centroid training/assignment to the spec's recall gate. */
  def semanticCandidates(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    guardedSemanticCandidates(unit, df, id, vec, maxBucket)._1

  /** [[semanticPairs]] that ALSO returns what the hot-bucket guard
    * skipped (see [[minhashKeepReported]]); an empty quantizer yields
    * no pairs and a `(0, 0)` report. */
  def semanticPairsReported(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      tau: Double, maxBucket: Int = DefaultMaxBucket): (DataFrame, SkippedBuckets) = {
    val (cands, g) = guardedSemanticCandidates(unit, df, id, vec, maxBucket)
    (embeddingVerify(cands, df, id, vec, tau), g.fold(SkippedBuckets(0L, 0L))(_.skipped))
  }

  /** [[semanticCandidates]] and the guard that capped them (None for an
    * empty quantizer: nothing is assigned, nothing is guarded). */
  private def guardedSemanticCandidates(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      maxBucket: Int): (DataFrame, Option[Guarded]) =
    if (unit.isEmpty) (emptyPairs(df, id).select("id_a", "id_b"), None)
    else {
      val assigned = Ann.assignClusters(unit, df, id, vec).toDF("_id", "cid")
      // No distinct needed (unlike bucketSelfJoin): top-1 assignment puts
      // each id in exactly one cluster, so a pair arises at most once.
      val g = guardBuckets(assigned, Seq("cid"), maxBucket)
      val a = g.capped.toDF("id_a", "cid")
      val b = g.capped.toDF("id_b", "cid")
      (a.join(b, Seq("cid")).where(col("id_a") < col("id_b")).select("id_a", "id_b"), Some(g))
    }

  /** Rows surviving semantic dedup: drop `id_b` of every verified pair
    * (min-id representative per duplicate relation), same left-anti
    * keep shape as [[minhashKeep]]. Rows with unusable vectors are
    * KEPT — they join no cluster, so they have no evidence of
    * duplication (mirror of decontamination's NULL-text contract). */
  def semanticKeep(
      unit: Array[Array[Double]], df: DataFrame, id: Column, vec: Column,
      tau: Double, maxBucket: Int = DefaultMaxBucket): DataFrame =
    dropLaterIds(df, id, semanticPairs(unit, df, id, vec, tau, maxBucket))

  /** Typed empty `(id_a, id_b, sim)` frame preserving `id`'s type. */
  private def emptyPairs(df: DataFrame, id: Column): DataFrame =
    df.select(id.as("id_a"), id.as("id_b"), lit(0.0).as("sim")).where(lit(false))
}
