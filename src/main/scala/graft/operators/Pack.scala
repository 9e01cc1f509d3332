package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing for training-data pipelines (SURVEY §2.5
  * L17): assign documents, in deterministic id order, to consecutive
  * shards of ~`budget` tokens each — the "concatenate docs into
  * fixed-size training shards" step that follows dedup + filtering.
  *
  * Semantics (greedy sequential, the standard data-prep contract):
  * walk docs in ascending `id` order, keep a running token total, and
  * give each doc `shard_id = floor(tokens_before_it / budget)`. A doc
  * larger than the budget still lands in one shard (documents are
  * never split here — splitting is a tokenizer-side concern), so shard
  * ids are monotone but may skip values after an oversized doc.
  *
  * The naive plan — `sum(w) OVER (ORDER BY id)` — is a GLOBAL window:
  * Spark sorts everything into ONE partition, which is exactly the
  * anti-pattern that dies at 100 TB. This implementation is the classic
  * two-phase distributed prefix sum instead:
  *
  *  1. Bucket ids into `targetBlocks` CONTIGUOUS ranges (pure
  *     arithmetic on (min,max) — no sampling, so the result is fully
  *     deterministic, unlike `repartitionByRange`'s sampled bounds).
  *  2. Per-block running sum: `sum OVER (PARTITION BY block ORDER BY
  *     id)` — blocks run in parallel, shuffle carries only (id,
  *     weight).
  *  3. Per-block totals (map-side-combined groupBy → ≤ targetBlocks
  *     rows) → collected to the driver (bound asserted), exclusive
  *     prefix offsets computed locally over that TINY frame —
  *     kilobytes, never the data — → broadcast-joined back.
  *
  * global_prefix(row) = block_offset + within_block_cumsum, exactly.
  * The output is a pure function of the (id, weight) multiset and the
  * parameters — independent of input partitioning AND of
  * `targetBlocks` (prefix sums are exact either way), which the spec
  * pins. Requires unique ids (the module-wide convention) and
  * non-negative weights.
  *
  * Returns `(id, weight, shard_id)`; join back by id for full rows.
  */
object Pack {

  /** NOTE: drives THREE evaluations of `df`'s narrow (id, weight)
    * projection — the id-span aggregate, the per-block totals, and the
    * caller's final action. A trivially-scanned input is fine as-is;
    * if `df` sits on an expensive plan (joins, regex chains), hand in
    * a materialized stage (localCheckpoint / persisted parquet) or the
    * upstream recomputes three times. */
  def packByBudget(
      df: DataFrame, id: Column, weight: Column, budget: Long,
      targetBlocks: Int = 1024): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(targetBlocks > 0, s"targetBlocks must be positive, got $targetBlocks")
    val base = df.select(id.cast("long").as("id"), weight.cast("long").as("weight"))
    val mm = base.agg(min(col("id")), max(col("id"))).head()
    if (mm.isNullAt(0)) // empty input: keep the output schema, no rows
      return base.withColumn("shard_id", lit(0L)).where(lit(false))
    val lo = mm.getLong(0)
    // BigInt end to end: (max - min) can reach 2^64-1, and span/blocks+1
    // can reach 2^63 (e.g. targetBlocks=2 over the full Long range) —
    // BOTH overflow a Long (.toLong of 2^63 wraps NEGATIVE, reversing
    // every block id, which round 10's adversarial-span test caught).
    val blockSize = (BigInt(mm.getLong(1)) - BigInt(lo)) / targetBlocks + 1
    // DECIMAL(38,0) arithmetic in the SQL for the same reason: a Long
    // `id - lo` wraps silently in non-ANSI mode when lo is a large
    // negative and id a large positive; decimal holds the full span
    // exactly and `div` on decimals still yields BIGINT. The string
    // casts also sidestep unparseable literals (there is no
    // `9223372036854775808L` token to negate, and blockSize may exceed
    // Long.MaxValue).
    val blocked = base.withColumn("_blk",
      expr(s"(CAST(id AS DECIMAL(38,0)) - CAST('$lo' AS DECIMAL(38,0)))" +
        s" div CAST('$blockSize' AS DECIMAL(38,0))"))
    val inBlock = Window.partitionBy("_blk").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = blocked.withColumn("_cum", sum(col("weight")).over(inBlock))
    // Exclusive prefix offsets over the ≤ targetBlocks per-block totals.
    // The frame is tiny BY CONSTRUCTION (block id = span div blockSize
    // < targetBlocks — asserted below, not assumed), so an explicit
    // collect-and-broadcast beats the equivalent unpartitioned window:
    // same offsets, no single-partition exchange, and no spurious
    // "WindowExec: No Partition Defined" warning polluting every run's
    // log. The collected rows are block summaries, never the data, and
    // come back unsorted: `exclusiveOffsets` orders them on the driver.
    val totals = blocked.groupBy("_blk").agg(sum(col("weight")).as("_tot")).collect()
    assert(totals.length <= targetBlocks,
      s"block arithmetic bound violated: ${totals.length} blocks > $targetBlocks")
    // a block whose weights are ALL NULL sums to NULL — contribute 0
    // to the running offset instead of NPE-ing the driver (the rows
    // themselves still carry NULL cumsums, matching SQL semantics)
    val blockTotals = totals.toSeq.map(r =>
      (r.getLong(0), (), if (r.isNullAt(1)) 0L else r.getLong(1)))
    val offsetRows = blockTotals.map(_._1).zip(exclusiveOffsets(blockTotals))
    val session = df.sparkSession
    import session.implicits._
    val offsets = offsetRows.toDF("_blk", "_off")
    cum.join(broadcast(offsets), Seq("_blk"))
      .withColumn("shard_id", expr(s"(_off + _cum - weight) div ${budget}L"))
      .select("id", "weight", "shard_id")
  }

  /** Shard-level summary of a [[packByBudget]] assignment: how full
    * each shard actually is — `(shard_id, n_docs, total_weight)`. The
    * operational check that packing produced ~budget-sized shards. */
  def shardStats(assignment: DataFrame): DataFrame =
    assignment.groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("weight")).as("total_weight"))

  /** The placement stage of [[writeShards]], exposed so the spec can
    * plan-gate it: ONE hash exchange on the shard id co-locates each
    * shard wholly in one task (several shards may share a task), the
    * in-partition sort fixes (shard, order) row order, and the 0-based
    * `position` window REUSES that partitioning and ordering — the
    * whole placement is exactly one exchange and one sort, no global
    * window (PackSpec pins the plan). `orderCol` must be unique within
    * a shard (the module-wide unique-id convention) or positions are
    * nondeterministic between equals. */
  private[graft] def placeShards(
      df: DataFrame, shardCol: String, orderCol: String): DataFrame = {
    require(df.columns.contains(shardCol), s"missing shard column '$shardCol'")
    require(df.columns.contains(orderCol), s"missing order column '$orderCol'")
    df.repartition(col(shardCol))
      .sortWithinPartitions(col(shardCol), col(orderCol))
      .withColumn("position",
        (row_number().over(
          Window.partitionBy(col(shardCol)).orderBy(col(orderCol))) - 1).cast("long"))
  }

  /** Materialize a pack assignment as the TRAINING LAYOUT — the
    * data-loader contract every pipeline ends with: one FILE per
    * shard, rows in ascending `orderCol` (doc order) within the file,
    * and a 0-based `position` column stamped per row. On-disk layout
    * is the standard partitioned tree `path/<shardCol>=<id>/part-…`,
    * so `spark.read` restores the shard id and any loader can address
    * one shard as one file.
    *
    * One-file-per-shard follows from contiguity, not luck: after the
    * [[placeShards]] exchange a shard's rows are contiguous in exactly
    * one task, the sort satisfies the dynamic-partition writer's
    * required ordering (no extra sort is inserted), and the writer
    * opens one file per partition value per task. A session-level
    * `spark.sql.files.maxRecordsPerFile` would split shard files and
    * break the contract, so this write overrides it to 0 via a
    * PER-WRITER option (ADVICE r19/r20 — enforced and scoped to this
    * write; no session mutation). At 100 TB the shard BUDGET (not
    * this writer)
    * controls the file-count/file-size trade: budget ≈ tokens-per-
    * training-file, exactly how published pipelines size shards.
    *
    * `format`: "parquet" (default) or "json" (line-delimited JSONL —
    * the other layout data loaders consume). Overwrites `path`.
    * Compose with [[packByBudget]] (`orderCol = "id"`) or
    * [[Sampling.interleaveByWeight]] (`orderCol = "mix_order"`). */
  def writeShards(df: DataFrame, path: String,
      shardCol: String = "shard_id", orderCol: String = "id",
      format: String = "parquet"): Unit = {
    require(format == "parquet" || format == "json",
      s"format must be 'parquet' or 'json', got '$format'")
    // one-file-per-shard contract as a PER-WRITER option (ADVICE r20):
    // the previous session-conf set/restore window was visible to any
    // concurrent write in the same SparkSession, and the restore could
    // clobber a concurrent setter — the DataFrameWriter option scopes
    // the override to exactly this write.
    placeShards(df, shardCol, orderCol)
      .write.mode("overwrite").option("maxRecordsPerFile", 0L)
      .partitionBy(shardCol).format(format).save(path)
  }

  /** Exclusive prefix offsets along the part order, per group: the
    * offset of `totals(i) = (part, group, total)` is the sum of that
    * group's totals over every earlier part. Aligned with `totals`;
    * `(part, group)` pairs must be unique. The driver-side step of every
    * two-phase prefix sum here ([[packByBudget]], the budget cuts,
    * [[Sampling.interleaveByWeight]]): tiny by construction, one row
    * per (part, group), never the data. */
  private[graft] def exclusiveOffsets[P: Ordering, G](totals: Seq[(P, G, Long)]): Seq[Long] = {
    val running = scala.collection.mutable.Map.empty[G, Long]
    val offsets = new Array[Long](totals.size)
    totals.indices.sortBy(i => totals(i)._1).foreach { i =>
      val (_, g, t) = totals(i)
      offsets(i) = running.getOrElse(g, 0L)
      running(g) = offsets(i) + t
    }
    offsets.toSeq
  }

  /** Quality-ordered token-budget SELECTION — the curation step before
    * [[packByBudget]]'s sharding: keep the best-scoring documents whose
    * cumulative weight stays within `budget` ("train on the top N
    * tokens by quality", the standard data-mixture cut). Semantics are
    * a pure prefix of the total order (`score` DESC, `id` ASC as the
    * deterministic tie-break): a row is kept iff its INCLUSIVE running
    * weight ≤ budget; with non-negative weights (required — enforced
    * per row) the kept set is exactly the longest affordable prefix,
    * so the result is a pure function of the (id, weight, score)
    * multiset — independent of input partitioning, which the spec pins.
    * NULL weights count 0 (kept for free, like SQL `sum` skipping
    * nulls).
    *
    * This is [[selectByBudgetPerGroup]] over one group: same scale
    * shape, eagerness and `checkpointDir` contract, with
    * `graft-sb-<uuid>/` run directories.
    *
    * Returns `(id, weight, score, cum_weight)`; [[selectByBudgetKeep]]
    * returns the full kept rows instead. */
  def selectByBudget(
      df: DataFrame, id: Column, weight: Column, score: Column,
      budget: Long, checkpointDir: Option[String] = None): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    cutByBudget(df, id, weight, score, lit(""), Map("" -> budget), checkpointDir, "graft-sb")
      .drop("group")
  }

  /** [[selectByBudget]] returning the FULL kept rows of `df` instead of
    * the narrow (id, weight, score, cum_weight) frame — the one-call
    * "give me the selected documents" API a production pipeline wants
    * (mirrors [[Dedup.exactKeep]]'s shape). The kept-id list is the
    * budget cut's output projected to ids; the left-semi join keeps the
    * winning rows, AQE-broadcastable when the cut is small. Requires
    * unique ids (the module-wide convention). Same eagerness and
    * `checkpointDir` semantics as [[selectByBudget]]. */
  def selectByBudgetKeep(
      df: DataFrame, id: Column, weight: Column, score: Column,
      budget: Long, checkpointDir: Option[String] = None): DataFrame = {
    val keep = selectByBudget(df, id, weight, score, budget, checkpointDir)
      .select(col("id").as("_keep_id"))
    df.join(keep, id.cast("long") === col("_keep_id"), "left_semi")
  }

  /** Per-group [[selectByBudget]] — the data-MIXTURE cut: each group
    * (language, source domain, …) gets its own token budget, and within
    * each group the best-scoring documents are kept up to that budget
    * ("60 % en, 10 % de, … of the training tokens" as absolute
    * per-group budgets). Semantics per group are exactly
    * [[selectByBudget]]'s affordable prefix of the (`score` DESC, `id`)
    * order; groups ABSENT from `budgets` are dropped entirely (budget
    * 0) — a mixture is an explicit contract, not a default-keep.
    *
    * Scale shape: the naive `sum(w) OVER (PARTITION BY group ORDER BY
    * score DESC)` puts each group in one task. Instead:
    * `repartitionByRange` on (group, score DESC, id) (sampled bounds —
    * fine, the kept set depends only on the TOTAL order, never on where
    * partition cuts land) + in-partition sort, each row stamped with its
    * sort partition `_pid`, frozen ONCE so both passes see identical
    * runs; then (1) one narrow pass for per-(`_pid`, group) totals
    * (partitions × groups-per-partition rows to the driver — small for
    * mixture-sized group counts: languages/domains, not high-cardinality
    * keys), exclusive offsets per group along the `_pid` order computed
    * locally ([[exclusiveOffsets]]); (2) one in-order walk of each
    * `_pid` run accumulating offset + running weight — no window
    * exchange, no global sort. In the default mode a partition whose
    * every group is already past its cut is skipped without reading a
    * row. Returns `(id, group, weight, score, cum_weight)`.
    *
    * EAGER: this call runs Spark jobs at construction time (the
    * snapshot + the totals pass) and the returned frame is backed by
    * the lineage-truncated snapshot, registered under `df`'s session.
    * In the default mode do NOT call `GraftSession.releaseCachedBlocks`
    * on that session before consuming the result — the frame cannot
    * recompute once its checkpoint blocks are gone. Consume first,
    * release after. Another session's release leaves it alone.
    *
    * `checkpointDir`: where the sorted projection is frozen, per the
    * contract of [[graft.InternalCaches.snapshots]] (`graft-sbg-<uuid>/`
    * run directories). A parquet read does NOT preserve partition
    * indexes (files are bin-packed by size), which is why the passes key
    * on the stamped `_pid` column; reliable mode re-co-locates on it
    * before the walk — one extra narrow-row shuffle, same semantics.
    *
    * Note: the totals pass and the walk run as RDD/Dataset
    * `mapPartitions` over object rows — the ONE hot loop in this
    * library outside Tungsten / whole-stage codegen. That is
    * deliberate: the walk carries cross-row mutable state (the running
    * prefix) that no codegen'd expression expresses, and the scanned
    * projection is a narrow (id, group, weight, score, _pid) tuple, so
    * the object-row overhead is bounded by design rather than by luck. */
  def selectByBudgetPerGroup(
      df: DataFrame, id: Column, weight: Column, score: Column,
      group: Column, budgets: Map[String, Long],
      checkpointDir: Option[String] = None): DataFrame = {
    require(budgets.values.forall(_ >= 0), s"budgets must be non-negative, got $budgets")
    cutByBudget(df, id, weight, score, group, budgets, checkpointDir, "graft-sbg")
  }

  private def cutByBudget(
      df: DataFrame, id: Column, weight: Column, score: Column,
      group: Column, budgets: Map[String, Long],
      checkpointDir: Option[String], runPrefix: String): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val order = Seq(col("group").asc, col("score").desc, col("id").asc)
    val sorted = df
      .select(id.cast("long").as("id"), group.cast("string").as("group"),
        weight.cast("long").as("weight"), score.cast("double").as("score"))
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("_pid", spark_partition_id())
    val budgetFor: Option[String] => Long = g => g.flatMap(budgets.get).getOrElse(0L)
    graft.InternalCaches.snapshots(session, checkpointDir, runPrefix) { run =>
      val (frozen, _) = run.freeze(sorted)
      val rows = frozen.as[(Long, Option[String], Option[Long], Option[Double], Int)]
      // Pass 1, keyed by the stamped column, not the task: a task of a
      // parquet re-read may hold several runs or part of one, so the
      // per-task sums merge on the driver.
      val totals = rows.rdd
        .mapPartitions { it =>
          val acc = scala.collection.mutable.LinkedHashMap.empty[(Int, Option[String]), Long]
          it.foreach { case (rid, g, w, _, pid) =>
            val wv = w.getOrElse(0L)
            require(wv >= 0, s"budget cuts require non-negative weights; id=$rid has $wv")
            acc((pid, g)) = acc.getOrElse((pid, g), 0L) + wv
          }
          acc.iterator
        }
        .collect().groupMapReduce(_._1)(_._2)(_ + _).toSeq
      val runs = totals.map(_._1)
      val offsets = runs.zip(exclusiveOffsets(totals.map { case ((p, g), t) => (p, g, t) })).toMap
      // Pass 2: walk each (_pid, group) run in order from its offset.
      val walk: Iterator[(Long, Option[String], Option[Long], Option[Double], Int)] =>
          Iterator[(Long, Option[String], Option[Long], Option[Double], Long)] = { it =>
        var curPid = -1
        var curG: Option[String] = None
        var cum = 0L
        it.flatMap { case (rid, g, w, sc, pid) =>
          if (pid != curPid || g != curG) { curPid = pid; curG = g; cum = offsets((pid, g)) }
          cum += w.getOrElse(0L)
          if (cum <= budgetFor(g)) Some((rid, g, w, sc, cum)) else None
        }
      }
      val out = Seq("id", "group", "weight", "score", "cum_weight")
      checkpointDir match {
        case None =>
          // the local snapshot keeps partition i == run _pid i: a
          // partition whose every group is past its cut reads no row
          val pastCut = offsets.groupBy(_._1._1).collect {
            case (pid, gs) if gs.forall { case ((_, g), off) => off > budgetFor(g) } => pid
          }.toSet
          rows.rdd.mapPartitionsWithIndex { (pid, it) =>
            if (pastCut(pid)) Iterator.empty else walk(it)
          }.toDF(out: _*)
        case Some(_) =>
          // a parquet read bin-packs files: re-co-locate each _pid run
          // (several may share a task; each stays contiguous and ordered)
          val nPids = if (runs.isEmpty) 1 else runs.map(_._1).max + 1
          rows.repartition(nPids, col("_pid"))
            .sortWithinPartitions(col("_pid") +: order: _*)
            .mapPartitions(walk).toDF(out: _*)
      }
    }
  }

  /** [[selectByBudgetPerGroup]] returning the FULL kept rows of `df`
    * (left-semi on id), mirroring [[selectByBudgetKeep]]. */
  def selectByBudgetPerGroupKeep(
      df: DataFrame, id: Column, weight: Column, score: Column,
      group: Column, budgets: Map[String, Long],
      checkpointDir: Option[String] = None): DataFrame = {
    val keep = selectByBudgetPerGroup(df, id, weight, score, group, budgets, checkpointDir)
      .select(col("id").as("_keep_id"))
    df.join(keep, id.cast("long") === col("_keep_id"), "left_semi")
  }

  /** Operational summary of a [[selectByBudgetPerGroup]] result: how
    * full each group's budget actually is —
    * `(group, n_docs, total_weight, budget, fill)`. A group far below
    * `fill = 1.0` ran out of documents before budget (the mixture is
    * supply-constrained there); absent groups were dropped. */
  def mixtureStats(kept: DataFrame, budgets: Map[String, Long]): DataFrame = {
    val session = kept.sparkSession
    import session.implicits._
    val b = budgets.toSeq.toDF("group", "budget")
    // Budgets are the preserved side, so join FROM them (left outer)
    // and broadcast the per-group aggregate — Spark can only build the
    // non-preserved side, so a hint on the right of a right-outer join
    // is silently dropped (the r13 shape). Both frames are
    // mixture-sized; the aggregate side is the buildable one here.
    val agg = kept.groupBy("group")
      .agg(count(lit(1)).as("n_docs"), sum(col("weight")).as("total_weight"))
    b.join(broadcast(agg), Seq("group"), "left")
      .na.fill(0L, Seq("n_docs", "total_weight"))
      .withColumn("fill",
        when(col("budget") > 0, col("total_weight").cast("double") / col("budget"))
          .otherwise(lit(0.0)))
      .select("group", "n_docs", "total_weight", "budget", "fill")
  }
}
