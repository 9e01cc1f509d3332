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
    // log. The collected rows are block summaries, never the data.
    val totals = blocked.groupBy("_blk").agg(sum(col("weight")).as("_tot"))
      .orderBy("_blk").collect()
    assert(totals.length <= targetBlocks,
      s"block arithmetic bound violated: ${totals.length} blocks > $targetBlocks")
    var acc = 0L
    val offsetRows = totals.map { r =>
      // a block whose weights are ALL NULL sums to NULL — contribute 0
      // to the running offset instead of NPE-ing the driver (the rows
      // themselves still carry NULL cumsums, matching SQL semantics)
      val off = acc; acc += (if (r.isNullAt(1)) 0L else r.getLong(1)); (r.getLong(0), off)
    }.toSeq
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
    * Scale shape: the naive `sum(w) OVER (ORDER BY score DESC)` is a
    * one-partition global sort. Instead: `repartitionByRange` on the
    * order keys (sampled bounds — fine here, because the kept set
    * depends only on the TOTAL order, never on where partition cuts
    * land) + in-partition sort, materialized ONCE so the two passes
    * below see identical partitions; then (1) one narrow pass for
    * per-partition totals (≤ shuffle-partitions rows to the driver),
    * exclusive offsets computed locally; (2) one in-order pass per
    * partition accumulating offset + running weight — no window
    * exchange, and in the default mode partitions whose offset already
    * exceeds the budget short-circuit without reading a row.
    *
    * EAGER: this call runs Spark jobs at construction time (the
    * snapshot + the totals pass) and the returned frame is backed by
    * the lineage-truncated snapshot, registered under `df`'s session.
    * In the default mode do NOT call `GraftSession.releaseCachedBlocks`
    * on that session before consuming the result — the frame cannot
    * recompute once its checkpoint blocks are gone. Consume first,
    * release after. Another session's release leaves it alone.
    *
    * `checkpointDir`: by default the sorted projection is pinned with
    * `localCheckpoint`, whose blocks live in EXECUTOR-LOCAL storage —
    * fine on local[n], but on a real cluster an executor loss mid-job
    * kills the query (lineage truncated, blocks gone). Pass a reliable
    * store path (HDFS/S3) to snapshot the projection to parquet there
    * instead, exactly like [[Dedup.duplicateClusters]]. Because a
    * parquet read does NOT preserve partition indexes (files are
    * bin-packed by size), reliable mode stamps each row with its sort
    * partition id before the write and re-co-locates on that column
    * for the walk — one extra narrow-row shuffle, same semantics. On
    * successful return one `graft-sb-<uuid>/` directory remains (it
    * backs the returned lazy frame) and is the caller's to delete once
    * consumed; on failure it is best-effort deleted.
    *
    * Note: the totals pass and the walk run as RDD `mapPartitions` over
    * object rows — the ONE hot loop in this library outside Tungsten /
    * whole-stage codegen. That is deliberate: the walk carries cross-row
    * mutable state (the running prefix) that no codegen'd expression
    * expresses, and the scanned projection is a narrow ~24 B/row
    * (id, weight, score) triple, so the object-row overhead is bounded
    * by design rather than by luck.
    *
    * Returns `(id, weight, score, cum_weight)`; [[selectByBudgetKeep]]
    * returns the full kept rows instead. */
  def selectByBudget(
      df: DataFrame, id: Column, weight: Column, score: Column,
      budget: Long, checkpointDir: Option[String] = None): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    val session = df.sparkSession
    import session.implicits._
    val proj = df.select(id.cast("long").as("id"),
      weight.cast("long").as("weight"), score.cast("double").as("score"))
    checkpointDir match {
      case None =>
        val sorted = graft.InternalCaches.checkpoint(proj
          .repartitionByRange(col("score").desc, col("id").asc)
          .sortWithinPartitions(col("score").desc, col("id").asc))
        val ds = sorted.as[(Long, Option[Long], Option[Double])]
        val totals = ds.rdd
          .mapPartitionsWithIndex { (pid, it) =>
            var s = 0L
            it.foreach { case (rid, w, _) =>
              val wv = w.getOrElse(0L)
              require(wv >= 0, s"selectByBudget requires non-negative weights; id=$rid has $wv")
              s += wv
            }
            Iterator.single((pid, s))
          }
          .collect().sortBy(_._1).map(_._2)
        // exclusive prefix offsets, one Long per partition — closure-shipped
        val offsets = totals.scanLeft(0L)(_ + _)
        val kept = ds.rdd.mapPartitionsWithIndex { (pid, it) =>
          var cum = offsets(pid)
          if (cum > budget) Iterator.empty // whole partition is past the cut
          else it.flatMap { case (rid, w, sc) =>
            cum += w.getOrElse(0L)
            if (cum <= budget) Some((rid, w, sc, cum)) else None
          }
        }
        kept.toDF("id", "weight", "score", "cum_weight")

      case Some(dir) =>
        val runDir = s"$dir/graft-sb-${java.util.UUID.randomUUID()}"
        try {
          // Stamp the sort partition id BEFORE the write: the parquet
          // read bin-packs files by size, so physical read partitions
          // carry no order — the stamped column does.
          val sorted = proj
            .repartitionByRange(col("score").desc, col("id").asc)
            .sortWithinPartitions(col("score").desc, col("id").asc)
            .withColumn("_pid", spark_partition_id())
          sorted.write.parquet(runDir)
          val snap = session.read.schema(sorted.schema).parquet(runDir)
          // Pass 1: per-sort-partition totals + a weight floor check.
          val totRows = snap.groupBy("_pid")
            .agg(sum(col("weight")).as("_tot"), min(col("weight")).as("_minw"))
            .collect()
          totRows.foreach { r =>
            require(r.isNullAt(2) || r.getLong(2) >= 0,
              s"selectByBudget requires non-negative weights; partition ${r.getInt(0)} has ${r.getLong(2)}")
          }
          val byPid = totRows.map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
          val maxPid = if (byPid.isEmpty) -1 else byPid.keys.max
          val offsets = (0 to maxPid).map(byPid.getOrElse(_, 0L)).scanLeft(0L)(_ + _).toArray
          // Pass 2: co-locate each sort partition (hash on _pid — several
          // pids may share a task; each pid's run is contiguous after the
          // in-partition sort, so a keyed walk resumes cleanly per run).
          val ds = snap
            .repartition(math.max(1, maxPid + 1), col("_pid"))
            .sortWithinPartitions(col("_pid").asc, col("score").desc, col("id").asc)
            .as[(Long, Option[Long], Option[Double], Int)]
          ds.mapPartitions { it =>
            var cur = -1
            var cum = 0L
            it.flatMap { case (rid, w, sc, pid) =>
              if (pid != cur) { cur = pid; cum = offsets(pid) }
              cum += w.getOrElse(0L)
              if (cum <= budget) Some((rid, w, sc, cum)) else None
            }
          }.toDF("id", "weight", "score", "cum_weight")
        } catch {
          case e: Throwable =>
            val p = new org.apache.hadoop.fs.Path(runDir)
            try p.getFileSystem(session.sparkContext.hadoopConfiguration).delete(p, true)
            catch { case _: Throwable => () }
            throw e
        }
    }
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
    * Scale shape: range-partition on (group, score DESC, id) so every
    * partition holds contiguous runs of at most a few groups; pass 1
    * aggregates per-(partition, group) totals (rows = partitions ×
    * groups-per-partition — small for mixture-sized group counts, which
    * is the intended regime: languages/domains, not high-cardinality
    * keys); the driver computes each group's running offset along the
    * partition order; pass 2 walks each partition once, accumulating
    * per group. No window exchange, no global sort. Returns
    * `(id, group, weight, score, cum_weight)`.
    *
    * Same eagerness caveat as [[selectByBudget]] (jobs run at
    * construction; consume before releasing cached blocks), and the
    * same `checkpointDir` escape hatch: pass a reliable store path to
    * snapshot via parquet (partition ids stamped pre-write, re-located
    * post-read) instead of executor-local `localCheckpoint` blocks. */
  def selectByBudgetPerGroup(
      df: DataFrame, id: Column, weight: Column, score: Column,
      group: Column, budgets: Map[String, Long],
      checkpointDir: Option[String] = None): DataFrame = {
    require(budgets.values.forall(_ >= 0), s"budgets must be non-negative, got $budgets")
    val session = df.sparkSession
    import session.implicits._
    val proj = df
      .select(id.cast("long").as("id"), group.cast("string").as("group"),
        weight.cast("long").as("weight"), score.cast("double").as("score"))
      .repartitionByRange(col("group").asc, col("score").desc, col("id").asc)
      .sortWithinPartitions(col("group").asc, col("score").desc, col("id").asc)
    val budgetFor: Option[String] => Long = g => g.flatMap(budgets.get).getOrElse(0L)

    def offsetsOf(totals: Array[(Int, Option[String], Long)]): Map[(Int, Option[String]), Long] = {
      // per-group exclusive offsets along the partition order — tiny
      // (partitions × groups-per-partition rows), computed locally
      val running = scala.collection.mutable.Map.empty[Option[String], Long]
      totals.sortBy(_._1).map { case (pid, g, t) =>
        val off = running.getOrElse(g, 0L)
        running(g) = off + t
        (pid, g) -> off
      }.toMap
    }

    checkpointDir match {
      case None =>
        val sorted = graft.InternalCaches.checkpoint(proj)
        val ds = sorted.as[(Long, Option[String], Option[Long], Option[Double])]
        val totals = ds.rdd
          .mapPartitionsWithIndex { (pid, it) =>
            val acc = scala.collection.mutable.LinkedHashMap.empty[Option[String], Long]
            it.foreach { case (rid, g, w, _) =>
              val wv = w.getOrElse(0L)
              require(wv >= 0,
                s"selectByBudgetPerGroup requires non-negative weights; id=$rid has $wv")
              acc(g) = acc.getOrElse(g, 0L) + wv
            }
            acc.iterator.map { case (g, t) => (pid, g, t) }
          }
          .collect()
        val offsetByPidGroup = offsetsOf(totals)
        val kept = ds.rdd.mapPartitionsWithIndex { (pid, it) =>
          val cums = scala.collection.mutable.Map.empty[Option[String], Long]
          it.flatMap { case (rid, g, w, sc) =>
            val cum = cums.getOrElse(g, offsetByPidGroup.getOrElse((pid, g), 0L)) + w.getOrElse(0L)
            cums(g) = cum
            if (cum <= budgetFor(g)) Some((rid, g, w, sc, cum)) else None
          }
        }
        kept.toDF("id", "group", "weight", "score", "cum_weight")

      case Some(dir) =>
        val runDir = s"$dir/graft-sbg-${java.util.UUID.randomUUID()}"
        try {
          val sorted = proj.withColumn("_pid", spark_partition_id())
          sorted.write.parquet(runDir)
          val snap = session.read.schema(sorted.schema).parquet(runDir)
          val totRows = snap.groupBy("_pid", "group")
            .agg(sum(col("weight")).as("_tot"), min(col("weight")).as("_minw"))
            .collect()
          totRows.foreach { r =>
            require(r.isNullAt(3) || r.getLong(3) >= 0,
              s"selectByBudgetPerGroup requires non-negative weights; group ${r.get(1)} has ${r.getLong(3)}")
          }
          val totals = totRows.map { r =>
            (r.getInt(0), Option(r.getString(1)), if (r.isNullAt(2)) 0L else r.getLong(2))
          }
          val offsetByPidGroup = offsetsOf(totals)
          val maxPid = if (totals.isEmpty) -1 else totals.map(_._1).max
          val ds = snap
            .repartition(math.max(1, maxPid + 1), col("_pid"))
            .sortWithinPartitions(col("_pid").asc, col("group").asc,
              col("score").desc, col("id").asc)
            .as[(Long, Option[String], Option[Long], Option[Double], Int)]
          ds.mapPartitions { it =>
            var curPid = -1
            var curG: Option[String] = None
            var started = false
            var cum = 0L
            it.flatMap { case (rid, g, w, sc, pid) =>
              if (!started || pid != curPid || g != curG) {
                started = true; curPid = pid; curG = g
                cum = offsetByPidGroup.getOrElse((pid, g), 0L)
              }
              cum += w.getOrElse(0L)
              if (cum <= budgetFor(g)) Some((rid, g, w, sc, cum)) else None
            }
          }.toDF("id", "group", "weight", "score", "cum_weight")
        } catch {
          case e: Throwable =>
            val p = new org.apache.hadoop.fs.Path(runDir)
            try p.getFileSystem(session.sparkContext.hadoopConfiguration).delete(p, true)
            catch { case _: Throwable => () }
            throw e
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
