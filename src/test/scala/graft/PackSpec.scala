package graft

import org.apache.spark.sql.functions._
import graft.operators.Pack

/** L17 token-budget shard packing: the distributed two-phase prefix sum
  * must equal the sequential greedy reference exactly, independent of
  * input partitioning and of the block count. */
class PackSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: walk ids in order, shard = floor(pre / budget). */
  private def reference(rows: Seq[(Long, Long)], budget: Long): Map[Long, Long] = {
    var pre = 0L
    rows.sortBy(_._1).map { case (id, w) =>
      val shard = pre / budget
      pre += w
      id -> shard
    }.toMap
  }

  private def packed(rows: Seq[(Long, Long)], budget: Long, blocks: Int = 1024): Map[Long, Long] =
    Pack.packByBudget(rows.toDF("id", "w"), col("id"), col("w"), budget, blocks)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("matches the sequential greedy reference") {
    val rnd = new scala.util.Random(42)
    val rows = (1L to 500L).map(id => id -> (rnd.nextInt(300) + 1).toLong)
    assert(packed(rows, budget = 1000) == reference(rows, 1000))
  }

  test("independent of partitioning and of targetBlocks") {
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(id => id -> (rnd.nextInt(100) + 1).toLong)
    val expect = reference(rows, 500)
    assert(packed(rows, 500, blocks = 1) == expect)   // degenerate: one block
    assert(packed(rows, 500, blocks = 7) == expect)
    assert(packed(rows, 500, blocks = 4096) == expect) // more blocks than rows
    val shuffled = Pack.packByBudget(
      rows.toDF("id", "w").repartition(13), col("id"), col("w"), 500)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shuffled == expect)
  }

  test("sparse, non-contiguous ids pack in id order") {
    val rows = Seq(5L -> 10L, 1000L -> 10L, 7L -> 10L, 999999L -> 10L, 2L -> 10L)
    assert(packed(rows, budget = 25) == reference(rows, 25))
  }

  test("chunk-shaped ids (doc_id·2³² + chunk_id): huge uniform gaps between docs pack in pair order") {
    // the Chunk.packChunks synthesis: ids cluster in tiny dense runs
    // (one per doc) separated by ~2³² gaps — the block arithmetic must
    // not collapse every run into one block or overflow on the span
    val ids = for (doc <- Seq(0L, 3L, 17L, 1000000L, Int.MaxValue.toLong); c <- 0L until 4L)
      yield (doc << 32) + c
    val rnd = new scala.util.Random(11)
    val rows = ids.map(_ -> (rnd.nextInt(50) + 1).toLong)
    assert(packed(rows, budget = 120) == reference(rows, 120))
    assert(packed(rows, budget = 120, blocks = 3) == reference(rows, 120))
  }

  test("negative ids pack in id order (block arithmetic handles lo < 0)") {
    val rows = Seq(-100L -> 10L, -5L -> 10L, 0L -> 10L, 42L -> 10L)
    assert(packed(rows, budget = 15) == reference(rows, 15))
  }

  test("adversarial id span: Long.MinValue to Long.MaxValue does not overflow the block math") {
    // (id - lo) overflows Long when lo = MinValue and id > 0 — the
    // DECIMAL(38,0) block arithmetic must keep blocks monotone (and the
    // MinValue literal itself must render parseable)
    val rows = Seq(Long.MinValue -> 10L, -1L -> 10L, 0L -> 10L,
      1234567L -> 10L, Long.MaxValue -> 10L)
    assert(packed(rows, budget = 25) == reference(rows, 25))
    assert(packed(rows, budget = 25, blocks = 2) == reference(rows, 25))
  }

  test("a doc larger than the budget occupies its own shard; ids skip") {
    // pre: 0, 5000, 5010 → shards 0, 5, 5
    val rows = Seq(1L -> 5000L, 2L -> 10L, 3L -> 10L)
    val m = packed(rows, budget = 1000)
    assert(m == Map(1L -> 0L, 2L -> 5L, 3L -> 5L))
  }

  test("zero-weight docs ride along without advancing the budget") {
    val rows = Seq(1L -> 0L, 2L -> 10L, 3L -> 0L, 4L -> 10L)
    assert(packed(rows, budget = 15) == reference(rows, 15))
  }

  test("packByBudget launches at most 4 jobs while being built") {
    // the id-span aggregate and the per-block totals, each a partial
    // aggregate's shuffle map stage and its final stage
    val rows = (1L to 2000L).map(id => id -> (id * 37 % 101)).toDF("id", "w")
    val (_, jobs) = jobsDuring(Pack.packByBudget(rows, col("id"), col("w"), budget = 1000, targetBlocks = 16))
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("empty input yields an empty, correctly-shaped result") {
    val out = Pack.packByBudget(
      Seq.empty[(Long, Long)].toDF("id", "w"), col("id"), col("w"), 100)
    assert(out.columns.toSeq == Seq("id", "weight", "shard_id"))
    assert(out.count() == 0)
  }

  // ------------------------------------------------ selectByBudget (L17b)

  /** Sequential reference: sort (score desc, id), keep the longest
    * prefix whose inclusive running weight stays ≤ budget. */
  private def selRef(rows: Seq[(Long, Long, Double)], budget: Long): Set[Long] = {
    var cum = 0L
    rows.sortBy { case (id, _, s) => (-s, id) }.flatMap { case (id, w, _) =>
      cum += w
      if (cum <= budget) Some(id) else None
    }.toSet
  }

  private def selected(rows: Seq[(Long, Long, Double)], budget: Long,
      parts: Int = 1): Set[Long] =
    Pack.selectByBudget(
      rows.toDF("id", "w", "s").repartition(parts),
      col("id"), col("w"), col("s"), budget)
      .collect().map(_.getLong(0)).toSet

  test("selectByBudget matches the sequential quality-cut reference") {
    val rnd = new scala.util.Random(21)
    val rows = (1L to 600L).map(id =>
      (id, (rnd.nextInt(200) + 1).toLong, rnd.nextDouble()))
    val expect = selRef(rows, budget = 12000)
    assert(expect.nonEmpty && expect.size < rows.size) // the cut actually bites
    assert(selected(rows, 12000) == expect)
    assert(selected(rows, 12000, parts = 17) == expect) // partition-invariant
  }

  test("selectByBudget: score ties break by id; cum_weight is the exact inclusive prefix") {
    val rows = Seq((5L, 10L, 1.0), (2L, 10L, 1.0), (9L, 10L, 2.0), (7L, 10L, 1.0))
    // order: 9 (score 2), then 2, 5, 7 (ties by id); budget admits three
    val got = Pack.selectByBudget(rows.toDF("id", "w", "s"),
        col("id"), col("w"), col("s"), budget = 30)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._2)
    assert(got.toSeq == Seq((9L, 10L), (2L, 20L), (5L, 30L)))
  }

  test("selectByBudget edges: zero budget, oversized head, NULL weight rides free") {
    val rows = Seq((1L, 100L, 3.0), (2L, 5L, 2.0))
    assert(selected(rows, budget = 0) == Set.empty)
    // best doc alone exceeds the budget -> prefix is empty (pure prefix
    // semantics: the cut never skips ahead to a cheaper lower-score doc)
    assert(selected(rows, budget = 50) == Set.empty)
    val withNull = Seq((1L, java.lang.Long.valueOf(20L), 2.0), (2L, null.asInstanceOf[java.lang.Long], 1.5), (3L, java.lang.Long.valueOf(20L), 1.0))
      .toDF("id", "w", "s")
    val kept = Pack.selectByBudget(withNull, col("id"), col("w"), col("s"), budget = 25)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L)) // null weight keeps for free, 3 busts the budget
    val neg = Seq((1L, -5L, 1.0)).toDF("id", "w", "s")
    intercept[Exception] {
      Pack.selectByBudget(neg, col("id"), col("w"), col("s"), 10).collect()
    }
  }

  /** Per-group sequential reference: each group independently keeps its
    * affordable (score desc, id) prefix; unbudgeted groups drop. */
  private def selGroupRef(rows: Seq[(Long, String, Long, Double)],
      budgets: Map[String, Long]): Set[Long] =
    rows.groupBy(_._2).flatMap { case (g, rs) =>
      var cum = 0L
      rs.sortBy { case (id, _, _, s) => (-s, id) }.flatMap { case (id, _, w, _) =>
        cum += w
        if (cum <= budgets.getOrElse(g, 0L)) Some(id) else None
      }
    }.toSet

  test("selectByBudgetPerGroup matches the per-group reference; unbudgeted groups drop") {
    val rnd = new scala.util.Random(77)
    val langs = Seq("en", "de", "fr", "xx")
    val rows = (1L to 500L).map(id =>
      (id, langs(rnd.nextInt(langs.size)), (rnd.nextInt(100) + 1).toLong, rnd.nextDouble()))
    val budgets = Map("en" -> 2000L, "de" -> 800L, "fr" -> 1L) // no "xx": dropped
    val expect = selGroupRef(rows, budgets)
    assert(expect.nonEmpty)
    val got = Pack.selectByBudgetPerGroup(
      rows.toDF("id", "g", "w", "s").repartition(11),
      col("id"), col("w"), col("s"), col("g"), budgets)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // per-group budgets are enforced independently
    val byGroup = Pack.selectByBudgetPerGroup(
      rows.toDF("id", "g", "w", "s"), col("id"), col("w"), col("s"), col("g"), budgets)
      .collect().groupBy(_.getString(1))
    byGroup.foreach { case (g, rs) =>
      assert(rs.map(_.getLong(2)).sum <= budgets(g))
    }
    assert(!byGroup.contains("xx"))
  }

  test("selectByBudget reliable checkpointDir mode matches the default mode exactly") {
    // The escape hatch for real clusters: parquet snapshot instead of
    // executor-local localCheckpoint blocks. Partition ids are stamped
    // pre-write because a parquet read bin-packs files — the walk must
    // still resume each sort partition at its exclusive offset.
    val dir = java.nio.file.Files.createTempDirectory("graft-sb-spec").toString
    try {
      val rnd = new scala.util.Random(31)
      val rows = (1L to 600L).map(id =>
        (id, (rnd.nextInt(200) + 1).toLong, rnd.nextDouble()))
      val expect = selRef(rows, budget = 12000)
      val got = Pack.selectByBudget(
        rows.toDF("id", "w", "s").repartition(17),
        col("id"), col("w"), col("s"), 12000, checkpointDir = Some(dir))
      val gotRows = got.collect()
      assert(gotRows.map(_.getLong(0)).toSet == expect)
      // cum_weight is the same exact inclusive prefix in both modes
      val default = Pack.selectByBudget(rows.toDF("id", "w", "s"),
        col("id"), col("w"), col("s"), 12000)
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      assert(gotRows.map(r => r.getLong(0) -> r.getLong(3)).toMap == default)
      // exactly one run directory remains (it backs the lazy frame)
      val runs = new java.io.File(dir).listFiles()
      assert(runs != null && runs.count(_.getName.startsWith("graft-sb-")) == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("selectByBudgetPerGroup reliable checkpointDir mode matches the default mode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sbg-spec").toString
    try {
      val rnd = new scala.util.Random(79)
      val langs = Seq("en", "de", "fr", "xx")
      val rows = (1L to 500L).map(id =>
        (id, langs(rnd.nextInt(langs.size)), (rnd.nextInt(100) + 1).toLong, rnd.nextDouble()))
      val budgets = Map("en" -> 2000L, "de" -> 800L, "fr" -> 1L)
      val expect = selGroupRef(rows, budgets)
      val got = Pack.selectByBudgetPerGroup(
        rows.toDF("id", "g", "w", "s").repartition(11),
        col("id"), col("w"), col("s"), col("g"), budgets, checkpointDir = Some(dir))
        .collect().map(_.getLong(0)).toSet
      assert(got == expect)
      val runs = new java.io.File(dir).listFiles()
      assert(runs != null && runs.count(_.getName.startsWith("graft-sbg-")) == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("each budget cut launches at most 4 jobs while being built, in both modes") {
    // range-bound sampling, the snapshot (its shuffle map stage and its
    // checkpoint or write), the one narrow totals pass
    val dir = java.nio.file.Files.createTempDirectory("graft-sb-jobs").toString
    try {
      val rows = (1L to 600L).map(id => (id, s"g${id % 3}", id % 50, (id * 37 % 101).toDouble))
        .toDF("id", "g", "w", "s")
      for (ckpt <- Seq(None, Some(dir))) {
        val (_, single) = jobsDuring(
          Pack.selectByBudget(rows, col("id"), col("w"), col("s"), 5000, ckpt))
        val (_, perGroup) = jobsDuring(Pack.selectByBudgetPerGroup(rows, col("id"), col("w"),
          col("s"), col("g"), Map("g0" -> 2000L, "g1" -> 500L), ckpt))
        assert(single <= 4 && perGroup <= 4, s"checkpointDir=$ckpt: $single and $perGroup jobs")
      }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("both budget cuts in reliable mode leave no run directory behind on failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sb-fail").toString
    try {
      // the negative weight fails the totals pass, after the snapshot is written
      val neg = Seq((1L, "en", 4L, 2.0), (2L, "en", -5L, 1.0)).toDF("id", "g", "w", "s")
      intercept[Exception] {
        Pack.selectByBudget(neg, col("id"), col("w"), col("s"), 10, checkpointDir = Some(dir))
      }
      intercept[Exception] {
        Pack.selectByBudgetPerGroup(neg, col("id"), col("w"), col("s"), col("g"),
          Map("en" -> 10L), checkpointDir = Some(dir))
      }
      val leftovers = new java.io.File(dir).listFiles()
      assert(leftovers != null && leftovers.isEmpty,
        s"expected no leaked run dirs, found: ${leftovers.map(_.getName).mkString(", ")}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("selectByBudgetKeep returns the full kept rows (semi-join shape)") {
    val rows = Seq((5L, 10L, 1.0, "e"), (2L, 10L, 1.0, "b"), (9L, 10L, 2.0, "i"),
      (7L, 10L, 1.0, "g")).toDF("id", "w", "s", "payload")
    val kept = Pack.selectByBudgetKeep(rows, col("id"), col("w"), col("s"), budget = 30)
    // full original schema, only the selected ids (9, then ties 2, 5)
    assert(kept.columns.toSeq == Seq("id", "w", "s", "payload"))
    assert(kept.collect().map(r => (r.getLong(0), r.getString(3))).toSet ==
      Set((9L, "i"), (2L, "b"), (5L, "e")))
  }

  test("selectByBudgetPerGroupKeep returns full rows per group; unbudgeted groups drop") {
    val rows = Seq((1L, "en", 50L, 2.0, "a"), (2L, "en", 50L, 1.0, "b"),
      (3L, "en", 50L, 0.5, "c"), (4L, "de", 10L, 1.0, "d"), (5L, "xx", 1L, 9.0, "e"))
      .toDF("id", "g", "w", "s", "payload")
    val kept = Pack.selectByBudgetPerGroupKeep(rows, col("id"), col("w"), col("s"),
      col("g"), Map("en" -> 100L, "de" -> 200L))
    assert(kept.columns.toSeq == Seq("id", "g", "w", "s", "payload"))
    assert(kept.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("mixtureStats builds the aggregate side as a broadcast hash join") {
    // r13: the hint sat on the preserved side of a right-outer join,
    // which Spark cannot build — silently dropped, shuffle fallback.
    // The flipped shape (budgets left-preserved, agg side broadcast)
    // must show an actual BroadcastHashJoin in the executed plan.
    val rows = Seq((1L, "en", 50L, 2.0), (4L, "de", 10L, 1.0))
    val budgets = Map("en" -> 100L, "de" -> 200L)
    val kept = Pack.selectByBudgetPerGroup(rows.toDF("id", "g", "w", "s"),
      col("id"), col("w"), col("s"), col("g"), budgets)
    val stats = Pack.mixtureStats(kept, budgets)
    stats.collect()
    val plan = stats.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    assert(plan.contains("BroadcastHashJoin"),
      s"mixtureStats expected a broadcast hash join building the agg side:\n$plan")
  }

  test("mixtureStats reports per-group fill; supply-starved and empty groups surface") {
    val rows = Seq(
      (1L, "en", 50L, 2.0), (2L, "en", 50L, 1.0), (3L, "en", 50L, 0.5),
      (4L, "de", 10L, 1.0))
    val budgets = Map("en" -> 100L, "de" -> 200L, "fr" -> 50L)
    val kept = Pack.selectByBudgetPerGroup(rows.toDF("id", "g", "w", "s"),
      col("id"), col("w"), col("s"), col("g"), budgets)
    val stats = Pack.mixtureStats(kept, budgets)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(stats("en") == ((2L, 100L, 1.0)))   // budget-bound: 2 of 3 docs fit
    assert(stats("de") == ((1L, 10L, 0.05)))   // supply-bound: ran out of docs
    assert(stats("fr") == ((0L, 0L, 0.0)))     // budgeted but no documents at all
  }

  test("shardStats reports per-shard doc counts and weights") {
    val rows = Seq(1L -> 40L, 2L -> 40L, 3L -> 40L, 4L -> 40L)
    val asg = Pack.packByBudget(rows.toDF("id", "w"), col("id"), col("w"), budget = 100)
    val stats = Pack.shardStats(asg).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // pre: 0,40,80,120 → shards 0,0,0,1
    assert(stats == Map(0L -> ((3L, 120L)), 1L -> ((1L, 40L))))
  }

  test("writeShards: one file per shard, intra-file doc order, 0-based positions") {
    val rows = (0L until 200L).map(i => (i, 7L + (i * 13) % 50))
    val df = rows.toDF("id", "weight").repartition(7)
    val packed = Pack.packByBudget(df, col("id"), col("weight"), budget = 300)
    val dir = java.nio.file.Files.createTempDirectory("packw").toString + "/tree"
    Pack.writeShards(packed, dir)
    // one DATA file per shard directory — the loader contract
    val shardDirs = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.nonEmpty)
    val expectShards = packed.select("shard_id").distinct().count()
    assert(shardDirs.length == expectShards, s"${shardDirs.length} dirs vs $expectShards shards")
    shardDirs.foreach { d =>
      val data = d.listFiles.filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      assert(data.length == 1, s"${d.getName} has ${data.map(_.getName).mkString(",")}")
    }
    // intra-FILE order: read one shard's single file alone — a single
    // split preserves parquet row order — ids ascend and positions are
    // 0..n-1 in that order
    val one = shardDirs.maxBy(d =>
      d.listFiles.filter(_.getName.startsWith("part-")).map(_.length).sum)
    val f = one.listFiles.filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc")).head
    val inFile = spark.read.parquet(f.getAbsolutePath)
      .select("id", "position").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(inFile.length > 1, "pick a shard with multiple docs")
    assert(inFile.map(_._1).toSeq == inFile.map(_._1).sorted.toSeq, "file rows must be in doc order")
    assert(inFile.map(_._2).toSeq == inFile.indices.map(_.toLong), "positions must be 0..n-1 in file order")
    // whole-tree read-back: (shard, position, id) matches the
    // assignment + per-shard rank reference
    val back = spark.read.parquet(dir)
      .select(col("shard_id").cast("long"), col("position"), col("id"), col("weight"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val ref = packed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .groupBy(_._3).toSeq.flatMap { case (_, g) =>
        g.sortBy(_._1).zipWithIndex.map { case ((id, w, sh), pos) => (sh, pos.toLong, id, w) }
      }.toSet
    assert(back == ref)
  }

  test("writeShards: session maxRecordsPerFile cannot split shard files (overridden for the write)") {
    // ADVICE r19: a session-level maxRecordsPerFile used to silently
    // break the one-file-per-shard loader contract; writeShards now
    // overrides it to 0 for the write and restores it after.
    val key = "spark.sql.files.maxRecordsPerFile"
    val df = (0L until 120L).map(i => (i, 10L)).toDF("id", "weight")
    val packed = Pack.packByBudget(df, col("id"), col("weight"), budget = 400)
    val dir = java.nio.file.Files.createTempDirectory("packm").toString + "/tree"
    spark.conf.set(key, 5L) // would split every 40-doc shard into 8 files
    try {
      Pack.writeShards(packed, dir)
      assert(spark.conf.get(key) == "5", "prior session value must be restored")
    } finally spark.conf.unset(key)
    val shardDirs = new java.io.File(dir).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("shard_id="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val data = d.listFiles.filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      assert(data.length == 1, s"${d.getName} split into ${data.length} files")
    }
  }

  test("writeShards: placement plan is ONE exchange, no global window; json layout works") {
    val df = (0L until 50L).map(i => (i, 5L)).toDF("id", "weight")
    val packed = Pack.packByBudget(df, col("id"), col("weight"), budget = 25)
    val plan = Pack.placeShards(packed.localCheckpoint(), "shard_id", "id")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, plan) // the one shard exchange
    assert(!plan.contains("Window [")
      || !plan.contains("SinglePartition"), plan) // never a global window
    val dir = java.nio.file.Files.createTempDirectory("packj").toString + "/tree"
    Pack.writeShards(packed, dir, format = "json")
    val back = spark.read.json(dir)
    assert(back.count() == 50)
    assert(back.columns.toSet == Set("id", "weight", "position", "shard_id"))
    intercept[IllegalArgumentException] { Pack.writeShards(packed, dir, format = "orc") }
    intercept[IllegalArgumentException] { Pack.writeShards(packed, dir, shardCol = "nope") }
  }

  test("shard ids are monotone in id order") {
    val rnd = new scala.util.Random(3)
    val rows = (1L to 300L).map(id => id -> (rnd.nextInt(500) + 1).toLong)
    val out = Pack.packByBudget(rows.toDF("id", "w"), col("id"), col("w"), 750)
      .orderBy("id").collect().map(_.getLong(2))
    assert(out.zip(out.tail).forall { case (a, b) => a <= b })
  }
}
