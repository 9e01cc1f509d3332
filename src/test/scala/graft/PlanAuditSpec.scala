package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Plan-shape regression gates: the properties that make these queries
  * scale (filter pushdown, column pruning, broadcast dims, partial
  * aggregation) must stay visible in the FINAL AQE plan — a correct
  * result from a degraded plan is still a regression at 100 TB. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Execute and return the final (post-AQE) physical plan string. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def q(name: String): String = finalPlan(SparkEntry.queries(name)(spark, dir))

  test("q2: filters reach the parquet scan; scan is column-pruned") {
    val plan = q("q2_filter_sort")
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity)"),
      s"expected pushed filters, got:\n$plan")
    assert(plan.contains("GreaterThan(l_quantity,30.0)"), s"missing pushed range filter:\n$plan")
    // projection pruning: the 16-col lineitem scan reads only what q2 needs
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipmode") && !readSchema.contains("l_comment"),
      s"scan not pruned: $readSchema")
  }

  test("q3/q5: dimension sides broadcast, no sort-merge join of a dim") {
    val p3 = q("q3_join_agg")
    assert(p3.contains("BroadcastHashJoin"), s"q3 expected broadcast join:\n$p3")
    val p5 = q("q5_multi_join")
    assert(p5.contains("BroadcastHashJoin"), s"q5 expected broadcast dims:\n$p5")
  }

  test("q1: grouped agg is partial -> final, no Expand in the distinct path") {
    val plan = q("q1_agg")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(!plan.contains("Expand"), s"count_distinct must not plan an Expand:\n$plan")
  }

  test("ann_topk: probes broadcast and top-k is a partial-merge aggregate, not a window") {
    val plan = q("ann_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$plan")
    assert(plan.contains("top_k_by_score"), s"expected TopKByScore aggregate:\n$plan")
    assert(!plan.contains("Window"), s"per-probe top-k must not use a window function:\n$plan")
    assert(plan.contains("partial_top_k_by_score") || plan.contains("partial top_k_by_score")
        || plan.contains("functions=[partial"),
      s"top-k must participate in partial aggregation:\n$plan")
  }

  test("dedup_incremental: index side semi-join-pruned; hot-bucket guard is a join, not a window") {
    // Plan the incremental keep directly (the SparkEntry query also
    // writes the index; here we want the read path's shape).
    val idx = java.nio.file.Files.createTempDirectory("graft-plan-idx").toString + "/idx"
    val docs = graft.tables.documents(spark, dir).toNative
    import org.apache.spark.sql.functions.col
    graft.operators.Dedup.writeMinHashIndex(
      docs.where(col("doc_id") < 250), col("doc_id"), col("text"), idx)
    val inc = graft.operators.Dedup.minhashKeepIncremental(
      docs.where(col("doc_id") >= 250), col("doc_id"), col("text"), idx, 0.5)
    val plan = finalPlan(inc)
    // a small increment must not shuffle the whole stored index: the
    // index scan feeds a LeftSemi join on (band,bucket), then the
    // hot-bucket cap (a groupBy-sizes semi-join — a count-over-window
    // here would make each hot bucket a single WindowExec task, the
    // exact straggler the guard exists to prevent)
    assert(plan.contains("LeftSemi"), s"expected index-side semi-join prune:\n$plan")
    assert(!plan.contains("Window"),
      s"hot-bucket guard must be groupBy+semi-join, never a per-key window:\n$plan")
    assert(plan.indexOf("LeftSemi") >= 0 &&
      plan.contains("buckets"), s"semi-join must apply to the stored bucket table:\n$plan")
  }

  test("select_budget: range-partitioned prefix sums, no global window/sort") {
    // The naive formulation is sum() OVER (ORDER BY score) — a
    // one-partition global sort. The shipped shape must show a range
    // exchange on the order keys and NO WindowExec anywhere.
    val plan = q("select_budget")
    assert(plan.contains("rangepartitioning"),
      s"expected a range exchange on the order keys:\n$plan")
    assert(!plan.contains("Window"),
      s"budget cut must not plan a window:\n$plan")
  }

  test("hot-bucket guard reads a CACHED bucket stream — the hashing subtree runs once") {
    // r12 regression gate: the guard references its bucket input twice
    // (sizes groupBy + semi-join probe) and the self-join twice more; an
    // uncached input re-evaluates the upstream hashing (hyperplane
    // bucketing ×8 tables for the embedding path, simhash signatures)
    // on every reference — measured ×2.98 on dedup_embedding. The guard
    // persist()s the narrow (id, keys…) frame, so the final plan must
    // read it through InMemoryTableScan everywhere, with the hashing
    // expression below the cache boundary only.
    for (name <- Seq("dedup_embedding", "dedup_simhash")) {
      val plan = q(name)
      assert(plan.contains("InMemoryTableScan"),
        s"$name: guard input must be cached (single hashing pass):\n$plan")
    }
  }

  test("minhashKeepReported reads its bucket stream CACHED, like the lazy guard") {
    // The reported variant is the plain operator's plan plus a skip
    // report over the same guard: the (id, band, bucket) stream is
    // persisted once and read through InMemoryTableScan by the report,
    // the sizes groupBy, the semi-join probe and both self-join sides —
    // one hashing pass, never a checkpointed copy of its own.
    import org.apache.spark.sql.functions.col
    val d = tables.documents(spark, dir).toNative
    val (kept, _) = graft.operators.Dedup.minhashKeepReported(d, col("doc_id"), col("text"), 0.5)
    val plan = finalPlan(kept)
    def bucketScan(op: String) = plan.linesIterator.exists(l =>
      l.contains(op) && l.contains("band#") && l.contains("bucket#"))
    assert(bucketScan("InMemoryTableScan"), s"bucket stream must be cached:\n$plan")
    assert(!bucketScan("ExistingRDD"), s"bucket stream must not be checkpointed:\n$plan")
  }

  test("dedup_minhash / dedup_spans: no per-key window anywhere in the dedup paths") {
    // The hot-bucket guard and the span df-count are groupBy+join by
    // design (VERDICT r11 advisory #2): WindowExec gives one task per
    // key group, so a 10⁸-member template bucket/fingerprint would pin
    // a single straggler task — AQE skew-splits joins, not windows.
    for (name <- Seq("dedup_minhash", "dedup_spans")) {
      val plan = q(name)
      assert(!plan.contains("Window"),
        s"$name: bucket/fp sizing must be groupBy+join, got a window:\n$plan")
    }
  }

  test("ann_pq: LUTs broadcast, ADC candidates go through the partial top-k aggregate") {
    val plan = q("ann_pq")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe LUTs must broadcast:\n$plan")
    assert(plan.contains("partial_top_k_by_score") || plan.contains("functions=[partial"),
      s"ADC top-rerank must be a partial-merge aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no window function anywhere in the PQ path:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rerank joins must stay broadcast/hash:\n$plan")
  }

  test("ann_ivfpq: LUTs broadcast, ADC candidates partial top-k, no window, no sort-merge") {
    val plan = q("ann_ivfpq")
    assert(plan.contains("BroadcastHashJoin"),
      s"inverted-list probe side must broadcast:\n$plan")
    assert(plan.contains("partial_top_k_by_score") || plan.contains("functions=[partial"),
      s"ADC top-rerank must be a partial-merge aggregate:\n$plan")
    assert(!plan.contains("Window"), s"no window function anywhere in the IVF×PQ path:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rerank joins must stay broadcast/hash:\n$plan")
  }

  test("ann_lsh: candidates dedup BEFORE scoring; no window, no sort-merge") {
    val plan = q("ann_lsh")
    // the distinct-pairs aggregate must sit upstream of the cosine
    // projection: after round 10's dedupe-then-score fix a pair
    // colliding in t tables is scored once, and the data-side vector
    // never rides the ×tables exploded stream (it is re-fetched by a
    // narrow id join for the rerank)
    assert(plan.contains("HashAggregate"), s"expected the distinct-pairs aggregate:\n$plan")
    assert(plan.contains("cosine_sim"), s"expected the exact-rerank cosine:\n$plan")
    assert(plan.indexOf("cosine_sim") < plan.lastIndexOf("HashAggregate"),
      s"cosine must be computed above (after) a dedup aggregate, not inside the exploded join:\n$plan")
    assert(!plan.contains("Window"), s"no window function in the LSH path:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"rerank joins must stay broadcast/hash:\n$plan")
  }

  test("dedup_contamination: bench fingerprints broadcast; corpus never shuffles grams wide") {
    val plan = q("dedup_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"bench fingerprint set must broadcast-probe the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the gram probe must not sort-merge at gate scale:\n$plan")
  }

  test("dedup_decontam_keep: bench fps broadcast; the drop-list anti-join stays broadcast/hash") {
    val plan = q("dedup_decontam_keep")
    assert(plan.contains("BroadcastHashJoin"),
      s"bench fingerprint set must broadcast-probe the corpus:\n$plan")
    // the final keep is a left-anti join against the (small) flagged
    // set — it must not sort-merge the corpus at gate scale
    assert(plan.contains("LeftAnti"), s"expected the drop-list anti-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"anti-join must stay broadcast/hash at gate scale:\n$plan")
  }

  test("overlap_exact: one distinct-key aggregate, one global partial-merge agg, no join") {
    val plan = q("overlap_exact")
    assert(!plan.contains("Join"), s"exact overlap must not join the key sets:\n$plan")
    assert(plan.contains("HashAggregate"), s"expected hash aggregation:\n$plan")
    assert(plan.contains("partial_") || plan.contains("functions=[partial"),
      s"the global counts must partial-aggregate map-side:\n$plan")
    // two aggregation layers (per-key flags, then global counts) =
    // exactly two exchanges: the key shuffle and the 1-row final
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges:\n$plan")
  }

  test("sample queries stay a pure narrow filter: no shuffle, no join") {
    for (name <- Seq("sample_hash", "sample_stratified")) {
      val plan = q(name)
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      // the only exchange allowed is the final orderBy's range partition
      val exchanges = plan.linesIterator.count(_.contains("Exchange"))
      assert(exchanges <= 1, s"$name: filter must be narrow, got $exchanges exchanges:\n$plan")
      assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
        s"$name: keep-predicate must stay in whole-stage codegen:\n$plan")
    }
  }

  test("sample_exact_n: the top-n prune runs map-side (WindowGroupLimit partial)") {
    val plan = q("sample_exact_n")
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=n must rewrite to a group limit:\n$plan")
    assert(plan.contains("Partial"),
      s"the group limit must have a partial (pre-shuffle) stage:\n$plan")
  }

  test("select_topk_group: the per-group top-k prune runs map-side too") {
    val plan = q("select_topk_group")
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=n must rewrite to a group limit:\n$plan")
    assert(plan.contains("Partial"),
      s"the group limit must have a partial (pre-shuffle) stage:\n$plan")
  }

  test("pack_shards: offsets broadcast back; no global window over the data") {
    val plan = q("pack_shards")
    assert(plan.contains("BroadcastHashJoin"),
      s"block offsets must broadcast-join back:\n$plan")
    // exactly one Window node: the per-block cumsum (partitioned by
    // _blk). The offsets cumsum is a driver-side prefix sum over the
    // collected ≤targetBlocks block totals (bound asserted in Pack), so
    // no unpartitioned window — and no single-partition exchange —
    // appears anywhere in the plan.
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.exists(_.contains("_blk")),
      s"per-block cumsum must partition by the block key:\n$plan")
    assert(!plan.contains("WindowExec: No Partition") && winLines.size <= 2,
      s"no unpartitioned window may survive the offsets restructure:\n$plan")
  }

  test("chunk_pack: generator stays narrow; pack keeps the per-block window + broadcast offsets") {
    val plan = q("chunk_pack")
    // the chunk generator shape is pinned by the text_chunks audit; in
    // THIS plan it sits behind packChunks' eager checkpoint (Pack
    // triple-evaluates its input, so the narrow (id, weight) frame is
    // materialized — the plan must start from that RDD, not re-derive
    // the chunking), and packing's only window is the per-_blk cumsum
    // with offsets coming back as a broadcast join
    assert(plan.contains("ExistingRDD"),
      s"pack input must be the materialized narrow frame:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"block offsets must broadcast-join back:\n$plan")
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("_blk")) && winLines.size <= 2,
      s"only the per-block cumsum window may appear:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"composition degraded:\n$plan")
    // the broadcast side is the driver-computed offsets table (block
    // totals aggregate runs in its own bounded collect job, so it does
    // not appear in this plan)
    assert(plan.contains("LocalTableScan"),
      s"offsets must enter as a local (driver-built) table:\n$plan")
  }

  test("text kernels stay inside whole-stage codegen in one pruned scan") {
    val plan = q("text_langid")
    // "*(n)" is the whole-stage-codegen stage marker in plan toString;
    // the scan's Project chain must carry one (no interpreted boundary)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Project")),
      s"expected codegen'd projection:\n$plan")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$plan")
  }

  test("text_repetition/text_pii: pure narrow maps — one scan, no shuffle beyond the output sort") {
    for (name <- Seq("text_repetition", "text_pii")) {
      val plan = q(name)
      val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
      assert(scans == 1, s"$name: expected one documents scan, got $scans:\n$plan")
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
      assert(!plan.contains("HashAggregate"), s"$name must not aggregate:\n$plan")
      // the only exchange allowed is the orderBy's range partitioning
      assert(!plan.contains("Exchange hashpartitioning"),
        s"$name must not hash-shuffle:\n$plan")
    }
  }

  test("text_chunks: one generator over one scan; no compute shuffle, no window") {
    val plan = q("text_chunks")
    val scans = plan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"expected one documents scan, got $scans:\n$plan")
    val gens = plan.linesIterator.count(_.contains("Generate"))
    assert(gens == 1, s"expected exactly one generator, got $gens:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"chunking must stay embarrassingly parallel:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"chunking must not hash-shuffle:\n$plan")
  }

  test("corpus_prep stages: pruned gate scan, broadcast keep/probe/drop joins, no cartesian") {
    // the query's localCheckpoint stage boundaries split it into
    // separate jobs, so each stage's plan is audited where it runs
    import org.apache.spark.sql.functions.{col => c}
    import graft.functions.TextFns
    import graft.operators.Dedup
    val docs = graft.tables.documents(spark, dir).toNative
    val bench = docs.where(c("doc_id") % 10 === 0)
    val corpus = docs.where(c("doc_id") % 10 =!= 0)
    val gated = TextFns.withLangId(corpus, c("text"), "_lang")
      .where(TextFns.wordCount(c("text")) >= 8 && c("_lang") === "en")
      .select(c("doc_id"), c("text"))
    // stage 1 (gates): ONE scan, pruned to exactly (doc_id, text)
    val p1 = finalPlan(gated)
    assert(p1.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"gate stage must be a single corpus scan:\n$p1")
    val read = p1.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.contains("struct<doc_id:bigint,text:string>"), s"unpruned gate scan: $read")
    // stage 2 (dedup keep + decontam): every join broadcast-able —
    // keep-list, gram probe, and drop-list are all small sides
    val deduped = Dedup.exactKeep(gated.localCheckpoint(), c("text"), c("doc_id"))
    val clean = Dedup.decontaminatedKeep(
      deduped, c("doc_id"), c("text"), bench, c("text"), k = 5)
    val p2 = finalPlan(clean.select("doc_id"))
    assert(p2.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p2")
    assert(!p2.contains("CartesianProduct"), s"cartesian in the dedup/decontam stage:\n$p2")
    assert(!p2.contains("SortMergeJoin"), s"sort-merge of a broadcast-able side:\n$p2")
    // stage 3 (packing) plan shape is pinned by the pack_shards gate
    // above; the assembled driver query must also stay broadcast-only
    val pq = q("corpus_prep")
    assert(pq.contains("BroadcastHashJoin") && !pq.contains("CartesianProduct")
        && !pq.contains("SortMergeJoin"), s"composed query degraded:\n$pq")
  }

  test("web_prep: the archive-to-shards composition stays broadcast-only, no cartesian") {
    // the WARC front-end runs as an RDD scan into a localCheckpoint
    // (one archive parse feeding every stage); everything downstream —
    // langid/quality gate, dedup keep, decontam gram probe, packing —
    // must keep the corpus_prep join discipline. ONE exception is
    // pinned rather than hidden: the decontam drop-list anti-join may
    // plan as a KEYED sort-merge here because the RDD-backed input has
    // no size stats — and at crawl scale the flagged list is unbounded,
    // so the conservative shape is the correct one (corpus_prep's
    // parquet-backed twin broadcasts it from stats).
    val plan = q("web_prep")
    assert(plan.contains("BroadcastHashJoin"),
      s"keep/probe joins must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in web_prep:\n$plan")
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toList
    assert(smj.forall(_.contains("LeftAnti")),
      s"only the drop-list anti-join may sort-merge:\n$plan")
  }

  test("nb_classify: model broadcasts, token stream never sort-merges or crosses") {
    val plan = q("nb_classify")
    assert(plan.contains("BroadcastHashJoin"),
      s"the pivoted model must broadcast-probe the token stream:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the token stream must not shuffle into a join or cross:\n$plan")
  }

  test("decontam_near: bench buckets broadcast; no self-join term, no cartesian") {
    val plan = q("decontam_near")
    assert(plan.contains("BroadcastHashJoin"),
      s"bench bucket stream must broadcast-probe the corpus buckets:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected the drop-list anti-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cross LSH must never cartesian:\n$plan")
  }

  test("line ops: flagging stays groupBy+join (no per-fp window), no cartesian") {
    // same skew rationale as dedup_spans/span_removal, at line granularity
    for (name <- Seq("dedup_lines", "line_removal")) {
      val plan = q(name)
      assert(!plan.contains("Window"),
        s"$name: distinct-doc count must be groupBy+join, got a window:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"cartesian in $name:\n$plan")
    }
  }

  test("text_gopher: the whole rule gate is one narrow codegen'd projection") {
    val plan = q("text_gopher")
    assert(!plan.contains("Join"), s"rules must not join:\n$plan")
    // the only exchange allowed is the final orderBy's range partition
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"gate must be narrow, got $exchanges exchanges:\n$plan")
  }

  test("profile_histogram: tiny keyed count + broadcast scaffold, no sort-merge") {
    val plan = q("profile_histogram")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"scaffold join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"bins must never sort-merge:\n$plan")
  }

  test("profile_buckets: threshold assignment is a pure narrow projection") {
    val plan = q("profile_buckets")
    assert(!plan.contains("Join"), s"bucket assignment must not join:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"assignment must be narrow, got $exchanges exchanges:\n$plan")
  }

  test("text_pmi: broadcast unigram joins, k-row TakeOrdered, no global sort") {
    val plan = q("text_pmi")
    assert(plan.contains("BroadcastHashJoin"), s"unigram sides must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"count tables must not shuffle into a join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k-cut must be TakeOrdered, not a global sort:\n$plan")
  }

  test("span_removal: flagging stays groupBy+join (no per-fp window), rebuild joins narrow") {
    // Same skew rationale as dedup_spans: a boilerplate fingerprint in
    // 10^8 docs must hit AQE-splittable joins, never one WindowExec
    // task; and the only things shuffled are (doc, pos, fp) triples and
    // per-doc starts arrays, not text-bearing wide rows twice.
    val plan = q("span_removal")
    assert(!plan.contains("Window"),
      s"span_removal: df-count/rep must be groupBy+join, got a window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in span_removal:\n$plan")
  }

  test("source_overlap: one data-sized shuffle, pair expansion in place, scaffold broadcast") {
    // The per-fp group-set aggregation is the single exchange that
    // carries data volume; the matrix scaffold and the shared-count
    // join are broadcast-sized. A SortMergeJoin would mean the fp
    // stream got self-joined after all.
    val plan = q("source_overlap")
    assert(!plan.contains("SortMergeJoin"),
      s"source_overlap must not self-join the fp stream:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"matrix scaffold should be broadcast-sized:\n$plan")
    assert(!plan.contains("Window"), s"no window belongs in the matrix:\n$plan")
  }

  test("sample_shuffle: assignment is a pure narrow projection — no exchange, no join") {
    // shuffleShards only ASSIGNS (shard, draw); the one hash exchange
    // belongs to `shuffled`, the materialization. The gate's orderBy is
    // presentation, so the only exchange allowed is that output sort.
    val plan = q("sample_shuffle")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"assignment must not shuffle (only the output sort may):\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"assignment must be join- and window-free:\n$plan")
  }

  test("sample_diverse: assignment is scan-side; the per-cell draw prunes map-side") {
    val plan = q("sample_diverse")
    assert(plan.contains("WindowGroupLimit"),
      s"row_number<=n must rewrite to a group limit:\n$plan")
    assert(plan.contains("Partial"),
      s"the group limit must have a partial (pre-shuffle) stage:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"cluster assignment must be a join-free expression pass:\n$plan")
  }

  test("corpus_prep_near: the composed near-dedup flow stays cartesian-free and window-free") {
    // The minhash stage's bucket self-join may legitimately shuffle
    // (both sides are the corpus at scale — its own shape is pinned by
    // the dedup_minhash audits); what composition must never introduce
    // is a cartesian product, a per-key window (the r12 skew-safe guard
    // holds inside the composition too), or a demotion of the
    // decontam/keep broadcast joins.
    val plan = q("corpus_prep_near")
    assert(!plan.contains("CartesianProduct"), s"cartesian in the composed flow:\n$plan")
    val winLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.forall(_.contains("_blk")),
      s"only packing's per-block cumsum window may appear:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"decontam/keep joins must stay broadcast:\n$plan")
  }

  test("lm_unigram/lm_bigram: model joins broadcast; token stream never sort-merges") {
    for (name <- Seq("lm_unigram", "lm_bigram")) {
      val plan = q(name)
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: the vocab join must broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name: the exploded token stream must not sort-merge:\n$plan")
      // the per-doc agg combines map-side before its exchange
      assert(plan.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
        s"$name: per-doc sum must have a partial stage:\n$plan")
    }
  }

  test("dsir_weights: log-ratio table broadcasts; the gram stream never sort-merges") {
    val plan = q("dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=B-row log-ratio table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the exploded gram stream must not sort-merge:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"per-doc weight sum must combine map-side:\n$plan")
  }

  test("text_c4: the gate is a pure narrow expression — no join, one output-sort exchange") {
    val plan = q("text_c4")
    assert(!plan.contains("Join"), s"C4 cleaning must not join:\n$plan")
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1,
      s"only the output sort may exchange:\n$plan")
  }

  test("sample_interleave: two-phase rank — no per-source window, offsets broadcast") {
    // The r15 shape (row_number OVER (PARTITION BY source)) capped
    // parallelism at |sources| tasks — the giant-per-key-window
    // scale-killer. The two-phase rank must show: zero WindowExec
    // anywhere, and the partitions×|sources| addend table joined as a
    // BROADCAST, never shuffled against the corpus.
    val plan = q("sample_interleave")
    assert(!plan.contains("Window"),
      s"interleave must not rank through a per-source window:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the bounded addend table must broadcast:\n$plan")
  }

  test("bm25_topk / rank_fusion: k-cuts are TakeOrderedAndProject, scoring broadcasts the df slice") {
    // The corpus-scale cut must be a partial per-partition top-n
    // (TakeOrderedAndProject), never a global Sort+Limit over all
    // scored docs; the |query|-row df slice must ride a broadcast,
    // never a shuffle or a cartesian.
    val pTop = q("bm25_topk")
    assert(pTop.contains("TakeOrderedAndProject"),
      s"bm25_topk cut must be TakeOrdered:\n$pTop")
    assert(pTop.contains("BroadcastHashJoin"),
      s"bm25 df slice must broadcast:\n$pTop")
    assert(!pTop.contains("CartesianProduct") && !pTop.contains("BroadcastNestedLoopJoin"),
      s"bm25 scoring must stay an equi-join:\n$pTop")
    val pFuse = q("rank_fusion")
    assert(pFuse.contains("TakeOrderedAndProject"),
      s"rank_fusion cut must be TakeOrdered:\n$pFuse")
    assert(!pFuse.contains("CartesianProduct"), s"cartesian in rank_fusion:\n$pFuse")
  }

  test("bm25_many: ONE corpus scan for all queries, fan-out broadcast, no per-query jobs") {
    // Batch retrieval's whole point: the corpus text is scanned ONCE
    // for the entire query batch (no per-query scan/job), the tf
    // aggregate combines map-side, and the (term, qid, df) fan-out
    // table rides a broadcast equi-join — never a shuffle/cartesian.
    val plan = q("bm25_many")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (term, qid, df) fan-out must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"batch scoring must stay an equi-join:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the tf aggregate must combine map-side:\n$plan")
    // one-scan law measured lineage-free: with the model LOADED (its
    // docFreq scan points at the saved path, not the corpus), the
    // scoreMany plan reads the corpus parquet exactly once for the
    // whole 3-query batch; the in-gate plan adds fit()'s own scans
    import org.apache.spark.sql.functions.col
    import graft.operators.Bm25
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("bm25many").toString + "/model"
    Bm25.save(Bm25.fit(docs, col("text")), dir)
    val model = Bm25.load(spark, dir)
    val queries = Seq((0L, "spark"), (1L, "merge"), (2L, "window")).toDF("qid", "term")
    val pMany = Bm25.scoreMany(docs, col("doc_id"), col("text"), queries, model)
      .queryExecution.executedPlan.toString
    assert(pMany.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("documents")) == 1,
      s"the corpus must scan exactly once for the whole batch:\n$pMany")
    // the per-query k-cut compiles to WindowGroupLimit (partial group
    // top-n before the shuffle), never a global sort
    val pTop = Bm25.topKMany(docs, col("doc_id"), col("text"), queries,
      model, n = 5).queryExecution.executedPlan.toString
    assert(pTop.contains("WindowGroupLimit"),
      s"per-query cut must push a partial group limit:\n$pTop")
  }

  test("profile_corr: one aggregate over one scan — no Expand, no join, map-side partials") {
    val plan = q("profile_corr")
    assert(!plan.contains("Expand"), s"moment sums must not replicate the input:\n$plan")
    assert(!plan.contains("Join"), s"corr matrix must not join:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the moment aggregate must combine map-side:\n$plan")
  }

  test("top_tokens_lang: map-side count partials and a WindowGroupLimit k-cut") {
    val grouped = q("top_tokens_lang")
    assert(grouped.contains("WindowGroupLimit"),
      s"the per-group k-cut must push map-side:\n$grouped")
    assert(grouped.linesIterator.exists(l => l.contains("HashAggregate") && l.contains("partial")),
      s"the count must combine map-side:\n$grouped")
  }

  test("sample_temperature: the data pass is the same narrow codegen'd filter") {
    // rates come from a separate mixture-sized agg at construction;
    // the returned frame itself must stay shuffle- and join-free
    val plan = q("sample_temperature")
    assert(!plan.contains("Join"), s"temperature filter must not join:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 1, s"only the output sort may exchange, got $exchanges:\n$plan")
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("Filter")),
      s"keep-predicate must stay in whole-stage codegen:\n$plan")
  }

  test("url_canon: pure narrow projection; url_filter: broadcast anti-join") {
    val canon = q("url_canon")
    assert(!canon.contains("Join"), s"canonicalization must not join:\n$canon")
    assert(canon.linesIterator.count(_.contains("Exchange")) <= 1,
      s"only the output sort may exchange:\n$canon")
    val filt = q("url_filter")
    assert(filt.contains("BroadcastHashJoin") && filt.contains("LeftAnti"),
      s"blocklist must be a broadcast anti-join:\n$filt")
    assert(!filt.contains("SortMergeJoin"), s"corpus must not shuffle for the blocklist:\n$filt")
  }

  test("asof_join: no join node at all — one keyed window over the union stream") {
    val plan = q("asof_join")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
      !plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"as-of must be the union+window composition, not a join:\n$plan")
    assert(plan.contains("Window"), s"expected the carry-forward window:\n$plan")
    assert(plan.contains("Union"), s"expected the tagged union stream:\n$plan")
  }

  test("range_join: equi-join on bins — never a nested loop over the raw range predicate") {
    val plan = q("range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join must not nested-loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"expected an equi-join on (keys, bin):\n$plan")
    assert(plan.contains("Generate explode"), s"expected the interval bin expansion:\n$plan")
  }

  test("interval_join: equi-join on bins — never a nested loop over the raw overlap predicate") {
    val plan = q("interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must not nested-loop:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"expected an equi-join on (keys, bin):\n$plan")
    assert(plan.contains("Generate explode"), s"expected the covering-bin expansion:\n$plan")
  }

  test("profile: exact variant pays one Expand; approx variant is a single narrow pass") {
    val exact = q("profile_docs")
    assert(exact.contains("Expand"),
      s"multi-distinct exact profile should plan via Expand (documented cost):\n$exact")
    val approx = finalPlan(graft.operators.Profile.profileApprox(
      tables.documents(spark, dir).toNative, Seq("doc_id", "lang", "source", "n_chars")))
    assert(!approx.contains("Expand"),
      s"HLL++ profile must not replicate the input:\n$approx")
    // the HLL++ buffer forces SortAggregate, but it must still combine
    // map-side (partial_approx_count_distinct before the exchange)
    assert(approx.contains("partial_approx_count_distinct"),
      s"approx profile must aggregate map-side first:\n$approx")
  }

  test("dedup_bloom_keep: codegen'd might_contain prefilter ahead of the exact-verify join") {
    val plan = q("dedup_bloom_keep")
    assert(plan.contains("might_contain"),
      s"corpus windows must pass the Bloom probe before any join:\n$plan")
    // the verify join must not be a nested loop; the keep is a left anti
    assert(!plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
      s"bloom verify must stay an equi-join:\n$plan")
    assert(plan.contains("LeftAnti"), s"keep must be a left-anti drop-list join:\n$plan")
  }

  test("tfidf: score joins the model broadcast and never shuffles the token stream") {
    val plan = q("tfidf_score")
    assert(plan.contains("BroadcastHashJoin"), s"df model must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the token stream must not sort-merge against the model:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("functions=[partial"),
      s"per-doc agg must combine map-side:\n$plan")
    val top = q("tfidf_topterms")
    assert(top.contains("WindowGroupLimit"),
      s"per-doc top-k must push the k-cut map-side:\n$top")
  }

  test("timeline ops: each is ONE keyed exchange — rollups/steps reuse it, no joins") {
    import org.apache.spark.sql.functions._
    val ev = tables.events(spark, dir).toNative.select(col("event_id"),
      col("user_id"), unix_micros(col("ts")).as("us"), col("value"), col("event_type"))
    def hashExchanges(p: String): Int =
      p.linesIterator.count(_.contains("Exchange hashpartitioning"))

    val sess = finalPlan(graft.operators.Timeline.sessionStats(
      ev, Seq("user_id"), "us", 1800000000L, "value"))
    assert(hashExchanges(sess) == 1,
      s"sessionize + rollup must share one user_id exchange:\n$sess")
    assert(sess.contains("Window"), s"expected lag/running-sum windows:\n$sess")
    assert(!sess.contains("Join"), s"sessionize must not join:\n$sess")

    val fun = finalPlan(graft.operators.Timeline.funnel(
      ev, Seq("user_id"), "us", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase"))))
    assert(hashExchanges(fun) == 1,
      s"funnel steps must chain over one exchange, not shuffle per step:\n$fun")
    assert(!fun.contains("Join"), s"funnel must not self-join per step:\n$fun")

    val roll = finalPlan(graft.operators.Timeline.rolling(
      ev, Seq("user_id"), "us", 3600000000L, "n_1h" -> count(lit(1))))
    assert(hashExchanges(roll) == 1, s"rolling is one keyed exchange:\n$roll")
    assert(roll.contains("Window"), s"expected the RANGE-frame window:\n$roll")

    val ret = finalPlan(graft.operators.Timeline.retention(
      ev, Seq("user_id"), "us", col("event_type") === "signup", 604800000000L))
    assert(!ret.contains("Join"), s"retention anchor must be a window, not a self-join:\n$ret")
    assert(!ret.contains("Expand"),
      s"single-distinct count must plan two-phase, not Expand:\n$ret")
  }

  test("fitBigram: ONE corpus scan feeds both count tables (tagged single aggregate)") {
    import org.apache.spark.sql.functions.col
    val docs = tables.documents(spark, dir).toNative
    val model = graft.operators.NgramLM.fitBigram(docs, col("text"))
    // both model sides read the SAME cached count relation…
    val rels = Seq(model.unigrams, model.bigrams).map(_.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    })
    assert(rels.forall(_.size == 1),
      s"each model side must read exactly one cached relation, got ${rels.map(_.size)}")
    // …and that relation's plan scans the corpus exactly once: the fit
    // cost at 100 TB is the scan, so two would double it (r14 advisory)
    // the cached AQE plan prints Final AND Initial sections — count
    // scans in the final section only
    val cached = rels.head.head.cachedPlan.toString.split("== Initial Plan ==").head
    val scans = cached.linesIterator.count(l =>
      l.contains("Scan parquet") || l.contains("FileScan parquet"))
    assert(scans == 1, s"fit must scan the corpus ONCE, found $scans:\n$cached")
    GraftSession.releaseCachedBlocks(spark)
  }

  test("asof_join forward/nearest: still no join node — windows share one keyed exchange") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val ev = tables.events(spark, dir).toNative
    val probes = ev.select(col("user_id"), unix_micros(col("ts")).as("t"), col("event_id"))
    val quotes = ev.select(col("user_id"), unix_micros(col("ts")).as("t"), col("value"))
    for (d <- Seq("forward", "nearest")) {
      val plan = finalPlan(graft.operators.Joins.asofJoin(
        probes, quotes, Seq("user_id"), "t", Seq("value"),
        tieBreak = Some("value"), direction = d))
      assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin") &&
        !plan.contains("NestedLoop") && !plan.contains("CartesianProduct"),
        s"asof($d) must stay the union+window composition:\n$plan")
      // nearest evaluates two windows but they share the union stream's
      // single hash exchange (same partitioning, re-sort only)
      val unionExchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(unionExchanges <= 2, // union-stream + tieBreak dedup window
        s"asof($d) must not add exchanges per window, got $unionExchanges:\n$plan")
    }
  }

  test("dedup_jaccard: verify-side shingle projections are candidate-pruned (semi-join below)") {
    // The exact-Jaccard verify must shingle only CANDIDATE docs, not
    // the whole corpus: every logical Project that evaluates
    // ShinglesExpr has to sit above a LeftSemi join (the candidate-id
    // prune; the banding pass keeps its shingles inside the Generate's
    // generator, so it does not match here). Without the prune both
    // verify sides tokenize+shingle the full rep set — two extra
    // full-corpus scans' worth of CPU at 100 TB (r21).
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Project}
    import org.apache.spark.sql.graftexpr.ShinglesExpr
    val df = SparkEntry.queries("dedup_jaccard")(spark, dir)
    val plan = df.queryExecution.optimizedPlan
    val shingleProjects = plan.collect {
      case p: Project if p.projectList.exists(_.exists(_.isInstanceOf[ShinglesExpr])) => p
    }
    assert(shingleProjects.nonEmpty,
      s"expected verify-side shingle projections in the optimized plan:\n$plan")
    shingleProjects.foreach { p =>
      val pruned = p.child.collectFirst { case j: Join if j.joinType == LeftSemi => j }.nonEmpty
      assert(pruned, s"shingle projection is not candidate-pruned (no LeftSemi below):\n$p")
    }
    GraftSession.releaseCachedBlocks(spark)
  }

  test("dedup_jaccard / dedup_minhash: the candidate-id prunes broadcast — never sort-merge") {
    // r21 regression: left to AQE, the verify-side id prunes planned as
    // SortMergeJoin LeftSemi — an Exchange+Sort of the full docs by id,
    // the exact shuffle the prune exists to avoid (driver-measured as a
    // 17.5% dedup_minhash regression). The persisted candidate stream
    // is explicitly broadcast, so no SortMergeJoin may appear anywhere
    // in either query's final plan.
    for (name <- Seq("dedup_jaccard", "dedup_minhash")) {
      val plan = q(name)
      assert(!plan.contains("SortMergeJoin"),
        s"$name: candidate prune degraded to a sort-merge join:\n$plan")
      // plan toString renders join type after the key lists
      // ("BroadcastHashJoin [k], [k], LeftSemi, BuildRight")
      assert(plan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftSemi")),
        s"$name: expected broadcast semi-join prunes:\n$plan")
    }
  }
}
