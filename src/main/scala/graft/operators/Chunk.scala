package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** Context-window chunking: split each document into consecutive
  * fixed-token windows — the step that turns a cleaned corpus into
  * training-sequence-sized rows (the companion to [[Pack.packByBudget]],
  * which then packs the chunks into shards).
  *
  * Shape: ONE narrow projection + ONE generator per row. The row count
  * grows by ~n_tokens/size but nothing shuffles — chunking must stay
  * embarrassingly parallel at 100 TB; any formulation that groups or
  * windows over token positions is wrong by construction. Chunk ids are
  * per-document ordinals, so downstream ordering is (doc_id, chunk_id)
  * without any global sequence.
  */
object Chunk {

  /** `(doc_id, chunk_id, n_tokens, chunk_text)` — whitespace tokens in
    * `size`-token windows, last window ragged. NULL text yields no
    * rows (a generator over a NULL array); empty text yields one
    * empty chunk (consistent with [[graft.functions.TextFns.tokenCountWs]]'s
    * ["" counts 1] convention).
    *
    * `stride` (default `size`: non-overlapping) is the token distance
    * between window starts — `stride < size` gives the overlapping
    * windows long-document training uses so no boundary-spanning
    * context is lost. Windows start at 0, stride, 2·stride, … while
    * the start is inside the document; a trailing window that merely
    * re-covers the tail of the previous one is still emitted iff its
    * start index is in range (same rule as Spark's own `sequence`
    * bound — no special-casing, deterministic). */
  def byTokens(df: DataFrame, id: Column, text: Column, size: Int): DataFrame =
    byTokens(df, id, text, size, stride = size)

  /** The Chunk→Pack composition seam (SURVEY L22's "feeds
    * `Pack.packByBudget`"): pack [[byTokens]] output into ~`budget`-token
    * shards, walking chunks in (doc_id, chunk_id) order.
    *
    * [[Pack.packByBudget]] takes ONE long id with contiguous-block
    * arithmetic, while chunks are keyed by the (doc_id, chunk_id) pair —
    * so the packable id is synthesized as `doc_id·2³² + chunk_id`:
    * order-preserving (long comparison = lexicographic pair comparison)
    * and collision-free (chunk_id is a non-negative Int < 2³²). Bounds
    * this imposes: `0 <= doc_id < 2³¹` (the product must not overflow a
    * Long) — ~2.1 B documents per pack call. A corpus beyond that packs
    * per id-range partition (shard ids are relative to the call anyway);
    * re-keying by `dense_rank` would lift the bound but costs a global
    * sort, which this arithmetic form exists to avoid.
    *
    * The narrow (id, weight) frame is eagerly materialized here:
    * [[Pack.packByBudget]] evaluates its input three times, and the
    * upstream is a generator over the full corpus text — without the
    * checkpoint the chunking regex/split work runs 3× (the same
    * measured-recompute reasoning as corpus_prep's stage boundaries).
    *
    * Returns `(doc_id, chunk_id, n_tokens, shard_id)`. */
  def packChunks(chunks: DataFrame, budget: Long, targetBlocks: Int = 1024): DataFrame = {
    val synth = graft.InternalCaches.checkpoint(chunks.select(
      (col("doc_id") * lit(1L << 32) + col("chunk_id")).as("_cid"),
      col("n_tokens")))
    Pack.packByBudget(synth, col("_cid"), col("n_tokens"), budget, targetBlocks)
      .select(
        expr("id div 4294967296").as("doc_id"),
        expr("id % 4294967296").cast("int").as("chunk_id"),
        col("weight").cast("int").as("n_tokens"),
        col("shard_id"))
  }

  def byTokens(df: DataFrame, id: Column, text: Column, size: Int, stride: Int): DataFrame = {
    require(size > 0, s"chunk size must be positive, got $size")
    require(stride > 0 && stride <= size,
      s"stride must be in [1, size=$size], got $stride")
    val ws = col("_ws")
    // number of window starts 0, stride, … strictly below size(_ws):
    // ceil(size(_ws) / stride) — for stride == size this is the
    // non-overlapping chunk count ceil(n / size).
    val nChunks = expr(s"(size(_ws) + ${stride - 1}) div $stride")
    df.select(id.cast("long").as("doc_id"), split(text, " ").as("_ws"))
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), nChunks - lit(1L)),
          i => array_join(slice(ws, (i * stride + 1).cast("int"), lit(size)), " "))))
      .select(col("doc_id"), col("pos").cast("int").as("chunk_id"),
        F.size(split(col("col"), " ")).as("n_tokens"),
        col("col").as("chunk_text"))
  }
}
