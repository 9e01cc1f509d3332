package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Byte-pair-encoding token counting (SURVEY §2.5 L56) — training
  * budgets are TOKENIZER tokens, not regex words: Pack/Chunk budget
  * cuts counted whitespace tokens until now, but a 2048-token packing
  * budget in published practice means 2048 BPE pieces (the r16
  * verdict's item #6). This is the original published BPE formulation
  * (Sennrich, Haddow & Birch 2016, arXiv:1508.07909 — character-level
  * merges; GPT-2's byte-level variant is the same algorithm over a
  * byte alphabet): a word starts as its character sequence and the
  * caller-supplied ordered MERGE LIST is applied exhaustively — at
  * each step the adjacent pair with the LOWEST merge rank merges
  * (leftmost occurrence on ties) — and the pieces that remain are the
  * word's tokens. No vocabulary ships with the library: merges are
  * caller input (`fitMerges` trains one, or load any published
  * merges.txt shape as ordered pairs).
  *
  * Scale shape (100 TB): counting is a NATIVE codegen'd expression
  * ([[org.apache.spark.sql.graftexpr.BpeCountExpr]]) — the merge
  * table ships ONCE per task as a codegen reference object (the
  * PcaProjectExpr pattern) and each row costs one pass over its words
  * with a per-task memo of word → piece-count (Zipf makes the hit
  * rate extreme: the 1000 most frequent words cover most tokens), so
  * the corpus-scale pass is a pure narrow projection — no exchange,
  * no UDF, no state. Training is driver-side over a BOUNDED
  * (word, count) sample — the published practice (tokenizers train on
  * a corpus sample, not the corpus) and the LogReg sample contract. */
object Bpe {

  /** Count BPE pieces per document: the module tokenization contract
    * ([[NgramLM.tokens]]) splits words, each word BPE-segments under
    * `merges`, and the per-word piece counts sum. NULL text → NULL. */
  def count(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeCountExpr(
      Bridge.expr(NgramLM.tokens(text)), flatten(merges)))

  /** The BPE pieces themselves, in document order (specs, packing
    * inspection; prefer [[count]] on the hot path — it never
    * materializes the piece array). */
  def segments(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeSegmentsExpr(
      Bridge.expr(NgramLM.tokens(text)), flatten(merges)))

  /** BYTE-level BPE piece count (GPT-2 / Radford et al. 2019 — the
    * published merges.txt shape): GPT-2 regex pretokenization (leading
    * spaces attach to words), UTF-8 bytes lifted to the printable
    * unicode space ([[graft.hashing.BpeUtil.ByteToChar]]; `Ġ` = space),
    * then the same exhaustive lowest-rank-leftmost merges. `merges`
    * pairs are in the MAPPED space, so a published GPT-2-format
    * merges.txt ([[loadMergesLines]]) counts real training budgets
    * verbatim. Same codegen shape as [[count]]: pure narrow
    * projection, frozen rank table as a reference object, per-thread
    * word→pieces memo. NULL text → NULL. */
  def countBytes(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeCountBytesExpr(
      Bridge.expr(text), flatten(merges)))

  /** The byte-level pieces in document order, in the mapped space
    * (specs/inspection; prefer [[countBytes]] on the hot path). */
  def segmentsBytes(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeSegmentsBytesExpr(
      Bridge.expr(text), flatten(merges)))

  /** The GPT-2 pretokenizer as a Column (training word counts and
    * specs; Spark's `regexp_extract_all` runs the same Java pattern the
    * kernel walks). */
  def pretokens(text: Column): Column =
    regexp_extract_all(text,
      lit(graft.hashing.BpeUtil.Gpt2Pretokenizer.pattern()), lit(0))

  private def flatten(merges: Seq[(String, String)]): Seq[String] =
    merges.flatMap { case (l, r) => Seq(l, r) }

  /** Train `numMerges` BPE merges (Sennrich 2016 §3.2, verbatim): from
    * the corpus word frequencies, repeatedly merge the most frequent
    * adjacent symbol pair. Deterministic: ties break lexicographically
    * on (left, right). The (word, count) table collects to the driver
    * and is REQUIRED bounded (`maxDistinctWords` fail-fast) — pass a
    * sample ([[Sampling]]) for corpus-scale input; one distributed
    * word-count aggregate is the only cluster work. */
  def fitMerges(
      df: DataFrame, text: Column, numMerges: Int,
      maxDistinctWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val wc = df.select(explode(NgramLM.tokens(text)).as("w"))
      .groupBy("w").agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .limit(maxDistinctWords + 1)
      .collect()
    require(wc.length <= maxDistinctWords,
      s"more than $maxDistinctWords distinct words — train on a bounded sample")
    // word -> (symbols, count); symbols seed by CODE POINT — the same
    // alphabet BpeUtil.segment applies and the oracle splits, so
    // supplementary-plane text (emoji) never trains lone-surrogate
    // merges the apply path can't use
    val vocab: Array[(Array[String], Long)] = wc.map { r =>
      val word = r.getString(0)
      val syms = new scala.collection.mutable.ArrayBuffer[String](word.length)
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        syms += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (syms.toArray, r.getLong(1))
    }
    mergeLoop(vocab, numMerges)
  }

  /** Train `numMerges` BYTE-level merges (the [[fitMerges]] algorithm
    * over the GPT-2 alphabet): words come from [[pretokens]] (leading
    * spaces attached), seed as mapped UTF-8 bytes, and the returned
    * pairs are in the mapped space — directly [[countBytes]]/[[save]]
    * input, format-compatible with published merges.txt. Same bounded
    * driver-side (word, count) contract as [[fitMerges]]. */
  def fitMergesBytes(
      df: DataFrame, text: Column, numMerges: Int,
      maxDistinctWords: Int = 1000000): Seq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val wc = df.select(explode(pretokens(text)).as("w"))
      .groupBy("w").agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
      .limit(maxDistinctWords + 1)
      .collect()
    require(wc.length <= maxDistinctWords,
      s"more than $maxDistinctWords distinct words — train on a bounded sample")
    val vocab: Array[(Array[String], Long)] = wc.map { r =>
      val bw = graft.hashing.BpeUtil.toByteWord(r.getString(0))
      (bw.toCharArray.map(_.toString), r.getLong(1))
    }
    mergeLoop(vocab, numMerges)
  }

  /** The shared Sennrich merge loop: repeatedly merge the most
    * frequent adjacent pair (ties lexicographic on (left, right) —
    * pinned, so the re-train oracle is deterministic). */
  private def mergeLoop(vocab0: Array[(Array[String], Long)],
      numMerges: Int): Seq[(String, String)] = {
    var vocab = vocab0
    val merges = Vector.newBuilder[(String, String)]
    var m = 0
    var done = false
    while (m < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pairCounts.update(k, pairCounts.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        // most frequent; ties lexicographic on (left, right) — pinned
        var best: (String, String) = null
        var bestC = -1L
        pairCounts.foreach { case (k, v) =>
          if (v > bestC || (v == bestC &&
              (k._1 < best._1 || (k._1 == best._1 && k._2 < best._2)))) {
            best = k; bestC = v
          }
        }
        merges += best
        val (l, r) = best
        val lr = l + r
        vocab = vocab.map { case (syms, c) =>
          if (syms.length < 2) (syms, c)
          else {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += lr; i += 2
              } else { out += syms(i); i += 1 }
            }
            (out.toArray, c)
          }
        }
        m += 1
      }
    }
    merges.result()
  }

  /** Parse published merges.txt lines (the GPT-2/HF export format:
    * optional `#version:` header, then one `left right` pair per line
    * in rank order, already in the mapped byte space). Blank lines
    * skip; a line without exactly one separating space is rejected. */
  def loadMergesLines(lines: Seq[String]): Seq[(String, String)] =
    lines.iterator
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map { l =>
        val i = l.indexOf(' ')
        require(i > 0 && l.indexOf(' ', i + 1) < 0, s"malformed merges line '$l'")
        (l.substring(0, i), l.substring(i + 1))
      }.toVector

  // ------------------------------------------------------------------
  // tiktoken-format vocabularies (cl100k_base / o200k_base ship as
  // base64 `token rank` .tiktoken files + special tokens — what 2026
  // budget counting actually loads, not GPT-2 merges.txt)
  // ------------------------------------------------------------------

  /** A loaded tiktoken vocabulary: tokens in ascending rank order
    * (mapped byte space), special tokens (raw text), and the vocab's
    * pretokenizer pattern. Build with [[loadTiktoken]] (published
    * files) or [[tiktokenFromMerges]] (fixtures/specs). */
  final case class TiktokenVocab(tokensByRank: Seq[String],
      specials: Seq[String], pattern: String)

  /** cl100k_base's published pretokenizer (tiktoken ships it beside
    * the vocab), with the module's one documented variance: `\s` is
    * Java's ASCII class, not Python's Unicode one — the same variance
    * [[graft.hashing.BpeUtil.Gpt2Pretokenizer]] pins, kept so Java and
    * RE2 oracle engines agree. Pass your vocab's own pattern to
    * [[loadTiktoken]] for other tokenizers (o200k etc.). */
  val Cl100kPattern: String =
    "'(?i:[sdmt]|ll|ve|re)|[^\\r\\n\\p{L}\\p{N}]?+\\p{L}+|\\p{N}{1,3}" +
      "| ?[^\\s\\p{L}\\p{N}]++[\\r\\n]*|\\s*[\\r\\n]|\\s+(?!\\S)|\\s+"

  /** Parse .tiktoken lines (`base64(token_bytes) rank`, one per line;
    * blank lines skip — cl100k/o200k load verbatim). Tokens sort by
    * rank (values may be sparse; only their ORDER drives the greedy
    * merge), then lift to the mapped byte space. `specials` are
    * matched whole before pretokenization and count one piece each. */
  def loadTiktoken(lines: Seq[String],
      specials: Seq[String] = Seq("<|endoftext|>"),
      pattern: String = Cl100kPattern): TiktokenVocab = {
    val dec = java.util.Base64.getDecoder
    val toks = lines.iterator.filter(_.trim.nonEmpty).map { l =>
      val i = l.lastIndexOf(' ')
      require(i > 0, s"malformed .tiktoken line '${l.take(40)}'")
      val rank = try l.substring(i + 1).trim.toInt catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"bad rank in '${l.take(40)}'")
      }
      (graft.hashing.BpeUtil.bytesToMapped(dec.decode(l.substring(0, i))), rank)
    }.toVector
    TiktokenVocab(toks.sortBy(_._2).map(_._1), specials, pattern)
  }

  /** A tiktoken-shaped vocab from byte-level merges (fixtures, and the
    * bpe_tokens_tiktoken gate's deterministic re-train): ranks 0–255
    * are the single bytes in byte order — every real file carries them
    * — and merge i contributes token left+right at rank 256+i, the
    * GPT-2-lineage vocab layout. */
  def tiktokenFromMerges(merges: Seq[(String, String)],
      specials: Seq[String] = Nil,
      pattern: String = graft.hashing.BpeUtil.Gpt2Pretokenizer.pattern()): TiktokenVocab = {
    val bytes = (0 until 256).map(b =>
      String.valueOf(graft.hashing.BpeUtil.ByteToChar(b)))
    TiktokenVocab(bytes ++ merges.map { case (l, r) => l + r }, specials, pattern)
  }

  /** Serialize a vocab to .tiktoken lines (round-trip fixture writer:
    * base64 of each token's BYTES + its dense rank). */
  def tiktokenLines(vocab: TiktokenVocab): Seq[String] = {
    val enc = java.util.Base64.getEncoder
    vocab.tokensByRank.zipWithIndex.map { case (t, r) =>
      enc.encodeToString(graft.hashing.BpeUtil.mappedToBytes(t)) + " " + r
    }
  }

  /** Count tiktoken pieces per document: specials match whole (one
    * piece each) before pretokenization; each pretoken byte-pair-
    * merges under the vocab's MERGED-token ranks (tiktoken's published
    * algorithm, not the pair-rank merges.txt walk). Same 100 TB shape
    * as [[countBytes]]: codegen'd narrow projection, frozen table as a
    * reference object, per-thread memo. NULL text → NULL. */
  def countTiktoken(text: Column, vocab: TiktokenVocab): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeCountTiktokenExpr(
      Bridge.expr(text), vocab.tokensByRank, vocab.specials, vocab.pattern))

  /** The tiktoken pieces in document order (mapped space, specials as
    * raw text; prefer [[countTiktoken]] on hot paths). */
  def segmentsTiktoken(text: Column, vocab: TiktokenVocab): Column =
    Bridge.column(org.apache.spark.sql.graftexpr.BpeSegmentsTiktokenExpr(
      Bridge.expr(text), vocab.tokensByRank, vocab.specials, vocab.pattern))

  /** Merges as a frame `(rank, left, right)` — the persisted/aux-export
    * shape (the lr_model pattern). */
  def toFrame(merges: Seq[(String, String)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
  }

  /** Load merges saved as [[toFrame]] parquet (by rank order). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Seq[(String, String)] =
    graft.Parquet.read(spark, path).select("rank", "left", "right")
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
}
