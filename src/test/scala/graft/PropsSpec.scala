package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftexpr.{BoundedMemberSet, TopKByScore}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.hashing.{MinHashUtil, ShingleUtil}

/** Generated-input invariants for the pure kernels (no SparkSession —
  * the kernels are static JVM code Catalyst codegen calls into).
  * ScalaCheck `Properties` run under `sbt test` next to the ScalaTest
  * suites via sbt's built-in framework support. */
object HashingProps extends Properties("hashing-kernels") {

  private val toksGen: Gen[List[String]] = Gen.listOf(Gen.identifier)

  private def arr(tokens: Seq[String]): ArrayData =
    new GenericArrayData(tokens.map(t => UTF8String.fromString(t): Any).toArray)

  property("minhash signature has numHashes entries and is token-order-invariant") =
    forAll(toksGen, Gen.choose(1, 64), Gen.long) { (toks, nh, seed) =>
      val sig = MinHashUtil.signature(arr(toks), nh).toLongArray()
      val shuffled = new scala.util.Random(seed).shuffle(toks)
      sig.length == nh &&
        MinHashUtil.signature(arr(shuffled), nh).toLongArray().sameElements(sig)
    }

  property("minhash signature ignores duplicate tokens (set semantics)") =
    forAll(toksGen) { toks =>
      MinHashUtil.signature(arr(toks ++ toks), 32).toLongArray()
        .sameElements(MinHashUtil.signature(arr(toks), 32).toLongArray())
    }

  property("bandBuckets emits exactly `bands` buckets, equal for equal token sets") =
    forAll(toksGen, Gen.choose(1, 8), Gen.choose(1, 8), Gen.long) { (toks, r, bands, seed) =>
      val nh = r * bands
      val bk = MinHashUtil.bandBuckets(arr(toks), nh, bands).toLongArray()
      val shuffled = new scala.util.Random(seed).shuffle(toks)
      bk.length == bands &&
        MinHashUtil.bandBuckets(arr(shuffled), nh, bands).toLongArray().sameElements(bk)
    }

  property("shingle count == max(1, n - k + 1)") =
    forAll(toksGen, Gen.choose(1, 10)) { (toks, k) =>
      ShingleUtil.shingles(arr(toks), k).numElements() ==
        math.max(1, toks.length - k + 1)
    }
}

/** TopKByScore's determinism claim (TopKAgg.scala): the result is
  * independent of how the input is partitioned and in which order the
  * partial buffers merge. */
object TopKProps extends Properties("topk-agg") {

  private val pairGen: Gen[(Double, Long)] = for {
    s <- Gen.chooseNum(-1e6, 1e6)
    i <- Gen.chooseNum(-1000L, 1000L)
  } yield (s, i)

  private def toPairs(result: Any): Seq[(Double, Long)] =
    result.asInstanceOf[GenericArrayData].array.toSeq.map { e =>
      val r = e.asInstanceOf[InternalRow]
      (r.getDouble(0), r.getLong(1))
    }

  property("partitioning and merge order never change the top-k") =
    forAll(Gen.listOf(pairGen), Gen.choose(1, 10), Gen.choose(1, 7), Gen.long) {
      (pairs, k, chunkSize, seed) =>
        val agg = TopKByScore(
          BoundReference(0, DoubleType, nullable = false),
          BoundReference(1, LongType, nullable = false), k)
        def updated(ps: Seq[(Double, Long)]) =
          ps.foldLeft(agg.createAggregationBuffer()) { (b, p) =>
            agg.update(b, InternalRow(p._1, p._2))
          }
        val rnd = new scala.util.Random(seed)
        val chunkBufs = rnd.shuffle(pairs.grouped(chunkSize).toList).map(updated)
        val merged = chunkBufs.foldLeft(agg.createAggregationBuffer())(agg.merge)
        toPairs(agg.eval(merged)) == toPairs(agg.eval(updated(pairs)))
    }

  property("result is sorted (score desc, id asc) and bounded by k") =
    forAll(Gen.listOf(pairGen), Gen.choose(1, 10)) { (pairs, k) =>
      val agg = TopKByScore(
        BoundReference(0, DoubleType, nullable = false),
        BoundReference(1, LongType, nullable = false), k)
      val buf = pairs.foldLeft(agg.createAggregationBuffer()) { (b, p) =>
        agg.update(b, InternalRow(p._1, p._2))
      }
      val out = toPairs(agg.eval(buf))
      val resorted = out.sortBy { case (s, i) => (-s, i) }
      out.length == math.min(k, pairs.length) && out == resorted
    }
}

/** BoundedMemberSet's contract (MemberSetAgg.scala): no buffer ever
  * holds more than `cap` ids, whatever the partitioning and the order
  * in which partial buffers merge; a group over the cap yields NULL (no
  * members), and any other group yields its distinct ids, each flagged
  * new iff any of its rows was new. */
object MemberSetProps extends Properties("bounded-member-set") {

  private val memberGen: Gen[(Long, Boolean)] = for {
    i <- Gen.chooseNum(0L, 12L) // a small id range forces repeats
    n <- Gen.oneOf(true, false)
  } yield (i, n)

  property("the cap holds after any merge order; over-cap groups yield no members") =
    forAll(Gen.listOf(memberGen), Gen.choose(0, 8), Gen.choose(1, 5), Gen.long) {
      (rows, cap, chunkSize, seed) =>
        val agg = BoundedMemberSet(BoundReference(0, LongType, nullable = false),
          BoundReference(1, BooleanType, nullable = false), cap)
        def bounded(b: BoundedMemberSet.Members) = cap <= 0 || b.ids.size <= cap
        def updated(rs: Seq[(Long, Boolean)]) =
          rs.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, InternalRow(r._1, r._2)))
        val rnd = new scala.util.Random(seed)
        val parts = rnd.shuffle(rows.grouped(chunkSize).toList).map(updated)
          .map(b => agg.deserialize(agg.serialize(b)))
        var allBounded = parts.forall(bounded)
        val merged = parts.foldLeft(agg.createAggregationBuffer()) { (acc, b) =>
          val m = agg.merge(acc, b); allBounded &&= bounded(m); m
        }
        def members(b: BoundedMemberSet.Members): Option[Seq[(Long, Boolean)]] =
          Option(agg.eval(b)).map(_.asInstanceOf[GenericArrayData].array.toSeq.map { e =>
            val r = e.asInstanceOf[InternalRow]
            (r.getLong(0), r.getBoolean(1))
          })
        val want = rows.groupMapReduce(_._1)(_._2)(_ || _).toSeq.sortBy(_._1)
        val over = cap > 0 && want.size > cap
        allBounded && members(merged) == members(updated(rows)) &&
          (if (over) members(merged).isEmpty else members(merged).contains(want))
    }
}

/** The media header parser's 100 TB robustness claim: ARBITRARY bytes —
  * including adversarial prefixes that look like container signatures —
  * must decode to something, never throw (a corrupt blob in a crawl
  * cannot kill the job). Pure JVM, no SparkSession. */
object HeaderDecoderProps extends Properties("header-decoder") {
  import graft.operators.Media.HeaderDecoder

  private val sigs: Gen[Array[Byte]] = Gen.oneOf(
    Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte),
    Array[Int](0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, // full IHDR preamble:
      0, 0, 0, 13, 'I', 'H', 'D', 'R').map(_.toByte),       // random tail = random dims
    Array[Int](0xFF, 0xD8).map(_.toByte),             // JPEG SOI
    Array[Int](0xFF, 0xD8, 0xFF, 0xFF).map(_.toByte), // SOI + fill-byte run
    "GIF89a".getBytes("ISO-8859-1"),
    "RIFF".getBytes("ISO-8859-1"),                    // RIFF, random payload
    "RIFF1234WEBP".getBytes("ISO-8859-1"),   // WEBP, random chunk
    "RIFF1234WEBPVP8 ".getBytes("ISO-8859-1"), // lossy: random tag/dims
    "RIFF1234WEBPVP8L".getBytes("ISO-8859-1"), // lossless: random stream
    "RIFF1234WEBPVP8X".getBytes("ISO-8859-1"), // extended: random canvas
    "BM".getBytes("ISO-8859-1"),                      // BMP, random DIB header
    Array.emptyByteArray)

  property("decode never throws and always reports the true byte count") =
    forAll(sigs, Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))) { (sig, tail) =>
      val payload = sig ++ tail.toArray
      val d = HeaderDecoder.decode(payload) // must not throw
      d.nBytes == payload.length.toLong && d.width >= 0 && d.height >= 0 &&
        Set("png", "jpeg", "gif", "webp", "bmp", "unknown").contains(d.format)
    }
}

/** `duplicateClusters` vs an independent local union-find on random
  * small graphs — the only non-trivial distributed algorithm in the
  * library gets a generated-input gate, not just fixed planted chains.
  * Uses the shared test SparkSession; case count is kept small because
  * each evaluation runs a full iterative Spark job. */
object ClusterProps extends Properties("duplicate-clusters") {
  import org.scalacheck.Test

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val edgeGen: Gen[(Long, Long)] = for {
    a <- Gen.choose(0L, 12L)
    b <- Gen.choose(0L, 12L)
    if a != b
  } yield (math.min(a, b), math.max(a, b))

  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, edgeGen)).map(_.distinct)

  /** Min-root union-find with path compression: component root = the
    * smallest id in the component, matching duplicateClusters' contract. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  property("cluster assignment equals an independent union-find") =
    forAll(graphGen) { edges =>
      val s = TestSession.spark
      import s.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val got = graft.operators.Dedup.duplicateClusters(pairs, maxIters = 64)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      got == unionFind(edges)
    }

  // Denser generator for the star variant: few nodes, many edges —
  // co-star and near-clique intermediate states (the shapes that
  // falsified the first convergence probe) are common here.
  private val denseEdgeGen: Gen[(Long, Long)] = for {
    a <- Gen.choose(0L, 7L)
    b <- Gen.choose(0L, 7L)
    if a != b
  } yield (math.min(a, b), math.max(a, b))

  private val denseGraphGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, denseEdgeGen)).map(_.distinct)

  property("star-contraction assignment equals the same union-find") =
    forAll(graphGen) { edges =>
      val s = TestSession.spark
      import s.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val got = graft.operators.Dedup.duplicateClustersStar(pairs, maxIters = 64)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      got == unionFind(edges)
    }

  property("star-contraction equals union-find on dense graphs") =
    forAll(denseGraphGen) { edges =>
      val s = TestSession.spark
      import s.implicits._
      val pairs = edges.toDF("id_a", "id_b")
      val got = graft.operators.Dedup.duplicateClustersStar(pairs, maxIters = 64)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      got == unionFind(edges)
    }
}

/** `saltedInnerJoin` must be a drop-in for the plain inner join on any
  * data — random tables with heavy key collisions, any salt. Small case
  * count: each evaluation runs two Spark joins. */
object SaltedJoinProps extends Properties("salted-join") {
  import org.scalacheck.Test

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n,
      for { k <- Gen.choose(0L, 5L); v <- Gen.choose(0L, 100L) } yield (k, v)))

  property("equals the plain inner join as a multiset, for any salt") =
    forAll(rowsGen, rowsGen, Gen.choose(1, 6)) { (lRows, rRows, salt) =>
      val s = TestSession.spark
      import s.implicits._
      val left = lRows.toDF("k", "lv")
      val right = rRows.toDF("k", "rv")
      def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, Long, Long), Long] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
      multiset(graft.operators.Skew.saltedInnerJoin(left, right, "k", salt)) ==
        multiset(left.join(right, Seq("k")))
    }

  property("deterministic saltBy also equals the plain inner join as a multiset") =
    forAll(rowsGen, rowsGen, Gen.choose(1, 6)) { (lRows, rRows, salt) =>
      val s = TestSession.spark
      import s.implicits._
      // a stable unique row id drives the xxhash64/pmod salt derivation
      val left = lRows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "lv", "rid")
      val right = rRows.toDF("k", "rv")
      def multiset(df: org.apache.spark.sql.DataFrame): Map[(Long, Long, Long, Long), Long] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .groupBy(identity).view.mapValues(_.length.toLong).toMap
      multiset(graft.operators.Skew.saltedInnerJoin(left, right, "k", salt,
        saltBy = Some(org.apache.spark.sql.functions.col("rid")))) ==
        multiset(left.join(right, Seq("k")))
    }
}

/** `minhashKeepIncremental`'s two documented contracts under GENERATED
  * corpora and split points (DedupSpec pins fixed cases): survivors
  * equal the one-shot `minhashKeep` over the whole corpus restricted to
  * the batch (indexed ids precede batch ids by construction), and a
  * replay after the whole batch already reached the index — the
  * partial-failure signature — reproduces the identical survivor set.
  * Small case count: each evaluation writes an index and runs three
  * dedup jobs. */
object IncrementalDedupProps extends Properties("incremental-dedup") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col
  import graft.operators.Dedup

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  // Tiny vocabulary + short docs → every generated corpus is dup-heavy
  // (exact copies AND high-Jaccard near-copies), so the property
  // exercises real drops, not vacuous all-survive corpora.
  private val vocab = Vector("the", "quick", "brown", "fox", "jumps",
    "over", "lazy", "dog", "data", "pipeline")
  private val docGen: Gen[String] =
    Gen.choose(3, 8).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
  private val corpusGen: Gen[List[String]] =
    Gen.choose(2, 20).flatMap(n => Gen.listOfN(n, docGen))

  property("incremental == one-shot restricted to the batch, and is replay-idempotent") =
    forAll(corpusGen, Gen.choose(0.0, 1.0)) { (texts, cutFrac) =>
      val s = TestSession.spark
      import s.implicits._
      val cutIdx = (texts.size * cutFrac).toLong // 0 (all batch) .. n (all indexed)
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val batch = all.where($"doc_id" >= cutIdx)
      val idxPath = java.nio.file.Files.createTempDirectory("graft-incprop").toString + "/idx"
      Dedup.writeMinHashIndex(all.where($"doc_id" < cutIdx), col("doc_id"), col("text"), idxPath)
      def survivors(): Set[Long] =
        Dedup.minhashKeepIncremental(batch, col("doc_id"), col("text"), idxPath, 0.5)
          .collect().map(_.getAs[Long]("doc_id")).toSet
      val first = survivors()
      val oneShot = Dedup.minhashKeep(all, col("doc_id"), col("text"), 0.5)
        .collect().map(_.getAs[Long]("doc_id")).toSet.filter(_ >= cutIdx)
      // partial-failure replay: the WHOLE batch (not just survivors)
      // already reached the index; a rerun must ignore its stale copies
      Dedup.writeMinHashIndex(batch, col("doc_id"), col("text"), idxPath, mode = "append")
      val replayed = survivors()
      first == oneShot && replayed == first
    }
}

/** cast_schema mapping resolution under generated schema shapes —
  * the precedence matrix (explicit mapping > mappedFrom > name match)
  * from CastResolve (frame.scala), reference dataframe.py:234-290. */
object CastResolveProps extends Properties("cast-resolve") {

  private final class DynSchema(names: Seq[String]) extends GSchema {
    names.foreach(n => col[Long](n))
    override def schemaName: String = s"Dyn(${names.mkString(",")})"
  }

  // Distinct identifiers whose "src_"-prefixed forms stay disjoint from
  // the originals (so source schemas built from both sets are unambiguous).
  private val namesGen: Gen[List[String]] =
    Gen.listOf(Gen.identifier).map(_.distinct)
      .suchThat(ns => ns.map("src_" + _).toSet.intersect(ns.toSet).isEmpty)

  property("identity resolution maps every target name to itself") =
    forAll(namesGen) { names =>
      val tgt = new DynSchema(names)
      CastResolve.resolve(tgt, names.toSet, Map.empty,
        extraForbid = true, ambiguous = Set.empty, inheritanceFallback = false) ==
        names.map(n => n -> n).toMap
    }

  property("explicit mapping wins over a same-name source column") =
    forAll(namesGen.suchThat(_.nonEmpty)) { names =>
      val tgt = new DynSchema(names)
      val srcNames = names.map("src_" + _)
      val src = new DynSchema(srcNames ++ names)
      val mapping: Map[GCol[_], GCol[_]] =
        tgt.columns.zip(src.columns.take(names.length)).toMap
      CastResolve.resolve(tgt, (srcNames ++ names).toSet, mapping,
        extraForbid = false, ambiguous = Set.empty, inheritanceFallback = false) ==
        names.map(n => n -> ("src_" + n)).toMap
    }

  property("unresolvable target columns raise GSchemaError naming exactly them") =
    forAll(namesGen.suchThat(_.nonEmpty)) { names =>
      val tgt = new DynSchema(names)
      try {
        CastResolve.resolve(tgt, names.drop(1).toSet, Map.empty,
          extraForbid = false, ambiguous = Set.empty, inheritanceFallback = false)
        false
      } catch {
        case e: GSchemaError => e.missingColumns == Seq(names.head)
      }
    }

  property("extraForbid raises GSchemaError naming the unused source columns") =
    forAll(namesGen.suchThat(_.nonEmpty)) { names =>
      val tgt = new DynSchema(names.tail)
      try {
        CastResolve.resolve(tgt, names.toSet, Map.empty,
          extraForbid = true, ambiguous = Set.empty, inheritanceFallback = false)
        names.tail.isEmpty && names.head.isEmpty // unreachable; extras must throw
      } catch {
        case e: GSchemaError => e.extraColumns == Seq(names.head)
      }
    }
}

/** `Pack.packByBudget`'s claim that the two-phase distributed prefix
  * sum equals the sequential greedy walk, for GENERATED id/weight sets
  * (sparse, shuffled, duplicate-free ids), any budget, any block count
  * (PackSpec pins fixed cases and the plan shape). */
object PackProps extends Properties("pack-by-budget") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  // sparse ids drawn from a wide range; weights include 0 and > budget
  private val rowsGen: Gen[List[(Long, Long)]] =
    Gen.choose(0, 80).flatMap(n => Gen.listOfN(n,
      for { id <- Gen.choose(0L, 100000L); w <- Gen.choose(0L, 400L) } yield (id, w)))
      .map(_.distinctBy(_._1))

  property("distributed assignment equals the sequential greedy walk") =
    forAll(rowsGen, Gen.choose(1L, 300L), Gen.choose(1, 64)) { (rows, budget, blocks) =>
      val s = TestSession.spark
      import s.implicits._
      val expected = {
        var pre = 0L
        rows.sortBy(_._1).map { case (id, w) =>
          val shard = pre / budget; pre += w; id -> shard
        }.toMap
      }
      val got = graft.operators.Pack
        .packByBudget(rows.toDF("id", "w"), col("id"), col("w"), budget, blocks)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      got == expected
    }
}

/** `Pack.selectByBudget`'s claim that the range-partitioned prefix cut
  * equals the sequential (score desc, id) walk, for GENERATED
  * id/weight/score sets — including duplicate scores (the id tie-break
  * must decide identically on both sides) and zero weights. */
object SelectProps extends Properties("select-by-budget") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  // coarse scores force ties; weights include 0
  private val rowsGen: Gen[List[(Long, Long, Double)]] =
    Gen.choose(0, 80).flatMap(n => Gen.listOfN(n,
      for {
        id <- Gen.choose(0L, 100000L)
        w <- Gen.choose(0L, 300L)
        s <- Gen.choose(0, 5).map(_.toDouble)
      } yield (id, w, s)))
      .map(_.distinctBy(_._1))

  property("distributed prefix cut equals the sequential quality walk") =
    forAll(rowsGen, Gen.choose(0L, 5000L)) { (rows, budget) =>
      val s = TestSession.spark
      import s.implicits._
      val expected = {
        var cum = 0L
        rows.sortBy { case (id, _, sc) => (-sc, id) }.flatMap { case (id, w, _) =>
          cum += w
          if (cum <= budget) Some(id) else None
        }.toSet
      }
      val got = graft.operators.Pack
        .selectByBudget(rows.toDF("id", "w", "s"), col("id"), col("w"), col("s"), budget)
        .collect().map(_.getLong(0)).toSet
      got == expected
    }
}

/** `Sampling`'s determinism laws under generated key sets: the kept set
  * is a pure function of (key, seed, rate) — so recomputing under a
  * different partitioning matches — and thresholds NEST (a tighter rate
  * selects a subset of a looser one, same seed). */
object SamplingProps extends Properties("hash-sampling") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private val keysGen: Gen[List[Long]] =
    Gen.choose(0, 300).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 1000000L)))
      .map(_.distinct)

  property("kept set is partition-independent and rates nest") =
    forAll(keysGen, Gen.choose(1, 99), Gen.choose(1, 99), Gen.choose(0, 1000)) {
      (ks, pa, pb, seed) =>
        val s = TestSession.spark
        import s.implicits._
        val (lo, hi) = (math.min(pa, pb) / 100.0, math.max(pa, pb) / 100.0)
        val df = ks.toDF("k")
        def kept(d: org.apache.spark.sql.DataFrame, r: Double): Set[Long] =
          graft.operators.Sampling.sampleHash(d, col("k"), r, seed)
            .collect().map(_.getLong(0)).toSet
        val a = kept(df, lo)
        kept(df.repartition(7), lo) == a && a.subsetOf(kept(df, hi))
    }
}

/** `contaminationStats` against an independent local reference on
  * GENERATED corpora/bench sets (ContaminationSpec pins fixed planted
  * cases): same normalization, same whole-text-shingle convention for
  * short docs, multiplicity counting. */
object ContaminationProps extends Properties("contamination") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col
  import graft.operators.Dedup

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val vocab = Vector("the", "quick", "brown", "fox", "jumps",
    "over", "lazy", "dog", "data", "pipeline")
  private val docGen: Gen[String] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))

  private def shingles(text: String, k: Int): Seq[String] = {
    val toks = text.toLowerCase.trim.replaceAll("\\s+", " ").split(" ").toSeq
    if (toks.length >= k) toks.sliding(k).map(_.mkString(" ")).toSeq
    else Seq(toks.mkString(" "))
  }

  property("per-doc window and hit counts equal the local reference") =
    forAll(Gen.listOf(docGen), Gen.listOf(docGen), Gen.choose(2, 5)) { (corpus, bench, k) =>
      val s = TestSession.spark
      import s.implicits._
      val corpusDf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val benchDf = bench.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = Dedup.contaminationStats(
          corpusDf, col("doc_id"), col("text"), benchDf, col("text"), k)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val benchGrams = bench.flatMap(shingles(_, k)).toSet
      val expected = corpus.zipWithIndex.map { case (t, i) =>
        val ws = shingles(t, k)
        i.toLong -> ((ws.size.toLong, ws.count(benchGrams.contains).toLong))
      }.toMap
      got == expected
    }
}

/** `withSplit` totality on generated keys: every non-null key gets
  * exactly one declared label, deterministically. */
object SplitProps extends Properties("with-split") {
  import org.scalacheck.Test
  import org.apache.spark.sql.functions.col
  import graft.operators.Sampling

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private val keysGen: Gen[List[Long]] =
    Gen.choose(0, 200).flatMap(n => Gen.listOfN(n, Gen.choose(0L, 100000L))).map(_.distinct)

  property("every key gets exactly one declared label; assignment is deterministic") =
    forAll(keysGen, Gen.choose(1, 98), Gen.choose(0, 500)) { (ks, pct, seed) =>
      val s = TestSession.spark
      import s.implicits._
      val weights = Seq("a" -> pct / 100.0, "b" -> (99 - pct) / 100.0, "c" -> 0.01)
      val df = ks.toDF("k")
      def assign: Map[Long, String] =
        Sampling.withSplit(df, col("k"), "split", weights, seed)
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val m = assign
      m.keySet == ks.toSet &&
        m.values.forall(Set("a", "b", "c")) &&
        assign == m
    }
}
