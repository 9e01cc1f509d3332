package graftbench

import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, lit, sum}
import org.apache.spark.sql.types.StructType
import graft._
import graft.functions.TextFns
import graft.operators.{Dedup, Pack}

/** One benchmark workload. Ops are grouped in rounds: a round is the unit
  * of warm-up, of the timed phase (only whole rounds are timed) and of
  * trace alternation. `runOp` is the timed body; checks that need a
  * Spark job of their own run in `verify`, after the timed phase. */
trait Workload {
  /** Set-up the workload needs before its first op (counted in set-up). */
  def setup(): Unit = ()
  def roundOps: Int
  /** Least and most warm-up rounds (the inputs or the run budget set
    * the cap). The least is above two so that a round which happens to
    * run near its predecessor cannot end the warm-up while ops are still
    * getting faster, as they are after round 3 on analytics. */
  def minWarmRounds: Int = 4
  def maxWarmRounds: Int = 5
  /** Timed rounds the inputs allow. */
  def maxRounds: Int = Int.MaxValue
  def opKey(round: Int, pos: Int): String
  def inputRows(round: Int, pos: Int): Long
  /** Runs op `pos` of round `round`; `seq` numbers ops across the run
    * (negative during warm-up). Returns a failure message or null. */
  def runOp(round: Int, pos: Int, seq: Int, dir: String, tr: Tracer): String
  /** Extra calls made only in traced rounds, outside the op's timing. */
  def probe(round: Int, pos: Int, tr: Tracer): Unit = ()
  /** Post-run checks: op seq -> failure message. */
  def verify(): Map[Int, String] = Map.empty
  /** Workload-specific counters for the result record. */
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, input: String, out: String, manifest: JsonNode,
      expected: JsonNode, seed: Long): Workload = name match {
    case "analytics" => new Analytics(spark, input, manifest, expected, seed)
    case "corpus_prep" => new CorpusPrep(spark, input, manifest, expected, out)
    case "ingest_validate" => new IngestValidate(spark, input, manifest, expected)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Typed relational and event queries from SparkEntry.queries, in a
  * seeded random order per round; every round runs every shape once. */
final class Analytics(spark: SparkSession, input: String, manifest: JsonNode,
    expected: JsonNode, seed: Long) extends Workload {
  private val shapes: IndexedSeq[String] = {
    val it = manifest.get("shapes").fieldNames()
    val b = IndexedSeq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result().sorted
  }
  private var order: IndexedSeq[String] = shapes
  private var orderRound = Int.MinValue
  val captured = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  private def shapeAt(round: Int, pos: Int): String = {
    if (round != orderRound) {
      order = new scala.util.Random(seed * 1000003L + round).shuffle(shapes)
      orderRound = round
    }
    order(pos)
  }

  def roundOps: Int = shapes.size
  def opKey(round: Int, pos: Int): String = shapeAt(round, pos)
  def inputRows(round: Int, pos: Int): Long =
    manifest.get("shapes").get(shapeAt(round, pos)).get("input_rows").asLong

  def runOp(round: Int, pos: Int, seq: Int, dir: String, tr: Tracer): String = {
    val shape = shapeAt(round, pos)
    val df = tr.span("frame.build")(graft.SparkEntry.queries(shape)(spark, input))
    tr.span("frame.plan")(df.queryExecution.executedPlan)
    val rows = tr.span("frame.exec")(df.collect())
    if (seq >= 0 && !captured.contains(shape)) captured(shape) = (rows, df.schema)
    val want = expected.get("shapes").get(shape).get("rows").asLong
    if (rows.length != want) s"$shape: ${rows.length} rows, expected $want" else null
  }

  private def read(t: String): Unit = t match {
    case "lineitem" => graft.tables.lineitem(spark, input)
    case "orders" => graft.tables.orders(spark, input)
    case "customer" => graft.tables.customer(spark, input)
    case "nation" => graft.tables.nation(spark, input)
    case "region" => graft.tables.region(spark, input)
    case "events" => graft.tables.events(spark, input)
  }

  /** The typed reader calls the shape makes inside its build, repeated
    * from outside so their cost can be attributed to the io layer. */
  override def probe(round: Int, pos: Int, tr: Tracer): Unit = {
    val ts = manifest.get("shapes").get(shapeAt(round, pos)).get("tables")
    tr.span("io.read") { (0 until ts.size).map(i => ts.get(i).asText).distinct.foreach(read) }
  }

  /** Writes each shape's result rows (from its first timed op) as parquet
    * so their content fingerprint can be checked against the oracle. */
  def writeCaptured(dir: String): Unit =
    captured.foreach { case (shape, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$shape")
    }
}

/** LLM data-prep pipeline over sequential corpus batches: TextFns gate,
  * exact dedup, incremental MinHash dedup against a growing index, index
  * append, decontamination against a held-out eval set, token-budget
  * packing and shard write. One op, and one round, per batch. Set-up
  * writes the history corpus's index and copies it: warm-up batches
  * append to one copy, timed batches to the other, so the timed sequence
  * always starts from the same index whatever the warm-up did. */
final class CorpusPrep(spark: SparkSession, input: String, manifest: JsonNode,
    expected: JsonNode, out: String) extends Workload {
  private val params = manifest.get("params")
  private val threshold = params.get("near_threshold").asDouble
  private val minWords = params.get("gate_min_words").asInt
  private val budget = params.get("pack_budget").asLong
  private val k = params.get("decontam_k").asInt
  private val evalDocs = spark.read.parquet(s"$input/eval.parquet")
  private val id = col("doc_id")
  private val text = col("text")
  private val shardDirs = mutable.LinkedHashMap.empty[Int, (String, Int)]
  private var verified = 0L
  private var candidates = 0L
  private var skippedRows = 0L
  private var docsKept = 0L

  private def batch(round: Int): JsonNode =
    if (round < 0) manifest.get("warm").get(-round - 1) else manifest.get("batches").get(round)
  private def indexPath(round: Int): String = if (round < 0) s"$out/index_warm" else s"$out/index_timed"

  override def setup(): Unit = {
    val history = Tio.readParquet(spark, s"$input/history.parquet", graft.tables.Documents).df
    Dedup.writeMinHashIndex(history, id, text, indexPath(0))
    val from = java.nio.file.Paths.get(indexPath(0))
    val to = java.nio.file.Paths.get(indexPath(-1))
    val files = java.nio.file.Files.walk(from)
    try files.forEach(p => java.nio.file.Files.copy(p, to.resolve(from.relativize(p))))
    finally files.close()
  }
  def roundOps: Int = 1
  override def minWarmRounds: Int = manifest.get("warm").size
  override def maxWarmRounds: Int = manifest.get("warm").size
  override def maxRounds: Int = manifest.get("batches").size
  def opKey(round: Int, pos: Int): String = batch(round).get("file").asText.stripSuffix(".parquet")
  def inputRows(round: Int, pos: Int): Long = batch(round).get("docs").asLong

  private def batchDocs(round: Int): DataFrame =
    Tio.readParquet(spark, s"$input/${batch(round).get("file").asText}", graft.tables.Documents).df

  private def gate(df: DataFrame): DataFrame =
    TextFns.withLangId(df, text, "lang_pred")
      .where(col("lang_pred") === "en" && TextFns.wordCount(text) >= minWords)
      .drop("lang_pred")

  def runOp(round: Int, pos: Int, seq: Int, dir: String, tr: Tracer): String = {
    val index = indexPath(round)
    val docs = tr.span("io.read")(batchDocs(round))
    val gated = tr.span("functions.gate")(gate(docs).localCheckpoint(true))
    val exact = tr.span("operators.exact_dedup")(Dedup.exactKeep(gated, text, id).localCheckpoint(true))
    val near = tr.span("operators.near_dedup")(
      Dedup.minhashKeepIncremental(exact, id, text, index, threshold).localCheckpoint(true))
    tr.span("operators.index_write")(Dedup.writeMinHashIndex(near, id, text, index, mode = "append"))
    val clean = tr.span("operators.decontam")(
      Dedup.decontaminatedKeep(near, id, text, evalDocs, text, k).localCheckpoint(true))
    val packed = tr.span("operators.pack")(
      Pack.packByBudget(clean, id, TextFns.wordCount(text), budget)
        .join(clean.select(id.as("id"), text), "id"))
    val shards = s"$dir/shards_op$seq"
    tr.span("io.write")(Pack.writeShards(packed, shards))
    if (seq >= 0) shardDirs(seq) = (shards, round)
    null
  }

  /** Candidate and verified-pair counts and the hot-bucket report over
    * the batch's exact-dedup survivors together with the history the
    * index was seeded with (most planted copies match a history doc, so
    * the batch alone holds almost no true pairs); traced rounds only. */
  override def probe(round: Int, pos: Int, tr: Tracer): Unit = tr.span("operators.probe") {
    val history = Tio.readParquet(spark, s"$input/history.parquet", graft.tables.Documents).df
    val exact = Dedup.exactKeep(gate(batchDocs(round)), text, id).unionByName(history)
    candidates += Dedup.minhashCandidates(exact, id, text).count()
    verified += Dedup.jaccardPairs(exact, id, text, threshold).count()
    skippedRows += Dedup.minhashKeepReported(exact, id, text, threshold)._2.rows
  }

  override def verify(): Map[Int, String] = shardDirs.flatMap { case (seq, (shards, round)) =>
    val want = expected.get("batches").get(round)
    val planted = {
      val a = want.get("planted_dup_ids")
      (0 until a.size).map(i => a.get(i).asLong)
    }
    val r = spark.read.parquet(shards).agg(
      org.apache.spark.sql.functions.count(lit(1)), sum(col("id")), countDistinct(col("shard_id")),
      sum(col("id").isin(planted: _*).cast("long"))).head()
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2),
      if (r.isNullAt(3)) 0L else r.getLong(3))
    docsKept += got._1
    val exp = (want.get("survivors").asLong, want.get("survivor_id_sum").asLong,
      want.get("shards").asLong, 0L)
    val name = want.get("file").asText
    if (got != exp) Some(seq -> s"$name: (survivors, id_sum, shards, planted_kept) = $got, expected $exp")
    else None
  }.toMap

  override def extra: Map[String, Any] = Map(
    "minhash_candidates" -> candidates, "jaccard_verified" -> verified,
    "skipped_bucket_rows" -> skippedRows, "docs_kept" -> docsKept)
}

/** Typed ingest with full validation: partitioned write, validated read
  * (structural check plus the one-pass constraint aggregation),
  * castSchema, rewrite. */
object IngestOrder extends GSchema {
  val o_orderkey = col[Long]("o_orderkey").field(GField(unique = true))
  val o_custkey = col[Long]("o_custkey")
  val o_orderstatus = col[String]("o_orderstatus")
  val o_totalprice = col[Double]("o_totalprice").field(GField(gt = Some(0.0)))
  val o_orderpriority = col[String]("o_orderpriority").field(GField(isin = Some(
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))))
  val o_clerk = col[String]("o_clerk").field(GField(pattern = Some("^Clerk#[0-9]{9}$")))
  val o_comment = col[String]("o_comment").field(GField(minLength = Some(5), maxLength = Some(60)))
  val l_quantity = col[Double]("l_quantity").field(GField(lt = Some(100.0)))
  val l_discount = col[Double]("l_discount").field(GField(ge = Some(0.0), le = Some(1.0)))
}

object IngestSlim extends GSchema {
  val orderkey = col[Long]("orderkey").from(IngestOrder.o_orderkey)
  val custkey = col[Long]("custkey").from(IngestOrder.o_custkey)
  val status = col[String]("status").from(IngestOrder.o_orderstatus)
  val revenue = col[Double]("revenue").from(IngestOrder.o_totalprice)
  val qty = col[Long]("qty").from(IngestOrder.l_quantity)
  val discount = col[Double]("discount").from(IngestOrder.l_discount)
}

final class IngestValidate(spark: SparkSession, input: String, manifest: JsonNode,
    expected: JsonNode) extends Workload {
  private val batches = manifest.get("batches")
  private val outputs = mutable.LinkedHashMap.empty[Int, (String, Int)]

  /** One round = every batch once. */
  def roundOps: Int = batches.size
  def opKey(round: Int, pos: Int): String = s"batch_$pos"
  def inputRows(round: Int, pos: Int): Long = batches.get(pos).get("rows").asLong

  def runOp(round: Int, pos: Int, seq: Int, dir: String, tr: Tracer): String = {
    val src = tr.span("io.read")(
      Tio.readParquet(spark, s"$input/${batches.get(pos).get("file").asText}", IngestOrder))
    val staged = s"$dir/staged_op$seq"
    tr.span("io.write")(Tio.writeParquet(src, staged, partitionBy = Seq("o_orderstatus")))
    val back = tr.span("io.read")(Tio.readParquet(spark, staged, IngestOrder))
    tr.span("validation.structural")(Validator.structural(back.df, IngestOrder))
    val viol = tr.span("validation.constraints")(Validator.collectViolations(back.df, IngestOrder))
    val slim = tr.span("frame.build")(back.castSchema(IngestSlim))
    val out = s"$dir/final_op$seq"
    tr.span("io.write")(Tio.writeParquet(slim, out))
    if (seq >= 0) outputs(seq) = (out, pos)
    val got = viol.map(v => s"${v.column}:${v.constraint.takeWhile(_ != '=')}" -> v.gotCount).toMap
    val want = expected.get("batches").get(pos).get("violations")
    val wantMap = {
      val it = want.fields()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asLong }
      b.result()
    }
    if (got != wantMap) s"batch_$pos: violations $got, expected $wantMap" else null
  }

  override def verify(): Map[Int, String] = outputs.flatMap { case (seq, (out, pos)) =>
    val n = spark.read.parquet(out).count()
    val want = expected.get("batches").get(pos).get("rows").asLong
    if (n != want) Some(seq -> s"batch_$pos: round trip kept $n rows, expected $want") else None
  }.toMap
}
