package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Ann, Dedup, Skew}

/** Executable twin of the `docs/` cookbook: every code snippet in the
  * docs markdown files appears here (with test fixtures substituted for
  * user paths) and must compile and run. Editing a doc snippet means
  * editing its twin — the docs cannot silently rot.
  *
  * quickstart.md      → "quickstart: …" tests
  * dedup-at-scale.md  → "dedup recipe: …" tests
  * ann.md             → "ann recipe: …" tests
  * shuffle-engineering.md → "shuffle toolkit: …" tests
  */
class DocsSpec extends SparkSpec {
  import fixtures._
  import spark.implicits._

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-docs-$tag").toString

  // --- quickstart.md -------------------------------------------------

  test("quickstart: read, transform, write, aggregate") {
    val path = freshDir("qs") + "/users"
    Tio.writeParquet(Tio.fromRows(spark, Users, users), path)

    val loaded = Tio.readParquet(spark, path, Users)
    val top = loaded
      .filter(Users.score > 90.0 && Users.age.isNotNull)
      .withCols((Users.score.tc * glit(0.01)).asName("normalized"))
      .sort(Users.score.desc, Users.id.asc)
      .limit(100)
    val outPath = freshDir("qs-out") + "/top"
    Tio.writeParquet(top, outPath)
    assert(spark.read.parquet(outPath).count() == 1L) // cy: 99.9, age set

    val agg = loaded.groupBy(Users.name).agg(
      Users.score.mean.asName("avg_score"),
      Users.id.count.asName("n"),
      Users.id.approxNUnique.asName("n_distinct_est"),
    )
    assert(agg.toNative.count() == users.size.toLong) // unique names in fixture
  }

  test("quickstart: JSONL read with pinned schema") {
    val jsonlPath = freshDir("jsonl") + "/docs"
    Tio.writeJson(Tio.fromRows(spark, Users, users), jsonlPath)
    val docs = Tio.readJson(spark, jsonlPath, Users)
    assert(docs.height == users.size.toLong)
  }

  test("quickstart: validation levels and explicit validator calls") {
    val df = Tio.fromRows(spark, Users, users).toNative
    Validator.structural(df, Users)     // no job, throws on shape mismatch
    Validator.constraints(df, Users)    // one observed scan: 2 jobs with a unique column
  }

  // --- dedup-at-scale.md ---------------------------------------------

  private val corpus = Seq(
    Doc(1L, "the quick brown fox jumps over the lazy dog"),
    Doc(2L, "The quick  brown fox jumps over the lazy dog"),
    Doc(3L, "the quick brown fox jumps over the lazy cat"),
    Doc(4L, "spark shuffles partitions across the cluster executors nightly"),
    Doc(5L, "an entirely fresh document about training data pipelines"),
  )
  private object Corpus extends GSchema {
    val doc_id = col[Long]("doc_id")
    val text   = col[String]("text")
  }
  private def corpusDf = Tio.fromRows(spark, Corpus, corpus).toNative

  test("dedup recipe: exact first, then reported near-dup") {
    val docs = corpusDf
    val exact = Dedup.exactKeep(docs, col("text"), col("doc_id"))
    val (kept, skipped) = Dedup.minhashKeepReported(
      exact, col("doc_id"), col("text"), threshold = 0.5)
    assert(skipped.groups == 0L) // no degenerate buckets in this corpus
    val ids = kept.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(ids == Set(1L, 4L, 5L)) // 2 exact-dups 1; 3 near-dups 1
  }

  test("dedup recipe: incremental against a persisted index") {
    val indexPath = freshDir("idx") + "/idx"
    val all = corpusDf
    val seed  = all.where(col("doc_id") <= 2)
    val batch = all.where(col("doc_id") > 2)

    Dedup.writeMinHashIndex(seed, col("doc_id"), col("text"), indexPath)
    val fresh = Dedup.minhashKeepIncremental(
      batch, col("doc_id"), col("text"), indexPath, threshold = 0.5)
    Dedup.writeMinHashIndex(fresh, col("doc_id"), col("text"), indexPath, mode = "append")

    assert(fresh.collect().map(_.getAs[Long]("doc_id")).toSet == Set(4L, 5L))
    // audits from the doc's failure-contract paragraph
    assert(Dedup.indexMissingBucketIds(spark, indexPath).isEmpty)
    assert(!Dedup.indexDataIsEmpty(spark, indexPath))
  }

  test("dedup recipe: duplicate clusters") {
    val pairs = Dedup.jaccardPairs(corpusDf, col("doc_id"), col("text"), 0.5)
    val clusters = Dedup.duplicateClusters(pairs)
    val byId = clusters.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
    assert(byId == Map(1L -> 1L, 2L -> 1L, 3L -> 1L)) // one transitive component
  }

  // --- ann.md ---------------------------------------------------------

  private object Embs extends GSchema {
    val vec_id    = col[Long]("vec_id")
    val embedding = col[Seq[Float]]("embedding")
  }
  private def embDf = {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 40L).map { i =>
      Emb(i, Array.fill(8)(rnd.nextFloat() * 2f - 1f).toSeq)
    }
    Tio.fromRows(spark, Embs, rows).toNative
  }

  test("ann recipe: brute, LSH, and IVF train/save/load") {
    val table = embDf
    val probes = table.where(col("vec_id") < 2)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))

    val brute = Ann.topKBrute(table, col("vec_id"), col("embedding"), probes, k = 5)
    assert(brute.count() == 10L) // 2 probes × k

    val lsh = Ann.topKLsh(table, col("vec_id"), col("embedding"), probes, k = 5,
      dim = 8, tables = 8, bits = 4)
    assert(lsh.count() <= 10L && lsh.count() > 0L)

    val quantizerPath = freshDir("ivf") + "/quantizer"
    val centroids = Ann.trainIvf(table, col("embedding"), dim = 8, nClusters = 4)
    Ann.saveIvf(spark, centroids, quantizerPath)
    val unit = Ann.loadIvf(spark, quantizerPath)
    val ivf = Ann.topKIvfWith(unit, table, col("vec_id"), col("embedding"), probes,
      k = 5, nProbe = 2)
    assert(ivf.count() > 0L)

    val pqPath = freshDir("pq") + "/quantizer"
    val cb = Ann.trainPq(table, col("embedding"), dim = 8, m = 4, codes = 8)
    Ann.savePq(spark, cb, pqPath)
    val loadedPq = Ann.loadPq(spark, pqPath)
    val pq = Ann.topKPqWith(loadedPq, table, col("vec_id"), col("embedding"), probes,
      k = 5, rerank = 10)
    assert(pq.count() > 0L)

    val ivfpq = Ann.topKIvfPqWith(unit, loadedPq, table, col("vec_id"), col("embedding"),
      probes, k = 5, nProbe = 2, rerank = 10)
    assert(ivfpq.count() > 0L)
  }

  test("ann recipe: hybrid retrieval — BM25 + dense legs fused by reciprocal rank") {
    import spark.implicits._
    import graft.operators.{Bm25, RankFusion}
    val docs = (0L until 40L).map(i =>
      (i, if (i % 3 == 0) s"spark window merge doc $i" else s"plain filler text $i"))
      .toDF("doc_id", "text")
    val modelPath = freshDir("bm25") + "/model"
    val bm = Bm25.fit(docs, col("text"))
    Bm25.save(bm, modelPath)
    val sparse = Bm25.topK(docs, col("doc_id"), col("text"), Seq("spark", "merge"),
      Bm25.load(spark, modelPath), n = 20).select(col("id"), col("rank"))
    val table = embDf
    val probes = table.where(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
    val denseReal = Ann.topKBrute(table, col("vec_id"), col("embedding"), probes, k = 20)
      .select(col("neighbor_id").as("id"), col("rank"))
    // Plant a guaranteed two-list id: the sparse rank-1 doc also tops
    // the dense leg (real dense ranks shift down one). Its fused score
    // 2·1/(κ+1) strictly beats any id reachable from one list (max
    // 1/(κ+1)) or from rank ≥2 on both (max 2/(κ+2)).
    val sparseTop = sparse.where(col("rank") === 1).select("id").as[Long].head()
    val dense = Seq((sparseTop, 1)).toDF("id", "rank")
      .union(denseReal.select(col("id"), (col("rank") + 1).as("rank")))
    val fused = RankFusion.fuseTopK(Seq(sparse, dense), n = 10)
    assert(fused.count() == 10L)
    // the id on BOTH lists outranks every single-list id
    val lead = fused.where(col("rank") === 1)
      .select("id", "n_lists").as[(Long, Long)].head()
    assert(lead._1 == sparseTop && lead._2 >= 2L, s"fused leader: $lead")
    assert(fused.where(col("n_lists") >= 2).count() >= 1L)
  }

  test("ann recipe: batch retrieval — scoreMany ≡ per-query score, topKMany cuts per qid") {
    import spark.implicits._
    import graft.operators.Bm25
    val docs = (0L until 40L).map(i =>
      (i, if (i % 3 == 0) s"spark window merge doc $i"
          else if (i % 3 == 1) s"stream data doc $i" else s"plain filler text $i"))
      .toDF("doc_id", "text")
    val bm = Bm25.fit(docs, col("text"))
    val qs = Map(
      0L -> Seq("spark", "merge"),
      1L -> Seq("stream", "data"),
      2L -> Seq("Spark ", "", "data")) // normalization: case/blank/trim
    val qdf = qs.toSeq.flatMap { case (q, ts) => ts.map(q -> _) }.toDF("qid", "term")
    val many = Bm25.scoreMany(docs, col("doc_id"), col("text"), qdf, bm)
      .select("qid", "id", "dl", "n_hits", "bm25_micro")
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(r => (r._2, r._3, r._4, r._5)).toSet }
    // law: each qid's rows are exactly score()'s non-zero-hit rows
    for ((q, ts) <- qs) {
      val one = Bm25.score(docs, col("doc_id"), col("text"), ts, bm)
        .where(col("n_hits") > 0)
        .select("id", "dl", "n_hits", "bm25_micro")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(many.getOrElse(q, Set.empty) == one, s"qid $q diverges from score()")
    }
    // per-query cut: every qid gets its own top-n, ranks 1..n
    val top = Bm25.topKMany(docs, col("doc_id"), col("text"), qdf, bm, n = 3)
      .select("qid", "rank").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).sorted.toSeq }
    assert(top.keySet == qs.keySet)
    assert(top.values.forall(_ == Seq(1, 2, 3)), top.toString)
    // blank-only query table fails fast
    intercept[IllegalArgumentException] {
      Bm25.scoreMany(docs, col("doc_id"), col("text"),
        Seq((9L, " ")).toDF("qid", "term"), bm)
    }
  }

  // --- training-data-prep.md -------------------------------------------

  test("prep recipe: distill the rule gate into an LR quality score") {
    import spark.implicits._
    import graft.operators.LogReg
    val sample = (1L to 30L).map(i =>
      if (i % 2 == 0) (i, ("the quick brown fox jumps over that lazy dog " +
        "with plenty of energy and resolve ") * 4)
      else (i, s"tiny doc $i")).toDF("doc_id", "text")
    val labeled = sample.withColumn("label",
      graft.functions.TextFns.gopherFlags(col("text")).getField("keep"))
    val modelPath = freshDir("lr") + "/model"
    val lr = LogReg.train(labeled, col("text"), col("label"))
    LogReg.save(lr, modelPath, spark)
    val scores = LogReg.score(sample, col("doc_id"), col("text"),
      LogReg.load(spark, modelPath))
    val got = scores.select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert((1L to 30L).forall(i => got(i) == (i % 2 == 0)))
  }

  test("prep recipe: WARC ingestion feeds the HTML->text gate chain") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("docswarc").toString
    val page = "<html><body><p>the quick brown fox</p></body></html>"
    val bytes = Warc.record(Seq(
      "WARC-Type" -> "response",
      "WARC-Target-URI" -> "https://example.com/doc/1",
      "Content-Type" -> "text/html"), page.getBytes("UTF-8"))
    val os = new java.io.FileOutputStream(s"$dir/seg.warc.gz")
    os.write(Warc.gzipMember(bytes)); os.close()
    val docs = Tio.readWarc(spark, dir + "/*")
      .where(col("valid") && col("warc_type") === "response")
      .select(col("target_uri"),
        graft.functions.TextFns.htmlToText(col("payload").cast("string")).as("text"))
    val got = docs.collect()
    assert(got.length == 1 && got(0).getString(1) == "the quick brown fox")
  }

  test("prep recipe: pack shards by BPE tokens, not whitespace words") {
    import spark.implicits._
    import graft.operators.{Bpe, Pack}
    val docs = Seq((1L, "aa aa"), (2L, "aa ab"), (3L, "zz zz")).toDF("doc_id", "text")
    // one merge: (a,a) -> every doc has 2 WORDS but 2/3/4 PIECES
    val merges = Bpe.fitMerges(docs, col("text"), numMerges = 1)
    val assignment = Pack.packByBudget(
      docs, col("doc_id"), Bpe.count(col("text"), merges), budget = 4)
    val got = assignment.select("id", "weight", "shard_id")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // weights are PIECE counts (2/3/4), not the uniform word count (2);
    // shards by start offset: doc1 starts 0, doc2 starts 2 (shard 0),
    // doc3 starts 5 (shard 1)
    assert(got == Map(1L -> ((2L, 0L)), 2L -> ((3L, 0L)), 3L -> ((4L, 1L))), got.toString)
  }

  test("prep recipe: decontaminate against a benchmark set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "totally unrelated words in this training document here"),
    ).toDF("doc_id", "text")
    val benchmarks = Seq((9L, "beta gamma delta epsilon zeta")).toDF("doc_id", "text")

    val stats = graft.operators.Dedup.contaminationStats(
      corpus, col("doc_id"), col("text"), benchmarks, col("text"), k = 5)
    val flagged = stats.where(col("n_contaminated") > 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L))

    val clean = graft.operators.Dedup.decontaminatedKeep(
      corpus, col("doc_id"), col("text"), benchmarks, col("text"), k = 5)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("prep recipe: near-duplicate decontamination") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "totally unrelated training words in this document right here"),
    ).toDF("doc_id", "text")
    val benchmarks = Seq(
      (9L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.crossNearPairs(
      corpus, col("doc_id"), col("text"),
      benchmarks, col("doc_id"), col("text"), threshold = 0.5)
    assert(pairs.select("id_a").collect().map(_.getLong(0)).toSet == Set(1L))
    val nearClean = graft.operators.Dedup.decontaminatedKeepNear(
      corpus, col("doc_id"), col("text"),
      benchmarks, col("doc_id"), col("text"), threshold = 0.5)
    assert(nearClean.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("prep recipe: rule gate then classifier") {
    import spark.implicits._
    val body = ("the quick brown words flow nicely and that prose has normal " +
      "shape with enough variety to be kept around here plus filler tokens " +
      "of usual length and a few more ordinary words to clear the fifty " +
      "word floor that the published gopher gate requires for any document " +
      "to be considered long enough to carry real training signal today")
    val docs = Seq((1L, body), (2L, "way too short")).toDF("doc_id", "text")
    val gated = docs
      .withColumn("g", graft.functions.TextFns.gopherFlags(col("text")))
      .where(col("g.keep"))
    assert(gated.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L))

    val reference = Seq(
      ("curated", "polished prose with the usual editorial care applied"),
      ("curated", "clean and careful writing with that typical structure"),
      ("crawled", "click here buy now free free offer expires"),
    ).toDF("label", "text")
    val model = graft.operators.NaiveBayes.fit(reference, col("label"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-docs-nb").toString
    graft.operators.NaiveBayes.save(model, dir)
    val scored = graft.operators.NaiveBayes.score(
      Seq((1L, "careful editorial prose with clean structure"),
        (2L, "free free offer click now")).toDF("doc_id", "text"),
      col("doc_id"), col("text"),
      graft.operators.NaiveBayes.load(spark, dir))
    val preds = scored.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(preds(1L) == "curated" && preds(2L) == "crawled")
  }

  // --- dedup-at-scale.md: sub-document dedup ----------------------------

  test("dedup recipe: line-level boilerplate removal") {
    import spark.implicits._
    val docs = Seq(
      (1L, "page one content\nCookie Banner Text\nmore page one"),
      (2L, "page two content\ncookie banner text\nmore page two"),
      (3L, "page three content\nCookie  Banner  Text\nmore page three"),
    ).toDF("doc_id", "text")
    val stats = graft.operators.Dedup.lineDupStats(
      docs, col("doc_id"), col("text"), minDf = 3)
    assert(stats.where(col("n_dup_lines") > 0).count() == 3L)
    val rewritten = graft.operators.Dedup.removeDupLines(
      docs, col("doc_id"), col("text"), minDf = 3, keepRep = false)
    val texts = rewritten.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(texts(1L) == "page one content\nmore page one")
    assert(texts(2L) == "page two content\nmore page two")
    assert(texts(3L) == "page three content\nmore page three")
  }

  test("prep recipe: profile, bucket, and rank") {
    import spark.implicits._
    val docs = (1L to 80L)
      .map(i => (i, (("the " * (i.toInt % 4 + 1)) + s"tok${i % 11} w${i % 7}").trim))
      .toDF("doc_id", "text")
    assert(graft.operators.Profile.profile(docs, Seq("doc_id", "text")).count() == 2L)
    val h = graft.operators.Profile.histogram(docs, col("doc_id"),
      bins = 4, lo = 0, hi = 80)
    assert(h.count() == 4L)
    val lm = graft.operators.NgramLM.fitUnigram(docs, col("text"))
    val scored = graft.operators.NgramLM.scoreUnigram(docs, col("doc_id"), col("text"), lm)
    val bucketed = graft.operators.Profile.bucketByQuantiles(
      scored, col("avg_logprob"), Seq(0.25, 0.5, 0.75), "quality_bucket")
    assert(bucketed.groupBy("quality_bucket").count().count() >= 2L)
    val bm = graft.operators.NgramLM.fitBigram(docs, col("text"))
    assert(graft.operators.NgramLM.pmiTop(bm, k = 5, minCount = 2).count() > 0L)
  }

  test("prep recipe: C4 cleaning then DSIR selection toward a reference") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The cats sit on warm mats every day.\nshort\nPlease enable javascript now."),
      (2L, "Dogs run across the open yard often.\nAnother good line stands here."),
      (3L, "lorem ipsum dolor sit amet for padding.\nA fine line otherwise kept here.")
    ).toDF("doc_id", "text")
    val cleaned = docs
      .withColumn("c", graft.functions.TextFns.c4Clean(col("text"), minSentences = 1))
      .where(col("c.keep"))
      .select(col("doc_id"), col("c.text_clean").as("text"))
    // doc 3 trips the lorem rule; doc 1 keeps only its first line
    assert(cleaned.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    val reference = Seq((10L, "cats sit on mats"), (11L, "warm cats sit")).toDF("doc_id", "text")
    val weighted = graft.operators.Dsir.weights(cleaned, col("doc_id"), col("text"),
      reference, col("text"), buckets = 4096)
    val selected = weighted
      .orderBy(col("logw_micro").desc, col("id").asc).limit(1)
    // the cat-ish doc is more target-like than the dog doc
    assert(selected.head().getLong(0) == 1L)
  }

  test("prep recipe: heavy hitters and the correlation matrix") {
    import spark.implicits._
    import org.apache.spark.sql.functions.explode
    val docs = (1L to 40L)
      .map(i => (i, if (i % 2 == 0) "en" else "de", s"the tok${i % 5} boiler plate"))
      .toDF("doc_id", "lang", "text")
    val toks = docs.select(col("lang"),
      explode(graft.operators.NgramLM.tokens(col("text"))).as("tok"))
    val top = graft.operators.Profile.topValues(toks, col("tok"), k = 3)
      .collect().map(_.getString(0)).toSeq
    assert(top.take(3).toSet == Set("the", "boiler", "plate"))
    val per = graft.operators.Sketch.topItemsPerGroup(toks, col("lang"), col("tok"), k = 2)
    assert(per.count() == 4L)

    val signals = (1L to 30L).map(i => (i, 2 * i, 61L - i)).toDF("a", "b", "c")
    val corr = graft.operators.Profile.corrMatrix(signals, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(math.abs(corr(("a", "b")) - 1.0) < 1e-12)
    assert(math.abs(corr(("a", "c")) + 1.0) < 1e-12)
  }

  test("shuffle toolkit: z-order layout keeps both dims tight per file") {
    import spark.implicits._
    val events = (for (d <- 0 until 32; t <- 0 until 32) yield (d.toLong, t.toLong))
      .toDF("day_ordinal", "tenant_bucket")
    val dir = freshDir("zorder") + "/events"
    graft.operators.Layout.zorderBy(events, col("day_ordinal"), col("tenant_bucket"),
        bits = 5, numFiles = 4)
      .write.parquet(dir)
    val spreads = spark.read.parquet(dir)
      .groupBy(org.apache.spark.sql.functions.input_file_name())
      .agg((org.apache.spark.sql.functions.max("day_ordinal") -
        org.apache.spark.sql.functions.min("day_ordinal")).as("sd"),
        (org.apache.spark.sql.functions.max("tenant_bucket") -
          org.apache.spark.sql.functions.min("tenant_bucket")).as("st"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(spreads.forall { case (sd, st) => sd < 32 && st < 32 },
      s"no file may span a full axis: ${spreads.toSeq}")
  }

  test("ann recipe: PCA basis train/save/load and narrow projection") {
    import spark.implicits._
    val rng = new scala.util.Random(4)
    val table = (1L to 100L).map(i =>
      (i, Seq.fill(8)(rng.nextGaussian()))).toDF("vec_id", "embedding")
    val basisPath = freshDir("pca") + "/basis"
    val basis = graft.operators.Pca.train(table, col("embedding"), dim = 8, k = 3)
    graft.operators.Pca.save(basis, basisPath, spark)
    val reduced = graft.operators.Pca.project(table, col("embedding"),
        graft.operators.Pca.load(spark, basisPath))
      .select(col("vec_id"), col("proj").as("embedding"))
    assert(reduced.head().getSeq[Double](1).size == 3)
    assert(reduced.count() == 100L)
  }

  test("prep recipe: sketch-based cross-corpus overlap audit") {
    import spark.implicits._
    val corpus = (1L to 2000L).toDF("doc_fp")
    val crawl = (1001L to 3000L).toDF("doc_fp")
    val r = graft.operators.Sketch.overlapEstimate(
      corpus, col("doc_fp"), crawl, col("doc_fp")).head()
    val overlap = r.getAs[Long]("n_overlap")
    assert(overlap > 800 && overlap < 1200, s"expected ~1000, got $overlap")
    // exact twin, same schema, for when the answer must be exact
    val exact = graft.operators.Sketch.overlapExact(
      corpus, col("doc_fp"), crawl, col("doc_fp")).head()
    assert(exact.getAs[Long]("n_overlap") == 1000L)
  }

  test("prep recipe: deterministic flat and stratified sampling") {
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")

    val tenPct = graft.operators.Sampling.sampleHash(docs, col("doc_id"), rate = 0.1, seed = 42)
    assert(tenPct.count() > 20L && tenPct.count() < 80L)

    val mixed = graft.operators.Sampling.sampleStratified(docs, col("doc_id"), col("lang"),
      rates = Map("en" -> 0.8, "de" -> 0.5), defaultRate = 0.1, seed = 42)
    assert(mixed.count() > docs.count() / 4)
  }

  test("prep recipe: leakage-safe cluster split") {
    import spark.implicits._
    val docs = Seq(
      (1L, "shared near duplicate text body alpha beta gamma"),
      (2L, "shared near duplicate text body alpha beta gamma"),
      (3L, "completely different standalone document here"),
    ).toDF("doc_id", "text")
    val clusters = graft.operators.Dedup.duplicateClusters(
      graft.operators.Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5))
      .select(col("id"), col("cluster_id"))
    val split = graft.operators.Sampling.withSplitLeakageSafe(docs, col("doc_id"),
      clusters, "split", Seq("train" -> 0.5, "test" -> 0.5))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(split(1L) == split(2L), "near-dup family must share one side of the cut")
  }

  test("prep recipe: weighted interleave keeps prefixes proportional") {
    import spark.implicits._
    val mixture = ((1L to 60L).map(i => (i, "web")) ++ (61L to 70L).map(i => (i, "books")))
      .toDF("doc_id", "source")
    val ordered = graft.operators.Sampling.interleaveByWeight(mixture, col("doc_id"),
        col("source"), Map("web" -> 6.0, "books" -> 1.0))
      .repartitionByRange(4, col("mix_order"))
      .sortWithinPartitions("mix_order")
    val seq = ordered.select("source").collect().map(_.getString(0)).toSeq
    assert(seq.size == 70)
    val firstQuarter = seq.take(14)
    assert(firstQuarter.count(_ == "books") >= 1 && firstQuarter.count(_ == "web") >= 11)
  }

  test("prep recipe: pack into token-budget shards and join back") {
    import spark.implicits._
    val docs = (1L to 50L).map(i => (i, ("tok " * 20).trim)).toDF("doc_id", "text")
    val assignment = graft.operators.Pack.packByBudget(
      docs, col("doc_id"), graft.functions.TextFns.tokenCountWs(col("text")), budget = 100)
    val sharded = docs.join(assignment.withColumnRenamed("id", "doc_id"), "doc_id")
    assert(sharded.count() == 50L)
    val stats = graft.operators.Pack.shardStats(assignment)
    // 50 docs × 20 tokens at budget 100 → 10 shards of 5 docs
    assert(stats.count() == 10L)
  }

  test("prep recipe: quality-ordered budget cut, then pack the survivors") {
    import spark.implicits._
    // 40 docs, 10 tokens each; quality = doc_id (higher is better)
    val docs = (1L to 40L).map(i => (i, ("tok " * 10).trim, i.toDouble))
      .toDF("doc_id", "text", "quality_score")
    val kept = graft.operators.Pack.selectByBudget(
      docs, col("doc_id"),
      graft.functions.TextFns.tokenCountWs(col("text")),
      col("quality_score"), budget = 100)
    // budget of 100 tokens = the 10 best-scoring docs (ids 31-40)
    assert(kept.collect().map(_.getLong(0)).toSet == (31L to 40L).toSet)
    // compose: pack exactly the survivors
    val packed = graft.operators.Pack.packByBudget(
      kept, col("id"), col("weight"), budget = 50)
    assert(packed.select("shard_id").distinct().count() == 2L)
  }

  // --- shuffle-engineering.md ------------------------------------------

  test("shuffle toolkit: salted join with a stable salt column") {
    import spark.implicits._
    val events = (1L to 200L).map(i => (1L, i)).toDF("user_id", "event_id")
    val usersT = Seq((1L, "ann"), (2L, "bo")).toDF("user_id", "name")
    val out = Skew.saltedInnerJoin(events, usersT, key = "user_id", salt = 16,
      saltBy = Some(col("event_id")))
    assert(out.count() == 200L) // result-identical to the plain join
  }

  test("shuffle toolkit: explain surfaces pushdown and pruning") {
    val path = freshDir("plan") + "/users"
    Tio.writeParquet(Tio.fromRows(spark, Users, users), path)
    val frame = Tio.readParquet(spark, path, Users).filter(Users.score > 50.0)
    val plan = frame.toNative.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters") && plan.contains("ReadSchema"))
  }

  test("multimodal recipe: mixed audio/video/image bucket decodes to one routing record") {
    import spark.implicits._
    import graft.operators.Media
    val mediaDf = Seq(
      (1L, Media.syntheticAvContainer(0L)),  // wav
      (2L, Media.syntheticAvContainer(4L)),  // mp4
      (3L, Media.syntheticContainer(0L)),    // png — image delegates
      (4L, "not a media file".getBytes("UTF-8")),
    ).toDF("media_id", "content")
    val out = Media.decodeAvMeta(mediaDf, col("media_id"), col("content"))
      .collect().map(r => r.getAs[Long]("media_id") -> r.getAs[String]("format")).toMap
    assert(out == Map(1L -> "wav", 2L -> "mp4", 3L -> "png", 4L -> "unknown"))
  }

  test("prep recipe: repetition filters, PII scrubbing, and chunking") {
    import spark.implicits._
    import graft.functions.TextFns
    import graft.operators.Chunk
    val docs = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),        // dup words
      (2L, "reach me at u@ex.com from 10.0.0.1 sometime soon please ok"),
    ).toDF("doc_id", "text")
    // the doc recipe, at test-sized thresholds
    val kept = docs.where(
      TextFns.dupLineFrac(col("text")) < 0.30 &&
      TextFns.dupTrigramFrac(col("text")) < 0.50)
    assert(kept.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    val scrubbed = kept.withColumn("text", TextFns.redactPii(col("text")))
    assert(scrubbed.select("text").as[String].head() ==
      "reach me at <EMAIL> from <IP> sometime soon please ok")
    val chunks = Chunk.byTokens(scrubbed, col("doc_id"), col("text"), size = 4)
    assert(chunks.orderBy("chunk_id").as[(Long, Int, Int, String)].collect().toSeq ==
      Seq((2L, 0, 4, "reach me at <EMAIL>"), (2L, 1, 4, "from <IP> sometime soon"),
        (2L, 2, 2, "please ok")))
    // …and the doc's chunk→shard composition line: 4+4+2 tokens at
    // budget 8 → prefixes 0,4,8 → shards 0,0,1
    val sharded = Chunk.packChunks(chunks, budget = 8)
    assert(sharded.orderBy("chunk_id").as[(Long, Int, Int, Long)].collect().toSeq ==
      Seq((2L, 0, 4, 0L), (2L, 1, 4, 0L), (2L, 2, 2, 1L)))
  }

  test("prep recipe: the composed corpus-preparation pipeline") {
    import spark.implicits._
    import graft.functions.TextFns
    import graft.operators.{Dedup, Pack}
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog"),
      (2L, "the quick brown fox jumps over a lazy dog"), // exact dup
      (3L, "kurz"),                                      // under the word floor
    ).toDF("doc_id", "text")
    val benchmarks = Seq((9L, "completely separate evaluation text")).toDF("doc_id", "text")
    // the README flow, at test-sized thresholds
    val gated = TextFns.withLangId(corpus, col("text"), "_lang")
      .where(TextFns.wordCount(col("text")) >= 8 && col("_lang") === "en")
      .select(col("doc_id"), col("text"))
      .localCheckpoint()
    val deduped = Dedup.exactKeep(gated, col("text"), col("doc_id"))
    val clean = Dedup.decontaminatedKeep(deduped, col("doc_id"), col("text"),
      benchmarks, col("text"), k = 5)
    val weights = clean.select(col("doc_id"),
        TextFns.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      .localCheckpoint()
    val assignment = Pack.packByBudget(weights, col("doc_id"), col("n_tokens"), budget = 100)
    assert(assignment.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("shard_id")))
      .toSeq == Seq((1L, 0L)))
  }

  // --- event-analytics.md --------------------------------------------

  test("event analytics: sessionize / funnel / rolling / retention snippets run") {
    import spark.implicits._
    import graft.operators.Timeline
    import org.apache.spark.sql.functions._
    val events = Seq(
      (1L, 100L, "signup", 1.0), (1L, 200L, "view", 2.0),
      (1L, 2000000300L, "click", 3.0), (1L, 2000000400L, "purchase", 0.5),
      (2L, 50L, "view", 9.0)).toDF("user_id", "us", "event_type", "value")

    val sess = Timeline.sessionStats(events, Seq("user_id"), "us",
      gap = 1800000000L, valueCol = "value")
    assert(sess.where(col("user_id") === 1L).count() == 2) // gap split

    val fun = Timeline.funnel(events, Seq("user_id"), "us", Seq(
        "view" -> (col("event_type") === "view"),
        "click" -> (col("event_type") === "click"),
        "purchase" -> (col("event_type") === "purchase")),
      within = Some(86400000000L))
    assert(fun.where(col("user_id") === 1L).head().getAs[Int]("depth") == 3)
    assert(fun.where(col("user_id") === 2L).head().getAs[Int]("depth") == 1)

    val roll = Timeline.rolling(events, Seq("user_id"), "us", back = 3600000000L,
      "n_1h" -> count(lit(1)),
      "cents_1h" -> sum(coalesce(round(col("value") * 100).cast("long"), lit(0L))))
    assert(roll.count() == 5)

    val ret = Timeline.retention(events, Seq("user_id"), "us",
      col("event_type") === "signup", bucket = 604800000000L)
    assert(ret.head().getAs[Long]("n_active") == 1L) // only u1 signs up
  }

  test("event analytics: as-of and range join snippets run") {
    import spark.implicits._
    import graft.operators.Joins
    val trades = Seq(("A", 10L, 1L), ("A", 99L, 2L)).toDF("sym", "us", "trade_id")
    val quotes = Seq(("A", 5L, 1.5, 7L), ("A", 50L, 2.5, 8L))
      .toDF("sym", "us", "px", "quote_id")
    val asof = Joins.asofJoin(trades, quotes, Seq("sym"), "us", Seq("px"),
      tolerance = Some(60L), tieBreak = Some("quote_id"))
    assert(asof.where(col("trade_id") === 2L).head().getAs[Double]("asof_px") == 2.5)

    val points = Seq(("k", 15L, 1L)).toDF("key", "p", "pid")
    val intervals = Seq(("k", 10L, 20L, 9L)).toDF("key", "s", "e", "iid")
    assert(Joins.rangeJoin(points, intervals, Seq("key"), "p", "s", "e",
      binWidth = 10L).count() == 1)

    val sessions = Seq(("k", 0L, 100L, 1L)).toDF("key", "s_start", "s_end", "sid")
    val outages = Seq(("k", 90L, 150L, 9L), ("k", 200L, 210L, 10L))
      .toDF("key", "o_start", "o_end", "oid")
    val overlap = Joins.intervalJoin(sessions, outages, Seq("key"),
      "s_start", "s_end", "o_start", "o_end", binWidth = 50L)
    assert(overlap.select("sid", "oid").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 9L)))
  }

  test("dedup recipe: keep-best copy and image pHash pairs") {
    import spark.implicits._
    val pages = Seq(
      (1L, "the page body", 13L),
      (2L, "the  page  body", 15L)).toDF("doc_id", "text", "n_chars")
    val kept = graft.operators.Dedup.exactKeepBy(
        pages, col("text"), col("doc_id"), col("n_chars"))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(2L)) // the longer raw copy wins

    val payload = Array.tabulate(48)(i => (i * 11 + 3).toByte)
    val media = Seq((1L, payload), (2L, payload.clone()),
      (3L, Array.tabulate(48)(i => (i * 23 + 9).toByte))).toDF("media_id", "content")
    val pairs = graft.operators.Media.phashPairs(
      media, col("media_id"), col("content"), maxHamming = 3)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
  }
}
