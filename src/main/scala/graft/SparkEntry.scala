package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, concat_ws, count, lit, max, pmod, regexp_extract, round, sum, when}
import graft.functions.{TextFns, UrlFns}
import graft.operators.{Ann, Audio, Bm25, Bpe, Chunk, Dedup, Dsir, Joins, LangLR, LogReg, Media, NaiveBayes, NgramLM, NgramLR, Pack, Profile, RankFusion, Sampling, Sketch, TfIdf, Timeline}
import graft.tables._

/** Intermediate target schemas for multi-join pipelines — the colnade
  * idiom: join → cast_schema to a declared shape → join again
  * (reference examples/basic_usage.py, dataframe.py:626). */
object derived {
  object OrdersCust extends GSchema {
    val o_orderkey   = col[Long]("o_orderkey")
    val o_totalprice = col[Double]("o_totalprice")
    val c_nationkey  = col[Int]("c_nationkey")
  }
  object OrdersNation extends GSchema {
    val o_orderkey   = col[Long]("o_orderkey")
    val o_totalprice = col[Double]("o_totalprice")
    val n_regionkey  = col[Int]("n_regionkey")
  }
  /** castSchema demo target: renames via mappedFrom + a widening cast. */
  object PartSlim extends GSchema {
    val partkey = col[Long]("partkey").from(Part.p_partkey)
    val pname   = col[String]("pname").from(Part.p_name)
    val retail  = col[Double]("retail").from(Part.p_retailprice)
    val size_l  = col[Long]("size_l").from(Part.p_size)
  }
}

/** Driver contract — see /root/repo/SURVEY.md §7 + §2 (gate column). */
object SparkEntry {
  import derived._

  /** Order-independent money sum, bit-identical across engines: double
    * summation is order-dependent (Spark's distributed sum vs DuckDB's
    * serial sum drift ~1e-6 at 1e9 magnitude), and double→DECIMAL casts
    * disagree between engines (DuckDB multiplies by 10^scale in double;
    * the JVM expands exactly). Rounding each value to integer cents is
    * deterministic — both engines round the SAME IEEE double — and the
    * BIGINT sum is exact. SQL mirror:
    * CAST(sum(CAST(round(x * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
    *
    * DOCUMENTED DEVIATION: this redefines the aggregate on BOTH sides
    * (engine and oracle) to a cent-quantized sum, so the gate checks
    * engine==oracle on the quantized formula, not the raw double sum.
    * Chosen deliberately: the raw sum is not bit-comparable across
    * engines at any precision without a tolerance, and the harness
    * compares by hash (no tolerance channel). Deviation from the true
    * sum is bounded by n·0.005 cents. */
  private def centsSum(x: TypedCol[Double]): TypedCol[Double] =
    (x * glit(100.0)).round(0).cast[Long].sum.cast[Double] / 100.0

  /** Deterministic synthetic URL for the L30 gates — the documents
    * table has no URL column, so BOTH engines derive the identical
    * string from (doc_id, source): mixed-case scheme/host, userinfo,
    * default + non-default ports, tracking params, unsorted params,
    * fragments — every case the canonicalizer must handle. */
  private def synthUrl: org.apache.spark.sql.Column = {
    val m3 = pmod(col("doc_id"), lit(3))
    val m2 = pmod(col("doc_id"), lit(2))
    concat(
      when(m3 === 0, "https://").when(m3 === 1, "HTTP://").otherwise("Https://"),
      lit("User@WWW."), col("source"),
      when(m2 === 0, ".CO.UK").otherwise(".COM"),
      when(m3 === 0, ":443").when(m3 === 1, ":80").otherwise(":8080"),
      lit("/Docs/"), col("doc_id"),
      when(m2 === 1, "?b=2&utm_source=x&a=1&ref=abc").otherwise("?fbclid=1"),
      when(pmod(col("doc_id"), lit(5)) === 0, "#sec").otherwise(""))
  }

  /** Deterministic multi-line twin of the documents table for the L38
    * line-dedup gates — the corpus text has no newlines, so BOTH
    * engines derive the identical `(doc_id, text_ml)`: the
    * whitespace-collapsed raw-case tokens regrouped into 10-word lines
    * joined by `\n` (the chunk_pack CTE shape). Duplicate docs then
    * share every line; distinct docs share none (10-word alignment). */
  private def docsMultiline(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{array_join, greatest, sequence, size, slice, split, transform, trim, regexp_replace}
    val ws = split(trim(regexp_replace(col("text"), "\\s+", " ")), " ")
    docs.select(col("doc_id"), ws.as("_ws"))
      .select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0),
              greatest(((size(col("_ws")) + lit(9)) / lit(10)).cast("int"), lit(1)) - 1),
            i => array_join(slice(col("_ws"), i * 10 + 1, lit(10)), " ")),
          "\n").as("text_ml"))
  }

  /** Spread a synthetic-payload gate's per-id codec work across the
    * cluster: the id stream is 8 bytes/row, so an explicit round-robin
    * exchange costs ~nothing, while the downstream synthesis + REAL
    * codec decode — these gates' dominant cost (sin-wave PCM render +
    * 64 Goertzel passes per clip; PNG deflate/inflate + DCT per image)
    * — otherwise inherits the source file's split count: documents
    * .parquet is ONE row group at every bench SF, so ONE task did all
    * the codec work (the executed plan without the spread had the
    * MapPartitions directly on the file scan). Explicit
    * numPartitions so AQE never coalesces the tiny shuffle back to one
    * partition; defaultParallelism keeps it scale-adaptive (local[N] →
    * N, a cluster → its total cores). Payloads still never shuffle —
    * the exchange is BELOW synthesis and carries ids only. Applied
    * ONLY where per-id codec work is heavy (audio PCM render + 64
    * Goertzel passes; PNG/BMP pixel render + inflate + DCT): for the
    * header-bytes-only gates the exchange's fixed cost exceeds the
    * serial work it spreads (measured at sf0.1: multimodal_av
    * 0.20→0.49 s, multimodal_real 0.21→0.58 s — reverted). */
  private def spreadIds(s: SparkSession, ids: DataFrame): DataFrame =
    ids.repartition(s.sparkContext.defaultParallelism)

  /** Shared media-payload twin for the L48 pHash gates: consecutive id
    * pairs (2k, 2k+1) carry the SAME syntheticContainer(k) bytes —
    * planted exact-duplicate images whose signatures must collide at
    * hamming 0. (k < 250 at gate scale keeps every k's width unique,
    * so distinct k never alias.) */
  private def phashPayloads(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    tables.documents(s, dir).toNative.select(col("doc_id"))
      .as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { id =>
          val k = java.lang.Math.floorDiv(id, 2L)
          // salt the short header bytes with k-derived digest bytes so
          // DIFFERENT k never tile into near-identical fake images
          // (header-only payloads are 12-33 bytes — unsalted, whole
          // container families collide within hamming 3)
          val salt = md.digest(java.lang.Long.toString(k).getBytes("UTF-8"))
          Media.MediaRow(id, Media.syntheticContainer(k) ++ salt ++ salt)
        }
      }(Encoders.product[Media.MediaRow])
      .toDF()
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E2/E6/F7/F10: arithmetic exprs + grouped aggregation (TPC-H Q1 shape)
    "q1_agg" -> { (s, dir) =>
      lineitem(s, dir)
        .groupBy(Lineitem.l_returnflag, Lineitem.l_linestatus)
        .agg(
          Lineitem.l_quantity.sum.asName("sum_qty"),
          centsSum(Lineitem.l_extendedprice.tc * (glit(1.0) - Lineitem.l_discount.tc))
            .asName("sum_revenue"),
          Lineitem.l_quantity.mean.asName("avg_qty"),
          Lineitem.l_extendedprice.max.asName("max_price"),
          Lineitem.l_extendedprice.min.asName("min_price"),
          Lineitem.l_orderkey.count.asName("n_rows"),
          Lineitem.l_orderkey.nUnique.asName("n_orders"),
        ).toNative.orderBy("l_returnflag", "l_linestatus")
    },

    // E1/E3/E16/F1-F3/F8: filter + multi-key sort + limit + select
    "q2_filter_sort" -> { (s, dir) =>
      lineitem(s, dir)
        .filter(Lineitem.l_quantity > 30.0 && Lineitem.l_discount <= 0.05)
        .sort(Lineitem.l_extendedprice.desc, Lineitem.l_orderkey.asc, Lineitem.l_linenumber.asc)
        .limit(100)
        .select(Lineitem.l_orderkey, Lineitem.l_linenumber,
          Lineitem.l_extendedprice, Lineitem.l_quantity)
        .toNative
    },

    // F11/F12: two-table equi-join + grouped agg on a joined frame
    "q3_join_agg" -> { (s, dir) =>
      orders(s, dir)
        .join(customer(s, dir), Orders.o_custkey === Customer.c_custkey)
        .groupBy(Customer.c_mktsegment)
        .agg(
          centsSum(Orders.o_totalprice).asName("total_price"),
          Orders.o_orderkey.count.asName("n_orders"),
        ).sort(Customer.c_mktsegment).toNative
    },

    // F11 (left join): null-producing side + count of matches
    "q4_left_join" -> { (s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), Customer.c_custkey === Orders.o_custkey, how = "left")
        .groupBy(Customer.c_custkey)
        .agg(
          Orders.o_orderkey.count.asName("n_orders"),
          centsSum(Orders.o_totalprice.fillNull(0.0)).asName("total_spent"),
        ).sort(Customer.c_custkey).toNative
    },

    // F11/F12/S5: 4-table star join via castSchema hops, dims broadcast
    "q5_multi_join" -> { (s, dir) =>
      val oc = orders(s, dir)
        .join(customer(s, dir), Orders.o_custkey === Customer.c_custkey)
        .castSchema(OrdersCust)
      val on = oc
        .join(nation(s, dir), OrdersCust.c_nationkey === Nation.n_nationkey, broadcastRight = true)
        .castSchema(OrdersNation)
      on.join(region(s, dir), OrdersNation.n_regionkey === Region.r_regionkey, broadcastRight = true)
        .groupBy(Region.r_name)
        .agg(
          centsSum(OrdersNation.o_totalprice.tc).asName("revenue"),
          OrdersNation.o_orderkey.count.asName("n_orders"),
        ).sort(Region.r_name).toNative
    },

    // E5: when/then/otherwise buckets + groupBy on a computed expr
    "q6_conditional" -> { (s, dir) =>
      val bucket = gwhen(Orders.o_totalprice > 350000.0).gthen("high")
        .gwhen(Orders.o_totalprice > 150000.0).gthen("mid")
        .gotherwise("low")
      orders(s, dir)
        .groupBySel(bucket.asName("bucket"))
        .agg(
          Orders.o_orderkey.count.asName("n_orders"),
          centsSum(Orders.o_totalprice).asName("total_price"),
        ).sort(gref[String]("bucket").asc).toNative
    },

    // E7: string functions (contains/starts/ends/len/case/strip/replace)
    "q7_string_ops" -> { (s, dir) =>
      part(s, dir)
        .filter(Part.p_type.strContains("AN") && !Part.p_name.strStartsWith("z"))
        .select(
          Part.p_partkey,
          Part.p_name.strToUppercase.asName("name_upper"),
          Part.p_name.strLen.asName("name_len"),
          Part.p_brand.strReplace("#", "-").asName("brand_dash"),
          Part.p_type.strEndsWith("M").asName("ends_m"),
          Part.p_name.strStrip.strToLowercase.asName("name_norm"),
        ).sort(gref[Long]("p_partkey").asc).toNative
    },

    // E8: temporal extraction + grouped agg by (year, month)
    "q8_date_ops" -> { (s, dir) =>
      orders(s, dir)
        .groupBySel(
          Orders.o_orderdate.dtYear.asName("oyear"),
          Orders.o_orderdate.dtMonth.asName("omonth"))
        .agg(
          Orders.o_orderkey.count.asName("n_orders"),
          centsSum(Orders.o_totalprice).asName("total_price"),
        ).sort(gref[Int]("oyear").asc, gref[Int]("omonth").asc).toNative
    },

    // E13: ordered window — top-5 customers per segment by balance
    "q9_window" -> { (s, dir) =>
      val w = GWindow.partitionBy(Customer.c_mktsegment)
        .orderBy(Customer.c_acctbal.desc, Customer.c_custkey.asc)
      customer(s, dir)
        .withCols(gfn.rowNumber(w).asName("rn"))
        .filter(gref[Int]("rn") <= 5)
        .select(Customer.c_mktsegment, Customer.c_custkey, Customer.c_acctbal, gref[Int]("rn").asName("rn"))
        .sort(Customer.c_mktsegment.asc, gref[Int]("rn").asc)
        .toNative
    },

    // E13 (rank family): percent_rank / cume_dist / ntile over a
    // deterministic (acctbal desc, custkey) order — percent_rank is an
    // exact integer ratio, so doubles reproduce across engines.
    "q20_window_ranks" -> { (s, dir) =>
      val w = GWindow.partitionBy(Customer.c_mktsegment)
        .orderBy(Customer.c_acctbal.desc, Customer.c_custkey.asc)
      customer(s, dir)
        .withCols(
          gfn.percentRank(w).asName("pct_rank"),
          gfn.cumeDist(w).asName("cume"),
          gfn.ntile(4, w).asName("quartile"))
        .select(Customer.c_mktsegment, Customer.c_custkey,
          gref[Double]("pct_rank").asName("pct_rank"),
          gref[Double]("cume").asName("cume"),
          gref[Int]("quartile").asName("quartile"))
        .sort(Customer.c_mktsegment.asc, Customer.c_custkey.asc)
        .toNative
    },

    // E9: null handling — is_null probe, fill_null, null-skipping agg
    "q10_null_handling" -> { (s, dir) =>
      events(s, dir)
        .groupBy(Events.event_type)
        .agg(
          gwhen(Events.value.isNull).gthen(1L).gotherwise(0L).sum.asName("n_null_value"),
          Events.value.fillNull(0.0).sum.asName("sum_value_filled"),
          Events.value.mean.asName("avg_value"),
          Events.event_id.count.asName("n_events"),
        ).sort(Events.event_type).toNative
    },

    // F5: distinct key combinations
    "q11_distinct" -> { (s, dir) =>
      customer(s, dir)
        .select(Customer.c_nationkey, Customer.c_mktsegment)
        .unique()
        .sort(Customer.c_nationkey, Customer.c_mktsegment)
        .toNative
    },

    // F13: vertical concat of two filtered frames, re-aggregated
    "q12_concat" -> { (s, dir) =>
      val li = lineitem(s, dir)
      val a = li.filter(Lineitem.l_returnflag.tc === "A")
      val r = li.filter(Lineitem.l_returnflag.tc === "R")
      Tio.concat(a, r)
        .groupBy(Lineitem.l_returnflag)
        .agg(
          Lineitem.l_orderkey.count.asName("n_rows"),
          Lineitem.l_quantity.sum.asName("sum_qty"),
        ).sort(Lineitem.l_returnflag).toNative
    },

    // S5/E11: castSchema rename via mappedFrom + widening cast
    "q13_cast_schema" -> { (s, dir) =>
      part(s, dir)
        .castSchema(PartSlim)
        .sort(PartSlim.partkey)
        .toNative
    },

    // F9: whole-frame aggregation to one row
    "q14_agg_global" -> { (s, dir) =>
      lineitem(s, dir).agg(
        Lineitem.l_quantity.sum.asName("sum_qty"),
        (centsSum(Lineitem.l_extendedprice.tc) / Lineitem.l_orderkey.count.cast[Double])
          .asName("avg_price"),
        Lineitem.l_orderkey.count.asName("n_rows"),
        Lineitem.l_suppkey.nUnique.asName("n_supps"),
        Lineitem.l_shipdate.min.dtFormat("yyyy-MM-dd HH:mm:ss").asName("min_ship"),
        Lineitem.l_shipdate.max.dtFormat("yyyy-MM-dd HH:mm:ss").asName("max_ship"),
      ).toNative
    },

    // F11 superset: semi join — customers that placed at least one order
    "q15_semi_join" -> { (s, dir) =>
      customer(s, dir)
        .semiJoin(orders(s, dir), Customer.c_custkey === Orders.o_custkey)
        .select(Customer.c_custkey, Customer.c_name)
        .sort(Customer.c_custkey)
        .toNative
    },

    // F11 superset: anti join — customers with no orders
    "q16_anti_join" -> { (s, dir) =>
      customer(s, dir)
        .antiJoin(orders(s, dir), Customer.c_custkey === Orders.o_custkey)
        .select(Customer.c_custkey, Customer.c_name)
        .sort(Customer.c_custkey)
        .toNative
    },

    // E15: list accessor ops over embedding arrays
    "q17_list_ops" -> { (s, dir) =>
      embeddings(s, dir)
        .select(
          Embeddings.vec_id,
          Embeddings.embedding.listLen.asName("dim"),
          Embeddings.embedding.listGet(0).asName("first_val"),
          Embeddings.embedding.listMin.asName("vmin"),
          Embeddings.embedding.listMax.asName("vmax"),
          Embeddings.embedding.listContains(0.0f).asName("has_zero"),
        ).sort(gref[Long]("vec_id").asc).toNative
    },

    // ST1 batch-equivalent: tumbling 1h window agg over events
    "q18_events_window" -> { (s, dir) =>
      events(s, dir)
        .groupBySel(
          Events.ts.dtTruncate("hour").dtFormat("yyyy-MM-dd HH:mm:ss").asName("window_start"),
          Events.event_type)
        .agg(
          Events.event_id.count.asName("n_events"),
          Events.value.fillNull(0.0).sum.asName("sum_value"),
        ).sort(gref[String]("window_start").asc, Events.event_type.asc).toNative
    },

    // ST1 (sliding variant): 1h windows sliding every 30min — each event
    // lands in 2 overlapping windows; identical plan on batch and stream
    "q19_sliding_window" -> { (s, dir) =>
      graft.streaming.GStream.slidingAgg(
          events(s, dir), Events.ts, "1 hour", "30 minutes", "10 minutes",
          Seq(Events.event_type),
          Seq(
            Events.event_id.count.asName("n_events"),
            Events.value.fillNull(0.0).sum.asName("sum_value")))
        .select(
          org.apache.spark.sql.functions
            .date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("window_start", "event_type")
    },

    // ------------------------------------------------------------ §2.5
    // L8: language ID — pure-Catalyst stopword/CJK heuristic, staged so
    // tokenization runs once per row (not once per CASE branch)
    "text_langid" -> { (s, dir) =>
      TextFns.withLangId(documents(s, dir).toNative, col("text"), "lang_pred")
        .select("doc_id", "lang_pred")
        .orderBy("doc_id")
    },

    // L8b: TRAINED multiclass language ID — the fastText-lid shape
    // (CCNet §3.1 gates on lid.176): multinomial softmax over the
    // DSIR hashed unigram+bigram presence bag + the L8 script-count
    // features, trained on deterministic per-language fixtures
    // generated from the exact L8 tables (withLangId stays the cheap
    // one-scan pre-gate). Scoring is ONE exact K-class BIGINT dot per
    // row (MultiDotExpr) + first-max argmax — NO float anywhere in
    // the apply. PARTIAL oracle over _aux/langlr_model (the
    // identically re-trained weight tensor): DuckDB re-derives the
    // md5 bucket hashing, per-class presence sums, the RE2
    // script-count mirrors, the integer z, and the argmax with the
    // documented tie order (z DESC, class index ASC). md5 kernel so
    // the oracle can re-derive; production default is xxhash64.
    "text_langid_trained" -> { (s, dir) =>
      val m = LangLR.train(LangLR.fixtures(s), col("text"), col("label"),
        buckets = LangLrBuckets, md5Hash = true)
      LangLR.score(documents(s, dir).toNative, col("doc_id"), col("text"), m,
          md5Hash = true)
        .select(col("id").as("doc_id"), col("lang"), col("z_micro"))
        .orderBy("doc_id")
    },

    // L39: the Gopher rule gate (Rae 2021 A1.1) — seven published
    // document rules as one narrow struct expression; word-count floor
    // lowered to 25 for the synthetic corpus (docs are ~30 words) so
    // both keep outcomes occur. Only integers and booleans cross the
    // gate; every ratio compare happens on identical int/int doubles.
    // Stop-word floor 1: the synthetic vocabulary contains only "the"
    // from the Gopher list, so the published floor of 2 would fail
    // every doc — floor 1 keeps BOTH outcomes in the gate.
    "text_gopher" -> { (s, dir) =>
      documents(s, dir).toNative
        .select(col("doc_id"),
          TextFns.gopherFlags(col("text"), minWords = 25, minStopwords = 1).as("_g"))
        .select(col("doc_id"), col("_g.*"))
        .orderBy("doc_id")
    },

    // L41: C4 heuristic cleaning (Raffel 2020 §2.2) — the corpus has no
    // newlines or punctuation, so both engines derive the identical
    // twin: the 10-word-line text_ml with a per-line suffix cycling
    // terminal-punct/question/none/javascript by (doc_id + line) % 4,
    // plus a planted lorem-ipsum / curly-brace tail line by doc_id % 5.
    // minSentences lowered to 2 so both keep outcomes occur at gate
    // scale; only line counts, booleans, and the rewritten text cross.
    "text_c4" -> { (s, dir) =>
      import org.apache.spark.sql.functions.{array_join, split, transform}
      val ml = docsMultiline(documents(s, dir).toNative)
      val suffixed = transform(split(col("text_ml"), "\n"), (l, i) => concat(l,
        when(pmod(col("doc_id") + i, lit(4)) === 0, ".")
          .when(pmod(col("doc_id") + i, lit(4)) === 1, "?")
          .when(pmod(col("doc_id") + i, lit(4)) === 2, "")
          .otherwise(" javascript.")))
      val t = concat(array_join(suffixed, "\n"),
        when(pmod(col("doc_id"), lit(5)) === 0, "\nlorem ipsum dolor sit.")
          .when(pmod(col("doc_id"), lit(5)) === 1, "\nconfig { broken setting.")
          .otherwise(""))
      ml.select(col("doc_id"), TextFns.c4Clean(t, minSentences = 2).as("_c"))
        .select(col("doc_id"), col("_c.*"))
        .orderBy("doc_id")
    },

    // L9: quality metrics — word/stopword/punct/uppercase counts + ratio.
    // Counts staged once per row; the ratio reads the staged columns
    // (CASE values are excluded from subexpression elimination).
    "text_quality" -> { (s, dir) =>
      val t = col("text")
      documents(s, dir).toNative
        .withColumn("_nw", TextFns.wordCount(t).cast("int"))
        .withColumn("_ns", TextFns.stopwordHits(t).cast("int"))
        .select(
          col("doc_id"),
          col("_nw").as("n_words"),
          col("_ns").as("n_stop"),
          TextFns.punctCount(t).cast("int").as("n_punct"),
          TextFns.upperCount(t).cast("int").as("n_upper"),
          when(col("_nw") === 0, 0.0)
            .otherwise(col("_ns").cast("double") / col("_nw")).as("stop_ratio"),
        ).orderBy("doc_id")
    },

    // L10: token counting — whitespace + BPE-ish regex pre-tokenizer
    "text_tokens" -> { (s, dir) =>
      documents(s, dir).toNative.select(
        col("doc_id"),
        TextFns.tokenCountWs(col("text")).cast("int").as("n_ws"),
        TextFns.tokenCountBpeish(col("text")).cast("int").as("n_bpeish"),
      ).orderBy("doc_id")
    },

    // L29: CCNet-style LM quality scoring — add-one unigram LM fit on
    // the corpus itself, every doc scored by mean token log-prob.
    // Per-token values quantized to micro-nats BEFORE the doc sum so
    // the sum is exact and order-free (see NgramLM scaladoc); the
    // oracle re-fits and re-scores the identical integer-ratio model.
    "lm_unigram" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      NgramLM.scoreUnigram(docs, col("doc_id"), col("text"),
          NgramLM.fitUnigram(docs, col("text")))
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("logprob_micro"), col("avg_logprob"))
        .orderBy("doc_id")
    },

    // L29 (bigram): conditional log-prob over consecutive token pairs —
    // the order-sensitive signal the unigram can't see.
    "lm_bigram" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      NgramLM.scoreBigram(docs, col("doc_id"), col("text"),
          NgramLM.fitBigram(docs, col("text")))
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("logprob_micro"), col("avg_logprob"))
        .orderBy("doc_id")
    },

    // L29 (Kneser-Ney): published-fidelity perplexity — CCNet's filter
    // is KenLM's interpolated KN (Wenzek 2020 §3.3; Heafield 2011),
    // whose bigram form this is: absolute discount D = n1/(n1+2n2),
    // context fan-out interpolation, add-one continuation floor. Same
    // ONE corpus scan as lm_bigram (the KN stats are aggregates over
    // the model-sized count table). FULL oracle: DuckDB re-fits
    // counts, context/continuation stats, D, and re-scores the
    // identical fixed IEEE chain.
    "lm_kn" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      NgramLM.scoreKnBigram(docs, col("doc_id"), col("text"),
          NgramLM.fitKnBigram(docs, col("text")))
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("logprob_micro"), col("avg_logprob"))
        .orderBy("doc_id")
    },

    // L36: multinomial Naive Bayes document classifier — the cheap
    // "quality / domain classifier" stage (GPT-3 appendix A filtered
    // CommonCrawl with a linear classifier of this shape). Self-fit on
    // (source → text), every doc classified back: add-one integer-ratio
    // model, per-token micro-nat quantization before the doc sum, so
    // the DuckDB oracle re-fits the identical model bit-for-bit. Argmax
    // ties break to the smallest label — fully deterministic.
    "nb_classify" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      NaiveBayes.score(docs, col("doc_id"), col("text"),
          NaiveBayes.fit(docs, col("source"), col("text")))
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("pred"), col("score_micro"))
        .orderBy("doc_id")
    },

    // L34: TF-IDF typicality scoring — smoothed idf fit on the corpus,
    // docs scored by the tf·idf total WITHOUT materializing tf
    // (Σ_terms tf·idf = Σ_occurrences idf: one broadcast join + one
    // per-doc agg, the token stream never shuffles). Micro-nat
    // quantization per occurrence — exact, order-free, oracle-exact.
    "tfidf_score" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      TfIdf.score(docs, col("doc_id"), col("text"),
          TfIdf.fit(docs, col("text")))
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("tfidf_micro"), col("avg_idf"))
        .orderBy("doc_id")
    },

    // L34 (top terms): per-doc top-3 terms by tf·idf — keyword
    // extraction; the per-doc cut is a WindowGroupLimit-partial
    // rank, ties broken by term so the cut is deterministic.
    "tfidf_topterms" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      TfIdf.topTerms(docs, col("doc_id"), col("text"),
          TfIdf.fit(docs, col("text")), k = 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"),
          col("weight_micro"), col("rank"))
        .orderBy("doc_id", "rank")
    },

    // L32: as-of join — each click enriched with the user's most
    // recent view at-or-before it (union-stream + keyed window: ONE
    // exchange, no join node). Oracle = DuckDB's NATIVE ASOF JOIN —
    // an independent implementation of the same semantics.
    "asof_join" -> { (s, dir) =>
      val ev = events(s, dir).toNative
      val probes = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
      val quotes = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("value"))
      Joins.asofJoin(probes, quotes, Seq("user_id"), "us",
          Seq("view_id", "value"), tieBreak = Some("view_id"))
        .orderBy("event_id")
    },

    // L32 (forward direction): each click enriched with the user's NEXT
    // view at-or-after it — same union-stream + keyed-window plan over
    // the reversed time order; oracle is DuckDB's native ASOF with the
    // comparator flipped (an independent implementation again).
    "asof_join_fwd" -> { (s, dir) =>
      val ev = events(s, dir).toNative
      val probes = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
      val quotes = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("value"))
      Joins.asofJoin(probes, quotes, Seq("user_id"), "us",
          Seq("view_id", "value"), tieBreak = Some("view_id"), direction = "forward")
        .orderBy("event_id")
    },

    // L32 (range): clicks within 24h after an error, same user —
    // intervals explode into covering bins, the join is an equi-join
    // on (user, bin) + residual filter, never a nested loop.
    "range_join" -> { (s, dir) =>
      val ev = events(s, dir).toNative
      val day = 86400000000L
      val pts = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"))
      val iv = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("s_us"),
          (org.apache.spark.sql.functions.unix_micros(col("ts")) + day).as("e_us"))
      Joins.rangeJoin(pts, iv, Seq("user_id"), "us", "s_us", "e_us", binWidth = day)
        .select("click_id", "error_id", "user_id")
        .orderBy("click_id", "error_id")
    },

    // L47: interval-OVERLAP equi-join — error windows (1 day) crossed
    // with click windows (6 h) per user. Covering-bin reduction with
    // single-bin pair ownership (the bin holding max(start_a, start_b))
    // so every overlapping pair surfaces exactly once, no dedup pass;
    // the oracle is the naive theta join DuckDB can afford at gate
    // scale.
    "interval_join" -> { (s, dir) =>
      val ev = events(s, dir).toNative
      val day = 86400000000L
      val h6 = 21600000000L
      val err = ev.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("e_s"),
          (org.apache.spark.sql.functions.unix_micros(col("ts")) + day).as("e_e"))
      val clk = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          org.apache.spark.sql.functions.unix_micros(col("ts")).as("c_s"),
          (org.apache.spark.sql.functions.unix_micros(col("ts")) + h6).as("c_e"))
      Joins.intervalJoin(err, clk, Seq("user_id"),
          "e_s", "e_e", "c_s", "c_e", binWidth = day)
        .select("error_id", "click_id", "user_id")
        .orderBy("error_id", "click_id")
    },

    // L33: gap-based sessionization (30-min gap) + per-session rollup —
    // one exchange on user_id (lag + running-sum + rollup all reuse
    // it); sums are integer cents so the totals are order-exact.
    "sessionize_events" -> { (s, dir) =>
      val ev = events(s, dir).toNative.select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("value"))
      Timeline.sessionStats(ev, Seq("user_id"), "us", gap = 1800000000L, valueCol = "value")
        .orderBy("user_id", "session_idx")
    },

    // L33 (funnel): view → click → purchase ordered conversion — a
    // chain of unordered per-key window minima (one exchange, no
    // sorts, no per-step self-join); depth 0 rows keep the denominator.
    "funnel_events" -> { (s, dir) =>
      val ev = events(s, dir).toNative.select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("event_type"))
      Timeline.funnel(ev, Seq("user_id"), "us", Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
        .orderBy("user_id")
    },

    // L33 (retention): weekly signup cohorts × weekly activity — the
    // retention triangle. Cohort anchor = per-user window min (one
    // exchange, no self-join); offsets are integer div; single-distinct
    // two-phase count (no Expand).
    "retention_events" -> { (s, dir) =>
      val week = 604800000000L
      val ev = events(s, dir).toNative.select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("event_type"))
      Timeline.retention(ev, Seq("user_id"), "us",
          col("event_type") === "signup", bucket = week)
        .orderBy("cohort", "offset")
    },

    // L33 (rolling): per-event trailing-1h count + cents over a RANGE
    // frame on the user timeline — value-based frame, so simultaneous
    // events agree under any tie order.
    "rolling_events" -> { (s, dir) =>
      val ev = events(s, dir).toNative.select(col("event_id"), col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("us"), col("value"))
      Timeline.rolling(ev, Seq("user_id"), "us", back = 3600000000L,
          "n_1h" -> count(lit(1)),
          "cents_1h" -> sum(coalesce(round(col("value") * 100).cast("long"), lit(0L))))
        .select("event_id", "user_id", "us", "n_1h", "cents_1h")
        .orderBy("event_id")
    },

    // L31 (quantiles): exact percentile_cont profile at dyadic
    // fractions over integer-valued columns — the regime where IEEE
    // interpolation is bit-exact across engines (the GK-sketch approx
    // twin is the unbounded-cardinality 100 TB shape, spec-gated).
    "profile_quantiles" -> { (s, dir) =>
      Profile.quantiles(lineitem(s, dir).toNative,
          Seq("l_quantity", "l_partkey", "l_suppkey"), Seq(0.25, 0.5, 0.75))
        .orderBy("column", "q")
    },

    // L45: exact one-pass Pearson correlation matrix — moments as
    // exact BIGINT sums over quantized columns (quantity is already
    // integral; price rounds to dollars, discount to percent points),
    // then the FIXED IEEE r-chain both engines reproduce bit-for-bit.
    // corr() itself is deliberately not used: its streaming covariance
    // depends on partial-merge order (no oracle can mirror it).
    "profile_corr" -> { (s, dir) =>
      import org.apache.spark.sql.functions.round
      val li = lineitem(s, dir).toNative.select(
        col("l_quantity").cast("long").as("qty"),
        round(col("l_extendedprice"), 0).cast("long").as("price_usd"),
        round(col("l_discount") * 100.0, 0).cast("long").as("disc_pc"))
      Profile.corrMatrix(li, Seq("qty", "price_usd", "disc_pc"))
        .orderBy("col_a", "col_b")
    },

    // L31 (histogram): fixed-width bins over a known domain — every
    // bin present (empty bins count 0), narrow assignment + tiny
    // keyed count + broadcast scaffold join. Edges are the identical
    // IEEE floor((x-lo)/w) chain in both engines.
    "profile_histogram" -> { (s, dir) =>
      Profile.histogram(lineitem(s, dir).toNative, col("l_quantity"),
          bins = 10, lo = 0.0, hi = 50.0)
        .orderBy("bin")
    },

    // L46: per-group exact quantiles — the mixture audit ("length
    // quartiles per language"), one grouped aggregate, dyadic
    // fractions over an integer column = bit-exact interpolation.
    "profile_quantiles_lang" -> { (s, dir) =>
      Profile.quantilesByGroup(documents(s, dir).toNative, col("lang"),
          Seq("n_chars"), Seq(0.25, 0.5, 0.75))
        .withColumnRenamed("grp", "lang")
        .orderBy("lang", "column", "q")
    },

    // L31 (buckets): CCNet-style quantile bucketing — exact dyadic
    // thresholds (one bounded collect), then a PURE NARROW comparison
    // chain; ties land in the lower bucket.
    "profile_buckets" -> { (s, dir) =>
      Profile.bucketByQuantiles(documents(s, dir).toNative,
          col("n_chars"), Seq(0.25, 0.5, 0.75), "bucket")
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id")
    },

    // L29 (collocations): top-30 bigrams by PMI at the published
    // minCount noise floor — same one-scan fitted model as lm_bigram;
    // fixed integer-derived division chain, micro-nat quantized,
    // (pmi desc, bigram asc) deterministic cut.
    "text_pmi" -> { (s, dir) =>
      NgramLM.pmiTop(
          NgramLM.fitBigram(documents(s, dir).toNative, col("text")),
          k = 30, minCount = 5)
        .orderBy(col("pmi_micro").desc, col("bigram").asc)
    },

    // L31 (heavy hitters): exact top-20 corpus tokens — the
    // boilerplate audit. Map-side word count + k-row TakeOrdered, no
    // global sort; deterministic (count desc, token asc) cut.
    "text_toptokens" -> { (s, dir) =>
      Profile.topValues(
          documents(s, dir).toNative.select(
            org.apache.spark.sql.functions.explode(
              NgramLM.tokens(col("text"))).as("token")),
          col("token"), k = 20)
        .orderBy(col("n").desc, col("value").asc)
    },

    // L31: one-pass table profile — per-column rows/nulls/distinct/
    // min/max in ONE aggregate (exact variant; the approx HLL++ twin
    // is the 100 TB shape, plan-gated in PlanAuditSpec).
    "profile_docs" -> { (s, dir) =>
      Profile.profile(documents(s, dir).toNative,
          Seq("doc_id", "lang", "source", "n_chars"))
        .orderBy("column")
    },

    // L30: URL canonicalization + eTLD+1 — pure narrow regex/array
    // expressions; the oracle runs the IDENTICAL patterns (Java ∩ RE2).
    "url_canon" -> { (s, dir) =>
      documents(s, dir).toNative
        .withColumn("_url", synthUrl)
        .select(col("doc_id"),
          UrlFns.canonicalizeUrl(col("_url")).as("url_canon"),
          UrlFns.urlHost(col("_url")).as("host"),
          UrlFns.registeredDomain(UrlFns.urlHost(col("_url"))).as("domain"))
        .orderBy("doc_id")
    },

    // L30 (blocklist): broadcast anti-join on the registered domain —
    // the C4/RefinedWeb URL-filtering step.
    "url_filter" -> { (s, dir) =>
      import s.implicits._
      val blocked = Seq("src3.co.uk", "src5.com", "src7.co.uk").toDF("domain")
      UrlFns.filterBlockedDomains(
          documents(s, dir).toNative.withColumn("_url", synthUrl), col("_url"), blocked)
        .select("doc_id", "source").orderBy("doc_id")
    },

    // L35: Unicode canonicalization — NFC + accent stripping as
    // codegen'd kernels over deterministically planted composed (even
    // ids) / decomposed (odd ids) accents. Normalization is fully
    // Unicode-specified, so DuckDB's utf8proc is a true independent
    // oracle: identical bytes, not just equal-looking strings.
    "text_unicode" -> { (s, dir) =>
      val plant = when(pmod(col("doc_id"), lit(2)) === 0,
        lit(" café münchen São"))        // composed
        .otherwise(lit(" café münchen São")) // decomposed
      val t = concat(col("text"), plant)
      documents(s, dir).toNative.select(
        col("doc_id"),
        TextFns.unicodeNorm(t).as("nfc"),
        org.apache.spark.sql.functions.length(t).as("n_before"),
        org.apache.spark.sql.functions.length(TextFns.unicodeNorm(t)).as("n_after"),
        TextFns.stripAccents(t).as("stripped"),
      ).orderBy("doc_id")
    },

    // L11: content fingerprint of normalized text
    "text_fingerprint" -> { (s, dir) =>
      documents(s, dir).toNative
        .select(col("doc_id"), TextFns.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // L20: Gopher-style repetition signals — duplicate line/word/3-gram
    // fractions as pure narrow array expressions (no explode, no
    // shuffle: a quality filter is a map, not an aggregation).
    "text_repetition" -> { (s, dir) =>
      documents(s, dir).toNative.select(
        col("doc_id"),
        TextFns.dupLineFrac(col("text")).as("dup_line_frac"),
        TextFns.dupWordFrac(col("text")).as("dup_word_frac"),
        TextFns.dupTrigramFrac(col("text")).as("dup_3gram_frac"),
      ).orderBy("doc_id")
    },

    // L21: PII scrubbing over deterministically planted addresses (the
    // corpus text carries none, so each doc gets a synthetic email /
    // IPv4 / phone appended — pure arithmetic in doc_id, same trick as
    // the multimodal gates — and the oracle replays the identical
    // plant + regex sequence).
    "text_pii" -> { (s, dir) =>
      val planted = concat_ws(" ", col("text"),
        concat(lit("u"), col("doc_id"), lit("@example.com")),
        concat(lit("10.0."), pmod(col("doc_id"), lit(256L)),
          lit("."), pmod(col("doc_id") * 7, lit(256L))),
        concat(lit("+1 555 20"), pmod(col("doc_id"), lit(10000L))))
      val (nEmail, nIp, nPhone) = TextFns.piiCounts(planted)
      documents(s, dir).toNative.select(
        col("doc_id"),
        nEmail.as("n_email"), nIp.as("n_ip"), nPhone.as("n_phone"),
        TextFns.redactPii(planted).as("clean_text"),
      ).orderBy("doc_id")
    },

    // L22: context-window chunking — one generator per row, no shuffle.
    "text_chunks" -> { (s, dir) =>
      Chunk.byTokens(documents(s, dir).toNative, col("doc_id"), col("text"), size = 64)
        .orderBy("doc_id", "chunk_id")
    },

    // L22→L17 composition: docs → 64-token chunks → ~256-token shards.
    // The seam under test is the packable-id synthesis (doc_id·2³² +
    // chunk_id — order-preserving, collision-free) plus the decode back
    // to the (doc_id, chunk_id) pair; the oracle replays the chunking
    // CTE and the greedy prefix-sum pack as one global window.
    "chunk_pack" -> { (s, dir) =>
      Chunk.packChunks(
        Chunk.byTokens(documents(s, dir).toNative, col("doc_id"), col("text"), size = 64),
        budget = 256)
        .orderBy("doc_id", "chunk_id")
    },

    // L1: exact dedup groups — min-id representative per fingerprint
    "dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(documents(s, dir).toNative, col("text"), col("doc_id"))
        .orderBy("fp")
    },

    // L1 (quality representative): keep the LONGEST raw copy per
    // normalized-identical group (score = n_chars; ties break to the
    // lowest id) — the published keep-best convention. The corpus has
    // no exact duplicates at gate scale, so both engines derive the
    // identical planted twin: every doc_id%7==0 doc re-appears at
    // id+100000 with edge whitespace (same normText, +5 raw chars) —
    // the COPY must win and the original must drop. The oracle runs
    // the identical md5 grouping with a QUALIFY (score desc, id asc)
    // row_number cut.
    "dedup_keep_best" -> { (s, dir) =>
      val d = documents(s, dir).toNative.select("doc_id", "text", "n_chars")
      val dup = d.where(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(lit("  "), col("text"), lit("   ")).as("text"),
          (col("n_chars") + 5L).as("n_chars"))
      Dedup.exactKeepBy(d.unionAll(dup), col("text"), col("doc_id"), col("n_chars"))
        .select("doc_id").orderBy("doc_id")
    },

    // L2 (keep-best): the NEAR-dup keep-best convention — per
    // duplicate CLUSTER (connected components of the verified pairs,
    // transitively closed) keep the longest member, ties to lowest
    // id. FULL oracle: the dedup_clusters recursive CTE + the
    // dedup_keep_best QUALIFY cut over the cluster key.
    "dedup_keep_best_near" -> { (s, dir) =>
      Dedup.minhashKeepBy(documents(s, dir).toNative, col("doc_id"), col("text"),
          col("n_chars"), 0.5)
        .select("doc_id").orderBy("doc_id")
    },

    // L2+L4: MinHash-LSH near-dedup keep-list (banding join + exact
    // Jaccard verify, min-id representative). 128 hashes in 64 bands of
    // 2 ⇒ P(miss | J≥0.5) ≤ (1-0.25)^64 ≈ 1e-8 — oracle-safe.
    "dedup_minhash" -> { (s, dir) =>
      Dedup.minhashKeep(documents(s, dir).toNative, col("doc_id"), col("text"), 0.5)
        .select("doc_id").orderBy("doc_id")
    },

    // L4: the verified candidate pairs themselves, with exact Jaccard
    "dedup_jaccard" -> { (s, dir) =>
      Dedup.jaccardPairs(documents(s, dir).toNative, col("doc_id"), col("text"), 0.5)
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"), col("jaccard"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // L2 persisted/incremental: write a MinHash index over the older
    // half of the corpus, then dedup the newer half against it (plus
    // within-batch) — the re-runnable production flow. Equivalent to
    // minhashKeep over the union restricted to the new half, which is
    // exactly what the all-pairs oracle checks.
    "dedup_incremental" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val cut = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val idx = tempShardDir("graft_mh_idx_", dir)
      Dedup.writeMinHashIndex(
        docs.where(col("doc_id") <= cut), col("doc_id"), col("text"), idx)
      Dedup.minhashKeepIncremental(
          docs.where(col("doc_id") > cut), col("doc_id"), col("text"), idx, 0.5)
        .select("doc_id").orderBy("doc_id")
    },

    // L13: connected-components clustering over the verified pairs —
    // every duplicated doc gets the component's min id as canonical id.
    // Iterative min-label propagation on Spark; WITH RECURSIVE closure
    // in the DuckDB oracle.
    "dedup_clusters" -> { (s, dir) =>
      val pairs = Dedup.jaccardPairs(documents(s, dir).toNative, col("doc_id"), col("text"), 0.5)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // Same contract via alternating star contraction — O(log² n) rounds
    // independent of component diameter (the adversarial-chain path);
    // gated against the same transitive-closure oracle.
    "dedup_clusters_star" -> { (s, dir) =>
      val pairs = Dedup.jaccardPairs(documents(s, dir).toNative, col("doc_id"), col("text"), 0.5)
      Dedup.duplicateClustersStar(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },

    // L14: substring-level duplicated-span stats — per doc, how many of
    // its 5-token windows also occur in >= 2 distinct docs. The engine
    // groups 64-bit window fingerprints (narrow shuffle); the oracle
    // groups the window strings — equivalent below the collision floor.
    "dedup_spans" -> { (s, dir) =>
      Dedup.spanDupStats(documents(s, dir).toNative, col("doc_id"), col("text"), k = 5)
        .orderBy("doc_id")
    },

    // L24: duplicated-span REMOVAL — the rewrite dedup_spans only
    // measures: strip every 5-token window occurring in >= 2 distinct
    // docs, keeping the min-doc_id holder's copies (published
    // keep-one-copy contract). Engine flags 64-bit fingerprints; the
    // oracle re-derives with window STRINGS and rebuilds each doc with
    // the identical coverage rule — equivalent below the collision
    // floor (as dedup_spans).
    "span_removal" -> { (s, dir) =>
      Dedup.removeDupSpans(documents(s, dir).toNative, col("doc_id"), col("text"), k = 5)
        .orderBy("doc_id")
    },

    // L38: duplicated-LINE stats — web boilerplate repeats as whole
    // lines (nav bars, footers); count each doc's non-blank lines whose
    // normalized form occurs in >= 2 distinct docs. The corpus has no
    // newlines, so the query derives a deterministic multi-line twin
    // (10-word lines, the chunking CTE shape) both engines compute
    // identically; duplicate docs then share every line.
    "dedup_lines" -> { (s, dir) =>
      Dedup.lineDupStats(
          docsMultiline(documents(s, dir).toNative), col("doc_id"), col("text_ml"))
        .orderBy("doc_id")
    },

    // L38 (removal): strip every line occurring in >= 2 distinct docs,
    // min-doc_id holder keeps its copies; raw line text and order
    // preserved. Engine flags 64-bit normalized-line fingerprints; the
    // oracle re-derives with line STRINGS — equivalent below the
    // collision floor (as dedup_spans).
    "line_removal" -> { (s, dir) =>
      Dedup.removeDupLines(
          docsMultiline(documents(s, dir).toNative), col("doc_id"), col("text_ml"))
        .orderBy("doc_id")
    },

    // L15: benchmark decontamination — n-gram overlap of each corpus doc
    // against a held-out eval set (docs with doc_id % 10 == 0 stand in
    // for the benchmark; the rest is the corpus). The engine probes
    // broadcast 64-bit window fingerprints; the oracle joins the window
    // strings — equivalent below the collision floor (as dedup_spans).
    "dedup_contamination" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Dedup.contaminationStats(
          docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.where(col("doc_id") % 10 === 0), col("text"), k = 5)
        .orderBy("doc_id")
    },

    // L15 (keep variant): the decontaminated corpus itself — the API a
    // pipeline actually runs after reading the stats. Drop-list +
    // left-anti; NULL-text/zero-window docs are kept by definition.
    "dedup_decontam_keep" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Dedup.decontaminatedKeep(
          docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.where(col("doc_id") % 10 === 0), col("text"), k = 5)
        .select("doc_id").orderBy("doc_id")
    },

    // L15c: Bloom-reduced decontamination — same answer as
    // dedup_decontam_keep, computed for the large-bench regime: a
    // codegen'd might_contain prefilter (public stat.bloomFilter
    // sketch) cuts the shuffled exact-verify join to the contaminated
    // sliver; Bloom false positives die in the verify join, so the
    // oracle is the EXACT keep-twin SQL.
    "dedup_bloom_keep" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Dedup.decontaminatedKeepBloom(
          docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.where(col("doc_id") % 10 === 0), col("text"), k = 5)
        .select("doc_id").orderBy("doc_id")
    },

    // L37: NEAR-duplicate decontamination — the paraphrase gap exact
    // n-gram overlap can't see: drop corpus docs with shingle-set
    // Jaccard ≥ 0.5 against ANY bench doc. Cross-banded MinHash-LSH
    // (bench buckets broadcast; corpus stream never shuffles) + exact
    // Jaccard verify; 128/64 banding makes LSH recall ≈ 1 at J≥0.5, so
    // the all-pairs oracle is safe.
    "decontam_near" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Dedup.decontaminatedKeepNear(
          docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
          docs.where(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
          threshold = 0.5)
        .select("doc_id").orderBy("doc_id")
    },

    // L44: per-slice heavy hitters — exact top tokens per language
    // with the deterministic (cnt desc, item asc) cut both engines
    // run. (The GLOBAL variant is text_toptokens / Profile.topValues.)
    "top_tokens_lang" -> { (s, dir) =>
      import org.apache.spark.sql.functions.explode
      val toks = documents(s, dir).toNative
        .select(col("lang"), explode(NgramLM.tokens(col("text"))).as("tok"))
      Sketch.topItemsPerGroup(toks, col("lang"), col("tok"), k = 5)
        .withColumnRenamed("grp", "lang")
        .orderBy("lang", "item")
    },

    // L16: deterministic hash sample — keep iff the first 8 hex chars of
    // md5(key:seed) fall below rate·2^32. Reproducible under ANY
    // repartitioning (unlike df.sample), pure narrow filter, and the
    // oracle runs the IDENTICAL ANSI expression.
    // L16 (importance): per-row Bernoulli with a COMPUTED rate —
    // DSIR-shaped importance resampling (rate ∝ doc length here);
    // still a pure narrow filter, floor'd threshold for cross-engine
    // exactness.
    "sample_importance" -> { (s, dir) =>
      Sampling.sampleImportance(documents(s, dir).toNative, col("doc_id"),
          org.apache.spark.sql.functions.least(lit(1.0),
            col("n_chars").cast("double") / 4000.0), seed = 7)
        .select("doc_id", "n_chars").orderBy("doc_id")
    },

    // L42: DSIR importance weights (Xie 2023) — per-doc micro-nat log
    // ratio of hashed-ngram likelihood under the target (doc_id%10==0
    // stands in for the high-quality reference) vs the raw corpus.
    // Default xxhash64 bucketing (7x the md5 chain's kernel speed at
    // stress scale) ⇒ PARTIAL oracle, the dedup_simhash pattern:
    // Verify exports the gram-occurrence stream (_aux/dsir_occ) and
    // DuckDB re-fits both add-one integer-ratio models and re-derives
    // the identical micro-nat ln chain + order-free doc sums from it
    // — everything downstream of the hash kernel is driver-checked;
    // the kernel itself (and md5Hash=true cross-engine mode) is under
    // DsirSpec's independent local implementation.
    "dsir_weights" -> { (s, dir) =>
      val docsT = documents(s, dir).toNative
      Dsir.weights(docsT, col("doc_id"), col("text"),
          docsT.where(pmod(col("doc_id"), lit(10)) === 0), col("text"),
          buckets = 10000)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // L42 (md5 mode): the cross-engine DSIR twin — identical model and
    // scoring, but the bucket kernel is the L16/L27 md5 draw instead
    // of xxhash64, so the ENTIRE flow (tokenize → bigram → bucket →
    // two add-one fits → micro-nat ratio table → order-free doc sums)
    // re-derives in DuckDB as a FULL oracle from the raw documents
    // table — no aux export, no spec-only kernel. Closes the one r15
    // text operator whose hash rested on specs alone; xxhash64 stays
    // the production default (measured 7× faster at 10× scale).
    "dsir_weights_md5" -> { (s, dir) =>
      val docsT = documents(s, dir).toNative
      Dsir.weights(docsT, col("doc_id"), col("text"),
          docsT.where(pmod(col("doc_id"), lit(10)) === 0), col("text"),
          buckets = 10000, md5Hash = true)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // L49: deterministic weighted interleaving — the loader's mixing
    // schedule: en at 3x the rate of de, fr dropped (unweighted).
    // Both engines compute the identical md5 within-source order and
    // the identical (r - 0.5)/w stride chain.
    "sample_interleave" -> { (s, dir) =>
      Sampling.interleaveByWeight(documents(s, dir).toNative,
          col("doc_id"), col("lang"), Map("en" -> 3.0, "de" -> 1.0, "zh" -> 2.0), seed = 11)
        .select("doc_id", "lang", "mix_order")
        .orderBy("doc_id")
    },

    "sample_hash" -> { (s, dir) =>
      Sampling.sampleHash(documents(s, dir).toNative, col("doc_id"), rate = 0.25, seed = 42)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // L16 (stratified): per-language rates — the data-mixture weighting
    // move (keep half the English, a quarter of the German, 10% rest).
    "sample_stratified" -> { (s, dir) =>
      Sampling.sampleStratified(documents(s, dir).toNative, col("doc_id"), col("lang"),
          rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1, seed = 7)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // L16 (splits): deterministic train/val/test assignment — a doc
    // keeps its split across re-runs and corpus growth (leakage guard).
    "sample_split" -> { (s, dir) =>
      Sampling.withSplit(documents(s, dir).toNative, col("doc_id"), "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 21)
        .select("doc_id", "split").orderBy("doc_id")
    },

    // L40: the near-dup leakage guard — duplicate-cluster members
    // split by their CLUSTER id so a whole near-dup family lands on
    // one side of the train/test cut; singletons split by their own
    // id, identical to sample_split. Oracle re-derives the clusters
    // (recursive CTE) and runs the identical hash-cut CASE.
    "split_safe" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val clusters = Dedup.duplicateClusters(
          Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 0.5))
        .select(col("id"), col("cluster_id"))
      Sampling.withSplitLeakageSafe(docs, col("doc_id"), clusters, "split",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 21)
        .select("doc_id", "split").orderBy("doc_id")
    },

    // L16 (fixed budget): exactly n docs per language, deterministic
    // draw order — Spark's WindowGroupLimit keeps the top-n prune
    // map-side partial (plan-asserted).
    "sample_exact_n" -> { (s, dir) =>
      Sampling.sampleExactPerStratum(documents(s, dir).toNative,
          col("doc_id"), col("lang"), n = 20, seed = 13)
        .select("doc_id", "lang").orderBy("doc_id")
    },

    // L16 (score-ordered twin): keep the BEST n per group — top 10 docs
    // per language by length, deterministic (score desc, id) total
    // order, same PARTIAL WindowGroupLimit scale shape as
    // sample_exact_n (plan-asserted).
    "select_topk_group" -> { (s, dir) =>
      Sampling.topKPerGroup(documents(s, dir).toNative,
          col("doc_id"), col("lang"), col("n_chars"), n = 10)
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    },

    // L28: temperature (alpha) mixture resample — per-source rates
    // n^0.5-normalized toward a 200-doc target, applied as the same
    // deterministic hash filter. alpha=0.5 makes the quantized weight
    // bit-exact cross-engine (sqrt is IEEE-correctly-rounded); the
    // oracle recomputes counts -> quantized weights -> rates ->
    // threshold hex in pure SQL.
    "sample_temperature" -> { (s, dir) =>
      Sampling.sampleTemperature(documents(s, dir).toNative, col("doc_id"), col("source"),
          alpha = 0.5, targetCount = 200, seed = 31)
        .select("doc_id", "source").orderBy("doc_id")
    },

    // L27: deterministic training-order shuffle — shard + within-shard
    // rank key as pure functions of (doc_id, seed); the oracle re-runs
    // the identical md5 arithmetic (hex draw parsed via '0x' cast).
    "sample_shuffle" -> { (s, dir) =>
      Sampling.shuffleShards(documents(s, dir).toNative, col("doc_id"), nShards = 8, seed = 5)
        .select("doc_id", "shard", "draw").orderBy("doc_id")
    },

    // L26: cluster-balanced diversity sample — up to 10 vectors per
    // k-means cell of the ann_ivf coarse quantizer (identical
    // training), drawn by the sample_exact_n hash order. PARTIAL
    // oracle: the assignment is deterministic but not SQL-expressible,
    // so Verify exports (id, cid) (_aux/div_assign) and DuckDB re-runs
    // the per-cell QUALIFY draw — the selection stage is
    // driver-checked.
    "sample_diverse" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      Sampling.sampleDiverseByCluster(
          Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
          e, col("vec_id"), col("embedding"), nPerCluster = 10, seed = 7)
        .orderBy("id")
    },

    // L25: pairwise source-overlap matrix — shared distinct 5-token
    // windows + window Jaccard for every unordered language pair,
    // zero-overlap pairs included. Engine distincts 64-bit window
    // fingerprints per group; the oracle distincts the window STRINGS —
    // equivalent below the collision floor (as dedup_spans).
    "source_overlap" -> { (s, dir) =>
      Sketch.sourceOverlapMatrix(documents(s, dir).toNative,
          col("lang"), col("text"), k = 5)
        .orderBy("group_a", "group_b")
    },

    // L17: token-budget shard packing via the two-phase distributed
    // prefix sum (block cumsum + broadcast offsets — no global
    // single-partition sort). Oracle: the global window cumsum DuckDB
    // can afford at oracle scale.
    // L43: the Z-order (Morton) data-skipping key — pure 64-bit clamp +
    // magic-mask bit spread + interleave, bit-identical in any engine.
    // The layout itself (zorderBy: range exchange + in-task sort) is
    // spec-gated on measured per-file min/max tightness; the gate pins
    // the key arithmetic both engines derive.
    "zorder_key" -> { (s, dir) =>
      documents(s, dir).toNative
        .select(col("doc_id"),
          graft.operators.Layout.zValue2(
            col("n_chars"), pmod(col("doc_id"), lit(65536)), bits = 16)
            .cast("long").as("z"))
        .orderBy("doc_id")
    },

    "pack_shards" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Pack.packByBudget(docs, col("doc_id"), TextFns.tokenCountWs(col("text")), budget = 2000)
        .select(col("id").as("doc_id"), col("weight").as("n_tokens"), col("shard_id"))
        .orderBy("doc_id")
    },

    // L17c: the materializing shard WRITER — packByBudget assigns, this
    // writes the training layout (one file per shard, doc order within,
    // 0-based position stamped) and reads the tree back, so the gate
    // checks the WHOLE loop: place → partitioned write → read. FULL
    // oracle on (shard_id, position, doc_id, n_tokens): the pack_shards
    // cumsum chain + row_number per shard.
    "pack_write" -> { (s, dir) =>
      // BOUNDED slice: one-file-per-shard at a FIXED token budget means
      // the file count — and the write cost — grows linearly in sf
      // (the sf1 sweep paid 10.8 s for ~600 tiny files); production
      // sizes the budget to the corpus (tokens-per-training-file), a
      // fixed-SQL gate can't, so it bounds the input instead
      val docs = documents(s, dir).toNative.where(col("doc_id") < 4000)
      val packed = Pack.packByBudget(docs, col("doc_id"),
        TextFns.tokenCountWs(col("text")), budget = 2000)
      val out = tempShardDir("graft_packwrite_", dir)
      Pack.writeShards(packed, out, shardCol = "shard_id", orderCol = "id")
      Parquet.read(s, out)
        .select(col("shard_id").cast("long").as("shard_id"), col("position"),
          col("id").as("doc_id"), col("weight").as("n_tokens"))
        .orderBy("shard_id", "position")
    },

    // L17b: quality-ordered budget SELECTION (keep the best docs whose
    // cumulative tokens fit the budget — the data-mixture cut that
    // precedes sharding). score = n_chars (a deterministic stand-in
    // for a quality model; both engines order identically), weight =
    // whitespace tokens. Distributed shape: range-partition on the
    // order keys + per-partition prefix sums + driver offsets — never
    // a one-partition global window. Oracle: the global window cumsum.
    "select_budget" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Pack.selectByBudget(docs, col("doc_id"), TextFns.tokenCountWs(col("text")),
          col("n_chars"), budget = 20000)
        .select(col("id").as("doc_id"), col("weight").as("n_tokens"),
          col("cum_weight").as("cum_tokens"))
        .orderBy("doc_id")
    },

    // L17b per-group variant: the data-MIXTURE cut — per-language token
    // budgets, each language independently keeping its best docs
    // (budget omitted = language dropped; 'fr' here, by design).
    "select_mixture" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Pack.selectByBudgetPerGroup(docs, col("doc_id"), TextFns.tokenCountWs(col("text")),
          col("n_chars"), col("lang"),
          Map("en" -> 6000L, "zh" -> 2000L, "es" -> 2000L, "de" -> 1500L))
        .select(col("id").as("doc_id"), col("group").as("lang"),
          col("weight").as("n_tokens"), col("cum_weight").as("cum_tokens"))
        .orderBy("doc_id")
    },

    // End-to-end corpus preparation — the flow this engine exists for,
    // run as ONE composed plan: quality gate (≥8 words) + language gate
    // (langid = en) in a single narrow codegen'd pass over the corpus
    // split, exact-dedup keep (min-id per md5 fingerprint), benchmark
    // decontamination (5-gram overlap vs the doc_id%10=0 eval split,
    // broadcast-probed), then token-budget shard packing via the
    // two-phase distributed prefix sum. Exercises operator COMPOSITION:
    // each stage consumes the previous frame lazily, so Catalyst fuses
    // the narrow gates into the scan and the whole flow reads the
    // corpus once per shuffle stage rather than once per operator.
    "corpus_prep" -> { (s, dir) => corpusPrep(s, dir, near = false) },

    // corpus_prep with the MinHash near-dedup stage the published
    // corpus recipes run between exact dedup and decontamination —
    // the L2 keep-list composed INTO the flow rather than gated
    // standalone. The seam under test: minhashKeep's drop-set anti-join
    // consumes the exact-dedup keep frame (materialized — the banding /
    // verify / expand stages reference their input subtree repeatedly),
    // and the decontam + packing stages consume the near-deduped frame.
    // Oracle: corpus_prep's CTE chain with dedup_minhash's all-pairs
    // Jaccard CTE spliced in at the same point.
    "corpus_prep_near" -> { (s, dir) => corpusPrep(s, dir, near = true) },

    // L3: SimHash pairs within hamming 3 via 4x16-bit pigeonhole bands.
    // PARTIAL oracle: the hash kernel isn't ANSI-SQL-expressible, so
    // Verify exports the Spark-computed signatures (_aux/simhash_sigs)
    // and DuckDB re-derives banding + hot-bucket cap + join + hamming
    // from them with xor/bit_count — the whole pairing logic is
    // driver-checked; SqlFunctionsSpec carries the kernel itself.
    "dedup_simhash" -> { (s, dir) =>
      Dedup.simhashPairs(documents(s, dir).toNative, col("doc_id"), col("text"), 3)
        .select(col("id_a").as("doc_id_a"), col("id_b").as("doc_id_b"), col("hamming"))
        .orderBy("doc_id_a", "doc_id_b")
    },

    // L5: embedding cosine near-dup via sign-LSH buckets. PARTIAL
    // oracle: hyperplane bucketing is probabilistic (AnnSpec pins
    // recall), so Verify exports the candidate pairs (_aux/emb_cand)
    // and DuckDB re-derives the exact-cosine verify + threshold with
    // list_cosine_similarity — the verify stage is driver-checked.
    "dedup_embedding" -> { (s, dir) =>
      Dedup.embeddingPairs(embeddings(s, dir).toNative,
          col("vec_id"), col("embedding"), tau = 0.4, dim = 64)
        .orderBy("id_a", "id_b")
    },

    // L50: distributed PCA — train (one treeAggregate Gram pass +
    // driver eigSym, deterministic: unit-norm sign-canonicalized
    // basis) then project every vector. PARTIAL oracle: Verify
    // exports the fitted basis (_aux/pca_model) and DuckDB recomputes
    // the identical center-then-ascending-index-fold projections,
    // rounded to 6 decimals (the ann cosine precedent).
    "pca_project" -> { (s, dir) =>
      import org.apache.spark.sql.functions.posexplode
      val e = embeddings(s, dir).toNative
      val model = graft.operators.Pca.train(e, col("embedding"), dim = 64, k = 8)
      graft.operators.Pca.project(e, col("embedding"), model)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("cidx", "p")))
        .select(col("vec_id"), col("cidx"),
          org.apache.spark.sql.functions.round(col("p"), 6).as("p"))
        .orderBy("vec_id", "cidx")
    },

    // L51: Okapi BM25 — fit is ONE tagged scan (df stream + per-doc
    // length stats), scoring filters the token stream to the query
    // terms in the row before anything shuffles. FULL oracle:
    // DuckDB re-derives the identical micro-quantized weights (the
    // non-negative idf, tf saturation, length norm against the
    // frozen integer avgdl) with verbatim-mirrored double arithmetic.
    "bm25_score" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Bm25.score(docs, col("doc_id"), col("text"),
          Seq("spark", "window", "merge"), Bm25.fit(docs, col("text")))
        .select(col("id").as("doc_id"), col("dl"), col("n_hits"), col("bm25_micro"))
        .orderBy("doc_id")
    },

    // L51 (retrieval cut): top-5 docs for the query — scoring +
    // TakeOrderedAndProject (per-partition partial top-n, no global
    // sort); rank window runs over the 5 survivors only.
    "bm25_topk" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Bm25.topK(docs, col("doc_id"), col("text"),
          Seq("spark", "window", "merge"), Bm25.fit(docs, col("text")), n = 5)
        .select(col("id").as("doc_id"), col("dl"), col("n_hits"),
          col("bm25_micro"), col("rank"))
        .orderBy("rank")
    },

    // L51 (batch retrieval): ONE corpus pass scores ALL queries — the
    // keep-set kernel filters to the union of terms, tf aggregates
    // once, then the broadcast (term, qid, df) table fans hits out per
    // query AFTER the heavy exchange. Query table exercises shared
    // terms, case/blank normalization, and a term absent from some
    // queries. FULL oracle: the bm25_score CTE chain per qid, hits
    // only (zero-hit (doc, query) pairs get no row by contract).
    "bm25_many" -> { (s, dir) =>
      import s.implicits._
      val docs = documents(s, dir).toNative
      val queries = Seq(
        (0L, "spark"), (0L, "window"), (0L, "merge"),
        (1L, "spark"), (1L, "stream"),
        (2L, "data"), (2L, " Merge"), (2L, "")).toDF("qid", "term")
      Bm25.scoreMany(docs, col("doc_id"), col("text"), queries,
          Bm25.fit(docs, col("text")))
        .select(col("qid"), col("id").as("doc_id"), col("dl"),
          col("n_hits"), col("bm25_micro"))
        .orderBy("qid", "doc_id")
    },

    // L52: reciprocal-rank fusion — the hybrid-retrieval combiner:
    // sparse leg = BM25 top-20 over documents, dense leg = exact
    // cosine top-20 around probe vec 0 (documents and embeddings
    // share the 0..N-1 id space); fused by Σ 1/(60+rank) in exact
    // nano units. FULL oracle re-derives both legs (the bm25 CTE
    // chain + list_cosine_similarity) and the identical fusion.
    "rank_fusion" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val e = embeddings(s, dir).toNative
      val sparse = Bm25.topK(docs, col("doc_id"), col("text"),
          Seq("spark", "window", "merge"), Bm25.fit(docs, col("text")), n = 20)
        .select(col("id"), col("rank"))
      val probes = e.where(col("vec_id") === 0)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val dense = Ann.topKBrute(e, col("vec_id"), col("embedding"), probes, k = 20)
        .select(col("neighbor_id").as("id"), col("rank"))
      RankFusion.fuseTopK(Seq(sparse, dense), n = 10)
        .select(col("id").as("doc_id"), col("n_lists"), col("rrf_nano"), col("rank"))
        .orderBy("rank")
    },

    // L53: logistic-regression quality classifier — the GPT-3-shaped
    // corpus filter: DISTILL the Gopher rule gate into a smooth
    // score (train = bounded-sample GD, deterministic pinned-order
    // combine; score = one narrow sigmoid projection). PARTIAL
    // oracle: Verify exports the trained weights (_aux/lr_model) and
    // DuckDB rebuilds the exact integer-ratio features, the identical
    // left-associative w·x chain, and the micro-quantized sigmoid.
    "quality_lr" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      // the SAME relaxed gate text_gopher applies to this corpus —
      // default thresholds label every synthetic doc false (degenerate
      // distillation target; the gate never varies)
      val labeled = docs.withColumn("_label",
        TextFns.gopherFlags(col("text"), minWords = 25, minStopwords = 1)
          .getField("keep"))
      val m = LogReg.train(labeled, col("text"), col("_label"))
      LogReg.score(docs, col("doc_id"), col("text"), m)
        .select(col("id").as("doc_id"), col("score_micro"), col("keep"))
        .orderBy("doc_id")
    },

    // L53b: hashed-n-gram quality classifier — the DCLM/fastText
    // corpus-filter shape over the DSIR bucket kernel: binary
    // presence bag + binned length cues, L1-sparse diagonal-Newton
    // train (NgramLRSpec pins it strictly ABOVE the 8-feature model
    // on held-out Gopher labels), scoring one codegen'd BIGINT
    // presence-dot per row. md5 hashing so the oracle re-derives the
    // ENTIRE apply: hashing, distinct-bucket presence sum, length
    // bin, fixed z chain, micro sigmoid (_aux/ngram_lr_model carries
    // the identically re-trained weights). The md5 gram chain IS the
    // gate's dominant cost at stress sf — the dsir_weights_md5
    // precedent: the deliberately-kept cross-engine oracle twin;
    // production scores on the xxhash64 kernel (md5Hash = false).
    "quality_lr_ngram" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val labeled = docs.withColumn("_label",
        TextFns.gopherFlags(col("text"), minWords = 25, minStopwords = 1)
          .getField("keep"))
      // BOUNDED training sample (the published contract — quality
      // classifiers train on a FIXED-size labeled sample and score the
      // corpus; an unbounded slice made the sf1 sweep pay 17 s) +
      // fewer passes than the spec's agreement study: the gate checks
      // train determinism + the scoring contract, and 40 proximal
      // passes over ≤5k docs keep its cost FLAT in sf
      val m = NgramLR.train(
        labeled.where(pmod(col("doc_id"), lit(4)) === 1 && col("doc_id") < 20000),
        col("text"), col("_label"), iters = 40, md5Hash = true)
      NgramLR.score(docs, col("doc_id"), col("text"), m, md5Hash = true)
        .select(col("id").as("doc_id"), col("n_grams"), col("score_micro"), col("keep"))
        .orderBy("doc_id")
    },

    // L54: HTML→text extraction — the pre-gate step every web corpus
    // pays; documents carry plain text, so the gate synthesizes a
    // full page around each doc (title/style/script/comment/entities
    // — the url_canon synthetic-input precedent) and extracts it
    // back. FULL oracle: identical page construction, the identical
    // strip/decode chain (RE2∩Java patterns, mirrored options), and
    // the module word count over the extraction.
    "html_text" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val did = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), did,
        lit("</title><style>p{color:red}</style>" +
          "<script>if (1 < 2) { x(); }</script></head><body><!-- id "), did,
        lit(" --><h1>Doc &amp; "), did,
        lit("</h1><p class=\"main\">"), col("text"),
        lit("&nbsp;&lt;end&gt;</p></body></html>"))
      docs.select(col("doc_id"), TextFns.htmlToText(html).as("text_plain"))
        .withColumn("n_words", TextFns.wordCount(col("text_plain")).cast("long"))
        .orderBy("doc_id")
    },

    // L55: WARC ingestion — the crawl-archive entry point the published
    // pipelines start from (C4/RefinedWeb read CommonCrawl WARC/WET;
    // r16 verdict gap #3). The gate is the REAL flow end-to-end: each
    // partition writes a synthetic archive shard (plain .warc on even
    // partitions, per-record-gzip .warc.gz on odd — both crawl
    // layouts) of full HTML pages (the html_text synthesis plus a
    // planted « café § » literal — Latin-1-encodable non-ASCII, so the
    // ISO-8859-1-variant shards are byte-DISTINCT from UTF-8 and only
    // the charset-param decode reproduces the text), then Warc.read
    // parses the archives back — header map, target URI, charset-
    // decoded payload_text — and the L54 extraction runs over it.
    // FULL oracle: the html_text SQL on the same doc subset — any
    // archive-framing, payload, charset, or header corruption breaks
    // the hash. doc_id % 8 bounds the fixture I/O (oracle mirrors it);
    // the shard dir carries the PID so concurrent Bench/Verify runs
    // over the same data dir can't race each other's shards.
    "warc_ingest" -> { (s, dir) =>
      val docs = documents(s, dir).toNative.where(col("doc_id") % 8 === 0)
      val did = col("doc_id").cast("string")
      val html = concat(
        lit("<html><head><title>Doc "), did,
        lit("</title><style>p{color:red}</style>" +
          "<script>if (1 < 2) { x(); }</script></head><body><!-- id "), did,
        lit(" --><h1>Doc &amp; "), did,
        lit("</h1><p class=\"main\">"), col("text"),
        lit(" « café § »&nbsp;&lt;end&gt;</p></body></html>"))
      val shardDir = tempShardDir("graft_warc_gate_", dir)
      val glob = graft.sources.Warc.writeSyntheticShards(
        docs.select(col("doc_id"), html.as("html")), shardDir)
      graft.sources.Warc.read(s, glob)
        .where(col("valid") && col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          col("payload_text").as("_page"))
        .select(col("doc_id"), TextFns.htmlToText(col("_page")).as("text_plain"))
        .withColumn("n_words", TextFns.wordCount(col("text_plain")).cast("long"))
        .orderBy("doc_id")
    },

    // L55+L19 composition: the PUBLISHED web pipeline end-to-end from
    // the crawl archive — WARC shards (mixed plain/gzip, charset
    // variants) → payload_text charset decode → L54 HTML extraction →
    // the corpus_prep chain over the EXTRACTED text: langid+quality
    // gate, exact-dedup keep, k-gram decontamination vs the held-out
    // split, token-budget packing. This is C4/RefinedWeb's actual
    // shape (archive in, packed shards out) as ONE composed lazy plan.
    // The page template is static (no doc id in the furniture) so
    // normalized-dup collapse stays honest, and decontamination runs
    // at k = 6 — the planted « café § » <end> tail is 5 tokens, so a
    // 6-gram can never match on furniture alone. FULL oracle: the
    // warc_ingest extraction chain feeding the corpus_prep CTE chain
    // (width-6 gram slices) on the same %8 subset, bench = %40.
    "web_prep" -> { (s, dir) =>
      val docs = documents(s, dir).toNative.where(col("doc_id") % 8 === 0)
      val html = concat(
        lit("<html><head><title>Web</title><style>p{color:red}</style>" +
          "<script>if (1 < 2) { x(); }</script></head><body><!-- crawl -->" +
          "<h1>Web &amp; Prep</h1><p class=\"main\">"), col("text"),
        lit(" « café § »&nbsp;&lt;end&gt;</p></body></html>"))
      val shardDir = tempShardDir("graft_webprep_", dir)
      val glob = graft.sources.Warc.writeSyntheticShards(
        docs.select(col("doc_id"), html.as("html")), shardDir)
      // several stages re-reference the parsed pages: parse archives
      // ONCE. localCheckpoint is the GATE idiom only — it pins the
      // materialization to executor lifetime; the 100 TB production
      // flow persists the extracted pages to durable storage
      // (write.parquet + re-read) instead, so stage retries and
      // executor loss don't re-parse the crawl
      val pages = InternalCaches.checkpoint(graft.sources.Warc.read(s, glob)
        .where(col("valid") && col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
          TextFns.htmlToText(col("payload_text")).as("text")))
      val bench = pages.where(col("doc_id") % 40 === 0)
      val corpus = pages.where(col("doc_id") % 40 =!= 0)
      val gated = TextFns.withLangId(corpus, col("text"), "_lang")
        .where(TextFns.wordCount(col("text")) >= 8 && col("_lang") === "en")
        .select(col("doc_id"), col("text"))
      val deduped = Dedup.exactKeep(gated, col("text"), col("doc_id"))
      val clean = Dedup.decontaminatedKeep(
        deduped, col("doc_id"), col("text"), bench, col("text"), k = 6)
      val weights = clean.select(col("doc_id"),
        TextFns.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      Pack.packByBudget(weights, col("doc_id"), col("n_tokens"), budget = 2000)
        .select(col("id").as("doc_id"), col("weight").as("n_tokens"), col("shard_id"))
        .orderBy("doc_id")
    },

    // L56: BPE token counting — training budgets are TOKENIZER tokens,
    // not regex words (Pack/Chunk budget cuts were whitespace-token
    // counts until now). Merges train deterministically on the corpus
    // (Sennrich 2016; most-frequent pair, lexicographic ties) and the
    // count applies them through the codegen'd keep-nothing kernel
    // (BpeCountExpr: frozen rank table as a reference object, per-
    // thread word→pieces memo — Zipf makes the hit rate extreme).
    // PARTIAL oracle, the dsir_weights pattern: the merges table
    // exports to _aux (identical deterministic re-train) and DuckDB
    // re-derives the ENTIRE apply — char seed, 24 unrolled
    // lowest-rank-leftmost merge steps per distinct word, per-doc sum.
    "bpe_tokens" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val merges = Bpe.fitMerges(docs, col("text"), numMerges = 12)
      docs.select(col("doc_id"), Bpe.count(col("text"), merges).as("n_bpe"))
        .orderBy("doc_id")
    },

    // L56b: BYTE-level BPE (GPT-2 / Radford et al. 2019 — the published
    // merges.txt shape): regex pretokenization (leading spaces attach),
    // UTF-8 bytes lifted to the printable unicode space, exhaustive
    // lowest-rank-leftmost merges. The corpus text is augmented with a
    // planted suffix (by doc_id % 4) that forces every path the oracle
    // must reproduce: multi-space runs before words/digits/punct (the
    // lookahead split), a contraction after spaces (the " '"+tail-merge
    // case), tabs/newlines, 2/3/4-byte UTF-8, trailing whitespace.
    // PARTIAL oracle, the bpe_tokens pattern: _aux/bpe_bytes_merges
    // exports the deterministic re-train and DuckDB re-derives the
    // ENTIRE apply — lookahead-free pretokenizer emulation, per-char
    // UTF-8 byte expansion, GPT-2 byte map, 24 unrolled merge steps.
    "bpe_tokens_bytes" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val t2 = bpeBytesText
      val merges = Bpe.fitMergesBytes(docs.select(t2.as("_t2")), col("_t2"), numMerges = 40)
      docs.select(col("doc_id"), Bpe.countBytes(t2, merges).as("n_bpe_bytes"))
        .orderBy("doc_id")
    },

    // L56c: tiktoken-format vocabulary (cl100k/o200k file shape — what
    // 2026 budget counting actually loads): ranks key the MERGED byte
    // string (tiktoken's own byte_pair_merge, whole-pretoken fast
    // path), special tokens match whole before pretokenization (one
    // piece each; adjacent specials and the empty fragment between
    // them exercised by the %4==1 suffix). The vocab derives from the
    // same deterministic byte-merge re-train as bpe_tokens_bytes
    // (single bytes at ranks 0-255 + merge i at 256+i, the GPT-2
    // lineage layout) with the GPT-2 pretokenizer so the proven
    // lookahead-free oracle emulation carries over. PARTIAL oracle:
    // _aux/tiktoken_vocab exports (rank, tok) and DuckDB re-derives
    // the ENTIRE apply — split on the special, per-fragment
    // pretokenizer emulation, merged-string rank steps, whole-word
    // short-circuit, +1 per special.
    "bpe_tokens_tiktoken" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val merges = Bpe.fitMergesBytes(docs.select(bpeBytesText.as("_t2")),
        col("_t2"), numMerges = 40)
      val vocab = Bpe.tiktokenFromMerges(merges, specials = Seq("<|endoftext|>"))
      docs.select(col("doc_id"), Bpe.countTiktoken(tiktokenText, vocab).as("n_tik"))
        .orderBy("doc_id")
    },

    // L54 (links): href extraction in document order — the link-graph
    // side of web-corpus prep, composing with the L30 URL hygiene.
    // Page synthesized around the L30 synthetic URL (one absolute
    // full-surface link + one relative, attribute noise, case/space
    // variance). FULL oracle: identical construction + extraction.
    "html_links" -> { (s, dir) =>
      import org.apache.spark.sql.functions.posexplode
      val html = concat(
        lit("<html><body><a href=\""), synthUrl,
        lit("\">one</a><p>no links here</p><a class=\"x\" HREF = \"/about/"),
        col("doc_id").cast("string"), lit("\">two</a></body></html>"))
      documents(s, dir).toNative
        .select(col("doc_id"), TextFns.htmlLinks(html).as("_links"))
        .select(col("doc_id"), posexplode(col("_links")).as(Seq("pos", "link")))
        .select(col("doc_id"), col("pos").cast("int").as("pos"), col("link"))
        .orderBy("doc_id", "pos")
    },

    // L23: SemDeDup-style semantic near-dup — k-means partition (the
    // ann_ivf coarse quantizer, identical training) + within-cluster
    // exact-cosine pairs. PARTIAL oracle like dedup_embedding: the
    // clustering is assignment-deterministic but not SQL-expressible,
    // so Verify exports the within-cluster candidate pairs
    // (_aux/sem_cand) and DuckDB re-derives the verify + threshold with
    // list_cosine_similarity — the verify stage is driver-checked.
    "dedup_semantic" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      Dedup.semanticPairs(
          Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
          e, col("vec_id"), col("embedding"), tau = 0.4)
        .orderBy("id_a", "id_b")
    },

    // L6: exact ANN top-10 for 5 broadcast probe vectors — one scan,
    // map-side partial top-k (TopKByScore), O(partitions·probes·k) shuffle
    "ann_topk" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.topKBrute(e, col("vec_id"), col("embedding"), probes, k = 10)
        .orderBy("probe_id", "rank")
    },

    // L7: LSH-bucketed ANN, same shape. PARTIAL oracle: recall is
    // probabilistic (AnnSpec pins it vs brute force), so Verify exports
    // the candidate pairs (_aux/ann_lsh_cand) and DuckDB re-derives the
    // exact rerank (cosine + row_number top-k) — driver-checked.
    "ann_lsh" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.topKLsh(e, col("vec_id"), col("embedding"), probes, k = 10, dim = 64)
        .orderBy("probe_id", "rank")
    },

    // L7 (IVF variant): k-means inverted lists + nProbe search, exact
    // rerank. PARTIAL oracle like ann_lsh (_aux/ann_ivf_cand): centroid
    // training/assignment stays under AnnSpec, the rerank is
    // driver-checked in DuckDB.
    "ann_ivf" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.topKIvf(e, col("vec_id"), col("embedding"), probes, k = 10,
          dim = 64, nClusters = 16, nProbe = 4)
        .orderBy("probe_id", "rank")
    },

    // L7b (PQ variant): product-quantized ANN — the scan side carries m
    // small ints per vector, ADC-scores O(m) per pair, and only the
    // top-`rerank` candidates fetch true vectors for the exact top-k.
    // PARTIAL oracle like ann_lsh/ann_ivf (_aux/ann_pq_cand): codebook
    // training + ADC stay under AnnSpec's recall gate, the rerank is
    // driver-checked in DuckDB.
    "ann_pq" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.topKPq(e, col("vec_id"), col("embedding"), probes, k = 10,
          dim = 64, m = 8, codes = 16, rerank = 50)
        .orderBy("probe_id", "rank")
    },

    // L7c (persisted codes catalog): the compute-once / search-many PQ
    // flow — codes written ONCE (data first, params commit marker
    // last), searched from the catalog without re-encoding the corpus;
    // only the top-`rerank` fetch raw vectors. rerank=40 so the
    // candidate set is its OWN (not a byte-copy of ann_pq's). PARTIAL
    // oracle like ann_pq (_aux/ann_pqp_cand re-derives the identical
    // candidates from the identical deterministic train + encode —
    // AnnSpec's law pins catalog ≡ in-memory); rerank driver-checked.
    "ann_pq_persisted" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      val cb = Ann.trainPq(e, col("embedding"), dim = 64, m = 8, codes = 16)
      val cat = tempShardDir("graft_pqcat_", dir)
      Ann.writePqCodes(cb, e, col("vec_id"), col("embedding"), cat)
      Ann.searchPqCodes(s, cat, e, col("vec_id"), col("embedding"),
          probes, k = 10, rerank = 40)
        .orderBy("probe_id", "rank")
    },

    // L18 (exact twin): cross-corpus key overlap, exactly — the honest
    // tool Sketch.overlapEstimate approximates. One distinct-key
    // shuffle + one global agg; gates the semantics the sketch's
    // tolerance is measured against (SketchSpec pins estimate ≈ this).
    "overlap_exact" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      Sketch.overlapExact(
        docs.where(col("doc_id") % 2 === 0), TextFns.fingerprintMd5(col("text")),
        docs.where(col("doc_id") % 2 =!= 0), TextFns.fingerprintMd5(col("text")))
    },

    // L7b (IVF×PQ composition): the flagship big-corpus configuration —
    // coarse quantizer prunes which inverted lists are scanned (nProbe/
    // nClusters of the data), PQ codes make the scan itself cheap (ADC,
    // O(m) per pair), exact rerank on the top-`rerank` only. PARTIAL
    // oracle like the standalone halves (_aux/ann_ivfpq_cand): training
    // + ADC stay under AnnSpec's recall/composition gates, the rerank is
    // driver-checked in DuckDB.
    "ann_ivfpq" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.topKIvfPqWith(
          Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
          Ann.trainPq(e, col("embedding"), dim = 64, m = 8, codes = 16),
          e, col("vec_id"), col("embedding"), probes, k = 10,
          nProbe = 4, rerank = 50)
        .orderBy("probe_id", "rank")
    },

    // L12: multimodal metadata decode over binary payloads. Text bytes
    // stand in for media bytes; the deterministic fake codec makes the
    // gate SQL-oracle-able while the mapPartitions plumbing stays real.
    "multimodal_meta" -> { (s, dir) =>
      Media.decodeMeta(documents(s, dir).toNative, col("doc_id"), col("text"))
        .orderBy("media_id")
    },

    // L12 (real parser): HeaderDecoder against well-formed
    // PNG/JPEG/GIF/WEBP/BMP container bytes built deterministically
    // from each doc_id
    // (Media.syntheticContainer — dims are arithmetic in the id, so the
    // oracle states the expected metadata without parsing a byte). The
    // decode itself is the REAL byte-level parser, same mapPartitions
    // boundary a library-backed codec uses.
    "multimodal_real" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val payloads = documents(s, dir).toNative.select(col("doc_id"))
        .as[Long](Encoders.scalaLong)
        .mapPartitions(it => it.map(id =>
          Media.MediaRow(id, Media.syntheticContainer(id))))(Encoders.product[Media.MediaRow])
        .toDF()
      Media.decodeMeta(payloads, col("media_id"), col("content"), Media.HeaderDecoder)
        .orderBy("media_id")
    },

    // L48: perceptual-hash (pHash) near-dup image pairs — each id pair
    // (2k, 2k+1) carries the same syntheticContainer(k) payload, so
    // the deterministic pixel decode + DCT hash lands every planted
    // pair at hamming 0. PARTIAL oracle like dedup_simhash: Verify
    // exports the 64-bit signatures (_aux/phash_sigs) and DuckDB
    // re-derives banding + hot-bucket cap + join + hamming with
    // xor/bit_count; the DCT kernel itself is spec-gated.
    "multimodal_phash" -> { (s, dir) =>
      Media.phashPairs(phashPayloads(s, dir), col("media_id"), col("content"), maxHamming = 3)
        .select(col("id_a").as("media_id_a"), col("id_b").as("media_id_b"), col("hamming"))
        .orderBy("media_id_a", "media_id_b")
    },

    // L48 (real codec): the REAL PNG/BMP pixel decoder end-to-end —
    // ids 2k and 2k+1 render the SAME k-derived block pattern through
    // DIFFERENT format/colorType/scale paths (zlib-deflated PNG
    // gray/RGB/RGBA at 32 or 64 px, 24-bit BMP), so every planted
    // pair reaching hamming 0 certifies inflate + defilter + luma +
    // box-resize agree across codecs. FULL oracle: the expected pair
    // set is exactly the consecutive-id pairs — plain SQL over
    // documents, no byte parsed (the multimodal_real discipline).
    "multimodal_phash_real" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val payloads = spreadIds(s, documents(s, dir).toNative.select(col("doc_id")))
        .as[Long](Encoders.scalaLong)
        .mapPartitions(it => it.map(id =>
          Media.MediaRow(id, Media.syntheticPixelImage(id))))(Encoders.product[Media.MediaRow])
        .toDF()
      Media.phashPairs(payloads, col("media_id"), col("content"), maxHamming = 3,
          decoder = Media.RealPixelDecoder)
        .select(col("id_a").as("media_id_a"), col("id_b").as("media_id_b"), col("hamming"))
        .orderBy("media_id_a", "media_id_b")
    },

    // L12 (audio/video): AvHeaderDecoder against well-formed
    // WAV/FLAC/MP3/OGG/MP4 container bytes (Media.syntheticAvContainer —
    // every field is arithmetic in the doc_id, so the oracle states the
    // expected metadata without parsing a byte). Same real byte-level
    // parsing + mapPartitions boundary as multimodal_real, over the
    // audio/video half of a mixed crawl bucket.
    "multimodal_av" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val payloads = documents(s, dir).toNative.select(col("doc_id"))
        .as[Long](Encoders.scalaLong)
        .mapPartitions(it => it.map(id =>
          Media.MediaRow(id, Media.syntheticAvContainer(id))))(Encoders.product[Media.MediaRow])
        .toDF()
      Media.decodeAvMeta(payloads, col("media_id"), col("content"))
        .orderBy("media_id")
    },

    // L48b: audio CONTENT fingerprint — the AV near-dup leg (r19
    // verdict gap #3): real WAV/FLAC-verbatim PCM decode (CRC-8/16
    // validated) → 16×4 Goertzel band-activity bits → the shared
    // 64-bit pigeonhole banding. Consecutive ids render the SAME tone
    // pattern through DIFFERENT containers (WAV mono / FLAC / WAV
    // stereo / FLAC), so every pair reaching hamming 0 certifies the
    // container decode, mixdown, and spectral kernel agree across
    // codecs. FULL oracle: the expected pair set is exactly the
    // consecutive-id pairs — plain SQL, no byte parsed (the
    // multimodal_phash_real discipline). BOUNDED input (< 20000): clip
    // synthesis + 64 Goertzel passes per clip is linear in sf — the
    // 7b7484c flat-stress-cost rule; the oracle mirrors the cap.
    "multimodal_audio_fp" -> { (s, dir) =>
      import org.apache.spark.sql.Encoders
      val payloads = spreadIds(s, documents(s, dir).toNative.select(col("doc_id"))
          .where(col("doc_id") < 20000))
        .as[Long](Encoders.scalaLong)
        .mapPartitions(it => it.map(id =>
          Media.MediaRow(id, Audio.syntheticAudioClip(id))))(Encoders.product[Media.MediaRow])
        .toDF()
      Audio.fpPairs(payloads, col("media_id"), col("content"), maxHamming = 3)
        .select(col("id_a").as("media_id_a"), col("id_b").as("media_id_b"), col("hamming"))
        .orderBy("media_id_a", "media_id_b")
    },
  )

  /** PID-scoped temp dir for the gates that write files (synthetic
    * archives, pack shards, the MinHash index, the PQ codes catalog):
    * concurrent Bench/Verify JVMs over the same data dir can't race
    * each other's files, and a shutdown hook deletes the tree so
    * repeated JVM runs don't accumulate them in the tmpdir. */
  private val shardDirCleanups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def tempShardDir(prefix: String, dir: String): String = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"),
      prefix + Integer.toHexString(dir.hashCode) + "_p" + ProcessHandle.current().pid())
    val path = d.getAbsolutePath
    if (shardDirCleanups.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def del(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
          f.delete(): Unit
        }
        del(d)
      }))
    path
  }

  /** The corpus_prep flow, with (`near`) or without the MinHash
    * near-dedup stage. Its stage boundaries are `localCheckpoint`s,
    * taken in this order while the frame is built:
    *   - gate: the expensive narrow chain (regex tokenization +
    *     language scores) pruned to (doc_id, text) and materialized
    *     once — the dedup semi-join and decontam anti-join reference
    *     their input subtree TWICE each, so without the boundary the
    *     gates re-run 4× per action (12× across packByBudget's three
    *     passes; measured 10× slower end-to-end). On a real cluster
    *     use a reliable store for the boundary (the
    *     Dedup.duplicateClusters checkpointDir tradeoff).
    *   - (near only) exact dedup: materialized separately — near-dedup
    *     re-reads its input for shingling, banding, verify AND the
    *     final anti-join.
    *   - (near only) near-dedup keep: decontaminatedKeep references
    *     its corpus input TWICE (gram probe + anti-join), so an
    *     unmaterialized near-dedup tail would re-run its verify joins
    *     and keep anti-join per reference.
    *   - weights: dedup keep (+ near-dup keep) + decontamination +
    *     the narrow (id, weight) projection, materialized once —
    *     packByBudget drives three actions over its input.
    * The pack itself is the two-phase distributed prefix-sum shard
    * assignment. */
  private def corpusPrep(s: SparkSession, dir: String, near: Boolean): DataFrame = {
    val docs = documents(s, dir).toNative
    val bench = docs.where(col("doc_id") % 10 === 0)
    val corpus = docs.where(col("doc_id") % 10 =!= 0)
    val gated = InternalCaches.checkpoint(TextFns.withLangId(corpus, col("text"), "_lang")
      .where(TextFns.wordCount(col("text")) >= 8 && col("_lang") === "en")
      .select(col("doc_id"), col("text")))
    val deduped = Dedup.exactKeep(gated, col("text"), col("doc_id"))
    val kept =
      if (near) InternalCaches.checkpoint(Dedup.minhashKeep(
        InternalCaches.checkpoint(deduped), col("doc_id"), col("text"), 0.5))
      else deduped
    val weights = InternalCaches.checkpoint(Dedup.decontaminatedKeep(
        kept, col("doc_id"), col("text"), bench, col("text"), k = 5)
      .select(col("doc_id"), TextFns.tokenCountWs(col("text")).cast("long").as("n_tokens")))
    Pack.packByBudget(weights, col("doc_id"), col("n_tokens"), budget = 2000)
      .select(col("id").as("doc_id"), col("weight").as("n_tokens"), col("shard_id"))
      .orderBy("doc_id")
  }

  /** Deterministic intermediate stages backing the PARTIAL oracles of
    * the four queries whose full pipeline is not ANSI-SQL-expressible.
    * Verify writes each to a SIBLING of the query output dir
    * (`<outDir>_aux/<name>`) so the driver's per-query result glob
    * over outDir can never mistake the export tree for a query; the
    * corresponding [[oracleSql]] entry (with `{AUX}` substituted to
    * that absolute sibling path) `read_parquet`s it and re-derives the
    * downstream stage in DuckDB. Every export is a pure function of
    * the input tables (fixed seeds, deterministic hashing — trainIvf's
    * `orderBy(rand(seed))` sample included), so re-computing it here
    * yields exactly the candidates the query itself reranked/verified. */
  def auxExports: Map[String, (SparkSession, String) => DataFrame] = Map(
    // dedup_simhash upstream: per-doc 64-bit signatures.
    "simhash_sigs" -> { (s, dir) =>
      Dedup.simhashSignatures(documents(s, dir).toNative, col("doc_id"), col("text"))
    },
    // dsir_weights upstream: the exploded (doc_id, bucket) gram stream.
    "dsir_occ" -> { (s, dir) =>
      Dsir.occurrences(documents(s, dir).toNative, col("doc_id"), col("text"), 10000)
    },
    // multimodal_phash upstream: per-payload perceptual-hash sigs.
    "phash_sigs" -> { (s, dir) =>
      Media.phashSignatures(phashPayloads(s, dir), col("media_id"), col("content"))
    },
    // pca_project upstream: the fitted basis (identical deterministic
    // re-train — same files, same splits, same tree combine).
    "pca_model" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      graft.operators.Pca.toFrame(
        graft.operators.Pca.train(e, col("embedding"), dim = 64, k = 8), s)
    },
    // quality_lr upstream: the trained weights (identical
    // deterministic re-train — same reads, same layout, pinned
    // partition-index combine order).
    "lr_model" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val labeled = docs.withColumn("_label",
        TextFns.gopherFlags(col("text"), minWords = 25, minStopwords = 1)
          .getField("keep"))
      LogReg.toFrame(LogReg.train(labeled, col("text"), col("_label")), s)
    },
    // quality_lr_ngram upstream: the micro-quantized model table
    // (identical deterministic re-train — same reads, same layout,
    // pinned partition-index combine order, fixed proximal updates).
    "ngram_lr_model" -> { (s, dir) =>
      val docs = documents(s, dir).toNative
      val labeled = docs.withColumn("_label",
        TextFns.gopherFlags(col("text"), minWords = 25, minStopwords = 1)
          .getField("keep"))
      NgramLR.toFrame(NgramLR.train(
        labeled.where(pmod(col("doc_id"), lit(4)) === 1 && col("doc_id") < 20000),
        col("text"), col("_label"), iters = 40, md5Hash = true), s)
    },

    // text_langid_trained upstream: the micro-quantized weight tensor
    // (identical deterministic re-train — same fixture seed, pinned
    // 8-slice layout, partition-index combine order).
    "langlr_model" -> { (s, dir) =>
      LangLR.toFrame(LangLR.train(LangLR.fixtures(s), col("text"), col("label"),
        buckets = LangLrBuckets, md5Hash = true), s)
    },

    // bpe_tokens upstream: the trained merges (identical deterministic
    // re-train — same word counts, same most-frequent/lexicographic
    // selection; order of the collected word rows cannot matter, the
    // selection is by (count, pair)).
    "bpe_merges" -> { (s, dir) =>
      Bpe.toFrame(Bpe.fitMerges(documents(s, dir).toNative, col("text"), numMerges = 12), s)
    },
    // bpe_tokens_bytes upstream: the byte-level merges, same
    // deterministic re-train contract over the augmented text.
    "bpe_bytes_merges" -> { (s, dir) =>
      Bpe.toFrame(Bpe.fitMergesBytes(
        documents(s, dir).toNative.select(bpeBytesText.as("_t2")),
        col("_t2"), numMerges = 40), s)
    },
    // bpe_tokens_tiktoken upstream: the derived (rank, tok) vocab from
    // the identical re-train (single bytes 0-255 + merges at 256+i).
    "tiktoken_vocab" -> { (s, dir) =>
      import s.implicits._
      val merges = Bpe.fitMergesBytes(
        documents(s, dir).toNative.select(bpeBytesText.as("_t2")),
        col("_t2"), numMerges = 40)
      Bpe.tiktokenFromMerges(merges).tokensByRank.zipWithIndex
        .map { case (t, r) => (r, t) }.toDF("rank", "tok")
    },
    // dedup_embedding upstream: sign-LSH candidate pairs (pre-verify).
    "emb_cand" -> { (s, dir) =>
      Dedup.embeddingCandidates(embeddings(s, dir).toNative,
        col("vec_id"), col("embedding"), dim = 64)
    },
    // dedup_semantic upstream: within-cluster candidate pairs from the
    // identically-trained coarse quantizer (pre-verify).
    "sem_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      Dedup.semanticCandidates(
        Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
        e, col("vec_id"), col("embedding"))
    },
    // sample_diverse upstream: the (id, cid) cell assignment from the
    // identically-trained coarse quantizer (pre-draw).
    "div_assign" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      Ann.assignClusters(
        Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
        e, col("vec_id"), col("embedding"))
    },
    // ann_lsh upstream: distinct (probe_id, neighbor_id) candidates.
    "ann_lsh_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.lshCandidates(e, col("vec_id"), col("embedding"), probes, dim = 64)
    },
    // ann_ivf upstream: same, from the identically-trained quantizer.
    "ann_ivf_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.ivfCandidates(
        Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
        e, col("vec_id"), col("embedding"), probes, nProbe = 4)
    },
    // ann_pq upstream: the top-`rerank` ADC candidates from the
    // identically-trained product quantizer.
    "ann_pq_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.pqCandidates(
        Ann.trainPq(e, col("embedding"), dim = 64, m = 8, codes = 16),
        e, col("vec_id"), col("embedding"), probes, rerank = 50)
    },
    // ann_pq_persisted upstream: the same deterministic train + encode
    // produces the identical candidate set the catalog search reranks
    // (AnnSpec pins catalog-read codes ≡ freshly-encoded codes).
    "ann_pqp_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.pqCandidates(
        Ann.trainPq(e, col("embedding"), dim = 64, m = 8, codes = 16),
        e, col("vec_id"), col("embedding"), probes, rerank = 40)
    },
    // ann_ivfpq upstream: the composed path's ADC candidates from the
    // identically-trained coarse + product quantizers.
    "ann_ivfpq_cand" -> { (s, dir) =>
      val e = embeddings(s, dir).toNative
      val probes = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("probe_id"), col("embedding").as("probe_vec"))
      Ann.ivfPqCandidates(
        Ann.trainIvf(e, col("embedding"), dim = 64, nClusters = 16),
        Ann.trainPq(e, col("embedding"), dim = 64, m = 8, codes = 16),
        e, col("vec_id"), col("embedding"), probes, nProbe = 4, rerank = 50)
    },
  )

  /** The shared exact-rerank oracle over an exported ANN candidate set:
    * cosine against the same probes + row_number top-k with the
    * TopKByScore tie-break (sim desc, neighbor_id asc). One definition
    * for ann_lsh and ann_ivf, which differ only in where their
    * candidates came from. */
  private def annRerankSql(candExport: String): String =
    s"""WITH cand AS (SELECT probe_id, neighbor_id FROM '{AUX}/$candExport/*.parquet'),
       |probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
       |           FROM embeddings WHERE vec_id < 5),
       |sims AS (SELECT c.probe_id, c.neighbor_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6) AS sim
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
       |              JOIN probes p ON p.probe_id = c.probe_id),
       |ranked AS (SELECT probe_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM sims)
       |SELECT probe_id, neighbor_id, sim, rank FROM ranked
       |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  /** Which aux export each partial oracle reads — Verify uses this to
    * DROP the oracle entry (degrading that query to the driver's
    * rows-only check) when the export itself failed to write, instead
    * of emitting SQL that points at missing parquet and crashes the
    * whole DuckDB compare loop. */
  def auxBackedOracles: Map[String, String] = Map(
    "dedup_simhash"   -> "simhash_sigs",
    "multimodal_phash" -> "phash_sigs",
    "dsir_weights"    -> "dsir_occ",
    "pca_project"     -> "pca_model",
    "quality_lr"      -> "lr_model",
    "quality_lr_ngram" -> "ngram_lr_model",
    "text_langid_trained" -> "langlr_model",
    "bpe_tokens"      -> "bpe_merges",
    "bpe_tokens_bytes" -> "bpe_bytes_merges",
    "bpe_tokens_tiktoken" -> "tiktoken_vocab",
    "dedup_embedding" -> "emb_cand",
    "dedup_semantic"  -> "sem_cand",
    "sample_diverse"  -> "div_assign",
    "ann_lsh"         -> "ann_lsh_cand",
    "ann_ivf"         -> "ann_ivf_cand",
    "ann_pq"          -> "ann_pq_cand",
    "ann_pq_persisted" -> "ann_pqp_cand",
    "ann_ivfpq"       -> "ann_ivfpq_cand",
  )

  /** The bpe_tokens partial oracle: re-derive the ENTIRE BPE apply in
    * DuckDB from the exported merges — every distinct word seeds as
    * its characters, then `BpeUnrollSteps` identical chained CTEs each
    * apply ONE merge (the lowest-rank adjacent pair, leftmost on ties
    * — `ORDER BY rank, i LIMIT 1`, exactly the kernel's left-to-right
    * strict-< scan), and per-doc counts sum. The unroll bound must be
    * ≥ max merges per word = longest word − 1 (synthetic corpus max
    * word length is 8; 24 gives 3× headroom — an under-unroll would
    * surface as a hash mismatch, never a silent pass, because the
    * Spark side merges exhaustively). */
  private val BpeUnrollSteps = 24

  /** The bpe_tokens_bytes augmented text: corpus text plus a planted
    * suffix (by doc_id % 4) that exercises every pretokenizer and
    * byte-expansion path — mirrored character-for-character in
    * [[bpeBytesOracleSql]]. */
  private def bpeBytesText: org.apache.spark.sql.Column = {
    val m = pmod(col("doc_id"), lit(4))
    concat(col("text"),
      when(m === 0, lit(" it's No  42\n\nEnd…  "))
        .when(m === 1, lit("  'since naïve café  !!"))
        .when(m === 2, lit("\tTab 12 ±3 日本語!!"))
        .otherwise(lit(" we'll 𝄞 x  y z's  ")))
  }

  /** The text_langid oracle, GENERATED from the exact tables the
    * kernel decision uses ([[TextFns.stopwordFamilies]] /
    * [[TextFns.scriptLabels]] / [[graft.hashing.LangSigUtil.ScriptRanges]])
    * so the 19-family + 9-script surface can never drift from its SQL
    * mirror: per-family distinct-hit sums (list_contains per probe
    * word), per-script char counts (RE2 strip over the same BMP
    * ranges), script chain first, then the family argmax with
    * earlier-family tie priority. */
  private def textLangidOracleSql: String = {
    val fams = TextFns.stopwordFamilies
    val famCols = fams.zipWithIndex.map { case ((_, words), i) =>
      words.map(w => s"list_contains(toks,'$w')::INT").mkString(" + ") + s" AS f$i"
    }.mkString(",\n  ")
    val scriptCols = graft.hashing.LangSigUtil.ScriptRanges.map {
      case (name, lo, hi) =>
        f"length(regexp_replace(text, '[^\\x{$lo%04x}-\\x{$hi%04x}]', '', 'g')) AS s_$name%s"
    }.mkString(",\n  ")
    val scriptCase = TextFns.scriptLabels.map { case (label, slot) =>
      val cnt = if (slot < 0) "cjk"
        else "s_" + graft.hashing.LangSigUtil.ScriptRanges(slot)._1
      s"WHEN $cnt > 0 THEN '$label'"
    }.mkString("\n  ")
    val famList = fams.indices.map(i => s"f$i").mkString("[", ", ", "]")
    val codeList = fams.map(f => s"'${f._1}'").mkString("[", ", ", "]")
    s"""WITH t AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents),
s AS (SELECT doc_id,
  $famCols,
  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
  $scriptCols
FROM t),
fl AS (SELECT *, $famList AS fv FROM s)
SELECT doc_id, CASE
  $scriptCase
  WHEN list_max(fv) > 0 THEN ($codeList)[list_position(fv, list_max(fv))]
  ELSE 'und' END AS lang_pred
FROM fl ORDER BY doc_id"""
  }

  /** Bucket count of the text_langid_trained gate's model — shared by
    * the gate, the langlr_model aux export, and the generated oracle
    * so the three can never disagree. */
  private val LangLrBuckets = 2048

  /** The text_langid_trained oracle, GENERATED from the same tables
    * and layout constants the apply uses: the md5 bucket draw at
    * B = [[LangLrBuckets]] (the dsir_weights_md5 chain), per-class
    * PRESENCE sums over distinct buckets, the RE2 script-count
    * mirrors ([[graft.hashing.LangSigUtil.ScriptRanges]] order then
    * CJK — the exported tensor stores their weights at i = B+1+j),
    * the all-integer per-class z, and the argmax with the documented
    * tie order (z DESC, class index ASC — Spark's `array_position`
    * first-max). NULL text mirrors to ('und', NULL). */
  private def langLrTrainedOracleSql: String = {
    val b = LangLrBuckets
    val scriptCells = (graft.hashing.LangSigUtil.ScriptRanges.map {
      case (_, lo, hi) =>
        f"length(regexp_replace(text, '[^\\x{$lo%04x}-\\x{$hi%04x}]', '', 'g'))"
    } :+ "length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))")
      .mkString("[", ", ", "]")
    s"""WITH m AS (SELECT c, label, i, w_micro FROM '{AUX}/langlr_model/*.parquet'),
cls AS (SELECT DISTINCT c, label FROM m),
w AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents WHERE text IS NOT NULL),
g AS (SELECT doc_id, unnest(list_concat(ws, CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END)) AS gram FROM w),
occ AS (SELECT DISTINCT doc_id, CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % $b AS b FROM g),
bag AS (SELECT occ.doc_id, m.c, CAST(sum(m.w_micro) AS BIGINT) AS s FROM occ JOIN m ON m.i = occ.b GROUP BY 1, 2),
sc AS (SELECT doc_id, $scriptCells AS cnts FROM documents WHERE text IS NOT NULL),
scd AS (SELECT s.doc_id, m.c, CAST(sum(m.w_micro * s.cnts[m.i - $b]) AS BIGINT) AS sd
  FROM sc s JOIN m ON m.i >= ${b + 1} AND m.i <= ${b + 1 + graft.hashing.LangSigUtil.ScriptRanges.length} GROUP BY 1, 2),
bias AS (SELECT c, w_micro AS bz FROM m WHERE i = $b),
zz AS (SELECT scd.doc_id, cls.c, cls.label,
    CAST(bias.bz + coalesce(bag.s, 0) + scd.sd AS BIGINT) AS z
  FROM scd JOIN cls ON cls.c = scd.c
  JOIN bias ON bias.c = cls.c
  LEFT JOIN bag ON bag.doc_id = scd.doc_id AND bag.c = cls.c),
r AS (SELECT doc_id, label, z, row_number() OVER (PARTITION BY doc_id ORDER BY z DESC, c ASC) AS rn FROM zz)
SELECT d.doc_id, coalesce(r.label, 'und') AS lang, r.z AS z_micro
FROM documents d LEFT JOIN (SELECT * FROM r WHERE rn = 1) r USING (doc_id)
ORDER BY d.doc_id"""
  }

  /** The bpe_tokens_tiktoken augmented text: the byte-gate suffixes
    * with `<|endoftext|>` specials planted mid-text (%4==0) and
    * ADJACENT (%4==1 — the empty fragment between them must
    * pretokenize to nothing), mirrored in [[tiktokenOracleSql]]. */
  private def tiktokenText: org.apache.spark.sql.Column = {
    val m = pmod(col("doc_id"), lit(4))
    concat(col("text"),
      when(m === 0, lit(" it's No  42<|endoftext|>End…  "))
        .when(m === 1, lit("  'since naïve café<|endoftext|><|endoftext|> !!"))
        .when(m === 2, lit("\tTab 12 ±3 日本語!!"))
        .otherwise(lit(" we'll 𝄞 x  y z's  ")))
  }

  /** The bpe_tokens_tiktoken partial oracle: split on the special
    * token FIRST (each fragment then pretokenizes independently — the
    * kernel's opaque `Matcher.region` bounds behave identically), run
    * the [[bpeBytesOracleSql]] pretokenizer emulation per fragment,
    * then per distinct word: expand to mapped bytes and apply 24
    * unrolled MERGED-STRING rank steps (`mg.tok = toks[i] ||
    * toks[i+1]`, lowest rank then leftmost — tiktoken's
    * byte_pair_merge, not the pair-rank walk) with the whole-word
    * vocab short-circuit; finally add one piece per special. */
  private def tiktokenOracleSql: String = {
    def step(i: Int): String =
      s""",
         |s$i AS (SELECT word, CASE WHEN best_i IS NULL THEN toks
         |  ELSE toks[1:best_i-1] || [toks[best_i] || toks[best_i+1]] || toks[best_i+2:] END AS toks
         |  FROM (SELECT word, toks,
         |    (SELECT i FROM unnest(range(1, len(toks))) AS t(i)
         |      JOIN mg ON mg.tok = toks[i] || toks[i+1]
         |      ORDER BY mg.rank, i LIMIT 1) AS best_i FROM s${i - 1}))""".stripMargin
    val ctr = "('''s','''t','''re','''ve','''m','''ll','''d')"
    s"""WITH mg AS (SELECT rank, tok FROM '{AUX}/tiktoken_vocab/*.parquet'),
       |h AS (SELECT doc_id, text || CASE CAST(doc_id % 4 AS INTEGER)
       |  WHEN 0 THEN ' it''s No  42<|endoftext|>End…  '
       |  WHEN 1 THEN '  ''since naïve café<|endoftext|><|endoftext|> !!'
       |  WHEN 2 THEN chr(9) || 'Tab 12 ±3 日本語!!'
       |  ELSE ' we''ll 𝄞 x  y z''s  ' END AS t2 FROM documents),
       |hs AS (SELECT doc_id, string_split(t2, '<|endoftext|>') AS frags FROM h),
       |sp AS (SELECT doc_id, CAST(len(frags) - 1 AS BIGINT) AS nsp FROM hs),
       |hf AS (SELECT doc_id, fx.i AS fi, frags[fx.i] AS frag FROM hs, unnest(range(1, len(frags) + 1)) AS fx(i)),
       |pa AS (SELECT doc_id, fi, regexp_extract_all(frag, '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+', 0) AS toks FROM hf),
       |tt AS (SELECT doc_id, fi, i.i AS pos, toks[i.i] AS tok FROM pa, unnest(range(1, len(toks) + 1)) AS i(i)),
       |t1 AS (SELECT doc_id, fi, pos, tok, regexp_matches(tok, '^\\s+$$') AS is_ws,
       |  substr(tok, length(tok), 1) AS last_ch FROM tt),
       |t2c AS (SELECT doc_id, fi, pos, tok, is_ws, last_ch,
       |  lead(tok) OVER w AS nxt,
       |  coalesce(lag(is_ws) OVER w, false) AS prv_ws,
       |  lag(last_ch) OVER w AS prv_last
       |  FROM t1 WINDOW w AS (PARTITION BY doc_id, fi ORDER BY pos)),
       |t3 AS (SELECT doc_id, fi, pos, tok, is_ws, last_ch, nxt, prv_ws, prv_last,
       |  (tok IN $ctr AND prv_ws AND prv_last = ' ') AS ac FROM t2c),
       |t4 AS (SELECT doc_id, fi, pos, tok, is_ws, last_ch, nxt, prv_ws, prv_last, ac,
       |  coalesce(lag(ac) OVER (PARTITION BY doc_id, fi ORDER BY pos), false) AS prv_ac FROM t3),
       |te AS (SELECT doc_id, CASE
       |  WHEN is_ws AND nxt IS NOT NULL THEN
       |    [substr(tok, 1, length(tok) - 1),
       |     CASE WHEN last_ch = ' ' THEN (CASE WHEN nxt IN $ctr THEN ' ''' ELSE NULL END) ELSE last_ch END]
       |  WHEN prv_ac AND regexp_matches(tok, '^\\p{L}+$$') THEN [CAST(NULL AS VARCHAR)]
       |  WHEN ac THEN [substr(tok, 2) || (CASE WHEN coalesce(regexp_matches(nxt, '^\\p{L}+$$'), false) THEN nxt ELSE '' END)]
       |  WHEN prv_ws AND prv_last = ' ' THEN [' ' || tok]
       |  ELSE [tok] END AS emitted FROM t4),
       |words AS (SELECT doc_id, unnest(list_filter(emitted, x -> x IS NOT NULL AND x <> '')) AS word FROM te),
       |ch AS (SELECT word, regexp_extract_all(word, '.', 0, 's') AS chars FROM (SELECT DISTINCT word FROM words)),
       |cb AS (SELECT word, flatten(list_transform(chars, c ->
       |  CASE WHEN unicode(c) < 128 THEN [unicode(c)]
       |       WHEN unicode(c) < 2048 THEN [192 + unicode(c) // 64, 128 + unicode(c) % 64]
       |       WHEN unicode(c) < 65536 THEN [224 + unicode(c) // 4096, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64]
       |       ELSE [240 + unicode(c) // 262144, 128 + (unicode(c) // 4096) % 64, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64] END)) AS bts FROM ch),
       |s0 AS (SELECT word, list_transform(bts, b ->
       |  CASE WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172) OR (b BETWEEN 174 AND 255) THEN chr(b)
       |       WHEN b <= 32 THEN chr(256 + b)
       |       WHEN b <= 160 THEN chr(256 + 33 + b - 127)
       |       ELSE chr(323) END) AS toks FROM cb),
       |w0 AS (SELECT word, (array_to_string(toks, '') IN (SELECT tok FROM mg)) AS whole FROM s0)${(1 to BpeUnrollSteps).map(step).mkString},
       |wl AS (SELECT s.word, CAST(CASE WHEN w.whole THEN 1 ELSE len(s.toks) END AS BIGINT) AS n
       |  FROM s$BpeUnrollSteps s JOIN w0 w USING (word)),
       |agg AS (SELECT w.doc_id, CAST(sum(wl.n) AS BIGINT) AS nw FROM words w JOIN wl USING (word) GROUP BY 1)
       |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL
       |  ELSE coalesce(a.nw, 0) + coalesce(s.nsp, 0) END AS n_tik
       |FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN sp s USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** The bpe_tokens_bytes partial oracle: re-derive the ENTIRE
    * byte-level apply in DuckDB from the exported merges. RE2 has no
    * lookahead, so the GPT-2 pretokenizer's `\s+(?!\S)` branch is
    * EMULATED exactly: pass A tokenizes with a greedy `\s+` fallback
    * (identical earlier branches — a whitespace run only reaches `\s+`
    * when the single-space `? `-prefix branches can't take it), then a
    * window pass splits each non-trailing whitespace run into
    * `run[:-1]` plus its last char `c` bound forward: `c = ' '` merges
    * into the next token (` word` / ` 42` / ` !!`), EXCEPT a
    * contraction, which re-splits as ` '` + tail — and the tail, being
    * letters, absorbs an immediately-following pure-letter token
    * (" 'since" → ` '` + `since`, the one-step ripple; letters after
    * letters can't extend further because pass-A letter runs are
    * maximal). `c ≠ ' '` (tab/newline) stays its own token. Each
    * distinct word then expands to UTF-8 bytes per code point
    * (arithmetic 1–4-byte encoding), lifts through the GPT-2 byte map
    * (printable bytes identity; the 68 others to 256+n ascending), and
    * runs the same 24 unrolled lowest-rank-leftmost merge steps as the
    * char-level oracle. */
  private def bpeBytesOracleSql: String = {
    def step(i: Int): String =
      s""",
         |s$i AS (SELECT word, CASE WHEN best_i IS NULL THEN toks
         |  ELSE toks[1:best_i-1] || [toks[best_i] || toks[best_i+1]] || toks[best_i+2:] END AS toks
         |  FROM (SELECT word, toks,
         |    (SELECT i FROM unnest(range(1, len(toks))) AS t(i)
         |      JOIN mg ON mg.l = toks[i] AND mg.r = toks[i+1]
         |      ORDER BY mg.rank, i LIMIT 1) AS best_i FROM s${i - 1}))""".stripMargin
    val ctr = "('''s','''t','''re','''ve','''m','''ll','''d')"
    s"""WITH mg AS (SELECT rank, "left" AS l, "right" AS r FROM '{AUX}/bpe_bytes_merges/*.parquet'),
       |h AS (SELECT doc_id, text || CASE CAST(doc_id % 4 AS INTEGER)
       |  WHEN 0 THEN ' it''s No  42' || chr(10) || chr(10) || 'End…  '
       |  WHEN 1 THEN '  ''since naïve café  !!'
       |  WHEN 2 THEN chr(9) || 'Tab 12 ±3 日本語!!'
       |  ELSE ' we''ll 𝄞 x  y z''s  ' END AS t2 FROM documents),
       |pa AS (SELECT doc_id, regexp_extract_all(t2, '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+', 0) AS toks FROM h),
       |tt AS (SELECT doc_id, i.i AS pos, toks[i.i] AS tok FROM pa, unnest(range(1, len(toks) + 1)) AS i(i)),
       |t1 AS (SELECT doc_id, pos, tok, regexp_matches(tok, '^\\s+$$') AS is_ws,
       |  substr(tok, length(tok), 1) AS last_ch FROM tt),
       |t2c AS (SELECT doc_id, pos, tok, is_ws, last_ch,
       |  lead(tok) OVER w AS nxt,
       |  coalesce(lag(is_ws) OVER w, false) AS prv_ws,
       |  lag(last_ch) OVER w AS prv_last
       |  FROM t1 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |t3 AS (SELECT doc_id, pos, tok, is_ws, last_ch, nxt, prv_ws, prv_last,
       |  (tok IN $ctr AND prv_ws AND prv_last = ' ') AS ac FROM t2c),
       |t4 AS (SELECT doc_id, pos, tok, is_ws, last_ch, nxt, prv_ws, prv_last, ac,
       |  coalesce(lag(ac) OVER (PARTITION BY doc_id ORDER BY pos), false) AS prv_ac FROM t3),
       |te AS (SELECT doc_id, CASE
       |  WHEN is_ws AND nxt IS NOT NULL THEN
       |    [substr(tok, 1, length(tok) - 1),
       |     CASE WHEN last_ch = ' ' THEN (CASE WHEN nxt IN $ctr THEN ' ''' ELSE NULL END) ELSE last_ch END]
       |  WHEN prv_ac AND regexp_matches(tok, '^\\p{L}+$$') THEN [CAST(NULL AS VARCHAR)]
       |  WHEN ac THEN [substr(tok, 2) || (CASE WHEN coalesce(regexp_matches(nxt, '^\\p{L}+$$'), false) THEN nxt ELSE '' END)]
       |  WHEN prv_ws AND prv_last = ' ' THEN [' ' || tok]
       |  ELSE [tok] END AS emitted FROM t4),
       |words AS (SELECT doc_id, unnest(list_filter(emitted, x -> x IS NOT NULL AND x <> '')) AS word FROM te),
       |ch AS (SELECT word, regexp_extract_all(word, '.', 0, 's') AS chars FROM (SELECT DISTINCT word FROM words)),
       |cb AS (SELECT word, flatten(list_transform(chars, c ->
       |  CASE WHEN unicode(c) < 128 THEN [unicode(c)]
       |       WHEN unicode(c) < 2048 THEN [192 + unicode(c) // 64, 128 + unicode(c) % 64]
       |       WHEN unicode(c) < 65536 THEN [224 + unicode(c) // 4096, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64]
       |       ELSE [240 + unicode(c) // 262144, 128 + (unicode(c) // 4096) % 64, 128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64] END)) AS bts FROM ch),
       |s0 AS (SELECT word, list_transform(bts, b ->
       |  CASE WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172) OR (b BETWEEN 174 AND 255) THEN chr(b)
       |       WHEN b <= 32 THEN chr(256 + b)
       |       WHEN b <= 160 THEN chr(256 + 33 + b - 127)
       |       ELSE chr(323) END) AS toks FROM cb)${(1 to BpeUnrollSteps).map(step).mkString},
       |wl AS (SELECT word, CAST(len(toks) AS BIGINT) AS n FROM s$BpeUnrollSteps),
       |agg AS (SELECT w.doc_id, CAST(sum(wl.n) AS BIGINT) AS n_bpe_bytes FROM words w JOIN wl USING (word) GROUP BY 1)
       |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.n_bpe_bytes, 0) END AS n_bpe_bytes
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  private def bpeOracleSql: String = {
    def step(i: Int): String =
      s""",
         |s$i AS (SELECT word, CASE WHEN best_i IS NULL THEN toks
         |  ELSE toks[1:best_i-1] || [toks[best_i] || toks[best_i+1]] || toks[best_i+2:] END AS toks
         |  FROM (SELECT word, toks,
         |    (SELECT i FROM unnest(range(1, len(toks))) AS t(i)
         |      JOIN mg ON mg.l = toks[i] AND mg.r = toks[i+1]
         |      ORDER BY mg.rank, i LIMIT 1) AS best_i FROM s${i - 1}))""".stripMargin
    s"""WITH mg AS (SELECT rank, "left" AS l, "right" AS r FROM '{AUX}/bpe_merges/*.parquet'),
       |dw AS (SELECT doc_id, unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '), t -> t <> '')) AS word FROM documents),
       |s0 AS (SELECT word, string_split(word, '') AS toks FROM (SELECT DISTINCT word FROM dw))${(1 to BpeUnrollSteps).map(step).mkString},
       |wl AS (SELECT word, CAST(len(toks) AS BIGINT) AS n FROM s$BpeUnrollSteps),
       |agg AS (SELECT dw.doc_id, CAST(sum(wl.n) AS BIGINT) AS n_bpe FROM dw JOIN wl USING (word) GROUP BY 1)
       |SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(a.n_bpe, 0) END AS n_bpe
       |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  /** DuckDB-equivalent SQL per query (column names must match exactly).
    * `{AUX}` is substituted by Verify with the absolute aux-export
    * sibling dir, so partial oracles can read the [[auxExports]]
    * parquet. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_revenue,
        |  avg(l_quantity) AS avg_qty,
        |  max(l_extendedprice) AS max_price,
        |  min(l_extendedprice) AS min_price,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q2_filter_sort" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
        |FROM lineitem
        |WHERE l_quantity > 30 AND l_discount <= 0.05
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q3_join_agg" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q4_left_join" ->
      """SELECT c_custkey,
        |  count(o_orderkey) AS n_orders,
        |  CAST(sum(CAST(round(coalesce(o_totalprice, 0.0) * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q5_multi_join" ->
      """SELECT r_name,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q6_conditional" ->
      """SELECT CASE WHEN o_totalprice > 350000.0 THEN 'high'
        |            WHEN o_totalprice > 150000.0 THEN 'mid'
        |            ELSE 'low' END AS bucket,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_string_ops" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  replace(p_brand, '#', '-') AS brand_dash,
        |  p_type LIKE '%M' AS ends_m,
        |  lower(trim(p_name)) AS name_norm
        |FROM part
        |WHERE contains(p_type, 'AN') AND NOT starts_with(p_name, 'z')
        |ORDER BY p_partkey""".stripMargin,

    "q8_date_ops" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS oyear,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS omonth,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q9_window" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INTEGER) AS rn
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        row_number() OVER (PARTITION BY c_mktsegment
        |                           ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer) t
        |WHERE rn <= 5 ORDER BY c_mktsegment, rn""".stripMargin,

    // percent_rank = (rank-1)/(n-1), an exact integer ratio; ntile
    // bucket-boundary convention (first rows%n buckets +1) is the SQL
    // standard in both engines.
    "q20_window_ranks" ->
      """SELECT c_mktsegment, c_custkey,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "q10_null_handling" ->
      """SELECT event_type,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
        |  sum(coalesce(value, 0.0)) AS sum_value_filled,
        |  avg(value) AS avg_value,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11_distinct" ->
      """SELECT DISTINCT c_nationkey, c_mktsegment
        |FROM customer ORDER BY 1, 2""".stripMargin,

    "q12_concat" ->
      """SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty
        |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'A'
        |      UNION ALL
        |      SELECT * FROM lineitem WHERE l_returnflag = 'R') t
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_cast_schema" ->
      """SELECT p_partkey AS partkey, p_name AS pname,
        |  p_retailprice AS retail, CAST(p_size AS BIGINT) AS size_l
        |FROM part ORDER BY 1""".stripMargin,

    "q14_agg_global" ->
      """SELECT sum(l_quantity) AS sum_qty,
        |  (CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0)
        |    / CAST(count(*) AS DOUBLE) AS avg_price,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
        |FROM lineitem""".stripMargin,

    "q15_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1""".stripMargin,

    "q16_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY 1""".stripMargin,

    "q17_list_ops" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  embedding[1] AS first_val,
        |  list_min(embedding) AS vmin,
        |  list_max(embedding) AS vmax,
        |  list_contains(embedding, 0.0) AS has_zero
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q18_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type,
        |  count(*) AS n_events,
        |  sum(coalesce(value, 0.0)) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // make_timestamp (NOT to_timestamp, which yields TIMESTAMPTZ and
    // would shift the naive-ts comparison under a non-UTC DuckDB
    // session): all arithmetic stays naive, so the oracle's verdict is
    // independent of the driver's TimeZone setting.
    "q19_sliding_window" ->
      """WITH off AS (SELECT unnest([0, 1]) AS k),
        |e AS (SELECT event_type, value, ts,
        |        make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) * 1000000) AS b
        |      FROM events),
        |w AS (SELECT event_type, value, b - to_seconds(k * 1800) AS ws FROM e, off
        |      WHERE ts >= b - to_seconds(k * 1800)
        |        AND ts < b - to_seconds(k * 1800) + INTERVAL 1 HOUR)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
        |  count(*) AS n_events, sum(coalesce(value, 0.0)) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // §2.5 gates. dedup_simhash / dedup_embedding / ann_lsh / ann_ivf
    // use PARTIAL oracles over the _aux exports (see [[auxExports]]):
    // the non-SQL-expressible hash kernels stay under their specs, and
    // everything downstream is re-derived in DuckDB.
    "dedup_simhash" ->
      s"""WITH sig AS (SELECT doc_id, sig FROM '{AUX}/simhash_sigs/*.parquet'),
         |banded AS (SELECT doc_id, sig, c.chunk, (sig >> (c.chunk * 16)) & 65535 AS ckey
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk) c),
         |capped AS (SELECT * FROM
         |    (SELECT *, count(*) OVER (PARTITION BY chunk, ckey) AS bsz FROM banded)
         |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |  FROM capped a JOIN capped b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         |SELECT doc_id_a, doc_id_b, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,

    // L48 pHash pairs: identical banding re-derivation as dedup_simhash
    // from the exported 64-bit perceptual hashes.
    "multimodal_phash" ->
      s"""WITH sig AS (SELECT doc_id, sig FROM '{AUX}/phash_sigs/*.parquet'),
         |banded AS (SELECT doc_id, sig, c.chunk, (sig >> (c.chunk * 16)) & 65535 AS ckey
         |  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS chunk) c),
         |capped AS (SELECT * FROM
         |    (SELECT *, count(*) OVER (PARTITION BY chunk, ckey) AS bsz FROM banded)
         |  WHERE bsz <= ${Dedup.DefaultMaxBucket}),
         |pairs AS (SELECT DISTINCT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
         |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
         |  FROM capped a JOIN capped b
         |    ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
         |SELECT media_id_a, media_id_b, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,

    // L48 (real codec) FULL oracle: ids 2k / 2k+1 carry the same
    // k-derived pixels through different real codec paths — deflated
    // PNG gray/RGB/RGBA, 24-bit BMP, and baseline JPEG gray + YCbCr
    // 4:2:0 (flat-block patterns with all-ones quantization cross the
    // lossy boundary exactly) — and distinct k give independent 64-bit
    // block patterns (cross-pair hamming ≤ 3 has probability ~2⁻⁴⁸ per
    // pair), so the expected output is EXACTLY the consecutive-id
    // pairs at hamming 0, stated without parsing a byte.
    "multimodal_phash_real" ->
      """SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0
        |ORDER BY 1, 2""".stripMargin,

    // L48b audio fingerprint: same discipline — k = id/2 pins the tone
    // pattern, containers differ within a pair, so the expected output
    // is exactly the consecutive-id pairs at hamming 0 (cross-pattern
    // collisions at hamming <= 3 need >= 13 of 16 frame band-sets
    // equal — probability ~12^-13 per pair). The < 20000 cap mirrors
    // the gate's bounded input.
    "multimodal_audio_fp" ->
      """SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 2 = 0 AND a.doc_id < 20000 AND b.doc_id < 20000
        |ORDER BY 1, 2""".stripMargin,

    // L50 PCA: projections re-derived from the exported basis with the
    // identical center-then-index-order-fold arithmetic.
    "pca_project" ->
      """WITH model AS (SELECT cidx, comp FROM '{AUX}/pca_model/*.parquet'),
        |mean AS (SELECT comp AS mv FROM model WHERE cidx = -1),
        |comps AS (SELECT cidx, comp FROM model WHERE cidx >= 0),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |cent AS (SELECT vec_id, [ev[i+1] - mv[i+1] for i in range(0, len(ev))] AS cv FROM v, mean),
        |p AS (SELECT vec_id, c.cidx AS cidx,
        |  list_sum([cv[i+1] * c.comp[i+1] for i in range(0, len(cv))]) AS pd
        |  FROM cent, comps c)
        |SELECT vec_id, CAST(cidx AS INTEGER) AS cidx, round(pd, 6) AS p
        |FROM p ORDER BY vec_id, cidx""".stripMargin,

    "dedup_embedding" ->
      """WITH cand AS (SELECT id_a, id_b FROM '{AUX}/emb_cand/*.parquet'),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
        |SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.ev, b.ev), 6) AS sim
        |FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b
        |WHERE round(list_cosine_similarity(a.ev, b.ev), 6) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    "dedup_semantic" ->
      """WITH cand AS (SELECT id_a, id_b FROM '{AUX}/sem_cand/*.parquet'),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
        |SELECT c.id_a, c.id_b, round(list_cosine_similarity(a.ev, b.ev), 6) AS sim
        |FROM cand c JOIN v a ON a.vec_id = c.id_a JOIN v b ON b.vec_id = c.id_b
        |WHERE round(list_cosine_similarity(a.ev, b.ev), 6) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    "ann_lsh"    -> annRerankSql("ann_lsh_cand"),
    "ann_ivf"    -> annRerankSql("ann_ivf_cand"),
    "ann_pq"     -> annRerankSql("ann_pq_cand"),
    "ann_pq_persisted" -> annRerankSql("ann_pqp_cand"),
    "ann_ivfpq"  -> annRerankSql("ann_ivfpq_cand"),

    "text_langid" -> textLangidOracleSql,
    "text_langid_trained" -> langLrTrainedOracleSql,

    // The seven Gopher rules re-derived: identical tokenization, char
    // sums, symbol counts, per-line trims — every compare on the same
    // int/int double; only booleans (and n_words) cross the gate.
    "text_gopher" ->
      """WITH b AS (SELECT doc_id, text, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
        |w AS (SELECT doc_id, text, CASE WHEN trim(text) = '' THEN []::VARCHAR[] ELSE string_split(norm, ' ') END AS ws FROM b),
        |m AS (SELECT doc_id, text, ws, len(ws) AS n_words,
        |  list_aggregate(list_transform(ws, t -> len(t)), 'sum') AS char_sum,
        |  len(text) - len(regexp_replace(text, '[#…]', '', 'g')) + len(regexp_extract_all(text, '\.{3,}')) AS n_sym,
        |  list_transform(string_split(text, chr(10)), l -> trim(l)) AS ls
        |  FROM w),
        |r AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  n_words >= 25 AND n_words <= 100000 AS ok_word_count,
        |  n_words > 0 AND CAST(char_sum AS DOUBLE) / n_words >= 3.0 AND CAST(char_sum AS DOUBLE) / n_words <= 10.0 AS ok_mean_word_len,
        |  n_words > 0 AND CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS ok_symbol_ratio,
        |  CAST(len(list_filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%')) AS DOUBLE) / len(ls) <= 0.9 AS ok_bullet_lines,
        |  CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / len(ls) <= 0.3 AS ok_ellipsis_lines,
        |  n_words > 0 AND CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / n_words >= 0.8 AS ok_alpha_words,
        |  len(list_intersect(list_distinct(ws), ['the','be','to','of','and','that','have','with'])) >= 1 AS ok_stopwords
        |  FROM m)
        |SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
        |  ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
        |  ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND ok_bullet_lines
        |    AND ok_ellipsis_lines AND ok_alpha_words AND ok_stopwords AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // C4 rules re-derived: identical twin construction (10-word lines +
    // (doc_id+i)%4 suffix cycle + doc_id%5 tail plant), identical
    // trimmed-line predicates, identical [.!?]-count sentence proxy.
    "text_c4" ->
      """WITH ml AS (SELECT doc_id, array_to_string([array_to_string(ws[i*10+1 : i*10+10], ' ') for i in range(0, greatest((len(ws)+9)//10, 1))], chr(10)) AS t
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws FROM documents)),
        |tw AS (SELECT doc_id,
        |  array_to_string([ls[i+1] || CASE (doc_id + i) % 4 WHEN 0 THEN '.' WHEN 1 THEN '?' WHEN 2 THEN '' ELSE ' javascript.' END for i in range(0, len(ls))], chr(10))
        |  || CASE doc_id % 5 WHEN 0 THEN chr(10) || 'lorem ipsum dolor sit.' WHEN 1 THEN chr(10) || 'config { broken setting.' ELSE '' END AS t
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM ml)),
        |ln AS (SELECT doc_id, t, [trim(x) for x in string_split(t, chr(10))] AS lines FROM tw),
        |k AS (SELECT doc_id, t, lines,
        |  [l for l in lines if (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"' OR l LIKE '%”')
        |     AND len(string_split(regexp_replace(l, '\s+', ' ', 'g'), ' ')) >= 3
        |     AND NOT contains(lower(l), 'javascript')] AS kept
        |  FROM ln),
        |r AS (SELECT doc_id, t, lines, kept, coalesce(array_to_string(kept, chr(10)), '') AS clean FROM k),
        |fl AS (SELECT doc_id, clean, kept, lines,
        |  NOT contains(lower(t), 'lorem ipsum') AS ok_no_lorem,
        |  NOT contains(t, '{') AS ok_no_brace,
        |  true AS ok_no_blocked,
        |  length(clean) - length(regexp_replace(clean, '[.!?]', '', 'g')) >= 2 AS ok_min_sentences
        |  FROM r)
        |SELECT doc_id, clean AS text_clean,
        |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  ok_no_lorem, ok_no_brace, ok_no_blocked, ok_min_sentences,
        |  ok_no_lorem AND ok_no_brace AND ok_no_blocked AND ok_min_sentences AS keep
        |FROM fl ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      """WITH q AS (SELECT doc_id,
        |  CASE WHEN trim(text) = '' THEN 0 ELSE CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS INTEGER) END AS n_words,
        |  CAST(len(list_filter(string_split(lower(text), ' '), t -> list_contains(['the','a','of','to','and','in','is','it'], t))) AS INTEGER) AS n_stop,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS INTEGER) AS n_punct,
        |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS INTEGER) AS n_upper
        |FROM documents)
        |SELECT doc_id, n_words, n_stop, n_punct, n_upper,
        |  CASE WHEN n_words = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_words END AS stop_ratio
        |FROM q ORDER BY doc_id""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Unicode gate: identical planted literals (composed even /
    // decomposed odd), DuckDB's utf8proc as the independent oracle.
    "text_unicode" ->
      """WITH t AS (SELECT doc_id, text || CASE WHEN doc_id % 2 = 0 THEN ' café münchen São' ELSE ' café münchen São' END AS t FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS nfc,
        |  CAST(length(t) AS INTEGER) AS n_before,
        |  CAST(length(nfc_normalize(t)) AS INTEGER) AS n_after,
        |  strip_accents(t) AS stripped
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Same 3-gram windows as dedup_minhash's shingles, but WITHOUT
    // list_distinct (the duplicate fraction is the point). chr(10)
    // because DuckDB standard strings don't process '\n' escapes.
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, text,
        |  string_split(text, chr(10)) AS lines,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |FROM documents),
        |g AS (SELECT doc_id, text, lines, ws,
        |  CASE WHEN len(ws) >= 3
        |    THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)]
        |    ELSE NULL END AS grams FROM w)
        |SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines) AS dup_line_frac,
        |  1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN len(ws) < 3 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)
        |  END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    // Identical plant (floorMod-safe arithmetic per the r10 advisory)
    // and the identical three-stage redaction order. DuckDB is RE2;
    // the patterns live in the Java∩RE2 subset by construction.
    "text_pii" ->
      """WITH p AS (SELECT doc_id, concat_ws(' ', text,
        |    'u' || doc_id || '@example.com',
        |    '10.0.' || ((doc_id % 256) + 256) % 256 || '.' || (((doc_id * 7) % 256) + 256) % 256,
        |    '+1 555 20' || ((doc_id % 10000) + 10000) % 10000) AS t
        |  FROM documents),
        |s AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |FROM p),
        |s2 AS (SELECT doc_id, t, t1,
        |  regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
        |FROM s)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ip,
        |  CAST(len(regexp_extract_all(t2, '\+?\d(?:[ -]?\d){7,}')) AS INTEGER) AS n_phone,
        |  regexp_replace(t2, '\+?\d(?:[ -]?\d){7,}', '<PHONE>', 'g') AS clean_text
        |FROM s2 ORDER BY doc_id""".stripMargin,

    // Generator-over-NULL-array yields no rows → WHERE text IS NOT NULL.
    // DuckDB list slices are 1-based inclusive; chunk i covers tokens
    // i*64+1 .. i*64+64. n_tokens re-splits the joined chunk exactly as
    // the Spark side does (lossless for single-space tokenization).
    "text_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, ws, unnest(range(0, (len(ws) + 63) // 64)) AS cid FROM w),
        |t AS (SELECT doc_id, cid,
        |  array_to_string(ws[cid * 64 + 1 : cid * 64 + 64], ' ') AS chunk_text FROM c)
        |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id,
        |  CAST(len(string_split(chunk_text, ' ')) AS INTEGER) AS n_tokens,
        |  chunk_text
        |FROM t ORDER BY doc_id, chunk_id""".stripMargin,

    // The same chunking CTE, then the greedy pack as ONE global running
    // sum (the oracle may do what the engine must not): shard_id =
    // floor(tokens_before / 256) in (doc_id, cid) order. DuckDB
    // sum(INTEGER) is HUGEINT — cast the prefix to BIGINT so shard_id's
    // type matches Spark's LONG div.
    "chunk_pack" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |c AS (SELECT doc_id, ws, unnest(range(0, (len(ws) + 63) // 64)) AS cid FROM w),
        |t AS (SELECT doc_id, cid, CAST(len(string_split(
        |  array_to_string(ws[cid * 64 + 1 : cid * 64 + 64], ' '), ' ')) AS INTEGER) AS n_tokens
        |  FROM c),
        |o AS (SELECT doc_id, cid, n_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY doc_id, cid
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS pre
        |  FROM t)
        |SELECT doc_id, CAST(cid AS INTEGER) AS chunk_id, n_tokens,
        |  pre // 256 AS shard_id
        |FROM o ORDER BY doc_id, chunk_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(norm) AS fp, min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |      FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_keep_best" ->
      """WITH u AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, '  ' || text || '   ', n_chars + 5
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id FROM (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp, n_chars
        |  FROM u)
        |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id ASC) = 1
        |ORDER BY doc_id""".stripMargin,

    // Near-dup keep-best: clusters re-derived by the dedup_clusters
    // recursive CTE (singletons keep their own id as the cluster key),
    // then the dedup_keep_best (score DESC, id ASC) QUALIFY cut.
    "dedup_keep_best_near" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |prs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT ida AS u, idb AS v FROM prs UNION SELECT idb, ida FROM prs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
        |k AS (SELECT d.doc_id, d.n_chars, coalesce(cl.cluster_id, d.doc_id) AS ck
        |  FROM documents d LEFT JOIN cl USING (doc_id))
        |SELECT doc_id FROM k
        |QUALIFY row_number() OVER (PARTITION BY ck ORDER BY n_chars DESC, doc_id ASC) = 1
        |ORDER BY doc_id""".stripMargin,

    "dedup_minhash" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |pairs AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id_b FROM pairs WHERE jaccard >= 0.5)
        |ORDER BY doc_id""".stripMargin,

    "dedup_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w)
        |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    // Line-dedup stats over the derived multi-line twin: flag by
    // normalized line string (engine: 64-bit fp — equivalent below the
    // collision floor), count per doc with multiplicity. sum CASTs per
    // the HUGEINT rule.
    "dedup_lines" ->
      """WITH ml AS (SELECT doc_id, array_to_string([array_to_string(ws[i*10+1 : i*10+10], ' ') for i in range(0, greatest((len(ws)+9)//10, 1))], chr(10)) AS t
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws FROM documents)),
        |ln0 AS (SELECT doc_id, unnest([{l: ls[i], p: i-1} for i in range(1, len(ls)+1)]) AS u
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM ml)),
        |nb AS (SELECT doc_id, u.p AS p, lower(trim(regexp_replace(u.l, '\s+', ' ', 'g'))) AS norm
        |  FROM ln0 WHERE lower(trim(regexp_replace(u.l, '\s+', ' ', 'g'))) <> ''),
        |fl AS (SELECT norm, count(DISTINCT doc_id) AS nd FROM nb GROUP BY 1),
        |st AS (SELECT nb.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN fl.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines
        |  FROM nb JOIN fl USING (norm) GROUP BY 1)
        |SELECT doc_id, n_lines, n_dup_lines,
        |  CAST(n_dup_lines AS DOUBLE) / n_lines AS dup_ratio
        |FROM st ORDER BY doc_id""".stripMargin,

    // Line REMOVAL: same flagging, min-doc rep keeps its copies, every
    // other copy's position is dropped and the raw lines rejoin by \n.
    "line_removal" ->
      """WITH ml AS (SELECT doc_id, array_to_string([array_to_string(ws[i*10+1 : i*10+10], ' ') for i in range(0, greatest((len(ws)+9)//10, 1))], chr(10)) AS t
        |  FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS ws FROM documents)),
        |ln0 AS (SELECT doc_id, unnest([{l: ls[i], p: i-1} for i in range(1, len(ls)+1)]) AS u
        |  FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM ml)),
        |nb AS (SELECT doc_id, u.p AS p, lower(trim(regexp_replace(u.l, '\s+', ' ', 'g'))) AS norm
        |  FROM ln0 WHERE lower(trim(regexp_replace(u.l, '\s+', ' ', 'g'))) <> ''),
        |fl AS (SELECT norm, count(DISTINCT doc_id) AS nd, min(doc_id) AS rep FROM nb GROUP BY 1),
        |dr AS (SELECT nb.doc_id, list(DISTINCT nb.p) AS drops FROM nb JOIN fl USING (norm)
        |  WHERE fl.nd >= 2 AND nb.doc_id <> fl.rep GROUP BY 1),
        |base AS (SELECT ml.doc_id, string_split(ml.t, chr(10)) AS ls, dr.drops FROM ml LEFT JOIN dr USING (doc_id)),
        |outp AS (SELECT doc_id, ls,
        |  CASE WHEN drops IS NULL THEN ls
        |       ELSE [ls[i] for i in range(1, len(ls)+1) if NOT list_contains(drops, i-1)] END AS kept
        |  FROM base)
        |SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
        |  CAST(len([x for x in ls if lower(trim(regexp_replace(x, '\s+', ' ', 'g'))) <> '']) AS BIGINT) AS n_lines,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed
        |FROM outp ORDER BY doc_id""".stripMargin,

    // Near-dup decontamination: all-pairs exact Jaccard ACROSS the
    // corpus/bench splits (LSH recall ≈ 1 at J≥0.5 with 128/64 banding,
    // same contract as dedup_minhash's oracle).
    "decontam_near" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |flagged AS (SELECT DISTINCT a.doc_id
        |  FROM sh a JOIN sh b ON a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM flagged)
        |ORDER BY doc_id""".stripMargin,

    "dedup_incremental" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |cut AS (SELECT max(doc_id) // 2 AS c FROM documents),
        |drops AS (SELECT b.doc_id AS idb FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT doc_id FROM documents, cut
        |WHERE doc_id > c AND doc_id NOT IN (SELECT idb FROM drops)
        |ORDER BY doc_id""".stripMargin,

    "dedup_clusters" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u)
        |SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u ORDER BY 1""".stripMargin,

    // star contraction computes the SAME labeling — identical oracle
    "dedup_clusters_star" ->
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |pairs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (SELECT ida AS u, idb AS v FROM pairs UNION SELECT idb, ida FROM pairs),
        |reach(u, v) AS (SELECT u, v FROM edges
        |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u)
        |SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u ORDER BY 1""".stripMargin,

    "dedup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |pd AS (SELECT gram, doc_id, count(*) AS n FROM g GROUP BY 1, 2),
        |fl AS (SELECT *, count(*) OVER (PARTITION BY gram) AS nd FROM pd)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_windows,
        |  CAST(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_dup_windows,
        |  CAST(sum(CASE WHEN nd >= 2 THEN n ELSE 0 END) AS DOUBLE) / sum(n) AS dup_ratio
        |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same gram construction as dedup_spans, with 1-based window start
    // positions carried through; the rebuild keeps token i iff no
    // flagged start s (of a NON-representative doc) satisfies
    // s <= i < s + 5 — range(i-4, i+1) ∩ starts = ∅ is that predicate.
    // DuckDB's array_to_string of an EMPTY list is NULL (unlike Spark's
    // array_join → '') — the coalesce restores '' for fully-emptied docs.
    "span_removal" ->
      """WITH tok AS (SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS rt,
        |  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [{'g': array_to_string(ws[i:i+4], ' '), 'p': i} for i in range(1, len(ws) - 3)]
        |  ELSE [{'g': array_to_string(ws, ' '), 'p': 1}] END AS gs FROM tok),
        |occ0 AS (SELECT doc_id, unnest(gs) AS u FROM sh),
        |occ AS (SELECT doc_id, u.g AS gram, u.p AS p FROM occ0),
        |fl AS (SELECT gram, count(DISTINCT doc_id) AS nd, min(doc_id) AS rep FROM occ GROUP BY 1),
        |st AS (SELECT o.doc_id, list(DISTINCT o.p) AS starts
        |  FROM occ o JOIN fl ON o.gram = fl.gram
        |  WHERE fl.nd >= 2 AND o.doc_id <> fl.rep GROUP BY 1),
        |outp AS (SELECT tok.doc_id,
        |  CASE WHEN st.starts IS NULL THEN tok.rt
        |       ELSE [tok.rt[i] for i in range(1, len(tok.rt)+1)
        |             if NOT list_has_any(st.starts, range(i-4, i+1))] END AS kept,
        |  len(tok.rt) AS n_tokens
        |  FROM tok LEFT JOIN st USING (doc_id))
        |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS text_clean,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - len(kept) AS BIGINT) AS n_removed
        |FROM outp
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |FROM documents WHERE text IS NULL
        |ORDER BY doc_id""".stripMargin,

    // Same gram construction as dedup_spans; bench/corpus split on
    // doc_id % 10. sum() in DuckDB widens to HUGEINT → explicit BIGINT
    // casts keep the schema comparable.
    "dedup_contamination" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
        |corp AS (SELECT g.doc_id, CASE WHEN b.gram IS NULL THEN 0 ELSE 1 END AS hit
        |         FROM g LEFT JOIN bench b ON g.gram = b.gram
        |         WHERE g.doc_id % 10 <> 0)
        |SELECT doc_id, count(*) AS n_windows,
        |  CAST(sum(hit) AS BIGINT) AS n_contaminated,
        |  CAST(sum(hit) AS DOUBLE) / count(*) AS contamination_ratio
        |FROM corp GROUP BY 1 ORDER BY 1""".stripMargin,

    // Keep twin of dedup_contamination: corpus docs with NO window in
    // the bench gram set (docs the stats never see — zero windows —
    // are kept, which NOT IN over the flagged list preserves).
    "dedup_decontam_keep" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
        |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bench b ON g.gram = b.gram
        |            WHERE g.doc_id % 10 <> 0)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Bloom keep: the Bloom pass only PRUNES (false positives die in
    // the exact-verify join), so the oracle is the identical exact
    // keep-twin — word-grams instead of fingerprints, same set.
    "dedup_bloom_keep" ->
      """WITH w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 0),
        |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bench b ON g.gram = b.gram
        |            WHERE g.doc_id % 10 <> 0)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id % 10 <> 0
        |  AND NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Importance sample: the IDENTICAL ANSI predicate — explicit floor
    // before the BIGINT cast (engines disagree on double->int CAST
    // rounding), fixed-width lowercase hex threshold per row.
    "sample_importance" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE least(1.0, CAST(n_chars AS DOUBLE) / 4000.0) >= 1.0
        |   OR substr(md5(doc_id::VARCHAR || ':7'), 1, 8) <
        |      lower(lpad(hex(CAST(floor(least(1.0, CAST(n_chars AS DOUBLE) / 4000.0) * 4294967296.0) AS BIGINT)), 8, '0'))
        |ORDER BY doc_id""".stripMargin,

    // Per-slice heavy hitters re-derived: identical tokenization,
    // exact counts, identical deterministic (cnt DESC, item ASC) cut.
    "top_tokens_lang" ->
      """WITH toks AS (SELECT lang, unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '')) AS item FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang, item, count(*) AS cnt FROM toks GROUP BY lang, item)
        |SELECT lang, item, CAST(cnt AS BIGINT) AS cnt FROM c
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, item ASC) <= 5
        |ORDER BY lang, item""".stripMargin,

    // DSIR weights re-derived from the exported gram-occurrence stream
    // (PARTIAL oracle — the xxhash64 kernel is spec-gated): identical
    // add-one integer-ratio models, identical micro-nat ln chain
    // quantized per bucket before the doc sum. The HUGEINT sum casts
    // back to BIGINT (the driver-hash class).
    "dsir_weights" ->
      """WITH occ AS (SELECT doc_id, b FROM '{AUX}/dsir_occ/*.parquet'),
        |tgt AS (SELECT b, count(*) AS c FROM occ WHERE doc_id % 10 = 0 GROUP BY b),
        |raw AS (SELECT b, count(*) AS c FROM occ GROUP BY b),
        |np AS (SELECT coalesce(sum(c), 0) AS n FROM tgt),
        |nq AS (SELECT coalesce(sum(c), 0) AS n FROM raw),
        |lr AS (SELECT raw.b AS b,
        |  CAST(round((ln(coalesce(tgt.c, 0) + 1) - ln(np.n + 10000) - ln(raw.c + 1) + ln(nq.n + 10000)) * 1000000.0) AS BIGINT) AS v
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN np CROSS JOIN nq),
        |w AS (SELECT occ.doc_id AS doc_id, count(*) AS n_grams, sum(lr.v) AS s FROM occ JOIN lr USING (b) GROUP BY occ.doc_id)
        |SELECT d.doc_id, CAST(coalesce(w.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(w.s, 0) AS BIGINT) AS logw_micro
        |FROM documents d LEFT JOIN w USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // DSIR md5 mode — FULL oracle from the raw table: the lm_bigram
    // tokenization, the sample_shuffle md5→int bucket draw, then the
    // identical add-one integer-ratio models and micro-nat ln chain
    // of the dsir_weights partial oracle, with nothing exported.
    "dsir_weights_md5" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_concat(ws, CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END)) AS gram FROM w),
        |occ AS (SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 10000 AS b FROM g),
        |tgt AS (SELECT b, count(*) AS c FROM occ WHERE doc_id % 10 = 0 GROUP BY b),
        |raw AS (SELECT b, count(*) AS c FROM occ GROUP BY b),
        |np AS (SELECT coalesce(sum(c), 0) AS n FROM tgt),
        |nq AS (SELECT coalesce(sum(c), 0) AS n FROM raw),
        |lr AS (SELECT raw.b AS b,
        |  CAST(round((ln(coalesce(tgt.c, 0) + 1) - ln(np.n + 10000) - ln(raw.c + 1) + ln(nq.n + 10000)) * 1000000.0) AS BIGINT) AS v
        |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN np CROSS JOIN nq),
        |ws2 AS (SELECT occ.doc_id AS doc_id, count(*) AS n_grams, sum(lr.v) AS s FROM occ JOIN lr USING (b) GROUP BY occ.doc_id)
        |SELECT d.doc_id, CAST(coalesce(ws2.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(ws2.s, 0) AS BIGINT) AS logw_micro
        |FROM documents d LEFT JOIN ws2 USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // Interleave re-derived: identical md5 draw, identical per-source
    // row_number, identical (r - 0.5)/w IEEE chain.
    "sample_interleave" ->
      """SELECT doc_id, lang,
        |  (CAST(row_number() OVER (PARTITION BY lang
        |     ORDER BY substr(md5(doc_id::VARCHAR || ':11'), 1, 8), doc_id) AS DOUBLE) - 0.5)
        |  / CASE lang WHEN 'en' THEN 3.0 WHEN 'de' THEN 1.0 WHEN 'zh' THEN 2.0 END AS mix_order
        |FROM documents WHERE lang IN ('en', 'de', 'zh')
        |ORDER BY doc_id""".stripMargin,

    // The keep-predicate is the IDENTICAL ANSI expression the engine
    // runs: fixed-width lowercase hex compares lexicographically like
    // the 32-bit number it encodes.
    "sample_hash" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(doc_id::VARCHAR || ':42'), 1, 8) < '${Sampling.thresholdHex(0.25)}'
         |ORDER BY doc_id""".stripMargin,

    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE substr(md5(doc_id::VARCHAR || ':7'), 1, 8) <
         |  CASE lang WHEN 'en' THEN '${Sampling.thresholdHex(0.5)}'
         |            WHEN 'de' THEN '${Sampling.thresholdHex(0.25)}'
         |            ELSE '${Sampling.thresholdHex(0.1)}' END
         |ORDER BY doc_id""".stripMargin,

    // Cumulative cut points interpolated from the SAME double
    // arithmetic the engine uses (0.8 + 0.1 != 0.9 exactly in IEEE).
    "sample_split" ->
      s"""SELECT doc_id,
         |  CASE WHEN substr(md5(doc_id::VARCHAR || ':21'), 1, 8) < '${Sampling.thresholdHex(0.8)}' THEN 'train'
         |       WHEN substr(md5(doc_id::VARCHAR || ':21'), 1, 8) < '${Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    // Clusters re-derived by the dedup_clusters recursive CTE, then the
    // identical hash-cut CASE on the cluster id (own id for singletons).
    "split_safe" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS ws FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
         |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
         |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
         |prs AS (SELECT a.doc_id AS ida, b.doc_id AS idb
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (SELECT ida AS u, idb AS v FROM prs UNION SELECT idb, ida FROM prs),
         |reach(u, v) AS (SELECT u, v FROM edges
         |  UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
         |cl AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u),
         |k AS (SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS key FROM documents d LEFT JOIN cl USING (doc_id))
         |SELECT doc_id,
         |  CASE WHEN substr(md5(key::VARCHAR || ':21'), 1, 8) < '${Sampling.thresholdHex(0.8)}' THEN 'train'
         |       WHEN substr(md5(key::VARCHAR || ':21'), 1, 8) < '${Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM k ORDER BY doc_id""".stripMargin,

    "sample_exact_n" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY substr(md5(doc_id::VARCHAR || ':13'), 1, 8), doc_id) <= 20
        |ORDER BY doc_id""".stripMargin,

    "select_topk_group" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang
        |  ORDER BY n_chars DESC, doc_id) <= 10
        |ORDER BY doc_id""".stripMargin,

    // DuckDB's native ASOF JOIN as an independent oracle for the
    // union-stream implementation; quotes deduped per (user, us) by
    // max view_id exactly like the engine's tieBreak.
    // TF-IDF: identical tokenization, in-list distinct for df, the
    // identical smoothed-idf micro-nat chain; doc score re-derived as
    // the per-occurrence idf sum.
    "tfidf_score" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
        |dfq AS (SELECT token, count(*) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) GROUP BY 1),
        |sc AS (SELECT t.doc_id, CAST(round(ln(CAST(n.nd + 1 AS DOUBLE) / CAST(d.dfc + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
        |  FROM tok t JOIN dfq d USING (token), n),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(q) AS BIGINT) AS tfidf_micro FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.tfidf_micro, 0) AS tfidf_micro,
        |  CASE WHEN a.n_tokens > 0 THEN CAST(a.tfidf_micro AS DOUBLE) / (1000000.0 * a.n_tokens) END AS avg_idf
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Top terms: identical tf and weight; identical (weight desc,
    // term asc) deterministic cut via QUALIFY.
    "tfidf_topterms" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |n AS (SELECT count(*) AS nd FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM tk),
        |dfq AS (SELECT token, count(*) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) GROUP BY 1),
        |tf AS (SELECT doc_id, token AS term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
        |w AS (SELECT tf.doc_id, tf.term, tf.tf,
        |    tf.tf * CAST(round(ln(CAST(n.nd + 1 AS DOUBLE) / CAST(d.dfc + 1 AS DOUBLE)) * 1000000.0) AS BIGINT) AS weight_micro
        |  FROM tf JOIN dfq d ON tf.term = d.token, n)
        |SELECT doc_id, term, tf, weight_micro,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY weight_micro DESC, term ASC) AS INTEGER) AS rank
        |FROM w
        |QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,

    // BM25: identical tokenization, the frozen integer avgdl, and the
    // verbatim-mirrored left-associative weight arithmetic (idf ×
    // saturation), micro-quantized per (doc, term) before the exact sum.
    "bm25_score" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |st AS (SELECT count(*) AS nd, CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS ntk FROM tk),
        |ad AS (SELECT CAST(round(1000000.0 * ntk / nd) AS BIGINT) AS adl FROM st),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) WHERE token IN ('spark', 'window', 'merge') GROUP BY 1),
        |hit AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(list_filter(toks, t -> t IN ('spark', 'window', 'merge'))) AS token FROM tk),
        |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY 1, 2, 3),
        |w AS (SELECT t.doc_id, CAST(round(1000000.0 * (ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(d.dfc AS DOUBLE) + 0.5) / (CAST(d.dfc AS DOUBLE) + 0.5)) * ((CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE) * 1000000.0 / CAST(ad.adl AS DOUBLE))))))) AS BIGINT) AS wm
        |  FROM tf t JOIN dfq d USING (token), st, ad),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, CAST(sum(wm) AS BIGINT) AS bm25_micro FROM w GROUP BY 1)
        |SELECT k.doc_id, CAST(coalesce(len(k.toks), 0) AS BIGINT) AS dl, coalesce(a.n_hits, 0) AS n_hits, coalesce(a.bm25_micro, 0) AS bm25_micro
        |FROM tk k LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Batch scoring: the same weight chain per (qid, token); hits only.
    "bm25_many" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |st AS (SELECT count(*) AS nd, CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS ntk FROM tk),
        |ad AS (SELECT CAST(round(1000000.0 * ntk / nd) AS BIGINT) AS adl FROM st),
        |qt AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'window'), (0, 'merge'), (1, 'spark'), (1, 'stream'), (2, 'data'), (2, 'merge')) AS q(qid, token)),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) WHERE token IN ('spark', 'window', 'merge', 'stream', 'data') GROUP BY 1),
        |hit AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(list_filter(toks, t -> t IN ('spark', 'window', 'merge', 'stream', 'data'))) AS token FROM tk),
        |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY 1, 2, 3),
        |w AS (SELECT q.qid, t.doc_id, t.dl, CAST(round(1000000.0 * (ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(d.dfc AS DOUBLE) + 0.5) / (CAST(d.dfc AS DOUBLE) + 0.5)) * ((CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE) * 1000000.0 / CAST(ad.adl AS DOUBLE))))))) AS BIGINT) AS wm
        |  FROM tf t JOIN qt q USING (token) JOIN dfq d USING (token), st, ad)
        |SELECT CAST(qid AS BIGINT) AS qid, doc_id, dl, CAST(count(*) AS BIGINT) AS n_hits, CAST(sum(wm) AS BIGINT) AS bm25_micro
        |FROM w GROUP BY 1, 2, 3 ORDER BY qid, doc_id""".stripMargin,

    // Same chain + the deterministic (score desc, id asc) top-5 cut.
    "bm25_topk" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |st AS (SELECT count(*) AS nd, CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS ntk FROM tk),
        |ad AS (SELECT CAST(round(1000000.0 * ntk / nd) AS BIGINT) AS adl FROM st),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) WHERE token IN ('spark', 'window', 'merge') GROUP BY 1),
        |hit AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(list_filter(toks, t -> t IN ('spark', 'window', 'merge'))) AS token FROM tk),
        |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY 1, 2, 3),
        |w AS (SELECT t.doc_id, CAST(round(1000000.0 * (ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(d.dfc AS DOUBLE) + 0.5) / (CAST(d.dfc AS DOUBLE) + 0.5)) * ((CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE) * 1000000.0 / CAST(ad.adl AS DOUBLE))))))) AS BIGINT) AS wm
        |  FROM tf t JOIN dfq d USING (token), st, ad),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits, CAST(sum(wm) AS BIGINT) AS bm25_micro FROM w GROUP BY 1),
        |fl AS (SELECT k.doc_id, CAST(coalesce(len(k.toks), 0) AS BIGINT) AS dl, coalesce(a.n_hits, 0) AS n_hits, coalesce(a.bm25_micro, 0) AS bm25_micro
        |  FROM tk k LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, dl, n_hits, bm25_micro, CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS INTEGER) AS rank
        |FROM fl QUALIFY rank <= 5 ORDER BY rank""".stripMargin,

    // RRF: both legs re-derived (the bm25 chain + the ann_topk cosine
    // shape around probe 0), fused by the identical nano-quantized
    // 1/(60+rank) sum, ties by id.
    "rank_fusion" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS toks FROM documents),
        |st AS (SELECT count(*) AS nd, CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS ntk FROM tk),
        |ad AS (SELECT CAST(round(1000000.0 * ntk / nd) AS BIGINT) AS adl FROM st),
        |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS dfc FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM tk) WHERE token IN ('spark', 'window', 'merge') GROUP BY 1),
        |hit AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(list_filter(toks, t -> t IN ('spark', 'window', 'merge'))) AS token FROM tk),
        |tf AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf FROM hit GROUP BY 1, 2, 3),
        |w AS (SELECT t.doc_id, CAST(round(1000000.0 * (ln(1.0 + (CAST(st.nd AS DOUBLE) - CAST(d.dfc AS DOUBLE) + 0.5) / (CAST(d.dfc AS DOUBLE) + 0.5)) * ((CAST(t.tf AS DOUBLE) * (1.2 + 1.0)) / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(t.dl AS DOUBLE) * 1000000.0 / CAST(ad.adl AS DOUBLE))))))) AS BIGINT) AS wm
        |  FROM tf t JOIN dfq d USING (token), st, ad),
        |agg AS (SELECT doc_id, CAST(sum(wm) AS BIGINT) AS bm25_micro FROM w GROUP BY 1),
        |bfull AS (SELECT k.doc_id AS id, coalesce(a.bm25_micro, 0) AS bm25_micro FROM tk k LEFT JOIN agg a USING (doc_id)),
        |b20 AS (SELECT id, CAST(row_number() OVER (ORDER BY bm25_micro DESC, id) AS INTEGER) AS rank FROM bfull QUALIFY rank <= 20),
        |pv AS (SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings WHERE vec_id = 0),
        |sims AS (SELECT e.vec_id AS id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6) AS sim FROM embeddings e, pv p WHERE e.vec_id <> 0),
        |d20 AS (SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id) AS INTEGER) AS rank FROM sims QUALIFY rank <= 20),
        |u AS (SELECT id, CAST(round(1000000000.0 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c FROM b20
        |  UNION ALL SELECT id, CAST(round(1000000000.0 / (60.0 + CAST(rank AS DOUBLE))) AS BIGINT) AS c FROM d20),
        |f AS (SELECT id, CAST(count(*) AS BIGINT) AS n_lists, CAST(sum(c) AS BIGINT) AS rrf_nano FROM u GROUP BY 1)
        |SELECT id AS doc_id, n_lists, rrf_nano, CAST(row_number() OVER (ORDER BY rrf_nano DESC, id) AS INTEGER) AS rank
        |FROM f QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // HTML extraction: identical synthetic page, identical strip/decode
    // chain (script/style dotall-insensitive, comments, tags, entities
    // with &amp; last), identical word count.
    "html_text" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title><style>p{color:red}</style><script>if (1 < 2) { x(); }</script></head><body><!-- id ' || CAST(doc_id AS VARCHAR) || ' --><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR) || '</h1><p class="main">' || text || '&nbsp;&lt;end&gt;</p></body></html>' AS html
        |  FROM documents),
        |x AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&apos;', '''', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_plain FROM h)
        |SELECT doc_id, text_plain,
        |  CAST(CASE WHEN trim(text_plain) = '' THEN 0
        |    ELSE len(string_split(lower(trim(regexp_replace(text_plain, '\s+', ' ', 'g'))), ' ')) END AS BIGINT) AS n_words
        |FROM x ORDER BY doc_id""".stripMargin,

    // L55 WARC ingestion: the html_text mirror on the gate's doc
    // subset — the WARC framing (shard write, gzip members, record
    // walk, header parse, charset decode, payload recovery) must be
    // TRANSPARENT, so the expected rows are exactly the
    // direct-extraction rows (incl. the planted Latin-1 literal the
    // ISO-8859-1 shards must decode through the charset param).
    "warc_ingest" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title><style>p{color:red}</style><script>if (1 < 2) { x(); }</script></head><body><!-- id ' || CAST(doc_id AS VARCHAR) || ' --><h1>Doc &amp; ' || CAST(doc_id AS VARCHAR) || '</h1><p class="main">' || text || ' « café § »&nbsp;&lt;end&gt;</p></body></html>' AS html
        |  FROM documents WHERE doc_id % 8 = 0),
        |x AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&apos;', '''', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_plain FROM h)
        |SELECT doc_id, text_plain,
        |  CAST(CASE WHEN trim(text_plain) = '' THEN 0
        |    ELSE len(string_split(lower(trim(regexp_replace(text_plain, '\s+', ' ', 'g'))), ' ')) END AS BIGINT) AS n_words
        |FROM x ORDER BY doc_id""".stripMargin,

    // Link extraction: identical synthetic page around the url_canon
    // synthetic URL, identical capture-group extraction, 0-based
    // document order.
    "html_links" ->
      """WITH u AS (SELECT doc_id, source,
        |  (CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://' ELSE 'Https://' END)
        |  || 'User@WWW.' || source
        |  || (CASE WHEN doc_id % 2 = 0 THEN '.CO.UK' ELSE '.COM' END)
        |  || (CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 1 THEN ':80' ELSE ':8080' END)
        |  || '/Docs/' || CAST(doc_id AS VARCHAR)
        |  || (CASE WHEN doc_id % 2 = 1 THEN '?b=2&utm_source=x&a=1&ref=abc' ELSE '?fbclid=1' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url FROM documents),
        |h AS (SELECT doc_id,
        |  '<html><body><a href="' || url || '">one</a><p>no links here</p><a class="x" HREF = "/about/' || CAST(doc_id AS VARCHAR) || '">two</a></body></html>' AS html
        |  FROM u),
        |x AS (SELECT doc_id, regexp_extract_all(html, 'href\s*=\s*"([^"]*)"', 1, 'i') AS links FROM h)
        |SELECT doc_id, CAST(i.i - 1 AS INTEGER) AS pos, links[i.i] AS link
        |FROM x, unnest(range(1, len(links) + 1)) AS i(i)
        |ORDER BY doc_id, pos""".stripMargin,

    // BPE token counts (partial, over _aux/bpe_merges): the full apply
    // re-derived in DuckDB — see [[bpeOracleSql]].
    "bpe_tokens" -> bpeOracleSql,

    // Byte-level BPE (partial, over _aux/bpe_bytes_merges): lookahead
    // pretokenizer emulated, bytes re-derived — see [[bpeBytesOracleSql]].
    "bpe_tokens_bytes" -> bpeBytesOracleSql,
    "bpe_tokens_tiktoken" -> tiktokenOracleSql,

    // Quality LR (partial, over _aux/lr_model): exact integer-ratio
    // features, the identical left-associative w·x chain, and the
    // micro-quantized sigmoid; keep derives from the quantum.
    "quality_lr" ->
      """WITH wt AS (SELECT i, w FROM '{AUX}/lr_model/*.parquet'),
        |tk AS (SELECT doc_id, text, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm FROM documents),
        |tw AS (SELECT doc_id, text, norm, list_filter(string_split(norm, ' '), t -> t <> '') AS ws FROM tk),
        |f AS (SELECT doc_id, ws,
        |    CAST(len(ws) AS BIGINT) AS nt,
        |    length(text) AS nc, length(norm) AS nn,
        |    len(text) - len(regexp_replace(text, '[#…]', '', 'g')) + len(regexp_extract_all(text, '\.{3,}')) AS nsym,
        |    list_transform(string_split(text, chr(10)), l -> trim(l)) AS ls FROM tw),
        |x AS (SELECT doc_id, CAST(nt AS DOUBLE) / 100.0 AS x1, CAST(nc AS DOUBLE) / 1000.0 AS x2,
        |    CASE WHEN nt > 0 THEN CAST(nn - (nt - 1) AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS x3,
        |    CASE WHEN nt > 0 THEN CAST(nsym AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS x4,
        |    CAST(len(list_filter(ls, l -> l LIKE '•%' OR l LIKE '-%' OR l LIKE '*%')) AS DOUBLE) / len(ls) AS x5,
        |    CAST(len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…')) AS DOUBLE) / len(ls) AS x6,
        |    CASE WHEN nt > 0 THEN CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE) / CAST(nt AS DOUBLE) ELSE 0.0 END AS x7,
        |    CAST(len(list_intersect(list_distinct(ws), ['the','be','to','of','and','that','have','with'])) AS DOUBLE) / 8.0 AS x8 FROM f),
        |z AS (SELECT doc_id,
        |    ((((((((SELECT w FROM wt WHERE i = 0) * 1.0 + (SELECT w FROM wt WHERE i = 1) * x1) + (SELECT w FROM wt WHERE i = 2) * x2) + (SELECT w FROM wt WHERE i = 3) * x3) + (SELECT w FROM wt WHERE i = 4) * x4) + (SELECT w FROM wt WHERE i = 5) * x5) + (SELECT w FROM wt WHERE i = 6) * x6) + ((SELECT w FROM wt WHERE i = 7) * x7) + (SELECT w FROM wt WHERE i = 8) * x8) AS z FROM x),
        |s AS (SELECT doc_id, CAST(round(1000000.0 * (1.0 / (1.0 + exp(-z)))) AS BIGINT) AS score_micro FROM z)
        |SELECT doc_id, score_micro, coalesce(score_micro >= 500000, false) AS keep FROM s ORDER BY doc_id""".stripMargin,

    // The ENTIRE n-gram classifier apply re-derived: identical md5
    // bucket draw (the dsir_weights_md5 chain at B = 4096), PRESENCE
    // sum over distinct buckets, the length-bin lookup (i = B+2+bin),
    // the fixed z chain on integer-valued doubles, micro sigmoid.
    "quality_lr_ngram" ->
      """WITH m AS (SELECT i, w_micro FROM '{AUX}/ngram_lr_model/*.parquet'),
        |w AS (SELECT doc_id, text, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents),
        |g AS (SELECT doc_id, unnest(list_concat(ws, CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END)) AS gram FROM w),
        |occ AS (SELECT doc_id, CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 4096 AS b FROM g),
        |n AS (SELECT doc_id, count(*) AS ng FROM occ GROUP BY doc_id),
        |s AS (SELECT doc_id, sum(m.w_micro) AS smic
        |  FROM (SELECT DISTINCT doc_id, b FROM occ) db JOIN m ON m.i = db.b GROUP BY doc_id),
        |z AS (SELECT d.doc_id,
        |    CASE WHEN d.text IS NULL THEN NULL ELSE coalesce(n.ng, 0) END AS n_grams,
        |    (SELECT w_micro FROM m WHERE i = 4096) AS bmic,
        |    (SELECT w_micro FROM m WHERE i = 4097) AS lmic,
        |    (SELECT w_micro FROM m WHERE i = 4098 + least(coalesce(n.ng, 0) // 8, 63)) AS binmic,
        |    coalesce(s.smic, 0) AS smic
        |  FROM documents d LEFT JOIN n USING (doc_id) LEFT JOIN s USING (doc_id)),
        |sc AS (SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |    CASE WHEN n_grams IS NULL THEN NULL
        |      ELSE CAST(round(1000000.0 * (1.0 / (1.0 + exp(-((CAST(bmic AS DOUBLE)
        |        + CAST(lmic AS DOUBLE) * (CAST(n_grams AS DOUBLE) / 100.0)
        |        + CAST(binmic + smic AS DOUBLE)) / 1000000.0))))) AS BIGINT) END AS score_micro
        |  FROM z)
        |SELECT doc_id, n_grams, score_micro,
        |  coalesce(score_micro >= 500000, false) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |q AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS us, value FROM events WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, us ORDER BY view_id DESC) = 1)
        |SELECT p.event_id, p.user_id, p.us, q.us AS asof_us, q.view_id AS asof_view_id, q.value AS asof_value
        |FROM p ASOF LEFT JOIN q ON p.user_id = q.user_id AND p.us >= q.us
        |ORDER BY p.event_id""".stripMargin,

    "asof_join_fwd" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |q AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS us, value FROM events WHERE event_type = 'view'
        |      QUALIFY row_number() OVER (PARTITION BY user_id, us ORDER BY view_id DESC) = 1)
        |SELECT p.event_id, p.user_id, p.us, q.us AS asof_us, q.view_id AS asof_view_id, q.value AS asof_value
        |FROM p ASOF LEFT JOIN q ON p.user_id = q.user_id AND p.us <= q.us
        |ORDER BY p.event_id""".stripMargin,

    "range_join" ->
      """WITH p AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click'),
        |i AS (SELECT event_id AS error_id, user_id, epoch_us(ts) AS s_us, epoch_us(ts) + 86400000000 AS e_us FROM events WHERE event_type = 'error')
        |SELECT p.click_id, i.error_id, p.user_id
        |FROM p JOIN i ON p.user_id = i.user_id AND p.us >= i.s_us AND p.us <= i.e_us
        |ORDER BY 1, 2""".stripMargin,

    "interval_join" ->
      """WITH a AS (SELECT event_id AS error_id, user_id, epoch_us(ts) AS e_s, epoch_us(ts) + 86400000000 AS e_e FROM events WHERE event_type = 'error'),
        |b AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_s, epoch_us(ts) + 21600000000 AS c_e FROM events WHERE event_type = 'click')
        |SELECT a.error_id, b.click_id, a.user_id
        |FROM a JOIN b ON a.user_id = b.user_id AND a.e_s <= b.c_e AND b.c_s <= a.e_e
        |ORDER BY 1, 2""".stripMargin,

    // Sessionize: identical lag/running-sum windows; sums are integer
    // cents rounded PER EVENT, so the totals are aggregation-order
    // exact (and BIGINT-cast per the module-wide oracle rule).
    "sessionize_events" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events WHERE ts IS NOT NULL),
        |x AS (SELECT user_id, us, value,
        |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |               OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
        |             THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |y AS (SELECT user_id, us, value,
        |        CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |      FROM x)
        |SELECT user_id, session_idx, min(us) AS session_start, max(us) AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(coalesce(CAST(round(value * 100) AS BIGINT), 0)) AS BIGINT) AS sum_cents
        |FROM y GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Funnel: the step-by-step min chain the engine's window
    // composition computes, as explicit sequential CTEs.
    "funnel_events" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.us) AS t2 FROM e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.us) AS t3 FROM e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1)
        |SELECT u.user_id, s1.t1 AS t_view, s2.t2 AS t_click, s3.t3 AS t_purchase,
        |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
        |            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS depth
        |FROM u LEFT JOIN s1 USING(user_id) LEFT JOIN s2 USING(user_id) LEFT JOIN s3 USING(user_id)
        |ORDER BY 1""".stripMargin,

    // Retention: identical anchor/offset integer arithmetic (both
    // operands positive, so // == div == floor in both engines).
    "retention_events" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events WHERE ts IS NOT NULL),
        |t0 AS (SELECT user_id, min(us) AS t0 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT e.user_id, t0.t0 // 604800000000 AS cohort,
        |               (e.us - t0.t0) // 604800000000 AS "offset"
        |        FROM e JOIN t0 ON e.user_id = t0.user_id WHERE e.us >= t0.t0)
        |SELECT cohort, "offset", count(DISTINCT user_id) AS n_active
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Rolling: identical value-based RANGE frame (tie-order
    // independent by construction).
    "rolling_events" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events WHERE ts IS NOT NULL)
        |SELECT event_id, user_id, us,
        |  count(*) OVER w AS n_1h,
        |  CAST(sum(coalesce(CAST(round(value * 100) AS BIGINT), 0)) OVER w AS BIGINT) AS cents_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // Top tokens: identical tokenization, identical deterministic cut.
    "text_toptokens" ->
      """WITH tok AS (SELECT unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '')) AS value FROM documents)
        |SELECT value, count(*) AS n FROM tok
        |GROUP BY 1 ORDER BY n DESC, value ASC LIMIT 20""".stripMargin,

    // Identical bin chain: w = (hi-lo)/bins, least(floor((x-lo)/w),
    // bins-1); scaffold via range() so empty bins survive.
    "profile_histogram" ->
      """WITH c AS (SELECT CAST(least(floor((CAST(l_quantity AS DOUBLE) - 0.0) / 5.0), 9) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity >= 0.0 AND l_quantity <= 50.0
        |  GROUP BY 1)
        |SELECT t.range AS bin, CAST(t.range * 5.0 AS DOUBLE) AS bin_lo, CAST((t.range + 1) * 5.0 AS DOUBLE) AS bin_hi,
        |  coalesce(c.n, 0) AS n
        |FROM range(10) t LEFT JOIN c ON c.bin = t.range
        |ORDER BY bin""".stripMargin,

    // Exact dyadic thresholds (IEEE-identical interpolation), then the
    // same exceeds-count bucket assignment.
    "profile_buckets" ->
      """WITH t AS (SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS ts FROM documents)
        |SELECT doc_id, n_chars,
        |  CASE WHEN n_chars IS NULL THEN NULL ELSE
        |    CAST((n_chars > ts[1]) AS INT) + CAST((n_chars > ts[2]) AS INT) + CAST((n_chars > ts[3]) AS INT)
        |  END AS bucket
        |FROM documents, t ORDER BY doc_id""".stripMargin,

    // The same bigram/unigram counts, the same fixed division chain
    // (c_ab/N_b) / ((c_a/N_u)*(c_b/N_u)), one ln, micro-nat rounding.
    "text_pmi" ->
      """WITH tk AS (SELECT list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents),
        |bg AS (SELECT unnest(CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END) AS bigram FROM tk),
        |uc AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT unnest(ws) AS token FROM tk) GROUP BY 1),
        |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1),
        |nu AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM uc),
        |nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM bc)
        |SELECT b.bigram, b.cnt AS n_pair, u1.cnt AS n_w1, u2.cnt AS n_w2,
        |  CAST(round(ln((CAST(b.cnt AS DOUBLE) / nb.n) / ((CAST(u1.cnt AS DOUBLE) / nu.n) * (CAST(u2.cnt AS DOUBLE) / nu.n))) * 1000000.0) AS BIGINT) AS pmi_micro
        |FROM bc b
        |JOIN uc u1 ON u1.token = string_split(b.bigram, ' ')[1]
        |JOIN uc u2 ON u2.token = string_split(b.bigram, ' ')[-1], nu, nb
        |WHERE b.cnt >= 5
        |ORDER BY pmi_micro DESC, bigram ASC LIMIT 30""".stripMargin,

    // Dyadic fractions over integer-valued columns: quantile_cont's
    // interpolation is exact in IEEE double -> engine-independent.
    // Correlation matrix re-derived: identical quantization, exact
    // BIGINT moments (DuckDB's HUGEINT sums cast to DOUBLE equal the
    // engine's LONG-to-double casts below 2^63), identical r-chain.
    // The lineitem columns are non-null, so plain sums equal the
    // engine's pairwise-complete sums.
    "profile_corr" ->
      """WITH t AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
        |  CAST(round(l_extendedprice) AS BIGINT) AS price_usd,
        |  CAST(round(l_discount * 100.0) AS BIGINT) AS disc_pc FROM lineitem),
        |m AS (SELECT count(*) AS n,
        |  sum(qty) AS s_q, sum(price_usd) AS s_p, sum(disc_pc) AS s_d,
        |  sum(qty*price_usd) AS s_qp, sum(qty*disc_pc) AS s_qd, sum(price_usd*disc_pc) AS s_pd,
        |  sum(qty*qty) AS s_qq, sum(price_usd*price_usd) AS s_pp, sum(disc_pc*disc_pc) AS s_dd
        |  FROM t)
        |SELECT * FROM (
        |  SELECT 'qty' AS col_a, 'price_usd' AS col_b, CAST(n AS BIGINT) AS n,
        |    (CAST(n AS DOUBLE)*CAST(s_qp AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_p AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE)*CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE)*CAST(s_pp AS DOUBLE) - CAST(s_p AS DOUBLE)*CAST(s_p AS DOUBLE))) AS corr_r
        |  FROM m
        |  UNION ALL
        |  SELECT 'qty', 'disc_pc', CAST(n AS BIGINT),
        |    (CAST(n AS DOUBLE)*CAST(s_qd AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_d AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE)*CAST(s_qq AS DOUBLE) - CAST(s_q AS DOUBLE)*CAST(s_q AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE)*CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE)))
        |  FROM m
        |  UNION ALL
        |  SELECT 'price_usd', 'disc_pc', CAST(n AS BIGINT),
        |    (CAST(n AS DOUBLE)*CAST(s_pd AS DOUBLE) - CAST(s_p AS DOUBLE)*CAST(s_d AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE)*CAST(s_pp AS DOUBLE) - CAST(s_p AS DOUBLE)*CAST(s_p AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE)*CAST(s_dd AS DOUBLE) - CAST(s_d AS DOUBLE)*CAST(s_d AS DOUBLE)))
        |  FROM m
        |) ORDER BY col_a, col_b""".stripMargin,

    "profile_quantiles_lang" ->
      """SELECT * FROM (
        |SELECT lang, 'n_chars' AS "column", CAST(0.25 AS DOUBLE) AS q, quantile_cont(n_chars, 0.25) AS value FROM documents WHERE lang IS NOT NULL GROUP BY lang
        |UNION ALL SELECT lang, 'n_chars', CAST(0.5 AS DOUBLE), quantile_cont(n_chars, 0.5) FROM documents WHERE lang IS NOT NULL GROUP BY lang
        |UNION ALL SELECT lang, 'n_chars', CAST(0.75 AS DOUBLE), quantile_cont(n_chars, 0.75) FROM documents WHERE lang IS NOT NULL GROUP BY lang
        |) ORDER BY lang, "column", q""".stripMargin,

    "profile_quantiles" ->
      """SELECT * FROM (
        |SELECT 'l_partkey' AS "column", CAST(0.25 AS DOUBLE) AS q, quantile_cont(l_partkey, 0.25) AS value FROM lineitem
        |UNION ALL SELECT 'l_partkey', CAST(0.5 AS DOUBLE), quantile_cont(l_partkey, 0.5) FROM lineitem
        |UNION ALL SELECT 'l_partkey', CAST(0.75 AS DOUBLE), quantile_cont(l_partkey, 0.75) FROM lineitem
        |UNION ALL SELECT 'l_quantity', CAST(0.25 AS DOUBLE), quantile_cont(l_quantity, 0.25) FROM lineitem
        |UNION ALL SELECT 'l_quantity', CAST(0.5 AS DOUBLE), quantile_cont(l_quantity, 0.5) FROM lineitem
        |UNION ALL SELECT 'l_quantity', CAST(0.75 AS DOUBLE), quantile_cont(l_quantity, 0.75) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', CAST(0.25 AS DOUBLE), quantile_cont(l_suppkey, 0.25) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', CAST(0.5 AS DOUBLE), quantile_cont(l_suppkey, 0.5) FROM lineitem
        |UNION ALL SELECT 'l_suppkey', CAST(0.75 AS DOUBLE), quantile_cont(l_suppkey, 0.75) FROM lineitem
        |) ORDER BY "column", q""".stripMargin,

    "profile_docs" ->
      """SELECT * FROM (
        |SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows, CAST(count(*) - count(doc_id) AS BIGINT) AS n_null, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct, CAST(min(doc_id) AS VARCHAR) AS min_value, CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
        |UNION ALL
        |SELECT 'lang', CAST(count(*) AS BIGINT), CAST(count(*) - count(lang) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT), CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'source', CAST(count(*) AS BIGINT), CAST(count(*) - count(source) AS BIGINT), CAST(count(DISTINCT source) AS BIGINT), CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
        |UNION ALL
        |SELECT 'n_chars', CAST(count(*) AS BIGINT), CAST(count(*) - count(n_chars) AS BIGINT), CAST(count(DISTINCT n_chars) AS BIGINT), CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
        |) ORDER BY "column"""".stripMargin,

    // Identical synthetic URL + identical canonicalization patterns
    // (regexes in the Java ∩ RE2 subset; binary-order param sort).
    "url_canon" ->
      """WITH u AS (SELECT doc_id, source,
        |  (CASE doc_id % 3 WHEN 0 THEN 'https://' WHEN 1 THEN 'HTTP://' ELSE 'Https://' END)
        |  || 'User@WWW.' || source
        |  || (CASE WHEN doc_id % 2 = 0 THEN '.CO.UK' ELSE '.COM' END)
        |  || (CASE doc_id % 3 WHEN 0 THEN ':443' WHEN 1 THEN ':80' ELSE ':8080' END)
        |  || '/Docs/' || CAST(doc_id AS VARCHAR)
        |  || (CASE WHEN doc_id % 2 = 1 THEN '?b=2&utm_source=x&a=1&ref=abc' ELSE '?fbclid=1' END)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url FROM documents),
        |p AS (SELECT doc_id, source, url,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  lower(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)', 1), ':[0-9]*$', '')) AS host,
        |  regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#]*)', 1), ':([0-9]+)$', 1) AS port,
        |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
        |  array_to_string(list_sort(list_filter(string_split(regexp_extract(regexp_replace(url, '#.*', ''), '\?(.*)$', 1), '&'),
        |    x -> NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)') AND x <> '')), '&') AS q
        |FROM u)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |  (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80') OR (scheme = 'https' AND port = '443')) THEN ':' || port ELSE '' END) ||
        |  (CASE WHEN path = '' THEN '/' ELSE path END) ||
        |  (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS url_canon,
        |  host,
        |  (CASE WHEN len(string_split(host, '.')) <= 1 THEN host
        |        WHEN len(string_split(host, '.')) >= 3 AND array_to_string(string_split(host, '.')[len(string_split(host, '.'))-1:], '.') IN ('co.uk','org.uk','ac.uk','gov.uk','co.jp','com.au','com.br','com.cn','co.in','com.mx')
        |        THEN array_to_string(string_split(host, '.')[len(string_split(host, '.'))-2:], '.')
        |        ELSE array_to_string(string_split(host, '.')[len(string_split(host, '.'))-1:], '.') END) AS domain
        |FROM p ORDER BY doc_id""".stripMargin,

    "url_filter" ->
      """WITH u AS (SELECT doc_id, source,
        |  lower('WWW.' || source || (CASE WHEN doc_id % 2 = 0 THEN '.CO.UK' ELSE '.COM' END)) AS host FROM documents),
        |c AS (SELECT doc_id, source,
        |  (CASE WHEN len(string_split(host, '.')) <= 1 THEN host
        |        WHEN len(string_split(host, '.')) >= 3 AND array_to_string(string_split(host, '.')[len(string_split(host, '.'))-1:], '.') IN ('co.uk','org.uk','ac.uk','gov.uk','co.jp','com.au','com.br','com.cn','co.in','com.mx')
        |        THEN array_to_string(string_split(host, '.')[len(string_split(host, '.'))-2:], '.')
        |        ELSE array_to_string(string_split(host, '.')[len(string_split(host, '.'))-1:], '.') END) AS domain
        |FROM u)
        |SELECT doc_id, source FROM c
        |WHERE domain NOT IN ('src3.co.uk', 'src5.com', 'src7.co.uk')
        |ORDER BY doc_id""".stripMargin,

    // The same add-one multinomial NB re-fit and re-scored in SQL:
    // priors n_docs_c/N, likelihoods (cnt+1)/(n_tok_c+V) — all integer
    // ratios, each quantized to micro-nats BEFORE the exact BIGINT doc
    // sum; argmax via row_number(score DESC, label ASC) = the Spark
    // side's (-score, label) struct-min. sum CASTs per the HUGEINT rule.
    "nb_classify" ->
      """WITH tr AS (SELECT doc_id, source AS label, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents WHERE source IS NOT NULL),
        |c AS (SELECT label, token, count(*) AS cnt FROM (SELECT label, unnest(ws) AS token FROM tr) GROUP BY 1, 2),
        |ld AS (SELECT source AS label, CAST(count(*) AS BIGINT) AS n_docs FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |lt AS (SELECT label, CAST(sum(cnt) AS BIGINT) AS n_tok FROM c GROUP BY 1),
        |ls AS (SELECT ld.label, ld.n_docs, coalesce(lt.n_tok, 0) AS n_tok FROM ld LEFT JOIN lt USING (label)),
        |v AS (SELECT count(DISTINCT token) AS v FROM c),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM ls),
        |pri AS (SELECT label, CAST(round(ln(CAST(n_docs AS DOUBLE) / n) * 1000000.0) AS BIGINT) AS p FROM ls, tot),
        |dt AS (SELECT doc_id, unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '')) AS token FROM documents),
        |sc AS (SELECT d.doc_id, l.label,
        |  CAST(round(ln(CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / (CAST(l.n_tok AS DOUBLE) + v.v)) * 1000000.0) AS BIGINT) AS q
        |  FROM dt d CROSS JOIN ls l LEFT JOIN c ON c.label = l.label AND c.token = d.token, v),
        |ag AS (SELECT doc_id, label, CAST(sum(q) AS BIGINT) AS s FROM sc GROUP BY 1, 2),
        |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM dt GROUP BY 1),
        |totals AS (SELECT d.doc_id, coalesce(nt.n_tokens, 0) AS n_tokens, pri.label,
        |  coalesce(ag.s, 0) + pri.p AS total
        |  FROM documents d CROSS JOIN pri
        |  LEFT JOIN ag ON ag.doc_id = d.doc_id AND ag.label = pri.label
        |  LEFT JOIN nt ON nt.doc_id = d.doc_id),
        |ranked AS (SELECT doc_id, n_tokens, label, total,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY total DESC, label ASC) AS rn FROM totals)
        |SELECT doc_id, n_tokens, label AS pred, total AS score_micro
        |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // The same add-one unigram LM re-fit and re-scored in SQL: every
    // probability is the integer ratio (cnt+1)/(N+V), quantized to
    // micro-nats per token before the (exact BIGINT) doc sum. sum
    // CASTs per the HUGEINT rule.
    "lm_unigram" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
        |m AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(*) AS v FROM c),
        |sc AS (SELECT t.doc_id, CAST(round(ln(CAST(c.cnt + 1 AS DOUBLE) / (CAST(m.n AS DOUBLE) + m.v)) * 1000000.0) AS BIGINT) AS q
        |  FROM tok t JOIN c USING (token), m),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(q) AS BIGINT) AS logprob_micro FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens, coalesce(a.logprob_micro, 0) AS logprob_micro,
        |  CASE WHEN a.n_tokens > 0 THEN CAST(a.logprob_micro AS DOUBLE) / (1000000.0 * a.n_tokens) END AS avg_logprob
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    "lm_bigram" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END) AS bigram FROM tk),
        |uc AS (SELECT token, count(*) AS cnt FROM (SELECT unnest(ws) AS token FROM tk) GROUP BY 1),
        |v AS (SELECT count(*) AS v FROM uc),
        |bc AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1),
        |sc AS (SELECT g.doc_id,
        |  CAST(round(ln(CAST(b.cnt + 1 AS DOUBLE) / CAST(u.cnt + v.v AS DOUBLE)) * 1000000.0) AS BIGINT) AS q
        |  FROM bg g JOIN bc b USING (bigram)
        |  JOIN uc u ON u.token = string_split(g.bigram, ' ')[1], v),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(q) AS BIGINT) AS logprob_micro FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, coalesce(a.logprob_micro, 0) AS logprob_micro,
        |  CASE WHEN a.n_bigrams > 0 THEN CAST(a.logprob_micro AS DOUBLE) / (1000000.0 * a.n_bigrams) END AS avg_logprob
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Interpolated Kneser-Ney re-fit and re-scored in SQL (FULL
    // oracle): bigram/context/continuation counts, the discount
    // D = n1/(n1+2n2) (0.5 fallback), the add-one continuation floor
    // (n_prec+1)/(T+V), and the FIXED per-pair chain
    // (max(cab−D,0) + (D·n_follow)·pc) / c_ctx — every operand an
    // integer-derived double, so both engines quantize the identical
    // IEEE value (ln-wobble bound as the other L29 gates).
    "lm_kn" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '), t -> t <> '') AS ws FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 2 THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))] ELSE []::VARCHAR[] END) AS bigram FROM tk),
        |v AS (SELECT count(DISTINCT token) AS v FROM (SELECT unnest(ws) AS token FROM tk)),
        |bc AS (SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1),
        |ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(cnt) AS BIGINT) AS c_ctx, count(*) AS n_follow FROM bc GROUP BY 1),
        |cont AS (SELECT string_split(bigram, ' ')[2] AS w2, count(*) AS n_prec FROM bc GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS t,
        |    CAST(coalesce(sum(CASE WHEN cnt = 1 THEN 1 END), 0) AS BIGINT) AS n1,
        |    CAST(coalesce(sum(CASE WHEN cnt = 2 THEN 1 END), 0) AS BIGINT) AS n2 FROM bc),
        |dd AS (SELECT CASE WHEN n1 + 2 * n2 = 0 THEN 0.5 ELSE CAST(n1 AS DOUBLE) / CAST(n1 + 2 * n2 AS DOUBLE) END AS d,
        |    CAST(t AS DOUBLE) AS t FROM st),
        |sc AS (SELECT g.doc_id,
        |    CAST(round(ln(CASE WHEN ctx.c_ctx IS NULL
        |      THEN CAST(coalesce(cont.n_prec, 0) + 1 AS DOUBLE) / (dd.t + v.v)
        |      ELSE (greatest(CAST(coalesce(bc.cnt, 0) AS DOUBLE) - dd.d, 0.0)
        |            + (dd.d * CAST(ctx.n_follow AS DOUBLE)) * (CAST(coalesce(cont.n_prec, 0) + 1 AS DOUBLE) / (dd.t + v.v)))
        |           / CAST(ctx.c_ctx AS DOUBLE) END) * 1000000.0) AS BIGINT) AS q
        |  FROM bg g
        |  LEFT JOIN bc ON bc.bigram = g.bigram
        |  LEFT JOIN ctx ON ctx.w1 = string_split(g.bigram, ' ')[1]
        |  LEFT JOIN cont ON cont.w2 = string_split(g.bigram, ' ')[2], dd, v),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, CAST(sum(q) AS BIGINT) AS logprob_micro FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams, coalesce(a.logprob_micro, 0) AS logprob_micro,
        |  CASE WHEN a.n_bigrams > 0 THEN CAST(a.logprob_micro AS DOUBLE) / (1000000.0 * a.n_bigrams) END AS avg_logprob
        |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Temperature rates recomputed in SQL: group counts -> quantized
    // sqrt weights (BIGINT — the denominator sum is order-free exact)
    // -> the fixed IEEE division chain -> floor(rate*2^32) as 8 hex
    // chars, then the standard hash-draw filter. sum CAST per the
    // HUGEINT rule.
    "sample_temperature" ->
      """WITH c AS (SELECT source AS g, count(*) AS n FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |q AS (SELECT g, n, CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT) AS qv FROM c),
        |d AS (SELECT CAST(sum(qv) AS BIGINT) AS denom FROM q),
        |t AS (SELECT g, least(1.0, CAST(200 AS DOUBLE) * qv / denom / n) AS rate FROM q, d)
        |SELECT doc_id, source FROM documents JOIN t ON source = t.g
        |WHERE rate >= 1.0 OR substr(md5(doc_id::VARCHAR || ':31'), 1, 8)
        |  < printf('%08x', CAST(floor(rate * 4294967296.0) AS BIGINT))
        |ORDER BY doc_id""".stripMargin,

    "sample_shuffle" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(doc_id::VARCHAR || ':5'), 1, 8) AS BIGINT) % 8 AS BIGINT) AS shard,
        |  substr(md5(doc_id::VARCHAR || ':5'), 1, 8) AS draw
        |FROM documents WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin,

    // PARTIAL oracle over the exported cluster assignment: the per-cell
    // draw is the sample_exact_n QUALIFY with the same md5 hash order.
    "sample_diverse" ->
      """SELECT id, cid FROM '{AUX}/div_assign/*.parquet'
        |QUALIFY row_number() OVER (PARTITION BY cid
        |  ORDER BY substr(md5(id::VARCHAR || ':7'), 1, 8), id) <= 10
        |ORDER BY id""".stripMargin,

    // Same gram construction as dedup_spans, distinct per language;
    // the scaffold cross-join prints zero-overlap pairs too.
    "source_overlap" ->
      """WITH w AS (SELECT lang, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
        |sh AS (SELECT lang, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g0 AS (SELECT lang AS grp, unnest(s) AS gram FROM sh),
        |g AS (SELECT DISTINCT grp, gram FROM g0),
        |sizes AS (SELECT grp, count(*) AS n FROM g GROUP BY 1),
        |shared AS (SELECT a.grp AS group_a, b.grp AS group_b, count(*) AS n_shared
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.grp < b.grp GROUP BY 1, 2)
        |SELECT sa.grp AS group_a, sb.grp AS group_b,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST(coalesce(sh2.n_shared, 0) AS DOUBLE)
        |    / (sa.n + sb.n - coalesce(sh2.n_shared, 0)) AS jaccard
        |FROM sizes sa JOIN sizes sb ON sa.grp < sb.grp
        |LEFT JOIN shared sh2 ON sh2.group_a = sa.grp AND sh2.group_b = sb.grp
        |ORDER BY 1, 2""".stripMargin,

    // The global-window form of the prefix sum the engine computes in
    // two distributed phases; // is integer division (both sides
    // truncate nonnegative values identically).
    // The identical mask chain on BIGINT (masks in decimal:
    // 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555).
    "zorder_key" ->
      """WITH c AS (SELECT doc_id,
        |  greatest(0, least(coalesce(n_chars, 0), 65535)) AS a,
        |  doc_id % 65536 AS b FROM documents),
        |s1 AS (SELECT doc_id, (a | (a << 8)) & 16711935 AS a, (b | (b << 8)) & 16711935 AS b FROM c),
        |s2 AS (SELECT doc_id, (a | (a << 4)) & 252645135 AS a, (b | (b << 4)) & 252645135 AS b FROM s1),
        |s3 AS (SELECT doc_id, (a | (a << 2)) & 858993459 AS a, (b | (b << 2)) & 858993459 AS b FROM s2),
        |s4 AS (SELECT doc_id, (a | (a << 1)) & 1431655765 AS a, (b | (b << 1)) & 1431655765 AS b FROM s3)
        |SELECT doc_id, CAST(a | (b << 1) AS BIGINT) AS z FROM s4 ORDER BY doc_id""".stripMargin,

    "pack_shards" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS shard_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // The written training layout read back: the same greedy cumsum on
    // the bounded slice, position = row_number within shard by doc order.
    "pack_write" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents WHERE doc_id < 4000),
        |p AS (SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS shard_id
        |FROM t)
        |SELECT shard_id,
        |  CAST(row_number() OVER (PARTITION BY shard_id ORDER BY doc_id) - 1 AS BIGINT) AS position,
        |  doc_id, n_tokens
        |FROM p ORDER BY shard_id, position""".stripMargin,

    // The quality cut as DuckDB's global window cumsum (doc_id is a
    // unique tie-break, so the default RANGE frame equals ROWS).
    // NOTE the CAST around the window sum: DuckDB's sum(BIGINT)
    // returns HUGEINT, which pandas renders as float64 and the
    // driver's row hash then stringifies "6226.0" vs Spark's "6226".
    // RULE: every DuckDB sum in an oracle is cast (to BIGINT for
    // integer inputs) — see also pack_shards above.
    "select_budget" ->
      """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_tokens
        |FROM documents)
        |SELECT doc_id, n_tokens, cum_tokens FROM t
        |WHERE cum_tokens <= 20000 ORDER BY doc_id""".stripMargin,

    // Mixture cut: the same cumsum PARTITIONed per language, each
    // checked against its own budget; 'fr' has none and drops.
    // Window sum cast to BIGINT for the same HUGEINT reason as above.
    "select_mixture" ->
      """WITH t AS (SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_tokens
        |FROM documents)
        |SELECT doc_id, lang, n_tokens, cum_tokens FROM t
        |WHERE cum_tokens <= CASE lang WHEN 'en' THEN 6000 WHEN 'zh' THEN 2000
        |  WHEN 'es' THEN 2000 WHEN 'de' THEN 1500 ELSE -1 END
        |ORDER BY doc_id""".stripMargin,

    // The composed pipeline, stated as the composition of its stages'
    // oracles: langid CASE -> word-count + en gate -> min-id-per-md5
    // dedup -> 5-gram NOT EXISTS decontamination vs the doc_id%10=0
    // bench split -> global-window prefix-sum packing at budget 2000.
    "corpus_prep" ->
      """WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |tk AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM corp),
        |sc AS (SELECT doc_id, text,
        |  list_contains(toks,'the')::INT + list_contains(toks,'a')::INT + list_contains(toks,'of')::INT + list_contains(toks,'to')::INT + list_contains(toks,'and')::INT + list_contains(toks,'in')::INT + list_contains(toks,'is')::INT + list_contains(toks,'it')::INT AS en,
        |  list_contains(toks,'der')::INT + list_contains(toks,'die')::INT + list_contains(toks,'das')::INT + list_contains(toks,'und')::INT + list_contains(toks,'ist')::INT + list_contains(toks,'nicht')::INT + list_contains(toks,'mit')::INT + list_contains(toks,'ein')::INT AS de,
        |  list_contains(toks,'le')::INT + list_contains(toks,'les')::INT + list_contains(toks,'et')::INT + list_contains(toks,'est')::INT + list_contains(toks,'des')::INT + list_contains(toks,'une')::INT + list_contains(toks,'dans')::INT + list_contains(toks,'que')::INT AS fr,
        |  list_contains(toks,'el')::INT + list_contains(toks,'los')::INT + list_contains(toks,'las')::INT + list_contains(toks,'es')::INT + list_contains(toks,'una')::INT + list_contains(toks,'por')::INT + list_contains(toks,'con')::INT + list_contains(toks,'para')::INT AS es,
        |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
        |FROM tk),
        |gated AS (SELECT doc_id, text FROM sc
        |  WHERE (CASE WHEN cjk > 0 THEN 'zh'
        |    WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |    WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |    WHEN fr >= es AND fr > 0 THEN 'fr'
        |    WHEN es > 0 THEN 'es' ELSE 'und' END) = 'en'
        |  AND (CASE WHEN trim(text) = '' THEN 0 ELSE CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS INTEGER) END) >= 8),
        |ded AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep_id
        |  FROM gated) WHERE doc_id = keep_id),
        |w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM ded),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bw AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |       FROM documents WHERE doc_id % 10 = 0),
        |bsh AS (SELECT CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM bw),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
        |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bench b ON g.gram = b.gram),
        |clean AS (SELECT d.doc_id, d.text FROM ded d
        |          WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM clean)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS shard_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // The archive-to-shards composition: the warc_ingest extraction
    // chain (static Web/Prep furniture) feeds corpus_prep's CTE chain
    // over the EXTRACTED text — langid CASE, word-count gate, min-id
    // exact dedup, width-6 gram decontamination vs the %40 bench
    // split, prefix-sum packing. Any archive-framing, charset, or
    // extraction corruption upstream breaks every downstream row.
    "web_prep" ->
      """WITH h AS (SELECT doc_id,
        |  '<html><head><title>Web</title><style>p{color:red}</style><script>if (1 < 2) { x(); }</script></head><body><!-- crawl --><h1>Web &amp; Prep</h1><p class="main">' || text || ' « café § »&nbsp;&lt;end&gt;</p></body></html>' AS html
        |  FROM documents WHERE doc_id % 8 = 0),
        |x AS (SELECT doc_id, trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
        |      '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>', ' ', 'gis'),
        |      '<!--.*?-->', ' ', 'gs'),
        |      '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' ', 'g'),
        |      '&lt;', '<', 'g'),
        |      '&gt;', '>', 'g'),
        |      '&quot;', '"', 'g'),
        |      '&#39;', '''', 'g'),
        |      '&apos;', '''', 'g'),
        |      '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text FROM h),
        |corp AS (SELECT doc_id, text FROM x WHERE doc_id % 40 <> 0),
        |tk AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM corp),
        |sc AS (SELECT doc_id, text,
        |  list_contains(toks,'the')::INT + list_contains(toks,'a')::INT + list_contains(toks,'of')::INT + list_contains(toks,'to')::INT + list_contains(toks,'and')::INT + list_contains(toks,'in')::INT + list_contains(toks,'is')::INT + list_contains(toks,'it')::INT AS en,
        |  list_contains(toks,'der')::INT + list_contains(toks,'die')::INT + list_contains(toks,'das')::INT + list_contains(toks,'und')::INT + list_contains(toks,'ist')::INT + list_contains(toks,'nicht')::INT + list_contains(toks,'mit')::INT + list_contains(toks,'ein')::INT AS de,
        |  list_contains(toks,'le')::INT + list_contains(toks,'les')::INT + list_contains(toks,'et')::INT + list_contains(toks,'est')::INT + list_contains(toks,'des')::INT + list_contains(toks,'une')::INT + list_contains(toks,'dans')::INT + list_contains(toks,'que')::INT AS fr,
        |  list_contains(toks,'el')::INT + list_contains(toks,'los')::INT + list_contains(toks,'las')::INT + list_contains(toks,'es')::INT + list_contains(toks,'una')::INT + list_contains(toks,'por')::INT + list_contains(toks,'con')::INT + list_contains(toks,'para')::INT AS es,
        |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
        |FROM tk),
        |gated AS (SELECT doc_id, text FROM sc
        |  WHERE (CASE WHEN cjk > 0 THEN 'zh'
        |    WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |    WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |    WHEN fr >= es AND fr > 0 THEN 'fr'
        |    WHEN es > 0 THEN 'es' ELSE 'und' END) = 'en'
        |  AND (CASE WHEN trim(text) = '' THEN 0 ELSE CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS INTEGER) END) >= 8),
        |ded AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep_id
        |  FROM gated) WHERE doc_id = keep_id),
        |w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM ded),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 6
        |  THEN [array_to_string(ws[i:i+5], ' ') for i in range(1, len(ws) - 4)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bw AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM x WHERE doc_id % 40 = 0),
        |bsh AS (SELECT CASE WHEN len(ws) >= 6
        |  THEN [array_to_string(ws[i:i+5], ' ') for i in range(1, len(ws) - 4)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM bw),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
        |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bench b ON g.gram = b.gram),
        |clean AS (SELECT d.doc_id, d.text FROM ded d
        |          WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM clean)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS shard_id
        |FROM t ORDER BY doc_id""".stripMargin,

    // corpus_prep's chain with dedup_minhash's all-pairs trigram-Jaccard
    // CTE spliced between exact dedup (ded) and decontamination: `near`
    // drops every doc whose Jaccard vs a smaller-id doc is >= 0.5, and
    // the downstream gram/clean/pack CTEs read from `near` instead of
    // `ded`.
    "corpus_prep_near" ->
      """WITH corp AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |tk AS (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM corp),
        |sc AS (SELECT doc_id, text,
        |  list_contains(toks,'the')::INT + list_contains(toks,'a')::INT + list_contains(toks,'of')::INT + list_contains(toks,'to')::INT + list_contains(toks,'and')::INT + list_contains(toks,'in')::INT + list_contains(toks,'is')::INT + list_contains(toks,'it')::INT AS en,
        |  list_contains(toks,'der')::INT + list_contains(toks,'die')::INT + list_contains(toks,'das')::INT + list_contains(toks,'und')::INT + list_contains(toks,'ist')::INT + list_contains(toks,'nicht')::INT + list_contains(toks,'mit')::INT + list_contains(toks,'ein')::INT AS de,
        |  list_contains(toks,'le')::INT + list_contains(toks,'les')::INT + list_contains(toks,'et')::INT + list_contains(toks,'est')::INT + list_contains(toks,'des')::INT + list_contains(toks,'une')::INT + list_contains(toks,'dans')::INT + list_contains(toks,'que')::INT AS fr,
        |  list_contains(toks,'el')::INT + list_contains(toks,'los')::INT + list_contains(toks,'las')::INT + list_contains(toks,'es')::INT + list_contains(toks,'una')::INT + list_contains(toks,'por')::INT + list_contains(toks,'con')::INT + list_contains(toks,'para')::INT AS es,
        |  length(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS cjk
        |FROM tk),
        |gated AS (SELECT doc_id, text FROM sc
        |  WHERE (CASE WHEN cjk > 0 THEN 'zh'
        |    WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
        |    WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
        |    WHEN fr >= es AND fr > 0 THEN 'fr'
        |    WHEN es > 0 THEN 'es' ELSE 'und' END) = 'en'
        |  AND (CASE WHEN trim(text) = '' THEN 0 ELSE CAST(len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS INTEGER) END) >= 8),
        |ded AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS keep_id
        |  FROM gated) WHERE doc_id = keep_id),
        |nw AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM ded),
        |nsh AS (SELECT doc_id, CASE WHEN len(ws) >= 3
        |  THEN list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] for i in range(1, len(ws) - 1)])
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM nw),
        |npairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(list_concat(a.s, b.s))) AS j
        |  FROM nsh a JOIN nsh b ON a.doc_id < b.doc_id),
        |near AS (SELECT doc_id, text FROM ded
        |  WHERE doc_id NOT IN (SELECT id_b FROM npairs WHERE j >= 0.5)),
        |w AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws FROM near),
        |sh AS (SELECT doc_id, CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM w),
        |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
        |bw AS (SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS ws
        |       FROM documents WHERE doc_id % 10 = 0),
        |bsh AS (SELECT CASE WHEN len(ws) >= 5
        |  THEN [array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)]
        |  ELSE [array_to_string(ws, ' ')] END AS s FROM bw),
        |bench AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
        |flagged AS (SELECT DISTINCT g.doc_id FROM g JOIN bench b ON g.gram = b.gram),
        |clean AS (SELECT d.doc_id, d.text FROM near d
        |          WHERE NOT EXISTS (SELECT 1 FROM flagged f WHERE f.doc_id = d.doc_id)),
        |t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM clean)
        |SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) // 2000 AS BIGINT) AS shard_id
        |FROM t ORDER BY doc_id""".stripMargin,

    "ann_topk" ->
      """WITH probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pv
        |                FROM embeddings WHERE vec_id < 5),
        |sims AS (SELECT p.probe_id, e.vec_id AS neighbor_id,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), p.pv), 6) AS sim
        |  FROM embeddings e, probes p WHERE e.vec_id <> p.probe_id),
        |ranked AS (SELECT probe_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
        |  FROM sims)
        |SELECT probe_id, neighbor_id, sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,

    // Same normalization + md5 as text_fingerprint; sides split on
    // doc_id parity, membership via per-key max-flags (no join).
    "overlap_exact" ->
      """WITH t AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS k FROM documents),
        |m AS (SELECT k, max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS ina,
        |             max(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END) AS inb
        |      FROM t WHERE k IS NOT NULL GROUP BY k)
        |SELECT CAST(sum(ina) AS BIGINT) AS n_a, CAST(sum(inb) AS BIGINT) AS n_b,
        |  count(*) AS n_union, CAST(sum(ina * inb) AS BIGINT) AS n_overlap
        |FROM m""".stripMargin,

    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + octet_length(encode(text)) % 640 AS INTEGER) AS width,
        |  CAST(16 + (octet_length(encode(text)) * 7) % 480 AS INTEGER) AS height,
        |  CASE octet_length(encode(text)) % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS format,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY 1""".stripMargin,

    // The arithmetic mirror of Media.syntheticContainer: what the real
    // header parser must read back out of the constructed containers.
    // `((x % m) + m) % m` is the floorMod the container builder uses —
    // plain SQL % returns negative remainders, so spelling it out keeps
    // the gate total if a dataset ever carries negative doc_ids.
    "multimodal_real" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + ((doc_id % 600) + 600) % 600 AS INTEGER) AS width,
        |  CAST(16 + (((doc_id * 3) % 400) + 400) % 400 AS INTEGER) AS height,
        |  CASE ((doc_id % 5) + 5) % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
        |       WHEN 3 THEN 'webp' ELSE 'bmp' END AS format,
        |  CAST(CASE ((doc_id % 5) + 5) % 5 WHEN 0 THEN 33 WHEN 1 THEN 12 WHEN 2 THEN 13
        |       WHEN 3 THEN 25 ELSE 54 END AS BIGINT) AS n_bytes
        |FROM documents ORDER BY 1""".stripMargin,

    // The arithmetic mirror of Media.syntheticAvContainer: every field
    // AvHeaderDecoder must parse back out of the constructed WAV / FLAC /
    // MP3 / OGG / ISO-BMFF containers. Same floorMod spelling as
    // multimodal_real; fields outside a format's modality are 0 by the
    // unified-record contract. MP3's rate is the header's 2-bit table
    // index ({44100,48000,32000}), its channel count the mono/stereo
    // mode bit; container sizes are fixed per format. The ISO-BMFF slot
    // (id%5=4) sub-cycles mp4/avif/heic by floorDiv(id,5)%3 — spelled
    // `(doc_id - floorMod) // 5` so the floor-div matches Scala's
    // Math.floorDiv for negative ids too; dims are the same arithmetic
    // in all three, only the carrying box differs (tkhd vs ispe).
    "multimodal_av" ->
      """WITH m AS (SELECT doc_id, ((doc_id % 5) + 5) % 5 AS slot,
        |  (((((doc_id - ((doc_id % 5) + 5) % 5) // 5) % 3) + 3) % 3) AS sub
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CAST(CASE WHEN slot = 4
        |       THEN 16 + ((doc_id % 600) + 600) % 600 ELSE 0 END AS INTEGER) AS width,
        |  CAST(CASE WHEN slot = 4
        |       THEN 16 + (((doc_id * 3) % 400) + 400) % 400 ELSE 0 END AS INTEGER) AS height,
        |  CAST(CASE slot
        |       WHEN 2 THEN CASE ((doc_id % 3) + 3) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END
        |       WHEN 4 THEN 0
        |       ELSE 8000 + ((doc_id % 40000) + 40000) % 40000 END AS INTEGER) AS sample_rate,
        |  CAST(CASE slot
        |       WHEN 1 THEN 1 + ((doc_id % 8) + 8) % 8
        |       WHEN 2 THEN CASE ((doc_id % 2) + 2) % 2 WHEN 0 THEN 2 ELSE 1 END
        |       WHEN 4 THEN 0
        |       ELSE 1 + ((doc_id % 2) + 2) % 2 END AS INTEGER) AS channels,
        |  CAST(CASE slot
        |       WHEN 0 THEN 8 * (1 + ((doc_id % 3) + 3) % 3)
        |       WHEN 1 THEN 16 ELSE 0 END AS INTEGER) AS bits,
        |  CASE slot WHEN 0 THEN 'wav' WHEN 1 THEN 'flac' WHEN 2 THEN 'mp3'
        |       WHEN 3 THEN 'ogg'
        |       ELSE CASE sub WHEN 0 THEN 'mp4' WHEN 1 THEN 'avif' ELSE 'heic' END END AS format,
        |  CAST(CASE slot WHEN 0 THEN 44 WHEN 1 THEN 42 WHEN 2 THEN 4
        |       WHEN 3 THEN 58
        |       ELSE CASE sub WHEN 0 THEN 124 ELSE 64 END END AS BIGINT) AS n_bytes
        |FROM m ORDER BY 1""".stripMargin,
  )
}
