package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * one COMPACT JSON line as the LAST line of stdout. A full warmup pass
  * first (JIT + codegen + file-listing caches), then timed steady-state
  * passes — the driver compares steady-state throughput against
  * BASELINE, not JVM warmup. The action is
  * `queryExecution.toRdd.count()` so every output column is
  * materialized (a plain count() lets Catalyst prune the projection and
  * would under-report the real work).
  *
  * Artifact contract (round 16): the driver tail-captures the LAST
  * ~2000 bytes of stdout and parses the last JSON line — a hard
  * budget the full per-query map no longer fits (r15: 103 queries ≈
  * 2.5 KB, and the official artifact landed `parsed: null` with its
  * line head cut off; r9 hit the same wall with per-pass telemetry).
  * So the record is SPLIT by consumer:
  *   - LAST stdout line (the driver's machine-readable record, ≤ ~1 KB
  *     by construction): total, sf, n_failed/failed, flags, plus
  *     `queries` restricted to the 31 BASELINE-SHARED names (the
  *     BENCH_r04 snapshot the 2× bar is judged against — the one
  *     per-query set the artifact MUST carry), `n_queries`, and
  *     `queries_full` naming the full-map file.
  *   - `bench_summary.json` (or $SPARK_GRAFT_BENCH_SUMMARY): the
  *     COMPLETE official line — same fields, full per-query map —
  *     also printed to stdout BEFORE the last line so the run log
  *     carries it even if the file is lost.
  *   - `bench_passes.json` (or $SPARK_GRAFT_BENCH_SIDECAR): per-pass
  *     telemetry + `query_mins` (the same full map, machine-readable
  *     without stdout forensics).
  *
  * Pass hygiene: three passes, each a SEEDED random permutation of the
  * query list (seed recorded in the sidecar; override with
  * $SPARK_GRAFT_BENCH_SEED to reproduce an order). Fixed interleaved
  * order (rounds 5–9) spaced a query's samples a full pass apart — good
  * against a sustained noisy window — but late-run ambient contention
  * still hit the SAME tail queries every pass, biasing their min.
  * Random per-pass order makes the contention-vs-query assignment
  * independent across passes, so a query's min-of-3 escapes a biased
  * tail with high probability.
  *
  * Failure hygiene: a query that throws is OMITTED from the queries map
  * (a sentinel inside the map corrupts any consumer that sums it) and
  * listed explicitly in "failed" + n_failed; the error goes to stderr
  * and the process exits nonzero if anything failed. The JSON line
  * still prints so partial results are usable.
  *
  * Contention hygiene (round 12, honest per-pass since round 13): if
  * the 1-min system load average exceeds $SPARK_GRAFT_BENCH_LOAD_MAX
  * (default 1.0) before the timed passes, the run backs off once
  * ($SPARK_GRAFT_BENCH_LOAD_BACKOFF_S, default 90 s) and re-measures.
  * DURING the passes the 1-min loadavg is dominated by the bench's own
  * threads, so a sampler thread instead measures system CPU minus this
  * JVM's CPU every 2 s; each pass records its average ambient
  * busy-cores and a quiet flag against the same threshold. If any pass
  * was hot, one extra quiet-twin pass runs after a longer backoff
  * (min-of-N only improves; disable with SPARK_GRAFT_BENCH_QUIET_RETRY=0).
  * Contamination anywhere (pre-warmup or per-pass) stamps
  * "contended":true on the official line. Non-default knobs
  * (passes/warmup/filter) also stamp the line — a probe run
  * self-identifies.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val sidecarPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SIDECAR", "bench_passes.json")
    val seed = sys.env.get("SPARK_GRAFT_BENCH_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    // Stress-run knobs (official driver runs use the defaults): pass
    // count and warmup toggle, so a multi-minute-per-query stress SF
    // can be probed in one timed pass instead of 4 full sweeps.
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val doWarmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"
    // Comma-separated query filter for stress iteration (e.g.
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,q14_agg_global probes one change
    // against the two scan-bound queries without a 9-minute sweep).
    // Official driver runs leave it unset = all queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).queryExecution.toRdd.count(): Unit

    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def load: Double = osBean.getSystemLoadAverage // 1-min avg; -1 if unsupported

    // Per-pass ambient-load sampler (round 13). The 1-min loadavg is
    // useless DURING a pass — the bench's own `cpus` threads dominate it,
    // so comparing it to loadMax would flag every run (r12's sidecar
    // recorded per-pass loadavgs 1.98/2.85 that were mostly self-load).
    // Instead sample system-wide CPU minus THIS JVM's CPU every 2 s
    // (com.sun.management MXBean; both in [0,1] of total capacity) and
    // scale to busy cores: that difference is exactly the machine
    // weather the official number should be judged against. A pass is
    // `quiet` iff its average ambient busy-cores ≤ loadMax — the same
    // threshold semantics as the pre-warmup guard.
    val sunBean: Option[com.sun.management.OperatingSystemMXBean] = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => Some(b)
      case _ => None
    }
    val ambientBuf = scala.collection.mutable.ListBuffer.empty[Double]
    @volatile var sampling = false
    sunBean.foreach { b =>
      val cores = Runtime.getRuntime.availableProcessors
      val t = new Thread(() => while (true) {
        Thread.sleep(2000L)
        val sys = b.getCpuLoad
        val own = b.getProcessCpuLoad
        // NaN fails >= 0 too, but guard it by name: getCpuLoad returns
        // NaN before a usage delta exists (first tick), and one NaN
        // sample would poison the window average into a spurious "hot".
        if (sampling && sys >= 0 && own >= 0 && !sys.isNaN && !own.isNaN)
          ambientBuf.synchronized { ambientBuf += math.max(0.0, (sys - own) * cores) }
      }, "bench-ambient-sampler")
      t.setDaemon(true)
      t.start()
    }
    if (sunBean.isEmpty) System.err.println(
      "[bench] WARNING: com.sun.management OperatingSystemMXBean unavailable — " +
        "per-pass ambient sampling is OFF; pass_quiet will be null and per-pass " +
        "contention cannot stamp the official line")
    def sampleWindow[A](body: => A): (A, Option[Double]) = {
      ambientBuf.synchronized(ambientBuf.clear())
      sampling = true
      val r = body
      sampling = false
      val xs = ambientBuf.synchronized(ambientBuf.toList)
      // A window shorter than the sampler period (fast filtered probe
      // passes) would otherwise yield no measurement and read as
      // not-hot; fall back to one synchronous snapshot so every pass
      // with a working MXBean gets a real quiet/hot verdict.
      val measured =
        if (xs.nonEmpty) Some(xs.sum / xs.size)
        else sunBean.flatMap { b =>
          val sys = b.getCpuLoad
          val own = b.getProcessCpuLoad
          // NaN < 0 is FALSE, so the sign check alone would let a
          // first-tick NaN through; NaN <= loadMax then reads as hot.
          if (sys < 0 || own < 0 || sys.isNaN || own.isNaN) None
          else Some(math.max(0.0, (sys - own) * Runtime.getRuntime.availableProcessors))
        }
      (r, measured)
    }

    // Contention guard (round 12): BENCH_r11's official artifact was
    // taken under ambient load (load_avg 2.12 at start) and overstated
    // cost ~1.3× vs a quiet same-HEAD run. An artifact that misstates
    // the engine is worse than a late one — so if the 1-min load
    // average exceeds the threshold, back off once and re-measure. If
    // it is STILL hot, the run proceeds (the driver needs its artifact)
    // but the contamination is recorded in the sidecar AND flagged on
    // the official line, so a polluted number can never again read as a
    // regression. The ambient reading happens BEFORE the warmup pass —
    // after it, the JVM's own 32-thread warmup dominates the 1-min
    // average and every run would flag itself.
    val loadMax = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_MAX", "1.0").toDouble
    val backoffS = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_BACKOFF_S", "90").toInt
    val loadFirst = load
    val backedOff = loadFirst > loadMax
    if (backedOff) {
      System.err.println(
        s"[bench] CONTENTION: ambient load_avg ${"%.2f".format(loadFirst)} > $loadMax; " +
        s"backing off ${backoffS}s for the 1-min average to drain")
      Thread.sleep(backoffS * 1000L)
    }
    val loadBefore = load
    val contended = loadBefore > loadMax
    if (contended) System.err.println(
      s"[bench] CONTENTION PERSISTS: load_avg ${"%.2f".format(loadBefore)} after backoff — " +
      "artifact will carry \"contended\":true; treat totals as an upper bound")

    // Between-query hygiene: the composed pipelines localCheckpoint
    // intermediates, and checkpoint blocks are pinned (spillable, never
    // evictable) until explicitly released. Left in place they
    // accumulate across the sweep — warmup + 3 passes stack 100+ frames
    // — and squeeze execution memory for every later query (measured as
    // a monotone pass-over-pass drift, e.g. text_langid 0.89→1.78→2.01).
    // Each query is timed from the steady state a real job sees: result
    // consumed, blocks released. Runs AFTER the clock stops.
    def release(): Unit = GraftSession.releaseCachedBlocks(spark)

    if (doWarmup) qs.foreach { case (name, fn) =>
      try run(fn)
      catch { case e: Throwable => System.err.println(s"[bench warmup] $name: ${e.getMessage}") }
      release()
    }
    // Shared-input prewarm (r17 verdict #7): when the full warmup pass
    // is OFF (the sf10 single-pass stress config), whichever query
    // first touches a big table pays its cold scan — the as-of twins
    // recorded 5-10x first-vs-second swings from exactly this across
    // r15-r17, poisoning round-over-round comparisons. One counted
    // raw scan per input table warms the page cache + file listings
    // for everyone equally, so per-query times measure the OPERATOR,
    // not scan lottery. Cost: one sequential read of the dataset —
    // tiny next to the pass it de-noises. Recorded in the sidecar.
    val inputPrewarm = !doWarmup
    if (inputPrewarm) {
      Seq("events", "documents", "embeddings", "lineitem", "orders",
          "customer", "supplier", "part", "nation", "region").foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").queryExecution.toRdd.count(): Unit
        catch { case e: Throwable => System.err.println(s"[bench prewarm] $t: ${e.getMessage}") }
      }
      release()
    }

    var failed = Set.empty[String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val passLoads = scala.collection.mutable.ListBuffer.empty[Double]
    val passAmbient = scala.collection.mutable.ListBuffer.empty[Option[Double]]
    val passQuiet = scala.collection.mutable.ListBuffer.empty[Option[Boolean]]
    def runPass(passSeed: Long): Seq[String] = {
      passLoads += load
      val rnd = new scala.util.Random(passSeed)
      val order = rnd.shuffle(qs)
      val (_, amb) = sampleWindow {
        order.foreach { case (name, fn) =>
          if (!failed(name)) {
            val t0 = System.nanoTime()
            try {
              run(fn)
              val dt = (System.nanoTime() - t0) / 1e9
              samples(name) = samples.getOrElse(name, Nil) :+ dt
            } catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                failed += name
            }
            release()
          }
        }
      }
      passAmbient += amb
      passQuiet += amb.map(_ <= loadMax)
      order.map(_._1)
    }
    val baseOrders = (1 to nPasses).map(pass => runPass(seed + pass))
    // Quiet-run twin (round 13): when ambient load contaminated any timed
    // pass, back off longer and run ONE extra pass. min-of-N only
    // improves from a quieter sample, so including it keeps the official
    // line honest about the ENGINE; the sidecar records which passes
    // were quiet so machine weather is attributable without a manual
    // STRESS cross-reference. Disable with SPARK_GRAFT_BENCH_QUIET_RETRY=0.
    val quietRetryOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_RETRY", "1") != "0"
    val anyPassHot = passQuiet.exists(_.contains(false))
    val retriedQuiet = quietRetryOn && anyPassHot
    val orders =
      if (!retriedQuiet) baseOrders
      else {
        System.err.println(
          s"[bench] ambient load contaminated ${passQuiet.count(_.contains(false))} " +
          s"pass(es); backing off ${2 * backoffS}s for a quiet-twin pass")
        Thread.sleep(2L * backoffS * 1000L)
        baseOrders :+ runPass(seed + nPasses + 1)
      }
    // Auto-probe (r19 — kills the sf10 "weather tax"): every round the
    // single-pass sf10 sweep produced 5-10 up-movers that demanded
    // manual fresh-probe reclassification (r18: source_overlap read
    // 65.6 s in the sweep, 7.6 s probed). With SPARK_GRAFT_BENCH_REF
    // pointing at the prior round's sidecar (query_mins) or summary
    // (queries), any query whose min exceeds
    // $SPARK_GRAFT_BENCH_MOVER_FACTOR (default 3.0) × its reference
    // re-times ONCE after a backoff, in the same run — min-of-N only
    // improves, so a weather-inflated sample can't survive as the
    // official number, and the probe is recorded in the sidecar
    // ("auto_probed") instead of a manual reclassification section.
    // Queries without a reference row (new gates) are skipped.
    val refPath = sys.env.get("SPARK_GRAFT_BENCH_REF")
    // Factor 2.0 since r20 (was 3.0): the 3.0 bar let two 2-3x sf10
    // movers (dedup_embedding 2.82x, nb_classify 2.31x) through
    // unprobed in r19. Malformed env values fall back with a warning
    // instead of aborting the whole sweep (ADVICE r19).
    val moverFactor = sys.env.get("SPARK_GRAFT_BENCH_MOVER_FACTOR")
      .flatMap { s =>
        val v = s.toDoubleOption
        if (v.isEmpty) System.err.println(
          s"[bench] WARNING: SPARK_GRAFT_BENCH_MOVER_FACTOR '$s' is not a number; using 2.0")
        v
      }.getOrElse(2.0)
    val refMins: Map[String, Double] = refPath match {
      case None => Map.empty
      case Some(p) =>
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p)), "UTF-8")
          // both reference shapes are FLAT {"name":sec,...} objects
          val key = if (txt.contains("\"query_mins\":{")) "\"query_mins\":{" else "\"queries\":{"
          val start = txt.indexOf(key)
          val body =
            if (start < 0) ""
            else txt.substring(start + key.length, txt.indexOf('}', start))
          // Enforce the flat-object invariant the substring scan relies
          // on (ADVICE r19): a nested '{' inside the scanned body means
          // the first-'}' termination truncated the map — better to
          // disable auto-probe loudly than mis-target it silently.
          if (body.contains('{')) {
            System.err.println(s"[bench] reference map in $p is not flat — auto-probe disabled")
            Map.empty
          } else {
            val Re = "\"([A-Za-z0-9_]+)\":([0-9][0-9.Ee+-]*)".r
            val m = Re.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
            System.err.println(s"[bench] loaded ${m.size} reference rows from $p")
            m
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] reference sidecar unreadable ($p): ${e.getMessage}")
            Map.empty
        }
    }
    val autoProbed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (refMins.nonEmpty) {
      val movers = qs.filter { case (name, _) =>
        !failed(name) && samples.get(name).exists(_.nonEmpty) &&
          refMins.get(name).exists(r => r > 0 && samples(name).min > moverFactor * r)
      }
      if (movers.nonEmpty) {
        System.err.println(s"[bench] auto-probe: ${movers.size} mover(s) > " +
          s"${moverFactor}x reference — re-timing after ${backoffS}s: " +
          movers.map(_._1).mkString(", "))
        Thread.sleep(backoffS * 1000L)
        movers.foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          try {
            run(fn)
            val dt = (System.nanoTime() - t0) / 1e9
            samples(name) = samples(name) :+ dt
            autoProbed(name) = dt
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] auto-probe $name FAILED: ${e.getMessage}")
          }
          release()
        }
      }
    }
    val loadAfter = load
    def f(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // Failed queries are OMITTED from the queries map and carried only in
    // the explicit "failed" list (+ n_failed): a -1.0 sentinel inside the
    // map silently corrupts any consumer that sums or averages per-query
    // values (ADVICE r12). A query can fail after a successful earlier
    // pass (flaky env) — treat any failure as failed, not its stale min.
    val results = qs.collect {
      case (name, _) if !failed(name) && samples.contains(name) =>
        name -> samples(name).min
    }
    val qjson = results.map { case (k, v) => s"\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // The per-query set BENCH_r04 (the BASELINE snapshot) carries — the
    // names the round-over-round 2× comparison is computed on. Static
    // by definition: it is a historical artifact's key set.
    val baselineShared = Set(
      "ann_ivf", "ann_lsh", "ann_topk", "dedup_embedding", "dedup_exact",
      "dedup_jaccard", "dedup_minhash", "dedup_simhash", "multimodal_meta",
      "q10_null_handling", "q11_distinct", "q12_concat", "q13_cast_schema",
      "q14_agg_global", "q15_semi_join", "q16_anti_join", "q17_list_ops",
      "q18_events_window", "q1_agg", "q2_filter_sort", "q3_join_agg",
      "q4_left_join", "q5_multi_join", "q6_conditional", "q7_string_ops",
      "q8_date_ops", "q9_window", "text_fingerprint", "text_langid",
      "text_quality", "text_tokens")
    val sharedQjson = results.collect {
      case (k, v) if baselineShared(k) => s"\"" + k + "\":" + f(v)
    }.mkString("{", ",", "}")

    // dedup_incremental phase attribution (sidecar-only): the official
    // per-query number gates the full production flow (cut + index
    // write + query) as one time; these split timings make
    // round-over-round deltas attributable to the phase that moved.
    val incrPhases: String =
      try {
        val (cut, writeIndex, query) = SparkEntry.incrementalPhases(spark, sfDir)
        def timed(fn: () => Unit): Double = {
          val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
        }
        val tCut = timed(() => { cut(); () })
        val tWrite = timed(writeIndex)
        val tQuery = timed(() => { query().queryExecution.toRdd.count(); () })
        // One release for the whole split (NOT between phases — the
        // three closures share checkpointed state by design).
        release()
        s"""{"cut":${f(tCut)},"index_write":${f(tWrite)},"query":${f(tQuery)}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] incremental phase split failed: ${e.getMessage}")
        "null"
      }

    // corpus_prep(_near) stage attribution (sidecar-only, r17): the
    // sf10 sweeps saw corpus_prep swing 97→278 s across same-HEAD
    // passes with no way to say which stage moved. Each stage thunk
    // materializes its own boundary (the flow's localCheckpoints), so
    // the stage times sum to ~the official flow time. Skipped on
    // filtered probe runs (the official artifact's deltas are what
    // need attributing).
    val corpusPhases: String =
      if (only.isDefined) "null"
      else try {
        def split(near: Boolean): String =
          // release() in finally — as the web_prep split below
          try {
            SparkEntry.corpusPrepPhases(spark, sfDir, near).map {
              case (name, fn) =>
                val t0 = System.nanoTime()
                fn().queryExecution.toRdd.count()
                s"\"" + name + "\":" + f((System.nanoTime() - t0) / 1e9)
            }.mkString("{", ",", "}")
          } finally release()
        s"""{"corpus_prep":${split(false)},"corpus_prep_near":${split(true)}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] corpus_prep phase split failed: ${e.getMessage}")
        "null"
      }

    // web_prep stage attribution (sidecar-only, r20): the sf10 sweep's
    // biggest single number (108 s at r19) had no breakdown; the
    // corpus_phases pattern applied to the archive flow — each stage
    // thunk materializes its own boundary, so a future regression
    // localizes to ingest/gate/dedup/pack.
    val webPhases: String =
      if (only.isDefined) "null"
      else try {
        // release() in finally (ADVICE r20): a stage throwing mid-split
        // would otherwise strand the already-materialized stages'
        // localCheckpoint blocks for the rest of the run, skewing every
        // later sidecar timing (the corpusPhases pattern).
        try {
          val parts = SparkEntry.webPrepPhases(spark, sfDir).map { case (name, fn) =>
            val t0 = System.nanoTime()
            fn().queryExecution.toRdd.count()
            s"\"" + name + "\":" + f((System.nanoTime() - t0) / 1e9)
          }
          parts.mkString("{", ",", "}")
        } finally release()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] web_prep phase split failed: ${e.getMessage}")
        "null"
      }

    // Sidecar-only A/B variants (the interpreted HOF twins of codegen'd
    // kernels) — one timed run each, never on the official line.
    // Skipped for filtered probe runs: they exist to make the OFFICIAL
    // artifact's round-over-round deltas attributable.
    val variantJson: String =
      if (only.isDefined) "null"
      else {
        val vs = SparkEntry.benchVariants.toSeq.sortBy(_._1).map { case (name, fn) =>
          val t0 = System.nanoTime()
          val v = try { run(fn); (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[bench] variant $name FAILED: ${e.getMessage}"); -1.0
          }
          release()
          s"\"" + name + "\":" + f(v)
        }
        vs.mkString("{", ",", "}")
      }

    val probedJson = autoProbed.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    // Telemetry sidecar: everything a human needs to judge whether a
    // bad number is contention or code — never on the parsed line.
    val pjson = qs.map { case (name, _) =>
      s"\"" + name + "\":" + samples.getOrElse(name, Nil).map(f).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val ojson = orders.map(_.map("\"" + _ + "\"").mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val loadsJson = passLoads.map(f).mkString("[", ",", "]")
    val ambJson = passAmbient.map(_.map(f).getOrElse("null")).mkString("[", ",", "]")
    val quietJson = passQuiet.map(_.map(_.toString).getOrElse("null")).mkString("[", ",", "]")
    // `contended` covers the WHOLE run: the pre-warmup loadavg guard OR
    // any timed pass whose sampled ambient CPU exceeded the threshold —
    // the r12 sidecar's contended:false next to hot per-pass loads could
    // not happen again by construction.
    val contendedAny = contended || anyPassHot
    val sidecar =
      s"""{"seed":$seed,"input_prewarm":$inputPrewarm,"load_avg_first":${f(loadFirst)},"load_avg_before":${f(loadBefore)},"load_avg_after":${f(loadAfter)},"load_avg_per_pass":$loadsJson,"ambient_cores_per_pass":$ambJson,"pass_quiet":$quietJson,"quiet_retry_pass":$retriedQuiet,"load_max":${f(loadMax)},"backed_off":$backedOff,"contended":$contendedAny,"contended_prewarmup":$contended,"cpus_jvm":${Runtime.getRuntime.availableProcessors},"auto_probe_ref":${refPath.map("\"" + _ + "\"").getOrElse("null")},"auto_probe_factor":${f(moverFactor)},"auto_probed":$probedJson,"incremental_phases":$incrPhases,"corpus_phases":$corpusPhases,"web_prep_phases":$webPhases,"variants":$variantJson,"query_mins":$qjson,"pass_orders":$ojson,"passes":$pjson}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecarPath), sidecar)
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    System.err.println(s"[bench] telemetry sidecar: $sidecarPath (seed=$seed)")

    // A stop() failure must never cost the artifact: a fully completed
    // run still prints its machine-readable line below.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    // Stdout record, in two lines (see the artifact contract above):
    // FIRST the complete summary (full per-query map — also written to
    // the summary file), LAST the tail-budgeted line the driver
    // parses. Non-default knobs stamp themselves onto both (a filtered
    // or 1-pass probe run must be distinguishable from an official
    // sweep without forensics on the query list — ADVICE r11), as does
    // persistent ambient contention. Since round 13 every line also
    // carries the explicit "failed" list (empty on a clean run) —
    // failed queries are no longer encoded as in-map sentinels.
    val flags = new StringBuilder
    if (nPasses != 3) flags ++= s""","passes":$nPasses"""
    if (!doWarmup) flags ++= ""","warmup":false"""
    only.foreach(o => flags ++= s""","filtered":${o.size}""")
    if (contendedAny) flags ++= s""","contended":true,"load_avg_before":${f(loadBefore)}"""
    if (retriedQuiet) flags ++= ""","quiet_retry_pass":true"""
    if (autoProbed.nonEmpty) flags ++= s""","auto_probed":${autoProbed.size}"""
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY", "bench_summary.json")
    val fullLine =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qjson,"sf":"$sfDir","n_failed":${failed.size},"failed":$failedJson$flags}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(summaryPath), fullLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] summary write failed: ${e.getMessage}") }
    println(fullLine)
    println(s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$sharedQjson,"n_queries":${results.size},"queries_full":"$summaryPath","sf":"$sfDir","n_failed":${failed.size},"failed":$failedJson$flags}""")
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
  }
}
