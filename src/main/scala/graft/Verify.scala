package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The session MUST come from [[GraftSession]]: it owns the library's
  * required confs (UTC, nanosAsLong for events.parquet, shuffle
  * partitions) — building a raw session here is how q10/q18 silently
  * lost their gate in round 3. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must leave EVIDENCE, not silence: round 12's events
    // dtype drift broke 3 queries and the artifact still read "all
    // green" because the rows were simply absent. Write a _failed_<name>
    // marker FILE (the driver's result glob picks up directories, one
    // per query, so a plain file can never masquerade as a green row)
    // carrying the exception, and a _manifest.json declaring the full
    // query list — row-count can then never be mistaken for coverage.
    // Dev-only subset filter (comma-separated names); the driver never
    // sets it, so driver runs always dump — and declare — everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case None => SparkEntry.queries
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
    }
    val failedQueries = selected.flatMap { case (name, fn) =>
      val r =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // A marker left by a previous run into the same outDir would
          // contradict this run's success — evidence must be current.
          Files.deleteIfExists(Paths.get(s"$outDir/_failed_$name"))
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Files.writeString(Paths.get(s"$outDir/_failed_$name"),
            s"${e.getClass.getName}: ${e.getMessage}\n")
          Some(name)
        }
      // Result is on disk — release the persists and checkpoints the
      // query's operators registered under this session, so the full
      // sequential sweep doesn't stack pinned frames (see
      // GraftSession.releaseCachedBlocks).
      GraftSession.releaseCachedBlocks(spark)
      r
    }.toList.sorted
    // Aux exports backing the partial oracles (see SparkEntry.auxExports)
    // — written to a SIBLING of outDir so the driver's query-result
    // glob (every directory under outDir = one query) can never pick
    // the export tree up as a pseudo-query row (r10's `_aux no_oracle`
    // row in CORRECTNESS was exactly that miscount).
    // Normalized before appending: a trailing "/" in the driver's
    // outDir would otherwise turn the sibling into outDir/_aux INSIDE
    // the output tree — the glob-miscount this sibling move fixed.
    val auxDir = new java.io.File(outDir).getAbsolutePath + "_aux"
    val failedAux = SparkEntry.auxExports.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$auxDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] aux $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toSet
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Partial oracles read the aux exports by path: resolve {AUX} to
    // the absolute sibling dir HERE (only Verify knows it) so the
    // dumped SQL is runnable verbatim by the driver's DuckDB, whatever
    // its cwd. An oracle whose aux export failed to write is DROPPED
    // (the query degrades to the driver's rows-only check) — emitting
    // SQL that points at missing parquet would crash the compare loop.
    val absAux = new java.io.File(auxDir).getAbsolutePath
    val json = SparkEntry.oracleSql
      .filter { case (k, _) =>
        !SparkEntry.auxBackedOracles.get(k).exists(failedAux.contains)
      }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{AUX}", absAux))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Coverage manifest: declared vs failed, so a consumer of the result
    // tree can detect missing rows without trusting its own glob.
    // A SPARK_GRAFT_ONLY subset run records itself IN the manifest
    // (`subset` + the filter), so a consumer that trusts the manifest
    // alone can reject filtered runs instead of relying on the
    // convention that the driver never sets the env var.
    val declared = selected.keys.toList.sorted
    val subsetFields = only match {
      case None => s""""subset": false, """
      case Some(names) =>
        s""""subset": true, "only": ${names.toList.sorted.map(q).mkString("[", ",", "]")}, """
    }
    val manifest =
      s"""{$subsetFields"declared_count": ${declared.size}, "failed_count": ${failedQueries.size}, """ +
        s""""declared": ${declared.map(q).mkString("[", ",", "]")}, """ +
        s""""failed": ${failedQueries.map(q).mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get(s"$outDir/_manifest.json"), manifest)
    spark.stop()
  }
}
