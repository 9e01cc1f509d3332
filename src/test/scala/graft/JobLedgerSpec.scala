package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The job ledger: how many Spark jobs every `SparkEntry.queries` entry
  * launches on sf0.001, while its frame is built and in one `noop`
  * write of the result, against the counts checked in at
  * `src/test/resources/job_ledger.tsv`. A Spark job is the unit of the
  * library's fixed cost at small scale, so a count above the ledger is
  * a regression and a count below it is a gain that must show in the
  * ledger's diff: both fail. Each run writes what it measured, with the
  * time per query as information only, to
  * `target/job_ledger.measured.tsv`; copy its first three columns over
  * the ledger to accept a change.
  *
  * The session is pinned: the shared local[4] test session with 4
  * shuffle partitions and AQE on, every query built from an empty cache
  * and in name order. */
class JobLedgerSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val measuredPath = Paths.get("target", "job_ledger.measured.tsv")

  private def ledger: Map[String, (Int, Int)] =
    scala.io.Source.fromResource("job_ledger.tsv").getLines()
      .filterNot(l => l.isEmpty || l.startsWith("query\t"))
      .map { l =>
        val Array(q, b, a) = l.split('\t')
        q -> (b.toInt, a.toInt)
      }.toMap

  test("every SparkEntry query launches exactly its ledger's build and action jobs") {
    assert(spark.sparkContext.defaultParallelism == 4, "the ledger is pinned to local[4]")
    val want = ledger
    val measured = withConf("spark.sql.shuffle.partitions" -> "4",
        "spark.sql.adaptive.enabled" -> "true") {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
        spark.catalog.clearCache()
        GraftSession.releaseCachedBlocks(spark)
        val t0 = System.nanoTime()
        val (df, build) = jobsDuring(q(spark, dir))
        val t1 = System.nanoTime()
        val (_, action) = jobsDuring(df.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        (name, build, action, (t1 - t0) / 1000000L, (t2 - t1) / 1000000L)
      }
    }
    spark.catalog.clearCache()
    GraftSession.releaseCachedBlocks(spark)
    Files.createDirectories(measuredPath.getParent)
    Files.write(measuredPath, ("query\tbuild_jobs\taction_jobs\tbuild_ms\taction_ms" +:
      measured.map(m => m.productIterator.mkString("\t"))).asJava, StandardCharsets.UTF_8)

    val got = measured.map(m => m._1 -> (m._2, m._3)).toMap
    val moved = (got.keySet ++ want.keySet).toSeq.sorted.flatMap { q =>
      (want.get(q), got.get(q)) match {
        case (Some(w), Some(g)) if w == g => None
        case (Some(w), Some(g)) =>
          val way = if (g._1 > w._1 || g._2 > w._2) "ABOVE" else "below"
          Some(s"$q: (build, action) jobs $g $way the ledger's $w")
        case (None, Some(g)) => Some(s"$q: not in the ledger, measured $g")
        case (Some(w), None) => Some(s"$q: in the ledger as $w but no longer a SparkEntry query")
        case _ => None
      }
    }
    assert(moved.isEmpty,
      s"${moved.size} queries moved against the job ledger (a count below it is a gain: " +
        s"update src/test/resources/job_ledger.tsv from $measuredPath):\n${moved.mkString("\n")}")
  }
}
