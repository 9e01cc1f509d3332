package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.operators.Dedup
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.col

/** The library's one parquet read path ([[Parquet]]): a typed read pins
  * its schema from one footer read on the driver, so building the
  * frame launches no Spark job, and the pinned schema is exactly the
  * one Spark's inference resolves. Inference stays where it must: no
  * data file (Spark's own error) and `mergeSchema=true`. */
class ParquetReadSpec extends SparkSpec {
  import fixtures._
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def usersDir(parts: Int, partitionBy: Seq[String] = Nil): String = {
    val dir = tmp("graft-pq-users") + "/t"
    Tio.writeParquet(Tio.fromDF(Tio.fromRows(spark, Users, users).df.repartition(parts), Users),
      dir, partitionBy)
    dir
  }

  private def sortedIds(f: TFrame[Users.type]): Seq[Long] =
    f.df.select("id").as[Long].collect().toSeq.sorted

  /** Stage a pyarrow-written fixture as `<tmp>/events.parquet`. */
  private def stageEvents(fixture: String): String = {
    val dir = Files.createTempDirectory("graft-pq-events")
    Files.copy(Paths.get(getClass.getResource(s"/$fixture").toURI), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }
  private val tsFixtures =
    Seq("events_ts_nanos.parquet", "events_ts_micros.parquet", "events_ts_micros_utc.parquet")

  test("typed parquet reads launch no Spark job: file, multi-file dir, partitioned dir, index, events") {
    withConf(GValidation.Conf -> "structural") {
      val multi = usersDir(3)
      val single = Files.list(Paths.get(multi)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && Paths.get(p).getFileName.toString.startsWith("part-")).head
      // the staged shape ingest validation writes: partitioned by a string column
      val staged = usersDir(2, partitionBy = Seq("name"))
      assert(Files.list(Paths.get(multi)).toArray.count(_.toString.endsWith(".parquet")) > 1)
      for (path <- Seq(single, multi, staged)) {
        val (f, jobs) = jobsDuring(Tio.readParquet(spark, path, Users))
        assert(jobs == 0, s"typed read of $path launched $jobs job(s)")
        assert(f.df.columns.toSeq == Users.columnNames)
      }
      assert(sortedIds(Tio.readParquet(spark, multi, Users)) == users.map(_.id).sorted)
      assert(sortedIds(Tio.readParquet(spark, staged, Users)) == users.map(_.id).sorted)
      val singleRows = Tio.readParquet(spark, single, Users).df.count()
      assert(singleRows > 0 && singleRows < users.size)

      // a MinHash index after one append: multi-file buckets/ and shingles/
      val idx = tmp("graft-pq-index") + "/idx"
      val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "a completely different sentence about spark planning"))
      Dedup.writeMinHashIndex(docs.take(1).toDF("id", "text"), col("id"), col("text"), idx)
      Dedup.writeMinHashIndex(docs.drop(1).toDF("id", "text"), col("id"), col("text"), idx,
        mode = "append")
      for (d <- Seq("buckets", "shingles")) {
        val (df, jobs) = jobsDuring(Parquet.read(spark, s"$idx/$d"))
        assert(jobs == 0, s"index $d/ read launched $jobs job(s)")
        assert(df.select("id").distinct().as[Long].collect().toSet == Set(1L, 2L))
      }

      for (fx <- tsFixtures) {
        val dir = stageEvents(fx)
        val (f, jobs) = jobsDuring(tables.events(spark, dir))
        assert(jobs == 0, s"tables.events over $fx launched $jobs job(s)")
        assert(f.df.count() > 0)
      }
    }
  }

  test("the pinned schema equals Spark's inferred schema: pyarrow fixtures and Spark-written files") {
    def same(path: String): Unit = {
      val inferred = spark.read.parquet(path)
      val pinned = Parquet.read(spark, path)
      assert(pinned.schema == inferred.schema, s"$path:\n${pinned.schema.treeString}\nvs\n${inferred.schema.treeString}")
      assert(pinned.collect().map(_.toString).sorted.toSeq ==
        inferred.collect().map(_.toString).sorted.toSeq)
    }
    tsFixtures.foreach(fx => same(s"${stageEvents(fx)}/events.parquet"))

    val dir = tmp("graft-pq-nested") + "/t"
    spark.sql(
      """SELECT id,
        |  named_struct('a', id, 'b', named_struct('c', cast(id AS string), 'd', array(id * 2))) AS s,
        |  array(id, id + 1) AS arr,
        |  map(cast(id AS string), id * 1.5) AS m,
        |  cast(id / 7 AS decimal(12, 3)) AS dec,
        |  cast(id / 3 AS decimal(30, 10)) AS wide,
        |  timestamp_ntz'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ntz,
        |  id % 2 AS p, concat('k', cast(id % 3 AS string)) AS q
        |FROM range(12)""".stripMargin)
      .repartition(3)
      .write.partitionBy("p", "q").parquet(dir)
    same(dir)
    same(s"$dir/p=1") // q alone is discovered as the partition column
    assert(Parquet.read(spark, dir).schema.fieldNames.takeRight(2).toSeq == Seq("p", "q"))
  }

  test("under structural validation a missing column or a changed dtype fails at the boundary") {
    withConf(GValidation.Conf -> "structural") {
      val noScore = tmp("graft-pq-missing") + "/t"
      Seq((1L, "ann", Option(3L))).toDF("id", "name", "age").write.parquet(noScore)
      val missing = intercept[GSchemaError](Tio.readParquet(spark, noScore, Users))
      assert(missing.missingColumns == Seq("score"))

      val textScore = tmp("graft-pq-dtype") + "/t"
      Seq((1L, "ann", Option(3L), "88.5")).toDF("id", "name", "age", "score").write.parquet(textScore)
      val changed = intercept[GSchemaError](Tio.readParquet(spark, textScore, Users))
      assert(changed.typeMismatches.keySet == Set("score"))
    }
  }

  test("no data file falls back to Spark's inference and its usual AnalysisException") {
    val empty = tmp("graft-pq-empty")
    val wreck = tmp("graft-pq-wreck")
    Files.createDirectories(Paths.get(wreck, "_temporary", "0"))
    val missing = tmp("graft-pq-missing") + "/nothing-here"
    for (path <- Seq(empty, wreck, missing)) {
      val want = intercept[AnalysisException](spark.read.parquet(path))
      val got = intercept[AnalysisException](Tio.readParquet(spark, path, Users))
      assert(got.getCondition == want.getCondition && got.getMessage == want.getMessage)
    }
  }

  test("mergeSchema=true still merges every footer; without it the first file's schema is pinned") {
    val dir = tmp("graft-pq-merge") + "/t"
    Seq((1L, "x")).toDF("id", "a").write.parquet(dir)
    Seq((2L, 2.5)).toDF("id", "b").write.mode("append").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      val (merged, jobs) = jobsDuring(Parquet.read(spark, dir))
      assert(merged.schema.fieldNames.toSet == Set("id", "a", "b"))
      assert(merged.schema == spark.read.parquet(dir).schema)
      assert(jobs >= 1, "the merge reads every footer through Spark")
      assert(merged.count() == 2)
    }
    assert(Parquet.read(spark, dir).schema == spark.read.parquet(dir).schema)
  }

  test("events reader still points at the session conf when TIMESTAMP(NANOS) is unreadable") {
    val dir = stageEvents("events_ts_nanos.parquet")
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      val e = intercept[IllegalArgumentException](tables.events(spark, dir))
      assert(e.getMessage.contains("nanosAsLong=true") && e.getMessage.contains("GraftSession"))
    }
  }

  test("indexDataIsEmpty answers from footers: no job, no failed read, no listener-bus error") {
    val zero = tmp("graft-pq-zero") + "/idx"
    Seq.empty[(Long, Long)].toDF("id", "band").write.parquet(s"$zero/buckets")
    val full = tmp("graft-pq-full") + "/idx"
    Seq((1L, 7L)).toDF("id", "band").write.parquet(s"$full/buckets")
    Seq.empty[(Long, Long)].toDF("id", "band").write.mode("append").parquet(s"$full/buckets")
    val wreck = tmp("graft-pq-wreckidx") + "/idx"
    Files.createDirectories(Paths.get(wreck, "shingles", "_temporary", "0"))

    var answered = (Seq.empty[Boolean], -1)
    val errors = captureWarnings("org.apache.spark.sql.util.ExecutionListenerBus") {
      answered = jobsDuring(Seq(zero, full, wreck).map(Dedup.indexDataIsEmpty(spark, _)))
    }
    assert(answered._1 == Seq(true, false, false))
    assert(answered._2 == 0, s"indexDataIsEmpty launched ${answered._2} job(s)")
    assert(errors.isEmpty, s"listener-bus errors: $errors")
  }
}
