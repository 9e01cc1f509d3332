package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{assert_true, coalesce, col, count, count_distinct, lit}
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}

/** Three `unique` columns of different types, the double one nullable. */
object UniqueKeys extends GSchema {
  val id  = col[Long]("id").field(GField(unique = true))
  val tag = colNullable[String]("tag").field(GField(unique = true))
  val x   = colNullable[Double]("x").field(GField(unique = true))
}

/** Only nullable `unique` columns: nothing counted on the scan itself. */
object NullableKeys extends GSchema {
  val tag = colNullable[String]("tag").field(GField(unique = true))
  val x   = colNullable[Double]("x").field(GField(unique = true))
}

/** Value constraints and no `unique` column. */
object NoKeys extends GSchema {
  val id   = col[Long]("id").field(GField(ge = Some(0L)))
  val name = col[String]("name").field(GField(minLength = Some(1)))
}

/** V1–V5: structural checks, Field constraints, schema checks, one-pass
  * violation report, levels (reference tests/unit/test_validation.py,
  * tests/e2e/test_null_pipeline.py shapes). */
class ValidationSpec extends SparkSpec with TimeLimits {
  import fixtures._
  import spark.implicits._

  implicit val signaler: Signaler = ThreadSignaler
  private def limited[T](body: => T): T = failAfter(Span(3, Minutes))(body)

  /** `rows` written as parquet and read back over three files. */
  private def scanned(rows: DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-val-scan").toString
    rows.repartition(3).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val keyRows = Seq[(Long, Option[String], Option[Double])](
    (1L, Some("a"), Some(0.0)), (2L, Some("a"), Some(-0.0)), (2L, None, Some(Double.NaN)),
    (3L, Some("b"), Some(Double.NaN)), (3L, None, None), (3L, Some("b"), Some(1.5)),
    (4L, Some("c"), None), (5L, Some(""), Some(-1.5)))

  test("structural: missing, extra, and type-mismatched columns") {
    val missing = intercept[GSchemaError] {
      Validator.structural(Seq((1L, "a")).toDF("id", "name"), Users)
    }
    assert(missing.missingColumns == Seq("age", "score"))

    val extra = intercept[GSchemaError] {
      Validator.structural(
        Seq((1L, "a", 2L, 1.0, true)).toDF("id", "name", "age", "score", "bonus"), Users)
    }
    assert(extra.extraColumns == Seq("bonus"))

    val mism = intercept[GSchemaError] {
      Validator.structural(
        Seq((1, "a", 2L, 1.0)).toDF("id", "name", "age", "score"), Users) // id is Int
    }
    assert(mism.typeMismatches.keySet == Set("id"))
  }

  test("structural passes on a conforming frame without running a job") {
    Validator.structural(Tio.fromRows(spark, Users, users).df, Users)
  }

  test("value constraints all surface from one aggregation pass") {
    val bad = Seq(
      (1L, "ann", Option(34L), 88.5),
      (1L, "", Option.empty[Long], 141.0), // dup id, empty name, score > 100
      (3L, "cy", Option(300L), 99.9),      // age >= 200 (schema check)
    ).toDF("id", "name", "age", "score")
    val vs = Validator.collectViolations(bad, Users)
    val byKey = vs.map(v => (v.column, v.constraint) -> v.gotCount).toMap
    assert(byKey(("id", "unique")) == 1L)
    assert(byKey(("name", "min_length=1")) == 1L)
    assert(byKey(("score", "le=100.0")) == 1L)
    assert(byKey(("<schema>", "age_lt_200")) == 1L)
    assert(!byKey.contains(("age", "non_null"))) // nullable column, nulls fine
  }

  test("constraints throws a GSchemaError carrying the violations") {
    val bad = Seq((1L, "", Option(1L), 5.0)).toDF("id", "name", "age", "score")
    val e = intercept[GSchemaError](Validator.constraints(bad, Users))
    assert(e.valueViolations.exists(_.constraint == "min_length=1"))
  }

  test("clean data produces no violations") {
    assert(Validator.collectViolations(Tio.fromRows(spark, Users, users).df, Users).isEmpty)
  }

  test("validation level gates the boundary checks") {
    withConf(GValidation.Conf -> "off")(assert(GValidation.level(spark) == GValidation.Off))
    withConf(GValidation.Conf -> "Structural") {
      assert(GValidation.level(spark) == GValidation.Structural)
    }
    withConf(GValidation.Conf -> "bogus") {
      assertThrows[IllegalArgumentException](GValidation.level(spark))
    }
    val bad = Seq((1L, "", Option(1L), 5.0)).toDF("id", "name", "age", "score")
    val dir = java.nio.file.Files.createTempDirectory("graft-val-boundary").toString
    bad.write.option("header", "true").csv(s"$dir/csv")
    bad.write.json(s"$dir/json")
    withConf(GValidation.Conf -> "full") {
      assert(GValidation.level(spark) == GValidation.Full)
      // FULL makes fromRows reject constraint-violating rows at the boundary.
      assertThrows[GSchemaError] {
        Tio.fromRows(spark, Users, Seq(UserRow(1L, "", None, 5.0)))
      }
      // ...and every other typed read/constructor goes through the same
      // boundary: csv, json and wrapped frames are constraint-checked too.
      assertThrows[GSchemaError](Tio.readCsv(spark, s"$dir/csv", Users))
      assertThrows[GSchemaError](Tio.readJson(spark, s"$dir/json", Users))
      assertThrows[GSchemaError](Tio.fromDF(bad, Users))
      assertThrows[GSchemaError] {
        Tio.fromDict(spark, Users,
          Map("id" -> Seq(1L), "name" -> Seq(""), "age" -> Seq(1L), "score" -> Seq(5.0)))
      }
    }
    // OFF: the same boundary runs no Spark job at all
    withConf(GValidation.Conf -> "off") {
      val sc = spark.sparkContext
      sc.setJobGroup("graft-val-off", "validation off boundary")
      try {
        Tio.readCsv(spark, s"$dir/csv", Users)
        Tio.readJson(spark, s"$dir/json", Users)
        Tio.fromDF(bad, Users)
        assert(sc.statusTracker.getJobIdsForGroup("graft-val-off").isEmpty)
      } finally sc.clearJobGroup()
    }
  }

  test("the level is per session: a FULL session rejects what an OFF session next to it admits") {
    val dir = java.nio.file.Files.createTempDirectory("graft-val-sessions").toString
    Seq((1L, "", Option(1L), 5.0)).toDF("id", "name", "age", "score")
      .write.parquet(s"$dir/bad")
    val strict = spark.newSession()
    strict.conf.set("spark.graft.validate", "full")
    def rejected() = intercept[GSchemaError](Tio.readParquet(strict, s"$dir/bad", Users))
      .valueViolations.exists(_.constraint == "min_length=1")
    withConf("spark.graft.validate" -> "off") {
      assert(rejected())
      assert(Tio.readParquet(spark, s"$dir/bad", Users).df.count() == 1L)
      // reading through the OFF session changed nothing for the FULL one
      assert(rejected())
    }
  }

  test("explicit validate() runs both layers regardless of level") {
    withConf(GValidation.Conf -> "off") {
      val f = Tio.fromRows(spark, Users, users)
      f.validate() // clean: no throw
      val badF = new TFrame[Users.type](
        Seq((1L, "", Option(1L), 5.0)).toDF("id", "name", "age", "score"), Some(Users))
      assertThrows[GSchemaError](badF.validate())
    }
  }

  test("several unique columns of different types count like count - count_distinct") {
    limited {
      val df = scanned(keyRows.toDF("id", "tag", "x"))
      val reference = Seq("id", "tag", "x").map { c =>
        val r = df.agg(count(col(c)), count_distinct(col(c))).head()
        c -> (r.getLong(0) - r.getLong(1))
      }
      // nulls drop out, -0.0 = 0.0 and NaN = NaN, as count_distinct has them
      assert(reference == Seq("id" -> 3L, "tag" -> 2L, "x" -> 2L))
      val vs = Validator.collectViolations(df, UniqueKeys)
      assert(vs.map(v => v.column -> v.gotCount) == reference.reverse)
      assert(vs.forall(v => v.constraint == "unique" && v.sampleValues.isEmpty))
      val distinct = Seq[(Long, Option[String], Option[Double])]((1L, Some("a"), Some(0.0)),
        (2L, None, Some(Double.NaN)), (3L, None, None), (4L, Some("b"), Some(1.5)))
      assert(Validator.collectViolations(scanned(distinct.toDF("id", "tag", "x")), UniqueKeys).isEmpty)
      // no counted constraint, only the keyed count; and frames whose
      // keyed count sees no row still complete their observations
      assert(Validator.collectViolations(df, NullableKeys).map(v => v.column -> v.gotCount) ==
        Seq("x" -> 2L, "tag" -> 2L))
      val allNull = keyRows.map(r => (r._1, Option.empty[String], Option.empty[Double]))
      assert(Validator.collectViolations(scanned(allNull.toDF("id", "tag", "x")), NullableKeys).isEmpty)
      assert(Validator.collectViolations(scanned(keyRows.take(0).toDF("id", "tag", "x")), UniqueKeys).isEmpty)
    }
  }

  test("collectViolations runs 1 job without a unique column and 2 with one or three") {
    limited {
      val noKeys = scanned(Seq((1L, "a"), (-2L, ""), (3L, "c")).toDF("id", "name"))
      val users = scanned(Seq((1L, "ann", Option(34L), 88.5), (1L, "", Option.empty[Long], 141.0))
        .toDF("id", "name", "age", "score"))
      val keys = scanned(keyRows.toDF("id", "tag", "x"))
      val (v0, j0) = jobsDuring(Validator.collectViolations(noKeys, NoKeys))
      val (v1, j1) = jobsDuring(Validator.collectViolations(users, Users))
      val (v3, j3) = jobsDuring(Validator.collectViolations(keys, UniqueKeys))
      assert(v0.map(v => (v.column, v.constraint, v.gotCount)) ==
        Seq(("id", "ge=0", 1L), ("name", "min_length=1", 1L)))
      assert(v1.map(_.constraint).toSet == Set("min_length=1", "le=100.0", "unique"))
      assert(v3.size == 3)
      assert((j0, j1, j3) == ((1, 2, 2)), s"jobs without, with one and with three unique columns")
    }
  }

  test("a frame whose scan throws makes collectViolations raise that error, not return Nil") {
    limited {
      val failing = spark.range(0, 100).select(
        coalesce(assert_true(col("id") < 50, lit("planted scan failure")).cast("long"), col("id")).as("id"),
        lit("n").as("name"), lit("t").as("tag"), lit(1.0).as("x"))
      for (schema <- Seq[GSchema](NoKeys, UniqueKeys)) {
        val e = intercept[Exception](Validator.collectViolations(failing, schema))
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains("planted scan failure")), e)
      }
    }
  }
}
