package graft

/** V1–V5: structural checks, Field constraints, schema checks, one-pass
  * violation report, levels (reference tests/unit/test_validation.py,
  * tests/e2e/test_null_pipeline.py shapes). */
class ValidationSpec extends SparkSpec {
  import fixtures._
  import spark.implicits._

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
}
