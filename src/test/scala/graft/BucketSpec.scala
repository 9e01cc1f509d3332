package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

final case class O2(id: Long, amount: Double)

/** Bucketed-table co-location: the write-once/join-forever path for
  * recurring fact-fact joins — both sides bucketed on the join key into
  * the same bucket count must join AND aggregate with no exchange. */
class BucketSpec extends SparkSpec {
  import fixtures._

  object Orders2 extends GSchema {
    val id     = col[Long]("id")
    val amount = col[Double]("amount")
  }

  test("same-bucketed tables join and aggregate with no exchange") {
    import spark.implicits._
    val l = Tio.fromRows(spark, Users, users)
    val o = Tio.fromRows(spark, Orders2,
      (1L to 4L).flatMap(i => Seq(O2(i, i * 10.0), O2(i, 1.0))))
    Tio.writeBucketed(l, "bk_users", Seq(Users.id), nBuckets = 4)
    Tio.writeBucketed(o, "bk_orders", Seq(Orders2.id), nBuckets = 4, sortKeys = Seq(Orders2.id))
    val lu = Tio.readTable(spark, "bk_users", Users)
    val or = Tio.readTable(spark, "bk_orders", Orders2)

    // force the shuffle-join path
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = lu.df.join(or.df, Seq("id")).groupBy("id")
        .agg(org.apache.spark.sql.functions.sum("amount").as("total"))
      val rows = j.collect()
      assert(rows.length == 4)
      assert(rows.map(_.getAs[Double]("total")).sum == (10 + 20 + 30 + 40) + 4 * 1.0)
      val plan = j.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("Exchange"),
        s"bucketed join + agg must be exchange-free:\n$plan")
    }
  }

  test("readTable round-trips the typed schema") {
    import spark.implicits._
    Tio.writeBucketed(Tio.fromRows(spark, Users, users), "bk_users_rt", Seq(Users.id), 2)
    val back = Tio.readTable(spark, "bk_users_rt", Users)
    assert(back.toDS[UserRow].collect().sortBy(_.id).toSeq == users)
  }
}
