package graft

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM — mirrors the
  * reference's session-scoped pytest fixture (tests/conftest.py). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4, "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Run `body` with the session confs `pairs` set; each key's prior
    * value (or its absence) is restored in `finally`. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Build and collect `df` under the session opt-out from broadcast
    * joins (every hint dropped, auto-broadcast off), asserting that its
    * executed plan really joins by shuffle: a SortMergeJoin or
    * ShuffledHashJoin and no BroadcastHashJoin. The caches this
    * session's operators registered earlier are released first, so no
    * subtree planned with broadcasts is reused. */
  def collectShuffled(df: => DataFrame): Seq[Row] = {
    GraftSession.releaseCachedBlocks(spark)
    withConf("spark.sql.optimizer.disableHints" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val d = df
      val rows = d.collect().toSeq
      val plan = d.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(!plan.contains("BroadcastHashJoin") &&
        (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")),
        s"the opt-out must plan a shuffled join:\n$plan")
      rows
    }
  }

  /** `body`'s result and the number of Spark jobs it launched. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    GraftTestAccess.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      GraftTestAccess.drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Messages logged at WARN or above to `loggerName` while `body` runs,
    * captured by a log4j appender (the session runs at ERROR). */
  def captureWarnings(loggerName: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("spec-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val logger = LogManager.getLogger(loggerName).asInstanceOf[Logger]
    logger.addAppender(appender)
    val restore = logger.getLevel
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(appender)
      logger.setLevel(restore)
      appender.stop()
    }
    seen.asScala.toSeq
  }
}

/** Shared test schemas + rows (the e2e "users pipeline" shape from
  * reference tests/e2e/test_basic_pipeline.py). */
object fixtures {
  object Users extends GSchema {
    val id    = col[Long]("id").field(GField(unique = true))
    val name  = col[String]("name").field(GField(minLength = Some(1)))
    val age   = colNullable[Long]("age")
    val score = col[Double]("score").field(GField(ge = Some(0.0), le = Some(100.0)))
    check("age_lt_200")(gref[Long]("age").isNull || gref[Long]("age") < 200L)
  }
  final case class UserRow(id: Long, name: String, age: Option[Long], score: Double)
  val users: Seq[UserRow] = Seq(
    UserRow(1L, "ann", Some(34L), 88.5),
    UserRow(2L, "bo", None, 41.0),
    UserRow(3L, "cy", Some(17L), 99.9),
    UserRow(4L, "dee", Some(62L), 12.25),
  )
}
