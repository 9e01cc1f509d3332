package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a timed call from the harness into a library module. */
final class Span(val id: Int, val parent: Int, val name: String, val op: Int, val start: Long) {
  var end: Long = 0L
}

/** Span recorder. Spans are kept in memory and written out when the run
  * ends; `on` switches recording per round so a traced run can
  * interleave traced and untraced rounds. While a span is open its id
  * and the op id ride on the Spark job's local properties, so the
  * listener can attribute jobs to the call that launched them. */
final class Tracer(sc: => SparkContext) {
  @volatile var on: Boolean = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op: Int = -1

  def beginOp(id: Int): Unit = {
    op = id
    if (on) sc.setLocalProperty(Tracer.OpKey, id.toString)
  }

  def endOp(): Unit = {
    op = -1
    sc.setLocalProperty(Tracer.OpKey, null)
    sc.setLocalProperty(Tracer.SpanKey, null)
  }

  /** Attributes spans to op `id` without tagging Spark jobs with it: the
    * jobs of calls made outside the op's timing stay out of its counts. */
  def withOp[T](id: Int)(body: => T): T = {
    op = id
    try body finally op = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.length, stack.headOption.getOrElse(-1), name, op, System.nanoTime())
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }

  def json: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","op":${s.op},"start":${s.start},"end":${s.end}}"""
  }
}

object Tracer {
  val OpKey = "graftbench.op"
  val SpanKey = "graftbench.span"
}

/** The harness's own SparkListener: per job its op and span, per stage
  * the summed task metrics. Registered only for traced runs. */
final class BenchListener extends SparkListener {
  final class StageAgg {
    var tasks = 0L; var failed = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedDelayMs = 0L; var shuffleWrite = 0L; var spill = 0L
  }
  final case class JobRec(id: Int, op: Int, span: Int, stages: Seq[Int])

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobRec(e.jobId, prop(e.properties, Tracer.OpKey),
      prop(e.properties, Tracer.SpanKey), e.stageIds))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    a.synchronized {
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        val info = e.taskInfo
        val dur = if (info.finishTime > 0) info.finishTime - info.launchTime else 0L
        a.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  def jobsJson: Seq[String] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"op":${j.op},"span":${j.span},"stages":[${j.stages.mkString(",")}]}"""
    }
  }

  def stagesJson: Seq[String] = {
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq.sortBy(_._1).map { case (id, a) =>
      s"""{"stage":$id,"tasks":${a.tasks},"failed":${a.failed},"run_ms":${a.runMs},""" +
        s""""cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},"sched_delay_ms":${a.schedDelayMs},""" +
        s""""shuffle_write":${a.shuffleWrite},"spill":${a.spill}}"""
    }
  }
}
