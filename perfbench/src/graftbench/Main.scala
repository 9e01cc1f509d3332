package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.ObjectMapper
import graft.GraftSession

/** Benchmark harness: one JVM, one client thread, a closed loop of ops.
  *
  *   Main dump-oracle <out.json>
  *   Main run workload=<name> input=<dir> expected=<json> out=<dir>
  *            seconds=<s> trace=<0|1> threads=<n> seed=<n>
  *
  * `run` builds the session once (the JVM's first session build, as a
  * user pays it, is the session part of set-up), runs the workload's own
  * set-up, warms up in whole rounds until a round is no longer more than
  * 15% faster than the one before (between the workload's least and most
  * warm-up rounds), collects the heap so no collection of warm-up garbage
  * lands in the timed window, then times whole rounds until `seconds`
  * have passed (reading the heap the first timed op holds when it ends),
  * verifies the outputs and writes `result.json` (plus
  * `spans.jsonl`, `jobs.jsonl`, `stages.jsonl` for a traced run) into
  * `out`. */
object Main {
  final case class OpRec(seq: Int, round: Int, key: String, rowsIn: Long, latS: Double,
      traced: Boolean, var error: String)

  def main(args: Array[String]): Unit = args.toList match {
    case "dump-oracle" :: path :: Nil =>
      val m = new java.util.TreeMap[String, String]()
      graft.SparkEntry.oracleSql.foreach { case (k, v) => m.put(k, v) }
      new ObjectMapper().writeValue(new File(path), m)
    case "run" :: rest =>
      run(rest.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    case _ =>
      System.err.println("usage: Main dump-oracle <out.json> | Main run key=value...")
      sys.exit(2)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def cpuNanos(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def run(a: Map[String, String]): Unit = {
    val mapper = new ObjectMapper()
    val input = a("input")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val threads = a("threads").toInt
    val seed = a("seed").toLong
    val manifest = mapper.readTree(new File(s"$input/manifest.json"))
    val expected = mapper.readTree(new File(a("expected")))

    val mem = new MemProbe

    // ---- set-up: the session build
    val t0 = System.nanoTime()
    val spark = GraftSession.local(threads, "graftbench")
    val sessionBuildS = secs(t0)
    val sc = spark.sparkContext
    val listener = if (trace) Some(new BenchListener) else None
    listener.foreach(sc.addSparkListener)
    val tr = new Tracer(sc)
    val wl = Workload(a("workload"), spark, input, out, manifest, expected, seed)

    /** Runs one op; with `probeMem`, reads the heap the op holds just
      * before its cached blocks are released, outside its latency. */
    def runOne(round: Int, pos: Int, seq: Int, dir: String,
        probeMem: Boolean = false): (Double, String) = {
      tr.beginOp(seq)
      val t = System.nanoTime()
      var probeNs = 0L
      val err =
        try wl.runOp(round, pos, seq, dir, tr)
        catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
        finally {
          if (probeMem) probeNs = mem()
          tr.span("session.release")(GraftSession.releaseCachedBlocks(spark))
        }
      val lat = (System.nanoTime() - t - probeNs) / 1e9
      tr.endOp()
      (lat, err)
    }

    // ---- set-up: warm-up to steady state
    val warmStart = System.nanoTime()
    wl.setup()
    val workloadSetupS = secs(warmStart)
    val warmRounds = ArrayBuffer.empty[Double]
    val warmErrors = ArrayBuffer.empty[String]
    var warmSeq = -1
    def leveled: Boolean = warmRounds.size >= wl.minWarmRounds &&
      warmRounds.last >= 0.85 * warmRounds(warmRounds.size - 2)
    while (!leveled && warmRounds.size < wl.maxWarmRounds) {
      val round = -(warmRounds.size + 1)
      val t = System.nanoTime()
      for (pos <- 0 until wl.roundOps) {
        val (_, err) = runOne(round, pos, warmSeq, s"$out/warm")
        if (err != null) warmErrors += err
        warmSeq -= 1
      }
      warmRounds += secs(t)
    }
    System.gc()
    val warmupS = secs(warmStart)

    // ---- timed phase: whole rounds; a traced run alternates traced and
    // untraced rounds, starting traced, and runs at least two
    val ops = ArrayBuffer.empty[OpRec]
    val wall0 = System.nanoTime()
    val cpu0 = cpuNanos()
    var round = 0
    var seq = 0
    while (round < wl.maxRounds && (round < (if (trace) 2 else 1) || secs(wall0) < seconds)) {
      tr.on = trace && round % 2 == 0
      for (pos <- 0 until wl.roundOps) {
        val key = wl.opKey(round, pos)
        val (lat, err) = runOne(round, pos, seq, s"$out/timed", probeMem = seq == 0)
        ops += OpRec(seq, round, key, wl.inputRows(round, pos), lat, tr.on, err)
        if (tr.on) {
          tr.withOp(seq)(wl.probe(round, pos, tr))
          GraftSession.releaseCachedBlocks(spark)
        }
        seq += 1
      }
      round += 1
    }
    val timedWall = secs(wall0)
    val timedCpu = (cpuNanos() - cpu0 - mem.cpuNs) / 1e9
    tr.on = false
    val nonHeapMb = ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1048576.0

    // ---- checks outside the timed window
    wl match {
      case an: Analytics => an.writeCaptured(s"$out/results")
      case _ =>
    }
    wl.verify().foreach { case (s, msg) =>
      ops.find(_.seq == s).foreach(o => if (o.error == null) o.error = msg)
    }
    listener.foreach { l =>
      org.apache.spark.BenchAccess.drainListeners(sc)
      write(s"$out/jobs.jsonl", l.jobsJson)
      write(s"$out/stages.jsonl", l.stagesJson)
      write(s"$out/spans.jsonl", tr.json)
    }

    val result = Map[String, Any](
      "workload" -> a("workload"),
      "threads" -> threads,
      "session_build_s" -> sessionBuildS,
      "warmup_s" -> warmupS,
      "workload_setup_s" -> workloadSetupS,
      "warmup_rounds_s" -> warmRounds.toSeq,
      "warmup_ops" -> warmRounds.size * wl.roundOps,
      "warmup_errors" -> warmErrors.take(5).toSeq,
      "timed_wall_s" -> timedWall,
      "timed_cpu_s" -> timedCpu,
      "timed_rounds" -> round,
      "rss_peak_mb" -> peakRssMb(),
      "heap_held_mb" -> mem.heldMb,
      "non_heap_mb" -> nonHeapMb,
      "extra" -> wl.extra,
      "ops" -> ops.toSeq.map(o => Map[String, Any](
        "seq" -> o.seq, "round" -> o.round, "key" -> o.key, "rows_in" -> o.rowsIn,
        "lat_s" -> o.latS, "traced" -> o.traced, "error" -> o.error)),
    )
    write(s"$out/result.json", Seq(Json(result)))
    spark.stop()
  }

  private def write(path: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }
}

/** The heap an op holds when it ends: full collections, then the heap
  * in use, so what is left is what the op still keeps live (its result,
  * its cached blocks, the session's state). Spark's ContextCleaner drops
  * the blocks of unreachable RDDs, shuffles and broadcasts on its own
  * thread after a collection finds them, so the probe collects, waits for
  * the cleaner, and collects again; with one collection the held heap
  * read 236 or 368 MB on corpus_prep depending on how far the cleaner
  * had got. The time and CPU the probe takes are returned and summed,
  * for the caller to leave out of the op's latency and the timed
  * phase's CPU. */
final class MemProbe {
  var heldMb: Double = -1.0
  var cpuNs: Long = 0L

  def apply(): Long = {
    val t = System.nanoTime()
    val c = Main.cpuNanos()
    for (_ <- 0 until 3) {
      System.gc()
      Thread.sleep(250)
    }
    System.gc()
    heldMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    cpuNs += Main.cpuNanos() - c
    System.nanoTime() - t
  }
}

/** Minimal JSON encoder for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
