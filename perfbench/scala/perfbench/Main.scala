package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One op's outcome. `kind` splits latencies (search/append, tick/redeliver,
  * memo/fresh); `ok = false` marks a wrong result found by the bench's own
  * checks (errors are counted separately). */
final case class OpResult(kind: String, ok: Boolean = true)

/** One op as the loop saw it; `phase` is settle, timed or traced. `refMs`
  * is the reference kernel's CPU right after the op. */
final case class Sample(i: Int, r: OpResult, ms: Double, cpuMs: Double, jitMs: Double,
    refMs: Double, phase: String)

/** A workload: set-up (repeated, timed), one op per call, checks after. */
trait Workload {
  /** Set-up work after the session started; counted in setup_s. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit
  /** Extra set-up that setup_s excludes (index build), run once. */
  def prepare(spark: SparkSession, t: Tracer): Map[String, Any] = Map.empty
  /** Drops the state a set-up repetition made (its sink, stream, dirs). */
  def discardSetup(spark: SparkSession): Unit = ()
  def firstOp: Int
  def numOps: Int
  def op(spark: SparkSession, i: Int, t: Tracer): OpResult
  /** Called after each op outside its timing (result checks, counters). */
  def afterOp(spark: SparkSession, i: Int, r: OpResult): OpResult = r
  /** Output checks and workload metrics once the loop ended. Returns
    * (metrics, number of ops found wrong by the checks). */
  def finish(spark: SparkSession, done: Seq[(Int, OpResult)]): (Map[String, Any], Int)
  /** Per-layer metrics this workload's own counters give. */
  def layerMetrics(traced: Seq[Sample]): Map[String, Double] = Map.empty
  def close(spark: SparkSession): Unit = ()
}

/** The JVM side of the benchmark. Usage:
  * {{{
  *   perfbench.Main <workload> <runDir> <seconds> <settleOps> <trace 0|1> <cores> <setupReps> <blockOps>
  * }}}
  * Reads the inputs `run.py` generated under runDir, writes
  * runDir/result.json. Every whole block of `blockOps` ops, counted from
  * op 0, holds the workload's fixed mix of op kinds. */
object Main {
  /** Exits non-zero on any failure: Spark's non-daemon threads would
    * otherwise keep a JVM whose main thread threw alive. */
  def main(args: Array[String]): Unit = {
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.exit(1)
    }
  }

  private def run(args: Array[String]): Unit = {
    val Array(name, runDir, secS, settleS, traceS, coresS, repsS, blockS) = args
    val seconds = secS.toDouble
    val settleOps = settleS.toInt
    val traced = traceS == "1"
    val cores = coresS.toInt
    val blockOps = blockS.toInt
    val t = new Tracer
    t.on = traced
    val w: Workload = name match {
      case "dashboard_mix" => new Dashboard(runDir, cores)
      case "etl_tick"      => new EtlTick(runDir)
      case "news_knn"      => new NewsKnn(runDir, cores)
      case other           => sys.error(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap.empty[String, Any]

    // ---- set-up, repeated; the last repetition's state is measured ----
    val reps = repsS.toInt
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var prep = Map.empty[String, Any]
    for (rep <- 1 to reps) {
      if (spark != null) { w.discardSetup(spark); spark.stop() }
      val t0 = System.nanoTime()
      t.span("setup", -1) {
        spark = t.span("session.start", -1)(GraftSession.get(cores))
        if (rep == 1) {
          val p0 = System.nanoTime()
          prep = w.prepare(spark, t)
          val excl = System.nanoTime() - p0
          w.setup(spark, rep, t)
          setupS += (System.nanoTime() - t0 - excl) / 1e9
        } else {
          w.setup(spark, rep, t)
          setupS += (System.nanoTime() - t0) / 1e9
        }
      }
    }
    out("setup_s_reps") = setupS.toSeq
    out("prepare") = prep

    // ---- closed loop: one client, next op after the previous ----
    // Ops first run untimed up to op `settleOps` (the JIT is still compiling
    // the op paths right after set-up; a count, not a time, so that every
    // run enters the timed loop with the same op history) and on to the
    // next block boundary, then timed for `seconds` and at least one whole
    // block, so that every op kind of the mix is timed. A traced run traces
    // every second timed op; the ops between them run untraced, as the base
    // of the tracing overhead.
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = new JitCpu
    val ledger = new JobLedger
    t.on = false
    val samples = mutable.ArrayBuffer.empty[Sample]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val errorMsgs = mutable.ArrayBuffer.empty[String]
    var loopT0 = 0L
    var timedOps = 0
    var i = w.firstOp
    def inLoop = loopT0 == 0L || timedOps < blockOps ||
      System.nanoTime() - loopT0 < seconds * 1e9
    while (i < w.numOps && inLoop) {
      if (loopT0 == 0L && i >= settleOps && i % blockOps == 0) {
        loopT0 = System.nanoTime()
        if (traced) spark.sparkContext.addSparkListener(ledger)
      }
      val phase =
        if (loopT0 == 0L) "settle"
        else {
          timedOps += 1
          if (traced && timedOps % 2 == 0) "traced" else "timed"
        }
      t.on = phase == "traced"
      val c0 = osBean.getProcessCpuTime
      jit.deltaNs()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val r = try t.span("op", i)(w.op(spark, i, t)) catch {
        case e: Throwable =>
          if (errorMsgs.size < 5) errorMsgs += s"op $i: $e"
          OpResult("error", ok = false)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val jitMs = jit.deltaNs() / 1e6
      val cpuMs = (osBean.getProcessCpuTime - c0) / 1e6 - jitMs
      if (phase == "traced") intervals += ((w0, System.currentTimeMillis()))
      val checked = if (r.kind == "error") r else w.afterOp(spark, i, r)
      samples += Sample(i, checked, ms, cpuMs, jitMs, RefKernel.cpuMs(), phase)
      i += 1
    }
    // the op list ran out before the timed loop ended: the run measured
    // less than it claims, which must not read as a faster engine
    if (inLoop) {
      w.close(spark)
      spark.stop()
      sys.error(s"ran out of ops: ${w.numOps - w.firstOp} ops, " +
        (if (loopT0 == 0L) "all in the settle phase"
         else f"${(System.nanoTime() - loopT0) / 1e9}%.1f s into the ${seconds}%.0f s timed loop"))
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    if (traced) {
      ledger.settle()
      spark.sparkContext.removeSparkListener(ledger)
    }
    t.on = false

    // ---- checks outside the timed loop ----
    val (wm, wrong) = w.finish(spark, samples.map(s => (s.i, s.r)).toSeq)
    out("workload") = wm
    out("attempted") = samples.size
    out("errors") = samples.count(_.r.kind == "error")
    out("error_messages") = errorMsgs.toSeq
    out("wrong") = wrong + samples.count(s => !s.r.ok && s.r.kind != "error")
    out("loop_s") = loopS
    out("ops") = samples.map(s => Map("i" -> s.i, "kind" -> s.r.kind, "ok" -> s.r.ok,
      "ms" -> s.ms, "cpu_ms" -> s.cpuMs, "jit_ms" -> s.jitMs, "ref_ms" -> s.refMs,
      "phase" -> s.phase)).toSeq
    out("peak_rss_mb") = peakRssMb()
    if (traced) {
      val layers = mutable.LinkedHashMap.empty[String, Double]
      layers ++= ledger.perOp(intervals.toSeq)
      layers ++= w.layerMetrics(samples.filter(_.phase == "traced").toSeq)
      out("layers") = layers.toMap
      out("self_ms") = t.selfTimes.map { case (n, (tot, self, cnt)) =>
        n -> Map("total_ms" -> tot, "self_ms" -> self, "count" -> cnt)
      }
      out("spans") = t.spans.map(s => Seq(s.id, s.parent, s.op, s.name,
        s.startNs, s.endNs)).toSeq
    }
    w.close(spark)
    spark.stop()
    Files.writeString(Paths.get(runDir, "result.json"), Json(out.toMap))
    System.exit(0)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Recursively deletes `f`. */
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** CPU of the JIT compiler threads, which the process CPU includes: it
  * depends on how far compilation got, not on the op. Read from HotSpot's
  * internal-thread counters (needs java.management/sun.management
  * exported). Compiler threads come and go, so the delta is taken per
  * thread; a thread whose counter went back is a new thread. */
final class JitCpu {
  private val hotspot = sun.management.ManagementFactoryHelper.getHotspotThreadMBean
  private var last = Map.empty[String, Long]

  /** Compiler-thread CPU since the previous call, ns. */
  def deltaNs(): Long = {
    val now = hotspot.getInternalThreadCpuTimes.asScala.collect {
      case (n, ns) if n.contains("CompilerThread") => n -> ns.longValue
    }.toMap
    val d = now.map { case (n, ns) =>
      val before = last.getOrElse(n, 0L)
      if (ns >= before) ns - before else ns
    }.sum
    last = now
    d
  }
}

/** A fixed, memory-bound CPU kernel, run on the client thread after every
  * op (outside the op's timing): a dependent chase through a 16 MB array,
  * then 10k inserts into a fresh hash map. Its code never changes, so its
  * CPU moves only with how fast this host runs memory-heavy code right then:
  * on a shared host other tenants' cache and memory traffic slowed both it
  * and the ops, run against run. run.py divides an op's CPU by it. */
object RefKernel {
  private val Mask = (1 << 22) - 1
  private val table = Array.tabulate(1 << 22)(k => ((k.toLong * 0x9E3779B97F4A7C15L) >>> 42).toInt)
  private val tmx = ManagementFactory.getThreadMXBean
  @volatile var sink = 0L

  /** Thread CPU of one run of the kernel, ms. */
  def cpuMs(): Double = {
    val c0 = tmx.getCurrentThreadCpuTime
    var p = 1
    var acc = 0L
    var k = 0
    while (k < 30000) {
      p = (table(p) ^ k) & Mask
      acc += p
      k += 1
    }
    val m = new java.util.HashMap[Integer, Integer]()
    k = 0
    while (k < 10000) {
      m.put(table(k * 97 & Mask), k)
      k += 1
    }
    sink += acc + m.size
    (tmx.getCurrentThreadCpuTime - c0) / 1e6
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
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
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case o => apply(o.toString)
  }
}
