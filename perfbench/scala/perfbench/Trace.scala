package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's own code around each call into a
  * layer. Kept in memory; written out when the run ends. */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var open = Map.empty[Int, (Int, Int, String, Long)]
  private var nextId = 0

  /** Times `body` as span `name` of op `op` (-1 = set-up). The span is
    * recorded only while tracing is on; the body runs either way. */
  def span[A](name: String, op: Int)(body: => A): A = {
    if (!on) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, op, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Per span name: total duration and self time (duration minus the
    * part its child spans cover), in ms. */
  def selfTimes: Map[String, (Double, Double, Int)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      val tot = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum
      n -> (tot / 1e6, self / 1e6, ss.size)
    }
  }
}

/** Bench-owned listener: raw per-job and per-stage records, attributed
  * to ops afterwards by submission time (one client, one op in flight). */
final class JobLedger extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final class Stage(val id: Int, val submitted: Long) {
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shufRead = 0L
    var shufWrite = 0L
    var spill = 0L
    var inBytes = 0L
    var outBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  @volatile var lastEventMs = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
    touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages.getOrElseUpdate(i.stageId,
      new Stage(i.stageId, i.submissionTime.getOrElse(System.currentTimeMillis())))
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.durations += e.taskInfo.duration
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shufRead += m.shuffleReadMetrics.totalBytesRead
        s.shufWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
    touch()
  }

  /** Waits until every started job has ended and the bus went quiet. */
  def settle(maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def pending = synchronized(jobs.values.exists(_.end < 0))
    while (System.currentTimeMillis() < deadline &&
      (pending || System.currentTimeMillis() - lastEventMs < 200)) Thread.sleep(20)
  }

  /** Sums for the ops whose wall-clock intervals are given (ms epoch,
    * one entry per op, in order). */
  def perOp(intervals: Seq[(Long, Long)]): Map[String, Double] = synchronized {
    val n = math.max(1, intervals.size).toDouble
    def opOf(t: Long): Int = {
      val i = intervals.lastIndexWhere(_._1 <= t)
      if (i >= 0 && t <= intervals(i)._2) i else -1
    }
    val opJobs = jobs.values.filter(j => opOf(j.start) >= 0).toSeq
    val opStages = stages.values.filter(s => opOf(s.submitted) >= 0).toSeq
    val skipped = opJobs.flatMap(_.stages).distinct.count(id => !stages.contains(id))
    // op wall not covered by any of its jobs = driver-only time
    val driverOnly = intervals.zipWithIndex.map { case ((a, b), i) =>
      val ivs = opJobs.filter(j => opOf(j.start) == i)
        .map(j => (math.max(a, j.start), math.min(b, if (j.end < 0) b else j.end)))
        .sortBy(_._1)
      var covered = 0L
      var cur = a
      ivs.foreach { case (s, e) =>
        val s2 = math.max(s, cur)
        if (e > s2) { covered += e - s2; cur = e }
      }
      (b - a) - covered
    }.sum
    val skews = opStages.filter(_.durations.size >= 2).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
    Map(
      "spark.jobs_per_op" -> opJobs.size / n,
      "spark.stages_per_op" -> opStages.size / n,
      "spark.stages_skipped_per_op" -> skipped / n,
      "spark.tasks_per_op" -> opStages.map(_.tasks).sum / n,
      "spark.task_cpu_ms_per_op" -> opStages.map(_.cpuNs).sum / 1e6 / n,
      "spark.task_run_ms_per_op" -> opStages.map(_.runMs).sum / n,
      "spark.gc_ms_per_op" -> opStages.map(_.gcMs).sum / n,
      "spark.shuffle_read_bytes_per_op" -> opStages.map(_.shufRead).sum / n,
      "spark.shuffle_write_bytes_per_op" -> opStages.map(_.shufWrite).sum / n,
      "spark.spill_bytes_per_op" -> opStages.map(_.spill).sum / n,
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "spark.driver_only_ms_per_op" -> driverOnly / n,
      "sources.input_bytes_per_op" -> opStages.map(_.inBytes).sum / n,
      "sources.output_bytes_per_op" -> opStages.map(_.outBytes).sum / n)
  }
}
