package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.IncrementalTick

/** etl_tick: the hourly DAG as a file-source stream. Set-up seeds the
  * sink with everything before the cut through one `processBatch`, then
  * starts `IncrementalTick.startStream`; each op drops one hour's parquet
  * file into the source directory and waits in `processAllAvailable`. */
final class EtlTick(runDir: String) extends Workload {
  /** Ticks of set-up: the first ticks after a start run 1.5–2× slower
    * than steady state (the untimed settle ops that follow cover the rest). */
  private val WarmTicks = 5

  private val ops: IndexedSeq[(String, Boolean)] =
    Files.readAllLines(Paths.get(runDir, "ops.tsv")).asScala.toIndexedSeq.map { l =>
      val Array(h, red) = l.split("\t")
      (h, red == "1")
    }
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("ts_ns", LongType), StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private var rep = 0
  private var query: StreamingQuery = null
  private def base = s"$runDir/state/rep$rep"
  private def srcDir = s"$base/source"
  private def sinkDir = s"$base/sink"

  // per-op counters, read after each op outside its timing
  private var lastBatchId = -1L
  private var sinkFiles = 0
  private var sinkBytes = 0L
  private var probeNs = 0L
  private var appendNs = 0L
  private val perOp = scala.collection.mutable.Map.empty[Int, Map[String, Double]]

  private def sinkListing(): (Int, Long) = {
    val fs = Files.walk(Paths.get(sinkDir))
    try {
      val files = fs.iterator().asScala.filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size, files.map(Files.size).sum)
    } finally fs.close()
  }

  private def drop(hour: String, i: Int): Unit = {
    // hidden name first: the file source ignores dot files, so it never
    // sees a half-copied file
    val tmp = Paths.get(srcDir, s".$hour-$i.tmp")
    Files.copy(Paths.get(runDir, "hours", s"$hour.parquet"), tmp)
    Files.move(tmp, Paths.get(srcDir, s"$hour-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(spark: SparkSession, r: Int, t: Tracer): Unit = {
    rep = r
    new File(srcDir).mkdirs()
    t.span("sources.seed", -1) {
      IncrementalTick.processBatch(spark, spark.read.parquet(s"$runDir/seed.parquet"), sinkDir)
    }
    t.span("streaming.start", -1) {
      query = IncrementalTick.startStream(
        spark.readStream.schema(schema).parquet(srcDir), sinkDir,
        s"$base/checkpoint", Trigger.ProcessingTime(0L))
    }
    t.span("session.warm", -1) {
      (0 until WarmTicks).foreach { i => drop(ops(i)._1, i); query.processAllAvailable() }
    }
    lastBatchId = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)
    val (f, b) = sinkListing()
    sinkFiles = f
    sinkBytes = b
  }

  override def discardSetup(spark: SparkSession): Unit = {
    query.stop()
    Main.rmrf(new File(base))
  }

  def firstOp: Int = WarmTicks
  def numOps: Int = ops.size

  def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
    val (hour, redeliver) = ops(i)
    t.span("sources.drop", i)(drop(hour, i))
    t.span("streaming.process", i)(query.processAllAvailable())
    OpResult(if (redeliver) "redeliver" else "tick")
  }

  override def afterOp(spark: SparkSession, i: Int, r: OpResult): OpResult = {
    val (f, b) = sinkListing()
    val newFiles = f - sinkFiles
    val m = scala.collection.mutable.Map[String, Double](
      "sink_files" -> newFiles, "sink_bytes" -> (b - sinkBytes),
      "probe_ms" -> (IncrementalTick.Phases.probeNanos.get - probeNs) / 1e6,
      "append_ms" -> (IncrementalTick.Phases.appendNanos.get - appendNs) / 1e6)
    sinkFiles = f
    sinkBytes = b
    probeNs = IncrementalTick.Phases.probeNanos.get
    appendNs = IncrementalTick.Phases.appendNanos.get
    // durations of the micro-batches this op triggered
    val batches = query.recentProgress.filter(p => p.batchId > lastBatchId && p.numInputRows > 0)
    batches.lastOption.foreach(p => lastBatchId = p.batchId)
    for (k <- Seq("addBatch", "walCommit", "queryPlanning", "latestOffset", "triggerExecution"))
      m(k) = batches.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
    m("batches") = batches.length
    perOp(i) = m.toMap
    // a redelivered hour must append nothing
    if (r.kind == "redeliver") r.copy(ok = newFiles == 0) else r
  }

  /** Final sink equals `IncrementalTick.enrich` over every row delivered
    * (IncrementalTickSpec's parity test, at this input). */
  def finish(spark: SparkSession, done: Seq[(Int, OpResult)]): (Map[String, Any], Int) = {
    val last = if (done.isEmpty) WarmTicks - 1 else done.map(_._1).max
    val hours = (0 to last).filterNot(i => ops(i)._2).map(i => s"$runDir/hours/${ops(i)._1}.parquet")
    val input = spark.read.parquet(s"$runDir/seed.parquet" +: hours: _*)
      .select("event_id", "ts", "ts_ns", "user_id", "value")
    val cols = Seq("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val sink = spark.read.parquet(sinkDir).select(cols.map(col): _*)
    val batch = IncrementalTick.enrich(input).select(cols.map(col): _*)
    val sinkRows = sink.count()
    val batchRows = batch.count()
    val mismatch = sink.as("s").join(batch.as("b"), col("s.event_id") === col("b.event_id"), "full_outer")
      .filter(col("s.event_id").isNull || col("b.event_id").isNull ||
        (col("s.sma30") =!= col("b.sma30")) ||
        (col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9, lit(false)) ||
        coalesce(abs(col("s.bb_lo") - col("b.bb_lo")) > 1e-9, lit(false)) ||
        (col("s.buy") =!= col("b.buy")) || (col("s.sell") =!= col("b.sell")))
      .count()
    val parityOk = mismatch == 0 && sinkRows == batchRows
    // the parity check cannot say which tick went wrong: all count
    val wrong = if (parityOk) 0 else done.count(_._2.ok)
    (Map("sink_rows" -> sinkRows, "expected_rows" -> batchRows,
      "mismatched_rows" -> mismatch, "sink_files_total" -> sinkListing()._1), wrong)
  }

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val rs = traced.map(_.i).flatMap(perOp.get)
    val ticks = traced.filter(_.r.kind == "tick").flatMap(x => perOp.get(x.i))
    val reds = traced.filter(_.r.kind == "redeliver")
    def mean(s: Seq[Map[String, Double]], k: String) =
      if (s.isEmpty) 0.0 else s.map(_(k)).sum / s.size
    val nBatches = math.max(1.0, rs.map(_("batches")).sum)
    def perBatch(k: String) = rs.map(_(k)).sum / nBatches
    Map(
      "sources.sink_files_per_tick" -> mean(ticks, "sink_files"),
      "sources.output_bytes_per_op" -> mean(rs, "sink_bytes"),
      "streaming.add_batch_ms" -> perBatch("addBatch"),
      "streaming.wal_commit_ms" -> perBatch("walCommit"),
      "streaming.query_planning_ms" -> perBatch("queryPlanning"),
      "streaming.latest_offset_ms" -> perBatch("latestOffset"),
      "streaming.trigger_ms" -> perBatch("triggerExecution"),
      "streaming.tick_probe_ms" -> mean(rs, "probe_ms"),
      "streaming.tick_append_ms" -> mean(rs, "append_ms"),
      "streaming.redelivery_noop_frac" ->
        (if (reds.isEmpty) 1.0 else reds.count(_.r.ok).toDouble / reds.size))
  }

  override def close(spark: SparkSession): Unit = if (query != null) query.stop()
}
