package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.IncrementalTick

/** End-to-end X2: the foreachBatch incremental pipeline's sink must
  * equal a full batch recompute over the same rows (the reference's
  * unchecked invariant), including the typed-model boundary.
  */
class IncrementalTickSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get(4)
  private val sf = "/root/testdata/sf0.001"

  test("X2 end-to-end: ticked sink equals batch recompute on enriched columns") {
    val sinkPath = Files.createTempDirectory("graft_tick").toString + "/sink"
    val events = Tables.events(spark, sf)
      .filter(col("user_id") < 5)
      .select("event_id", "ts", "ts_ns", "user_id", "value")

    // drive: first 80% as the "backfill" batch, then 5 ticks of the rest
    val ordered = events.orderBy("ts_ns", "event_id").collect()
    val cut = (ordered.length * 0.8).toInt
    import spark.implicits._
    def toDf(rows: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), events.schema)
    val tickSize = math.max(1, (ordered.length - cut) / 5)
    val batches = toDf(ordered.take(cut)) +:
      ordered.drop(cut).grouped(tickSize).map(g => toDf(g.toArray)).toSeq
    // events are sparse (~1k rows over 30 days), far sparser than hourly:
    // the DEFAULT 299h window under-covers every series, so this exercises
    // the adaptive widening (coveredSlice doubles the window until each
    // series' 299-row tail is in it or the oldest day partition is reached)
    IncrementalTick.run(spark, batches, sinkPath)

    val sink = spark.read.parquet(sinkPath)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val batch = IncrementalTick.enrich(events)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")

    assert(sink.count() == batch.count())
    // anti-join on all compared values: must be empty both ways
    val mismatch = sink.as("s").join(batch.as("b"),
        col("s.event_id") === col("b.event_id"))
      .filter(
        (col("s.sma30") =!= col("b.sma30")) ||
        (col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9, lit(false)) ||
        coalesce(abs(col("s.bb_lo") - col("b.bb_lo")) > 1e-9, lit(false)) ||
        (col("s.buy") =!= col("b.buy")) ||
        (col("s.sell") =!= col("b.sell")))
    assert(mismatch.isEmpty)
  }

  test("X2 recovery: a mid-stream tail-cache death re-seeds from the sink with full parity") {
    // the maintained tail is only a memo of the tick's own appends —
    // kill it between batches (the driver-restart case) and the next
    // tick must re-seed from the sink and stay bit-equal to the batch
    // recompute
    val sinkPath = Files.createTempDirectory("graft_tickrec").toString + "/sink"
    val all = hourly(30)
    val cols = Seq("event_id", "ts", "ts_ns", "user_id", "value")
    val batches = Seq(
      all.filter(col("h") < 500),
      all.filter(col("h") >= 500 && col("h") < 600),
      all.filter(col("h") >= 600)).map(_.select(cols.map(col): _*))
    IncrementalTick.processBatch(spark, batches(0), sinkPath)
    IncrementalTick.processBatch(spark, batches(1), sinkPath)
    IncrementalTick.invalidateTail(sinkPath) // "restart"
    IncrementalTick.processBatch(spark, batches(2), sinkPath)

    val sink = spark.read.parquet(sinkPath)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val batch = IncrementalTick.enrich(all.select(cols.map(col): _*))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    assert(sink.count() == batch.count())
    val mismatch = sink.as("s").join(batch.as("b"),
        col("s.event_id") === col("b.event_id"))
      .filter(
        (col("s.sma30") =!= col("b.sma30")) ||
        (col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9, lit(false)) ||
        coalesce(abs(col("s.bb_lo") - col("b.bb_lo")) > 1e-9, lit(false)) ||
        (col("s.buy") =!= col("b.buy")) ||
        (col("s.sell") =!= col("b.sell")))
    assert(mismatch.isEmpty)
  }

  test("X5 mixed re-delivery: dup rows drop BEFORE the kernel pass") {
    // ADVICE r16: a batch mixing a re-delivered row with genuinely NEW
    // rows of the same series must not let the duplicate into the
    // kernel input twice (once from the tail, once as a fresh row) —
    // that shifts the SMA/Bollinger frames of every co-batched new row.
    // Without the pre-kernel seen-id filter the appended VALUES diverge
    // from the batch recompute even though the row count stays right.
    val sinkPath = Files.createTempDirectory("graft_tickmix").toString + "/sink"
    val all = hourly(30)
    val cols = Seq("event_id", "ts", "ts_ns", "user_id", "value")
    val b1 = all.filter(col("h") < 500).select(cols.map(col): _*)
    val b2 = all.filter(col("h") >= 500 && col("h") < 600).select(cols.map(col): _*)
    // batch 3 = the tail 20 hours of b2 RE-DELIVERED + the new rows
    val b3 = all.filter(col("h") >= 580).select(cols.map(col): _*)
    Seq(b1, b2, b3).foreach(b =>
      IncrementalTick.processBatch(spark, b, sinkPath))

    val sink = spark.read.parquet(sinkPath)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val batch = IncrementalTick.enrich(all.select(cols.map(col): _*))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    assert(sink.count() == batch.count(), "dup rows were appended")
    val mismatch = sink.as("s").join(batch.as("b"),
        col("s.event_id") === col("b.event_id"))
      .filter(
        (col("s.sma30") =!= col("b.sma30")) ||
        (col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9, lit(false)) ||
        coalesce(abs(col("s.bb_lo") - col("b.bb_lo")) > 1e-9, lit(false)) ||
        (col("s.buy") =!= col("b.buy")) ||
        (col("s.sell") =!= col("b.sell")))
    assert(mismatch.isEmpty,
      "re-delivered rows entered the kernel union twice and shifted frames")
  }

  /** Synthetic hourly 2-series frame over `days` days (the reference's
    * actual cadence — 1h candles), so the 299h default lookback maps to
    * exactly 299 rows/series and day-partition pruning bites. */
  private def hourly(days: Int) = {
    val base = 1704067200L // 2024-01-01T00:00:00Z
    spark.range(2L * days * 24)
      .select(
        col("id").as("event_id"),
        (col("id") % 2).as("user_id"),
        (col("id") / 2).cast("long").as("h"))
      .select(
        col("event_id"), col("user_id"), col("h"),
        timestamp_seconds(lit(base) + col("h") * 3600L).as("ts"),
        ((lit(base) + col("h") * 3600L) * lit(1000000000L)).as("ts_ns"),
        (sin(col("h").cast("double") * 0.1) + col("user_id")).as("value"))
  }

  test("X2 pruned tail: multi-day hourly sink, ticks == batch with day partitions dropped") {
    val sinkPath = Files.createTempDirectory("graft_tickp").toString + "/sink"
    val all = hourly(40) // 40 days ≫ 299h lookback ⇒ pruning is active
    val cols = Seq("event_id", "ts", "ts_ns", "user_id", "value")
    val backfill = all.filter(col("h") < 720)
    val ticks = (720 until 960 by 48).map(s =>
      all.filter(col("h") >= s && col("h") < s + 48))
    IncrementalTick.run(spark, backfill +: ticks, sinkPath) // default 299h

    // the tail read for the last tick must prune old day partitions
    val lastMin = 1704067200L + 912L * 3600L
    val slice = IncrementalTick.prunedSlice(
      spark, sinkPath, lastMin * 1000000000L, IncrementalTick.Lookback.toLong)
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters in:\n$plan")
    assert(plan.contains("day"), "day bound not pushed to the sink scan")
    // 299h before day 38 ⇒ nothing before day ~25 is read
    val daysRead = slice.select("day").distinct().count()
    assert(daysRead <= 15, s"slice read $daysRead day partitions, expected <= 15")

    val sink = spark.read.parquet(sinkPath)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val batch = IncrementalTick.enrich(all.select(cols.map(col): _*))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    assert(sink.count() == batch.count())
    val mismatch = sink.as("s").join(batch.as("b"),
        col("s.event_id") === col("b.event_id"))
      .filter(
        coalesce(abs(col("s.sma30") - col("b.sma30")) > 1e-9,
          col("s.sma30").isNull =!= col("b.sma30").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9,
          col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        coalesce(abs(col("s.bb_lo") - col("b.bb_lo")) > 1e-9,
          col("s.bb_lo").isNull =!= col("b.bb_lo").isNull) ||
        (col("s.buy") =!= col("b.buy")) ||
        (col("s.sell") =!= col("b.sell")))
    assert(mismatch.isEmpty)
  }

  test("X2 touched-series pruning: a one-series tick neither rewrites nor re-kernels the others") {
    // r12: kernel input prunes to the batch's user set (a tick touching
    // one symbol must not recompute a many-symbol sink). Parity for the
    // touched series AND zero writes for the untouched ones.
    val sinkPath = Files.createTempDirectory("graft_ticku").toString + "/sink"
    val all = hourly(30)
    val cols = Seq("event_id", "ts", "ts_ns", "user_id", "value")
    val backfill = all.filter(col("h") < 700).select(cols.map(col): _*)
    // the tick: ONE new hourly bar, series 0 only
    val tick = all.filter(col("h") === 700 && col("user_id") === 0)
      .select(cols.map(col): _*)
    IncrementalTick.run(spark, Seq(backfill, tick), sinkPath)

    val sink = spark.read.parquet(sinkPath)
    // exactly one appended row, for series 0
    assert(sink.count() == backfill.count() + 1)
    assert(sink.filter(col("user_id") === 1).count() ==
      backfill.filter(col("user_id") === 1).count())
    // the appended row's kernels equal the full recompute over BOTH series
    val full = IncrementalTick.enrich(
      backfill.unionByName(tick).select(cols.map(col): _*))
      .filter(col("user_id") === 0 && col("ts_ns") ===
        tick.select(max(col("ts_ns"))).first().getLong(0))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell").first()
    val got = sink
      .filter(col("event_id") === full.getLong(0))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell").first()
    assert(math.abs(got.getDouble(1) - full.getDouble(1)) < 1e-9)
    assert(math.abs(got.getDouble(2) - full.getDouble(2)) < 1e-9)
    assert(math.abs(got.getDouble(3) - full.getDouble(3)) < 1e-9)
    assert(got.getBoolean(4) == full.getBoolean(4))
    assert(got.getBoolean(5) == full.getBoolean(5))
  }

  test("X2 through a REAL writeStream.foreachBatch over a file source") {
    // the full Structured Streaming loop the scaladoc promises: a parquet
    // file source (one file per micro-batch, mod-time ordered), the tick
    // component as the foreachBatch body, checkpointed, AvailableNow
    val dir = Files.createTempDirectory("graft_tickfs").toString
    val srcPath = dir + "/src"
    val sinkPath = dir + "/sink"
    val all = hourly(20)
    val ranges = Seq((0, 300), (300, 360), (360, 420), (420, 480))
    ranges.foreach { case (a, b) =>
      all.filter(col("h") >= a && col("h") < b)
        .coalesce(1).write.mode("append").parquet(srcPath)
      Thread.sleep(60) // distinct mod-times => deterministic batch order
    }
    val stream = spark.readStream
      .schema(all.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcPath)
    val q = IncrementalTick.startStream(stream, sinkPath, dir + "/ckpt",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(!q.isActive, "stream did not drain within 2 min")

    val sink = spark.read.parquet(sinkPath)
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    val batch = IncrementalTick.enrich(
        all.select("event_id", "ts", "ts_ns", "user_id", "value"))
      .select("event_id", "sma30", "bb_up", "bb_lo", "buy", "sell")
    assert(sink.count() == 2L * 480)
    val mismatch = sink.as("s").join(batch.as("b"),
        col("s.event_id") === col("b.event_id"))
      .filter(
        coalesce(abs(col("s.sma30") - col("b.sma30")) > 1e-9,
          col("s.sma30").isNull =!= col("b.sma30").isNull) ||
        coalesce(abs(col("s.bb_up") - col("b.bb_up")) > 1e-9,
          col("s.bb_up").isNull =!= col("b.bb_up").isNull) ||
        (col("s.buy") =!= col("b.buy")) ||
        (col("s.sell") =!= col("b.sell")))
    assert(mismatch.isEmpty)
  }

  test("X5 idempotence: re-delivering an already-applied batch is a no-op") {
    val sinkPath = Files.createTempDirectory("graft_ticki").toString + "/sink"
    val all = hourly(20)
    val backfill = all.filter(col("h") < 400)
    val tick = all.filter(col("h") >= 400 && col("h") < 432)
    IncrementalTick.run(spark, Seq(backfill, tick), sinkPath)
    val before = spark.read.parquet(sinkPath).count()
    assert(before == 2L * 432)
    // task retry / at-least-once upstream: same batch delivered again
    IncrementalTick.processBatch(spark, tick, sinkPath)
    val after = spark.read.parquet(sinkPath).count()
    assert(after == before, s"re-delivery appended ${after - before} dup rows")
  }

  test("X2 input budget: an over-budget batch throws before writing anything") {
    val sinkPath = Files.createTempDirectory("graft_tickb").toString + "/sink"
    val n = IncrementalTick.TickDriverTailMaxRows + 1L
    val big = spark.range(n).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
      ((lit(1704067200L) + col("id")) * lit(1000000000L)).as("ts_ns"),
      (col("id") % 1000).as("user_id"),
      col("id").cast("double").as("value"))
    val e = intercept[IllegalArgumentException] {
      IncrementalTick.processBatch(spark, big, sinkPath)
    }
    assert(e.getMessage.contains("TickDriverTailMaxRows"), e.getMessage)
    assert(e.getMessage.contains(IncrementalTick.TickDriverTailMaxRows.toString),
      e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(sinkPath)),
      "the sink path was created by a refused batch")
  }

  test("corrupt sink read fails the tick instead of recomputing from empty") {
    val dir = Files.createTempDirectory("graft_tickc").toString
    val sinkPath = dir + "/sink"
    // a sink path that EXISTS but is not readable parquet
    Files.createDirectories(java.nio.file.Paths.get(sinkPath, "day=2024-01-01"))
    Files.write(
      java.nio.file.Paths.get(sinkPath, "day=2024-01-01", "part-0.parquet"),
      "not a parquet file".getBytes)
    val tick = hourly(2).filter(col("h") < 4)
    intercept[Exception] {
      IncrementalTick.processBatch(spark, tick, sinkPath)
    }
  }

  test("typed model boundary: enriched pipeline rows round-trip as Dataset[OhlcvEnriched]") {
    import spark.implicits._
    val ds = SparkEntry.queries("q_e1_ohlcv_pipeline")(spark, sf)
      .as[graft.model.OhlcvEnriched]
    val rows = ds.take(50)
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.high >= r.low && r.volume > 0))
  }
}
