package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.BenchHarness._
import graft.operators.{DecFrameKernels, FrameKernels, SeriesKernels}
import graft.operators.SeriesKernels.KernelSpec
import graft.sources.Tables

/** One probe for single numbers of the bench record, with the harness's
  * own helpers. `<sfDir>@xN` runs against the N-times key-shifted
  * replica (generated once). A single bench phase is reproduced with
  * `SPARK_GRAFT_ONLY=<phase>` on Bench instead.
  *
  * {{{
  * runMain graft.Probe <sfDir>[@xN] time <q...>     fresh-lineage timing, the scaled tiers' discipline
  * runMain graft.Probe <sfDir>[@xN] explain <q...>  formatted executed plan + operator counts
  * runMain graft.Probe <sfDir>[@xN] scale <mult> [q...]  replica dir, then one scaled DuckDB tier
  * runMain graft.Probe <sfDir>[@xN] decomp          per-stage decomposition the floor notes cite
  * }}}
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <sfDir>[@xN] time|explain|scale|decomp ...")
    val spark = GraftSession.get()
    val dir = resolveDir(spark, args(0))
    args(1) match {
      case "time" => args.drop(2).foreach { name =>
        val fn = SparkEntry.freshQueries.getOrElse(name, sys.error(s"unknown query: $name"))
        // warm once, best-of-2 plan and call: a record's per_query_exec row
        val (planT, callT) = planCall(spark, dir, fn, reps = 2, warm = true)
        println(f"$name: fresh_call=$callT%.3f plan=$planT%.3f " +
          f"exec=${math.max(callT - planT, 0)}%.3f sec")
      }
      case "explain" => args.drop(2).foreach { name =>
        val df = SparkEntry.queries(name)(spark, dir)
        // execute first: unexecuted under AQE the plan is a bare
        // `AdaptiveSparkPlan isFinalPlan=false` wrapper and every count
        // reads zero. collect() runs on the Dataset's own QueryExecution.
        df.collect()
        df.explain("formatted")
        // count only the final section of the executed adaptive plan
        val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        def n(p: String) = p.r.findAllIn(plan).length
        val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.distinct
        println(s"[explain] $name: exchanges=${n("Exchange ")} " +
          s"sorts=${n("\\bSort\\b")} windows=${n("\\bWindow\\b")} " +
          s"broadcasts=${n("BroadcastExchange")} " +
          s"wholeStageCodegen=${n("\\*\\(\\d+\\)")} " + pushed.mkString(" | "))
      }
      case "scale" =>
        val mult = args(2).toInt
        println(graft.sources.ScaledTables.ensure(spark, dir, mult))
        val rel = relationalOracles
        val names = if (args.length > 3) args.drop(3).toSeq else rel.keys.toSeq
        val block = scaledProofAt(spark, new Host(180), dir, mult, names,
          "probe", rel, totalBudgetSec = 600)
        println(J.obj("metric" -> "scale_proof",
          "duckdb_scaled" -> block.getOrElse(J.Null)).render)
      case "decomp" => decomp(spark, dir)
      case other => sys.error(s"unknown probe command: $other")
    }
    ScratchCache.drain(spark)
    spark.stop()
  }

  /** Per-stage decomposition of the two-movement ring-kernel family
    * (q_w1 SMA, q_g2 fused Bollinger-crossover) and the E2 exchange
    * shapes: each cumulative plan prefix into the noop sink, best-of-3
    * fresh lineage, next to the measured-and-rejected alternatives. */
  private def decomp(spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    def scan = Tables.eventsSeries(spark, dir)
    def sorted = scan
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_ns"), col("event_id"))
    def w1Kernel = SeriesKernels.applyKernels(
      scan, Seq("user_id"), Seq("ts_ns", "event_id"),
      Seq(KernelSpec(Seq("value"), Seq("sma"),
        () => new DecFrameKernels.SmaDecKernel(30))))
    def w1Proj = w1Kernel.select(col("event_id"), round(col("sma"), 6).as("sma30"))
    def g2Kernel = SeriesKernels.applyKernels(
      scan, Seq("user_id"), Seq("ts_ns", "event_id"),
      Seq(KernelSpec(Seq("value"), Seq("mid", "bb_up", "bb_lo", "buy_d", "sell_d"),
        () => new DecFrameKernels.BollingerCrossKernel(20, 2.0))))
    def g2Proj = g2Kernel.select(
      col("event_id"),
      (col("buy_d") === 1.0).as("buy"),
      (col("sell_d") === 1.0).as("sell"))
    // the pre-fusion q_g2 shape: separate Bollinger kernel, crossover
    // lags in a post-kernel Window pair (a second exchange + sort)
    def g2Windowed = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_ns"), col("event_id"))
      SeriesKernels.applyKernels(
        scan, Seq("user_id"), Seq("ts_ns", "event_id"),
        Seq(KernelSpec(Seq("value"), Seq("mid", "bb_up", "bb_lo"),
          () => new DecFrameKernels.BollingerKernel(20, 2.0))))
        .withColumn("buy", FrameKernels.crossBelow(col("value"), col("bb_lo"), w))
        .withColumn("sell", FrameKernels.crossAbove(col("value"), col("bb_up"), w))
        .select(col("event_id"), col("buy"), col("sell"))
        .orderBy("event_id")
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // warm tables + codegen once
    noop(scan)
    noop(g2Proj.orderBy("event_id"))

    val stages: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => scan),
      "exchange_sort" -> (() => sorted),
      "w1_kernel" -> (() => w1Kernel),
      "w1_project" -> (() => w1Proj),
      "w1_total_order" -> (() => w1Proj.orderBy("event_id")),
      "g2_kernel" -> (() => g2Kernel),
      "g2_project" -> (() => g2Proj),
      "g2_total_order" -> (() => g2Proj.orderBy("event_id")),
      "g2_windowed_cross_REJECTED" -> (() => g2Windowed),
      // materialize the kernel output before the total order, so
      // RangePartitioning's bound-sampling pass reads the checkpointed
      // blocks instead of re-executing the kernel stage
      "w1_total_order_ckpt_ALT" -> (() => w1Proj.localCheckpoint().orderBy("event_id")),
      // q_g2 output-sort alternatives: the q_e3 one-task sort (an
      // anti-pattern for a full-row-count output) and checkpoint-first
      "g2_total_order_1task_ALT" -> (() =>
        g2Proj.repartition(1).sortWithinPartitions("event_id")),
      "g2_total_order_ckpt_ALT" -> (() =>
        g2Proj.localCheckpoint().orderBy("event_id")),
      // E2 exchange width: the wide shape (dedup window first, text
      // columns cross the exchange), the scalar-first variant, and the
      // registered strip-first narrow shape
      "e2_wide_exchange_R17" -> (() =>
        graft.queries.PipelineQueries.e2WideExchange(spark, dir)),
      "e2_scalar_first_ALT" -> (() =>
        graft.queries.PipelineQueries.e2ScalarFirst(spark, dir)),
      "e2_strip_first_narrow" -> (() =>
        SparkEntry.freshQueries("q_e2_news_pipeline")(spark, dir)))
    println(J.Obj(Seq[(String, J)]("metric" -> "decomp", "dir" -> dir) ++
      stages.map { case (n, f) => n -> J.fmt(bestOf(3)(noop(f())), 3) }).render)
  }
}
