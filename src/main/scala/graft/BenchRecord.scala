package graft

import scala.collection.mutable
import scala.language.implicitConversions

/** A minimal JSON tree for the bench record. A number keeps its rendered
  * text, so every field carries its own decimal precision. */
sealed trait J {
  def render: String = { val sb = new StringBuilder; J.write(this, sb); sb.toString }
}

object J {
  final case class Num(text: String) extends J
  final case class Str(s: String) extends J
  final case class Bool(b: Boolean) extends J
  case object Null extends J
  final case class Arr(items: Seq[J]) extends J
  final case class Obj(fields: Seq[(String, J)]) extends J

  implicit def num(v: Long): J = Num(v.toString)
  implicit def num(v: Int): J = Num(v.toString)
  implicit def num(v: Double): J = Num(v.toString)
  implicit def str(s: String): J = Str(s)
  implicit def bool(b: Boolean): J = Bool(b)

  def obj(fields: (String, J)*): Obj = Obj(fields)
  /** `v` with exactly `decimals` digits after the point. */
  def fmt(v: Double, decimals: Int): J = Num(s"%.${decimals}f".format(v))
  def strs(items: Iterable[String]): J = Arr(items.map(Str).toSeq)
  /** A sorted timing spread, three decimals per sample. */
  def spread(secs: Seq[Double]): J = Arr(secs.map(fmt(_, 3)))

  /** The first numeric field named `key`, in document order. */
  def firstNum(j: J, key: String): Option[J] = j match {
    case Obj(fs) => fs.iterator.flatMap {
      case (`key`, n: Num) => Some(n)
      case (_, v) => firstNum(v, key)
    }.nextOption()
    case Arr(items) => items.iterator.flatMap(firstNum(_, key)).nextOption()
    case _ => None
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def write(j: J, sb: StringBuilder): Unit = j match {
    case Num(t) => sb.append(t)
    case Str(s) => sb.append(quote(s))
    case Bool(b) => sb.append(b)
    case Null => sb.append("null")
    case Arr(items) =>
      sb.append('[')
      items.zipWithIndex.foreach { case (v, i) => if (i > 0) sb.append(','); write(v, sb) }
      sb.append(']')
    case Obj(fs) =>
      sb.append('{')
      fs.zipWithIndex.foreach { case ((k, v), i) =>
        if (i > 0) sb.append(',')
        sb.append(quote(k)).append(':')
        write(v, sb)
      }
      sb.append('}')
  }
}

/** Everything one Bench run has measured so far. Each phase stores its
  * block under its own name; every stdout line and artifact file is
  * rendered from this one record.
  *
  * The stdout contract: a recorded run keeps only the last ~2000
  * characters of stdout (the BENCH_r*.json tails), so the final line is
  * always [[compact]] (scalars only, slowest queries packed to fit); the
  * full blocks go to their own `total` / `extras` / `sweep_queries` /
  * `summary` lines and to the on-disk `bench_full_*` file. */
final class BenchRecord(val sfDir: String, val fullFile: String,
    val deadlineSec: Int, val quietBudgetSec: Int, val x10Enabled: Boolean,
    val clock: () => Double, val quietWaitSec: () => Long,
    streamingNames: Set[String], headlineNames: Set[String]) {
  import BenchRecord._

  val blocks = mutable.Map[String, J.Obj]()
  val errors = mutable.LinkedHashMap[String, String]()
  var results: Seq[(String, Double)] = Nil
  var shed: List[String] = Nil

  // the MemoryStream-harness queries are correctness gates, not operator
  // cost: they stay out of `value` and report as streaming_harness_sec
  private def batchTimed =
    results.filter(r => r._2 >= 0 && !streamingNames(r._1))
  private def total: Double = batchTimed.map(_._2).sum

  private def head(keys: String*): Seq[(String, J)] = keys.map { k =>
    k -> (k match {
      case "value" => J.num(total)
      case "unit" => J.str("sec")
      case "headline" =>
        J.num(batchTimed.filter(r => headlineNames(r._1)).map(_._2).sum)
      case "streaming_harness_sec" => J.fmt(results
        .filter(r => r._2 >= 0 && streamingNames(r._1)).map(_._2).sum, 3)
      case "n_queries" => J.num(results.size)
      case "n_failed" => J.num(errors.size)
      case "elapsed_sec" | "wall_sec" => J.fmt(clock(), 1)
      case "quiet_wait_sec" => J.num(quietWaitSec())
      case "quiet_budget_s" => J.num(quietBudgetSec)
      case "x10_enabled" => J.bool(x10Enabled)
      case "deadline_s" => J.num(deadlineSec)
      case "shed_phases" => J.strs(shed)
    })
  }

  private def queries: J = J.Obj(results.map { case (k, v) => k -> J.num(v) })
  private def errorsJ: J = J.Obj(errors.toSeq.map { case (k, v) => k -> J.str(v) })
  private def present: Seq[(String, J)] =
    BlockOrder.flatMap(n => blocks.get(n).map(n -> _))
  private def line(metric: String, parts: Seq[(String, J)]*): String =
    J.Obj(("metric" -> J.str(metric)) +: parts.flatten).render

  /** The on-disk progress artifact: every completed block in full. */
  def partialLine: String = line("summary", Seq("partial" -> J.bool(true)),
    head("value", "unit", "elapsed_sec", "quiet_wait_sec", "deadline_s",
      "shed_phases", "n_queries", "n_failed"),
    present, Seq("queries" -> queries, "errors" -> errorsJ, "sf" -> sfDir))

  def totalLine: String = line("total",
    head("value", "unit", "headline", "streaming_harness_sec", "n_queries",
      "n_failed", "deadline_s", "shed_phases"),
    present, Seq("queries" -> queries, "errors" -> errorsJ, "sf" -> sfDir))

  /** Each block again as its own line, so a tail-truncated capture keeps it. */
  def extrasLines: Seq[String] =
    present.map(b => line("extras", Seq(b, "sf" -> J.str(sfDir))))

  def sweepLine: String =
    line("sweep_queries", Seq("queries" -> queries, "sf" -> sfDir))

  /** The scaled-tier blocks as `"name":{...}` fragments, the shape
    * [[Bench.gateOffenders]] reads. */
  def scaledFragments: Seq[String] = ScaledBlocks.flatMap(n =>
    blocks.get(n).map(b => J.quote(n) + ":" + b.render))

  def summaryLine(gate: J, withErrors: Boolean): String = line("summary",
    head("value", "unit", "headline", "streaming_harness_sec",
      "quiet_wait_sec", "quiet_budget_s", "x10_enabled", "wall_sec",
      "deadline_s", "shed_phases", "n_queries", "n_failed"),
    Seq("failed" -> J.strs(errors.keys), "slowest" -> J.Obj(
      batchTimed.sortBy(-_._2).take(5).map { case (k, v) => k -> J.fmt(v, 2) })),
    SummaryOrder.map { n =>
      n -> blocks.get(n).map { b =>
        if (n == "duckdb") J.Obj(b.fields.filter(f => DuckScalars(f._1))) else b
      }.getOrElse(J.Null)
    },
    Seq("record_gate" -> gate, "queries" -> queries, "sf" -> J.str(sfDir)),
    if (withErrors) Seq("errors" -> errorsJ) else Nil)

  private def scalars(block: String, keys: (String, String)*): J = {
    val fs = for {
      b <- blocks.get(block).toSeq
      (k, alias) <- keys
      v <- J.firstNum(b, k)
    } yield alias -> v
    if (fs.isEmpty) J.Null else J.Obj(fs)
  }

  private def compactBlocks: Seq[(String, J)] = Seq(
    "tp" -> scalars("throughput",
      "frame_rows_per_s" -> "frame_rps", "frame_narrow_rows_per_s" -> "narrow_rps",
      "scorer_docs_per_s" -> "scorer_dps", "knn_sec" -> "knn_sec",
      "loadavg_start" -> "load0", "steal_pct" -> "steal"),
    "nsw" -> scalars("throughput",
      "build_sec" -> "build", "first_search_sec" -> "first",
      "query_amortized_sec" -> "amort",
      "layered_build_sec" -> "l_build", "layered_first_search_sec" -> "l_first",
      "layered_query_amortized_sec" -> "l_amort",
      "int8_build_sec" -> "i8_build", "int8_first_search_sec" -> "i8_first",
      "int8_query_amortized_sec" -> "i8_amort",
      "int8_bytes_ratio" -> "i8_bytes_ratio",
      // the aliases carry the ef so the ef=32 adversarial-corpus floor
      // is never read as the index's recall
      "layered_recall10_ef32" -> "l_recall10_ef32",
      "layered_recall10_ef512" -> "l_recall10_ef512",
      "int8_recall10_ef32" -> "i8_recall10_ef32",
      "int8_recall10_ef512" -> "i8_recall10_ef512",
      "layered_batched_sec_ef512" -> "l_batched_ef512",
      "loadavg_serve" -> "load_serve",
      "layered_loadavg_serve" -> "l_load_serve"),
    "ivf" -> scalars("ivf_index",
      "batch_size" -> "batch_n", "batched_query_sec" -> "batched",
      "pq_batched_query_sec" -> "pq_batched",
      "query_amortized_sec" -> "amort",
      "int8_query_amortized_sec" -> "i8_amort",
      "pq_query_amortized_sec" -> "pq_amort",
      "pq_bytes_ratio" -> "pq_bytes_ratio", "loadavg_serve" -> "load_serve"),
    "recall" -> scalars("ann_recall",
      "v4b_lsh" -> "v4b", "v6b_ivf" -> "v6b", "v8b_nsw" -> "v8b",
      "v11b_ivfpq" -> "v11b", "v11c_ivfpq_rerank" -> "v11c",
      "v12b_ivfpq_trained" -> "v12b", "v12c_ivfpq_trained_rerank" -> "v12c"),
    "duckdb" -> scalars("duckdb",
      "median_ratio" -> "median", "median_ratio_heavy" -> "heavy",
      "median_ratio_exec_heavy" -> "exec_heavy",
      "median_ratio_cached_heavy" -> "cached_heavy"),
    "scaled_x5_exec" -> blocks.get("duckdb_scaled")
      .flatMap(J.firstNum(_, "median_ratio_exec_heavy")).getOrElse(J.Null),
    "scaled_x10_exec" -> blocks.get("duckdb_scaled_x10")
      .flatMap(J.firstNum(_, "median_ratio_exec_heavy")).getOrElse(J.Null),
    "dedup" -> scalars("dedup_scaled",
      "ratio_x5" -> "r5", "ratio_x25" -> "r25",
      "ratio_x100" -> "r100", "x100_pairs" -> "p100"),
    "ann_scaled" -> scalars("ann_scaled",
      "serve_ratio_x5" -> "r5", "serve_ratio_x25" -> "r25",
      "serve_ratio_x100" -> "r100", "x25_serve_sec" -> "x25_serve",
      "x1_recall10" -> "rec1", "x5_recall10" -> "rec5",
      "x25_recall10" -> "rec25", "x25_probed_frac" -> "frac25"),
    "nsw_scaled" -> scalars("nsw_scaled",
      "serve_ratio_x5" -> "r5", "serve_ratio_x25" -> "r25",
      "serve_ratio_x100" -> "r100",
      "x25_build_sec" -> "x25_build", "x25_serve_sec" -> "x25_serve",
      "x1_recall10" -> "rec1", "x25_recall10" -> "rec25"),
    "stream" -> scalars("streaming_tp",
      "agg_events_per_s" -> "agg_eps", "tick_events_per_s" -> "tick_eps"))

  /** The final stdout line: every headline scalar measured so far, with
    * as many slowest-first queries as fit under ~1900 characters (never
    * fewer than 3). `partial` marks a mid-run or killed-run emission. */
  def compact(partial: Boolean): String = {
    def assemble(qmap: Seq[(String, J)]): String = line("summary",
      if (partial) Seq("partial" -> J.bool(true)) else Nil,
      head("value", "unit", "headline", "n_queries", "n_failed", "elapsed_sec",
        "quiet_wait_sec", "quiet_budget_s", "x10_enabled", "deadline_s",
        "shed_phases"),
      Seq("failed" -> J.strs(errors.keys.take(5)), "queries" -> J.Obj(qmap)),
      compactBlocks, Seq("full" -> J.str(fullFile), "sf" -> J.str(sfDir)))
    val budget = math.max(0, 1900 - assemble(Nil).length + 2)
    var used = 0
    val packed = batchTimed.sortBy(-_._2)
      .map { case (k, v) => k -> J.fmt(v, 2) }.zipWithIndex
      .takeWhile { case ((k, v), i) =>
        val add = J.quote(k).length + 1 + v.render.length + (if (i > 0) 1 else 0)
        (i < 3 || used + add <= budget) && { used += add; true }
      }.map(_._1)
    assemble(packed)
  }
}

object BenchRecord {
  /** Block order of the full-record lines (`total`, `extras`, partial file). */
  val BlockOrder: Seq[String] = Seq("throughput", "ann_recall", "ivf_index",
    "dedup_scaled", "ann_scaled", "nsw_scaled", "streaming_tp", "sf1_sweep",
    "duckdb", "scaled_subset_membership", "duckdb_scaled", "duckdb_scaled_x10")
  /** Block order of the `summary` line, which restates duckdb as scalars. */
  val SummaryOrder: Seq[String] = Seq("throughput", "ann_recall", "ivf_index",
    "duckdb", "dedup_scaled", "ann_scaled", "nsw_scaled", "streaming_tp",
    "sf1_sweep", "duckdb_scaled", "duckdb_scaled_x10", "scaled_subset_membership")
  val ScaledBlocks: Seq[String] =
    Seq("scaled_subset_membership", "duckdb_scaled", "duckdb_scaled_x10")
  private val DuckScalars = Set("n_compared", "median_ratio", "n_heavy",
    "median_ratio_heavy", "median_ratio_exec_heavy",
    "median_ratio_cached_heavy", "median_ratio_cached")
}
