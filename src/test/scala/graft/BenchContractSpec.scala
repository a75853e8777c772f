package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The Bench stdout contract. A recorded run keeps only the last ~2000
  * characters of stdout and parses the final (compact) line, and
  * readers diff the `summary` line and the on-disk record. This spec
  * replays the committed sf0.1 record (140 queries, every block filled)
  * through [[BenchRecord]] and pins the rendered lines to that record's
  * shape and to the compact key set of the BENCH_r19 tail. */
class BenchContractSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val committed = mapper.readTree(new java.io.File("bench_full_root_testdata_sf0.1.json"))

  private def toJ(n: JsonNode): J =
    if (n.isObject) J.Obj(n.properties().asScala.map(e => e.getKey -> toJ(e.getValue)).toSeq)
    else if (n.isArray) J.Arr(n.elements().asScala.map(toJ).toSeq)
    else if (n.isTextual) J.Str(n.asText)
    else if (n.isBoolean) J.Bool(n.asBoolean)
    else if (n.isNull) J.Null
    else J.Num(n.asText)

  /** Every key path, `a.b.c`; the members of query-keyed maps are data. */
  private def paths(n: JsonNode, pre: String = ""): Set[String] =
    n.properties().asScala.flatMap { e =>
      val p = pre + e.getKey
      val v = e.getValue
      if (v.isObject && !Set("queries", "slowest", "per_query_exec")(e.getKey)) paths(v, p + ".") + p
      else Set(p)
    }.toSet

  private def replay(): BenchRecord = {
    val r = new BenchRecord(committed.get("sf").asText, "bench_full_x.json",
      deadlineSec = 2400, quietBudgetSec = 180, x10Enabled = true,
      clock = () => 1682.9, quietWaitSec = () => 140L,
      streamingNames = graft.queries.StreamingQueries.queries.map(_.name).toSet,
      headlineNames = SparkEntry.benchQueries.toSet)
    r.results = committed.get("queries").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toSeq
    BenchRecord.SummaryOrder.foreach { n =>
      toJ(committed.get(n)) match {
        case o: J.Obj => r.blocks(n) = o
        case other => fail(s"committed block $n is not an object: $other")
      }
    }
    r
  }

  // the compact line's key paths, from the BENCH_r19 tail
  private val compactPaths = Set("metric", "value", "unit", "headline",
    "n_queries", "n_failed", "elapsed_sec", "quiet_wait_sec",
    "quiet_budget_s", "x10_enabled", "deadline_s", "shed_phases", "failed",
    "queries", "tp", "tp.frame_rps", "tp.narrow_rps", "tp.scorer_dps",
    "tp.knn_sec", "tp.load0", "tp.steal", "nsw", "nsw.build", "nsw.first",
    "nsw.amort", "nsw.l_build", "nsw.l_first", "nsw.l_amort", "nsw.i8_build",
    "nsw.i8_first", "nsw.i8_amort", "nsw.i8_bytes_ratio",
    "nsw.l_recall10_ef32", "nsw.l_recall10_ef512", "nsw.i8_recall10_ef32",
    "nsw.i8_recall10_ef512", "nsw.l_batched_ef512", "nsw.load_serve",
    "nsw.l_load_serve", "ivf", "ivf.batch_n", "ivf.batched",
    "ivf.pq_batched", "ivf.amort", "ivf.i8_amort", "ivf.pq_amort",
    "ivf.pq_bytes_ratio", "ivf.load_serve", "recall", "recall.v4b",
    "recall.v6b", "recall.v8b", "recall.v11b", "recall.v11c", "recall.v12b",
    "recall.v12c", "duckdb", "duckdb.median", "duckdb.heavy",
    "duckdb.exec_heavy", "duckdb.cached_heavy", "scaled_x5_exec",
    "scaled_x10_exec", "dedup", "dedup.r5", "dedup.r25", "ann_scaled",
    "ann_scaled.r5", "ann_scaled.r25", "ann_scaled.x25_serve",
    "ann_scaled.rec1", "ann_scaled.rec5", "ann_scaled.rec25",
    "ann_scaled.frac25", "nsw_scaled", "nsw_scaled.r5", "nsw_scaled.r25",
    "nsw_scaled.x25_build", "nsw_scaled.x25_serve", "nsw_scaled.rec1",
    "nsw_scaled.rec25", "stream", "stream.agg_eps", "stream.tick_eps",
    "full", "sf")

  test("the compact line parses, fits the 2000-character tail and keeps its key set") {
    val r = replay()
    val line = r.compact(partial = false)
    assert(line.length <= 2000, s"compact line is ${line.length} chars")
    val c = mapper.readTree(line)
    assert(paths(c) === compactPaths)
    assert(c.get("metric").asText === "summary")
    assert(paths(mapper.readTree(r.compact(partial = true))) === compactPaths + "partial")
  }

  test("the compact line packs at least the 3 slowest batch queries, slowest first") {
    val r = replay()
    val streaming = graft.queries.StreamingQueries.queries.map(_.name).toSet
    val slowest = r.results.filterNot(q => streaming(q._1)).sortBy(-_._2).map(_._1)
    val packed = mapper.readTree(r.compact(partial = false)).get("queries")
      .fieldNames().asScala.toSeq
    assert(packed.size >= 3 && packed.size < slowest.size)
    assert(packed === slowest.take(packed.size))
  }

  test("the summary line carries every block of the committed record") {
    val r = replay()
    val gate = toJ(committed.get("record_gate"))
    val withErrors = mapper.readTree(r.summaryLine(gate, withErrors = true))
    assert(paths(withErrors) === paths(committed))
    val stdout = mapper.readTree(r.summaryLine(gate, withErrors = false))
    assert(paths(stdout) === paths(committed).filterNot(_ == "errors"))
    BenchRecord.SummaryOrder.foreach(n => assert(!stdout.get(n).isNull, n))
    assert(stdout.get("queries").size === 140)
  }

  test("the total, extras, sweep_queries and partial lines parse and carry every block") {
    val r = replay()
    val total = mapper.readTree(r.totalLine)
    val partial = mapper.readTree(r.partialLine)
    BenchRecord.SummaryOrder.foreach { n =>
      assert(total.has(n) && partial.has(n), n)
    }
    assert(r.extrasLines.map(l => mapper.readTree(l).get("metric").asText).toSet === Set("extras"))
    assert(r.extrasLines.size === BenchRecord.SummaryOrder.size)
    assert(mapper.readTree(r.sweepLine).get("queries").size === 140)
  }
}
