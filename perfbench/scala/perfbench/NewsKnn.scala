package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{GraphAnn, NswIndex}

/** news_knn: top-10 searches against a persisted layered int8 NSW index,
  * one op in ten appending a 55-vector news batch with ascending ids. */
final class NewsKnn(runDir: String, cores: Int) extends Workload {
  private val WarmSearches = 5
  private val path = s"$runDir/state/index"
  private val ops: IndexedSeq[(String, Int)] =
    Files.readAllLines(Paths.get(runDir, "ops.tsv")).asScala.toIndexedSeq.map { l =>
      val Array(k, a) = l.split("\t")
      (k, a.toInt)
    }
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))

  private var queries: Array[Seq[Double]] = Array.empty
  private var batches: Map[Int, java.util.List[Row]] = Map.empty
  private var appended = 0
  private var appendedRows = 0L
  private var corpusSize = 0L
  private var graphBytes = 0L
  private var staleSinceAppend = false
  private var lastIds: Array[Long] = Array.empty
  private val found = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Seq[Long])]
  private var rawResident = 0

  private def marker: String =
    new String(Files.readAllBytes(Paths.get(path, "_GRAPH_READY"))).trim

  private def markerCount: Long =
    marker.split(",").collectFirst { case kv if kv.startsWith("count=") => kv.drop(6).toLong }.get

  override def prepare(spark: SparkSession, t: Tracer): Map[String, Any] = {
    val t0 = System.nanoTime()
    t.span("operators.nsw_build", -1) {
      NswIndex.buildIfAbsent(spark.read.parquet(s"$runDir/corpus.parquet"),
        "vec_id", "embedding", path, GraphAnn.Params(layered = true),
        numShards = cores, quantize = true)
    }
    Map("index_build_s" -> (System.nanoTime() - t0) / 1e9, "marker" -> marker)
  }

  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    t.span("session.warm", -1) {
      queries = spark.read.parquet(s"$runDir/queries.parquet").collect()
        .sortBy(_.getLong(0)).map(_.getSeq[Double](1))
      batches = spark.read.parquet(s"$runDir/appends.parquet").collect()
        .groupBy(_.getInt(0)).map { case (b, rs) =>
          b -> rs.sortBy(_.getLong(1)).map(r => Row(r.getLong(1), r.getSeq[Float](2))).toSeq.asJava
        }
      corpusSize = markerCount
      queries.take(WarmSearches).foreach(q => NswIndex.searchTopK(spark, path, q, 10).collect())
    }
  }

  def firstOp = 0
  def numOps: Int = ops.size

  def op(spark: SparkSession, i: Int, t: Tracer): OpResult = ops(i) match {
    case ("append", b) =>
      t.span("operators.nsw_append", i) {
        NswIndex.append(spark.createDataFrame(batches(b), vecSchema), "vec_id", "embedding", path)
      }
      OpResult("append")
    case (_, q) =>
      // warm = the graphs of the version this search serves are resident;
      // residentBytesFor alone still counts the pre-append version's graphs
      val raw = NswIndex.residentBytesFor(path) > 0
      val warm = raw && !staleSinceAppend
      if (raw) rawResident += 1
      lastIds = t.span("operators.nsw_search", i) {
        NswIndex.searchTopK(spark, path, queries(q), 10).collect().map(_.getLong(0))
      }
      OpResult(if (warm) "search_warm" else "search_cold")
  }

  override def afterOp(spark: SparkSession, i: Int, r: OpResult): OpResult =
    ops(i) match {
      case ("append", b) =>
        appended += 1
        appendedRows += batches(b).size
        staleSinceAppend = true
        // the index must hold the corpus plus every batch appended so far
        r.copy(ok = markerCount == corpusSize + appendedRows)
      case (_, q) =>
        staleSinceAppend = false
        found += ((i, q, appended, lastIds.toSeq))
        r.copy(ok = lastIds.length == 10 && lastIds.distinct.length == 10)
    }

  def finish(spark: SparkSession, done: Seq[(Int, OpResult)]): (Map[String, Any], Int) = {
    // ids each search returned, for run.py's exact brute-force recall
    Files.writeString(Paths.get(runDir, "found.tsv"), found.map { case (i, q, a, ids) =>
      s"$i\t$q\t$a\t${ids.mkString(",")}"
    }.mkString("", "\n", "\n"))
    val count = markerCount
    graphBytes = NswIndex.graphBytes(spark, path)
    (Map("index_vectors" -> count, "graph_bytes" -> graphBytes,
      "resident_bytes" -> NswIndex.residentBytesFor(path),
      "index_bytes_per_vec" -> graphBytes.toDouble / count,
      "raw_resident_frac" -> rawResident.toDouble / math.max(1, found.size)), 0)
  }

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    def mean(k: String) = {
      val s = traced.filter(_.r.kind == k).map(_.ms)
      if (s.isEmpty) 0.0 else s.sum / s.size
    }
    val searches = traced.filter(_.r.kind.startsWith("search"))
    Map(
      "operators.nsw_search_warm_ms" -> mean("search_warm"),
      "operators.nsw_search_cold_ms" -> mean("search_cold"),
      "operators.nsw_resident_hit_frac" ->
        searches.count(_.r.kind == "search_warm").toDouble / math.max(1, searches.size),
      "operators.nsw_append_ms" -> mean("append"),
      "operators.nsw_resident_bytes" -> NswIndex.residentBytesFor(path).toDouble,
      "operators.nsw_graph_bytes" -> graphBytes.toDouble)
  }
}
