package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** dashboard_mix: one client drawing dashboard queries from a Zipf-weighted
  * pool; a quarter of the ops build a fresh lineage (`freshQueries`), the
  * rest reuse the memoized handle (`queries`). */
final class Dashboard(runDir: String, cores: Int) extends Workload {
  private val dataDir = s"$runDir/data"
  private val ops: IndexedSeq[(String, Boolean)] =
    Files.readAllLines(Paths.get(runDir, "ops.tsv")).asScala.toIndexedSeq.map { l =>
      val Array(q, fresh) = l.split("\t")
      (q, fresh == "1")
    }
  private val pool = ops.map(_._1).distinct.sorted
  /** Each query's first result (set-up) and its hash: the reference every
    * repeat must match, and what the oracle check reads. */
  private val firstHash = scala.collection.mutable.Map.empty[String, Long]
  private val firstResult = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  /** Handles planned so far in this session (memo hits). */
  private val planned = scala.collection.mutable.Set.empty[String]
  private var lastRows: Array[Row] = Array.empty
  /** Each query's first-run time in the last set-up. */
  private val warmMs = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** Order-insensitive multiset hash of a result. */
  private def hashRows(rows: Array[Row]): Long =
    rows.foldLeft(rows.length.toLong * 0x9E3779B97F4A7C15L) { (h, r) =>
      h + scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001")).toLong * 0x2545F4914F6CDD1DL
    }

  /** Runs `f` over the pool on `cores` threads. */
  private def overPool(f: String => Unit): Unit = {
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[String](pool.asJava)
    val workers = (1 to cores).map { _ =>
      val th = new Thread(() => {
        var q = pending.poll()
        while (q != null) { f(q); q = pending.poll() }
      })
      th.start()
      th
    }
    workers.foreach(_.join())
  }

  /** Plans and runs every pool query once, `cores` at a time. */
  def setup(spark: SparkSession, rep: Int, t: Tracer): Unit = {
    planned.clear()
    val hashes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    t.span("session.warm", -1) {
      overPool { q =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, dataDir)
        val rows = df.collect()
        hashes.put(q, hashRows(rows))
        firstResult.put(q, spark.createDataFrame(rows.toSeq.asJava, df.schema))
        warmMs.put(q, (System.nanoTime() - t0) / 1e6)
      }
    }
    pool.foreach { q =>
      require(hashes.containsKey(q), s"$q: warm-up failed")
      planned += q
      if (!firstHash.contains(q)) firstHash(q) = hashes.get(q)
      else require(firstHash(q) == hashes.get(q), s"$q: set-up repetition $rep changed the result")
    }
  }

  def firstOp = 0
  def numOps: Int = ops.size

  def op(spark: SparkSession, i: Int, t: Tracer): OpResult = {
    val (q, fresh) = ops(i)
    val build = if (fresh) SparkEntry.freshQueries(q) else SparkEntry.queries(q)
    val memoHit = !fresh && planned.contains(q)
    val df: DataFrame = t.span("queries.build", i)(build(spark, dataDir))
    t.span("queries.plan", i)(df.queryExecution.executedPlan)
    lastRows = t.span("queries.exec", i)(df.collect())
    if (!fresh) planned += q
    OpResult(if (fresh) "fresh" else if (memoHit) "memo" else "memo_miss")
  }

  override def afterOp(spark: SparkSession, i: Int, r: OpResult): OpResult = {
    val ok = firstHash.get(ops(i)._1).contains(hashRows(lastRows))
    lastRows = Array.empty
    r.copy(ok = ok)
  }

  /** Writes each query's first result as parquet (as `graft.Verify` dumps
    * results) with its oracle SQL, for the DuckDB check in run.py. */
  def finish(spark: SparkSession, done: Seq[(Int, OpResult)]): (Map[String, Any], Int) = {
    val dumpDir = s"$runDir/dump"
    overPool(q => firstResult.get(q).coalesce(1).write.parquet(s"$dumpDir/$q"))
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"),
      Json(pool.map(q => q -> oracle.getOrElse(q, null)).toMap))
    (Map("pool_size" -> pool.size, "warm_ms_by_query" -> warmMs.asScala.toMap), 0)
  }

  override def layerMetrics(traced: Seq[Sample]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map("queries.memo_hit_frac" -> traced.count(_.r.kind == "memo") / n)
  }
}
