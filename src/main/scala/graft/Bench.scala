package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.BenchHarness._

/** Benchmark main: a table of phases run in order by one [[PhaseLoop]],
  * each writing its block into one [[BenchRecord]]. The throughput
  * probes, the full query sweep and the headline DuckDB comparison are
  * mandatory; every later phase is shed when the wall deadline gets
  * tight. Uses the shared [[GraftSession]] so the session carries the
  * same static confs as Verify and the tests.
  *
  * Failures are reported, not hidden: a failed query contributes -1.0 to
  * `queries` and an entry in `errors`; rc stays 0 so the caller still
  * gets the JSON lines. A record run (SPARK_GRAFT_RECORD=1) exits
  * nonzero when the record gate refuses it or its record file cannot be
  * written.
  *
  * Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_ONLY (comma-separated
  * phase names), SPARK_GRAFT_RECORD, SPARK_GRAFT_WAIVE,
  * SPARK_GRAFT_WALL_DEADLINE_S (default 2400), SPARK_GRAFT_QUIET_BUDGET_S
  * (default 180), SPARK_GRAFT_X10 and SPARK_GRAFT_SF1SWEEP (on unless
  * 0/false/no/off/empty), and the ladder knobs SPARK_GRAFT_DEDUP_MULTS,
  * SPARK_GRAFT_ANN_MULTS, SPARK_GRAFT_NSW_MULTS, SPARK_GRAFT_NSW_DIM,
  * SPARK_GRAFT_NSW_INT8.
  */
object Bench {

  /** Record gate: the query names across the scaled-tier JSON fragments
    * whose per_query_exec row carries `"floor_note_missing":true` — >2x
    * vs DuckDB, not structurally floored, and with neither a named nor
    * an automatic floor note — minus the SPARK_GRAFT_WAIVE names. A
    * record run refuses to write its record while any remain. */
  private[graft] def gateOffenders(scaledBlocks: Seq[String],
      waived: Set[String]): Seq[String] = {
    val bare = """"(q_[a-z0-9_]+)":\{[^{}]*?"floor_note_missing":true""".r
    scaledBlocks.flatMap(b => bare.findAllMatchIn(b).map(_.group(1)))
      .distinct.filterNot(waived)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runT0 = System.nanoTime()
    val spark = GraftSession.get()
    // untimed warmup: the first measured query must not absorb
    // file-listing, footer-reading and codegen JVM warmup
    graft.sources.Tables.names.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    val quietBudgetSec = sys.env.getOrElse("SPARK_GRAFT_QUIET_BUDGET_S", "180").toInt
    val host = new Host(quietBudgetSec)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val x10 = envFlag("SPARK_GRAFT_X10", default = true)
    val sf1 = envFlag("SPARK_GRAFT_SF1SWEEP", default = true)
    // Only an explicit record run writes the record file; SPARK_GRAFT_ONLY
    // runs write `_partial`, every other run `_rerun`, so a re-run can
    // never overwrite a committed record. Progress rewrites of a record
    // run go to `_partial` too, so a crashed or refused record run
    // leaves the committed record intact.
    val isRecordRun = sys.env.get("SPARK_GRAFT_RECORD").contains("1")
    val recordFile = "bench_full_" +
      sfDir.replaceAll("[^A-Za-z0-9.]+", "_").stripPrefix("_") + ".json"
    def variant(suffix: String) = recordFile.stripSuffix(".json") + suffix
    val fullFile =
      if (only.isDefined) variant("_partial.json")
      else if (!isRecordRun) variant("_rerun.json")
      else recordFile
    val progressFile = if (isRecordRun) variant("_partial.json") else fullFile
    val record = new BenchRecord(sfDir, fullFile,
      deadlineSec = sys.env.getOrElse("SPARK_GRAFT_WALL_DEADLINE_S", "2400").toInt,
      quietBudgetSec = quietBudgetSec,
      x10Enabled = x10, clock = () => (System.nanoTime() - runT0) / 1e9,
      quietWaitSec = () => host.quietWaitSec,
      streamingNames = graft.queries.StreamingQueries.queries.map(_.name).toSet,
      headlineNames = SparkEntry.benchQueries.toSet)
    val loop = new PhaseLoop(record, only, progressFile, println(_))
    @volatile var finalLine: Option[String] = None
    // registered early: a SIGTERM mid-run still ends stdout with the best
    // partial summary, and after a normal finish the final line is
    // re-printed after sbt's own trailer
    sys.addShutdownHook {
      System.out.println(finalLine.getOrElse(record.compact(partial = true)))
      System.out.flush()
    }
    val p = new BenchPhases(spark, sfDir, host, record, loop, recordFile)
    loop.run(Seq(
      Phase("throughput", 240, sheddable = false, p.throughput),
      Phase("sweep", 300, sheddable = false, p.sweep),
      Phase("duckdb", 420, sheddable = false, p.duckdb),
      Phase("ann_recall", 90, sheddable = true, p.annRecall),
      Phase("ivf_index", 150, sheddable = true, p.ivfIndex),
      Phase("dedup_scaled", 90, sheddable = true, p.dedupScaled),
      Phase("ann_scaled", 300, sheddable = true, p.annScaled),
      Phase("nsw_scaled", 200, sheddable = true, p.nswScaled),
      Phase("streaming_tp", 120, sheddable = true, p.streamingTp),
      Phase("duckdb_scaled", 360, sheddable = true, () => p.scaledTier(5, 600))) ++
      Option.when(x10)(Phase("duckdb_scaled_x10", 900, sheddable = true,
        () => p.scaledTier(10, 1200))) :+
      (if (sf1) Phase("sf1_sweep", 700, sheddable = true, p.sf1Sweep)
       else Phase("sf1_sweep", 700, sheddable = false, () => Some(J.obj("skipped" ->
         ("disabled via SPARK_GRAFT_SF1SWEEP=0; artifact of record: the " +
          "previous round's committed sweep"))))))

    ScratchCache.drain(spark)
    println(record.totalLine)
    record.extrasLines.foreach(println)
    // deliberately not last: the 2000-character tail must end with the
    // compact summary
    println(record.sweepLine)
    val waived = sys.env.getOrElse("SPARK_GRAFT_WAIVE", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val offenders = gateOffenders(record.scaledFragments, waived)
    val gate = J.obj("offenders" -> J.strs(offenders),
      "waived" -> J.strs(waived.toSeq.sorted), "enforced" -> isRecordRun)
    println(record.summaryLine(gate, withErrors = false))
    // the file variant carries the error messages too
    val summaryFile = record.summaryLine(gate, withErrors = true)
    if (isRecordRun && offenders.nonEmpty) {
      val gatedFile = variant("_gated_partial.json")
      writeArtifact(summaryFile, gatedFile, println(_))
      val refusal = J.obj("metric" -> "record_gate_refusal",
        "offenders" -> J.strs(offenders), "kept" -> gatedFile,
        "record_not_written" -> recordFile).render
      println(refusal)
      finalLine = Some(refusal)
      spark.stop()
      sys.exit(1)
    }
    val written = writeArtifact(summaryFile, fullFile, println(_))
    // a completed record supersedes its own progress artifact
    if (written && isRecordRun && progressFile != fullFile)
      try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(progressFile))
      catch { case _: Throwable => () }
    val compactLine = record.compact(partial = false)
    finalLine = Some(compactLine)
    println(compactLine)
    spark.stop()
    if (!written && isRecordRun) sys.exit(1)
  }
}

/** The bench phase bodies. Each returns its block's fields; state that a
  * later phase consumes (the DuckDB base times) lives here. */
private final class BenchPhases(spark: SparkSession, sfDir: String,
    host: Host, record: BenchRecord, loop: PhaseLoop, recordFile: String) {
  private def tmpPath(prefix: String): String =
    System.getProperty("java.io.tmpdir") + "/" + prefix +
      sfDir.replaceAll("[^A-Za-z0-9]", "_")
  private lazy val fs =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
  private def rm(path: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(path), true)
  private def cores = Runtime.getRuntime.availableProcessors()

  /** Steady-state throughput probes against BASELINE.md's targets (frame
    * kernels >= 1M rows/s/core, scoring >= 10k docs/s, kNN over 1e5 x
    * 768-d < 1 s) plus the persisted NSW index story. They run first,
    * on a quiet JVM: after the sweep, GC and heap pressure degraded the
    * same probes 2-5x. */
  def throughput(): Option[J.Obj] = {
    spark.catalog.clearCache()
    System.gc()
    // best-of-5 cannot save the headline when all five reps are
    // contended, so the probe phase itself is quiet-gated
    host.waitQuiet()
    val load0 = Host.loadAvg()
    val cpu0 = Host.cpuStat()
    // frame-kernel probe: SMA30 + Bollinger(20,2) over 20M synthetic
    // rows across 1000 series — one shuffle, windowed aggregates in
    // whole-stage codegen
    val frameRows = 20000000L
    val sdf = spark.range(frameRows)
      .select((col("id") % 1000).as("user_id"), col("id").as("ts"),
        sin(col("id").cast("double") * 1e-3).as("value"))
    val w = Window.partitionBy("user_id").orderBy("ts")
    val f20 = w.rowsBetween(-19, 0)
    val frameSpread = spreadOf {
      sdf.select(
        avg(col("value")).over(w.rowsBetween(-29, 0)).as("sma"),
        (avg(col("value")).over(f20) + lit(2.0) * stddev_pop(col("value")).over(f20)).as("up"))
        .filter(col("sma").isNotNull && col("up").isNotNull)
        .count()
    }
    val frameSec = frameSpread.head
    // narrow-kernel probe: the same trailing-window arithmetic as a fused
    // mapPartitions over already-partitioned data — kernel throughput
    // without the one-off exchange the shuffled probe includes
    import spark.implicits._
    val narrowSpread = spreadOf {
      spark.range(frameRows)
        .select(sin(col("id").cast("double") * 1e-3).as("value"))
        .as[Double]
        .mapPartitions { it =>
          val ring = new Array[Double](30)
          var n = 0L
          var sum = 0.0
          var kept = 0L
          while (it.hasNext) {
            val v = it.next()
            val slot = (n % 30).toInt
            if (n >= 30) sum -= ring(slot)
            ring(slot) = v
            sum += v
            n += 1
            if (n >= 30 && sum / 30.0 < 2.0) kept += 1
          }
          Iterator.single(kept)
        }
        .reduce(_ + _)
    }
    val narrowSec = narrowSpread.head
    // scorer probe: the M4 fan-out over the corpus replicated to ~100k docs
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val copies = math.max(1, (100000 / math.max(nDocs, 1L)).toInt)
    // ONE crossJoin with a copy index (a per-copy union's plan dominated
    // the probe at sf0.001). The text is perturbed per copy, or Catalyst
    // pushes the stats below the join and scores each unique doc once.
    val bigDocs = docs.crossJoin(
        spark.range(copies).select(col("id").as("copy_i")))
      .withColumn("doc_id", col("doc_id") + col("copy_i") * lit(10000000L))
      .withColumn("text", concat(col("text"), lit(" c"), col("copy_i")))
      .drop("copy_i")
    val scoredDocs = nDocs * copies
    def scorerPlan(in: DataFrame) = {
      val withC = graft.operators.Scorers.withFieldStats(
        in, "c", col("text"), keepTh = true)
      val staged = graft.operators.Scorers.withFieldStats(
        withC, "t", substring(col("text"), 1, 80))
      staged
        .withColumn("th", col("c_th"))
        .withColumn("raw", graft.operators.Scorers.rawEmbeddingFromHashes(col("th"), 16))
        .select(col("doc_id"), col("c_pos"), col("c_neg"), col("t_pos"),
          col("t_neg"), element_at(col("raw"), 1).as("e0"))
        .filter(col("c_pos").isNotNull)
    }
    scorerPlan(docs.limit(500)).count() // warm codegen/planning
    val scorerSpread = spreadOf { scorerPlan(bigDocs).count() }
    val scorerSec = scorerSpread.head
    // kNN probe: brute-force top-10 cosine over 1e5 persisted synthetic
    // vectors at 768 dims — scan+score+top-k, not the sin() generation.
    // (id+1): row 0 must not be the all-zero vector, on which the exact
    // recall pass's SQL `cosine` throws under ANSI mode
    val knnN = 100000L
    val dim = 768
    val vecs = spark.range(knnN)
      .select(col("id"),
        array((0 until dim).map(d =>
          sin((col("id") + 1).cast("double") * (d + 1) * 1e-4)): _*).as("v"))
      .persist()
    vecs.count() // materialize before timing
    val qvFull = graft.operators.VectorOps.hyperplanes(1, dim, seed = 13L).head
    // graft_dot: a 768-term literal chain either overflows Catalyst's
    // recursion or busts the codegen method limit; see functions.DotConst
    val dot = call_function("graft_dot", col("v"), array(qvFull.map(lit): _*))
    def topk() = vecs.withColumn("score", dot)
      .orderBy(desc("score"), col("id")).limit(10).collect()
    topk() // warm codegen
    val knnSpread = spreadOf(topk(), n = 5)
    val knnSec = knnSpread.head
    // graph-ANN over the same corpus: per-shard NSW build + search per
    // call, the worst case with the build included
    val nswCorpus = vecs
      .withColumnRenamed("id", "vec_id").withColumnRenamed("v", "embedding")
    val nswSpread = spreadOf {
      graft.operators.GraphAnn.searchTopK(
        nswCorpus, "vec_id", "embedding", qvFull, k = 10, numShards = cores).collect()
    }
    val nswSec = nswSpread.head
    // persisted NSW: built once to disk, then served. The sfDir suffix
    // keeps two bench JVMs at different SFs off each other's deletes.
    // Every build and serve span is quiet-gated and stamped.
    val nswIdxPath = tmpPath("graft_nsw_bench_")
    rm(nswIdxPath)
    val nswLoadBuild = host.waitQuiet()
    val nswBuildSec = time {
      graft.operators.NswIndex.buildIfAbsent(
        nswCorpus, "vec_id", "embedding", nswIdxPath, numShards = cores)
    }
    // first serve pays the one-time load (scan + shard shuffle +
    // per-executor graph reconstruction), best-of-2 with the resident
    // state evicted per rep; steady state is a walk over resident graphs
    def servePair(path: String): (Seq[Double], Double) = {
      val nswServe = 4
      val firstSpread = (1 to 2).map { _ =>
        graft.operators.NswIndex.evictServed(path)
        time {
          graft.operators.NswIndex.searchTopK(spark, path, qvFull, k = 10).collect()
        }
      }.sorted
      val amort = time {
        (1 to nswServe).foreach { _ =>
          graft.operators.NswIndex.searchTopK(spark, path, qvFull, k = 10).collect()
        }
      } / nswServe
      (firstSpread, amort)
    }
    val nswLoadServe = host.waitQuiet()
    val (nswFirstSpread, nswAmortSec) = servePair(nswIdxPath)
    rm(nswIdxPath)
    // layered HNSW, same corpus and shards: the hierarchy replaces the
    // flat build's per-insert stride probes and per-search entry evals
    val nswlPath = nswIdxPath + "_l"
    rm(nswlPath)
    val nswlLoadBuild = host.waitQuiet()
    val nswlCpu0 = Host.cpuStat()
    val nswlBuildSec = time {
      graft.operators.NswIndex.buildIfAbsent(
        nswCorpus, "vec_id", "embedding", nswlPath,
        graft.operators.GraphAnn.Params(layered = true), numShards = cores)
    }
    val nswlStealBuild = Host.stealPct(nswlCpu0, Host.cpuStat())
    val nswlLoadServe = host.waitQuiet()
    val (nswlFirstSpread, nswlAmortSec) = servePair(nswlPath)
    // int8-quantized layered: the reference's serving config (HNSW +
    // scalar int8 always_ram, init_qdrant.py:51-57)
    val nswqPath = nswIdxPath + "_i8"
    rm(nswqPath)
    val nswqLoadBuild = host.waitQuiet()
    val nswqCpu0 = Host.cpuStat()
    val nswqBuildSec = time {
      graft.operators.NswIndex.buildIfAbsent(
        nswCorpus, "vec_id", "embedding", nswqPath,
        graft.operators.GraphAnn.Params(layered = true),
        numShards = cores, quantize = true)
    }
    val nswqStealBuild = Host.stealPct(nswqCpu0, Host.cpuStat())
    // build-cost guard: int8 staging must stay a small constant over the
    // raw layered build. Armed only on a genuinely quiet box — load < 6
    // (the waitQuiet threshold 12 is a proceed-anyway bound) AND measured
    // steal < 0.5%, the contention load average cannot see; unreadable
    // steal (-1) never arms.
    if (nswlLoadBuild >= 0 && nswlLoadBuild < 6.0 &&
        nswqLoadBuild >= 0 && nswqLoadBuild < 6.0 &&
        nswlStealBuild >= 0 && nswlStealBuild < 0.5 &&
        nswqStealBuild >= 0 && nswqStealBuild < 0.5 &&
        nswqBuildSec > 5.0 * math.max(nswlBuildSec, 0.5)) {
      record.errors("__int8_build_guard") =
        f"int8 layered build $nswqBuildSec%.1fs > 5x raw layered " +
          f"$nswlBuildSec%.1fs on a quiet box (steal " +
          f"$nswlStealBuild%.2f/$nswqStealBuild%.2f%%)"
    }
    val (nswqFirstSpread, nswqAmortSec) = servePair(nswqPath)
    val nswlBytes = graft.operators.NswIndex.graphBytes(spark, nswlPath)
    val nswqBytes = graft.operators.NswIndex.graphBytes(spark, nswqPath)
    // recall@10 of the layered serves against the exact cosine top-10,
    // mean over 8 query hyperplanes, at two beam widths. The sin corpus
    // is adversarial for graph navigation (aliasing puts near-identical
    // similarity mass in far-apart id regions), so ef=32 reads low here
    // while the same serve path measures 1.0 on the real embeddings
    // (ann_recall.v8b_nsw); ef=512 shows the knob that buys it back.
    val recallQs = graft.operators.VectorOps.hyperplanes(8, dim, seed = 13L)
      .zipWithIndex.map { case (q, i) => (i.toLong, q) }
    val exactByQ = recallQs.map { case (qid, q) =>
      qid -> nswCorpus
        .withColumn("s", graft.operators.VectorOps.cosine(
          col("embedding"), typedLit(q.toSeq)))
        .orderBy(desc("s"), col("vec_id")).limit(10)
        .collect().map(_.getLong(0)).toSet
    }.toMap
    // one batched searchShards job serves all 8 queries: the per-query
    // cost of the production (batch) serve shape
    def recallAndSec(path: String, ef: Int): (Double, Double) = {
      val t0 = System.nanoTime()
      val byQ = graft.operators.NswIndex.searchShards(
        spark, path, recallQs, kPerShard = 10, efSearch = ef)
        .collect().groupBy(_.getLong(0))
      val sec = (System.nanoTime() - t0) / 1e9 / recallQs.size
      val mean = recallQs.map { case (qid, _) =>
        byQ.getOrElse(qid, Array.empty)
          .sortBy(r => (-r.getDouble(2), r.getLong(1)))
          .take(10).map(_.getLong(1)).count(exactByQ(qid).contains) / 10.0
      }.sum / recallQs.size
      (mean, sec)
    }
    val (nswlRecall, nswlBatchSec) = recallAndSec(nswlPath, ef = 32)
    val (nswlRecallWide, nswlBatchWideSec) = recallAndSec(nswlPath, ef = 512)
    val (nswqRecall, _) = recallAndSec(nswqPath, ef = 32)
    val (nswqRecallWide, _) = recallAndSec(nswqPath, ef = 512)
    rm(nswlPath)
    rm(nswqPath)
    vecs.unpersist()
    Some(J.obj("order" -> "pre-sweep",
      "loadavg_start" -> J.fmt(load0, 2), "loadavg_end" -> J.fmt(Host.loadAvg(), 2),
      "steal_pct" -> J.fmt(Host.stealPct(cpu0, Host.cpuStat()), 2),
      "frame_rows" -> frameRows, "frame_sec" -> frameSec,
      "frame_rows_per_s" -> (frameRows / frameSec).toLong,
      "frame_narrow_sec" -> narrowSec,
      "frame_narrow_rows_per_s" -> (frameRows / narrowSec).toLong,
      "scorer_docs" -> scoredDocs, "scorer_sec" -> scorerSec,
      "scorer_docs_per_s" -> (scoredDocs / scorerSec).toLong,
      "knn_vectors" -> knnN, "knn_sec" -> knnSec,
      "nsw_build_search_sec" -> nswSec,
      "nsw_index" -> J.obj("build_sec" -> J.fmt(nswBuildSec, 3),
        "loadavg_build" -> J.fmt(nswLoadBuild, 2),
        "loadavg_serve" -> J.fmt(nswLoadServe, 2),
        "first_search_sec" -> J.fmt(nswFirstSpread.head, 3),
        "first_search_spread" -> J.spread(nswFirstSpread),
        "query_amortized_sec" -> J.fmt(nswAmortSec, 4),
        "rebuild_per_query_sec" -> J.fmt(nswSec, 3),
        "layered_build_sec" -> J.fmt(nswlBuildSec, 3),
        "layered_loadavg_build" -> J.fmt(nswlLoadBuild, 2),
        "layered_steal_build" -> J.fmt(nswlStealBuild, 2),
        "layered_loadavg_serve" -> J.fmt(nswlLoadServe, 2),
        "layered_first_search_sec" -> J.fmt(nswlFirstSpread.head, 3),
        "layered_first_search_spread" -> J.spread(nswlFirstSpread),
        "layered_query_amortized_sec" -> J.fmt(nswlAmortSec, 4),
        "int8_build_sec" -> J.fmt(nswqBuildSec, 3),
        "int8_loadavg_build" -> J.fmt(nswqLoadBuild, 2),
        "int8_steal_build" -> J.fmt(nswqStealBuild, 2),
        "int8_first_search_sec" -> J.fmt(nswqFirstSpread.head, 3),
        "int8_first_search_spread" -> J.spread(nswqFirstSpread),
        "int8_query_amortized_sec" -> J.fmt(nswqAmortSec, 4),
        "layered_bytes" -> nswlBytes, "int8_bytes" -> nswqBytes,
        "int8_bytes_ratio" -> J.fmt(nswqBytes.toDouble / math.max(nswlBytes, 1L), 3),
        "layered_recall10_ef32" -> J.fmt(nswlRecall, 3),
        "layered_recall10_ef512" -> J.fmt(nswlRecallWide, 3),
        "int8_recall10_ef32" -> J.fmt(nswqRecall, 3),
        "int8_recall10_ef512" -> J.fmt(nswqRecallWide, 3),
        "layered_batched_sec_ef32" -> J.fmt(nswlBatchSec, 4),
        "layered_batched_sec_ef512" -> J.fmt(nswlBatchWideSec, 4)),
      "spread" -> J.obj("frame" -> J.spread(frameSpread),
        "narrow" -> J.spread(narrowSpread), "scorer" -> J.spread(scorerSpread),
        "knn" -> J.spread(knnSpread), "nsw" -> J.spread(nswSpread))))
  }

  /** The full query sweep, each query timed on its first execution in
    * this JVM (the probes warmed tables and codegen only). */
  def sweep(): Option[J.Obj] = {
    val buf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // the sweep is mandatory, but on a box slow enough that the sweep
    // alone crosses the deadline a partial sweep with rc 0 beats a
    // complete one that is killed before it prints
    var tailShed = 0
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.foreach {
      case ((name, fn), i) =>
        if (loop.pastDeadline) tailShed += 1
        else {
          // labels the query's jobs for event-log attribution
          spark.sparkContext.setJobDescription(s"sweep:$name")
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable => record.errors(name) = message(e); false }
          spark.sparkContext.setJobDescription(null)
          buf += name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
        if ((i + 1) % 40 == 0) {
          record.results = buf.toSeq
          loop.stamp(s"sweep_${i + 1}")
        }
    }
    if (tailShed > 0) {
      record.shed = record.shed :+ s"sweep_tail_$tailShed"
      println(J.obj("metric" -> "phase_shed", "name" -> s"sweep_tail_$tailShed",
        "elapsed_sec" -> J.fmt(loop.elapsedSec, 1),
        "deadline_s" -> record.deadlineSec).render)
    }
    record.results = buf.toSeq
    None
  }

  // Pinned into both scaled tiers whatever their base DuckDB time: the
  // two perennial slowest dedup queries (their sf0.1 wall is shuffle
  // round-trip latency that should amortize with volume); q_s4, the
  // tier's bare-scan floor instrument; q_j3/q_j3b/q_t10, whose base
  // times flap around the 0.05 s heavy cut.
  private val scaledPins = Seq("q_d1_minhash_lsh", "q_d5_dup_clusters",
    "q_s4_range_scan", "q_j3_range_count", "q_j3b_range_join_general",
    "q_t10_pii_redact")
  // the base DuckDB times the scaled tiers pick their subset from
  private var duckSecBase: Map[String, Double] = Map.empty
  private var relScaled: Map[String, String] = Map.empty
  // the committed record's x5 subset, read before any rewrite, so
  // queries entering or leaving the heavy subset are logged
  private val prevScaledSubset: Set[String] = try {
    val f = new java.io.File(recordFile)
    if (!f.exists()) Set.empty
    else {
      val it = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
        .path("duckdb_scaled").path("per_query_exec").fieldNames()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSet
    }
  } catch { case _: Throwable => Set.empty }

  /** Headline DuckDB comparison (BASELINE.md "relational < 2x DuckDB"):
    * the relational oracle SQLs timed in a DuckDB subprocess against
    * Spark on the same parquet, both sides warm and fully materialized
    * (collect/fetchall — a count() would let Catalyst prune projections
    * and ORDER BYs). Skipped when tools/time_duckdb.py is absent. */
  def duckdb(): Option[J.Obj] = {
    if (!new java.io.File(DuckScript).exists()) return None
    val rel = relationalOracles
    // quiet sf0.1 sweeps take 2-4 min; the cumulative budget also
    // shrinks to half the remaining wall so this mandatory phase cannot
    // blow the run deadline
    val duckBudget = math.max(120,
      math.min(480, ((record.deadlineSec - loop.elapsedSec) / 2).toInt))
    val duckSec = runDuckTimer(sfDir, rel, 30, duckBudget)
    // past the deadline the remaining queries are dropped and counted
    var deadlineDropped = 0
    def timed(f: ((SparkSession, String) => DataFrame) => Double): Map[String, Double] =
      duckSec.keys.toSeq.sorted.flatMap { n =>
        SparkEntry.freshQueries.get(n).flatMap { fn =>
          if (loop.pastDeadline) { deadlineDropped += 1; None }
          else Some(n -> f(fn))
        }
      }.toMap
    // headline: fresh lineage per rep (plan paid every rep, no memoized
    // handle, no skipped shuffle stages), like-for-like with DuckDB
    // re-executing fully
    val warmSec = timed { fn =>
      fn(spark, sfDir).collect() // warm tables/codegen once
      bestOf(3)(fn(spark, sfDir).collect())
    }
    // handle-reuse serving mode: planning paid once, and re-executing the
    // same handle may skip unchanged shuffle stages on static data, so
    // this is a serving number, not an execution-cost isolation
    val cachedSec = timed { fn =>
      val df = fn(spark, sfDir)
      df.collect() // warm: triggers analysis + codegen once
      bestOf(3)(df.collect())
    }
    // execution isolation: fresh per-call time minus separately measured
    // planning (runtime codegen compile stays on the execution side but
    // hits Janino's cache after the first call)
    val execSec = timed { fn =>
      val (planT, callT) = planCall(spark, sfDir, fn, reps = 3, warm = false)
      math.max(callT - planT, 1e-4)
    }
    def ratios(spark: Map[String, Double]): Seq[(String, Double)] =
      duckSec.toSeq.collect {
        case (n, d) if d > 0 && spark.getOrElse(n, -1.0) > 0 => n -> spark(n) / d
      }.sortBy(_._1)
    // heavy = DuckDB itself does >= 50 ms: both engines measure
    // execution, not Spark's fixed ~0.1 s planning/scheduling floor
    def heavyOf(rs: Seq[(String, Double)]) = rs.filter { case (n, _) => duckSec(n) >= 0.05 }
    val warmRatios = ratios(warmSec)
    val heavy = heavyOf(warmRatios)
    duckSecBase = duckSec
    relScaled = rel ++ SparkEntry.oracleSql.view.filterKeys(scaledPins.contains).toMap
    logScaledMembership()
    def secs(m: Map[String, Double]): J =
      J.Obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> J.fmt(v, 4) })
    Some(J.obj(
      // rebuilt from the parsed map, never the raw subprocess output,
      // whose merged stderr could corrupt the JSON
      "duck_sec" -> J.Obj(duckSec.toSeq.sortBy(_._1).map { case (k, v) => k -> J.num(v) }),
      "spark_warm_sec" -> secs(warmSec), "spark_exec_sec" -> secs(execSec),
      "spark_cached_sec" -> secs(cachedSec),
      "n_compared" -> warmRatios.size, "n_deadline_dropped" -> deadlineDropped,
      "n_duck_timed_out" -> duckSec.count(_._2 == -1.0),
      "n_duck_budget_cut" -> duckSec.count(_._2 == -2.0),
      "duck_total_budget_s" -> duckBudget,
      "median_ratio" -> J.fmt(medianOf(warmRatios.map(_._2)), 3),
      "n_heavy" -> heavy.size,
      "median_ratio_heavy" -> J.fmt(medianOf(heavy.map(_._2)), 3),
      "median_ratio_exec_heavy" -> J.fmt(medianOf(heavyOf(ratios(execSec)).map(_._2)), 3),
      "median_ratio_cached_heavy" -> J.fmt(medianOf(heavyOf(ratios(cachedSec)).map(_._2)), 3),
      "median_ratio_cached" -> J.fmt(medianOf(ratios(cachedSec).map(_._2)), 3),
      "heavy" -> J.strs(heavy.map(_._1)),
      "over_2x" -> J.strs(warmRatios.filter(_._2 > 2.0).map(_._1)),
      "note" -> ("both sides fully materialize (collect/fetchall), warm, " +
        "best-of-N. median_ratio / median_ratio_heavy (heavy = " +
        "DuckDB >= 50ms subset) now run on FRESH lineage per rep " +
        "(plan paid every rep, no memoized handle, no skipped " +
        "shuffle stages — like-for-like with DuckDB re-executing " +
        "fully; ADVICE r5). median_ratio_cached_*: explicit " +
        "handle-reuse serving mode (planning paid once, shuffle " +
        "stages may be reused on static data). " +
        "median_ratio_exec_heavy: fresh lineage with separately " +
        "measured planning time subtracted — execution vs " +
        "execution; see duckdb_scaled for the same number at a " +
        "larger SF where the per-job floor amortizes")))
  }

  private def heavyNames: Seq[String] =
    (duckSecBase.toSeq.filter(_._2 >= 0.05).map(_._1) ++
      scaledPins.filter(relScaled.contains)).distinct.sorted

  /** Membership diff of the scaled heavy subset against the committed
    * record: every entered or dropped query is listed with its reason. */
  private def logScaledMembership(): Unit = if (prevScaledSubset.nonEmpty) {
    val names = heavyNames
    val dropped = (prevScaledSubset -- names.toSet).toSeq.sorted.map { n =>
      val why = duckSecBase.get(n) match {
        case Some(d) if d < 0.05 =>
          f"base_duck_sec $d%.3f below the 0.05s heavy cut this run"
        case Some(d) =>
          f"base_duck_sec $d%.3f but excluded (not in scaled oracle set)"
        case None => "no base oracle measurement this run"
      }
      J.obj("name" -> n, "reason" -> why)
    }
    record.blocks("scaled_subset_membership") = J.obj(
      "prev_record_n" -> prevScaledSubset.size, "current_n" -> names.size,
      "subset_entered" -> J.strs(names.filterNot(prevScaledSubset.contains)),
      "subset_dropped" -> J.Arr(dropped))
  }

  /** A scaled-replica tier over the base run's heavy subset; measures that
    * the per-job floor behind exec_heavy amortizes with data volume. */
  def scaledTier(mult: Int, duckBudgetSec: Int): Option[J.Obj] =
    if (relScaled.isEmpty) None
    else scaledProofAt(spark, host, sfDir, mult, heavyNames,
      "full_heavy_set_plus_dedup", relScaled, duckBudgetSec)

  /** Measured ANN recall: mean over the 8 query points of |ANN top-5 ∩
    * exact top-5| / 5 (per-point numbers are oracle-checked). */
  def annRecall(): Option[J.Obj] = {
    def meanRecall(name: String): Double = {
      val r = SparkEntry.queries(name)(spark, sfDir)
        .agg(avg(col("recall"))).first().getDouble(0)
      math.rint(r * 1e6) / 1e6
    }
    val v4dSweep = SparkEntry.queries("q_v4d_multiprobe_sweep")(spark, sfDir)
      .select(col("ham"), col("mean_recall")).collect()
      .map(r => r.getAs[Number](0).intValue -> r.getDouble(1)).toMap
    def v4dAt(h: Int): Double = math.rint(v4dSweep.getOrElse(h, -1.0) * 1e6) / 1e6
    // the shipped (Bands, BitsPerBand) layout's candidate fraction:
    // recall without the admitted scan cost is meaningless
    val v4Frac = {
      val r = SparkEntry.queries("q_v4c_band_sweep")(spark, sfDir)
        .filter(col("n_bands") === graft.queries.VectorQueries.Bands &&
          col("bits") === graft.queries.VectorQueries.BitsPerBand)
        .select(col("mean_cand_frac")).first().getDouble(0)
      math.rint(r * 1e6) / 1e6
    }
    val head = J.obj("v4b_lsh" -> meanRecall("q_v4b_recall"),
      "v4_default_cand_frac" -> v4Frac,
      "v4d_multiprobe_h1" -> v4dAt(1), "v4d_multiprobe_h2" -> v4dAt(2),
      "v6b_ivf" -> meanRecall("q_v6b_recall"),
      "v6d_ivf_kmeans" -> meanRecall("q_v6d_ivf_kmeans_recall"))
    // the walk's recall is the entry sweep's (probed, 8-shard) row; the
    // full measured matrix rides along as nsw_entry_sweep
    val sweep = graft.queries.VectorQueries.nswEntrySweep(spark, sfDir).collect()
    val v8b = math.rint(sweep.find(r => r.getString(0) == "probed" && r.getInt(1) == 8)
      .map(_.getDouble(2)).getOrElse(-1.0) * 1e6) / 1e6
    val matrix = J.Arr(sweep.toSeq.map(r => J.obj("entry" -> r.getString(0),
      "shards" -> r.getInt(1), "mean_recall" -> r.getDouble(2),
      "evals_per_search" -> r.getDouble(3))))
    // donor-vs-trained PQ on degenerate-vs-clustered corpora; the
    // IvfPqTrainedSpec pins restated as bench evidence
    val v11b = meanRecall("q_v11b_ivfpq_recall")
    val v11c = meanRecall("q_v11c_ivfpq_rerank_recall")
    val v12b = meanRecall("q_v12b_ivfpq_trained_recall")
    val v12c = meanRecall("q_v12c_ivfpq_trained_rerank")
    Some(J.Obj(head.fields ++ Seq[(String, J)]("v8b_nsw" -> v8b,
      "nsw_entry_sweep" -> matrix,
      "v11b_ivfpq" -> v11b, "v11c_ivfpq_rerank" -> v11c,
      "v12b_ivfpq_trained" -> v12b, "v12c_ivfpq_trained_rerank" -> v12c,
      // the record itself declares which IVFADC config serves and which
      // rows are instrumentation, with this run's recalls as evidence
      "pq_serve_mode_default" -> J.obj(
        "mode" -> "trained codebook + exact top-L rerank",
        "rule" -> ("PQ serves only with corpus-trained codebooks and a " +
          "constant-L exact rerank; donor-codebook rows (v11b/v11c) are " +
          "recall-floor instrumentation, never a serve config"),
        "evidence" -> (s"this run recall@10: donor ADC $v11b, donor+rerank " +
          s"$v11c, trained ADC $v12b, trained+rerank $v12c; bytes: " +
          "ivf_index.pq_bytes_ratio (~0.06x raw cells)"),
        "serve_cost" -> "O(probed cells + L) per query"))))
  }

  /** Persisted IVF: build once, serve many, against the in-plan
    * rebuild-per-query path; int8 and PQ cell variants with their bytes. */
  def ivfIndex(): Option[J.Obj] = {
    import graft.operators.IvfIndex
    val e = graft.sources.Tables.embeddings(spark, sfDir)
    val k = graft.queries.VectorQueries.ivfK(e.count())
    val np = graft.queries.VectorQueries.ivfNprobe(k)
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cvec"))
    val path = tmpPath("graft_ivf_bench_")
    rm(path)
    val loadBuild = host.waitQuiet()
    val buildCpu0 = Host.cpuStat()
    val buildSec = time { IvfIndex.buildIfAbsent(e, cents, path) }
    val stealBuild = Host.stealPct(buildCpu0, Host.cpuStat())
    val nQ = 10
    // one warm search per variant: the first pays the one-time codegen
    // compile, which inside a 10-rep loop flipped the pq-vs-int8 order
    def warmServe(p: String): Unit =
      IvfIndex.searchTopK(spark, p,
        graft.queries.VectorQueries.QueryVec, nprobe = np, k = 5).collect()
    // best-of-3 amortized reps behind the quiet gate
    def amortOf(p: String): Double =
      (1 to 3).map { _ =>
        time {
          (1 to nQ).foreach { _ =>
            IvfIndex.searchTopK(spark, p,
              graft.queries.VectorQueries.QueryVec, nprobe = np, k = 5).collect()
          }
        } / nQ
      }.min
    val loadServe = host.waitQuiet()
    warmServe(path)
    val amortSec = amortOf(path)
    // batched serving (q_v6g): 12 queries through one partition-pruned
    // scan + broadcast probe join + per-qid k-heap
    val batchQs = graft.operators.VectorOps
      .hyperplanes(12, graft.queries.VectorQueries.Dim, seed = 3L)
      .zipWithIndex.map { case (q, i) => (i.toLong, q) }
    IvfIndex.searchTopKBatch(spark, path, batchQs, nprobe = np, k = 5)
      .collect() // warm (codegen + probe selection)
    val loadBatch = host.waitQuiet()
    val batchSec = time {
      IvfIndex.searchTopKBatch(spark, path, batchQs, nprobe = np, k = 5).collect()
    } / batchQs.size
    val rebuildSec = bestOf(5) {
      // freshQueries: the comparator must re-plan and re-derive the
      // assignment, not hit the surface's plan memo
      SparkEntry.freshQueries("q_v6_ivf_ann")(spark, sfDir).collect()
    }
    val qPath = path + "_q"
    rm(qPath)
    val qLoadBuild = host.waitQuiet()
    val qBuildCpu0 = Host.cpuStat()
    val qBuildSec = time { IvfIndex.buildIfAbsent(e, cents, qPath, quantize = true) }
    val qStealBuild = Host.stealPct(qBuildCpu0, Host.cpuStat())
    // int8-vs-raw build-cost guard, armed as the NSW one: quiet load
    // (< 6) AND measured steal < 0.5% in both build phases
    if (loadBuild >= 0 && loadBuild < 6.0 &&
        qLoadBuild >= 0 && qLoadBuild < 6.0 &&
        stealBuild >= 0 && stealBuild < 0.5 &&
        qStealBuild >= 0 && qStealBuild < 0.5 &&
        qBuildSec > 5.0 * math.max(buildSec, 0.5)) {
      record.errors("__ivf_int8_build_guard") =
        f"ivf int8 build $qBuildSec%.1fs > 5x raw $buildSec%.1fs on a " +
          f"quiet box (steal $stealBuild%.2f/$qStealBuild%.2f%%)"
    }
    warmServe(qPath)
    val qAmortSec = amortOf(qPath)
    // PQ (IVFADC): S=8 one-byte residual codes per vector; its recall
    // cost is ann_recall.v11b
    val pqPath = path + "_pq"
    rm(pqPath)
    val pqLoadBuild = host.waitQuiet()
    val pqBuildSec = time { IvfIndex.buildPqIfAbsent(e, cents, pqPath) }
    warmServe(pqPath)
    val pqAmortSec = amortOf(pqPath)
    IvfIndex.searchTopKBatch(spark, pqPath, batchQs, nprobe = np, k = 5)
      .collect() // warm the gp-indexed ADC batch plan
    val pqLoadBatch = host.waitQuiet()
    val pqBatchSec = time {
      IvfIndex.searchTopKBatch(spark, pqPath, batchQs, nprobe = np, k = 5).collect()
    } / batchQs.size
    val rawBytes = IvfIndex.cellBytes(spark, path)
    val qBytes = IvfIndex.cellBytes(spark, qPath)
    val pqBytes = IvfIndex.cellBytes(spark, pqPath)
    // batched per-query cost leads: batch serving is the production shape
    Some(J.obj("batch_size" -> batchQs.size,
      "batched_query_sec" -> J.fmt(batchSec, 4),
      "pq_batched_query_sec" -> J.fmt(pqBatchSec, 4),
      "loadavg_serve" -> J.fmt(loadServe, 2), "loadavg_batch" -> J.fmt(loadBatch, 2),
      "pq_loadavg_batch" -> J.fmt(pqLoadBatch, 2),
      "loadavg_build" -> J.fmt(loadBuild, 2), "steal_build" -> J.fmt(stealBuild, 2),
      "int8_loadavg_build" -> J.fmt(qLoadBuild, 2),
      "int8_steal_build" -> J.fmt(qStealBuild, 2),
      "pq_loadavg_build" -> J.fmt(pqLoadBuild, 2),
      "build_sec" -> J.fmt(buildSec, 3),
      "query_amortized_sec" -> J.fmt(amortSec, 4),
      "rebuild_per_query_sec" -> J.fmt(rebuildSec, 4),
      "cell_bytes_raw" -> rawBytes, "cell_bytes_int8" -> qBytes,
      "int8_bytes_ratio" -> J.fmt(qBytes.toDouble / math.max(rawBytes, 1L), 3),
      "int8_build_sec" -> J.fmt(qBuildSec, 3),
      "int8_query_amortized_sec" -> J.fmt(qAmortSec, 4),
      "cell_bytes_pq" -> pqBytes,
      "pq_bytes_ratio" -> J.fmt(pqBytes.toDouble / math.max(rawBytes, 1L), 3),
      "pq_build_sec" -> J.fmt(pqBuildSec, 3),
      "pq_query_amortized_sec" -> J.fmt(pqAmortSec, 4)))
  }

  /** `mults` from an env ladder knob, default 1,5,25. */
  private def ladder(env: String): Seq[Int] =
    sys.env.getOrElse(env, "1,5,25").split(",").map(_.trim.toInt).toSeq

  /** The MinHash/LSH family's linear-scaling claim, measured. The corpus
    * grows with distinct documents: each replica's text runs through a
    * different consonant-rotation `translate`, which rewrites most
    * 3-shingles, so cross-replica Jaccard falls below the 0.5 gate and
    * pairs grow ~mult-fold like real corpus growth (a suffix-only
    * perturbation measured C(mult,2) duplicate blowup instead).
    * Signatures are materialized before timing, so the timed span is
    * banding, hot-bucket cap, bucket self-join, rejoin and filter. */
  def dedupScaled(): Option[J.Obj] = {
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val baseDocs = docs.count()
    val alpha = "etaoinshrdlu"
    val beta = "bcfgmpwyvk"
    def corpusAt(mult: Int) =
      if (mult == 1) docs
      else (0 until mult).map { rep =>
        // two independent rotations give 12 * 10 = 120 distinct maps,
        // so every mult <= 120 keeps cross-replica Jaccard collapsed
        val rotA = alpha.drop(rep % alpha.length) + alpha.take(rep % alpha.length)
        val b = (rep / alpha.length) % beta.length
        val rotB = beta.drop(b) + beta.take(b)
        docs.select(
          (col("doc_id") + lit(rep * 50000000L)).as("doc_id"),
          (if (rep == 0) col("text")
           else translate(translate(col("text"), alpha, rotA), beta, rotB)).as("text"))
      }.reduce(_ unionByName _)
    def timeAt(mult: Int): (Double, Long) = {
      val sigs = graft.queries.DedupQueries.sigTable(
        corpusAt(mult), s"bench.dedup.x$mult")
      sigs.count() // materialize signatures outside the timed span
      var pairs = 0L
      val sec = (1 to 2).map(_ => time {
        pairs = graft.queries.DedupQueries.lshPairs(sigs)
          .filter(col("est_jaccard") >= 0.5).count()
      }).min
      (sec, pairs)
    }
    // discarded warm run: the first lshPairs execution in the JVM pays
    // codegen and banding warmup that later multiples do not
    timeAt(1)
    val pts = ladder("SPARK_GRAFT_DEDUP_MULTS").map(m => m -> timeAt(m))
    val s1 = pts.head._2._1
    Some(J.Obj(Seq[(String, J)]("base_docs" -> baseDocs) ++
      pts.flatMap { case (m, (s, p)) =>
        Seq[(String, J)](s"x${m}_sec" -> J.fmt(s, 3), s"x${m}_pairs" -> p) } ++
      pts.tail.map { case (m, (s, _)) => s"ratio_x$m" -> J.fmt(s / math.max(s1, 1e-9), 2) }))
  }

  /** A persisted synthetic corpus of `n` distinct vectors (a per-dim
    * frequency ramp) and its corpus-locality query: the formula at
    * virtual id 10000. A random hyperplane query's exact top-10 on the
    * ramp are near-ties that int8 noise reorders; this one has
    * well-separated neighbors, and because the corpora are nested the
    * exact top-10 is the same set at every ladder point. (id+1): no
    * all-zero row, on which the ANSI SQL cosine throws. */
  private def rampCorpus(n: Long, dim: Int): (DataFrame, Seq[Double]) = {
    val e = spark.range(n).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        sin((col("id") + 1).cast("double") * (d * 7 + 3) * 1e-4)): _*).as("embedding"))
    (e, (0 until dim).map(d => math.sin(10001.0 * (d * 7 + 3) * 1e-4)))
  }

  private def exactTop10(e: DataFrame, qv: Seq[Double]): Set[Long] =
    e.withColumn("score", graft.operators.VectorOps.cosine(col("embedding"), typedLit(qv)))
      .orderBy(desc("score"), col("vec_id")).limit(10).select("vec_id")
      .collect().map(_.getLong(0)).toSet

  /** IVF serve scaling: the int8 index on nested ramp corpora at each
    * ladder point, served at a FIXED nprobe. ivfK keeps mean cell size
    * at ~TargetCellRows, so a fixed-nprobe serve touches the same rows
    * at any corpus size and should read ~flat; x*_probed certifies it.
    * Centroid seeds are stratified (every (n/k)-th vector) so cells stay
    * evenly populated; recall@10 vs exact is stamped per point. */
  def annScaled(): Option[J.Obj] = {
    import graft.operators.IvfIndex
    val dim = graft.queries.VectorQueries.Dim
    val servNprobe = 8
    case class AnnPoint(n: Long, kCells: Long, buildSec: Double,
      amortSec: Double, probed: Long, recall10: Double)
    def timeAt(mult: Int): AnnPoint = {
      val n = 20000L * mult
      val (ramp, qv) = rampCorpus(n, dim)
      val e = ramp.withColumn("label", (col("vec_id") % 10).cast("int")).persist()
      e.count()
      val k = graft.queries.VectorQueries.ivfK(n)
      val stride = math.max(1L, n / k)
      val cents = e.filter(col("vec_id") % stride === 0)
        .select((col("vec_id") / stride).cast("long").as("cent_id"),
          col("embedding").as("cvec"))
      val kCells = cents.count()
      val path = tmpPath(s"graft_annscaled_x${mult}_")
      rm(path)
      val buildSec = time { IvfIndex.buildIfAbsent(e, cents, path, quantize = true) }
      // the build's load tail swung serve_ratio_x25 1.09-1.76 ungated
      host.waitQuiet()
      // first serve pays centroid-cache load; amortized is the number
      val approxIds = IvfIndex.searchTopK(spark, path, qv, nprobe = servNprobe, k = 10)
        .collect().map(_.getLong(0)).toSet
      val nQ = 10
      val amort = time {
        (1 to nQ).foreach { _ =>
          IvfIndex.searchTopK(spark, path, qv, nprobe = servNprobe, k = 10).collect()
        }
      } / nQ
      val probed = IvfIndex.probedRows(spark, path, qv, servNprobe)
      val recall = approxIds.intersect(exactTop10(e, qv)).size / 10.0
      e.unpersist()
      rm(path)
      AnnPoint(n, kCells, buildSec, amort, probed, recall)
    }
    timeAt(1) // discard: codegen + parquet-reader warmup
    val pts = ladder("SPARK_GRAFT_ANN_MULTS").map(m => m -> timeAt(m))
    val a1 = pts.head._2.amortSec
    Some(J.Obj(Seq[(String, J)]("dim" -> dim, "nprobe" -> servNprobe) ++
      pts.flatMap { case (m, p) => Seq[(String, J)](
        s"x${m}_n" -> p.n, s"x${m}_cells" -> p.kCells,
        s"x${m}_build_sec" -> J.fmt(p.buildSec, 3),
        s"x${m}_serve_sec" -> J.fmt(p.amortSec, 4),
        s"x${m}_probed" -> p.probed,
        s"x${m}_probed_frac" -> J.fmt(p.probed.toDouble / p.n, 4),
        s"x${m}_recall10" -> J.fmt(p.recall10, 2)) } ++
      pts.tail.map { case (m, p) => s"serve_ratio_x$m" -> J.fmt(p.amortSec / math.max(a1, 1e-9), 2) }))
  }

  /** Graph-index serve scaling: the reference's actual serving config
    * (HNSW, init_qdrant.py:45-50) on the same nested ramp corpora, layered
    * build, fixed ef. first_sec re-pays the per-executor graph load;
    * serve is the resident-graph amortized number. */
  def nswScaled(): Option[J.Obj] = {
    import graft.operators.NswIndex
    // SPARK_GRAFT_NSW_DIM=768 measures the reference's serving regime
    // (init_qdrant.py:41); the default is the 64-d synthetic corpus
    val dim = sys.env.get("SPARK_GRAFT_NSW_DIM").map(_.trim.toInt)
      .getOrElse(graft.queries.VectorQueries.Dim)
    val ef = 64
    case class NswPoint(n: Long, buildSec: Double, firstSec: Double,
      amortSec: Double, recall10: Double, bytes: Long, residentBytes: Long)
    // a build group holds its shard graphs in heap at once, so the
    // per-shard row budget shrinks with dim (~16k rows/shard at 768-d
    // peaked ~45 GB for a 32-shard group); at 64-d every ladder point
    // keeps the cores-shards single-group shape
    val shardRowBudget = math.max(20000L, 15000000L / dim)
    def timeAt(mult: Int, quantize: Boolean = false): NswPoint = {
      val n = 20000L * mult
      val numShards = ((((n + shardRowBudget - 1) / shardRowBudget)
        + cores - 1) / cores * cores).toInt.max(cores)
      val (ramp, qv) = rampCorpus(n, dim)
      val e = ramp.persist()
      e.count()
      val path = tmpPath(s"graft_nswscaled_x${mult}${if (quantize) "_q" else ""}_")
      rm(path)
      host.waitQuiet()
      val buildSec = time {
        NswIndex.buildIfAbsent(e, "vec_id", "embedding", path,
          graft.operators.GraphAnn.Params(layered = true),
          numShards = numShards, quantize = quantize, buildGroupShards = cores)
      }
      host.waitQuiet()
      val firstSec = (1 to 2).map { _ =>
        NswIndex.evictServed(path)
        time { NswIndex.searchTopK(spark, path, qv, k = 10, efSearch = ef).collect() }
      }.min
      val nQ = 10
      // GC first + best-of-3 batches: a batch right after a many-core
      // build samples the collector's debt from its transient rows
      System.gc()
      val amort = (1 to 3).map { _ =>
        time {
          (1 to nQ).foreach { _ =>
            NswIndex.searchTopK(spark, path, qv, k = 10, efSearch = ef).collect()
          }
        } / nQ
      }.min
      val annIds = NswIndex.searchTopK(spark, path, qv, k = 10, efSearch = ef)
        .collect().map(_.getLong(0)).toSet
      val recall = annIds.intersect(exactTop10(e, qv)).size / 10.0
      val bytes = NswIndex.graphBytes(spark, path)
      // resident footprint while the shards are still cached (int8
      // serves hold q8+scale natively)
      val residentBytes = NswIndex.residentBytesFor(path)
      e.unpersist()
      // drop this point's resident state before the next: at 768-d one
      // x100 point holds ~25 GB and accumulating points OOMs the JVM
      NswIndex.evictServed(path)
      rm(path)
      NswPoint(n, buildSec, firstSec, amort, recall, bytes, residentBytes)
    }
    timeAt(1) // discard: codegen + reader warmup
    val pts = ladder("SPARK_GRAFT_NSW_MULTS").map(m => m -> timeAt(m))
    // SPARK_GRAFT_NSW_INT8=<mult>[,...]: extra int8-payload points at
    // those mults (the reference's HNSW + scalar int8 serving config)
    val int8Pts = sys.env.getOrElse("SPARK_GRAFT_NSW_INT8", "")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq
      .map(m => m -> timeAt(m, quantize = true))
    val a1 = pts.head._2.amortSec
    // int8 is the default serve representation once raw vector payload
    // (n*dim*8 B) exceeds ~4 GiB per executor; evidence from this run's
    // int8 points when it has them, else the archived 768-d ladder
    val evidence = int8Pts.lastOption.flatMap { case (m, p) =>
      pts.find(_._1 == m).map { case (_, raw) =>
        f"x$m $dim%d-d (this run): int8 ${p.bytes.toDouble / math.max(raw.bytes, 1L)}%.2fx bytes, " +
          f"serve ${p.amortSec}%.4fs vs raw ${raw.amortSec}%.4fs, recall@10 ${p.recall10}%.2f"
      }
    }.getOrElse("archived x100 768-d ladder (bench_nsw_scaled_768d.json): " +
      "int8 0.13x bytes, serve parity 0.0695s vs 0.0693s, recall@10 1.00")
    Some(J.Obj(Seq[(String, J)]("dim" -> dim, "ef" -> ef,
        "serve_mode_default" -> J.obj("rule" -> "int8 once n*dim*8B > 4GiB/executor",
          "dim" -> dim, "raw_payload_cap_vectors" -> 4294967296L / (dim.toLong * 8),
          "evidence" -> evidence, "raw_role" -> "build geometry + exact rerank")) ++
      pts.flatMap { case (m, p) => Seq[(String, J)](
        s"x${m}_n" -> p.n, s"x${m}_build_sec" -> J.fmt(p.buildSec, 3),
        s"x${m}_first_sec" -> J.fmt(p.firstSec, 3),
        s"x${m}_serve_sec" -> J.fmt(p.amortSec, 4),
        s"x${m}_recall10" -> J.fmt(p.recall10, 2),
        s"x${m}_resident_bytes" -> p.residentBytes) } ++
      int8Pts.flatMap { case (m, p) =>
        // raw_bytes only when the raw ladder measured this mult: a
        // literal 0 would read as infinite compression
        pts.find(_._1 == m).map(r => s"x${m}_raw_bytes" -> J.num(r._2.bytes)) ++
        Seq[(String, J)](s"x${m}_int8_bytes" -> p.bytes,
          s"x${m}_int8_build_sec" -> J.fmt(p.buildSec, 3),
          s"x${m}_int8_first_sec" -> J.fmt(p.firstSec, 3),
          s"x${m}_int8_serve_sec" -> J.fmt(p.amortSec, 4),
          s"x${m}_int8_recall10" -> J.fmt(p.recall10, 2),
          s"x${m}_int8_resident_bytes" -> p.residentBytes) } ++
      pts.tail.map { case (m, p) => s"serve_ratio_x$m" -> J.fmt(p.amortSec / math.max(a1, 1e-9), 2) }))
  }

  /** Production ingest shape: a checkpointed parquet file-source stream
    * in real micro-batches (AvailableNow honoring maxFilesPerTrigger, 16
    * files in batches of 4), as end-to-end events/s for (a) the X1/X8
    * watermarked tumbling aggregation into the noop sink and (b) the X2
    * incremental tick ([[graft.streaming.IncrementalTick]]) including
    * its sink reads and writes. It runs late on purpose: at this event
    * count the cost is per-batch planning and codegen, which needs a hot
    * JVM (pre-sweep it measured 4-6k events/s vs 26-31k here); the
    * stamped loadavg_start carries the contention caveat. */
  def streamingTp(): Option[J.Obj] = {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpPath("graft_streambench_")
    rm(root)
    val inDir = root + "/in"
    graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("ts_ns"), col("user_id"), col("value"))
      .repartition(16).write.parquet(inDir)
    val staged = spark.read.parquet(inDir)
    val n = staged.count()
    val sch = staged.schema
    def fileStream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 4).parquet(inDir)
    val loadStream = Host.loadAvg()
    // batch counts are observed from the progress log, not assumed
    def runToEnd(start: => org.apache.spark.sql.streaming.StreamingQuery): (Double, Int) = {
      val t0 = System.nanoTime()
      val q = start
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, q.recentProgress.count(_.numInputRows > 0))
    }
    val (aggSec, aggBatches) = runToEnd {
      fileStream
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))
        .writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", root + "/ckpt_agg")
        .trigger(Trigger.AvailableNow()).start()
    }
    graft.streaming.IncrementalTick.Phases.reset()
    val (tickSec, tickBatches) = runToEnd {
      graft.streaming.IncrementalTick.startStream(
        fileStream, root + "/tick_sink", root + "/ckpt_tick", Trigger.AvailableNow())
    }
    // where the tick time goes: in-stream probe vs append accumulated
    // over the batches (the rest is micro-batch machinery), plus a
    // post-hoc split of ONE append job's read -> kernel -> write by
    // timing each prefix and differencing
    val tickProbeSec = graft.streaming.IncrementalTick.Phases.probeSec
    val tickAppendSec = graft.streaming.IncrementalTick.Phases.appendSec
    val tickSinkPath = root + "/tick_sink"
    val tickCols = Seq("event_id", "ts", "ts_ns", "user_id", "value")
    val maxTsNs = spark.read.parquet(tickSinkPath)
      .agg(max(col("ts_ns"))).first().getLong(0)
    def tickTail = graft.streaming.IncrementalTick
      .prunedSlice(spark, tickSinkPath, maxTsNs,
        graft.streaming.IncrementalTick.Lookback.toLong)
      .select(tickCols.map(col): _*)
    val decompReadSec = time { tickTail.count() }
    // aggregate the kernel OUTPUTS: a bare count() lets Catalyst prune
    // the kernels and times another tail read
    val decompKernelTotal = time {
      graft.streaming.IncrementalTick.enrich(tickTail)
        .agg(sum(col("sma30")), sum(col("bb_up")), sum(col("bb_lo")),
          count(when(col("buy"), 1)))
        .collect()
    }
    val decompWriteTotal = time {
      graft.streaming.IncrementalTick.enrich(tickTail)
        .write.mode("overwrite").parquet(root + "/decomp_out")
    }
    val tickRows = spark.read.parquet(tickSinkPath).count()
    rm(root)
    Some(J.obj("n_events" -> n,
      "agg_batches" -> aggBatches, "tick_batches" -> tickBatches,
      "agg_sec" -> J.fmt(aggSec, 3),
      "agg_events_per_s" -> (n / math.max(aggSec, 1e-9)).toLong,
      "tick_sec" -> J.fmt(tickSec, 3),
      "tick_events_per_s" -> (n / math.max(tickSec, 1e-9)).toLong,
      "tick_probe_sec" -> J.fmt(tickProbeSec, 3),
      "tick_append_sec" -> J.fmt(tickAppendSec, 3),
      "tick_harness_sec" -> J.fmt(math.max(tickSec - tickProbeSec - tickAppendSec, 0.0), 3),
      "tick_decomp_tail_read_sec" -> J.fmt(decompReadSec, 3),
      "tick_decomp_kernel_sec" -> J.fmt(math.max(decompKernelTotal - decompReadSec, 0.0), 3),
      "tick_decomp_write_sec" -> J.fmt(math.max(decompWriteTotal - decompKernelTotal, 0.0), 3),
      "tick_sink_rows" -> tickRows,
      "loadavg_start" -> J.fmt(loadStream, 2)))
  }

  /** The whole oracled surface re-gated at the x10 replica ("sf1"):
    * Verify.dump in-process, then a check_oracle.py subprocess whose
    * DuckDB results are memoized per corpus and SQL. The subprocess is
    * hard-bounded by the remaining wall: its output drains on a daemon
    * thread and expiry kills it and stamps timed_out. */
  def sf1Sweep(): Option[J.Obj] = {
    val t0 = System.nanoTime()
    def wallSec = J.fmt((System.nanoTime() - t0) / 1e9, 1)
    val checkScript = java.nio.file.Paths.get("tools/check_oracle.py")
    if (!java.nio.file.Files.exists(checkScript))
      throw new IllegalStateException(
        s"check_oracle.py not found at ${checkScript.toAbsolutePath}")
    val scaledDir = graft.sources.ScaledTables.ensure(spark, sfDir, 10)
    val outDir = java.nio.file.Files.createTempDirectory("graft_sf1sweep").toString
    val nQueries = Verify.dump(spark, scaledDir, outDir)
    val proc = new ProcessBuilder("python3", "tools/check_oracle.py", scaledDir, outDir)
      .redirectErrorStream(true).start()
    val outBuf = new scala.collection.mutable.ArrayBuffer[String]()
    val reader = new Thread(() => {
      val src = scala.io.Source.fromInputStream(proc.getInputStream)
      try src.getLines().foreach(l => outBuf.synchronized(outBuf += l))
      finally src.close()
    }, "sf1-sweep-oracle-drain")
    reader.setDaemon(true)
    reader.start()
    val budgetSec = math.min(1800L,
      math.max(120L, (record.deadlineSec - loop.elapsedSec).toLong))
    if (!proc.waitFor(budgetSec, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      Some(J.obj("scaled_dir" -> scaledDir, "n_queries" -> nQueries,
        "timed_out" -> true, "oracle_budget_sec" -> budgetSec, "wall_sec" -> wallSec))
    } else {
      val rc = proc.exitValue()
      reader.join(5000)
      val outLines = outBuf.synchronized(outBuf.toList)
      val m = """(\d+) ok, (\d+) failed of (\d+)""".r.findFirstMatchIn(
        outLines.reverse.find(_.contains("oracled queries")).getOrElse(""))
      Some(J.Obj(Seq[(String, J)]("scaled_dir" -> scaledDir,
          "n_queries" -> nQueries, "check_rc" -> rc) ++
        m.toSeq.flatMap(mm => Seq[(String, J)]("n_ok" -> J.Num(mm.group(1)),
          "n_failed" -> J.Num(mm.group(2)), "n_oracled" -> J.Num(mm.group(3)))) ++
        Seq[(String, J)](
          "fails" -> J.strs(outLines.filter(_.startsWith("FAIL")).take(10).map(_.take(120))),
          "wall_sec" -> wallSec)))
    }
  }
}
