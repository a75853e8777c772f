package graft

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench phase loop under an injected clock and SPARK_GRAFT_ONLY
  * set: deadline shedding of sheddable phases only, null blocks and no
  * slowdown credit for skipped phases, and error capture that lets the
  * run continue. Also pins that a failed artifact write is reported. */
class PhaseLoopSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private final class Fixture(only: Option[Set[String]]) {
    var now = 0.0
    val lines = ArrayBuffer[String]()
    val progress = java.nio.file.Files.createTempFile("phase_loop", ".json")
    progress.toFile.deleteOnExit()
    val record = new BenchRecord("/sf", "bench_full_sf.json", deadlineSec = 1000,
      quietBudgetSec = 180, x10Enabled = true, clock = () => now,
      quietWaitSec = () => 0L, streamingNames = Set.empty, headlineNames = Set.empty)
    val loop = new PhaseLoop(record, only, progress.toString, lines += _, () => 0.5)
    /** A phase that takes `sec` of the clock and returns a one-field block. */
    def phase(name: String, est: Double, sheddable: Boolean, sec: Double) =
      Phase(name, est, sheddable, () => { now += sec; Some(J.obj("x" -> 1)) })
    def metrics(kind: String) = lines.map(l => mapper.readTree(l))
      .filter(_.get("metric").asText == kind).toSeq
  }

  test("a sheddable phase projecting past the deadline is shed, a mandatory one never") {
    val f = new Fixture(None)
    f.loop.run(Seq(
      f.phase("sweep", 300, sheddable = false, sec = 300),
      f.phase("ivf_index", 900, sheddable = true, sec = 900),
      f.phase("duckdb", 5000, sheddable = false, sec = 10)))
    assert(f.record.shed === List("ivf_index"))
    assert(!f.record.blocks.contains("ivf_index"))
    assert(f.record.blocks.contains("duckdb"))
    val shed = f.metrics("phase_shed")
    assert(shed.map(_.get("name").asText) === Seq("ivf_index"))
    assert(shed.head.get("projected_sec").asDouble > 1000)
    val compact = mapper.readTree(f.record.compact(partial = false))
    assert(compact.get("shed_phases").get(0).asText === "ivf_index")
    assert(compact.get("ivf").isNull)
    assert(f.metrics("phase").map(_.get("name").asText) === Seq("sweep", "ivf_index", "duckdb"))
  }

  test("a block skipped by SPARK_GRAFT_ONLY renders null and adds nothing to slowdown") {
    val f = new Fixture(Some(Set("sweep")))
    var ran = false
    f.loop.run(Seq(
      Phase("throughput", 500, sheddable = false, () => { ran = true; None }),
      f.phase("sweep", 100, sheddable = false, sec = 300)))
    assert(!ran)
    // only the sweep's 100 s estimate is credited: 300 / max(100, 120)
    assert(f.loop.slowdown === 2.5)
    val compact = mapper.readTree(f.record.compact(partial = false))
    assert(compact.get("tp").isNull && compact.get("nsw").isNull)
    val summary = mapper.readTree(f.record.summaryLine(J.Null, withErrors = false))
    assert(summary.get("throughput").isNull)
    assert(summary.get("shed_phases").size === 0)
  }

  test("a phase that throws records its error and the run continues") {
    val f = new Fixture(None)
    f.loop.run(Seq(
      Phase("ann_recall", 90, sheddable = true, () => throw new IllegalStateException("boom")),
      f.phase("ivf_index", 150, sheddable = true, sec = 10)))
    assert(f.record.errors.toMap === Map("__ann_recall" -> "boom"))
    assert(f.record.blocks.keySet === Set("ivf_index"))
    val compact = mapper.readTree(f.record.compact(partial = false))
    assert(compact.get("n_failed").asInt === 1)
    assert(compact.get("failed").get(0).asText === "__ann_recall")
    // the progress artifact was rewritten after each phase
    val onDisk = mapper.readTree(f.progress.toFile)
    assert(onDisk.get("errors").get("__ann_recall").asText === "boom")
    assert(onDisk.has("ivf_index"))
  }

  test("a failed artifact write prints artifact_write_failed and returns false") {
    val notADir = java.nio.file.Files.createTempFile("phase_loop", ".file")
    notADir.toFile.deleteOnExit()
    val target = notADir.toString + "/bench_full_x.json"
    val lines = ArrayBuffer[String]()
    assert(!BenchHarness.writeArtifact("{}", target, lines += _))
    val failed = { assert(lines.size === 1); mapper.readTree(lines.head) }
    assert(failed.get("metric").asText === "artifact_write_failed")
    assert(failed.get("file").asText === target)
    assert(failed.get("error").asText.nonEmpty)
    val ok = notADir.toString + ".ok.json"
    new java.io.File(ok).deleteOnExit()
    assert(BenchHarness.writeArtifact("{}", ok, lines += _))
    assert(lines.size === 1)
  }
}
