package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ScaledTables, Tables}

/** The scaled-SF replication instrument must itself be sound, or the
  * amortization proof (Bench `duckdb_scaled`, `Probe scale`) measures the
  * wrong workload: replicas are DISJOINT copies (FK pairs shift
  * together, joins scale linearly, never quadratically), dimensions are
  * not replicated, and regeneration is marker-gated. */
class ScaledTablesSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get(4)
  private val sf = "/root/testdata/sf0.001"

  private lazy val dir = ScaledTables.ensure(spark, sf, 2)

  test("fact tables replicate x mult; dimensions stay single") {
    assert(Tables.load(spark, dir, "lineitem").count() ==
      2 * Tables.load(spark, sf, "lineitem").count())
    assert(Tables.load(spark, dir, "orders").count() ==
      2 * Tables.load(spark, sf, "orders").count())
    assert(Tables.load(spark, dir, "nation").count() ==
      Tables.load(spark, sf, "nation").count())
    assert(Tables.load(spark, dir, "region").count() ==
      Tables.load(spark, sf, "region").count())
  }

  test("joins scale linearly: FK pairs shifted together keep replicas disjoint") {
    def joinCount(d: String): Long =
      Tables.load(spark, d, "lineitem")
        .join(Tables.load(spark, d, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .count()
    // a naive copy (keys unshifted) would give x mult^2 = 4x here
    assert(joinCount(dir) == 2 * joinCount(sf),
      "replica join output must scale with mult, not mult^2")
    // and the customer FK survives the shift too
    val withCust = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
    assert(withCust.count() == Tables.load(spark, dir, "orders").count(),
      "every scaled order still resolves exactly one scaled customer")
  }

  test("events re-emit as timestamps queryable by hour-trunc; series count scales") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val users = ev.select("user_id").distinct().count()
    val baseUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(users == 2 * baseUsers, "user_id shift doubles the series count")
  }

  test("regeneration is marker-gated: second ensure() is a no-op") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, "_SCALED_READY")
    val before = fs.getFileStatus(marker).getModificationTime
    assert(ScaledTables.ensure(spark, sf, 2) == dir)
    assert(fs.getFileStatus(marker).getModificationTime == before)
  }
}
