package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.types.StructType

/** Driver-direct K1 append for the X2 tick's driver-resident regime
  * (VERDICT r17 next #8: the per-tick parquet append was 79% of tick
  * time — 3.18 s of 4.05 s over 4 micro-batches — and ~0.25 s of it per
  * batch is pure Spark-job fixed cost: plan+schedule one 1-task job,
  * init a task-side writer, run the commit protocol, for a few thousand
  * rows that ALREADY sit on the driver as a Vector[Row]).
  *
  * This writes the same day-partitioned parquet layout directly from
  * the driver thread through Spark's OWN row codec
  * ([[ParquetWriteSupport]], the exact WriteSupport the executor write
  * path uses, fed the session's write-side confs), so the produced
  * files are readable-identically to executor-written ones — same
  * timestamp encoding, same logical types, same compression. No Spark
  * job, no scheduler round-trip, no committer.
  *
  * Durability contract = the K1 append's (Sinks.appendPartitioned with
  * committer v2): each file becomes visible atomically via
  * write-hidden-then-rename in the same directory; a crash mid-write
  * leaves only a dot-prefixed temp file that every parquet reader
  * ignores. The tick's recovery story is unchanged — foreachBatch
  * checkpoints only after this returns, and the X5 pre-kernel dedup
  * absorbs re-delivery.
  *
  * ONLY for driver-resident rows: data-sized loads (history backfills)
  * keep the distributed [[Sinks.appendPartitioned]] path (their rows
  * live on executors; collecting them to write here would invert the
  * scale contract).
  */
object DriverParquetAppend {

  private class RowWriterBuilder(path: Path, ws: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = ws
  }

  /** Hadoop conf carrying the write-side session settings
    * ParquetFileFormat.prepareWrite would set for an executor writer. */
  private def writeConf(spark: SparkSession, schema: StructType): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, conf)
    // every key ParquetWriteSupport.init / SparkToParquetSchemaConverter
    // read RAW from the hadoop conf (the executor path sets them in
    // ParquetFileFormat.prepareWrite); session value first, the Spark
    // 4.1 default as fallback for entries the session never set
    def sessionOr(k: String, d: String): String =
      try spark.conf.get(k) catch { case _: Throwable => d }
    Seq(
      "spark.sql.parquet.writeLegacyFormat" -> "false",
      "spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "CORRECTED")
      .foreach { case (k, d) => conf.set(k, sessionOr(k, d)) }
    conf
  }

  /** Append `rows` (external Rows of `schema`) under `dir` partitioned
    * by the UTC date of `tsCol` (directory column `day`, matching
    * [[Sinks.appendPartitioned]]'s layout). Returns the written file
    * paths (one per distinct day). */
  def append(spark: SparkSession, rows: Seq[Row], schema: StructType,
      tsCol: String, dir: String): Seq[String] = {
    if (rows.isEmpty) return Nil
    val tsIdx = schema.fieldIndex(tsCol)
    def dayOf(r: Row): String = r.getTimestamp(tsIdx).toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val conf = writeConf(spark, schema)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val fs = new Path(dir).getFileSystem(conf)
    rows.groupBy(dayOf).toSeq.sortBy(_._1).map { case (day, dayRows) =>
      val dayDir = new Path(dir, s"day=$day")
      fs.mkdirs(dayDir)
      val name = s"part-driver-${UUID.randomUUID()}.snappy.parquet"
      val tmp = new Path(dayDir, s".$name.tmp")
      val writer = new RowWriterBuilder(tmp, new ParquetWriteSupport)
        .withConf(conf)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try dayRows.foreach(r =>
        writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
      finally writer.close()
      val dst = new Path(dayDir, name)
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"DriverParquetAppend: rename $tmp -> $dst failed")
      dst.toString
    }
  }
}
