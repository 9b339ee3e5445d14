package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Interop shim (hence this package): an executor-side
  * `InternalRow → parquet file` writer built on Spark's own
  * [[ParquetWriteSupport]] — the exact Catalyst-to-parquet converter the
  * batch parquet sink uses (same logical types, same rebase handling) —
  * through parquet's public `ParquetWriter.Builder`. The snapshot
  * format's V2 STREAMING write uses it to write each micro-batch
  * partition straight to a staged part file on the executor, so a
  * streaming epoch costs exactly one pass over its rows (no second
  * driver-orchestrated job like a V1 `Sink.addBatch` re-plan). The
  * snapshot format's schema resolution reads each vintage's schema from
  * one footer through [[footerSchema]].
  */
object GraftParquetIO {

  /** The SQL-conf settings [[ParquetWriteSupport.init]] and the schema
    * converter consult (the batch writer's `ParquetUtils.prepareWrite`
    * pins the same set), read from `sql`. */
  private def writeSettings(sql: SQLConf): Seq[(String, String)] = Seq(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key ->
      sql.writeLegacyParquetFormat.toString,
    SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key ->
      sql.parquetOutputTimestampType.toString,
    SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key ->
      sql.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString,
    SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key ->
      sql.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString,
    SQLConf.SESSION_LOCAL_TIMEZONE.key -> sql.sessionLocalTimeZone,
    "spark.sql.parquet.compression.codec" -> sql.parquetCompressionCodec,
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key ->
      sql.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key ->
      sql.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG).toString,
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key ->
      sql.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString,
    SQLConf.VARIANT_WRITE_SHREDDING_ENABLED.key ->
      sql.getConf(SQLConf.VARIANT_WRITE_SHREDDING_ENABLED).toString)

  /** Pin the write settings into `conf` from the calling thread's SQL
    * conf — the DRIVER does this for the Configuration it ships, so
    * executors cannot fall back to diverging defaults. */
  def pinWriteConf(conf: Configuration): Configuration = {
    writeSettings(SQLConf.get).foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  private class Builder(path: Path)
      extends ParquetWriter.Builder[InternalRow, Builder](path) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Open a parquet writer for rows of `schema` at `path`. The caller
    * owns close(). */
  def openWriter(path: Path, schema: StructType, conf: Configuration)
      : ParquetWriter[InternalRow] = {
    val c = new Configuration(conf)
    // a conf that never went through pinWriteConf takes the missing
    // settings from this thread's SQL conf instead of failing an
    // assertion inside ParquetWriteSupport.init
    writeSettings(SQLConf.get).foreach { case (k, v) =>
      if (c.get(k) == null) c.set(k, v) }
    ParquetWriteSupport.setSchema(schema, c)
    val codec = c.get("spark.sql.parquet.compression.codec", "snappy")
      .toUpperCase match {
      case "NONE" | "UNCOMPRESSED" => CompressionCodecName.UNCOMPRESSED
      case "GZIP" => CompressionCodecName.GZIP
      case "ZSTD" => CompressionCodecName.ZSTD
      case "LZ4" => CompressionCodecName.LZ4
      case _ => CompressionCodecName.SNAPPY
    }
    new Builder(path).withConf(c).withCompressionCodec(codec).build()
  }

  /** The schema `spark.read.parquet(path).schema` infers for one parquet
    * file, read from its footer on the calling thread: Spark's own
    * conversion ([[ParquetFileFormat.readSchema]] — the embedded Spark
    * row schema when present, else the converted parquet schema, under
    * the session's conversion settings), made nullable as a file
    * relation's data schema is. Inference gets there through a Spark
    * job per call; this opens one footer and starts none. */
  def footerSchema(spark: SparkSession, path: Path, conf: Configuration)
      : StructType = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val meta = try rd.getFooter finally rd.close()
    ParquetFileFormat.readSchema(Seq(new Footer(path, meta)), spark)
      .getOrElse(throw new IllegalStateException(
        s"no parquet schema in the footer of $path"))
      .asNullable
  }
}
