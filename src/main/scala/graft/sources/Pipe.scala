package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's three user-facing verbs as a Spark façade — a user of
  * `HDFSConnector.PipeIn/PipeOut/PipeOutAndMerge`
  * (reference: ecl/HDFSConnector.ecl:54,175,231) maps each call 1:1:
  *
  * {{{
  *   // PipeIn(ECL_RS, file, Layout, FLAT, host, port)
  *   val df = Pipe.in(spark, path, layout, PipeFormat.Flat)
  *   // PipeOut(ECL_RS, file, Layout, CSV, ...)
  *   Pipe.out(df, path, layout, PipeFormat.Csv())
  *   // PipeOutAndMerge(...)
  *   Pipe.outAndMerge(df, path, layout, PipeFormat.Flat)
  * }}}
  *
  * Host/port/user parameters have no analogue: the filesystem is addressed
  * by the path's scheme (hdfs://, s3a://, file:/), credentials by Hadoop
  * conf — the `hdfsconnector.conf` layer (reference hdfsconnector.conf.in)
  * collapses into `spark.hadoop.*` settings.
  */
sealed trait PipeFormat
object PipeFormat {
  case object Flat extends PipeFormat
  /** Reference CSV defaults: separator ',', terminator '\n', quote '\''
    * (docs/.../HDFS_PipeIn.xml:53-55). */
  final case class Csv(separator: String = HpccCsv.DefaultSeparator,
      terminator: String = HpccCsv.DefaultTerminator,
      quote: String = HpccCsv.DefaultQuote) extends PipeFormat
  /** Reference XML default rowtag "Row" (hdfsconnector.hpp:224). */
  final case class Xml(rowTag: String = "Row") extends PipeFormat
}

object Pipe {
  import PipeFormat._

  /** PipeIn: partitioned scan of `path` decoded against `layout`. */
  def in(spark: SparkSession, path: String, layout: EclLayout,
      format: PipeFormat = Flat): DataFrame = format match {
    case Flat =>
      spark.read.format("hpcc-flat").option("layout", layout.spec).load(path)
    case Csv(sep, term, quote) =>
      HpccCsv.read(spark, path, layout.schema, sep, term, quote)
    case Xml(rowTag) =>
      spark.read.format("hpcc-xml").schema(layout.schema)
        .option("rowTag", rowTag).load(path)
  }

  /** PipeOut: partitioned part-file write. */
  def out(df: DataFrame, path: String, layout: EclLayout,
      format: PipeFormat = Flat): Unit = format match {
    case Flat =>
      df.write.format("hpcc-flat").option("layout", layout.spec)
        .mode("overwrite").save(path)
    case Csv(sep, term, quote) => HpccCsv.write(df, path, sep, term, quote)
    case Xml(rowTag) =>
      df.write.format("xml").option("rowTag", rowTag)
        .mode("overwrite").save(path)
  }

  /** PipeOutAndMerge: parts + ordered single-file concat (FLAT/CSV; XML
    * merges via coalesce(1) so the single part is well-formed, matching
    * the reference where merge is likewise format-constrained — webhdfs
    * refuses it entirely, webhdfsconnector.cpp:649-653).
    */
  def outAndMerge(df: DataFrame, target: String, layout: EclLayout,
      format: PipeFormat = Flat, cleanMerge: Boolean = true): Unit = {
    val parts = target + "-parts"
    format match {
      case Xml(rowTag) =>
        df.coalesce(1).write.format("xml").option("rowTag", rowTag)
          .mode("overwrite").save(parts)
        val spark = df.sparkSession
        val fs = new org.apache.hadoop.fs.Path(parts)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val part = fs.listStatus(new org.apache.hadoop.fs.Path(parts))
          .filter(f => f.isFile && f.getLen > 0 && !f.getPath.getName.startsWith("_"))
          .head.getPath
        org.apache.hadoop.fs.FileUtil.copy(fs, part, fs,
          new org.apache.hadoop.fs.Path(target), false, true,
          spark.sessionState.newHadoopConf())
        if (cleanMerge) fs.delete(new org.apache.hadoop.fs.Path(parts), true)
      case f =>
        out(df, parts, layout, f)
        Merge.mergeParts(df.sparkSession, parts, target, cleanMerge)
    }
  }
}
