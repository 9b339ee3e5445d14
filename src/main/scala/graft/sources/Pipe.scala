package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

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
sealed trait PipeFormat {
  /** The head and tail around each part [[Pipe.out]] writes. */
  private[sources] def wrapper: (Array[Byte], Array[Byte]) =
    (Array.emptyByteArray, Array.emptyByteArray)
}
object PipeFormat {
  case object Flat extends PipeFormat
  /** Reference CSV defaults: separator ',', terminator '\n', quote '\''
    * (docs/.../HDFS_PipeIn.xml:53-55). */
  final case class Csv(separator: String = HpccCsv.DefaultSeparator,
      terminator: String = HpccCsv.DefaultTerminator,
      quote: String = HpccCsv.DefaultQuote) extends PipeFormat
  /** Reference XML default rowtag "Row" (hdfsconnector.hpp:224). */
  final case class Xml(rowTag: String = "Row") extends PipeFormat {
    override private[sources] def wrapper = (Xml.Head, Xml.Tail)
  }
  /** What [[Pipe.out]] pins for the built-in xml writer, which writes a
    * non-empty part as `<?xml Declaration?>\n<RootTag>\n`, its rows, then
    * `</RootTag>`, and an empty one as 0 bytes.
    */
  object Xml {
    private[sources] val RootTag = "ROWS"
    private[sources] val Declaration =
      "version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\""
    private val Head = s"<?xml $Declaration?>\n<$RootTag>\n".getBytes(UTF_8)
    private val Tail = s"</$RootTag>".getBytes(UTF_8)
  }
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
        .option("rootTag", Xml.RootTag).option("declaration", Xml.Declaration)
        .mode("overwrite").save(path)
  }

  /** PipeOutAndMerge: [[out]]'s parts, then their ordered single-file
    * concat with [[Merge.mergeParts]] (XML's per-part document wrapper
    * written once around the rows).
    */
  def outAndMerge(df: DataFrame, target: String, layout: EclLayout,
      format: PipeFormat = Flat, cleanMerge: Boolean = true): Unit = {
    val parts = target + "-parts"
    out(df, parts, layout, format)
    val (head, tail) = format.wrapper
    Merge.mergeParts(df.sparkSession, parts, target, cleanMerge, head, tail)
  }
}
