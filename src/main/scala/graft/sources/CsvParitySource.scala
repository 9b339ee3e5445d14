package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `hpcc-csv-parity`: splittable QUOTE-AWARE record splitter as a DSv2 table.
  *
  * Emits one `value: string` row per logical CSV record, where a record may
  * contain the terminator sequence inside a quoted field — the case Spark's
  * built-in csv source only handles with `multiLine=true`, which makes the
  * file non-splittable (one task per file). This reader keeps byte-range
  * splits AND tracks quote parity, reproducing the reference's realignment
  * protocol exactly (libhdfsconnector.cpp:400-488):
  *
  *  - a range that does not start at byte 0 backs up `len(terminator)` bytes
  *    (":400-402, in case the seekpos happens to be the first char after an
  *    EOL") and scans forward for the first terminator, toggling an
  *    assumed-outside quote flag on every quote byte (":409,437-443");
  *    records begin after that terminator;
  *  - records are consumed past the range end until the terminator that
  *    closes the last record whose first byte lies inside the range
  *    (":545-558 stopAtNextEOL");
  *  - a terminator inside quotes does not split (":444 `&& !withinQuote`").
  *
  * Documented divergence (SURVEY.md §7 hard-part #2, pinned in
  * HpccCsvSpec): the quote state at a range start is UNKNOWABLE without
  * scanning from byte 0, and the reference simply assumes "outside"
  * (`bool withinQuote = false;` at the seek, :409). When a split boundary
  * lands inside a quoted field, both the reference and this reader misalign
  * in the same way — the quoted terminator looks like a record boundary to
  * the realignment scan. Split sizes are chosen per-query via the
  * `splitbytes` option (default: `spark.sql.files.maxPartitionBytes`, not
  * the core-aware rule of the other range sources, so a file under that
  * cap is one range and cannot misalign), so a caller that writes with a
  * known record-size floor can guarantee sound boundaries; boundaries
  * inside quoted regions are caller error, exactly as with the reference.
  *
  * Every quote byte toggles parity — the reference has no notion of escaped
  * or doubled quotes in its scan (:437-443), and neither does this splitter.
  * Field-level parsing (separators, quote stripping) happens downstream in
  * `from_csv` ([[HpccCsv.readQuoteParity]]).
  */
class CsvParitySource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hpcc-csv-parity"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CsvParitySource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CsvParityTable(new CaseInsensitiveStringMap(properties))
}

object CsvParitySource {
  val schema: StructType =
    StructType(Seq(StructField("value", StringType, nullable = false)))
}

class CsvParityTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val path: String = {
    val p = Option(options.get("path"))
    require(p.isDefined, "hpcc-csv-parity requires a path")
    p.get
  }
  private val terminator: String =
    HpccCsv.expandEscapes(options.getOrDefault("terminator", "\n"))
  private val quote: String =
    HpccCsv.expandEscapes(options.getOrDefault("quote", "'"))
  private val splitBytes: Long = options.getLong("splitbytes", 0L)

  require(terminator.nonEmpty, "hpcc-csv-parity: terminator must be non-empty")
  require(quote.length == 1, "hpcc-csv-parity: quote must be 1 char")
  require(!terminator.contains(quote),
    "hpcc-csv-parity: terminator must not contain the quote char")

  override def name(): String = s"hpcc-csv-parity:$path"
  override def schema(): StructType = CsvParitySource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new CsvParityScan(path, terminator, quote, splitBytes)
}

class CsvParityScan(path: String, terminator: String, quote: String,
    splitOpt: Long) extends Scan with Batch {

  override def readSchema(): StructType = CsvParitySource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"hpcc-csv-parity term=${terminator.replace("\n", "\\n").replace("\r", "\\r")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val files = ByteRanges.list(spark.sessionState.newHadoopConf(), path)
    val split = if (splitOpt > 0) splitOpt else ByteRanges.capBytes(spark)
    ByteRanges.plan(spark, files, fixed = split).flatten.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val term = terminator.getBytes("UTF-8")
    val q = quote.getBytes("UTF-8")(0)
    val conf = new SerializableHadoopConf(
      SparkSession.active.sessionState.newHadoopConf())
    (p: InputPartition) =>
      new CsvParityReader(p.asInstanceOf[ByteRanges.Span], term, q, conf)
  }
}

/** Streams one byte range of one file with the quote-parity protocol.
  * Ownership: a record belongs to the range containing its FIRST byte; the
  * last owned record is read past the range end to its terminator (or EOF).
  */
class CsvParityReader(part: ByteRanges.Span, term: Array[Byte],
    quote: Byte, conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val cur = new ByteRanges.Cursor(part.file,
    math.max(part.start - term.length, 0L), conf.value)
  private var withinQuote = false
  private var done = false
  private var current: InternalRow = _

  /** Read through the next unquoted terminator into the record buffer;
    * false if EOF comes first.
    */
  private def readThroughTerm(): Boolean = {
    cur.reset()
    while (true) {
      val b = cur.read1()
      if (b < 0) return false
      cur.append(b)
      if (b == (quote & 0xff)) withinQuote = !withinQuote
      if (!withinQuote && cur.endsWith(term)) return true
    }
    false
  }

  // Realignment (ranges not starting at 0): consume through the first
  // unquoted terminator from `len(terminator)` bytes before the range
  // start, quote state assumed OUTSIDE (the reference's
  // unsound-but-pinned assumption, cpp:409). If EOF is hit first, the
  // whole range is the interior of an earlier record.
  if (part.start > 0 && !readThroughTerm()) done = true

  override def next(): Boolean = {
    // a record belongs to the range containing its first byte
    if (done || cur.pos >= part.end) { done = true; return false }
    val terminated = readThroughTerm()
    if (!terminated && cur.size == 0) { done = true; return false } // clean EOF
    current = InternalRow(UTF8String.fromBytes(
      cur.bytes(if (terminated) term.length else 0)))
    if (!terminated) done = true // emit the unterminated trailing record, then stop
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = cur.close()
}
