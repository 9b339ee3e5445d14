package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `hpcc-flat`: fixed-width binary record source/sink as a Spark DSv2 table.
  *
  * Read side reproduces the reference's FLAT partitioned scan: the file is a
  * sequence of `recLen`-byte records; split planning divides it into
  * record-aligned byte ranges (reference computes per-node ranges with
  * remainder spread, libhdfsconnector.cpp:76-96,661-681 — here the driver
  * plans `ceil(size / splitBytes)` ranges per file, `splitBytes` being
  * Spark's core-aware file-scan size rounded down to `recLen`
  * ([[ByteRanges.splitBytes]]); at equal range count that degenerates to
  * the same arithmetic, and a file below the open-cost floor stays one
  * range). Ranges are [[ByteRanges.Span]]s, read through the shared
  * [[ByteRanges.Cursor]]. A non-multiple file size
  * is an error, matching the reference's strict check
  * (libhdfsconnector.cpp:85-89); `option("strict","false")` relaxes it.
  * In PERMISSIVE mode the file's last span runs to the end of the file, and
  * the bytes after its last whole record become one tail row; a file
  * shorter than one record is the single span `[0, size)`.
  *
  * Unlike the reference byte pump, the scan decodes ONLY the columns Catalyst
  * asks for (`SupportsPushDownRequiredColumns`), and reports HDFS block
  * locality via `preferredLocations` (the reference fetched hosts but never
  * used them, libhdfsconnector.cpp:98-122).
  *
  * Write side emits one `part_<taskId>_<numPartitions>` file per task — the
  * reference's part naming convention (hdfsconnector.hpp:65-72). Merge to a
  * single file is `Merge.mergeParts` (node-order concat, = mergeFile,
  * libhdfsconnector.cpp:709-831) or `coalesce(1)` before the write.
  *
  * Usage:
  * {{{
  *   spark.read.format("hpcc-flat").option("layout", layout.spec).load(dir)
  *   df.write.format("hpcc-flat").option("layout", layout.spec)
  *     .mode("overwrite").save(dir)
  * }}}
  */
class FlatDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hpcc-flat"
  override def supportsExternalMetadata(): Boolean = true

  private def layout(options: CaseInsensitiveStringMap): EclLayout = {
    val spec = options.get("layout")
    require(spec != null, "hpcc-flat requires option(\"layout\", \"f:type<w>,...\")")
    EclLayout.parse(spec)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    layout(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new FlatTable(layout(opts), opts)
  }
}

class FlatTable(layout: EclLayout, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {

  // `.load(p)` arrives as option "path"; `.load(p1, p2, ...)` arrives as
  // option "paths" holding a JSON string array — parse it, don't treat the
  // JSON text as a literal path.
  private val paths: Seq[String] = {
    val multi = Option(options.get("paths")).map { js =>
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(js, classOf[Array[String]]).toSeq
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          "hpcc-flat: option 'paths' must be a JSON string array " +
            "(e.g. [\"/a\",\"/b\"]); Spark sets it automatically via " +
            ".load(p1, p2, ...). For a single path use .load(path) or " +
            s"""option("path", ...). Got: $js""", e)
      }
    }
    val all = multi.getOrElse(Option(options.get("path")).toSeq)
    require(all.nonEmpty, "hpcc-flat requires a path")
    all
  }

  // Parse mode (the Spark built-in sources' contract): FAILFAST (default,
  // = the reference's strict `size % recLen` check), DROPMALFORMED (read
  // the whole records, ignore a truncated tail — the old `strict=false`),
  // PERMISSIVE (truncated tail → one all-null row, with the raw tail
  // bytes hex-dumped into `columnNameOfCorruptRecord` when that option
  // names a column). `strict` is kept as a back-compat alias.
  private val mode: String = {
    val m = Option(options.get("mode")).map(_.toUpperCase)
      .getOrElse(if (options.getBoolean("strict", true)) "FAILFAST"
                 else "DROPMALFORMED")
    require(Set("FAILFAST", "PERMISSIVE", "DROPMALFORMED")(m),
      s"hpcc-flat: mode must be FAILFAST|PERMISSIVE|DROPMALFORMED, got $m")
    m
  }
  private val corruptCol: Option[String] =
    Option(options.get("columnNameOfCorruptRecord"))

  override def name(): String = s"hpcc-flat:${paths.mkString(",")}"
  override def schema(): StructType =
    if (mode == "PERMISSIVE") {
      // the synthesized tail row is all-null, so every field must be
      // declared nullable (fixed-width fields are otherwise non-null)
      val relaxed = layout.schema.fields.map(_.copy(nullable = true))
      StructType(corruptCol match {
        case Some(c) => relaxed :+ org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.StringType, nullable = true)
        case None => relaxed
      })
    } else layout.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new FlatScanBuilder(paths, layout, mode,
      if (mode == "PERMISSIVE") corruptCol else None,
      o.getBoolean("trimstrings", true),
      o.getBoolean("wholefile", false), schema())

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1,
      s"hpcc-flat write takes exactly one output path, got ${paths.size}")
    // reference option -hdfsfilereplication (hdfsconnector.hpp:398-402) —
    // which its webhdfs twin then ignores, hardcoding replication=1
    // (webhdfsconnector.cpp:675-677). We honor it: 0 = filesystem default.
    val replication = options.getInt("replication", 0)
    require(replication >= 0 && replication <= Short.MaxValue,
      s"hpcc-flat: replication must be in [0, 32767], got $replication")
    new FlatWriteBuilder(paths.head, layout, info, replication.toShort)
  }
}

// ---------------------------------------------------------------- read path

class FlatScanBuilder(paths: Seq[String], layout: EclLayout, mode: String,
    corruptCol: Option[String], trimStrings: Boolean, wholeFile: Boolean,
    fullSchema: StructType)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var countStar = false

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // Accepted filters are evaluated EXACTLY in the reader (FlatFilterEval),
  // so they are NOT returned as residuals — Catalyst drops them from the
  // post-scan Filter. Unsupported shapes (REAL fields, casts, UDFs) stay
  // residual and run in codegen above the scan as before.
  // PERMISSIVE accepts nothing: the synthesized all-null corrupt row
  // needs Catalyst's three-valued null semantics (FlatFilterEval's exact
  // evaluator assumes non-null fixed-width fields), so every predicate
  // stays residual and runs post-scan — the same posture as the built-in
  // csv source with a corrupt-record column.
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (mode == "PERMISSIVE") return filters
    val (ok, residual) = filters.partition(FlatFilterEval.supports(layout, _))
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  // COUNT(*) over a fixed-record file is pure METADATA — Σ fileSize/recLen,
  // no bytes read. Accepted only when nothing narrows the row set: no
  // grouping, no filters pushed into the reader (a filtered count must
  // actually evaluate rows) and a bare CountStar. Complete pushdown: the
  // scan answers with the one final row, so a 100 TB count costs one
  // driver-side file listing (the parquet-footer-count equivalent the
  // reference's byte pump could never do).
  private def answersFromMetadata(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    pushed.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = answersFromMetadata(agg)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (answersFromMetadata(agg)) { countStar = true; true } else false
  }

  override def build(): Scan =
    if (countStar) new FlatCountScan(paths, layout, mode)
    else new FlatScan(paths, layout, required, mode, corruptCol, trimStrings,
      wholeFile, pushed)
}

/** Metadata-only COUNT(*) scan: one partition, one row, zero data bytes.
  * PERMISSIVE counts a truncated tail as its one synthesized row, so the
  * pushed-down count equals the row-by-row count exactly.
  */
class FlatCountScan(paths: Seq[String], layout: EclLayout, mode: String)
    extends Scan with Batch {
  import org.apache.spark.sql.types.{LongType, StructField}

  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"hpcc-flat recLen=${layout.recLen} PushedAggregates: [COUNT(*)]"

  override def planInputPartitions(): Array[InputPartition] = {
    val recLen = layout.recLen.toLong
    Array(FlatCountPartition(FlatScan.files(paths, recLen, mode).map {
      case (_, size) =>
        size / recLen + (if (mode == "PERMISSIVE" && size % recLen != 0) 1 else 0)
    }.sum))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FlatCountReaderFactory
}

case class FlatCountPartition(rows: Long) extends InputPartition

object FlatCountReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = !emitted && { emitted = true; true }
      override def get(): InternalRow =
        InternalRow(p.asInstanceOf[FlatCountPartition].rows)
      override def close(): Unit = ()
    }
}

class FlatScan(paths: Seq[String], layout: EclLayout, required: StructType,
    mode: String, corruptCol: Option[String] = None,
    trimStrings: Boolean = true, wholeFile: Boolean = false,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"hpcc-flat recLen=${layout.recLen} cols=${required.fieldNames.mkString(",")}" +
      s" PushedFilters: [${filters.mkString(", ")}]"

  private val recLen = layout.recLen.toLong

  override def planInputPartitions(): Array[InputPartition] =
    spans(FlatScan.files(paths, recLen, mode), tails = mode == "PERMISSIVE")

  /** Record-aligned spans of `files`; with `tails`, a file's truncated
    * trailing record joins its last span, which the reader emits as a row.
    */
  private def spans(files: Seq[(Path, Long)], tails: Boolean)
      : Array[InputPartition] =
    // wholeFile = the reference's unpartitioned streamInFile mode
    // (libhdfsconnector.cpp:607-650): one partition spans the file
    ByteRanges.plan(SparkSession.active, files, recLen,
      fixed = if (wholeFile) Long.MaxValue else 0L).zip(files).flatMap {
      case (ss, (p, size)) =>
        if (!tails || size % recLen == 0) ss
        else if (ss.isEmpty) Seq(ByteRanges.Span(p.toString, 0L, size, Array.empty))
        else ss.init :+ ss.last.copy(end = size)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new FlatReaderFactory(layout.spec, required.fieldNames, trimStrings,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      filters, corruptCol)

  /** Micro-batch FLAT source: tail a directory of fixed-width part files
    * (a landing directory fed by `PipeOut` or the streaming flat sink),
    * with the batch scan's pruning, filters and modes. A non-multiple file
    * is read for its whole records and its tail dropped: a strict failure
    * would poison the query for good.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ByteRanges.Stream(paths, spans(_, tails = false),
      () => createReaderFactory())
}

object FlatScan {
  /** The data files at `paths`; FAILFAST rejects a size that is not whole
    * records, the reference's strict check (libhdfsconnector.cpp:85-89).
    */
  def files(paths: Seq[String], recLen: Long, mode: String): Seq[(Path, Long)] = {
    val files = paths.flatMap(
      ByteRanges.list(SparkSession.active.sessionState.newHadoopConf(), _))
    if (mode == "FAILFAST") files.find(_._2 % recLen != 0).foreach {
      case (p, size) => throw new IllegalArgumentException(
        s"hpcc-flat: $p size $size is not a multiple of recLen $recLen")
    }
    files
  }
}

class FlatReaderFactory(layoutSpec: String, requiredNames: Array[String],
    trimStrings: Boolean, conf: SerializableHadoopConf,
    filters: Array[org.apache.spark.sql.sources.Filter],
    corruptCol: Option[String] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FlatPartitionReader(p.asInstanceOf[ByteRanges.Span],
      EclLayout.parse(layoutSpec), requiredNames, trimStrings, conf, filters,
      corruptCol)
}

class FlatPartitionReader(part: ByteRanges.Span, layout: EclLayout,
    requiredNames: Array[String], trimStrings: Boolean,
    conf: SerializableHadoopConf,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    corruptCol: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private val recLen = layout.recLen
  // (field, byte offset) for just the required columns, in output order;
  // null marks the corrupt-record column (not a layout field)
  private val cols: Array[(EclType, Int)] = requiredNames.map { n =>
    if (corruptCol.contains(n)) null
    else {
      val i = layout.fields.indexWhere(_.name == n)
      require(i >= 0, s"column $n not in layout")
      (layout.fields(i).typ, layout.offsets(i))
    }
  }
  // fields referenced by pushed filters (may include columns Catalyst
  // pruned from the projection — they are decoded only for the predicate)
  private val filterCols: Map[String, (EclType, Int)] =
    filters.flatMap(_.references).distinct.map { n =>
      val i = layout.fields.indexWhere(_.name == n)
      require(i >= 0, s"filter column $n not in layout")
      n -> (layout.fields(i).typ, layout.offsets(i))
    }.toMap

  private val cur = new ByteRanges.Cursor(part.file, part.start, conf.value)
  private var remaining = (part.end - part.start) / recLen
  // a PERMISSIVE file's truncated tail, at the end of its last span
  private val tailLen = ((part.end - part.start) % recLen).toInt
  private val record = new Array[Byte](recLen)
  private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(cols.length)
  private var nRead = 0L
  private var nDecoded = 0L

  /** Decode one filter field of the current record to a comparable value. */
  private def fieldValue(name: String): Any = {
    val (t, off) = filterCols(name)
    FlatCodec.decode(t, record, off, trimStrings) match {
      case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
      case other => other // UTF8String or a boxed numeric
    }
  }

  private var tailEmitted = false

  override def next(): Boolean = {
    while (remaining > 0) {
      cur.readFully(record)
      remaining -= 1
      nRead += 1
      if (filters.isEmpty ||
          filters.forall(FlatFilterEval.eval(_, fieldValue))) {
        var i = 0
        while (i < cols.length) {
          row.update(i,
            if (cols(i) == null) null // corrupt-record col: null on good rows
            else FlatCodec.decode(cols(i)._1, record, cols(i)._2, trimStrings))
          i += 1
        }
        nDecoded += 1
        return true
      }
    }
    // PERMISSIVE truncated tail: one all-null row, raw bytes hex-dumped
    // into the corrupt-record column if the projection kept it
    if (tailLen > 0 && !tailEmitted) {
      tailEmitted = true
      val tail = new Array[Byte](tailLen)
      cur.readFully(tail)
      var i = 0
      while (i < cols.length) {
        row.update(i,
          if (cols(i) == null)
            org.apache.spark.unsafe.types.UTF8String.fromString(
              tail.map(b => f"${b & 0xff}%02X").mkString)
          else null)
        i += 1
      }
      return true
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = {
    FlatScanMetrics.recordsRead.add(nRead)
    FlatScanMetrics.rowsDecoded.add(nDecoded)
    cur.close()
  }
}

// --------------------------------------------------------------- write path

class FlatWriteBuilder(path: String, layout: EclLayout, info: LogicalWriteInfo,
    replication: Short = 0)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = {
    val in = info.schema()
    val want = layout.schema
    require(in.fields.map(f => (f.name, f.dataType)).sameElements(
      want.fields.map(f => (f.name, f.dataType))),
      s"hpcc-flat write schema mismatch:\n  got  $in\n  want $want")
    new FlatWrite(path, layout, doTruncate, replication)
  }
}

class FlatWrite(path: String, layout: EclLayout, truncate: Boolean,
    replication: Short = 0)
    extends Write with BatchWrite
    with org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def toBatch: BatchWrite = this
  // Complete mode reaches a streaming sink as truncate(): the once-per-query
  // truncate below would let epochs 2..n append full recomputed results —
  // silent duplication. Only Append is supported; reject loudly.
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (truncate) throw new UnsupportedOperationException(
      "hpcc-flat streaming sink supports Append output mode only " +
        "(Complete would re-append the full result every epoch)")
    this
  }
  // both parent traits declare this default; disambiguate explicitly
  override def useCommitCoordinator(): Boolean = true

  // createStreamingWriterFactory is invoked once per MICRO-BATCH (each
  // epoch wraps this StreamingWrite in a fresh MicroBatchWrite), so the
  // truncate delete must fire at most once per query — otherwise every
  // epoch would destroy the previous epoch's output before writing.
  @volatile private var truncated = false

  private def prepare(): SerializableHadoopConf = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    if (truncate && !truncated && fs.exists(dir)) fs.delete(dir, true)
    truncated = true
    fs.mkdirs(dir)
    new SerializableHadoopConf(conf)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FlatWriterFactory(path, layout.spec, info.numPartitions, prepare(),
      replication)

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()

  // ---- streaming sink (append mode): one part-file set per epoch ------
  // `part_<epoch>_<partition>_<n>` extends the reference naming with the
  // micro-batch epoch so epochs never collide. Epoch commit reconciles the
  // directory against the committed file set, so a replayed epoch (even
  // re-planned with a different partition count) leaves no orphan parts
  // from the failed attempt — the duplicate-row hazard of eager renames.
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new FlatWriterFactory(path, layout.spec, info.numPartitions, prepare(),
      replication)

  private def cleanEpoch(epochId: Long, keep: Set[String]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
    if (fs.exists(dir)) {
      // Match the FULL streaming name part_<epoch>_<pid>_<n>. A bare prefix
      // test would also catch batch parts (named part_<pid>_<n>): in a mixed
      // batch+streaming directory epoch 3's commit would delete batch file
      // part_3_8. Merge.scala explicitly supports mixed dirs, so be exact.
      val epochPart = s"part_${epochId}_\\d+_\\d+".r
      fs.listStatus(dir).foreach { f =>
        val n = f.getPath.getName
        if (epochPart.matches(n) && !keep.contains(n)) fs.delete(f.getPath, false)
      }
    }
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanEpoch(epochId,
      messages.collect { case FlatCommitMsg(f) => f }.toSet)
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    cleanEpoch(epochId, Set.empty)
}

/** Batch tasks write `part_<i>_<n>`, streaming tasks `part_<epoch>_<i>_<n>`. */
class FlatWriterFactory(path: String, layoutSpec: String, numPartitions: Int,
    conf: SerializableHadoopConf, replication: Short = 0) extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FlatDataWriter(path, EclLayout.parse(layoutSpec), partitionId,
      numPartitions, taskId, conf, replication = replication)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new FlatDataWriter(path, EclLayout.parse(layoutSpec), partitionId,
      numPartitions, taskId, conf, namePrefix = s"part_${epochId}_",
      replication = replication)
}

/** Commit message carrying the written file name, so the per-epoch
  * streaming commit can reconcile the directory against the committed set.
  */
case class FlatCommitMsg(fileName: String) extends WriterCommitMessage

/** Writes one reference-convention part file, `part_<i>_<n>`
  * (hdfsconnector.hpp:65-72), through a [[PartFile]] commit.
  */
class FlatDataWriter(path: String, layout: EclLayout, partitionId: Int,
    numPartitions: Int, taskId: Long, conf: SerializableHadoopConf,
    namePrefix: String = "part_", replication: Short = 0)
    extends DataWriter[InternalRow] {

  private val part = new PartFile(path,
    s"$namePrefix${partitionId}_$numPartitions", taskId, conf.value, replication)
  private val buf = new Array[Byte](layout.recLen)

  override def write(r: InternalRow): Unit = {
    var i = 0
    while (i < layout.fields.length) {
      FlatCodec.encode(layout.fields(i).typ, r, i, buf, layout.offsets(i))
      i += 1
    }
    part.out.write(buf)
  }

  override def commit(): WriterCommitMessage = FlatCommitMsg(part.commit())
  override def abort(): Unit = part.abort()
  override def close(): Unit = ()
}
