package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `hpcc-xml`: splittable row-tag XML reader as a DSv2 table.
  *
  * Reproduces the reference's XML partitioned scan semantics
  * (libhdfsconnector.cpp:211-383): each file is split into byte ranges of
  * Spark's core-aware file-scan size ([[ByteRanges.splitBytes]]), so even a
  * file under `maxPartitionBytes` fills the cores once it is past the
  * open-cost floor; a range emits exactly the rows whose opening `<rowTag`
  * starts inside it
  * (realignment: scan forward from the range start for the first opening
  * tag; read past the range end to finish the last row). The reference
  * synthesizes enclosing xpath wrappers per slice so Thor sees well-formed
  * XML (:183-209,256,377-380) — unnecessary here, rows parse directly to
  * `InternalRow`. `rowTag` may be an xpath; its last element is used
  * (getLastXPathElement, :159-170). Default rowTag `Row`
  * (hdfsconnector.hpp:224).
  *
  * Row tags that NEST themselves parse correctly: the element scanner
  * tracks tag depth (the reference's single `withinRecord` flag cannot,
  * :318-321 — documented divergence). Split realignment is only sound for
  * flat documents, so nesting is opted into via `nestedRowTag=true`, which
  * trades splits for whole-file ranges; the flat default keeps the
  * split fast path. Like the CSV quote-parity splitter, a range that starts
  * inside a comment or CDATA section cannot know it: a literal `<rowTag`
  * later in that section reads as a row start (pinned in
  * SplitInvariancePropSpec); such documents past the open-cost floor need
  * `nestedRowTag=true` for whole-file ranges.
  *
  * Write side: Spark's built-in `xml` sink — the reference never serializes
  * XML itself either (pipe-out passes the format through to Thor,
  * SURVEY.md §1.4).
  */
class XmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "hpcc-xml"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "hpcc-xml requires an explicit schema: spark.read.format(\"hpcc-xml\").schema(...)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new XmlTable(schema, new CaseInsensitiveStringMap(properties))
}

class XmlTable(userSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val path: String = {
    val p = Option(options.get("path"))
    require(p.isDefined, "hpcc-xml requires a path")
    p.get
  }
  private val rowTag: String =
    options.getOrDefault("rowtag", "Row").split("/").last

  // Parse mode, matching the built-in xml/csv sources' contract:
  // FAILFAST (default — a field that fails to decode throws and kills the
  // task), PERMISSIVE (malformed row → all-null row, raw element text in
  // `columnNameOfCorruptRecord` when that option names a column),
  // DROPMALFORMED (malformed row silently skipped).
  private val mode: String = {
    val m = options.getOrDefault("mode", "FAILFAST").toUpperCase
    require(Set("FAILFAST", "PERMISSIVE", "DROPMALFORMED")(m),
      s"hpcc-xml: mode must be FAILFAST|PERMISSIVE|DROPMALFORMED, got $m")
    m
  }
  private val corruptCol: Option[String] =
    if (mode == "PERMISSIVE") Option(options.get("columnNameOfCorruptRecord"))
    else None
  // nested row tags cannot be split-realigned (a range starting inside a
  // row would mistake an inner opening tag for a row start), so opting in
  // trades splittability for nesting: one partition per file
  private val nested: Boolean =
    options.getBoolean("nestedrowtag", false)

  override def name(): String = s"hpcc-xml:$path"
  override def schema(): StructType =
    if (corruptCol.isDefined)
      StructType(userSchema.fields :+
        StructField(corruptCol.get, StringType, nullable = true))
    else userSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new XmlScanBuilder(path, rowTag, schema(), mode, corruptCol, nested)
}

class XmlScanBuilder(path: String, rowTag: String, full: StructType,
    mode: String = "FAILFAST", corruptCol: Option[String] = None,
    nested: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new XmlScan(path, rowTag, required, mode, corruptCol, nested)
}

class XmlScan(path: String, rowTag: String, required: StructType,
    mode: String = "FAILFAST", corruptCol: Option[String] = None,
    nested: Boolean = false)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = s"hpcc-xml rowTag=$rowTag"

  override def planInputPartitions(): Array[InputPartition] = spans(
    ByteRanges.list(SparkSession.active.sessionState.newHadoopConf(), path))

  // nested row tags forfeit splits (whole-file ranges); flat files keep
  // the core-aware realignment fast path
  private def spans(files: Seq[(org.apache.hadoop.fs.Path, Long)])
      : Array[InputPartition] =
    ByteRanges.plan(SparkSession.active, files,
      fixed = if (nested) Long.MaxValue else 0L).flatten.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new XmlReaderFactory(rowTag, required,
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()),
      mode, corruptCol)

  /** Micro-batch XML source: tail a directory of row-tag XML files, each
    * micro-batch planned and read exactly as the batch scan is.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ByteRanges.Stream(Seq(path), spans, () => createReaderFactory())
}

class XmlReaderFactory(rowTag: String, required: StructType,
    conf: SerializableHadoopConf, mode: String = "FAILFAST",
    corruptCol: Option[String] = None) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new XmlPartitionReader(p.asInstanceOf[ByteRanges.Span], rowTag, required,
      conf, mode, corruptCol)
}

/** Streams one byte range; the tag state machine mirrors the reference's
  * (find opening tag at/after range start :305-310; read the full element
  * even past range end :337-343; tags spanning buffer reads handled by the
  * stream abstraction :285-303).
  */
class XmlPartitionReader(part: ByteRanges.Span, rowTag: String,
    required: StructType, conf: SerializableHadoopConf,
    mode: String = "FAILFAST", corruptCol: Option[String] = None)
    extends PartitionReader[InternalRow] {

  private val open = s"<$rowTag".getBytes("UTF-8")
  private val closeTag = s"</$rowTag>".getBytes("UTF-8")

  private val cur = new ByteRanges.Cursor(part.file, part.start, conf.value)
  private var done = false
  private var current: InternalRow = _

  /** Consume bytes until the byte sequence `p` has just been read (ring
    * compare of the trailing window — robust to self-overlapping patterns
    * like `-->` against `--->`). Optionally appends the consumed bytes to
    * the record. Returns false at EOF.
    */
  private def consumeUntil(p: Array[Byte], append: Boolean): Boolean = {
    val ring = new Array[Int](p.length)
    var n = 0
    while (true) {
      val b = cur.read1()
      if (b < 0) return false
      if (append) cur.append(b)
      ring(n % p.length) = b
      n += 1
      if (n >= p.length) {
        var i = 0
        while (i < p.length &&
          ring((n - p.length + i) % p.length) == (p(i) & 0xff)) i += 1
        if (i == p.length) return true
      }
    }
    false
  }

  private val CommentEnd = "-->".getBytes("UTF-8")
  private val CdataEnd = "]]>".getBytes("UTF-8")

  /** We just consumed `<!`. Skip the whole markup declaration — comment
    * (`<!--...-->`), CDATA (`<![CDATA[...]]>`), or DOCTYPE-style (`<!...>`)
    * — so a literal `<rowTag` INSIDE it never counts as a row start.
    * (The reference's flat state machine has exactly this false-positive,
    * :305-310 — a deliberate divergence, not a port.)
    */
  private def skipMarkupDecl(append: Boolean): Boolean = {
    val b1 = cur.read1()
    if (b1 < 0) return false
    if (append) cur.append(b1)
    b1 match {
      case '-' =>
        val b2 = cur.read1()
        if (b2 < 0) return false
        if (append) cur.append(b2)
        if (b2 == '-') consumeUntil(CommentEnd, append)
        else consumeUntil(Array('>'.toByte), append)
      case '[' => consumeUntil(CdataEnd, append)
      case '>' => true
      case _ => consumeUntil(Array('>'.toByte), append)
    }
  }

  /** Advance until the start of the next `<rowTag` token (already consumed),
    * returning its start offset, or -1 at EOF. A match requires the byte
    * after the tag name to be '>', '/', or whitespace (so rowTag=Row does
    * not match `<Rows>`). Comments and CDATA sections are skipped whole.
    */
  private def findOpen(): Long = {
    var matched = 0
    while (true) {
      val b = cur.read1()
      if (b < 0) return -1L
      if (matched == open.length) {
        // byte after "<rowTag": delimiter decides the match
        if (b == '>' || b == '/' || b == ' ' || b == '\t' || b == '\n' || b == '\r') {
          cur.append(open); cur.append(b)
          return cur.pos - open.length - 1
        }
        matched = if (b == '<') 1 else 0
      } else if (matched == 1 && b == '!') {
        if (!skipMarkupDecl(append = false)) return -1L
        matched = 0
      } else if (b == open(matched)) matched += 1
      else matched = if (b == '<') 1 else 0
    }
    -1L
  }

  /** Consume through the matching `</rowTag>` (or self-closing `/>`),
    * appending bytes to the record (UTF-8-decoded only once complete). Tracks
    * TAG DEPTH, so a rowTag that nests itself parses to the OUTER
    * element's end — the reference's single `withinRecord` flag cannot
    * (:318-321, documented divergence); flat documents never leave
    * depth 1, so the flat path costs one integer compare per byte.
    * (Correct SPLIT placement for nested documents needs the
    * `nestedRowTag` option — see [[XmlScan.planInputPartitions]].)
    *
    * Hardened vs the reference state machine (:318-343):
    *  - every start-tag scan (root and nested) tracks QUOTE state, so a
    *    legal attribute value containing '>' (or "/>") neither ends the
    *    tag early nor fakes self-closing;
    *  - comments / CDATA inside the element body are consumed whole, so a
    *    literal `</rowTag>` (or `<rowTag>`) inside them affects nothing.
    */
  private def readElement(): Boolean = {
    // the record holds "<rowTag" + one delimiter byte already
    if (cur.at(1) == '/') { // "<rowTag/" — need '>'
      val b = cur.read1(); if (b < 0) return false
      cur.append(b)
      return b == '>'
    }
    var depth = 1
    var inTag = cur.at(1) != '>' // scanning a start tag (root or nested)
    var tagIsNested = false
    var quote = 0 // active attribute-value quote char, 0 = none
    var closeM = 0 // closeTag progress
    var openM = 0 // nested "<rowTag" progress
    var prevLt = false // last body byte was '<' (markup-decl detector)
    while (true) {
      val b = cur.read1()
      if (b < 0) return false
      cur.append(b)
      if (inTag) {
        if (quote != 0) {
          if (b == quote) quote = 0
        } else if (b == '"' || b == '\'') quote = b
        else if (b == '>') {
          val selfClosing = cur.at(2) == '/'
          if (tagIsNested) { if (!selfClosing) depth += 1 }
          else if (selfClosing) return true // root "<rowTag .../>"
          inTag = false; tagIsNested = false
          closeM = 0; openM = 0; prevLt = false
        }
      } else if (prevLt && b == '!') {
        // "<!" -> comment/CDATA/DOCTYPE; consume it whole (appending)
        if (!skipMarkupDecl(append = true)) return false
        closeM = 0; openM = 0; prevLt = false
      } else {
        // nested-open matcher: openM == open.length means "<rowTag" just
        // matched and b is the delimiter deciding whether it IS our tag
        if (openM == open.length) {
          if (b == '>') { depth += 1; openM = 0 }
          else if (b == '/') openM = 0 // "<rowTag/>": no depth change
          else if (b == ' ' || b == '\t' || b == '\n' || b == '\r') {
            // nested start tag with attributes: scan it quote-aware
            inTag = true; tagIsNested = true; quote = 0
            closeM = 0; openM = 0; prevLt = false
          } else openM = if (b == '<') 1 else 0 // e.g. "<RowX"
        } else if (b == open(openM)) openM += 1
        else openM = if (b == '<') 1 else 0
        if (!inTag) {
          if (b == closeTag(closeM)) {
            closeM += 1
            if (closeM == closeTag.length) {
              depth -= 1
              if (depth == 0) return true
              closeM = 0
            }
          } else closeM = if (b == '<') 1 else 0
          prevLt = b == '<'
        }
      }
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (done) return false
      cur.reset()
      val tagStart = findOpen()
      // a row belongs to the range containing its opening '<'  (:305-310)
      if (tagStart < 0 || tagStart >= part.end) { done = true; return false }
      if (readElement()) {
        val xml = cur.text
        try {
          current = parseRow(xml)
          return true
        } catch {
          case e: Exception if mode != "FAILFAST" =>
            if (mode == "PERMISSIVE") { current = corruptRow(xml); return true }
            // DROPMALFORMED: skip this element, scan on
        }
      } else {
        // unterminated element at EOF: PERMISSIVE surfaces the fragment,
        // the other modes keep the historical silent-stop
        done = true
        if (mode == "PERMISSIVE" && cur.size > 0) {
          current = corruptRow(cur.text)
          return true
        }
        return false
      }
    }
    false
  }

  /** All-null row with the raw element text in the corrupt-record column
    * (when the projection kept it).
    */
  private def corruptRow(xml: String): InternalRow = {
    val row = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      row.update(i,
        if (corruptCol.contains(required.fields(i).name))
          UTF8String.fromString(xml)
        else null)
      i += 1
    }
    row
  }

  private val NumericRef = "&#(x?)([0-9A-Fa-f]+);".r

  private def unescape(s: String): String =
    if (s.indexOf('&') < 0) s
    else {
      // numeric character references first (&#13; / &#x1F600;), then the
      // five named entities — &amp; strictly last so "&amp;lt;" → "&lt;"
      val num = NumericRef.replaceAllIn(s, m => {
        // malformed refs (&#ff; decimal with hex letters, out-of-range
        // codepoints, overflow) stay literal instead of killing the scan
        scala.util.matching.Regex.quoteReplacement(
          try {
            val cp = Integer.parseInt(m.group(2), if (m.group(1).isEmpty) 10 else 16)
            new String(Character.toChars(cp))
          } catch { case _: RuntimeException => m.matched })
      })
      num.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
        .replace("&apos;", "'").replace("&amp;", "&")
    }

  private val CdataRe = "(?s)<!\\[CDATA\\[(.*?)\\]\\]>".r

  /** Entity-unescape around CDATA sections: CDATA content is literal (no
    * entity processing), everything else unescapes as usual.
    */
  private def decodeText(s: String): String =
    if (!s.contains("<![CDATA[")) unescape(s)
    else {
      val sb = new StringBuilder
      var lastEnd = 0
      for (m <- CdataRe.findAllMatchIn(s)) {
        sb.append(unescape(s.substring(lastEnd, m.start)))
        sb.append(m.group(1))
        lastEnd = m.end
      }
      sb.append(unescape(s.substring(lastEnd)))
      sb.toString
    }

  // start tag (quote-aware) and attr="value" / attr='value' extraction
  private val StartTagRe =
    """(?s)^<[^\s/>]+((?:[^>"']|"[^"]*"|'[^']*')*?)/?>""".r
  private val AttrRe =
    """([A-Za-z_][A-Za-z0-9_.\-]*)\s*=\s*("[^"]*"|'[^']*')""".r

  /** Attributes of the row's start tag, entity-unescaped. The reference
    * parses attribute text but discards it (:318-329); here row-tag
    * attributes are decoded into schema fields (a child element of the
    * same name wins on conflict).
    */
  private def rowAttributes(xml: String): Map[String, String] =
    StartTagRe.findPrefixMatchOf(xml) match {
      case Some(m) =>
        AttrRe.findAllMatchIn(m.group(1)).map { am =>
          val raw = am.group(2)
          am.group(1) -> unescape(raw.substring(1, raw.length - 1))
        }.toMap
      case None => Map.empty
    }

  // each required field's "<f>", "</f>" and "<f/>", built once per reader
  private val fieldTags =
    required.fieldNames.map(n => (s"<$n>", s"</$n>", s"<$n/>"))

  /** The first `<f>...</f>` (or `<f/>`) of field `i`, else the row-tag
    * attribute of that name, which `attrs` parses only when asked.
    */
  private def fieldText(xml: String, i: Int,
      attrs: => Map[String, String]): Option[String] = {
    val (openF, closeF, emptyF) = fieldTags(i)
    val openIdx = xml.indexOf(openF)
    if (openIdx >= 0) {
      val from = openIdx + openF.length
      val closeIdx = xml.indexOf(closeF, from)
      if (closeIdx >= 0) Some(decodeText(xml.substring(from, closeIdx))) else None
    } else if (xml.contains(emptyF)) Some("")
    else attrs.get(required.fields(i).name)
  }

  private def parseRow(xml: String): InternalRow = {
    val row = new GenericInternalRow(required.length)
    // a bare "<rowTag>" or "<rowTag/>" start tag carries no attributes;
    // any other is parsed once, when a field has no element
    var attrs: Map[String, String] = xml.charAt(rowTag.length + 1) match {
      case '>' | '/' => Map.empty
      case _ => null
    }
    var i = 0
    while (i < required.length) {
      val f = required.fields(i)
      val v: Any = fieldText(xml, i, {
        if (attrs == null) attrs = rowAttributes(xml)
        attrs
      }) match {
        case None => null
        case Some(t) => f.dataType match {
          case StringType => UTF8String.fromString(t)
          case IntegerType => t.trim.toInt
          case LongType => t.trim.toLong
          case ShortType => t.trim.toShort
          case ByteType => t.trim.toByte
          case DoubleType => t.trim.toDouble
          case FloatType => t.trim.toFloat
          case BooleanType => t.trim.toBoolean
          case d: DecimalType => Decimal(BigDecimal(t.trim), d.precision, d.scale)
          case other => throw new IllegalArgumentException(
            s"hpcc-xml: unsupported field type $other for ${f.name}")
        }
      }
      row.update(i, v)
      i += 1
    }
    row
  }

  override def get(): InternalRow = current
  override def close(): Unit = cur.close()
}
