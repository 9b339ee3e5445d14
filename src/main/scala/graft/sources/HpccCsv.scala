package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CSV with the reference's option semantics, composed from Spark built-ins.
  *
  * Reference defaults (docs/.../HDFS_PipeIn.xml:53-55, hdfsconnector.hpp:226-228):
  * `SEPARATOR=','`, `TERMINATOR='\n'`, `QUOTE='\''` (single quote — not the
  * CSV-usual `"`), multi-char terminators allowed (matched with cross-buffer
  * lookahead, libhdfsconnector.cpp:449-474).
  *
  * Option strings go through the reference's escape expansion
  * (`expandEscapedChars`, hdfsconnector.hpp:74-129): `TERMINATOR('\r\n')`
  * from an ECL job arrives here as the four characters `\r\n` and must mean
  * CR+LF. The expansion set and its semantics (unknown escapes are DROPPED,
  * not kept literal) mirror the reference exactly.
  *
  * Mapping: a 1-char terminator goes straight to the built-in `csv` source
  * (Hadoop `LineRecordReader` implements the identical skip-first /
  * read-past-end split protocol as the reference's realignment,
  * libhdfsconnector.cpp:476-488,545-558). A multi-char terminator exceeds the
  * built-in CSV `lineSep` limit (1 char), so we read with the `text` source —
  * whose delimited-line reader accepts arbitrary byte sequences and is still
  * splittable — and parse each line with `from_csv` (same uniVocity parser,
  * still codegen-friendly, still column-pruned after parse).
  */
object HpccCsv {

  val DefaultSeparator = ","
  val DefaultTerminator = "\n"
  val DefaultQuote = "'"

  /** The reference's `expandEscapedChars` (hdfsconnector.hpp:74-129),
    * byte-for-byte: `\n \r \t \b \v \f \\ \' \" \0 \a \e` expand to their
    * control characters; an unrecognized escape drops BOTH the backslash
    * and the escaped character (the reference's `default: break`); a
    * trailing lone backslash is dropped.
    */
  def expandEscapes(source: String): String = {
    val out = new StringBuilder(source.length)
    var i = 0
    while (i < source.length) {
      if (source.charAt(i) == '\\' && i + 1 <= source.length - 1) {
        source.charAt(i + 1) match {
          case 'n'  => out.append('\n')
          case 'r'  => out.append('\r')
          case 't'  => out.append('\t')
          case 'b'  => out.append('\b')
          case 'v'  => out.append('\u000B')
          case 'f'  => out.append('\f')
          case '\\' => out.append('\\')
          case '\'' => out.append('\'')
          case '"'  => out.append('"')
          case '0'  => out.append('\u0000')
          case 'a'  => out.append('\u0007')
          case 'e'  => out.append('\u001B')
          case _    => // reference drops unknown escapes entirely
        }
        i += 2
      } else if (source.charAt(i) == '\\') {
        i += 1 // trailing backslash: consumed, nothing emitted
      } else {
        out.append(source.charAt(i))
        i += 1
      }
    }
    out.toString
  }

  /** The options escape-expanded, separator and quote checked to be one
    * character each.
    */
  private def options(separator: String, terminator: String,
      quote: String): (String, String, String) = {
    val sep = expandEscapes(separator)
    val qt = expandEscapes(quote)
    require(sep.length == 1, s"separator must be 1 char: '$separator'")
    require(qt.length == 1, s"quote must be 1 char: '$quote'")
    (sep, expandEscapes(terminator), qt)
  }

  /** `quoteParity = true` routes to [[readQuoteParity]] — the sound,
    * still-splittable path for data whose quoted fields may CONTAIN the
    * terminator. The default path splits on raw terminator bytes (the
    * reference's fast path); flip this option rather than falling back to
    * built-in csv `multiLine`, which collapses to one task per file.
    */
  def read(spark: SparkSession, path: String, schema: StructType,
      separator: String = DefaultSeparator,
      terminator: String = DefaultTerminator,
      quote: String = DefaultQuote,
      quoteParity: Boolean = false): DataFrame = {
    if (quoteParity)
      return readQuoteParity(spark, path, schema, separator, terminator,
        quote)
    load(schema, separator, terminator, quote)(
      opts => spark.read.schema(schema).options(opts).csv(path),
      term => spark.read.option("lineSep", term).text(path))
  }

  /** The built-in `csv` reader for a 1-char terminator, else `text` lines
    * split on the terminator and parsed with `from_csv`.
    */
  private def load(schema: StructType, separator: String, terminator: String,
      quote: String)(csv: Map[String, String] => DataFrame,
      text: String => DataFrame): DataFrame = {
    val (sep, term, qt) = options(separator, terminator, quote)
    val opts = Map("sep" -> sep, "quote" -> qt)
    if (term.length <= 1) csv(opts + ("lineSep" -> term))
    else text(term).select(from_csv(col("value"), schema, opts).as("r"))
      .select(col("r.*"))
  }

  /** Quote-parity splittable read (SURVEY §7 hard-part #2): records may
    * contain the terminator inside quoted fields, and the file is STILL
    * read with byte-range splits — the reference's realignment
    * protocol (quote-toggling scan, libhdfsconnector.cpp:437-443)
    * reproduced by [[CsvParitySource]], then field-parsed with `from_csv`.
    * Spark's built-in csv can only do this with `multiLine=true`, which
    * collapses to one task per file; here every range stays parallel.
    *
    * Carries the reference's documented unsoundness: a split boundary
    * landing INSIDE a quoted region misaligns (quote state at a range
    * start is assumed outside, cpp:409) — pinned in HpccCsvSpec.
    * `splitBytes = 0` uses `spark.sql.files.maxPartitionBytes`.
    */
  def readQuoteParity(spark: SparkSession, path: String, schema: StructType,
      separator: String = DefaultSeparator,
      terminator: String = DefaultTerminator,
      quote: String = DefaultQuote,
      splitBytes: Long = 0L): DataFrame = {
    val (sep, _, qt) = options(separator, terminator, quote)
    val opts = Map("sep" -> sep, "quote" -> qt, "multiLine" -> "true",
      // uniVocity's default escape is '\': a backslash before the quote
      // char would merge fields. The parity scan has no escape notion
      // (every quote toggles, cpp:437-443) — make the parser match by
      // using quote-doubling as the only escape.
      "escape" -> qt)
    spark.read.format("hpcc-csv-parity")
      .option("terminator", terminator).option("quote", quote)
      .option("splitbytes", splitBytes)
      .load(path)
      .select(from_csv(col("value"), schema, opts).as("r"))
      .select(col("r.*"))
  }

  /** Streaming read with the same reference semantics as [[read]]: tail a
    * landing directory of CSV drops micro-batch by micro-batch (parity
    * with the FLAT/XML streaming sources; the reference is batch-only —
    * ecl/HDFSConnector.ecl:55-56). Both branches ride Spark's built-in
    * file-stream sources, so offsets/exactly-once come from the standard
    * checkpoint machinery; the multi-char-terminator branch is the same
    * quote-UNAWARE text split as the batch path (same divergence note as
    * [[write]]).
    */
  def readStream(spark: SparkSession, path: String, schema: StructType,
      separator: String = DefaultSeparator,
      terminator: String = DefaultTerminator,
      quote: String = DefaultQuote): DataFrame = {
    load(schema, separator, terminator, quote)(
      opts => spark.readStream.schema(schema).options(opts).csv(path),
      term => spark.readStream.option("lineSep", term).text(path))
  }

  /** Write with reference semantics. Multi-char terminator → `to_csv` rows
    * joined by the text sink's `lineSep`.
    *
    * `outputTerminator = false` is the reference's `-outputterminator 0`
    * mode (libhdfsconnector.cpp:490-498): record terminators are suppressed
    * entirely, producing the continuous byte stream the reference pipes to
    * a fixed-length-record consumer (the flag travels with `recLen` in
    * streamCSV's signature). Rows are serialized with `to_csv` and
    * concatenated with NOTHING between them, one `part_<i>_<n>` file per
    * partition (reference part naming, temp-file rename on commit like the
    * flat sink).
    *
    * Divergence note (SURVEY.md §7 "hard parts"): the multi-char read path
    * splits rows with the quote-UNAWARE text reader, so a quoted field
    * containing the full terminator byte sequence would be split mid-field
    * (the reference's own quote-parity scan is equally unsound when the
    * quote state spans a partition boundary). Rather than corrupt silently,
    * the writer REJECTS rows whose serialized form contains the terminator.
    */
  def write(df: DataFrame, path: String,
      separator: String = DefaultSeparator,
      terminator: String = DefaultTerminator,
      quote: String = DefaultQuote,
      outputTerminator: Boolean = true): Unit = {
    val (sep, term, qt) = options(separator, terminator, quote)
    import scala.jdk.CollectionConverters._
    val row = to_csv(struct(df.columns.map(col).toSeq: _*),
      Map("sep" -> sep, "quote" -> qt).asJava)
    if (!outputTerminator) {
      writeUnterminated(df.select(row.as("value")), path)
    } else if (term.length <= 1) {
      df.write.option("sep", sep).option("quote", qt)
        .option("lineSep", term)
        .mode("overwrite").csv(path)
    } else {
      val guarded = when(row.contains(lit(term)),
        raise_error(concat(lit("hpcc-csv: row contains the terminator "),
          lit(term.replace("\n", "\\n").replace("\r", "\\r")), lit(": "), row)))
        .otherwise(row)
      df.select(guarded.as("value"))
        .write.option("lineSep", term)
        .mode("overwrite").text(path)
    }
  }

  /** Terminator-free partitioned write: each task concatenates its rows'
    * UTF-8 bytes into one `part_<i>_<n>` file through a [[PartFile]]
    * commit, like the flat sink. No built-in sink can do this — the text
    * sink always terminates lines — so this is a small foreachPartition
    * sink over the single `value` column.
    */
  private def writeUnterminated(rows: DataFrame, path: String): Unit = {
    val spark = rows.sparkSession
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    val rdd = rows.queryExecution.toRdd
    val n = rdd.getNumPartitions
    rdd.foreachPartition { it =>
      val task = org.apache.spark.TaskContext.get()
      val part = new PartFile(path, s"part_${task.partitionId()}_$n",
        task.taskAttemptId(), conf.value)
      try {
        it.foreach(r => part.out.write(r.getUTF8String(0).getBytes))
        part.commit()
      } catch {
        // Exception, not NonFatal: a killed task's interrupt cleans up too
        case e: Exception =>
          try part.abort()
          catch { case scala.util.control.NonFatal(c) => e.addSuppressed(c) }
          throw e
      }
    }
  }
}
