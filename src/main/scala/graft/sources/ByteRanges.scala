package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.FilePartition

/** Byte-range planning and reading shared by the range-split sources
  * (`hpcc-flat`, `hpcc-xml`, `hpcc-csv-parity`, batch and micro-batch):
  * one listing rule, one split rule, one buffered cursor that all three
  * readers read through, and one micro-batch stream.
  */
object ByteRanges {

  /** `[start, end)` of `file`, the input partition of all three sources;
    * `hosts` hold its HDFS blocks.
    */
  final case class Span(file: String, start: Long, end: Long,
      hosts: Array[String]) extends InputPartition {
    override def preferredLocations(): Array[String] = hosts
  }

  /** The data files at `path` — the file itself, or a directory's
    * non-empty, non-hidden (`.`/`_`) files sorted by name — with sizes.
    */
  def list(conf: Configuration, path: String): Seq[(Path, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    if (!st.isDirectory) Seq(st.getPath -> st.getLen)
    else fs.listStatus(root).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && f.getLen > 0 && !n.startsWith(".") && !n.startsWith("_")
    }.sortBy(_.getPath.getName).map(f => f.getPath -> f.getLen)
  }

  /** Micro-batch read of `paths` by a range-split scan: tail a landing
    * directory (the reference is batch-only, ecl/HDFSConnector.ecl:55-56).
    * An offset is the set of visible files and their sizes; each
    * micro-batch is the files that appeared since the last offset, split
    * by the scan's own planner `plan` and read by its own reader factory,
    * so a stream keeps every option of the batch read. A missing path
    * contributes no files. Files must be immutable once visible
    * (write-then-rename drops, as the FLAT sink and the reference's parts
    * are); a file that grows in place is not supported (SURVEY §2.1 #11).
    */
  final class Stream(paths: Seq[String],
      plan: Seq[(Path, Long)] => Array[InputPartition],
      readers: () => PartitionReaderFactory) extends MicroBatchStream {
    override def initialOffset(): Offset = FlatOffset(Map.empty)
    override def latestOffset(): Offset = {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      FlatOffset(paths.map(new Path(_)).filter(p => p.getFileSystem(conf).exists(p))
        .flatMap(p => list(conf, p.toString)).map { case (p, n) => p.toString -> n }.toMap)
    }
    override def deserializeOffset(json: String): Offset = FlatOffset.fromJson(json)
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
      plan(end.asInstanceOf[FlatOffset].since(start))
    override def createReaderFactory(): PartitionReaderFactory = readers()
  }

  /** Spark's split size for file scans, the one the built-in csv and
    * parquet scans use: `min(maxPartitionBytes, max(openCostInBytes,
    * Σ(len + openCostInBytes) / parallelism))`, rounded down to a whole
    * number of `align`-byte records (at least one).
    */
  def splitBytes(spark: SparkSession, files: Seq[(Path, Long)],
      align: Long): Long = {
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val rule = FilePartition.maxSplitBytes(spark,
      files.iterator.map(_._2 + openCost).sum)
    math.max(rule / align * align, align)
  }

  /** `spark.sql.files.maxPartitionBytes` alone: CSV-parity's default,
    * because a range boundary inside a quoted terminator misaligns, so
    * files under the cap stay whole rather than split per core.
    */
  def capBytes(spark: SparkSession): Long =
    spark.sessionState.conf.filesMaxPartitionBytes

  /** One group of spans per file, in file order; no span crosses a file,
    * so files never share a task. Spans cover `[0, size / align * align)`.
    * `fixed > 0` replaces the split rule (`Long.MaxValue` = whole files).
    */
  def plan(spark: SparkSession, files: Seq[(Path, Long)], align: Long = 1L,
      fixed: Long = 0L): Seq[Seq[Span]] = {
    val split = if (fixed > 0) fixed else splitBytes(spark, files, align)
    val conf = spark.sessionState.newHadoopConf()
    files.map { case (p, size) =>
      val blocks = p.getFileSystem(conf).getFileBlockLocations(p, 0, size)
      val usable = size / align * align
      (0L until usable by split).map { start =>
        val end = math.min(start + split, usable)
        val hosts = blocks.filter(b =>
          b.getOffset < end && start < b.getOffset + b.getLength)
          .flatMap(_.getHosts).distinct
        Span(p.toString, start, end, hosts)
      }
    }
  }

  /** A forward byte reader over one file from offset `from`, and the
    * record buffer the reader assembles a row in. One task owns it, so
    * nothing is synchronized: `read1` is an array index into a 64 KB block
    * refilled with bulk reads, `readFully` copies fixed-width records out
    * of that block, and `at`/`endsWith` look back into the record without
    * copying it.
    */
  final class Cursor(file: String, from: Long, conf: Configuration)
      extends java.io.Closeable {

    private val in = {
      val p = new Path(file)
      val s = p.getFileSystem(conf).open(p)
      s.seek(from)
      s
    }
    private val block = new Array[Byte](1 << 16)
    private var filled = 0
    private var next = 0
    private var offset = from

    /** File offset of the next unread byte. */
    def pos: Long = offset

    /** The next byte (0-255), or -1 at EOF. */
    def read1(): Int = {
      if (next == filled && !refill()) return -1
      val b = block(next) & 0xff
      next += 1
      offset += 1
      b
    }

    /** Fills `buf` with the next bytes, across block edges; throws
      * `EOFException` if the file ends first.
      */
    def readFully(buf: Array[Byte]): Unit = {
      var at = 0
      while (at < buf.length) {
        if (next == filled && !refill())
          throw new java.io.EOFException(s"$file: EOF at $offset")
        val n = math.min(buf.length - at, filled - next)
        System.arraycopy(block, next, buf, at, n)
        next += n
        offset += n
        at += n
      }
    }

    private def refill(): Boolean = {
      var n = 0
      while (n == 0) n = in.read(block, 0, block.length)
      next = 0
      filled = math.max(n, 0)
      n > 0
    }

    private var rec = new Array[Byte](256)
    private var len = 0

    /** Bytes in the record buffer, which `reset` empties. */
    def size: Int = len
    def reset(): Unit = len = 0

    def append(b: Int): Unit = {
      if (len == rec.length) rec = java.util.Arrays.copyOf(rec, len * 2)
      rec(len) = b.toByte
      len += 1
    }

    def append(bs: Array[Byte]): Unit = bs.foreach(b => append(b & 0xff))

    /** The `k`-th last record byte (`at(1)` is the last), or -1. */
    def at(k: Int): Int = if (k > len) -1 else rec(len - k) & 0xff

    /** Does the record end with `p`? */
    def endsWith(p: Array[Byte]): Boolean = len >= p.length && {
      var i = 0
      while (i < p.length && rec(len - p.length + i) == p(i)) i += 1
      i == p.length
    }

    /** The record decoded as UTF-8. */
    def text: String = new String(rec, 0, len, UTF_8)

    /** A copy of the record without its last `drop` bytes. */
    def bytes(drop: Int): Array[Byte] =
      java.util.Arrays.copyOf(rec, len - drop)

    override def close(): Unit = in.close()
  }
}

/** Streaming offset of the range-split sources: the set of visible files
  * and their sizes. Files become visible atomically (the sinks rename temp
  * files on task commit), so file granularity is exact-once: a file is
  * either absent from an offset or fully contained in it.
  */
case class FlatOffset(files: Map[String, Long]) extends Offset {
  /** The files this offset holds and `start` does not, sorted by path. */
  def since(start: Offset): Seq[(Path, Long)] = {
    val seen = start.asInstanceOf[FlatOffset].files.keySet
    files.toSeq.filterNot(f => seen(f._1)).sortBy(_._1)
      .map { case (f, n) => new Path(f) -> n }
  }
  override def json(): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(new java.util.TreeMap[String, Long](files.asJava))
}

object FlatOffset {
  def fromJson(json: String): FlatOffset = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, Number]])
    FlatOffset(m.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}
