package graft.sources

import java.io.{BufferedOutputStream, IOException, OutputStream}
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Part-file merge — the reference's `PipeOutAndMerge` second phase.
  *
  * The reference appends `part_0_n .. part_{n-1}_n` in node-id order to a
  * single target file, flushing every 1 MB, optionally deleting the parts
  * (mergeFile, libhdfsconnector.cpp:709-831; only node 0 does work, :711;
  * missing part → error, :807-811). Here the same single-writer ordered
  * concat runs driver-side over Hadoop streams.
  */
object Merge {

  private val CopyBuf = 1 << 20 // reference flush threshold, hdfsconnector.hpp:211

  /** Concat the part files under `dir` into `target`, in partition order.
    * Recognizes the reference naming `part_<i>_<n>` (with the missing-part
    * check, :807-811), the streaming sink's `part_<epoch>_<i>_<n>`
    * (ordered by epoch then partition), and Spark's `part-NNNNN-…`
    * (ordered by task number, zero-padded into the name). Mixed batch +
    * streaming dirs merge batch parts first, then epochs in order — no
    * naming family is silently dropped.
    *
    * `head` and `tail` are a document wrapper every non-empty part carries
    * (XML's declaration and root element, the reference's header and
    * footer, hdfsconnector.hpp:229-230): the target gets `head` once, each
    * non-empty part's bytes between them, then `tail`. A non-empty part
    * without them fails; if every part is empty, so is the target.
    */
  def mergeParts(spark: SparkSession, dir: String, target: String,
      cleanMerge: Boolean = false, head: Array[Byte] = Array.emptyByteArray,
      tail: Array[Byte] = Array.emptyByteArray): Long = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val PartName = "part_(\\d+)_(\\d+)".r
    val EpochPart = "part_(\\d+)_(\\d+)_(\\d+)".r
    val listing = fs.listStatus(d).toSeq.filter(_.isFile)
    val refParts = listing.flatMap { f =>
      f.getPath.getName match {
        case PartName(i, n) => Some((i.toInt, n.toInt, f))
        case _ => None
      }
    }.sortBy(_._1)
    val epochParts = listing.flatMap { f =>
      f.getPath.getName match {
        case EpochPart(e, i, _) => Some((e.toLong, i.toInt, f))
        case _ => None
      }
    }.sortBy(p => (p._1, p._2))
    val sparkParts = listing
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val parts =
      refParts.map(_._3) ++ epochParts.map(_._3) ++ sparkParts
    require(parts.nonEmpty, s"no part files under $dir")
    if (refParts.nonEmpty) {
      val n = refParts.head._2
      val missing = (0 until n).toSet -- refParts.map(_._1).toSet
      require(missing.isEmpty, s"missing parts $missing under $dir") // :807-811
    }

    val out = fs.create(new Path(target), true)
    val buf = new Array[Byte](CopyBuf)
    var total = 0L
    def emit(bytes: Array[Byte], n: Int): Unit = { out.write(bytes, 0, n); total += n }
    val nonEmpty = parts.filter(_.getLen > 0)
    try nonEmpty.zipWithIndex.foreach { case (f, i) =>
      val lacks = s"${f.getPath} lacks the parts' head or tail"
      require(f.getLen >= head.length + tail.length, lacks)
      val in = fs.open(f.getPath)
      def expect(bytes: Array[Byte]): Unit = {
        val got = new Array[Byte](bytes.length)
        in.readFully(got)
        require(java.util.Arrays.equals(got, bytes), lacks)
      }
      try {
        expect(head)
        if (i == 0) emit(head, head.length)
        var left = f.getLen - head.length - tail.length
        while (left > 0) {
          val read = in.read(buf, 0, math.min(left, buf.length.toLong).toInt)
          if (read < 0) throw new java.io.EOFException(s"${f.getPath} ended early")
          emit(buf, read)
          left -= read
        }
        expect(tail)
        if (i == nonEmpty.size - 1) emit(tail, tail.length)
      } finally in.close()
    } finally out.close()

    if (cleanMerge) fs.delete(d, true) // :798-806,818-828
    total
  }
}

/** One task's part file `name` under `dir`, written to a per-attempt temp
  * file and renamed into place on [[commit]], so a failed or duplicate
  * attempt (retry, speculation) never leaves a partial or interleaved final
  * part, and a half-written output is never mistakable for a complete one.
  * `replication` 0 is the filesystem default (the reference's webhdfs twin
  * hardcodes 1, webhdfsconnector.cpp:675-677).
  */
final class PartFile(dir: String, name: String, attempt: Long,
    conf: Configuration, replication: Short = 0) {
  private val finalFile = new Path(dir, name)
  private val tmpFile = new Path(dir, s".$name.$attempt.tmp")
  private val fs = finalFile.getFileSystem(conf)

  val out: OutputStream = new BufferedOutputStream(
    if (replication > 0)
      fs.create(tmpFile, true, 1 << 16, replication,
        fs.getDefaultBlockSize(tmpFile))
    else fs.create(tmpFile, true), 1 << 16)

  /** Closes the stream and renames the temp file to `name`, replacing a
    * lost earlier attempt's file; returns `name`.
    */
  def commit(): String = {
    out.close()
    if (fs.exists(finalFile)) fs.delete(finalFile, false)
    if (!fs.rename(tmpFile, finalFile))
      throw new IOException(s"rename $tmpFile -> $finalFile failed")
    name
  }

  /** Closes the stream and deletes the temp file as separate steps, so a
    * failed close still deletes; the first failure is thrown with any
    * later one suppressed into it.
    */
  def abort(): Unit = {
    val failures = Seq(() => out.close(), () => fs.delete(tmpFile, false))
      .flatMap(step => try { step(); None } catch { case NonFatal(e) => Some(e) })
    failures.headOption.foreach { e => failures.tail.foreach(e.addSuppressed); throw e }
  }
}
