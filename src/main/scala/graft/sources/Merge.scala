package graft.sources

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
    */
  def mergeParts(spark: SparkSession, dir: String, target: String,
      cleanMerge: Boolean = false): Long = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sessionState.newHadoopConf())
    val PartName = "part_(\\d+)_(\\d+)".r
    val EpochPart = "part_(\\d+)_(\\d+)_(\\d+)".r
    val listing = fs.listStatus(d).toSeq.filter(_.isFile)
    val refParts = listing.flatMap { f =>
      f.getPath.getName match {
        case PartName(i, n) => Some((i.toInt, n.toInt, f.getPath))
        case _ => None
      }
    }.sortBy(_._1)
    val epochParts = listing.flatMap { f =>
      f.getPath.getName match {
        case EpochPart(e, i, _) => Some((e.toLong, i.toInt, f.getPath))
        case _ => None
      }
    }.sortBy(p => (p._1, p._2))
    val sparkParts = listing
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName).map(_.getPath)
    val parts: Seq[Path] =
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
    try parts.foreach { p =>
      val in = fs.open(p)
      try {
        var read = in.read(buf)
        while (read >= 0) {
          if (read > 0) { out.write(buf, 0, read); total += read }
          read = in.read(buf)
        }
      } finally in.close()
    } finally out.close()

    if (cleanMerge) fs.delete(d, true) // :798-806,818-828
    total
  }
}
