package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Merge-on-read deletes as PER-DATA-FILE position sets — the layout of
  * Delta Lake's deletion vectors and Iceberg's position-delete files.
  * A vector is the set of dead `_metadata.row_index` ordinals of ONE data
  * file, stored as a portable 64-bit roaring bitmap at
  * `dv/<data file name>.v<N>.bin` by the commit N that last changed it.
  * The manifest line of the data file names its current vector and the
  * vector's cardinality ([[Snapshots.Entry]]), so
  *  - a read opens only the vector of the file its task reads
  *    ([[SnapshotParquetFormat]]) — the driver never holds positions;
  *  - a commit writes vectors only for the files its own hits touch
  *    ([[extend]]); every other line, vector included, carries forward;
  *  - the count of live rows is footers minus cardinalities, metadata
  *    only ([[Snapshots.metadataRowCount]]).
  * Vectors are immutable once their version publishes: a later delete
  * into the same file writes a new vector under its own version, so time
  * travel reads each version's own set. */
private[sources] object DeletionVectors {

  /** Where commit `v` stores the vector of data file `dataRel`. */
  def pathFor(dataRel: String, v: Int): String =
    s"dv/${new Path(dataRel).getName}.v$v.bin"

  private def slices(s: SparkSession, n: Int): Int =
    math.max(1, math.min(n, s.sparkContext.defaultParallelism))

  def read(fs: FileSystem, p: Path): Roaring64NavigableMap = {
    val in = fs.open(p)
    try {
      val bm = new Roaring64NavigableMap()
      bm.deserializePortable(in)
      bm
    } finally in.close()
  }

  def write(fs: FileSystem, p: Path, bm: Roaring64NavigableMap): Unit = {
    bm.runOptimize()
    val out = fs.create(p, true)
    try bm.serializePortable(out) finally out.close()
  }

  /** THE vector writer: commit `v`'s manifest entries after deleting the
    * `hits` positions (`file_path`, `row_index` — `_metadata` coordinates
    * of files in `prev`) from version `prev`, and the number of positions
    * that were live before. Hits are grouped by data file in tasks; each
    * touched file's new vector is its old one OR its hits, written by the
    * task under [[pathFor]]`(file, v)`. Only one small record per touched
    * file reaches the driver. Untouched files keep their lines. */
  def extend(s: SparkSession, dir: String, v: Int,
      prev: Seq[Snapshots.Entry], hits: DataFrame)
      : (Seq[Snapshots.Entry], Long) = {
    val byName = prev.map(e => new Path(e.path).getName -> e).toMap
    // O(files with a vector) names, never positions
    val old: Map[String, String] =
      byName.flatMap { case (n, e) => e.dv.map(n -> _) }
    val conf = new SerializableHadoopConf(s.sparkContext.hadoopConfiguration)
    val tableDir = dir
    val written = hits.select("file_path", "row_index").rdd
      .map(r => (new Path(r.getString(0)).getName, r.getLong(1)))
      .partitionBy(new org.apache.spark.HashPartitioner(
        slices(s, prev.size)))
      .mapPartitions { it =>
        val sets = scala.collection.mutable.HashMap
          .empty[String, Roaring64NavigableMap]
        it.foreach { case (n, i) =>
          sets.getOrElseUpdate(n, new Roaring64NavigableMap()).addLong(i) }
        val fs = new Path(tableDir).getFileSystem(conf.value)
        sets.iterator.map { case (n, hit) =>
          val merged = old.get(n).fold(new Roaring64NavigableMap())(o =>
            read(fs, new Path(tableDir, o)))
          val before = merged.getLongCardinality
          merged.or(hit)
          val rel = pathFor(n, v)
          write(fs, new Path(tableDir, rel), merged)
          (n, rel, merged.getLongCardinality,
            merged.getLongCardinality - before)
        }
      }.collect()
    val stray = written.map(_._1).filterNot(byName.contains)
    require(stray.isEmpty, s"deletion vector: positions in files outside " +
      s"the base version: ${stray.take(3).mkString(", ")}")
    val next = written.map(w => w._1 -> w).toMap
    (prev.map(e => next.get(new Path(e.path).getName)
        .fold(e)(w => e.copy(dv = Some(w._2), deleted = w._3))),
      written.map(_._4).sum)
  }

  /** The `(file_path, row_index)` positions the vectors of `es` hold,
    * decoded in tasks. */
  def positions(s: SparkSession, dir: String,
      es: Seq[Snapshots.Entry]): DataFrame = {
    val vecs = es.flatMap(e => e.dv.map(d =>
      (new Path(dir, e.path).toString, d)))
    val conf = new SerializableHadoopConf(s.sparkContext.hadoopConfiguration)
    val tableDir = dir
    val rows = s.sparkContext.parallelize(vecs, slices(s, vecs.size))
      .flatMap { case (file, d) =>
        val fs = new Path(tableDir).getFileSystem(conf.value)
        val it = read(fs, new Path(tableDir, d)).getLongIterator
        Iterator.continually(it).takeWhile(_.hasNext)
          .map(i => Row(file, i.next()))
      }
    s.createDataFrame(rows, Snapshots.positionsSchema)
  }

  /** Up to three `(data file, row_index)` positions that BOTH sides of
    * each `(file, base, a, b)` deleted since `base` (vectors are
    * manifest-relative; `base` None = the file had no vector), decoded
    * in tasks; nothing runs when `sides` is empty. */
  def overlap(s: SparkSession, dir: String,
      sides: Seq[(String, Option[String], String, String)])
      : Seq[(String, Long)] =
    if (sides.isEmpty) Seq.empty
    else {
      val conf =
        new SerializableHadoopConf(s.sparkContext.hadoopConfiguration)
      val tableDir = dir
      s.sparkContext.parallelize(sides, slices(s, sides.size)).flatMap {
        case (file, base, a, b) =>
          val fs = new Path(tableDir).getFileSystem(conf.value)
          def at(d: String) = read(fs, new Path(tableDir, d))
          val both = at(a)
          both.and(at(b))
          base.foreach(d => both.andNot(at(d)))
          val it = both.getLongIterator
          Iterator.continually(it).takeWhile(_.hasNext).take(3)
            .map(i => (file, i.next())).toSeq
      }.take(3).toSeq
    }
}
