package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-on-read deletes as per-data-file vectors ([[DeletionVectors]]):
  * a read of a version with vectors is built without a job (each task
  * opens its own file's vector), a delete writes vectors only for the
  * files it hits, a legacy whole-table `dv/vN/` layout is refused with
  * the migration named, and a branch merge re-locates deletes through
  * the one snapshot scan across schema vintages older than its base. */
class DeletionVectorsSpec extends SparkSpec {
  import spark.implicits._

  private def ids(df: DataFrame, c: String = "id"): Seq[Long] =
    df.select(col(c)).collect().map(_.getLong(0)).toSeq.sorted

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("building a read of a version with vectors starts no job") {
    val dir = tmpDir("dv-jobs")
    Snapshots.commit(spark, dir, (1 to 20).map(i => (i.toLong, s"r$i"))
      .toDF("id", "payload").repartition(2), append = false,
      statsCols = Seq("id"))
    Snapshots.deleteWhere(spark, dir, col("id") % 5 === 0)
    assert(Snapshots.hasDv(spark, dir, 2))
    val cat = "dvjobs"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmpDir("dv-wh"))
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, payload STRING)")
    spark.sql(s"INSERT INTO $cat.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql(s"DELETE FROM $cat.db.t WHERE id = 2")
    // repeated: the second round is the steady state, not a warm-up
    for (_ <- 1 to 2) {
      assert(Jobs.during(spark)(Snapshots.read(spark, dir, 2))._2 == 0)
      assert(Jobs.during(spark)(
        Snapshots.readPruned(spark, dir, 2, "id", 3L, 12L))._2 == 0)
      assert(Jobs.during(spark)(
        spark.read.format("graft-snapshots").load(dir))._2 == 0)
      assert(Jobs.during(spark)(
        spark.sql(s"SELECT * FROM $cat.db.t"))._2 == 0)
    }
    assert(ids(Snapshots.read(spark, dir, 2)) ==
      (1L to 20L).filterNot(_ % 5 == 0))
    assert(ids(Snapshots.readPruned(spark, dir, 2, "id", 3L, 12L)._1) ==
      Seq(3L, 4L, 6L, 7L, 8L, 9L, 11L, 12L))
    assert(ids(spark.sql(s"SELECT * FROM $cat.db.t")) == Seq(1L, 3L))
  }

  test("commit k writes vectors only for the data files its own hits " +
      "touch") {
    val dir = tmpDir("dv-disjoint")
    for (b <- 0 until 3)
      Snapshots.commit(spark, dir, (b * 10 + 1 to b * 10 + 10)
        .map(i => (i.toLong, s"r$i")).toDF("id", "payload").coalesce(1),
        append = b > 0, statsCols = Seq("id"))
    val fileOf = Snapshots.files(spark, dir, 3)
      .map(p => (p, ids(Snapshots.read(spark, dir, 3)
        .filter(col("_metadata.file_name") === new Path(p).getName))))
    val f = fsOf(dir)
    // three deletes, each hitting a different file
    for (((file, rows), k) <- fileOf.zipWithIndex) {
      val before = Snapshots.entries(spark, dir, 3 + k)
      val (v, n) = Snapshots.deleteWhere(spark, dir, col("id") === rows(4))
      assert(v == 4 + k && n == 1L)
      val written = f.listStatus(new Path(dir, "dv")).map(_.getPath.getName)
        .filter(_.endsWith(s".v$v.bin")).toSeq
      assert(written == Seq(new Path(DeletionVectors.pathFor(file, v))
        .getName), s"commit $v wrote vectors $written")
      val after = Snapshots.entries(spark, dir, v)
      // every other line, earlier vectors included, carries unchanged
      assert(after.filterNot(_.path == file) ==
        before.filterNot(_.path == file))
      assert(after.find(_.path == file).get.deleted == 1L)
    }
    assert(ids(Snapshots.read(spark, dir, 6)) ==
      (1L to 30L).filterNot(Set(5L, 15L, 25L)))
    assert(Snapshots.metadataRowCount(spark, dir, 6) == 27L)
    // a second delete into an already-vectored file extends its vector
    val (v7, n7) = Snapshots.deleteWhere(spark, dir,
      col("id") === 5L || col("id") === 6L)
    assert(n7 == 1L, "an already-deleted row must not count again")
    val head = Snapshots.entries(spark, dir, v7)
    assert(head.map(_.deleted).sorted == Seq(1L, 1L, 2L))
    // vacuum drops the vectors only dropped versions name
    Snapshots.vacuum(spark, dir, keep = 1)
    assert(f.listStatus(new Path(dir, "dv")).map(_.getPath.getName).toSet ==
      head.flatMap(_.dv).map(d => new Path(d).getName).toSet)
    assert(ids(Snapshots.read(spark, dir, v7)) ==
      (1L to 30L).filterNot(Set(5L, 6L, 15L, 25L)))
  }

  test("a legacy whole-table dv/vN vector is refused with its migration") {
    val dir = tmpDir("dv-legacy")
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      .coalesce(1), append = false)
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("id", "p").coalesce(1),
      append = true)
    // the layout earlier builds wrote: every deleted position of the
    // table, as (file_path, row_index) parquet under dv/v2
    val file = new Path(dir, Snapshots.files(spark, dir, 2).head).toString
    Seq((file, 0L)).toDF("file_path", "row_index").write
      .parquet(new Path(dir, "dv/v2").toString)
    def refused(op: => Any): Unit = {
      val e = intercept[UnsupportedOperationException](op)
      assert(e.getMessage.contains("legacy") &&
        e.getMessage.contains("run optimize on the table with the " +
          "previous build"), e.getMessage)
    }
    refused(Snapshots.read(spark, dir, 2))
    refused(spark.read.format("graft-snapshots").load(dir))
    refused(Snapshots.deleteWhere(spark, dir, col("id") === 3L))
    refused(Snapshots.metadataRowCount(spark, dir, 2))
    // the version before the vector still reads
    assert(ids(Snapshots.read(spark, dir, 1)) == Seq(1L, 2L))
  }

  /** v1 (`v1`, rows 1..10, one file), then v2 appends 11..12 as `v2`
    * under `renames` (a rename, or a wider key type); branch `b` from v2
    * deletes an old-vintage row, main optimizes, then the branch merges
    * by key. */
  private def mergeAfterEvolution(name: String, v1: DataFrame,
      v2: DataFrame, key: String, renames: Map[String, String]): Unit = {
    val dir = tmpDir(name)
    Snapshots.commit(spark, dir, v1.coalesce(1), append = false)
    Snapshots.commit(spark, dir, v2.coalesce(1), append = true,
      renames = renames)
    Snapshots.createRef(spark, dir, "b")
    Snapshots.deleteWhere(spark, dir, col(key) === 3, branch = Some("b"))
    Snapshots.optimize(spark, dir, Seq(key))
    val merged = Snapshots.mergeBranch(spark, dir, "b", Seq(key))
    assert(Snapshots.mainVersion(spark, dir) == merged)
    val got = Snapshots.read(spark, dir, merged)
    assert(ids(got.select(col(key).cast("long").as(key)), key) ==
      (1L to 12L).filterNot(_ == 3L))
    assert(got.filter(col(key) === 7).select("payload").head().getString(0)
      == "r7")
  }

  test("mergeBranch re-locates a delete after a rename made before the " +
      "base") {
    mergeAfterEvolution("dv-merge-rename",
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "payload"),
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("key", "payload"),
      "key", Map("id" -> "key"))
  }

  test("mergeBranch re-locates a delete after an INT to BIGINT append " +
      "made before the base") {
    mergeAfterEvolution("dv-merge-widen",
      (1 to 10).map(i => (i, s"r$i")).toDF("id", "payload"),
      (11 to 12).map(i => (i.toLong, s"r$i")).toDF("id", "payload"),
      "id", Map.empty)
  }
}
