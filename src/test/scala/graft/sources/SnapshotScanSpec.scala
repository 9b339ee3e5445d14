package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetIO
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every snapshot read plans the one vintage-aware scan
  * ([[SnapshotSource.relationFor]]): the Snapshots API reads return the
  * evolved schema the format read returns, resolving a version's schema
  * starts no Spark job, and a stream micro-batch stays one relation. */
class SnapshotScanSpec extends SparkSpec {
  import spark.implicits._

  private def readFmt(dir: String): DataFrame =
    spark.read.format("graft-snapshots").load(dir)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).toSeq.sorted

  /** v1 `<id, v>` rows 1,a 2,b; v2 renames id -> key and appends 3,c. */
  private def renamedTable(): String = {
    val dir = tmpDir("scan-rename")
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .coalesce(1), append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("key", "v").coalesce(1),
      append = true, renames = Map("id" -> "key"), statsCols = Seq("key"))
    dir
  }

  test("Snapshots.read after a rename returns the evolved schema and rows") {
    val dir = renamedTable()
    val got = Snapshots.read(spark, dir, 2)
    assert(got.columns.toSeq == Seq("key", "v"))
    assert(rows(got) == Seq("1,a", "2,b", "3,c"))
    assert(rows(got) == rows(readFmt(dir)))
  }

  test("readPruned resolves a renamed key column in older vintages") {
    val dir = renamedTable()
    val (df, (kept, total)) = Snapshots.readPruned(spark, dir, 2, "key", 1L, 3L)
    assert(rows(df) == Seq("1,a", "2,b", "3,c"))
    assert(kept == 2 && total == 2, s"pruned $kept/$total")
    val (one, (kept1, _)) = Snapshots.readPruned(spark, dir, 2, "key", 3L, 9L)
    assert(rows(one) == Seq("3,c") && kept1 == 1)
  }

  test("Snapshots.read widens an int column a later vintage appends as bigint") {
    val dir = tmpDir("scan-widen")
    Snapshots.commit(spark, dir, Seq((1, "a")).toDF("id", "v")
      .select(col("id").cast("int").as("id"), col("v")), append = false)
    Snapshots.commit(spark, dir, Seq((5000000000L, "b")).toDF("id", "v"),
      append = true)
    val got = Snapshots.read(spark, dir, 2)
    assert(got.schema("id").dataType == LongType)
    assert(rows(got) == Seq("1,a", "5000000000,b"))
  }

  test("a long vintage under a double column reads through a deletion vector") {
    val dir = tmpDir("scan-cast")
    Snapshots.commit(spark, dir, Seq((1L, 7L, Seq(7L)), (2L, 8L, Seq(8L)))
      .toDF("id", "x", "xs"), append = false)
    Snapshots.commit(spark, dir, Seq((3L, 0.5, Seq(0.5))).toDF("id", "x", "xs"),
      append = true)
    // the reader cannot widen long to double in place, in a column or an
    // array element: cast after decoding
    val want = Seq("1,7.0,List(7.0)", "2,8.0,List(8.0)", "3,0.5,List(0.5)")
    def got(v: Int) = rows(Snapshots.read(spark, dir, v)
      .select(col("id"), col("x"), col("xs")))
      .map(_.replace("ArraySeq(", "List("))
    assert(got(2) == want)
    Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    assert(got(3) == want.tail)
    assert(rows(Snapshots.read(spark, dir, 3).filter(col("x") > 1.0)
      .select("id")) == Seq("2"))
  }

  test("struct subfields the reader cannot widen read through read, " +
      "compact and optimize") {
    val dir = tmpDir("scan-subfield")
    val v1 = StructType(Seq(StructField("id", LongType),
      StructField("meta", StructType(Seq(StructField("w", LongType),
        StructField("h", IntegerType)))),
      StructField("ms", ArrayType(StructType(Seq(
        StructField("w", LongType))))),
      StructField("mv", MapType(StringType, StructType(Seq(
        StructField("w", ShortType)))))))
    val v2 = StructType(Seq(StructField("id", LongType),
      StructField("meta", StructType(Seq(StructField("w", DoubleType),
        StructField("height", IntegerType)))),
      StructField("ms", ArrayType(StructType(Seq(
        StructField("w", DoubleType))))),
      StructField("mv", MapType(StringType, StructType(Seq(
        StructField("w", IntegerType)))))))
    def frame(schema: StructType, rs: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
        .coalesce(1)
    import org.apache.spark.sql.Row
    Snapshots.commit(spark, dir, frame(v1, Seq(
      Row(1L, Row(7L, 70), Seq(Row(7L)), Map("a" -> Row(7.toShort))),
      Row(2L, Row(8L, 80), Seq(Row(8L), null), Map("b" -> Row(8.toShort))),
      Row(3L, null, null, null))), append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, frame(v2, Seq(
      Row(4L, Row(0.5, 40), Seq(Row(0.5)), Map("c" -> Row(40000))))),
      append = true, renames = Map("meta.h" -> "meta.height"),
      statsCols = Seq("id"))
    // by value: the oracle's subfield rebuild moves a renamed subfield
    // last, the scan keeps its place
    def vals(df: DataFrame): Seq[String] = rows(df.select(col("id"),
      col("meta.w"), col("meta.height"), col("ms.w"),
      map_values(col("mv")).getField("w")))
    val want = Seq("1,7.0,70,ArraySeq(7.0),ArraySeq(7)",
      "2,8.0,80,ArraySeq(8.0, null),ArraySeq(8)",
      "3,null,null,null,null", "4,0.5,40,ArraySeq(0.5),ArraySeq(40000)")
    assert(vals(EvolvedUnionOracle.read(spark, dir, 2)) == want)
    assert(vals(Snapshots.read(spark, dir, 2)) == want)
    assert(vals(readFmt(dir)) == want)
    assert(Snapshots.read(spark, dir, 2).schema("meta").dataType ==
      StructType(Seq(StructField("w", DoubleType),
        StructField("height", IntegerType))))
    // a pushed filter on the cast subfield sees canonical values
    assert(rows(Snapshots.read(spark, dir, 2).filter(col("meta.w") > 7.5)
      .select("id")) == Seq("2"))
    Snapshots.deleteWhere(spark, dir, col("id") === 2L)
    assert(vals(Snapshots.read(spark, dir, 3)) ==
      vals(EvolvedUnionOracle.read(spark, dir, 3)))
    val vc = Snapshots.compact(spark, dir, smallBytes = 1L << 30,
      targetBytes = 1L << 30, minFiles = 2)
    assert(vc == 4)
    assert(vals(Snapshots.read(spark, dir, vc)) == want.patch(1, Nil, 1))
    assert(vals(EvolvedUnionOracle.read(spark, dir, vc)) ==
      want.patch(1, Nil, 1))
    val vo = Snapshots.optimize(spark, dir, Seq("id"), numFiles = 2)
    assert(vals(Snapshots.read(spark, dir, vo)) == want.patch(1, Nil, 1))
    assert(vals(EvolvedUnionOracle.read(spark, dir, vo)) ==
      want.patch(1, Nil, 1))
  }

  test("a plain stream refuses a column dropped after it started") {
    val dir = tmpDir("scan-stream-drop")
    Snapshots.commit(spark, dir, Seq((1L, "a", 1.5)).toDF("id", "v", "x")
      .coalesce(1), append = false)
    val q = spark.readStream.format("graft-snapshots").load(dir)
      .writeStream.format("memory").queryName("scan_stream_drop").start()
    try {
      q.processAllAvailable()
      // a rename is followed: the stream keeps its own name for the column
      Snapshots.commit(spark, dir, Seq((2L, "b", 2.5)).toDF("id", "w", "x")
        .coalesce(1), append = true, renames = Map("v" -> "w"))
      q.processAllAvailable()
      assert(rows(spark.table("scan_stream_drop")) == Seq("1,a,1.5", "2,b,2.5"))
      Snapshots.commit(spark, dir, Seq((3L, "c")).toDF("id", "w")
        .coalesce(1), append = true, renames = Map("x" -> Snapshots.DropMarker))
      val e = intercept[Exception](q.processAllAvailable())
      val msg = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" / ")
      assert(msg.contains("evolved away") && msg.contains("dropped column x"),
        msg)
    } finally q.stop()
  }

  test("a 3-vintage load and Snapshots.read start no construct job") {
    val dir = tmpDir("scan-jobs")
    Snapshots.commit(spark, dir, Seq((1, "a")).toDF("id", "v")
      .select(col("id").cast("int").as("id"), col("v")), append = false)
    Snapshots.commit(spark, dir, Seq((2L, "b")).toDF("id", "w"),
      append = true, renames = Map("v" -> "w"))
    Snapshots.commit(spark, dir, Seq((3L, "c", 1.5)).toDF("id", "w", "x"),
      append = true)
    // repeated: the second call's count is the steady state, not a warm-up
    for (_ <- 1 to 2) {
      assert(Jobs.during(spark)(readFmt(dir))._2 == 0)
      assert(Jobs.during(spark)(Snapshots.read(spark, dir, 3))._2 == 0)
    }
    assert(rows(Snapshots.read(spark, dir, 3)) ==
      Seq("1,a,null", "2,b,null", "3,c,1.5"))
  }

  test("footer schemas equal inferred schemas") {
    val dir = tmpDir("scan-footer")
    val df = spark.range(3).select(
      col("id").cast("int").as("i"),
      col("id").cast("string").as("s"),
      array(col("id"), col("id") + 1).as("arr"),
      map(col("id").cast("string"),
        struct(col("id").as("a"), lit("x").as("b"))).as("ms"),
      struct(col("id").as("p"), struct(lit(1.5).as("q")).as("inner")).as("st"),
      timestamp_seconds(col("id")).as("ts"),
      col("id").cast("decimal(12,3)").as("dec"))
    val out = new Path(dir, "t")
    df.coalesce(1).write.parquet(out.toString)
    val file = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(out).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    assert(GraftParquetIO.footerSchema(spark, file,
        spark.sparkContext.hadoopConfiguration) ==
      spark.read.parquet(file.toString).schema)
  }

  test("a stream micro-batch is one streaming relation over the scan") {
    val dir = renamedTable()
    val src = new SnapshotStreamSource(spark, dir,
      SnapshotSource.schemaAt(spark, dir, 2), ignoreChanges = false,
      schemaVersion = 2)
    val batch = src.getBatch(None, LongOffset(2L))
    batch.queryExecution.analyzed match {
      case lr: LogicalRelation =>
        assert(lr.isStreaming)
        assert(lr.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation])
      case other => fail(s"expected one LogicalRelation, got:\n$other")
    }
    assert(batch.schema.fieldNames.toSeq == Seq("key", "v"))
  }
}
