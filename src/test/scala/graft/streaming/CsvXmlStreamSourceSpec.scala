package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.sources.HpccCsv

/** Streaming reads FROM the CSV and XML formats — landing-directory parity
  * with the FLAT streaming source (reference is batch-only). CSV rides the
  * built-in file-stream machinery (both terminator branches); XML tails via
  * `ByteRanges.Stream` with the same file-set offset model as FLAT, so a
  * stream keeps the batch read's options.
  */
class CsvXmlStreamSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("txt", StringType)))

  test("CSV tail: reference quote/multi-char terminator, exactly once") {
    import spark.implicits._
    val dir = tmpDir("csv-src-stream")
    val ckpt = tmpDir("csv-src-ckpt")
    def drop(ids: Range): Unit =
      HpccCsv.write(ids.map(i => (i.toLong, s"t$i")).toDF("id", "txt"),
        s"$dir/w${ids.start}", terminator = "|\n")
    // file-stream sources tail a glob, not a growing dir of same-named
    // parts: each drop lands in its own subdir
    drop(0 until 40)
    val sdf = HpccCsv.readStream(spark, s"$dir/*", schema, terminator = "|\n")
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("csv_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csv_tail").count() == 40)
      drop(40 until 70)
      q.processAllAvailable()
      val all = spark.table("csv_tail")
      assert(all.count() == 70, "no loss, no duplication across batches")
      assert(all.select(col("id")).distinct().count() == 70)
      assert(all.agg(sum(col("id"))).collect().head.getLong(0) ==
        (0L until 70L).sum)
    } finally q.stop()
  }

  test("CSV tail: single-char terminator branch streams too") {
    import spark.implicits._
    val dir = tmpDir("csv-src-stream1")
    val ckpt = tmpDir("csv-src-ckpt1")
    HpccCsv.write(
      (0 until 25).map(i => (i.toLong, s"t$i")).toDF("id", "txt"), s"$dir/w0")
    val sdf = HpccCsv.readStream(spark, s"$dir/*", schema)
    val q = sdf.writeStream.format("memory").queryName("csv_tail1")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("csv_tail1").count() == 25)
    } finally q.stop()
  }

  test("XML tail: each dropped file delivered exactly once, rows realigned") {
    val dir = tmpDir("xml-src-stream")
    val ckpt = tmpDir("xml-src-ckpt")
    def drop(name: String, ids: Range): Unit = {
      val body = ids.map(i => s"  <Row><id>$i</id><txt>t$i</txt></Row>")
        .mkString("<Dataset>\n", "\n", "\n</Dataset>")
      val tmp = new java.io.File(dir, s".$name.tmp")
      java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
      // write-then-rename: the file appears atomically, immutable
      assert(tmp.renameTo(new java.io.File(dir, name)))
    }
    drop("a.xml", 0 until 30)
    val sdf = spark.readStream.format("hpcc-xml").schema(schema)
      .option("rowTag", "Row").load(dir)
    assert(sdf.isStreaming)
    val q = sdf.writeStream.format("memory").queryName("xml_tail")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("xml_tail").count() == 30)
      drop("b.xml", 30 until 55)
      drop("c.xml", 55 until 60)
      q.processAllAvailable()
      val all = spark.table("xml_tail")
      assert(all.count() == 60, "no loss, no duplication across batches")
      assert(all.select(col("id")).distinct().count() == 60)
      assert(all.agg(sum(col("id"))).collect().head.getLong(0) ==
        (0L until 60L).sum)
    } finally q.stop()
  }

  test("XML tail: multi-range split within one dropped file stays exact") {
    val dir = tmpDir("xml-src-split")
    val ckpt = tmpDir("xml-src-split-ckpt")
    val body = (0 until 200)
      .map(i => s"<Row><id>$i</id><txt>token$i</txt></Row>")
      .mkString("<Dataset>", "", "</Dataset>")
    java.nio.file.Files.write(
      new java.io.File(dir, "big.xml").toPath, body.getBytes("UTF-8"))
    // force many byte ranges per file: tag realignment must not lose or
    // duplicate rows at range boundaries (the batch-scan invariant, now
    // exercised through the streaming planner)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
    try {
      val sdf = spark.readStream.format("hpcc-xml").schema(schema)
        .option("rowTag", "Row").load(dir)
      val q = sdf.writeStream.format("memory").queryName("xml_tail_split")
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable()
        val all = spark.table("xml_tail_split")
        assert(all.count() == 200)
        assert(all.select(col("id")).distinct().count() == 200)
      } finally q.stop()
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  /** Every row `name` streams out of `dir` with `options`, drained once. */
  private def streamed(dir: String, name: String,
      options: Map[String, String]): Seq[org.apache.spark.sql.Row] = {
    val q = spark.readStream.format("hpcc-xml").schema(schema)
      .options(options).load(dir)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir(s"$name-ckpt")).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect().toSeq
  }

  test("XML tail: PERMISSIVE emits a malformed row instead of failing") {
    val dir = tmpDir("xml-src-permissive")
    java.nio.file.Files.write(new java.io.File(dir, "d.xml").toPath,
      ("<Dataset><Row><id>1</id><txt>a</txt></Row>" +
        "<Row><id>abc</id><txt>b</txt></Row>" +
        "<Row><id>3</id><txt>c</txt></Row></Dataset>").getBytes("UTF-8"))
    val got = streamed(dir, "xml_tail_permissive", Map("rowTag" -> "Row",
      "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "bad"))
    assert(got.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted == Seq(1L, 3L))
    assert(got.filter(_.isNullAt(0)).map(_.getString(2)) ==
      Seq("<Row><id>abc</id><txt>b</txt></Row>"))
  }

  test("XML tail: nestedRowTag streams the batch read's rows") {
    val dir = tmpDir("xml-src-nested")
    java.nio.file.Files.write(new java.io.File(dir, "d.xml").toPath,
      (1 to 20).map(i => s"<Row><id>$i</id><txt>outer$i</txt>" +
        s"<Row><id>${100 + i}</id><txt>inner</txt></Row></Row>")
        .mkString("<Dataset>", "\n", "</Dataset>").getBytes("UTF-8"))
    val options = Map("rowTag" -> "Row", "nestedRowTag" -> "true")
    withConf("spark.sql.files.maxPartitionBytes" -> "64",
        "spark.sql.files.openCostInBytes" -> "1") {
      val batch = spark.read.format("hpcc-xml").schema(schema).options(options)
        .load(dir).collect().toSeq.sortBy(_.getLong(0))
      assert(batch.map(_.getLong(0)) == (1L to 20L))
      assert(streamed(dir, "xml_tail_nested", options).sortBy(_.getLong(0)) == batch)
    }
  }
}
