package graft.sources

import org.apache.spark.sql.types._
import graft.SparkSpec

class HpccCsvSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("txt", StringType),
    StructField("v", DoubleType)))

  private def sample = {
    import spark.implicits._
    Seq(
      (1L, "plain", 0.5),
      (2L, "has,comma", 1.5),
      (3L, "has'quote", 2.5),
      (4L, "both,'here", 3.5),
      (5L, "trailing|pipe", 4.5)
    ).toDF("id", "txt", "v")
  }

  test("round trip with reference defaults (quote = single quote)") {
    val dir = tmpDir("csv-def")
    HpccCsv.write(sample, dir)
    val got = HpccCsv.read(spark, dir, schema).orderBy("id")
    assert(got.collect().toSeq == sample.orderBy("id").collect().toSeq)
  }

  test("round trip with a multi-char terminator") {
    val dir = tmpDir("csv-mc")
    HpccCsv.write(sample, dir, terminator = "|\n")
    val got = HpccCsv.read(spark, dir, schema, terminator = "|\n").orderBy("id")
    assert(got.collect().toSeq == sample.orderBy("id").collect().toSeq)
  }

  test("multi-char terminator write rejects a field containing the terminator") {
    import spark.implicits._
    val dir = tmpDir("csv-reject")
    val bad = Seq((1L, "contains|\nterminator", 0.0)).toDF("id", "txt", "v")
    val ex = intercept[Exception] {
      HpccCsv.write(bad, dir, terminator = "|\n")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).flatMap(c => Option(c.getMessage)).mkString
        .contains("terminator"))
  }

  test("escape expansion matches the reference (hdfsconnector.hpp:74-129)") {
    assert(HpccCsv.expandEscapes("\\r\\n") == "\r\n")
    assert(HpccCsv.expandEscapes("\\t") == "\t")
    assert(HpccCsv.expandEscapes("\\'") == "'")
    assert(HpccCsv.expandEscapes("\\\"") == "\"")
    assert(HpccCsv.expandEscapes("\\\\") == "\\")
    assert(HpccCsv.expandEscapes("\\0") == "\u0000")
    assert(HpccCsv.expandEscapes("\\a\\b\\v\\f\\e") == "\u0007\b\u000B\f\u001B")
    // unknown escapes are DROPPED (reference default: break) incl. backslash
    assert(HpccCsv.expandEscapes("a\\zb") == "ab")
    assert(HpccCsv.expandEscapes("x\\") == "x")
    assert(HpccCsv.expandEscapes("plain") == "plain")
  }

  test("escaped option strings round-trip (ECL TERMINATOR('\\r\\n') style)") {
    val dir = tmpDir("csv-esc")
    HpccCsv.write(sample, dir, separator = "\\t", terminator = "\\r\\n")
    val got = HpccCsv.read(spark, dir, schema,
      separator = "\\t", terminator = "\\r\\n").orderBy("id")
    assert(got.collect().toSeq == sample.orderBy("id").collect().toSeq)
  }

  test("outputTerminator=false emits a continuous terminator-free stream") {
    import spark.implicits._
    val dir = tmpDir("csv-noterm")
    // fixed-width serialized rows so the stream is fixed-length-consumable
    val df = (0 until 100).map(i => f"$i%04d").toDF("k")
    HpccCsv.write(df.repartition(3), dir, outputTerminator = false)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part_")).sortBy(_.getName)
    assert(parts.length == 3)
    val bytes = parts.flatMap(f => java.nio.file.Files.readAllBytes(f.toPath))
    assert(!bytes.contains('\n'.toByte) && !bytes.contains('\r'.toByte),
      "stream must contain no terminators")
    assert(bytes.length == 100 * 4, "records concatenate with nothing between")
    val back = new String(bytes, "UTF-8").grouped(4).toSeq.sorted
    assert(back == (0 until 100).map(i => f"$i%04d").sorted)
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")))
  }

  test("outputTerminator=false: a task failing partway leaves no temp file, surfaces its error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("csv-noterm-fail")
    val df = (0 until 100).toDF("i").repartition(1).select(
      when(col("i") === 57, raise_error(lit("boom at row 57")))
        .otherwise(format_string("%04d", col("i"))).as("k"))
    val e = intercept[Exception](HpccCsv.write(df, dir, outputTerminator = false))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("boom at row 57")), e)
    val left = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(!left.exists(_.contains(".tmp")), s"temp files left behind: $left")
  }

  // ---- quote-parity splittable read (SURVEY §7 hard-part #2) --------------

  /** 29-byte fixed-length records, terminator embedded in the quoted field:
    * `0001,'aaaaaaaaaa\nbbbbbbbbbb'\n`. Record layout (offsets mod 29):
    * 0-3 id, 4 ',', 5 open quote, 6-15 payload, 16 embedded '\n',
    * 17-26 payload, 27 close quote, 28 terminator.
    */
  private def qpFixture(dir: String, n: Int): Array[Byte] = {
    val sb = new StringBuilder
    for (i <- 0 until n)
      sb.append(f"$i%04d,'aaaaaaaaaa\nbbbbbbbbbb'\n")
    val bytes = sb.toString.getBytes("UTF-8")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.csv"), bytes)
    bytes
  }

  test("quote-parity read: quoted terminators survive every sound split size") {
    val dir = tmpDir("csv-qp")
    val bytes = qpFixture(dir, 500)
    // ground truth quote parity BEFORE each offset, computed from byte 0
    val inQuote = new Array[Boolean](bytes.length + 1)
    var q = false
    for (i <- bytes.indices) {
      inQuote(i) = q; if (bytes(i) == '\''.toByte) q = !q
    }
    val schema2 = StructType(Seq(
      StructField("id", StringType), StructField("payload", StringType)))
    val expect = (0 until 500).map(i =>
      (f"$i%04d", "aaaaaaaaaa\nbbbbbbbbbb"))
    // candidate split sizes; keep those whose boundaries all land outside
    // quoted regions (the caller-side soundness contract)
    val sound = (31L to 4001L by 97L) ++ Seq(29L * 7, 29L * 40, 28L, 291L)
    val usable = sound.filter { sb =>
      (sb until bytes.length by sb).forall(b => !inQuote(b.toInt))
    }
    assert(usable.exists(_ < bytes.length / 2),
      s"fixture must admit multi-split sound sizes, got $usable")
    for (sb <- usable) {
      val got = HpccCsv.readQuoteParity(spark, dir, schema2, splitBytes = sb)
        .orderBy("id").collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      assert(got == expect, s"splitBytes=$sb must be lossless")
    }
  }

  test("read(quoteParity = true) routes to the parity splitter") {
    val dir = tmpDir("csv-qp-opt")
    qpFixture(dir, 120)
    val schema2 = StructType(Seq(
      StructField("id", StringType), StructField("payload", StringType)))
    // the default path splits records on raw terminator bytes and would
    // shear every quoted payload in half; the option must survive it
    val got = HpccCsv.read(spark, dir, schema2, quoteParity = true)
      .orderBy("id").collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    assert(got == (0 until 120).map(i => (f"$i%04d", "aaaaaaaaaa\nbbbbbbbbbb")))
  }

  test("quote-parity read parses types and runs multiple partitions") {
    val dir = tmpDir("csv-qp2")
    qpFixture(dir, 200) // 5800 bytes
    val schema2 = StructType(Seq(
      StructField("id", IntegerType), StructField("payload", StringType)))
    val df = HpccCsv.readQuoteParity(spark, dir, schema2, splitBytes = 29L * 50)
    assert(df.rdd.getNumPartitions == 4)
    val got = df.orderBy("id").collect()
    assert(got.length == 200)
    assert(got(7).getInt(0) == 7 &&
      got(7).getString(1) == "aaaaaaaaaa\nbbbbbbbbbb")
  }

  /** The documented divergence (COVERAGE.md; libhdfsconnector.cpp:409,
    * 437-443): quote state at a range start is unknowable, the reference
    * assumes "outside". A boundary INSIDE a quoted region misaligns — the
    * realignment scan takes the quoted terminator for a record boundary
    * and emits a phantom fragment. This pins the exact reference-protocol
    * behavior, byte for byte, so any change to the realignment is loud.
    */
  test("quote-parity divergence pin: boundary inside a quoted region misaligns") {
    val dir = tmpDir("csv-qp3")
    val bytes = "1,'a\nb'\n2,x\n".getBytes("UTF-8") // 12 bytes
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "data.csv"), bytes)
    def raw(sb: Long): Seq[String] =
      spark.read.format("hpcc-csv-parity").option("splitbytes", sb)
        .load(dir).collect().map(_.getString(0)).toSeq
    // sound boundary (offset 8 = a record start): clean split
    assert(raw(8L) == Seq("1,'a\nb'", "2,x"))
    // unsound boundary (offset 4 = inside the quoted field): range 2's
    // assumed-outside scan treats the QUOTED '\n' at offset 4 as a record
    // boundary and emits the tail fragment; range 3 re-emits "2,x" the
    // fragment already swallowed — the reference's own misalignment shape
    assert(raw(4L) == Seq("1,'a\nb'", "b'\n2,x\n", "2,x"))
  }

  test("multi-char-terminator read stays splittable and loses nothing") {
    val dir = tmpDir("csv-split")
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, s"text,$i'q", i * 0.125))
      .toDF("id", "txt", "v")
    HpccCsv.write(df.coalesce(1), dir, terminator = "#\n")
    val whole = HpccCsv.read(spark, dir, schema, terminator = "#\n")
      .orderBy("id").collect().toSeq
    assert(whole.size == 2000)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val got = HpccCsv.read(spark, dir, schema, terminator = "#\n")
      assert(got.rdd.getNumPartitions > 1)
      assert(got.orderBy("id").collect().toSeq == whole)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }
}
