package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class FlatSourceSpec extends SparkSpec {

  private val layout = EclLayout.parse(
    "id:unsigned4,name:string8,score:real8,grade:integer4")

  private def sample(n: Int) = {
    import org.apache.spark.sql.Encoders
    val rows = (0 until n).map(i =>
      (i.toLong, s"n$i", i * 1.5, -i))
    spark.createDataFrame(rows).toDF("id", "name", "score", "grade")
      .select(col("id"), col("name"), col("score"),
        col("grade").cast("int").as("grade"))
  }

  test("write → read round trip") {
    val dir = tmpDir("flat-rt")
    val df = sample(1000)
    df.write.format("hpcc-flat").option("layout", layout.spec)
      .mode("overwrite").save(dir)
    val back = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .load(dir)
    assert(back.schema == layout.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    // commit protocol leaves no temp files behind
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")))
  }

  test("unsigned8 full range survives the write→read path incl. > Long.Max") {
    // reference layout semantics: UNSIGNED8 is a full 64-bit unsigned
    // little-endian field (docs/HDFSConnector/HDFS_Mods/HDFS_PipeIn.xml:
    // 89-100); DecimalType(20,0) is the only lossless Spark carrier, and a
    // top-bit id (e.g. an HPCC hash key) must survive the DSv2 round trip,
    // not just the codec unit (FlatCodecSpec covers that layer)
    val u8 = EclLayout.parse("id:unsigned4,big:unsigned8")
    val rng = new scala.util.Random(7)
    val vals = Seq(BigInt(0), BigInt(Long.MaxValue),
      BigInt(Long.MaxValue) + 1, BigInt(2).pow(64) - 1,
      BigInt("12345678901234567890")) ++
      Seq.fill(200)(BigInt(64, rng))
    val rows = vals.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, new java.math.BigDecimal(v.bigInteger))
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("big", DecimalType(20, 0))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = tmpDir("flat-u8")
    df.write.format("hpcc-flat").option("layout", u8.spec)
      .mode("overwrite").save(dir)
    val back = spark.read.format("hpcc-flat").option("layout", u8.spec)
      .load(dir).orderBy("id").collect()
    val expected = vals.map(_.toString)
    assert(back.length == expected.length)
    back.zip(expected).foreach { case (r, e) =>
      assert(r.getDecimal(1).toBigInteger.toString == e,
        s"u8 value ${r.getLong(0)}")
    }
    // byte layout is pinned little-endian: 2^64-1 is eight 0xFF bytes
    val one = Seq(Row(0L,
      new java.math.BigDecimal(BigInt(2).pow(64).bigInteger
        .subtract(java.math.BigInteger.ONE))))
    val d2 = tmpDir("flat-u8-bytes")
    spark.createDataFrame(spark.sparkContext.parallelize(one, 1), schema)
      .write.format("hpcc-flat").option("layout", u8.spec)
      .mode("overwrite").save(d2)
    val part = new java.io.File(d2).listFiles()
      .filter(_.getName.startsWith("part")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    assert(bytes.length == 12) // unsigned4 + unsigned8
    assert(bytes.drop(4).forall(_ == 0xff.toByte))
  }

  test("replication option is honored (reference -hdfsfilereplication)") {
    val dir = tmpDir("flat-repl")
    val df = sample(50)
    df.write.format("hpcc-flat").option("layout", layout.spec)
      .option("replication", "1").mode("overwrite").save(dir)
    val back = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .load(dir)
    assert(back.count() == 50)
    val ex = intercept[Exception] {
      df.write.format("hpcc-flat").option("layout", layout.spec)
        .option("replication", "-2").mode("overwrite").save(tmpDir("flat-repl2"))
    }
    assert(ex.getMessage.contains("replication"))
  }

  test("split invariance: record-aligned partitions lose/duplicate nothing") {
    val dir = tmpDir("flat-split")
    sample(997).coalesce(1).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(dir)
    val whole = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .load(dir).orderBy("id").collect().toSeq
    // recLen = 24; force many tiny, non-record-multiple split targets
    for (split <- Seq(25, 100, 1021)) {
      withSQLConf("spark.sql.files.maxPartitionBytes" -> split.toString) {
        val got = spark.read.format("hpcc-flat").option("layout", layout.spec)
          .load(dir)
        assert(got.rdd.getNumPartitions > 1, s"split=$split should multi-split")
        assert(got.orderBy("id").collect().toSeq == whole, s"split=$split")
      }
    }
  }

  private def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("strict mode rejects size % recLen != 0 (libhdfsconnector.cpp:85-89)") {
    val dir = tmpDir("flat-strict")
    sample(10).coalesce(1).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(dir)
    // corrupt: append 3 stray bytes to the single part file
    val part = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part")).head
    val out = new java.io.FileOutputStream(part, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    // drop the Hadoop local-FS checksum shadow so the size check (not the
    // checksum layer) is what trips
    new java.io.File(dir, s".${part.getName}.crc").delete()
    val ex = intercept[Exception] {
      spark.read.format("hpcc-flat").option("layout", layout.spec)
        .load(dir).count()
    }
    assert(ex.getMessage.contains("not a multiple of recLen"))
    // relaxed mode reads the whole records and drops the tail
    val n = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .option("strict", "false").load(dir).count()
    assert(n == 10)
  }

  test("column pruning reaches the scan") {
    val dir = tmpDir("flat-prune")
    sample(50).write.format("hpcc-flat").option("layout", layout.spec)
      .mode("overwrite").save(dir)
    val q = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .load(dir).select("score")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("cols=score"), s"plan should prune to score:\n$scan")
    assert(q.agg(sum("score")).collect().head.getDouble(0) ==
      (0 until 50).map(_ * 1.5).sum)
  }

  test("wholeFile mode reads each file as one partition (streamInFile)") {
    val dir = tmpDir("flat-whole")
    sample(200).repartition(3).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(dir)
    val df = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .option("wholeFile", "true").load(dir)
    assert(df.rdd.getNumPartitions == 3) // one per part file
    assert(df.count() == 200)
  }

  test("string fixed-width semantics: truncate long, pad+trim short") {
    val l = EclLayout.parse("id:unsigned4,s:string4")
    val dir = tmpDir("flat-str")
    val df = spark.createDataFrame(Seq((1L, "abcdef"), (2L, "x"), (3L, "")))
      .toDF("id", "s")
    df.write.format("hpcc-flat").option("layout", l.spec)
      .mode("overwrite").save(dir)
    val back = spark.read.format("hpcc-flat").option("layout", l.spec)
      .load(dir).orderBy("id").collect().map(_.getString(1)).toSeq
    assert(back == Seq("abcd", "x", ""))
    // trimStrings=false preserves the padded fixed width
    val padded = spark.read.format("hpcc-flat").option("layout", l.spec)
      .option("trimStrings", "false").load(dir)
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(padded == Seq("abcd", "x   ", "    "))
  }

  test("unsigned8 survives values above Long.MaxValue") {
    val l = EclLayout.parse("u:unsigned8")
    val dir = tmpDir("flat-u8")
    val big = BigDecimal("18446744073709551615") // 2^64 - 1
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(big.bigDecimal), Row(BigDecimal(7).bigDecimal))),
      StructType(Seq(StructField("u", DecimalType(20, 0), nullable = false))))
    df.write.format("hpcc-flat").option("layout", l.spec)
      .mode("overwrite").save(dir)
    val back = spark.read.format("hpcc-flat").option("layout", l.spec)
      .load(dir).collect().map(_.getDecimal(0).toBigInteger.toString).toSet
    assert(back == Set("18446744073709551615", "7"))
  }

  test("merge concatenates parts in partition order (mergeFile semantics)") {
    val dir = tmpDir("flat-merge")
    val target = dir + "/merged.flat"
    sample(100).repartition(5).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(dir + "/parts")
    val bytes = Merge.mergeParts(spark, dir + "/parts", target)
    assert(bytes == 100L * layout.recLen)
    val back = spark.read.format("hpcc-flat").option("layout", layout.spec)
      .load(target)
    assert(back.count() == 100)
    assert(back.select(sum("id")).collect().head.getLong(0) == (0 until 100).sum)
    // merged row order == part order concat: first recLen bytes of the merged
    // file equal the first record of part_0_5
    val merged = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(target))
    val p0 = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir + "/parts/part_0_5"))
    assert(merged.take(p0.length).toSeq == p0.toSeq)
  }

  test("merge fails on a missing part (libhdfsconnector.cpp:807-811)") {
    val dir = tmpDir("flat-merge-miss")
    sample(20).repartition(3).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(dir + "/parts")
    assert(new java.io.File(dir + "/parts/part_1_3").delete())
    val ex = intercept[IllegalArgumentException] {
      Merge.mergeParts(spark, dir + "/parts", dir + "/m.flat")
    }
    assert(ex.getMessage.contains("missing parts"))
  }

  test("a FLAT file over 3 x 64 KB reads the same whole and split (recLen 58)") {
    // 58 does not divide the cursor's 65536-byte block: records straddle
    // block edges in both reads
    val l = EclLayout.parse("id:unsigned8,name:string50")
    assert(l.recLen == 58)
    val dir = tmpDir("flat-cursor")
    spark.range(4000).select(col("id"), concat(lit("n"), col("id")).as("name"))
      .coalesce(1).write.format("hpcc-flat").option("layout", l.spec)
      .mode("overwrite").save(dir)
    val part = new java.io.File(dir, "part_0_1")
    assert(part.length == 4000L * 58 && part.length >= 3 * 65536)
    def read(mode: String, whole: Boolean): Seq[Row] =
      withConf("spark.sql.files.maxPartitionBytes" -> "10000",
          "spark.sql.files.openCostInBytes" -> "1") {
        val df = spark.read.format("hpcc-flat").option("layout", l.spec)
          .option("mode", mode).option("wholefile", whole)
          .option("columnNameOfCorruptRecord", "_corrupt").load(dir)
        assert(df.rdd.getNumPartitions == (if (whole) 1 else 24))
        df.collect().toSeq.sortBy(r => if (r.isNullAt(0)) -1L else r.getDecimal(0).longValue)
      }
    val failfast = read("FAILFAST", whole = true)
    assert(failfast.map(r => (r.getDecimal(0).longValue, r.getString(1))) ==
      (0L until 4000L).map(i => (i, s"n$i")))
    assert(read("FAILFAST", whole = false) == failfast)
    java.nio.file.Files.write(part.toPath, "XTAIL".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    new java.io.File(dir, ".part_0_1.crc").delete()
    val permissive = read("PERMISSIVE", whole = true)
    assert(permissive.size == 4001)
    assert(permissive.head.isNullAt(0) && permissive.head.getString(2) == "585441494C")
    assert(permissive.tail.map(r => (r.getDecimal(0).longValue, r.getString(1))) ==
      (0L until 4000L).map(i => (i, s"n$i")))
    assert(read("PERMISSIVE", whole = false) == permissive)
  }
}
