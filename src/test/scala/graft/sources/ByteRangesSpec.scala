package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import graft.SparkSpec

/** Split planning of the range-split sources: Spark's core-aware file-scan
  * rule (`min(maxPartitionBytes, max(openCost, Σ(len + openCost) / cores))`)
  * with the per-source overrides (CSV-parity keeps `maxPartitionBytes`
  * ranges), at the suite's `local[4]`.
  */
class ByteRangesSpec extends SparkSpec {

  private val layout = EclLayout.parse("id:unsigned4,name:string36")

  /** `n` rows of about 40 bytes in each format; returns the (xml, flat,
    * csv) directories.
    */
  private def files(n: Int, flatParts: Int = 1): (String, String, String) = {
    import spark.implicits._
    val xml = tmpDir("br-xml")
    Files.write(Paths.get(xml, "data.xml"), ("<Dataset>\n" + (0 until n).map(i =>
      s"<Row><id>$i</id><name>n</name></Row>").mkString("\n") +
      "\n</Dataset>\n").getBytes("UTF-8"))
    val flat = tmpDir("br-flat")
    (0 until n).map(i => (i.toLong, "n")).toDF("id", "name")
      .repartition(flatParts).write.format("hpcc-flat")
      .option("layout", layout.spec).mode("overwrite").save(flat)
    val csv = tmpDir("br-csv")
    Files.write(Paths.get(csv, "data.csv"), (0 until n).map(i =>
      s"$i,${"n" * 34}\n").mkString.getBytes("UTF-8"))
    (xml, flat, csv)
  }

  private def xmlDf(dir: String, nested: Boolean = false): DataFrame =
    spark.read.format("hpcc-xml").schema("id INT, name STRING")
      .option("nestedRowTag", nested).load(dir)
  private def flatDf(dir: String): DataFrame =
    spark.read.format("hpcc-flat").option("layout", layout.spec).load(dir)
  private def csvDf(dir: String, splitBytes: Long = 0L): DataFrame =
    spark.read.format("hpcc-csv-parity").option("splitbytes", splitBytes)
      .load(dir)

  private def parts(df: DataFrame): Int = df.rdd.getNumPartitions
  private def size(dir: String): Long =
    new java.io.File(dir).listFiles().filter(f =>
      f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length).sum

  test("a ~100 KB file plans one range per core once past the open-cost floor") {
    val (xml, flat, csv) = files(2500)
    for (d <- Seq(xml, flat, csv))
      assert(size(d) > 90000 && size(d) < 110000, s"$d is ${size(d)} bytes")
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      // csv-parity keeps maxPartitionBytes ranges: a boundary inside a
      // quoted terminator misaligns, so files under the cap stay whole
      assert(Seq(parts(xmlDf(xml)), parts(flatDf(flat)), parts(csvDf(csv))) ==
        Seq(4, 4, 1), "(xml, flat, csv-parity) partitions")
      assert(xmlDf(xml).count() == 2500)
      assert(flatDf(flat).count() == 2500)
      assert(csvDf(csv).count() == 2500)
    }
  }

  test("a file under the open cost stays one range") {
    val (xml, flat, csv) = files(20)
    for (d <- Seq(xml, flat, csv)) assert(size(d) < 1024, s"$d is ${size(d)} bytes")
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      assert(parts(xmlDf(xml)) == 1)
      assert(parts(flatDf(flat)) == 1)
      assert(parts(csvDf(csv)) == 1)
    }
  }

  test("a small maxPartitionBytes still caps the split") {
    val (xml, flat, csv) = files(200)
    withConf("spark.sql.files.openCostInBytes" -> "1024",
        "spark.sql.files.maxPartitionBytes" -> "64") {
      assert(parts(xmlDf(xml)) == (size(xml) + 63) / 64)
      // 40-byte records: 64 rounds down to one-record ranges
      assert(parts(flatDf(flat)) == size(flat) / 40)
      assert(parts(csvDf(csv)) == (size(csv) + 63) / 64)
      assert(xmlDf(xml).count() == 200)
      assert(flatDf(flat).count() == 200)
      assert(csvDf(csv).count() == 200)
    }
  }

  test("nestedRowTag keeps whole-file ranges and splitbytes wins for csv-parity") {
    val (xml, _, csv) = files(2500)
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      assert(parts(xmlDf(xml, nested = true)) == 1)
      assert(parts(csvDf(csv, splitBytes = 10000)) == (size(csv) + 9999) / 10000)
      assert(csvDf(csv, splitBytes = 10000).count() == 2500)
    }
  }

  test("csv-parity's default reads quoted terminators past the open cost losslessly") {
    val dir = tmpDir("br-csv-quoted")
    val body = "ab\n" * 10
    Files.write(Paths.get(dir, "data.csv"), (0 until 2500).map(i =>
      s"$i,'$body'\n").mkString.getBytes("UTF-8"))
    assert(size(dir) > 90000, s"$dir is ${size(dir)} bytes")
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      val rows = HpccCsv.read(spark, dir,
        StructType.fromDDL("id INT, body STRING"), quoteParity = true)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(rows == (0 until 2500).map(i => (i, body)))
    }
  }

  test("FLAT part files never share a range") {
    val (_, flat, _) = files(30, flatParts = 3)
    withConf("spark.sql.files.openCostInBytes" -> "1024") {
      assert(parts(flatDf(flat)) == 3)
      assert(flatDf(flat).count() == 30)
    }
  }

  test("range readers plan and read through ByteRanges only") {
    val dir = Paths.get("src/main/scala/graft/sources")
    assert(Files.isDirectory(dir),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val needles = Seq("filesMaxPartitionBytes",
      "new java.io." + "BufferedInputStream", ".toByte" + "Array", "." + "open(")
    val readers = Files.list(dir).iterator().asScala.filter { (p: Path) =>
      p.getFileName.toString != "ByteRanges.scala" &&
        Files.readString(p).contains("PartitionReader[")
    }.toSeq
    assert(readers.map(_.getFileName.toString).sorted ==
      Seq("CsvParitySource.scala", "FlatDataSource.scala", "XmlDataSource.scala"))
    val offenders = for {
      p <- readers
      n <- needles if Files.readString(p).contains(n)
    } yield s"${p.getFileName}: $n"
    assert(offenders.isEmpty,
      s"split with ByteRanges.plan and read with ByteRanges.Cursor: $offenders")
  }
}
