package graft.sources

import org.apache.spark.sql.types._
import graft.SparkSpec

/** Option-validation surface (the reference's parseInParams /
  * validateParameters layer, hdfsconnector.hpp:205-429,173-191): bad
  * configuration fails fast with an actionable message, never silently.
  */
class SourceErrorSpec extends SparkSpec {

  test("hpcc-flat without a layout option fails with guidance") {
    val ex = intercept[Exception] {
      spark.read.format("hpcc-flat").load(tmpDir("e1")).collect()
    }
    assert(ex.getMessage.contains("layout"))
  }

  test("hpcc-flat with a malformed layout spec names the bad field") {
    val ex = intercept[Exception] {
      spark.read.format("hpcc-flat")
        .option("layout", "a:string5,b:varchar9").load(tmpDir("e2")).collect()
    }
    assert(ex.getMessage.contains("varchar"))
  }

  test("hpcc-flat write rejects a mismatched dataframe schema") {
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq((1, "x")).toDF("wrong", "cols").write.format("hpcc-flat")
        .option("layout", "id:unsigned4,name:string8")
        .mode("overwrite").save(tmpDir("e3"))
    }
    // Spark's analyzer may reject first (INCOMPATIBLE_DATA_FOR_TABLE) or
    // our builder's own check fires — either way it's a schema error
    assert(ex.getMessage.contains("schema mismatch") ||
      ex.getMessage.contains("INCOMPATIBLE_DATA_FOR_TABLE"))
  }

  test("hpcc-xml without a schema fails with guidance") {
    val ex = intercept[Exception] {
      spark.read.format("hpcc-xml").load(tmpDir("e4")).collect()
    }
    assert(ex.getMessage.contains("schema"))
  }

  test("hpcc-xml rejects unsupported field types in the schema") {
    val dir = tmpDir("e5")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "d.xml"),
      "<Row><m>x</m></Row>".getBytes("UTF-8"))
    val ex = intercept[Exception] {
      spark.read.format("hpcc-xml")
        .schema(StructType(Seq(StructField("m", MapType(StringType, StringType)))))
        .load(dir).collect()
    }
    assert(ex.getMessage.contains("unsupported field type"))
  }

  // ---- PERMISSIVE / DROPMALFORMED (parity with Spark's built-in sources;
  // media already has this posture via Multimodal.decodeLenient) ----------

  private def writeFlatWithTail(dir: String): Unit = {
    import spark.implicits._
    Seq((1L, "alpha   "), (2L, "beta    "), (3L, "gamma   "))
      .toDF("id", "name").write.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .mode("overwrite").save(dir)
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part_")).minBy(_.getName)
    java.nio.file.Files.write(part.toPath, "XTAIL".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    // the append happened behind Hadoop's back — drop the stale checksum
    // sidecar or LocalFileSystem fails the read with ChecksumException
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()
  }

  test("hpcc-flat FAILFAST (default) rejects a truncated trailing record") {
    val dir = tmpDir("p1")
    writeFlatWithTail(dir)
    val ex = intercept[Exception] {
      spark.read.format("hpcc-flat").option("layout", "id:unsigned4,name:string8")
        .load(dir).collect()
    }
    assert(ex.getMessage.contains("not a multiple"))
  }

  test("hpcc-flat PERMISSIVE surfaces the tail as an all-null row with hex bytes") {
    val dir = tmpDir("p2")
    writeFlatWithTail(dir)
    val got = spark.read.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .option("mode", "permissive")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .load(dir).collect()
    assert(got.length == 4)
    val corrupt = got.filter(r => r.isNullAt(0))
    assert(corrupt.length == 1)
    // "XTAIL" = 58 54 41 49 4C
    assert(corrupt.head.getString(2) == "585441494C")
    assert(got.filter(!_.isNullAt(0)).forall(_.isNullAt(2)),
      "good rows carry a null corrupt column")
    // metadata COUNT(*) pushdown must agree with the row-by-row count
    val n = spark.read.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .option("mode", "permissive")
      .load(dir).count()
    assert(n == 4)
  }

  test("hpcc-flat PERMISSIVE keeps filters residual (null semantics apply)") {
    val dir = tmpDir("p3")
    writeFlatWithTail(dir)
    val got = spark.read.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .option("mode", "permissive")
      .load(dir).where("id >= 2").collect()
    assert(got.map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L),
      "null id on the corrupt row must not satisfy the predicate")
  }

  test("hpcc-flat DROPMALFORMED ignores the tail (back-compat strict=false)") {
    val dir = tmpDir("p4")
    writeFlatWithTail(dir)
    val a = spark.read.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .option("mode", "dropmalformed").load(dir).count()
    val b = spark.read.format("hpcc-flat")
      .option("layout", "id:unsigned4,name:string8")
      .option("strict", "false").load(dir).count()
    assert(a == 3 && b == 3)
  }

  private def writeXmlWithBadRow(dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "d.xml"),
      ("<Dataset><Row><k>1</k><v>one</v></Row>" +
       "<Row><k>oops</k><v>bad</v></Row>" +
       "<Row><k>3</k><v>three</v></Row></Dataset>").getBytes("UTF-8"))
  }

  private val kvSchema = StructType(Seq(
    StructField("k", IntegerType), StructField("v", StringType)))

  test("hpcc-xml FAILFAST (default) throws on a malformed field") {
    val dir = tmpDir("p5")
    writeXmlWithBadRow(dir)
    assertThrows[Exception] {
      spark.read.format("hpcc-xml").schema(kvSchema).load(dir).collect()
    }
  }

  test("hpcc-xml PERMISSIVE yields null row + raw element text") {
    val dir = tmpDir("p6")
    writeXmlWithBadRow(dir)
    val got = spark.read.format("hpcc-xml").schema(kvSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "bad")
      .load(dir).collect()
    assert(got.length == 3)
    val corrupt = got.filter(r => r.isNullAt(0))
    assert(corrupt.length == 1)
    assert(corrupt.head.getString(2) == "<Row><k>oops</k><v>bad</v></Row>")
    assert(got.filter(!_.isNullAt(0)).map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("hpcc-xml DROPMALFORMED skips the malformed row") {
    val dir = tmpDir("p7")
    writeXmlWithBadRow(dir)
    val got = spark.read.format("hpcc-xml").schema(kvSchema)
      .option("mode", "DROPMALFORMED").load(dir).collect()
    assert(got.map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("csv shim rejects multi-char separators and quotes") {
    assertThrows[IllegalArgumentException] {
      HpccCsv.read(spark, "/nonexistent",
        StructType(Seq(StructField("a", StringType))), separator = "||")
    }
    assertThrows[IllegalArgumentException] {
      HpccCsv.read(spark, "/nonexistent",
        StructType(Seq(StructField("a", StringType))), quote = "''")
    }
  }

  test("csv write rejects a two-character separator, naming it") {
    import spark.implicits._
    val ex = intercept[IllegalArgumentException] {
      HpccCsv.write(Seq(1).toDF("a"), tmpDir("csv-sep"), separator = "||")
    }
    assert(ex.getMessage.contains("separator") && ex.getMessage.contains("'||'"),
      ex.getMessage)
  }
}
