package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** API-parity spec: each reference verb (PipeIn / PipeOut / PipeOutAndMerge
  * × FLAT/CSV/XML) round-trips through the façade.
  */
class PipeSpec extends SparkSpec {

  private val layout = EclLayout.parse("id:unsigned4,name:string12,v:real8")

  private def sample = {
    import spark.implicits._
    (0L until 300L).map(i => (i, s"name-$i", i * 0.25)).toDF("id", "name", "v")
  }

  test("PipeOut → PipeIn identity, FLAT") {
    val dir = tmpDir("pipe-flat")
    Pipe.out(sample, dir, layout, PipeFormat.Flat)
    val back = Pipe.in(spark, dir, layout, PipeFormat.Flat)
    assert(back.orderBy("id").collect().toSeq ==
      sample.orderBy("id").collect().toSeq)
  }

  test("PipeOut → PipeIn identity, CSV with reference defaults") {
    val dir = tmpDir("pipe-csv")
    Pipe.out(sample, dir, layout, PipeFormat.Csv())
    val back = Pipe.in(spark, dir, layout, PipeFormat.Csv())
    assert(back.orderBy("id").collect().toSeq ==
      sample.orderBy("id").collect().toSeq)
  }

  test("PipeOut → PipeIn identity, XML") {
    val dir = tmpDir("pipe-xml")
    Pipe.out(sample, dir, layout, PipeFormat.Xml())
    val back = Pipe.in(spark, dir, layout, PipeFormat.Xml())
    assert(back.orderBy("id").collect().toSeq ==
      sample.orderBy("id").collect().toSeq)
  }

  test("PipeOutAndMerge produces ONE file per format, identity preserved") {
    for (fmt <- Seq[PipeFormat](PipeFormat.Flat, PipeFormat.Csv(),
        PipeFormat.Xml())) {
      val dir = tmpDir(s"pipe-merge")
      val target = s"$dir/merged.out"
      Pipe.outAndMerge(sample.repartition(4), target, layout, fmt)
      assert(new java.io.File(target).isFile, s"$fmt should merge to one file")
      assert(!new java.io.File(target + "-parts").exists, s"$fmt cleanMerge")
      val back = Pipe.in(spark, target, layout, fmt)
      assert(back.count() == 300)
      assert(back.agg(sum("id")).collect().head.getLong(0) == (0L until 300L).sum)
    }
  }

  private def bytes(file: String): Seq[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(file)).toSeq

  test("XML merge equals a coalesce(1) write, empty partitions included") {
    for (n <- Seq(1, 3, 8)) {
      // keys 0 and 1 only: at 3 and 8 partitions some are empty
      val df = sample.repartition(n, col("id") % 2)
      val dir = tmpDir(s"pipe-xml-merge-$n")
      val target = s"$dir/merged.xml"
      Pipe.outAndMerge(df, target, layout, PipeFormat.Xml(), cleanMerge = false)
      df.coalesce(1).write.format("xml").option("rowTag", "Row")
        .mode("overwrite").save(s"$dir/one")
      val one = new java.io.File(s"$dir/one").listFiles()
        .filter(_.getName.startsWith("part-")).map(_.getPath).toSeq
      assert(one.size == 1)
      assert(bytes(target) == bytes(one.head), s"$n partitions")
      val want = sample.orderBy("id").collect().toSeq
      val viaHpcc = Pipe.in(spark, target, layout, PipeFormat.Xml())
      val viaBuiltIn = spark.read.format("xml").option("rowTag", "Row")
        .schema(layout.schema).load(target)
      for (back <- Seq(viaHpcc, viaBuiltIn))
        assert(back.orderBy("id").collect().toSeq == want, s"$n partitions")
    }
  }

  test("an empty frame merges to an empty XML file that reads 0 rows") {
    val target = tmpDir("pipe-xml-empty") + "/merged.xml"
    Pipe.outAndMerge(sample.where("id < 0"), target, layout, PipeFormat.Xml())
    assert(new java.io.File(target).length == 0)
    assert(Pipe.in(spark, target, layout, PipeFormat.Xml()).count() == 0)
  }

  test("a part without the document wrapper fails the merge, naming it") {
    val dir = tmpDir("pipe-xml-bare")
    Pipe.out(sample.repartition(2), dir, layout, PipeFormat.Xml())
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.length > 0)
      .minBy(_.getName)
    java.nio.file.Files.write(part.toPath, "<Row><id>1</id></Row>".getBytes("UTF-8"))
    new java.io.File(dir, s".${part.getName}.crc").delete()
    val fmt = PipeFormat.Xml()
    val ex = intercept[IllegalArgumentException] {
      Merge.mergeParts(spark, dir, dir + ".xml", head = fmt.wrapper._1, tail = fmt.wrapper._2)
    }
    assert(ex.getMessage.contains(part.getName), ex.getMessage)
  }
}
