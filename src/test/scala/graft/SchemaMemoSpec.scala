package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.t` infers a parquet schema once per session and path. */
class SchemaMemoSpec extends SparkSpec {
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  test("a repeated load runs no Spark job and keeps the inferred schema") {
    val (first, _) = Jobs.during(spark)(Tables.lineitem(spark, sf))
    val (second, jobs) = Jobs.during(spark)(Tables.lineitem(spark, sf))
    assert(jobs == 0)
    assert(second.schema == first.schema)
    assert(second.schema == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    assert(second.count() == first.count())
    // a path this session has not read yet is inferred, with a job
    val d = tmpDir("memo-first")
    spark.range(3).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Jobs.during(spark)(Tables.t(spark, d, "t"))._2 > 0)
    assert(Jobs.during(spark)(Tables.t(spark, d, "t"))._2 == 0)
  }

  test("rewriting a path with a different schema returns the new schema") {
    val d = tmpDir("memo-rewrite")
    spark.range(3).toDF("a").write.parquet(s"$d/t.parquet")
    assert(Tables.t(spark, d, "t").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("id AS b", "'x' AS c")
      .write.mode("overwrite").parquet(s"$d/t.parquet")
    val df = Tables.t(spark, d, "t")
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.collect().map(_.getString(1)).toSeq == Seq("x", "x", "x"))
  }

  test("an inference setting is part of the key") {
    // written without Spark's schema metadata, so the parquet type decides
    // and `binaryAsString` applies
    val d = tmpDir("memo-binary")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$d/bin.parquet"))
      .withType(schema).withConf(spark.sessionState.newHadoopConf()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally w.close()
    def bType = Tables.t(spark, d, "bin").schema("b").dataType
    assert(bType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assert(bType == StringType)
      assert(Tables.t(spark, d, "bin").collect().head.getString(0) == "x")
    }
    assert(bType == BinaryType)
  }

  test("a newSession() child reuses its parent's entry") {
    Tables.orders(spark, sf)
    val child = spark.newSession()
    val (df, jobs) = Jobs.during(child)(Tables.orders(child, sf))
    assert(jobs == 0)
    assert(df.schema == Tables.orders(spark, sf).schema)
  }
}
