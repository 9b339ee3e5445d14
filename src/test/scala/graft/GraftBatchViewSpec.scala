package graft

import org.apache.spark.sql.GraftBatchView
import org.apache.spark.sql.functions._

/** Compile-time + behavioral guard over the sql-private shim
  * directions in [[GraftBatchView]] (`asStreaming`, `ofRows`,
  * `exprColumn`). The shim is the repo's only dependency on Spark's
  * `classic` internals, so a Spark upgrade that moves any of them must
  * fail HERE at test time, not at a user's site: each direction is
  * exercised end-to-end, not just referenced.
  */
class GraftBatchViewSpec extends SparkSpec {

  test("asStreaming marks a frame for the Source getBatch contract") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "payload")
    assert(!df.isStreaming)
    val streaming = GraftBatchView.asStreaming(df)
    assert(streaming.isStreaming,
      "asStreaming must produce an isStreaming frame")
    // a relation-backed frame keeps its LogicalRelation through
    // asStreaming (so pushdown still works downstream)
    val dir = tmpDir("gbv")
    df.write.mode("overwrite").parquet(dir)
    val rel = spark.read.parquet(dir)
    val srel = GraftBatchView.asStreaming(rel)
    assert(srel.isStreaming)
    assert(srel.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.datasources.LogicalRelation])
  }

  test("ofRows rebuilds a frame over a captured analyzed plan") {
    import spark.implicits._
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "payload")
      .filter(col("id") > 1)
    val plan = df.queryExecution.analyzed
    val again = GraftBatchView.ofRows(spark, plan)
    assert(again.collect().map(_.getLong(0)).toSeq == Seq(2L))
    // exprIds survive: a column resolved against the ORIGINAL plan's
    // output still works on the rebuilt frame (the SQL-DML use case)
    val attr = plan.output.find(_.name == "payload").get
    assert(again.select(GraftBatchView.exprColumn(attr)).collect()
      .map(_.getString(0)).toSeq == Seq("y"))
  }

  test("exprColumn wraps a resolved Catalyst expression as a Column") {
    import org.apache.spark.sql.catalyst.expressions.{Add, Literal}
    val c = GraftBatchView.exprColumn(Add(Literal(40), Literal(2)))
    import spark.implicits._
    val out = Seq(1).toDF("x").select(c.as("v")).collect()
    assert(out.head.getInt(0) == 42)
  }
}
