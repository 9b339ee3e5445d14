package org.apache.spark.sql

/** Interop shims (hence this package) over the sql-private `classic`
  * surface: frames over captured plans, Columns over resolved
  * expressions, and — for the snapshot source — a V1 streaming relation
  * and streaming-flagged frames.
  */
object GraftBatchView {
  /** A DataFrame over an already-built logical plan — the SQL-DML
    * commands hand analyzer-captured plans (exprIds intact, so merge
    * conditions and assignments resolve against them) back to the
    * DataFrame API through this. Same sql-private surface class
    * (`classic.Dataset.ofRows`) as the streaming shims below. */
  def ofRows(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A Column wrapping a resolved Catalyst expression (Spark 4 moved
    * Column onto ColumnNode; this is the sanctioned classic-session
    * bridge). */
  def exprColumn(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** A V1 [[execution.streaming.runtime.StreamingRelation]] over a
    * registered streaming format — the node
    * `spark.readStream.format(fmt).options(...).load()` produces. Used
    * by the catalog's streaming resolution rule to lower
    * `readStream.table("graft.db.t")` onto the proven V1 source path
    * (the Delta shape: the table handle names, the V1 source streams).
    * `output` non-empty pins the relation to existing attribute
    * identities (must match the source schema positionally); empty
    * derives fresh attributes from the source schema. */
  def v1StreamingRelation(spark: SparkSession, format: String,
      options: Map[String, String],
      output: Seq[catalyst.expressions.AttributeReference])
      : catalyst.plans.logical.LogicalPlan = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val ds = execution.datasources.DataSource(
      cs, className = format, options = options)
    val base = execution.streaming.runtime.StreamingRelation(ds)
    if (output.isEmpty) base
    else {
      require(base.output.map(a => (a.name, a.dataType)) ==
          output.map(a => (a.name, a.dataType)),
        s"v1StreamingRelation: source schema ${base.schema.simpleString} " +
          s"does not match the pinned output")
      base.copy(output = output)
    }
  }

  /** The inverse, for a streaming Source's `getBatch`: the engine asserts
    * the returned frame has isStreaming=true (FileStreamSource marks its
    * relation the same way). A relation-backed frame keeps its
    * LogicalRelation (so downstream pruning/pushdown still work); other
    * shapes wrap their planned rows. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    df.queryExecution.analyzed match {
      case lr: execution.datasources.LogicalRelation =>
        classic.Dataset.ofRows(spark, lr.copy(isStreaming = true))
      case _ =>
        spark.internalCreateDataFrame(
          df.queryExecution.toRdd, df.schema, isStreaming = true)
    }
  }
}
