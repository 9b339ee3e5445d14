package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** `SmallSortInOneTask`: a small, already-computed sort input is sorted in
  * one task instead of through a sampled range exchange. */
class SmallSortInOneTaskSpec extends SparkSpec {
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  /** Runs `body` with the rule excluded through Spark's own setting. */
  private def ruleOff[T](body: => T): T = withConf(
    "spark.sql.adaptive.optimizer.excludedRules" -> SmallSortInOneTask.ruleName)(body)

  /** Rows, then the final adaptive plan as `Prof --executed` prints it,
    * without its trailing initial plan. */
  private def run(df: DataFrame): (Seq[Row], String) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head)
  }

  private def q01 = SparkEntry.queries("q01_pricing_summary")(spark, sf)
  private def ranged(plan: String) = plan.contains("rangepartitioning")

  private val schema = StructType(Seq(StructField("id", IntegerType, false),
    StructField("k", IntegerType), StructField("s", StringType)))

  /** Duplicate keys (a handful of values) and nulls in both sort keys. */
  private def randomFrame(seed: Int, n: Int): DataFrame = {
    val r = new Random(seed)
    def nullable(v: => Any): Any = if (r.nextInt(5) == 0) null else v
    val rows = (0 until n).map(i =>
      Row(i, nullable(r.nextInt(7) - 3), nullable(r.alphanumeric.take(r.nextInt(2)).mkString)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("random data sorts to the same rows in the same order with the rule on and off") {
    val orders = Seq(
      Seq(col("k").asc_nulls_first, col("s").desc_nulls_last, col("id")),
      Seq(col("k").desc_nulls_first, col("s").asc_nulls_last, col("id").desc),
      Seq(col("s").asc_nulls_last, col("k").desc_nulls_last, col("id")))
    for (seed <- 1 to 3; order <- orders) {
      // the sort reads a shuffle stage: the repartition's, or the aggregate's
      val inputs = Seq(
        randomFrame(seed, 500).repartition(4),
        randomFrame(seed, 500).groupBy("k", "s").agg(min("id").as("id")))
      for (in <- inputs) {
        val (on, onPlan) = run(in.orderBy(order: _*))
        val (off, offPlan) = ruleOff(run(in.orderBy(order: _*)))
        assert(!ranged(onPlan), onPlan)
        assert(ranged(offPlan), offPlan)
        assert(on == off, s"seed $seed, order $order")
      }
    }
    // ties on every sort key: the same key sequence and the same rows
    val ties = randomFrame(9, 500).repartition(4)
    val (on, _) = run(ties.orderBy(col("k").desc_nulls_first, col("s")))
    val (off, _) = ruleOff(run(ties.orderBy(col("k").desc_nulls_first, col("s"))))
    def keys(rs: Seq[Row]) = rs.map(r => (r.get(1), r.get(2)))
    assert(keys(on) == keys(off))
    assert(on.sortBy(_.getInt(0)) == off.sortBy(_.getInt(0)))
  }

  test("q01's final adaptive plan has no range exchange") {
    val (rows, plan) = run(q01)
    assert(plan.contains("isFinalPlan=true"), plan)
    assert(!ranged(plan), plan)
    assert(plan.contains("Coalesce 1"), plan)
    val (off, offPlan) = ruleOff(run(q01))
    assert(ranged(offPlan), offPlan)
    assert(rows == off)
  }

  test("a sort that reads a file scan directly keeps its range exchange") {
    val (rows, plan) = run(Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber")
      .orderBy(col("l_orderkey").desc, col("l_linenumber")))
    assert(ranged(plan), plan)
    assert(rows.map(_.getLong(0)) == rows.map(_.getLong(0)).sorted.reverse)
  }

  test("a sort whose input is above the coalesce target keeps its range exchange") {
    val (small, _) = run(q01)
    val (rows, plan) = withConf(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")(run(q01))
    assert(ranged(plan), plan)
    assert(rows == small)
    // the target follows AQE's: the advisory size when parallelism does
    // not come first
    val (_, advisory) = withConf(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(run(q01))
    assert(ranged(advisory), advisory)
    val (_, noCoalesce) = withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(run(q01))
    assert(ranged(noCoalesce), noCoalesce)
  }

  test("with adaptive execution off the rule does nothing") {
    val (small, _) = run(q01)
    val (rows, plan) = withConf("spark.sql.adaptive.enabled" -> "false")(run(q01))
    assert(!plan.contains("AdaptiveSparkPlan"), plan)
    assert(ranged(plan), plan)
    assert(rows == small)
  }
}
