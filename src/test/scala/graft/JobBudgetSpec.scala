package graft

import org.apache.spark.graftspec.Jobs

/** Spark jobs per query at the sf0.01 fixtures on `local[4]`: a repeated
  * construction reads every schema from the session memo (no inference
  * job), and execution runs no range-sampling job for a small final sort.
  * The budgets are the counts measured with both in place; a change that
  * brings either job back exceeds them. */
class JobBudgetSpec extends SparkSpec {
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  private val budgets = Seq(
    "q01_pricing_summary" -> 2,
    "q05_nation_revenue" -> 7,
    "q36_window_dist" -> 2)

  for ((name, budget) <- budgets) test(s"$name: 0 construction jobs, at most $budget execution jobs") {
    assert(spark.sparkContext.defaultParallelism == 4)
    val fn = SparkEntry.queries(name)
    fn(spark, sf).queryExecution.toRdd.count() // warm: infers the schemas
    val (df, construct) = Jobs.during(spark)(fn(spark, sf))
    val (_, execute) = Jobs.during(spark)(df.queryExecution.toRdd.count())
    assert(construct == 0, s"$name construction ran $construct jobs")
    assert(execute <= budget, s"$name execution ran $execute jobs")
  }
}
