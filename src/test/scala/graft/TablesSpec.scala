package graft

class TablesSpec extends SparkSpec {

  test("widthFor caps an exabyte-scale size estimate at the parallelism") {
    // range(Long.MaxValue) estimates ~2^63 * 8 bytes, ~2^40 64 MB slots:
    // a width that wraps in Int arithmetic would collapse to baseWidth (1)
    assert(Tables.widthFor(spark.range(Long.MaxValue).toDF()) ==
      spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.defaultParallelism == 4)
  }

  test("a small estimate keeps the base width") {
    assert(Tables.widthFor(spark.range(10).toDF()) == 1)
  }

  test("graft.spread.parts overrides the base width") {
    withConf("graft.spread.parts" -> "3") {
      assert(Tables.widthFor(spark.range(10).toDF()) == 3)
    }
  }

  test("a malformed or non-positive width override fails naming its key") {
    for (bad <- Seq("0", "abc")) {
      val spread = withConf("graft.spread.parts" -> bad) {
        intercept[IllegalArgumentException](
          Tables.widthFor(spark.range(10).toDF()))
      }
      assert(spread.getMessage.contains("graft.spread.parts"), bad)
      // the override is read before the pair table is touched
      val cluster = withConf("graft.cluster.shufflePartitions" -> bad) {
        intercept[IllegalArgumentException](operators.Dedup.dupClusters(
          spark, spark.range(1).toDF(), tmpDir("dup-clusters")))
      }
      assert(cluster.getMessage.contains("graft.cluster.shufflePartitions"), bad)
    }
  }
}
