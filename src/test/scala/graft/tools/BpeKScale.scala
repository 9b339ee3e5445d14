package graft.tools

/** Dev measurement for the bpeLearn round-lineage bound (SCALE.md,
  * round-10 verdict #4): total learn time as K grows must be ~linear in
  * K once the fixed dictionary-build cost is paid — the O(K²)
  * full-lineage recompute the per-round parquet materialization removed
  * would show super-linear growth and deepening task binaries instead.
  * Usage: Test/runMain graft.tools.BpeKScale <dir> [cpus] [Ks]
  */
object BpeKScale {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cpus = if (args.length > 1) args(1).toInt else graft.Session.cpus()
    val ks = if (args.length > 2) args(2).split(",").map(_.toInt).toSeq
             else Seq(4, 16, 64)
    val spark = graft.Session.local(cpus)
    // warm JIT/codegen/footers so K-deltas measure the loop, not startup
    graft.operators.TextAnalysis.bpeLearn(spark, d, 2)
    var prev = 0.0
    var prevK = 0
    ks.foreach { k =>
      val t0 = System.nanoTime()
      val (merges, _) = graft.operators.TextAnalysis.bpeLearn(spark, d, k)
      val sec = (System.nanoTime() - t0) / 1e9
      require(merges.size == k)
      val marginal =
        if (prevK > 0) f" marginal ${(sec - prev) / (k - prevK)}%.3f s/round"
        else ""
      println(f"[bpeKScale] K=$k%3d total $sec%6.2f s$marginal")
      prev = sec; prevK = k
    }
    spark.stop()
  }
}
