package graft

import org.apache.spark.sql.functions._

/** Dev tool: measure the LSH hot-bucket cap against a boilerplate-heavy
  * corpus at stress scale (SCALE.md's named failure mode). Appends a
  * cluster of byte-identical "boilerplate" documents to the 16× ScaleGen
  * corpus, then times MinHash-LSH and SimHash candidate generation with
  * the cap disabled vs enabled. A k-clone cluster collapses into ONE
  * band bucket per band (identical signatures), so uncapped candidate
  * volume grows by C(k,2) per band while the capped run drops the bucket
  * for the cost of one broadcast anti-join.
  *
  * Run (after `runMain graft.ScaleGen /tmp/graft_scale`):
  *   SPARK_GRAFT_CLONES=2000 sbt "runMain graft.HotBucketBench"
  */
object HotBucketBench {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/tmp/graft_scale")
    val nClones = sys.env.getOrElse("SPARK_GRAFT_CLONES", "2000").toInt
    val spark = Session.local(Session.cpus())

    val boiler = (1 to 40).map(i => s"boilerplate$i").mkString(" ")
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), col("text"))
    // id base far above ScaleGen's replica offsets (rep * 1e8, rep ≤ 15)
    val clones = spark.range(nClones)
      .select((col("id") + 10000000000L).as("doc_id"), lit(boiler).as("text"))
    val corpus = docs.unionByName(clones).repartition(32).cache()
    println(s"corpus: ${corpus.count()} docs ($nClones boilerplate clones)")

    def time(label: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s   pairs=$n")
      n
    }

    val inCluster = nClones.toLong * (nClones - 1) / 2
    val mhUncapped = time("minhash uncapped") {
      operators.Dedup.minhashLshPairs(corpus, maxBucket = Int.MaxValue).count()
    }
    val mhCapped = time("minhash capped(1000)") {
      operators.Dedup.minhashLshPairs(corpus, maxBucket = 1000).count()
    }
    println(s"minhash: cluster pairs suppressed = ${mhUncapped - mhCapped} " +
      s"(expected $inCluster); non-cluster pairs preserved = " +
      (mhUncapped - mhCapped == inCluster))
    val shUncapped = time("simhash uncapped") {
      operators.Dedup.simhashPairsOf(corpus, maxBucket = Int.MaxValue).count()
    }
    val shCapped = time("simhash capped(1000)") {
      operators.Dedup.simhashPairsOf(corpus, maxBucket = 1000).count()
    }
    println(s"simhash: cluster pairs suppressed = ${shUncapped - shCapped} " +
      s"(expected $inCluster); non-cluster pairs preserved = " +
      (shUncapped - shCapped == inCluster))
    spark.stop()
  }
}
