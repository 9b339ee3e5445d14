package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Dev A/B for the d06 exact-dedup keeper (SCALE.md): window keeper
  * (one shuffle of the doc rows) vs groupBy+join keeper (fp aggregation +
  * doc_id join). Both feed the SAME single-pass Jaccard stage, so the
  * measured delta is the keeper alone.
  * Usage: Test/runMain graft.tools.KeeperAB <dir> [cpus]
  */
object KeeperAB {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val cpus = if (args.length > 1) args(1).toInt else graft.Session.cpus()
    val spark = graft.Session.local(cpus)

    def docs = spark.read.parquet(s"$d/documents.parquet")

    def windowForm(docs: DataFrame): DataFrame = {
      val byFp = Window.partitionBy(fingerprint(col("text")))
        .orderBy(col("doc_id"))
      val survivors = docs.withColumn("rn", row_number().over(byFp))
        .filter(col("rn") === 1).drop("rn")
      Dedup.jaccardPairsOf(survivors).select(col("doc_a"), col("doc_b"))
    }

    def joinForm(docs: DataFrame): DataFrame = {
      val keepers = docs
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      Dedup.jaccardPairsOf(docs.join(keepers, Seq("doc_id")))
        .select(col("doc_a"), col("doc_b"))
    }

    def time(name: String, mk: => DataFrame): Unit = {
      val rows = mk.count() // warm; row count reused below (no 5th eval)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); mk.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[keeperAB] $name: median ${ts.sorted.apply(1)}%.2f s " +
        f"(min ${ts.min}%.2f) rows=$rows")
    }

    time("window ", windowForm(docs))
    time("gby+join", joinForm(docs))
    spark.stop()
  }
}
