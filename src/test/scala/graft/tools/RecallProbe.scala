package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Dev tool (never ships): raw recall of one approximate top-k operator
  * against the exact s01 top-k at a given sf dir, to keep the pinned
  * verdict thresholds honest — s09 random projection (`rp`), s08 PQ-ADC
  * (`pq`) or s10 IVF-PQ (`ivfpq`).
  * Run: Test/runMain graft.tools.RecallProbe <rp|pq|ivfpq> [sfDir]
  * (sfDir defaults to SPARK_GRAFT_SF_DIR).
  */
object RecallProbe {
  private val approx: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rp" -> Similarity.rpTopK, "pq" -> Similarity.pqTopK,
    "ivfpq" -> Similarity.ivfPqTopK)

  def main(args: Array[String]): Unit = {
    val usage = "usage: RecallProbe <rp|pq|ivfpq> [sfDir]"
    val kind = args.headOption.filter(approx.contains)
      .getOrElse(sys.error(usage))
    val d = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error(usage))
    val spark = graft.Session.local(graft.Session.cpus())
    val ex = graft.SparkEntry.queries("s01_cosine_topk")(spark, d)
      .select(col("query_id"), col("neighbor_id"))
    val ap = approx(kind)(spark, d)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
    val row = ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("hit"), lit(0))).as("h"))
      .head()
    println(s"RECALLPROBE $kind dir=$d topk=${row.getLong(0)} " +
      s"hits=${row.getLong(1)} " +
      f"recall=${row.getLong(1).toDouble / row.getLong(0)}%.3f")
    spark.stop()
  }
}
