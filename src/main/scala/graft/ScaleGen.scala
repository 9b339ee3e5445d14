package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: replicate the sf0.1 fixtures N× with consistent key offsets to
  * stress the operator suite at a larger scale than the driver fixtures
  * provide. Keys are offset per replica so joins stay consistent;
  * `documents.text` is perturbed per replica (vowel rotation) so the dedup
  * family faces a mostly-unique corpus instead of a degenerate
  * everything-is-a-duplicate one.
  *
  * Run: SPARK_GRAFT_REPL=16 sbt "runMain graft.ScaleGen /tmp/graft_scale"
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_scale")
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "16").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus())

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(repl).select(col("id").as("rep")))

    def offset(c: String, span: Long) =
      (col(c) + col("rep") * span).as(c)

    // spans: next power of ten above each key domain, so offsets never
    // collide across replicas
    val span = 100000000L

    val vowelTargets = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "aeiuo", "eioau", "iouea", "ouaie", "uaeoi", "aieou", "eoiua",
      "ioaue", "oueai", "uoaei", "aoeiu")
    // second perturbation stage keyed on rep/16: replication factors up to
    // 64 stay pairwise-distinct (16 vowel classes × 4 consonant classes).
    // Class 0 is the identity so a 16× corpus is byte-identical to the one
    // the recorded 16× measurements used.
    val consTargets = Seq("bcdfgh", "cdfghb", "dfghbc", "fghbcd")
    val docs = reps(spark.read.parquet(s"$src/documents.parquet"))
      .select(offset("doc_id", span),
        // per-replica consonant-preserving perturbation: most shingles
        // become replica-unique, mimicking a mostly-unique corpus
        // keyed on rep % 16 so replication factors above 16 still perturb
        // every replica (an unmatched fold branch would leave them
        // byte-identical — the degenerate corpus this exists to avoid)
        consTargets.zipWithIndex.foldLeft(
          vowelTargets.zipWithIndex.foldLeft(col("text")) { case (acc, (t, i)) =>
            when(pmod(col("rep"), lit(16)) === i,
              translate(col("text"), "aeiou", t)).otherwise(acc)
          }) { case (acc, (t, i)) =>
          when(pmod(floor(col("rep") / 16).cast("int"), lit(4)) === i,
            translate(acc, "bcdfgh", t)).otherwise(acc)
        }.as("text"),
        col("lang"), col("source"), col("n_chars"))

    val embeddings = reps(spark.read.parquet(s"$src/embeddings.parquet"))
      .select(offset("vec_id", span), col("embedding"), col("label"))

    // events stores TIMESTAMP(NANOS): read the nanos as long (the written
    // replica keeps the long column; Tables.events converts identically)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = reps(spark.read.parquet(s"$src/events.parquet"))
      .select(offset("event_id", span), col("ts"), offset("user_id", span),
        col("event_type"), col("value"), col("props"))

    val lineitem = reps(spark.read.parquet(s"$src/lineitem.parquet"))
      .select(offset("l_orderkey", span), offset("l_partkey", span),
        offset("l_suppkey", span), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    val orders = reps(spark.read.parquet(s"$src/orders.parquet"))
      .select(offset("o_orderkey", span), offset("o_custkey", span),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    val customer = reps(spark.read.parquet(s"$src/customer.parquet"))
      .select(offset("c_custkey", span), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val supplier = reps(spark.read.parquet(s"$src/supplier.parquet"))
      .select(offset("s_suppkey", span), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    val part = reps(spark.read.parquet(s"$src/part.parquet"))
      .select(offset("p_partkey", span) +: spark.read
        .parquet(s"$src/part.parquet").columns.filter(_ != "p_partkey")
        .map(col).toSeq: _*)

    // Fact tables are written as SPARK_GRAFT_PARTS files (default 32 = the
    // stress-bench core count): a single crossJoin output file carries ONE
    // parquet row group, which serializes the scan stage onto one task no
    // matter what maxPartitionBytes says (found in round 9 — the 16×
    // corpus's 9.6M-row lineitem was one row group, so scan-bound queries
    // measured single-core). Production 100 TB tables are thousands of
    // files; a stress fixture must be parallel-readable to measure the
    // plans rather than the fixture's own layout.
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS", "32").toInt
    Seq("documents" -> docs, "embeddings" -> embeddings, "events" -> events,
      "lineitem" -> lineitem, "orders" -> orders, "customer" -> customer,
      "supplier" -> supplier, "part" -> part).foreach { case (n, df) =>
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$n.parquet")
      println(s"[scalegen] $n x$repl written ($parts files)")
    }
    // bounded dims copied as-is
    Seq("nation", "region").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    println(s"[scalegen] done -> $out")
    spark.stop()
  }
}
