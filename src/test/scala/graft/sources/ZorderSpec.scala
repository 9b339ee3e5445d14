package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** f18's scale claim, measured (the LayoutSkippingSpec method): under a
  * box predicate selective in BOTH dimensions, a z-ordered layout decodes
  * markedly fewer rows than a single-key range layout of the same data —
  * the single-key layout skips on its leading key only and must decode
  * every row group of the matching stripe. Also pins the z-value
  * arithmetic itself on hand-computed interleaves.
  */
class ZorderSpec extends SparkSpec {

  private def scanRows(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }

  test("zvalue8 interleaves bits; bucket8 scales to 0..255") {
    import spark.implicits._
    val r = Seq((0, 0), (255, 0), (0, 255), (3, 5), (255, 255))
      .toDF("a", "b")
      .select(Layouts.zvalue8(col("a"), col("b")).as("z"))
      .collect().map(_.getInt(0)).toSeq
    // (3,5): a bits 011 -> even positions 1+4; b bits 101 -> odd
    // positions 2+32 => 39
    assert(r == Seq(0, 0x5555, 0xAAAA, 39, 0xFFFF), s"z-values: $r")
    val b = Seq((0L, 999L), (999L, 999L), (500L, 999L)).toDF("v", "mx")
      .select(Layouts.bucket8(col("v"), col("mx")).as("k"))
      .collect().map(_.getInt(0)).toSeq
    assert(b == Seq(0, 255, 128), s"buckets: $b")
  }

  test("zvalue8 is the exact Morton interleave (injective on 0..255 x 0..255)") {
    import spark.implicits._
    def ref(a: Int, b: Int): Int =
      (0 until 8).map(i => (((a >> i) & 1) << (2 * i)) |
        (((b >> i) & 1) << (2 * i + 1))).sum
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(1000)((rnd.nextInt(256), rnd.nextInt(256))).distinct
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), Layouts.zvalue8(col("a"), col("b")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2))).toMap
    pairs.foreach { case (a, b) =>
      assert(got((a, b)) == ref(a, b), s"interleave wrong at ($a,$b)") }
    assert(got.values.toSeq.distinct.size == pairs.size,
      "z-values must be unique per distinct input pair (injectivity)")
  }

  test("zvalueK matches a straight-line k-D Morton reference (injective)") {
    import spark.implicits._
    def ref(vals: Seq[Int], bits: Int): Long = {
      val k = vals.size
      (for (j <- 0 until k; i <- 0 until bits)
        yield ((vals(j).toLong >> i) & 1L) << (i * k + j)).sum
    }
    val rnd = new scala.util.Random(7)
    for ((k, bits) <- Seq((2, 8), (3, 6), (3, 8), (4, 4))) {
      val tuples = Seq.fill(600)(Seq.fill(k)(rnd.nextInt(1 << bits))).distinct
      val df = tuples.map(t => (t.head, t(1), if (k > 2) t(2) else 0,
        if (k > 3) t(3) else 0)).toDF("a", "b", "c", "d")
      val cols = Seq(col("a"), col("b"), col("c"), col("d")).take(k)
      val got = df.select((Seq(col("a"), col("b"), col("c"), col("d")) :+
          Layouts.zvalueK(cols, bits).as("z")): _*)
        .collect().map(r => (Seq(r.getInt(0), r.getInt(1), r.getInt(2),
          r.getInt(3)).take(k), r.getLong(4))).toMap
      tuples.foreach { t =>
        assert(got(t) == ref(t, bits), s"k=$k bits=$bits wrong at $t") }
      assert(got.values.toSeq.distinct.size == tuples.size,
        s"k=$k bits=$bits: z-values must be injective")
    }
    // zvalue8 is the k=2, bits=8 case of the same encoding
    val pairs = Seq.fill(200)((rnd.nextInt(256), rnd.nextInt(256))).distinct
    val both = pairs.toDF("a", "b").select(
        Layouts.zvalue8(col("a"), col("b")).cast("long").as("z2"),
        Layouts.zvalueK(Seq(col("a"), col("b")), 8).as("zk"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      "zvalueK(k=2,bits=8) must equal zvalue8"))
  }

  test("3-D z-order beats 2-D and single-key under a 3-D box probe") {
    import spark.implicits._
    // row-group granularity bounds what ANY layout can skip: at ~1000
    // rows/group a 3-D group only resolves ~5 bits/dim and the third
    // dimension barely registers. The distinct-md5 payload defeats
    // columnar compression so the 8 KB block target lands at ~80
    // rows/group (~6000 groups over 500k) — enough resolution for the
    // third key to separate from the 2-D layout.
    val n = 500000
    val rows = spark.range(n.toLong).select(
      (col("id") % 1000).as("x"),
      (col("id") * 7919L % 997).as("y"),
      (col("id") * 6271L % 991).as("w"),
      col("id").as("v"),
      repeat(md5(col("id").cast("string")), 4).as("pad"))
    val mx = rows.agg(max(col("x")).as("mx"), max(col("y")).as("my"),
      max(col("w")).as("mw"))
    def writeClustered(dir: String, zc: DataFrame => org.apache.spark.sql.Column): Unit =
      rows.crossJoin(broadcast(mx)).withColumn("z", zc(rows))
        .drop("mx", "my", "mw")
        .repartitionByRange(4, col("z")).sortWithinPartitions(col("z"))
        .drop("z")
        .write.option("parquet.block.size", 8 * 1024)
        .option("parquet.page.size", 4 * 1024)
        .mode("overwrite").parquet(dir)
    val d3 = tmpDir("z3d"); val d2 = tmpDir("z2d"); val d1 = tmpDir("z1d")
    writeClustered(d3, _ => Layouts.zvalueK(Seq(
      Layouts.bucketN(col("x"), col("mx"), 8),
      Layouts.bucketN(col("y"), col("my"), 8),
      Layouts.bucketN(col("w"), col("mw"), 8)), 8))
    writeClustered(d2, _ => Layouts.zvalueK(Seq(
      Layouts.bucketN(col("x"), col("mx"), 8),
      Layouts.bucketN(col("y"), col("my"), 8)), 8))
    writeClustered(d1, _ => col("x"))

    // ~5% per dimension box — selective in ALL THREE keys, the workload
    // a third clustering column exists for
    def q(dir: String): DataFrame =
      spark.read.parquet(dir)
        .where(col("x") >= 200 && col("x") < 250 &&
          col("y") >= 500 && col("y") < 550 &&
          col("w") >= 100 && col("w") < 150)
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
    val answers = Seq(d3, d2, d1).map(dir => q(dir).collect().head)
    assert(answers.distinct.size == 1, "layouts must agree on the answer")
    val r3 = scanRows(q(d3)); val r2 = scanRows(q(d2)); val r1 = scanRows(q(d1))
    assert(r2 * 2 <= r1,
      s"2-D layout must beat the single-key stripe: $r2 vs $r1")
    assert(r3 * 2 <= r2,
      s"3-D layout must beat 2-D under a 3-D box: $r3 vs $r2")
  }

  test("z-order decodes the box; single-key layout decodes the stripe") {
    import spark.implicits._
    val n = 250000
    // two dims with coprime cycles (1000 vs 997), so (x, y) covers the
    // plane instead of tracing a short lattice
    val rows = spark.range(n.toLong).select(
      (col("id") % 1000).as("x"),
      (col("id") * 7919L % 997).as("y"),
      col("id").as("v"))
    val mx = rows.agg(max(col("x")).as("mc"), max(col("y")).as("mo"))
    val zdir = tmpDir("zorder")
    val kdir = tmpDir("keyorder")
    // exact range bounds (every row sampled), so the layouts, and the
    // rows the probes decode, do not depend on the RDD ids earlier suites
    // used to seed the sample; 8 KiB row groups let the box skip at a
    // granularity finer than its z-ranges
    withConf("spark.sql.execution.rangeExchange.sampleSizePerPartition" ->
        n.toString) {
      rows.crossJoin(broadcast(mx))
        .withColumn("z", Layouts.zvalue8(
          Layouts.bucket8(col("x"), col("mc")),
          Layouts.bucket8(col("y"), col("mo"))))
        .drop("mc", "mo")
        .repartitionByRange(4, col("z")).sortWithinPartitions(col("z"))
        .drop("z")
        .write.option("parquet.block.size", 8 * 1024)
        .mode("overwrite").parquet(zdir)
      rows.repartitionByRange(4, col("x")).sortWithinPartitions(col("x"))
        .write.option("parquet.block.size", 8 * 1024)
        .mode("overwrite").parquet(kdir)
    }

    // ~10% x ~10% box
    def q(dir: String): DataFrame =
      spark.read.parquet(dir)
        .where(col("x") >= 200 && col("x") < 300 &&
          col("y") >= 500 && col("y") < 600)
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))

    val a = q(zdir).collect().head
    val b = q(kdir).collect().head
    assert(a == b, "layouts must agree on the answer")

    val boxRows = scanRows(q(zdir))
    val stripeRows = scanRows(q(kdir))
    // the stripe layout decodes ~10% of n; the z layout a tight box
    assert(stripeRows >= n / 20,
      s"single-key layout should decode the x-stripe, got $stripeRows")
    assert(boxRows * 3 <= stripeRows,
      s"z-order must decode >=3x fewer rows: $boxRows vs $stripeRows")
  }
}
