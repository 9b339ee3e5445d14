package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryPack, Tables => T}

/** Relational operator surface (SURVEY.md §2.2).
  *
  * The reference delegates all relational computation to its host engines
  * (evidence: the connector's only verbs are stream-in/out/merge,
  * reference hdfsconnector.hpp:33-41); this pack supplies that surface with
  * Spark built-ins so the combined capability (ingest → query → egress) lives
  * in one system.
  *
  * Oracle-parity rules used throughout (driver hashes values after sorting
  * columns by name):
  *  - money/quantity aggregates go through exact DECIMAL casts, never raw
  *    double sums (FP summation order differs between engines) — but the
  *    FINAL output column is cast to DOUBLE on both sides. Empirically (the
  *    round-1 hash failures, reproduced 61/61 by scripts/selfcheck.py) the
  *    driver stringifies the Spark result's decimals with their scale
  *    ("138014.00") and the oracle's through float64 ("138014.0"), so a
  *    decimal-typed output can never hash-match when a value has trailing
  *    zeros. The exact decimal sum is computed first; the single final
  *    cast is exact for all checked scale factors (|unscaled| < 2^53).
  *  - every query ends in a total ORDER BY (unique tie-break) so row order is
  *    deterministic in both engines;
  *  - ASC null ordering is pinned (Spark default NULLS FIRST vs DuckDB
  *    default NULLS LAST).
  */
object Relational extends QueryPack {

  private def qty(c: Column)   = c.cast("decimal(18,2)")
  private def money(c: Column) = c.cast("decimal(18,2)")
  private def pct(c: Column)   = c.cast("decimal(18,4)")
  /** Final-output cast: exact decimal aggregate → double (see scaladoc).
    *
    * Guarded: the cast is exact only while the decimal's unscaled magnitude
    * is below 2^53 — beyond that, double rounding is value-dependent and
    * Spark/DuckDB may diverge by 1 ulp (reachable for money sums around
    * SF 400 at the 100 TB design scale). Fail loudly at the boundary rather
    * than let the correctness gate report a mysterious hash mismatch.
    * `scale` is the operand's decimal scale (2 for money/qty sums, 6 for
    * money×pct products, matching `money`/`pct` above).
    */
  private def dbl(c: Column, scale: Int = 2): Column = {
    // 2^53 / 10^scale, exact (division by a power of ten is exact in BigDecimal)
    val lim = BigDecimal(9007199254740992L) / BigDecimal(10).pow(scale)
    when(abs(c) >= lit(lim), raise_error(concat(
        lit(s"graft: decimal->double final cast no longer exact (|x| >= $lim, unscaled >= 2^53): "),
        c.cast("string"))))
      .otherwise(c.cast("double"))
  }

  /** r21 money-sum representation: exact integer units of 10^-scale.
    * The per-row DECIMAL conversion (and therefore the declared rounding
    * semantics of money()/qty()/pct()) is unchanged — the decimal value
    * is integer-valued at its scale, so ×10^scale → LONG is exact — but
    * the SUM buffer switches from Spark's Decimal (object per update;
    * measured 2× the whole aggregation at sf0.1: 0.96 s vs 0.48 s for
    * the q01 aggregate) to primitive long codegen. ANSI long sums throw
    * on overflow, which cannot happen before [[dblFromUnits]]'s 2^53
    * guard bound (1000× smaller) is crossed on the same sum.
    */
  private[operators] def units(c: Column, scale: Int): Column =
    (c * lit(BigDecimal(10).pow(scale))).cast("long")

  /** Final cast for a long units-sum: bit-identical to the former
    * decimal-sum → double cast. Within the guard (|unscaled| < 2^53) the
    * long→double conversion is exact and the single division by the
    * exactly-representable 10^scale rounds once to nearest — the same
    * nearest-double of the same exact rational BigDecimal.doubleValue
    * produced. The guard condition |units| ≥ 2^53 is the former
    * |value| ≥ 2^53/10^scale verbatim, both exact comparisons.
    */
  private[operators] def dblFromUnits(c: Column, scale: Int = 2): Column =
    when(abs(c) >= lit(9007199254740992L), raise_error(concat(
        lit(s"graft: decimal->double final cast no longer exact " +
          s"(|units| >= 2^53 at scale $scale): "),
        c.cast("string"))))
      .otherwise(c.cast("double") / lit(BigDecimal(10).pow(scale).toDouble))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- aggregation ---------------------------------------------------------
    "q01_pricing_summary" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          dblFromUnits(sum(units(qty($"l_quantity"), 2))).as("sum_qty"),
          dblFromUnits(sum(units(money($"l_extendedprice"), 2))).as("sum_base_price"),
          dblFromUnits(sum(units(money($"l_extendedprice"), 2) *
            units(lit(BigDecimal(1)) - pct($"l_discount"), 4)), 6).as("sum_disc_price"),
          dblFromUnits(sum(units(money($"l_extendedprice"), 2) *
            units(lit(BigDecimal(1)) + pct($"l_tax"), 4)), 6).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),
    "q06_forecast_revenue" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
                $"l_shipdate" <  lit("1996-01-01").cast("timestamp") &&
                $"l_discount".between(0.03, 0.07) && $"l_quantity" < 24)
        .agg(dblFromUnits(sum(units(money($"l_extendedprice"), 2) *
               units(pct($"l_discount"), 4)), 6).as("revenue"),
             count(lit(1)).as("n"))
    }),
    // Multi-distinct in ONE groupBy: Spark plans an Expand replicating
    // each row once per distinct column set — 3× the row stream through
    // one aggregate, but ONE table scan. Kept deliberately as the
    // single-scan form (the 100 TB shape when the scan dominates); q24
    // demonstrates the split-subtree alternative and its tradeoff.
    // (r21 audit: a pre-Expand DISTINCT on (flag, pk, sk) was tried and
    // produced a bit-identical physical plan — the planner's partial
    // aggregate after Expand already dedups map-side, so the explicit
    // pre-dedup is subsumed. Left in the single-scan form.)
    "q08_distinct_agg" -> ((s, d) => {
      import s.implicits._
      // spread the single-split scan so the Expand(x3)+partial-distinct
      // map stage runs wide (T.spread, guide §2.5) — still ONE scan
      T.spread(T.lineitem(s, d), $"l_orderkey")
        .groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_parts"),
             countDistinct($"l_suppkey").as("n_supps"),
             countDistinct($"l_partkey", $"l_suppkey").as("n_part_supp"))
        .orderBy($"l_returnflag")
    }),

    // Explicit GROUPING SETS (beyond rollup/cube shorthands).
    "q11_grouping_sets" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .groupingSets(
          Seq(Seq($"o_orderstatus", $"o_orderpriority"),
            Seq($"o_orderstatus"), Seq()),
          $"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          dblFromUnits(sum(units(money($"o_totalprice"), 2))).as("total"))
        .orderBy($"o_orderstatus".asc_nulls_first,
          $"o_orderpriority".asc_nulls_first)
    }),
    // HLL sketch distinct (approx_count_distinct). Sketches are
    // engine-specific, so the cross-engine contract is the error bound:
    // both engines' HLL must land within 5% of the exact count — the
    // boolean verdicts and exact counts are what the oracle hashes.
    // rsd=0.01 (not the 0.05 default) keeps the 5% bound at ~5σ so the
    // verdict is stable across scale factors.
    //
    // The two aggregates run as SEPARATE lean subtrees joined on the
    // (tiny) group key: a single groupBy mixing countDistinct with
    // another aggregate plans an Expand that replicates every input row
    // through both aggregate paths — measured 3.6 s at sf0.1 vs 1.4 s
    // for this form (each aggregation two-phase and map-side combined,
    // plus a 3-row join). Tradeoff, documented deliberately: this form
    // scans the table twice, so it wins when the input is memory/cache
    // resident or the aggregate CPU dominates (the HLL's per-row sketch
    // update does); q08 below keeps the single-scan Expand form — the
    // shape you'd pick when the scan itself is the dominant cost.
    "q24_approx_distinct" -> ((s, d) => {
      import s.implicits._
      // NOT spread (measured 1.16 -> 1.58 s): both arms are
      // distinct-dominated partial aggregations, so one map partition
      // dedupes (flag, partkey) pairs once while spreading multiplies the
      // partial-state rows crossing the exchange by the partition count
      val li = T.lineitem(s, d)
      val exact = li.groupBy($"l_returnflag")
        .agg(countDistinct($"l_partkey").as("n_exact"))
      val approx = li.groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey", 0.01).as("n_approx"))
      exact.join(approx, Seq("l_returnflag"))
        .select($"l_returnflag", $"n_exact",
          (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("hll_ok"))
        .orderBy($"l_returnflag")
    }),

    // GK-sketch percentile (percentile_approx, Greenwald–Khanna SIGMOD'01).
    // Like q24, the sketch output is engine-specific, so the cross-engine
    // contract is the sketch's own guarantee: with accuracy a, the rank of
    // the returned element must lie within n/a of the target rank. The
    // verdict row carries the recomputed row count plus the rank-contract
    // booleans (slack 2·n/a + 2 to absorb duplicate values at the cut).
    "q34_approx_percentile" -> ((s, d) => {
      import s.implicits._
      val t = T.lineitem(s, d).select($"l_extendedprice".cast("double").as("x"))
      val ap = t.agg(
        percentile_approx($"x", lit(0.5), lit(1000)).as("a50"),
        percentile_approx($"x", lit(0.9), lit(1000)).as("a90"))
      t.crossJoin(broadcast(ap))
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"x" <= $"a50", 1L).otherwise(0L)).as("r50"),
          sum(when($"x" <= $"a90", 1L).otherwise(0L)).as("r90"))
        .select($"n_rows",
          (abs($"r50" - $"n_rows" * 0.5) <= $"n_rows" * 0.002 + 2)
            .as("p50_rank_ok"),
          (abs($"r90" - $"n_rows" * 0.9) <= $"n_rows" * 0.002 + 2)
            .as("p90_rank_ok"))
    }),

    // The SQL entry point: the same Catalyst pipeline through spark.sql
    // text over registered views (the engine's second query language).
    "q32_sql_interface" -> ((s, d) => {
      T.lineitem(s, d).createOrReplaceTempView("g_lineitem")
      T.orders(s, d).createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM g_orders
        WHERE EXISTS (
          SELECT 1 FROM g_lineitem
          WHERE l_orderkey = o_orderkey AND l_quantity > 49)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),

    // LATERAL correlated table subquery (q43): per-nation top-2 customers
    // by balance via `, LATERAL (... ORDER BY ... LIMIT 2)` — the
    // SQL-standard form of a dependent row-generating join (Spark ≥ 3.2's
    // DecorrelateInnerQuery rewrites it to the q12 window form — same
    // WindowGroupLimit physical shape, checked in the plan — so the
    // declared lateral costs nothing over the hand-written window).
    // DuckDB runs the identical statement. Stored doubles compare
    // exactly: no arithmetic touches c_acctbal.
    "q43_lateral_topn" -> ((s, d) => {
      T.customer(s, d).createOrReplaceTempView("g_customer")
      T.nation(s, d).createOrReplaceTempView("g_nation")
      s.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM g_nation n,
        LATERAL (SELECT c_name, c_acctbal FROM g_customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""")
    }),

    // -- projection / filter (pushdown surface) ------------------------------
    "q02_filter_project" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .filter($"l_shipdate" >= lit("1997-06-01").cast("timestamp") &&
                $"l_quantity" < 5 && $"l_discount" > 0.08)
        .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
        .orderBy($"l_orderkey", $"l_linenumber")
    }),

    // -- joins ---------------------------------------------------------------
    "q03_revenue_by_segment" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d); val o = T.orders(s, d); val c = T.customer(s, d)
      // no broadcast hint on orders/customer: they scale with the fact
      // table, so the join strategy must stay stats/AQE-driven (explicit
      // broadcast() is reserved for bounded dims like nation/region)
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(dblFromUnits(sum(units(money($"l_extendedprice"), 2) *
               units(lit(BigDecimal(1)) - pct($"l_discount"), 4)), 6).as("revenue"),
             count(lit(1)).as("n_lines"))
        .orderBy($"c_mktsegment")
    }),
    "q05_nation_revenue" -> ((s, d) => {
      import s.implicits._
      val li = T.lineitem(s, d); val o = T.orders(s, d); val c = T.customer(s, d)
      val su = T.supplier(s, d); val n = T.nation(s, d); val r = T.region(s, d)
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(su, $"l_suppkey" === $"s_suppkey")
        .join(c, $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(dblFromUnits(sum(units(money($"l_extendedprice"), 2) *
               units(lit(BigDecimal(1)) - pct($"l_discount"), 4)), 6).as("revenue"))
        .orderBy($"r_name", $"n_name")
    }),
    "q04_semi_join" -> ((s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val li = T.lineitem(s, d).filter($"l_returnflag" === "R")
      o.join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy($"o_orderpriority")
    }),
    "q07_anti_join" -> ((s, d) => {
      import s.implicits._
      val c = T.customer(s, d)
      val o = T.orders(s, d).filter($"o_orderstatus" === "F")
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy($"c_mktsegment")
    }),
    "q23_theta_join" -> ((s, d) => {
      import s.implicits._
      val n1 = T.nation(s, d).select($"n_nationkey".as("a_key"), $"n_name".as("a_name"),
                                     $"n_regionkey".as("a_region"))
      val n2 = T.nation(s, d).select($"n_nationkey".as("b_key"), $"n_name".as("b_name"),
                                     $"n_regionkey".as("b_region"))
      n1.join(n2, $"a_key" < $"b_key" && $"a_region" === $"b_region")
        .select($"a_name", $"b_name")
        .orderBy($"a_name", $"b_name")
    }),

    // -- rollup / cube / grouping sets ---------------------------------------
    "q09_rollup" -> ((s, d) => {
      import s.implicits._
      T.lineitem(s, d)
        .rollup($"l_returnflag", $"l_linestatus")
        .agg(dblFromUnits(sum(units(qty($"l_quantity"), 2))).as("sum_qty"),
             count(lit(1)).as("n"))
        .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
    }),
    "q10_cube" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(dblFromUnits(sum(units(money($"o_totalprice"), 2))).as("sum_price"),
             count(lit(1)).as("n"))
        .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    }),

    // -- window functions ----------------------------------------------------
    "q12_window_rank" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"l_returnflag")
        .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      // spread so the map-side WindowGroupLimit top-5 prefilter runs wide
      // over the single-split scan; each task emits <= 5 rows per flag
      T.spread(T.lineitem(s, d), $"l_orderkey")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"l_returnflag", $"rn", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
        .orderBy($"l_returnflag", $"rn")
    }),
    "q13_window_running" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T.orders(s, d)
        .filter($"o_custkey" < 100)
        .withColumn("running_spend",
          dblFromUnits(sum(units(money($"o_totalprice"), 2)).over(w)))
        .select($"o_custkey", $"o_orderkey", $"running_spend")
        .orderBy($"o_custkey", $"o_orderkey")
    }),
    "q14_lag_lead" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      T.events(s, d)
        .filter($"user_id" < 50)
        .withColumn("prev_value", lag($"value", 1).over(w))
        .withColumn("next_type", lead($"event_type", 1).over(w))
        .select($"user_id", $"event_id", $"value", $"prev_value", $"next_type")
        .orderBy($"user_id", $"event_id")
    }),

    // Distribution-rank window family + a RANGE-interval frame. The rank
    // fractions integerize (floor ×1e6) and the rolling sum runs over
    // integer cents on an epoch-micros RANGE frame, so every output column
    // is engine-order-independent and hash-matchable. The range frame is
    // the event-time rolling aggregate shape (per-key state bounded by the
    // hour window at any scale — the batch twin of a sliding stream agg).
    "q36_window_dist" -> ((s, d) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wRange = Window.partitionBy($"user_id").orderBy($"us")
        .rangeBetween(-3600000000L, 0L) // 1 hour in micros
      T.events(s, d)
        .filter($"user_id" < 100)
        .withColumn("us", unix_micros($"ts"))
        .withColumn("cents", floor($"value" * 100).cast("long"))
        .select($"user_id", $"event_id",
          ntile(4).over(w).as("quartile"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("pr_micro"),
          floor(cume_dist().over(w) * 1000000).cast("long").as("cd_micro"),
          sum($"cents").over(wRange).as("hour_cents"))
        .orderBy($"user_id", $"event_id")
    }),

    // -- sort / top-k --------------------------------------------------------
    "q15_topk" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .limit(10)
    }),

    // -- set operations ------------------------------------------------------
    "q16_union" -> ((s, d) => {
      import s.implicits._
      val a = T.customer(s, d).filter($"c_mktsegment" === "BUILDING").select($"c_nationkey".as("k"))
      val b = T.supplier(s, d).select($"s_nationkey".as("k"))
      a.union(b).distinct().orderBy($"k")
    }),
    "q17_intersect" -> ((s, d) => {
      import s.implicits._
      val a = T.customer(s, d).select($"c_nationkey".as("k"))
      val b = T.supplier(s, d).select($"s_nationkey".as("k"))
      a.intersect(b).orderBy($"k")
    }),
    "q18_except" -> ((s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val a = o.filter($"o_orderstatus" === "F").select($"o_custkey".as("k"))
      val b = o.filter($"o_orderstatus" === "O").select($"o_custkey".as("k"))
      a.except(b).orderBy($"k")
    }),

    // MULTISET set ops (exceptAll / intersectAll — bag semantics, the SQL
    // ALL variants): multiplicity-preserving, so the result is summarized
    // by per-key counts for a deterministic hashable output. Both plan as
    // aggregate+join under the hood — no sort, shuffle on the key.
    "q37_set_all" -> ((s, d) => {
      import s.implicits._
      val a = T.customer(s, d).select($"c_nationkey".as("k"))
      val b = T.supplier(s, d).select($"s_nationkey".as("k"))
      val ex = a.exceptAll(b).groupBy($"k").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).groupBy($"k").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("intersect_all"))
      ex.unionByName(in).orderBy($"op", $"k")
    }),

    // NULL aggregation semantics: a sparse LEFT JOIN so the output
    // exercises count(*) vs count(col) (null-skipping), null-counting,
    // and a nullable MIN — the null contract every SQL engine must agree
    // on, hash-pinned cross-engine.
    "q39_null_agg" -> ((s, d) => {
      import s.implicits._
      val big = T.orders(s, d).filter($"o_totalprice" > 400000.0)
      T.customer(s, d)
        .join(big, $"c_custkey" === $"o_custkey", "left")
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_rows"),
          count($"o_orderkey").as("n_orders"),
          sum(when($"o_orderkey".isNull, 1L).otherwise(0L)).as("n_without"),
          dbl(min(money($"o_totalprice"))).as("min_big"))
        .orderBy($"c_nationkey")
    }),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // MATCH each other, unlike plain equality — the semantics grouped
    // data with a null bucket needs to join on.
    "q40_null_safe_join" -> ((s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val a = o.select(nullif($"o_orderstatus", lit("O")).as("k"))
        .groupBy($"k").agg(count(lit(1)).as("na"))
      val b = o.filter($"o_totalprice" > 150000.0)
        .select(nullif($"o_orderstatus", lit("O")).as("k"))
        .groupBy($"k").agg(count(lit(1)).as("nb"))
      a.join(b.withColumnRenamed("k", "kb"), $"k" <=> $"kb", "left")
        .select($"k", $"na", $"nb")
        .orderBy($"k".asc_nulls_first)
    }),

    // MERGEABLE HLL sketches (Apache DataSketches, Spark 3.5+): per-group
    // sketches built in one pass, then UNIONED into a global estimate —
    // the at-rest pattern a 100 TB deployment uses (persist per-partition
    // sketch columns, merge at query time instead of rescanning; the
    // q24 approx_count_distinct form rebuilds its sketch per query).
    // Verdict oracle (q24 pattern): exact count recomputed by DuckDB, the
    // estimate gated at ±5% engine-side.
    "q38_hll_merge" -> ((s, d) => {
      val sk = T.customer(s, d).groupBy(col("c_nationkey"))
        .agg(hll_sketch_agg(col("c_custkey")).as("sk"))
      val est = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
      val exact = T.customer(s, d)
        .agg(count_distinct(col("c_custkey")).as("n_exact"))
      est.crossJoin(exact).select(col("n_exact"),
        (abs(col("est") - col("n_exact")) <= col("n_exact") * 0.05)
          .cast("int").as("within_tol"))
    }),

    // -- scalar function families --------------------------------------------
    "q19_string_funcs" -> ((s, d) => {
      import s.implicits._
      T.customer(s, d)
        .filter($"c_custkey" <= 200)
        .select(
          $"c_custkey",
          upper($"c_name").as("uname"),
          lower($"c_mktsegment").as("lseg"),
          substring($"c_name", 1, 8).as("prefix8"),
          length($"c_name").as("name_len"),
          concat($"c_mktsegment", lit(":"), $"c_name").as("tagged"),
          regexp_replace($"c_name", "0+", "0").as("squeezed"),
          lpad($"c_custkey".cast("string"), 8, "0").as("padded"))
        .orderBy($"c_custkey")
    }),
    "q20_date_funcs" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .filter($"o_orderkey" <= 500)
        .select(
          $"o_orderkey",
          year($"o_orderdate").as("y"),
          month($"o_orderdate").as("m"),
          dayofmonth($"o_orderdate").as("dom"),
          quarter($"o_orderdate").as("q"),
          date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
          $"o_orderdate".cast("date").as("odate"))
        .orderBy($"o_orderkey")
    }),
    "q21_math_funcs" -> ((s, d) => {
      import s.implicits._
      T.part(s, d)
        .filter($"p_partkey" <= 300)
        .select(
          $"p_partkey",
          abs($"p_size" - 25).as("dist25"),
          floor($"p_retailprice").as("fl"),
          ceil($"p_retailprice").as("ce"),
          // dbl() like every other decimal output — passing as a bare
          // decimal only worked because scale-1 strings happen to coincide
          // with float repr (ADVICE r3)
          dbl(round(money($"p_retailprice"), 1), 1).as("rd1"),
          pmod($"p_partkey", lit(7)).as("m7"),
          pow($"p_size".cast("double"), 2).cast("long").as("sz2"))
        .orderBy($"p_partkey")
    }),
    "q22_case_when" -> ((s, d) => {
      import s.implicits._
      T.orders(s, d)
        .select($"o_orderkey",
          when($"o_totalprice" < 50000, "small")
            .when($"o_totalprice" < 150000, "medium")
            .otherwise("large").as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("n"))
        .orderBy($"bucket")
    }),

    // -- subqueries ----------------------------------------------------------
    "q25_scalar_subquery" -> ((s, d) => {
      T.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders_v
        WHERE o_totalprice > (SELECT max(o_totalprice) * 0.95 FROM orders_v)
        ORDER BY o_orderkey""")
    }),

    // -- pivot ---------------------------------------------------------------
    "q26_pivot" -> ((s, d) => {
      import s.implicits._
      val c = T.customer(s, d); val n = T.nation(s, d)
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .pivot($"c_mktsegment",
               Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy($"n_name")
    }),

    // UNPIVOT / melt (q42): the inverse of q26 — the same pivoted wide
    // table folded back to (n_name, segment, n) long form, zeros included
    // (the dense melt a feature matrix needs). Physically an Expand
    // generator: each wide row emits 5 narrow rows map-side, no shuffle
    // beyond the pivot's own aggregation — the cheap direction at any
    // scale. The oracle replays it as a dense (nation × segment) frame.
    "q42_unpivot" -> ((s, d) => {
      import s.implicits._
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      val c = T.customer(s, d); val n = T.nation(s, d)
      val wide = c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .pivot($"c_mktsegment", segs)
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(Array($"n_name"), segs.map(col).toArray, "segment", "n")
        .orderBy($"n_name", $"segment")
    }),

    // -- array functions -----------------------------------------------------
    "q27_explode_array" -> ((s, d) => {
      import s.implicits._
      T.embeddings(s, d)
        .filter($"vec_id" < 5)
        .select($"vec_id", posexplode($"embedding").as(Seq("pos", "val")))
        .orderBy($"vec_id", $"pos")
    }),

    // -- windowed time aggregation (batch form of the streaming op) ----------
    "q29_tumbling_window" -> ((s, d) => {
      import s.implicits._
      T.events(s, d)
        .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
        .agg(count(lit(1)).as("n"),
          dblFromUnits(sum(units(money($"value"), 2))).as("sum_value"))
        .select($"w.start".as("bucket"), $"event_type", $"n", $"sum_value")
        .orderBy($"bucket", $"event_type")
    }),

    // -- recursive CTE (SQL-native iteration, new in Spark 4) ----------------
    // q35: depth-bounded chain walk — each customer's orders ranked by date
    // form an acyclic chain; the recursion walks the first 8 links carrying
    // a running total. THIS statistic has a window-function equivalent; the
    // query exists to pin the `WITH RECURSIVE` surface itself (the
    // BOM-explosion / graph-walk shape, where no window form exists) with
    // the IDENTICAL statement on both engines. Engine notes: Spark supports
    // only UNION ALL recursion (no deduplicating UNION — cyclic closure
    // stays on d08's label-prop), so termination is structural: the chain
    // is acyclic by row_number construction and the depth guard bounds the
    // iteration count at 8 regardless of data size. Money integerizes to
    // cents via explicit floor (Spark truncates double→bigint casts, DuckDB
    // rounds) and the per-step sum is defined sequentially by the recursion
    // itself, so cum_cents is engine-order-independent. Scale: each level
    // joins a ≤1-row-per-customer frontier (shrinking as chains end) to the
    // ranked chain on (custkey, rn) — 8 bounded hash joins; the anchor's
    // window is the only corpus-wide shuffle.
    "q35_recursive_chain" -> ((s, d) => {
      // All session mutations (the recursion row-limit conf, the temp
      // views) are scoped to a throwaway child session — same
      // SparkContext, same SQL confs from the builder, but its own conf +
      // catalog state, so nothing leaks into the caller's session
      // (round-9 verdict: the previous session-global conf set and leaked
      // cache were a cross-query interference vector).
      val s2 = s.newSession()
      // Spark's recursion guardrails: the LEVEL limit (default 100) never
      // binds — the depth guard stops at 8 — but the cumulative ROW limit
      // (default 1e6, a runaway-recursion protection sized for interactive
      // use) is data-proportional: this walk emits ≤ 8 rows per customer,
      // which passes 1e6 at ~16× sf0.1. Raise it to the max — termination
      // is already structural (acyclic chain + depth guard), so the row
      // cap adds no safety here, only a scale ceiling.
      s2.conf.set("spark.sql.cteRecursionRowLimit", Int.MaxValue)
      T.orders(s2, d).createOrReplaceTempView("g_orders")
      // Materialize the iteration-INVARIANT side once: Spark's recursion
      // inlines non-recursive CTEs into every level, so an unmaterialized
      // `ranked` re-scans orders and re-runs its window 8× (measured 22 s
      // at 16× / 71 s at 64×). Materialize to parquet, not `.cache()` —
      // the CacheManager is shared across ALL sessions, so a cached plan
      // from a query builder outlives the query and competes with every
      // later query's execution memory; a parquet side-file is bounded,
      // re-read 8× from page cache ((custkey, key, cents, rn) ≈ 32 B/row,
      // ~310 MB at 64× sf0.1), and free to evict. This is the general
      // recursive-query posture at scale: persist the edge table, iterate
      // only the frontier.
      val out = Formats.ioDir(d, "q35_ranked")
      Formats.writeOnce(s2, out) {
        s2.sql(rankedChainSql("g_orders"))
          .write.mode("overwrite").parquet(out)
      }
      T.parquet(s2, out).createOrReplaceTempView("g_ranked")
      s2.sql(s"WITH RECURSIVE $chainWalkSql FROM g_ranked WHERE rn = 1" +
        chainWalkTail)
    })
  )

  /** The ranked-chain derivation — on the Spark side materialized once
    * (cached view) because recursion re-executes non-recursive CTEs per
    * level; the oracle inlines it as a CTE of the same text.
    */
  private def rankedChainSql(table: String): String = s"""
    SELECT o_custkey, o_orderkey,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
           CAST(row_number() OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS rn
    FROM $table"""

  /** The recursive walk, shared between both engines: the anchor FROM and
    * the recursive-step table name are spliced by the callers below.
    */
  private val chainWalkSql = """
    walk AS (
      SELECT o_custkey, rn, o_orderkey, cents AS cum_cents"""

  private def chainWalkTail: String = s"""
      UNION ALL
      SELECT /*+ BROADCAST(w) */
             r.o_custkey, r.rn, r.o_orderkey, w.cum_cents + r.cents
      FROM walk w JOIN g_ranked r
        ON r.o_custkey = w.o_custkey AND r.rn = w.rn + 1
      WHERE w.rn < 8)
    SELECT o_custkey AS custkey, rn AS step, o_orderkey AS orderkey,
           cum_cents
    FROM walk ORDER BY custkey, step"""

  /** The one-statement oracle form (DuckDB): identical ranked text inlined
    * as a CTE named g_ranked so the walk text is shared verbatim.
    */
  private def recursiveChainSql(table: String): String = s"""
    WITH RECURSIVE g_ranked AS (${rankedChainSql(table)}),
    $chainWalkSql FROM g_ranked WHERE rn = 1 $chainWalkTail"""

  override def oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS sum_disc_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 + CAST(l_tax AS DECIMAL(18,4)))) AS DOUBLE) AS sum_charge,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",
    "q06_forecast_revenue" -> """
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
        AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""",
    "q08_distinct_agg" -> """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q11_grouping_sets" -> """
      SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderstatus), ())
      ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q24_approx_distinct" -> """
      SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact,
             abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
               <= count(DISTINCT l_partkey) * 0.05 AS hll_ok
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    // q34 verdict row: n_rows recomputed; the rank-contract booleans must
    // be TRUE (the GK guarantee the Spark side proves against its own
    // sketch output — same shape as the s02/s04 recall verdicts).
    "q34_approx_percentile" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             TRUE AS p50_rank_ok, TRUE AS p90_rank_ok
      FROM lineitem""",
    "q32_sql_interface" -> """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q02_filter_project" -> """
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_quantity < 5 AND l_discount > 0.08
      ORDER BY l_orderkey, l_linenumber""",
    "q03_revenue_by_segment" -> """
      SELECT c_mktsegment,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
             count(*) AS n_lines
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q05_nation_revenue" -> """
      SELECT r_name, n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "q04_semi_join" -> """
      SELECT o_orderpriority, count(*) AS n_orders
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q07_anti_join" -> """
      SELECT c_mktsegment, count(*) AS n_customers
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q23_theta_join" -> """
      SELECT a.n_name AS a_name, b.n_name AS b_name
      FROM nation a JOIN nation b
        ON a.n_nationkey < b.n_nationkey AND a.n_regionkey = b.n_regionkey
      ORDER BY a_name, b_name""",
    "q09_rollup" -> """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q10_cube" -> """
      SELECT o_orderstatus, o_orderpriority,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "q12_window_rank" -> """
      SELECT l_returnflag, rn, l_orderkey, l_linenumber, l_extendedprice
      FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
            FROM lineitem)
      WHERE rn <= 5 ORDER BY l_returnflag, rn""",
    "q13_window_running" -> """
      SELECT o_custkey, o_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
               OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      FROM orders WHERE o_custkey < 100
      ORDER BY o_custkey, o_orderkey""",
    "q14_lag_lead" -> """
      SELECT user_id, event_id, value,
             lag(value, 1)       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events WHERE user_id < 50
      ORDER BY user_id, event_id""",
    "q36_window_dist" -> """
      WITH e AS (
        SELECT user_id, event_id, ts, epoch_us(ts) AS us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE user_id < 100)
      SELECT user_id, event_id,
             ntile(4)  OVER w AS quartile,
             CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_micro,
             CAST(floor(cume_dist()    OVER w * 1000000) AS BIGINT) AS cd_micro,
             CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS hour_cents
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, event_id""",
    "q15_topk" -> """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q16_union" -> """
      SELECT DISTINCT k FROM (
        SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        UNION ALL SELECT s_nationkey AS k FROM supplier) ORDER BY k""",
    "q17_intersect" -> """
      SELECT c_nationkey AS k FROM customer
      INTERSECT SELECT s_nationkey AS k FROM supplier ORDER BY k""",
    "q37_set_all" -> """
      WITH a AS (SELECT c_nationkey AS k FROM customer),
           b AS (SELECT s_nationkey AS k FROM supplier),
           e AS (SELECT k FROM a EXCEPT ALL SELECT k FROM b),
           i AS (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
      SELECT 'except_all' AS op, k, count(*) AS n FROM e GROUP BY k
      UNION ALL
      SELECT 'intersect_all' AS op, k, count(*) AS n FROM i GROUP BY k
      ORDER BY op, k""",
    "q38_hll_merge" -> """
      SELECT count(DISTINCT c_custkey) AS n_exact, 1 AS within_tol
      FROM customer""",
    "q39_null_agg" -> """
      WITH big AS (SELECT * FROM orders WHERE o_totalprice > 400000),
      j AS (SELECT c.c_nationkey, b.o_orderkey, b.o_totalprice
            FROM customer c LEFT JOIN big b ON c.c_custkey = b.o_custkey)
      SELECT c_nationkey, count(*) AS n_rows,
             count(o_orderkey) AS n_orders,
             CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_without,
             CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS min_big
      FROM j GROUP BY c_nationkey ORDER BY c_nationkey""",
    "q40_null_safe_join" -> """
      WITH a AS (SELECT nullif(o_orderstatus, 'O') AS k, count(*) AS na
                 FROM orders GROUP BY 1),
           b AS (SELECT nullif(o_orderstatus, 'O') AS k, count(*) AS nb
                 FROM orders WHERE o_totalprice > 150000 GROUP BY 1)
      SELECT a.k, a.na, b.nb
      FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
      ORDER BY a.k NULLS FIRST""",
    "q18_except" -> """
      SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
      EXCEPT SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      ORDER BY k""",
    "q19_string_funcs" -> """
      SELECT c_custkey,
             upper(c_name) AS uname,
             lower(c_mktsegment) AS lseg,
             substring(c_name, 1, 8) AS prefix8,
             length(c_name) AS name_len,
             c_mktsegment || ':' || c_name AS tagged,
             regexp_replace(c_name, '0+', '0', 'g') AS squeezed,
             lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded
      FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""",
    "q20_date_funcs" -> """
      SELECT o_orderkey,
             year(o_orderdate) AS y, month(o_orderdate) AS m,
             day(o_orderdate) AS dom, quarter(o_orderdate) AS q,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
             CAST(o_orderdate AS DATE) AS odate
      FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""",
    "q21_math_funcs" -> """
      SELECT p_partkey,
             abs(p_size - 25) AS dist25,
             CAST(floor(p_retailprice) AS BIGINT) AS fl,
             CAST(ceil(p_retailprice) AS BIGINT) AS ce,
             CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS rd1,
             p_partkey % 7 AS m7,
             CAST(pow(CAST(p_size AS DOUBLE), 2) AS BIGINT) AS sz2
      FROM part WHERE p_partkey <= 300 ORDER BY p_partkey""",
    "q22_case_when" -> """
      SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                  WHEN o_totalprice < 150000 THEN 'medium'
                  ELSE 'large' END AS bucket,
             count(*) AS n
      FROM orders GROUP BY 1 ORDER BY bucket""",
    "q25_scalar_subquery" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_totalprice > (SELECT max(o_totalprice) * 0.95 FROM orders)
      ORDER BY o_orderkey""",
    "q26_pivot" -> """
      SELECT n_name,
             count(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS "AUTOMOBILE",
             count(*) FILTER (WHERE c_mktsegment = 'BUILDING')   AS "BUILDING",
             count(*) FILTER (WHERE c_mktsegment = 'FURNITURE')  AS "FURNITURE",
             count(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD')  AS "HOUSEHOLD",
             count(*) FILTER (WHERE c_mktsegment = 'MACHINERY')  AS "MACHINERY"
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",
    // q43: the identical LATERAL statement (DuckDB supports the same
    // SQL-standard form)
    "q43_lateral_topn" -> """
      SELECT n.n_name, t.c_name, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_name, c_acctbal FROM customer
               WHERE c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_name LIMIT 2) t
      ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""",
    // q42: the melt replayed as a dense (nation x segment) frame — every
    // nation present in the join emits all five segments, zeros included
    "q42_unpivot" -> """
      WITH cnt AS (
        SELECT n_name, c_mktsegment AS segment, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, c_mktsegment),
      nn AS (SELECT DISTINCT n_name FROM cnt),
      seg(segment) AS (VALUES ('AUTOMOBILE'), ('BUILDING'),
        ('FURNITURE'), ('HOUSEHOLD'), ('MACHINERY'))
      SELECT nn.n_name, seg.segment,
             CAST(coalesce(cnt.n, 0) AS BIGINT) AS n
      FROM nn CROSS JOIN seg
      LEFT JOIN cnt ON cnt.n_name = nn.n_name AND cnt.segment = seg.segment
      ORDER BY nn.n_name, seg.segment""",
    "q27_explode_array" -> """
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
             unnest(embedding) AS val
      FROM embeddings WHERE vec_id < 5 ORDER BY vec_id, pos""",
    "q29_tumbling_window" -> """
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""",
    "q35_recursive_chain" -> recursiveChainSql("orders")
  )
}
