package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomAnyContain, DotInt8, DotProduct, GraftNfc, MinHashAgg, PackInt8, SimHashAgg}
import graft.sources.{GraftSqlRules, GraftStreamingRules}

/** SparkSessionExtensions entry point: wires the engine's native functions
  * AND the `graft` SQL-catalog analyzer rules into any session built with
  * `spark.sql.extensions=graft.GraftExtensions` — the injection-based
  * alternative to the runtime `GraftFunctions.register(spark)` call (both
  * register the same expressions; the operator packs call the latter so
  * they work on unconfigured sessions too).
  *
  * The [[GraftSqlRules]] injection is what makes `graft.db.t` tables
  * readable and mutable from SQL: scans over [[graft.sources
  * .SnapshotTableV2]] are rewritten onto the f29 vectorized-parquet
  * relation, and DELETE/UPDATE/MERGE route to the snapshot verbs. It is
  * a post-hoc resolution rule so DML nodes arrive fully resolved.
  *
  * [[SmallSortInOneTask]] is an AQE runtime optimizer rule. It fires on a
  * global sort once every leaf below it is a materialized query stage (or a
  * local relation) and those stages' runtime bytes fit AQE's target for
  * one coalesced partition, with partition coalescing on. It then sorts in
  * the one task that reads those stages, so the sort's range exchange and
  * its sampling job are not run. To see it, run
  * `graft.Prof --executed <query>`: the final plan shows `Coalesce 1` under
  * the `Sort` and no `Exchange rangepartitioning`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // 11-arg constructor order: className, db, name, usage, arguments,
  // examples, note, group, since, deprecated, source
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectRuntimeOptimizerRule(_ => SmallSortInOneTask)
    ext.injectPostHocResolutionRule(GraftSqlRules.apply)
    // main-batch rule: readStream.table("graft.db.t") must re-resolve
    // downstream attributes when readChangeFeed widens the schema
    ext.injectResolutionRule(GraftStreamingRules.apply)
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "graft_dot(a, b) - codegen'd dot product over two array<double>"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_minhash"),
      info("graft_minhash", "graft_minhash(x) - 64-lane MinHash signature aggregate"),
      (exprs: Seq[Expression]) => MinHashAgg(exprs.head, 64)))
    ext.injectFunction((FunctionIdentifier("graft_simhash"),
      info("graft_simhash", "graft_simhash(h) - 64-bit SimHash aggregate over long hashes"),
      (exprs: Seq[Expression]) => SimHashAgg(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_bloom_any"),
      info("graft_bloom_any", "graft_bloom_any(bloom, hashes) - true iff any array<long> element probes positive in the serialized BloomFilter"),
      (exprs: Seq[Expression]) => BloomAnyContain(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "graft_nfc(s) - Unicode NFC canonical composition (identity fast path for ASCII/already-normalized input)"),
      (exprs: Seq[Expression]) => GraftNfc(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_i8_pack"),
      info("graft_i8_pack", "graft_i8_pack(a) - pack array<int> into signed int8 bytes (clamped to [-128,127])"),
      (exprs: Seq[Expression]) => PackInt8(exprs.head)))
    ext.injectFunction((FunctionIdentifier("graft_dot_i8"),
      info("graft_dot_i8", "graft_dot_i8(a, b) - exact signed-byte integer dot product over packed int8 codes"),
      (exprs: Seq[Expression]) => DotInt8(exprs(0), exprs(1))))
  }
}
