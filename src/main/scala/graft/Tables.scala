package graft

import java.io.FileNotFoundException
import java.util.{Collections, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet star-schema loaders (driver fixtures, see TESTDATA.md).
  *
  * The reference engine's data model is "recordset = byte stream of rows"
  * piped per-node (reference: ecl/HDFSConnector.ecl:82-99); here a table is a
  * `DataFrame` backed by a splittable columnar source, so partition planning,
  * column pruning and predicate pushdown are Catalyst's job.
  */
object Tables {

  /** What an inferred parquet schema depends on: the path, every file
    * under it (name, length, modification time) and the session's
    * schema-inference settings. */
  private final case class SchemaKey(path: String,
      files: Seq[(String, Long, Long)], settings: Seq[Boolean])

  /** Inferred schemas per session `sharedState` (a `private[sql]` type,
    * hence `AnyRef`), so `newSession()` children share their parent's
    * entries; held weakly, so a stopped context's memo is collected with
    * it. */
  private val schemas = Collections.synchronizedMap(
    new WeakHashMap[AnyRef, ConcurrentHashMap[SchemaKey, StructType]]())

  /** A fixture table: [[parquet]] over `<dir>/<name>.parquet`, so its schema
    * is inferred once per session and inferred again only when a file under
    * the path is added, removed or rewritten, or a parquet inference setting
    * changes (the list is on [[parquet]]). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(p)` that infers the schema once per session.
    * Spark infers a parquet schema with a job that opens a footer; at
    * sf0.01 that job is most of a query's construction. So the first call
    * infers it and later calls pass the memoized schema to
    * `spark.read.schema(…)`, which runs no job. The memo is shared by every
    * session of one `SparkContext`. An entry stops matching, and the schema
    * is inferred again, when a file under the path is added, removed, or
    * changes length or modification time, or when one of the settings that
    * shape inference changes: `spark.sql.legacy.parquet.nanosAsLong`,
    * `spark.sql.parquet.binaryAsString`, `spark.sql.parquet.int96AsTimestamp`,
    * `spark.sql.parquet.inferTimestampNTZ.enabled`,
    * `spark.sql.parquet.mergeSchema` and `spark.sql.caseSensitive`.
    */
  def parquet(spark: SparkSession, p: String): DataFrame =
    schemaKey(spark, p).fold(spark.read.parquet(p)) { key =>
      val memo = schemas.computeIfAbsent(spark.sharedState, _ => new ConcurrentHashMap)
      Option(memo.get(key)).fold {
        val df = spark.read.parquet(p)
        memo.put(key, df.schema)
        df
      }(spark.read.schema(_).parquet(p))
    }

  /** None when the path does not exist: the plain read then fails with
    * Spark's own error. */
  private def schemaKey(spark: SparkSession, p: String): Option[SchemaKey] = {
    val path = new Path(p)
    val conf = spark.sessionState.conf
    try {
      val it = path.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(path, true)
      val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
      Some(SchemaKey(p, files, Seq(conf.legacyParquetNanosAsLong,
        conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
        conf.parquetInferTimestampNTZEnabled, conf.isParquetSchemaMergingEnabled,
        conf.caseSensitiveAnalysis)))
    } catch { case _: FileNotFoundException => None }
  }

  /** Schema-adaptive events loader. The fixture's `ts` column has shipped in
    * two vintages: TIMESTAMP(NANOS) (which Spark's parquet reader only admits
    * as a long via `nanosAsLong`, then floor-divided to micros — integer
    * `div`, not `/`, since ns-since-epoch exceeds double's 53-bit mantissa)
    * and plain `timestamp[us]`. Branch on the observed dtype so the loader
    * survives either vintage; both paths normalize to TimestampType so
    * `window()` / `unix_micros` downstream behave identically.
    */
  /** Normalize an events-shaped frame's `ts` to TimestampType, whatever
    * vintage it was read as. Shared by the batch loader and the streaming
    * source (`EventStreaming.readEventStream`) so both branch identically.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already TimestampType — pass through
    }
  }

  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(t(spark, dir, "events"))
  }

  /** Width actually used by [[spread]]/[[widthFor]]: per-task launch cost
    * (closure ship + scheduling, ~10 ms on the local driver) means a
    * sub-second stage amortizes poorly past a handful of tasks — measured
    * at sf0.1, 32-task micro-stages cost ~0.35 s nearly independent of
    * their work. A quarter of the cluster's parallelism keeps per-task
    * work ≥ 4× the launch cost at any cluster size while still engaging
    * real parallelism; `graft.spread.parts` overrides per session.
    */
  private def baseWidth(s: SparkSession): Int =
    positiveIntConf(s, "graft.spread.parts").getOrElse(
      math.max(1, s.sparkContext.defaultParallelism / 4))

  /** A positive-integer session override, if set; a malformed or
    * non-positive value fails naming its key instead of surfacing as a
    * bare NumberFormatException (or a repartition(0)) mid-query. */
  private[graft] def positiveIntConf(s: SparkSession, key: String): Option[Int] =
    s.conf.getOption(key).map { v =>
      val n = v.trim.toIntOption
      require(n.exists(_ > 0), s"$key must be a positive integer, got '$v'")
      n.get
    }

  /** Catalyst's size estimate of `df`'s optimized plan, or None when the
    * estimate cannot be computed. */
  private[graft] def sizeEstimate(df: DataFrame): Option[BigDecimal] =
    try Some(BigDecimal(df.queryExecution.optimizedPlan.stats.sizeInBytes))
    catch { case NonFatal(_) => None }

  /** Partition budget for a COMPUTE-DENSE stage derived from `df`: at
    * least [[baseWidth]] slots, more when the stage's input bytes warrant
    * it (Catalyst's size estimate over a 64 MB target — the AQE advisory
    * posture, guide §2.2). Used to pin exchanges feeding expensive
    * per-row work (tokenize / n-gram explode / bucket pair generation),
    * where AQE's bytes-based coalescing otherwise shrinks the stage to
    * 1-2 tasks: partial aggregation makes the shuffled BYTES small while
    * the downstream COMPUTE stays heavy, a mismatch the byte heuristic
    * cannot see.
    */
  def widthFor(df: DataFrame, expand: Double = 1.0): Int = {
    val bytes = sizeEstimate(df).getOrElse(BigDecimal(0))
    // Cap the bytes-derived width at the cluster parallelism: Catalyst
    // size estimates MULTIPLY through joins, so a join-derived frame can
    // claim exabytes and would otherwise pin tens of thousands of
    // partitions (measured: p17's component-local re-pair hit the old
    // 2^15 cap and spent 18 s scheduling empty tasks; a 4x-cores cap
    // still left it 0.5 s over baseline). Inputs whose compute stages
    // genuinely need more than one task wave per core set
    // graft.spread.parts for the session. The cap applies BEFORE .toInt:
    // BigDecimal.toInt keeps only the low 32 bits, so an exabyte-scale
    // estimate would otherwise wrap (to -1 for range(Long.MaxValue)) and
    // collapse the width to baseWidth.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val byBytes = (bytes * expand / (64L << 20)).min(BigDecimal(par)).toInt
    math.max(baseWidth(df.sparkSession), byBytes)
  }

  /** Guard against INPUT-SPLIT SHORTFALL ahead of expensive per-row work
    * (optimization guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read"). The sf fixture tables are
    * single-row-group parquet files, so every scan plans as ONE task and
    * costly per-row projections downstream (tokenize, shingle explode,
    * regex scoring) serialize on a single core while the rest of the
    * cluster idles. When the scan yields fewer partitions than the
    * cluster's parallelism, redistribute rows ONCE by a deterministic
    * key hash — the exchange moves raw bytes cheaply and the expensive
    * map work then runs wide. When the input already arrives in >= cores
    * splits (any real corpus at the 100 TB design scale) this is a
    * NO-OP: no exchange is added, so it cannot pessimize the scaled
    * path. Only applied where results are provably placement-independent
    * (commutative aggregates, per-key windows with total per-key
    * orderings); never under `spark_partition_id`-keyed folds.
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column*): DataFrame = {
    // Streaming frames pass through untouched: the split-shortfall this
    // guards against is a batch-scan artifact, micro-batch input sizing
    // belongs to the stream planner, and the `.rdd` partition probe
    // below is illegal on an unstarted stream (caught by the
    // streaming-vs-batch parity specs when gopherSignals went wide).
    if (df.isStreaming) return df
    val p = baseWidth(df.sparkSession)
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, key: _*)
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** A named group of queries plus (where SQL-expressible) DuckDB oracles.
  * Contract per the driver: `queries` keys ⊇ `oracles` keys; column names of
  * the Spark result and the oracle SQL must match exactly.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
