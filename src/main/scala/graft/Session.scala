package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession is built. Every main and the spec
  * suite get their session here, so a tool cannot drift from the session
  * the correctness gate and the benchmark run under. [[local]] pins:
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *   - ANSI on: the integer-unit money sums (Relational.units) rely on
  *     long sums THROWING on overflow rather than wrapping, so the
  *     invariant is pinned instead of inherited from the Spark default;
  *   - the UTC session time zone the DuckDB oracle compares in;
  *   - `graft.GraftExtensions`: the catalog and streaming resolution rules
  *     (queries that read their own named tables, f38, cannot plan
  *     without them);
  *   - UI off and log level WARN.
  * `extra` carries the settings that really differ per caller and is
  * applied last, so it may override any of the above.
  */
object Session {
  private val CpusVar = "SPARK_GRAFT_CPUS"
  private val ConfVar = "SPARK_GRAFT_CONF"

  def local(cpus: Int, extra: Map[String, String] = Map.empty): SparkSession = {
    val pinned = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.ansi.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false")
    val spark = (pinned ++ extra)
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, defaulting to the JVM's available
    * processors. Anything but a positive integer fails, naming the
    * variable. */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get(CpusVar).fold(Runtime.getRuntime.availableProcessors) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$CpusVar must be a positive integer, got '$v'"))
    }

  /** `SPARK_GRAFT_CONF="k=v;k=v"`: session overrides for measurement runs
    * (scale-dependent settings stay parameterised; production values are
    * documented in OPTIMIZATION_r21.md). A segment without '=' is dropped
    * with a warning: a typo'd override silently swallowed would be a
    * measurement hazard. */
  def envConf(): Map[String, String] = {
    val segs = sys.env.get(ConfVar).toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
    segs.filterNot(_.contains("=")).foreach { seg =>
      System.err.println(s"[session] $ConfVar segment dropped (no '='): '$seg'") }
    segs.filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('='); (kv.take(i), kv.drop(i + 1)) }.toMap
  }
}
