package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.sources.{EclLayout, Pipe, PipeFormat}

/** What the client sees while an op runs: the session, the span recorder,
  * and whether listener attribution is on.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val traced: Boolean) {

  /** A construct / plan / execute phase. When traced, the span id rides in
    * the thread's local properties so Spark jobs carry it.
    */
  def phase[T](name: String)(body: => T): T = tracer.span(name) {
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(Ctx.SpanKey, tracer.current.toString)
    try body finally if (traced) sc.setLocalProperty(Ctx.SpanKey, null)
  }
}

object Ctx {
  val SpanKey = "perfbench.span"
}

/** The result of one execution. `bytes` is the payload the op moved (the
  * basis of MB/s; for a query, bytes it read from the filesystem),
  * `outBytes` the bytes it left on disk, `error` a failed output check.
  */
final case class Outcome(rows: Long, bytes: Long = -1, outBytes: Long = 0,
    error: Option[String] = None)

/** One closed-loop operation: a query or a connector verb. */
trait Op {
  def name: String
  /** The query pack, or the connector format. */
  def group: String
  /** `query`, `write`, `merge` or `read`. */
  def kind: String
  def run(ctx: Ctx): Outcome
  /** One untimed warm-up execution; the first records the reference
    * output. Returns a failed check.
    */
  def warm(ctx: Ctx): Option[String] = run(ctx).error
}

trait Workload {
  def prepare(ctx: Ctx): Unit = ()
  /** Threads the warm-up runs `Op.warm` on; with one, in `ops` order. */
  def warmThreads(cores: Int): Int = 1
  /** How many times the warm-up goes over every op. */
  def warmRounds: Int = 1
  def ops: Seq[Op]
  /** Reference outputs as text, for the run record and cross-run checks. */
  def fingerprints: Map[String, String]
}

/** Every query of the named packs, called through `SparkEntry.queries`.
  * Each query's output is fingerprinted once during warm-up (outside
  * timing); every timed execution must return the same row count, and the
  * fingerprint must equal the one `expected` holds for the query.
  */
final class QueryWorkload(packs: Seq[(String, graft.QueryPack)], dataDir: String,
    expected: Map[String, String]) extends Workload {

  private val refs = scala.collection.concurrent.TrieMap.empty[String, Fingerprint]

  /** Queries are independent, so their warm-up runs one per core. */
  override def warmThreads(cores: Int): Int = cores

  def fingerprints: Map[String, String] = refs.view.mapValues(_.show).toMap

  val ops: Seq[Op] = for {
    (pack, qp) <- packs
    n <- qp.queries.keys.toSeq.sorted
  } yield {
    val fn = SparkEntry.queries(n)
    new Op {
      val name = n
      val group = pack
      val kind = "query"

      /** Fingerprints the output; that runs the same physical plan as a
        * timed execution. Runs on a warm-up thread, so it records no spans.
        */
      override def warm(ctx: Ctx): Option[String] = {
        val fp = Fingerprint.of(fn(ctx.spark, dataDir))
        refs(n) = fp
        expected.get(n) match {
          case None => Some(s"$n: no expected fingerprint")
          case Some(e) => Option.when(e != fp.show)(s"$n: fingerprint ${fp.show}, expected $e")
        }
      }

      def run(ctx: Ctx): Outcome = {
        val df = ctx.phase("construct")(fn(ctx.spark, dataDir))
        ctx.phase("plan")(df.queryExecution.executedPlan)
        val rows = ctx.phase("execute")(df.queryExecution.toRdd.count())
        val want = refs.get(n).map(_.rows)
        Outcome(rows, error = want.filter(_ != rows)
          .map(w => s"$n: $rows rows, warm-up returned $w"))
      }
    }
  }
}

object QueryWorkload {
  /** The `relational` workload's packs: the 43 `q*` board queries. */
  val RelationalPacks: Seq[(String, graft.QueryPack)] = Seq(
    "Relational" -> graft.operators.Relational,
    "EventOps" -> graft.operators.EventOps)
}

/** The paper's three verbs over a fixed 9-column `lineitem` projection,
  * repartitioned to the core count and held in executor memory before
  * timing: `Pipe.out` per format, `Pipe.outAndMerge` for FLAT and CSV, and
  * `Pipe.in` of each format's merged single file with every column hashed.
  */
final class ConnectorWorkload(dataDir: String, outDir: String,
    expected: Map[String, String]) extends Workload {

  val layout: EclLayout = EclLayout.parse(
    "orderkey:integer8,partkey:integer8,suppkey:integer8,quantity:real8," +
      "extendedprice:real8,discount:real8,tax:real8," +
      "returnflag:string1,linestatus:string1")
  private val formats = Seq[(String, PipeFormat)](
    "flat" -> PipeFormat.Flat, "csv" -> PipeFormat.Csv(), "xml" -> PipeFormat.Xml())

  private var src: DataFrame = _
  private var srcFp: Fingerprint = _
  private val sizes = scala.collection.mutable.Map.empty[String, Long]

  private def path(n: String) = new File(outDir, n).getPath
  private def merged(f: String) = path(s"merged.$f")

  /** Rows and the xor of every row's xxhash64 over all layout columns. */
  private def digest(df: DataFrame): DataFrame =
    df.select(xxhash64(layout.fields.map(f => col(f.name)): _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"))

  private def fp(df: DataFrame): Fingerprint = {
    val r = df.head()
    Fingerprint(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Data bytes of a part directory: part files only, no markers or CRCs. */
  private def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part")).sortBy(_.getName)

  /** The verbs are short, so each runs twice before timing: the first
    * execution writes the files the reads check, the second leaves less of
    * the JIT's warm-up to the timed passes.
    */
  override def warmRounds: Int = 2

  def fingerprints: Map[String, String] =
    Map("source" -> srcFp.show) ++ sizes.map { case (k, v) => k -> v.toString }

  private def expect(key: String, got: String): Option[String] =
    expected.get(key) match {
      case None => Some(s"$key: no expected value")
      case Some(e) => Option.when(e != got)(s"$key: $got, expected $e")
    }

  override def prepare(ctx: Ctx): Unit = {
    val n = ctx.spark.sparkContext.defaultParallelism
    src = Tables.lineitem(ctx.spark, dataDir).select(
      col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"),
      col("l_suppkey").as("suppkey"), col("l_quantity").as("quantity"),
      col("l_extendedprice").as("extendedprice"),
      col("l_discount").as("discount"), col("l_tax").as("tax"),
      col("l_returnflag").as("returnflag"), col("l_linestatus").as("linestatus"))
      .repartition(n).localCheckpoint(eager = true)
    srcFp = fp(digest(src))
    expect("source", srcFp.show).foreach(e => throw new IllegalStateException(e))
    // XML has no merge verb: write the single file its read verb reads
    Pipe.outAndMerge(src, merged("xml"), layout, PipeFormat.Xml(), cleanMerge = false)
  }

  val ops: Seq[Op] = formats.flatMap { case (f, fmt) =>
    val write = new Op {
      val name = s"out.$f"
      val group = f
      val kind = "write"
      def run(ctx: Ctx): Outcome = {
        val dir = path(s"out_$f")
        ctx.phase("execute")(Pipe.out(src, dir, layout, fmt))
        val ps = parts(dir)
        val bytes = ps.map(_.length).sum
        val ragged = ps.filter(p => f == "flat" && p.length % layout.recLen != 0)
        // XML parts each carry a root element, so their total depends on
        // the part count; the read-back check covers XML instead
        if (f != "xml") sizes(name) = bytes
        Outcome(srcFp.rows, bytes, bytes,
          Option.when(bytes == 0)(s"$name wrote no data")
            .orElse(ragged.headOption.map(p => s"$name: ${p.getName} is not whole records"))
            .orElse(if (f == "xml") None else expect(name, bytes.toString)))
      }
    }
    val merge = Option.when(f != "xml")(new Op {
      val name = s"merge.$f"
      val group = f
      val kind = "merge"
      def run(ctx: Ctx): Outcome = {
        val target = merged(f)
        ctx.phase("execute")(
          Pipe.outAndMerge(src, target, layout, fmt, cleanMerge = false))
        val len = new File(target).length
        val partBytes = parts(target + "-parts").map(_.length).sum
        sizes(name) = len
        Outcome(srcFp.rows, len, len + partBytes,
          Option.when(len != partBytes)(s"$name: merged $len bytes, parts hold $partBytes")
            .orElse(Option.when(f == "flat" && len % layout.recLen != 0)(
              s"$name: $len bytes is not whole records"))
            .orElse(expect(name, len.toString)))
      }
    })
    val read = new Op {
      val name = s"in.$f"
      val group = f
      val kind = "read"
      def run(ctx: Ctx): Outcome = {
        val file = merged(f)
        val df = ctx.phase("construct")(digest(Pipe.in(ctx.spark, file, layout, fmt)))
        ctx.phase("plan")(df.queryExecution.executedPlan)
        val got = ctx.phase("execute")(fp(df))
        Outcome(got.rows, new File(file).length,
          error = Option.when(got != srcFp)(s"$name decoded ${got.show}, source is ${srcFp.show}"))
      }
    }
    Seq(write) ++ merge ++ Seq(read)
  }
}
