package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload in a closed loop with one
  * client, checks its outputs, and prints JSON lines ending with the result
  * line. See perfbench/README.md for the workloads and metrics.
  *
  * Arguments: --workload <connector_io|relational> --seed <n>
  *   --seconds <n> --trace <0|1> --data <tables dir> --work <scratch dir>
  *   --expected <fingerprints.json> [--head <commit>] [--digest <source digest>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String,
      expected: String, head: String,
      digest: String)

  def parseArgs(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"),
      need("expected"), kv.getOrElse("head", "unknown"),
      kv.getOrElse("digest", "unknown"))
  }

  /** One timed execution of an op. */
  final case class Exec(op: Op, rep: Int, span: Int, seconds: Double,
      out: Outcome, fsRead: Long, storageMb: Double, leaked: Boolean)

  /** One timed pass over every op. */
  final case class Pass(traced: Boolean, span: Int,
      execs: Seq[Exec], gcS: Double, fsRead: Long, fsWrite: Long)

  def main(argv: Array[String]): Unit = {
    val code = try run(parseArgs(argv.toSeq)) catch {
      case e: Throwable =>
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(code)
  }

  /** Bytes read and written through Hadoop's local filesystem so far. */
  private def fsBytes(): (Long, Long) = {
    val st = Option(FileSystem.getGlobalStorageStatistics.get("file"))
    def get(key: String) = st.flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)
    (get("bytesRead"), get("bytesWritten"))
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  def session(a: Args, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("graft.io.reuse", "true")
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.work, "spark").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(a: Args): Int = {
    val startInfo = RunInfo.probe()
    val cores = Runtime.getRuntime.availableProcessors
    val expected = Fingerprints.read(a.expected, a.workload)
    val t0 = System.nanoTime()
    val spark = session(a, cores)
    val tracer = new Tracer
    val ledger = new Ledger
    if (a.trace) spark.sparkContext.addSparkListener(new LedgerListener(ledger, Ctx.SpanKey))
    val workload: Workload = a.workload match {
      case "connector_io" =>
        new ConnectorWorkload(a.data, new File(a.work, "connector").getPath, expected)
      case "relational" =>
        new QueryWorkload(QueryWorkload.RelationalPacks, a.data, expected)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rng = new Random(a.seed)
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body) catch {
        case e: Exception =>
          failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    // set-up: session start, input cache, then each op's warm-up on the
    // workload's warm-up threads; with one thread, in the workload's own
    // order, which writes each file before it is read
    val setupCtx = new Ctx(spark, tracer, traced = false)
    val warmS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    tracer.span("setup") {
      System.err.println(f"[perfbench] session up after ${(System.nanoTime() - t0) / 1e9}%.1f s")
      attempt("prepare")(workload.prepare(setupCtx))
      System.err.println(f"[perfbench] inputs prepared after ${(System.nanoTime() - t0) / 1e9}%.1f s")
      val pool = Executors.newFixedThreadPool(workload.warmThreads(cores))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try (1 to workload.warmRounds).foreach { _ =>
        val warmed = Await.result(Future.traverse(workload.ops) { op =>
          Future {
            val w0 = System.nanoTime()
            val res = Try(op.warm(setupCtx))
            (op, res, (System.nanoTime() - w0) / 1e9)
          }
        }, Duration.Inf)
        warmed.foreach { case (op, res, secs) =>
          attempt(op.name)(res.get).flatten.foreach(failures += _)
          warmS(op.name) = warmS.getOrElse(op.name, 0.0) + secs
        }
      } finally pool.shutdown()
      // start timing from a collected heap, not from the warm-up's garbage
      System.gc()
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] set-up done in $setupS%.1f s")

    // timed passes, one op at a time, for about --seconds: another pass
    // starts only while at least half of it, going by the last one, fits.
    // With --trace 1 every second pass is traced, so the run also measures
    // what tracing costs
    val passes = ArrayBuffer.empty[Pass]
    val timedStart = System.nanoTime()
    def elapsed = (System.nanoTime() - timedStart) / 1e9
    var lastPassS = 0.0
    val minPasses = if (a.trace) 2 else 1
    while (passes.size < minPasses || elapsed + lastPassS / 2 < a.seconds) {
      val passStart = elapsed
      val rep = passes.size + 1
      val traced = a.trace && rep % 2 == 0
      val ctx = new Ctx(spark, tracer, traced)
      val order = rng.shuffle(workload.ops)
      val gc0 = gcMillis()
      val (r0, w0) = fsBytes()
      val execs = ArrayBuffer.empty[Exec]
      tracer.span("pass") {
        order.foreach { op =>
          val (read0, _) = fsBytes()
          val s0 = tracer.now()
          val res = attempt(op.name)(tracer.span(op.name)(op.run(ctx)))
          val secs = (tracer.now() - s0) / 1e9
          val (read1, _) = fsBytes()
          val (storageMb, leaked) =
            if (traced) {
              val infos = spark.sparkContext.getRDDStorageInfo
              (infos.map(i => i.memSize + i.diskSize).sum / 1e6,
                !spark.sharedState.cacheManager.isEmpty)
            } else (0.0, false)
          res.foreach { out =>
            out.error.foreach(failures += _)
            val spanId = tracer.lastClosed.id
            execs += Exec(op, rep, spanId, secs, out, read1 - read0, storageMb, leaked)
          }
        }
      }
      val (r1, w1) = fsBytes()
      System.err.println(f"[perfbench] pass $rep${if (traced) " (traced)" else ""}: " +
        f"${execs.map(_.seconds).sum}%.2f s")
      passes += Pass(traced, tracer.lastClosed.id, execs.toSeq,
        (gcMillis() - gc0) / 1e3, r1 - r0, w1 - w0)
      lastPassS = elapsed - passStart
    }
    System.err.println(s"[perfbench] ${passes.size} timed passes done")
    val endInfo = RunInfo.probe()

    val report = new Report(cores, setupS, workload, passes.toSeq, tracer, ledger)
    if (a.trace) org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val fps = workload.fingerprints
    println(RunInfo.record(a, cores, spark.version, startInfo, endInfo, fps))
    println(Metrics.obj("setup_s" -> Metrics.num(setupS), "op_warm_s" ->
      warmS.map { case (k, v) => s"${Metrics.str(k)}:${Metrics.num(v)}" }.mkString("{", ",", "}")))
    report.lines().foreach(println)
    val metrics = if (a.trace) report.perLayer() else report.endToEnd()
    val bad = Metrics.problems(metrics,
      if (a.trace) Metrics.MaxPerLayer else Metrics.MaxEndToEnd)
    failures ++= bad
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println(Metrics.obj("failed_frac" -> Metrics.num(failures.size.toDouble / attempted),
      "failures" -> failures.map(Metrics.str).mkString("[", ",", "]")))
    println(Metrics.resultLine(failures.isEmpty, attempted, failures.size, metrics))
    spark.stop()
    if (failures.isEmpty) 0 else 1
  }
}

/** Reference fingerprints per workload, as a small JSON file:
  * `{"<workload>": {"<key>": "<value>", ...}, ...}`.
  */
object Fingerprints {
  private val Entry = "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r
  private val Block = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{([^{}]*)\\}".r

  def parse(text: String): Map[String, Map[String, String]] =
    Block.findAllMatchIn(text).map { b =>
      b.group(1) -> Entry.findAllMatchIn(b.group(2)).map(e => e.group(1) -> e.group(2)).toMap
    }.toMap

  /** The workload's fingerprints; a missing file or workload is an error,
    * so the cross-run check can not be switched off by accident.
    */
  def read(path: String, workload: String): Map[String, String] =
    parse(new String(Files.readAllBytes(new File(path).toPath), UTF_8))
      .getOrElse(workload, throw new IllegalStateException(s"$path holds no $workload fingerprints"))

}
