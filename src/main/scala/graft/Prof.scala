package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Diagnostics main: one session set up like the bench's, four views of
  * the named queries. A development tool, outside the SparkEntry contract.
  *
  *   (default)   per-job profile: runs each query once warm + once timed
  *               and prints every Spark job the timed rep ran — wall
  *               duration, stage/task counts, and the callsite — so
  *               fixed cost spread over many tiny jobs is attributable
  *               line-by-line.
  *   --plan      the formatted physical plan, without executing.
  *   --executed  runs the query, then prints the FINAL adaptive plan:
  *               ReusedExchange / AQEShuffleRead nodes only exist after
  *               execution, so subtree-reuse claims are audited here.
  *   --show      collects once, prints the columns, up to 20 rows and the
  *               elapsed time (printing from the collected rows: a second
  *               action would re-execute the plan and any writes in it).
  *
  * Usage: sbt "runMain graft.Prof [--plan|--executed|--show] q08_distinct_agg s10_ivfpq_topk"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and SPARK_GRAFT_CONF as in Bench.
  */
object Prof {
  private val Modes = Set("--plan", "--executed", "--show")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (flags, names) = args.toSeq.partition(_.startsWith("--"))
    require(flags.forall(Modes) && flags.size <= 1,
      s"at most one of ${Modes.mkString(", ")}; got ${flags.mkString(" ")}")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Session.local(Session.cpus(),
      Map("graft.io.reuse" -> "true") ++ Session.envConf())
    flags.headOption match {
      case Some(mode) => names.foreach { name =>
        println(s"########## $name")
        val df = SparkEntry.queries(name)(spark, sfDir)
        val qe = df.queryExecution
        mode match {
          case "--plan" =>
            println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
          case "--executed" =>
            qe.toRdd.count()
            println(qe.executedPlan.toString)
          case "--show" =>
            val t0 = System.nanoTime()
            val rows = df.collect()
            println(f"rows=${rows.length}  (${(System.nanoTime() - t0) / 1e9}%.2f s)")
            println(df.columns.mkString(" | "))
            rows.take(20).foreach(r => println(r.toSeq.map {
              case s: String if s.length > 60 => s.take(57) + "..."
              case x => String.valueOf(x)
            }.mkString(" | ")))
        }
      }
      case None => profile(spark, sfDir, names)
    }
    spark.stop()
  }

  private def profile(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    case class J(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var site: String = "")
    val jobs = mutable.LinkedHashMap[Int, J]()
    // stage → job map so tasks attribute correctly when jobs OVERLAP
    // (the concurrent build phases are exactly what this tool profiles;
    // attributing every task to the most recently started job misled)
    val stageJob = mutable.HashMap[Int, Int]()
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) {
          val j = J(e.jobId, t0 = e.time, stages = e.stageInfos.size)
          j.site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
          jobs.synchronized {
            jobs(e.jobId) = j
            e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageJob.get(e.stageId).flatMap(jobs.get)
            .foreach(j => j.tasks += 1) }
    })
    def run(name: String): Unit = {
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
    }
    for (name <- names) {
      try run(name) catch { case e: Throwable =>
        println(s"$name warm FAILED: ${e.getMessage}") } // warm
      jobs.synchronized { jobs.clear(); stageJob.clear() }
      collecting = true
      val t0 = System.nanoTime()
      try run(name) catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      Thread.sleep(300) // let the async listener bus drain
      println(f"########## $name wall=$wall%.3f s jobs=${jobs.size}")
      jobs.synchronized {
        var prevEnd = 0L
        jobs.values.foreach { j =>
          val dur = (j.t1 - j.t0) / 1e3
          val gap = if (prevEnd > 0) (j.t0 - prevEnd) / 1e3 else 0.0
          prevEnd = j.t1
          println(f"  job ${j.id}%4d ${dur}%8.3f s  gap=${gap}%7.3f s " +
            f"stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.site}")
        }
        val busy = jobs.values.map(j => j.t1 - j.t0).sum / 1e3
        println(f"  jobs-busy=$busy%.3f s  (wall - busy = driver/plan time)")
      }
    }
  }
}
