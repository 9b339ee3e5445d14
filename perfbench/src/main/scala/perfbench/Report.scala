package perfbench

import perfbench.Main.{Exec, Pass}

/** Turns a run's passes, spans and listener ledger into metrics and
  * report lines. End-to-end metrics come from untraced passes only;
  * per-layer metrics from traced passes, summed per pass, median across
  * passes.
  */
final class Report(cores: Int, setupS: Double, workload: Workload,
    passes: Seq[Pass], tracer: Tracer, ledger: Ledger) {

  import Metrics.{num, obj, str}

  private val untraced = passes.filterNot(_.traced)
  private val traced = passes.filter(_.traced)

  private def median(xs: Seq[Double]): Option[Double] = Option.when(xs.nonEmpty)(Stats.median(xs))

  private def perOp(ps: Seq[Pass])(f: Exec => Double): Seq[(Op, Double)] =
    workload.ops.flatMap { op =>
      median(ps.flatMap(_.execs).filter(_.op eq op).map(f)).map(op -> _)
    }

  /** One pass: the sum over ops of each op's median latency. */
  private def passS(ps: Seq[Pass]): Double = perOp(ps)(_.seconds).map(_._2).sum

  /** Bytes an execution moved: the op's payload, or for a query what it
    * read from the filesystem.
    */
  private def payload(e: Exec): Double = (if (e.out.bytes >= 0) e.out.bytes else e.fsRead).toDouble

  def endToEnd(): Seq[Metric] = {
    val medians = perOp(untraced)(_.seconds).map(_._2)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("pass_s", medians.sum, "s"),
      Metric("op_geomean_s", math.exp(medians.map(math.log).sum / medians.size), "s"))
  }

  private lazy val spans = tracer.spans
  private lazy val byId = spans.map(s => s.id -> s).toMap
  private lazy val children = spans.groupBy(_.parent).withDefaultValue(Nil)
  private lazy val counts: Map[Int, Counts] =
    ledger.attribute(ns => tracer.openAt(ns).map(_.id))

  private def subtree(id: Int): Seq[Span] =
    byId.get(id).toSeq ++ children(id).flatMap(c => subtree(c.id))
  private def under(id: Int): Counts =
    subtree(id).flatMap(s => counts.get(s.id)).foldLeft(Counts())(_ + _)
  private def phases(e: Exec, name: String): Seq[Span] = children(e.span).filter(_.name == name)
  private def phaseS(e: Exec, name: String): Double = phases(e, name).map(_.seconds).sum
  private def phaseCounts(e: Exec, name: String): Counts =
    phases(e, name).map(s => under(s.id)).foldLeft(Counts())(_ + _)

  private val Packs = QueryWorkload.RelationalPacks.map(_._1)
  private val Formats = Seq("flat", "csv", "xml")
  private val MB = 1e6

  private def layers(p: Pass): Seq[Metric] = {
    val queries = p.execs.filter(_.op.kind == "query")
    val exec = p.execs.map(phaseCounts(_, "execute")).foldLeft(Counts())(_ + _)
    val execS = p.execs.map(phaseS(_, "execute")).sum
    val all = under(p.span)
    def one(kind: String, f: String) = p.execs.find(e => e.op.kind == kind && e.op.group == f)
    val sources = Formats.flatMap { f =>
      val w = one("write", f)
      val r = one("read", f)
      def mbps(e: Option[Exec]) = e.map(x => payload(x) / MB / x.seconds).getOrElse(0.0)
      Seq(
        Metric(s"sources.$f.write_s", w.map(_.seconds).getOrElse(0), "s"),
        Metric(s"sources.$f.write_tasks", w.map(e => under(e.span).tasks.toDouble).getOrElse(0), "count"),
        Metric(s"sources.$f.write_mbps", mbps(w), "MB/s"),
        Metric(s"sources.$f.read_construct_s",
          r.map(e => phaseS(e, "construct") + phaseS(e, "plan")).getOrElse(0), "s"),
        Metric(s"sources.$f.read_execute_s", r.map(phaseS(_, "execute")).getOrElse(0), "s"),
        Metric(s"sources.$f.read_splits", r.flatMap { e =>
          phaseCounts(e, "execute").stageTasks.minByOption(_._1).map(_._2.toDouble)
        }.getOrElse(0), "count"),
        Metric(s"sources.$f.read_mbps", mbps(r), "MB/s"),
        Metric(s"sources.$f.executor_cpu_s", r.map(e => under(e.span).cpuNs / 1e9).getOrElse(0), "s"),
        Metric(s"sources.$f.bytes_per_row",
          r.filter(_.out.rows > 0).map(e => payload(e) / e.out.rows).getOrElse(0), "B"))
    }
    val merges = p.execs.filter(_.op.kind == "merge")
    val partsS = merges.map { e =>
      val s = byId(e.span)
      val end = under(e.span).lastJobEndMs * 1000000L
      math.min(math.max(end - s.start, 0L), s.end - s.start) / 1e9
    }.sum
    val outBytes = p.execs.map(_.out.outBytes).sum
    Seq(
      Metric("operators.construct_s", queries.map(phaseS(_, "construct")).sum, "s"),
      Metric("operators.construct_jobs", queries.map(phaseCounts(_, "construct").jobs).sum, "count")) ++
      Packs.map(pk => Metric(s"operators.$pk.s", queries.filter(_.op.group == pk).map(_.seconds).sum, "s")) ++
      Seq(
        Metric("plan.plan_s", p.execs.map(phaseS(_, "plan")).sum, "s"),
        Metric("execute.execute_s", execS, "s"),
        Metric("execute.executor_run_s", exec.runMs / 1e3, "s"),
        Metric("execute.executor_cpu_s", exec.cpuNs / 1e9, "s"),
        Metric("execute.jobs", exec.jobs, "count"),
        Metric("execute.stages", exec.stages, "count"),
        Metric("execute.tasks", exec.tasks, "count"),
        Metric("execute.rows_out", p.execs.map(_.out.rows).sum.toDouble, "rows"),
        Metric("execute.core_busy_frac", if (execS > 0) exec.runMs / 1e3 / (execS * cores) else 0, "ratio"),
        Metric("scheduler.task_overhead_s", all.overheadMs / 1e3, "s"),
        Metric("scan.input_mb", all.inputBytes / MB, "MB"),
        Metric("shuffle.read_mb", all.shuffleReadBytes / MB, "MB"),
        Metric("shuffle.write_mb", all.shuffleWriteBytes / MB, "MB"),
        Metric("shuffle.spill_mb", all.spillBytes / MB, "MB")) ++
      sources ++
      Seq(
        Metric("merge.parts_write_s", partsS, "s"),
        Metric("merge.concat_s", merges.map(_.seconds).sum - partsS, "s"),
        Metric("merge.mbps", if (merges.isEmpty) 0 else merges.map(payload).sum / MB / merges.map(_.seconds).sum, "MB/s"),
        Metric("fs.read_mb", p.fsRead / MB, "MB"),
        Metric("fs.write_mb", p.fsWrite / MB, "MB"),
        Metric("fs.write_amp", if (outBytes > 0) p.fsWrite.toDouble / outBytes else 0, "ratio"),
        Metric("cache.storage_peak_mb", p.execs.map(_.storageMb).maxOption.getOrElse(0), "MB"),
        Metric("cache.leaked_queries", p.execs.count(_.leaked), "count"),
        Metric("jvm.gc_s", p.gcS, "s"))
  }

  private def overhead: (Double, Double) = (passS(traced), passS(untraced))

  def perLayer(): Seq[Metric] = {
    val perPass = traced.map(layers)
    val names = perPass.head.map(m => (m.name, m.unit))
    val (tp, up) = overhead
    names.map { case (n, u) =>
      Metric(n, Stats.median(perPass.map(_.find(_.name == n).get.value)), u)
    } ++ Seq(
      Metric("trace.traced_pass_s", tp, "s"),
      Metric("trace.untraced_pass_s", up, "s"),
      Metric("trace.overhead_s", tp - up, "s"))
  }

  private def opRecord(e: Exec): String = {
    val c = under(e.span)
    obj(
      "op" -> str(e.op.name), "group" -> str(e.op.group), "kind" -> str(e.op.kind),
      "rep" -> e.rep.toString, "seconds" -> num(e.seconds),
      "construct_s" -> num(phaseS(e, "construct")), "plan_s" -> num(phaseS(e, "plan")),
      "execute_s" -> num(phaseS(e, "execute")),
      "self_s" -> num(Trace.selfTimes(subtree(e.span)).getOrElse(e.span, 0L) / 1e9),
      "construct_jobs" -> phaseCounts(e, "construct").jobs.toString,
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString, "tasks" -> c.tasks.toString,
      "executor_run_s" -> num(c.runMs / 1e3), "executor_cpu_s" -> num(c.cpuNs / 1e9),
      "task_overhead_s" -> num(c.overheadMs / 1e3), "input_mb" -> num(c.inputBytes / MB),
      "shuffle_read_mb" -> num(c.shuffleReadBytes / MB),
      "shuffle_write_mb" -> num(c.shuffleWriteBytes / MB), "spill_mb" -> num(c.spillBytes / MB),
      "rows_out" -> e.out.rows.toString, "bytes" -> num(payload(e)),
      "storage_mb" -> num(e.storageMb), "leaked" -> e.leaked.toString)
  }

  /** Report lines printed before the result line. */
  def lines(): Seq[String] = {
    val samples = untraced.flatMap(_.execs.map(_.seconds))
    // the highest percentile with at least 10 samples beyond it
    val tail = Seq(99.0, 95.0, 90.0, 75.0, 50.0).iterator
      .flatMap(p => Stats.percentile(samples, p, minBeyond = 10).map(p -> _)).nextOption()
    val latency = obj(
      "passes" -> untraced.size.toString, "samples" -> samples.size.toString,
      "p50_s" -> median(samples).map(num).getOrElse("null"),
      "p90_s" -> Stats.percentile(samples, 90, minBeyond = 10).map(num).getOrElse("null"),
      "tail_pct" -> tail.map(t => num(t._1)).getOrElse("null"),
      "tail_s" -> tail.map(t => num(t._2)).getOrElse("null"))
    val ops = perOp(untraced)(_.seconds)
      .map { case (op, s) => s"${str(op.name)}:${num(s)}" }.mkString("{", ",", "}")
    val base = Seq(obj("op_median_s" -> ops), obj("latency" -> latency))
    if (traced.isEmpty) base
    else {
      val records = workload.ops.flatMap { op =>
        val es = traced.flatMap(_.execs).filter(_.op eq op).sortBy(_.seconds)
        es.lift(es.size / 2).map(e => obj("op_record" -> opRecord(e)))
      }
      val self = Trace.selfTimes(traced.flatMap(p => subtree(p.span)))
      def layer(s: Span): String =
        if (s.name == "pass") "pass"
        else if (Set("construct", "plan", "execute")(s.name)) s.name
        else "op"
      val selfByLayer = traced.flatMap(p => subtree(p.span))
        .groupMapReduce(layer)(s => self(s.id) / 1e9)(_ + _)
        .map { case (k, v) => s"${str(k)}:${num(v / traced.size)}" }.mkString("{", ",", "}")
      val (tp, up) = overhead
      val spanRows = traced.flatMap(p => subtree(p.span)).map { s =>
        s"[${s.id},${str(s.name)},${s.parent},${s.trace},${s.start},${s.end}]"
      }
      base ++ records ++ Seq(
        obj("spans" -> spanRows.mkString("[", ",", "]")),
        obj("layer_self_s" -> selfByLayer),
        obj("trace_overhead_s" -> num(tp - up), "traced_pass_s" -> num(tp),
          "untraced_pass_s" -> num(up)))
    }
  }
}
