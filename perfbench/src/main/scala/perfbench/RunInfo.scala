package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** What the run needs to describe itself: machine load and a fixed CPU
  * calibration loop, probed at start and end. A contaminated run shows in
  * its own record. Recorded, never used as a gate.
  */
final case class Probe(loadavg: String, stealS: Double, calibrationS: Double)

object RunInfo {
  @volatile private var sink = 0L

  /** Seconds for a fixed 50M-step integer loop: median of three. */
  def calibrate(): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 1L
      var i = 0
      while (i < 50000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 29
        i += 1
      }
      sink = x
      (System.nanoTime() - t0) / 1e9
    }
    Stats.median(times)
  }

  private def read(path: String): Option[String] =
    try Some(new String(Files.readAllBytes(new File(path).toPath), UTF_8).trim)
    catch { case _: Exception => None }

  /** CPU time the hypervisor gave to others (the 8th `cpu` field of
    * /proc/stat, in 1/100 s), or -1 where unavailable.
    */
  private def stealS(): Double =
    read("/proc/stat").flatMap(_.linesIterator.nextOption())
      .map(_.trim.split("\\s+")).filter(_.length > 8)
      .flatMap(f => f(8).toLongOption).map(_ / 100.0).getOrElse(-1.0)

  def probe(): Probe =
    Probe(read("/proc/loadavg").getOrElse("unavailable"), stealS(), calibrate())

  private def dirBytes(dir: String): String =
    Option(new File(dir).listFiles()).toSeq.flatten.sortBy(_.getName)
      .map(f => s"${Metrics.str(f.getName)}:${f.length}").mkString("{", ",", "}")

  def record(a: Main.Args, cores: Int, sparkVersion: String, start: Probe,
      end: Probe, fps: Map[String, String]): String = {
    def probe(p: Probe) = Metrics.obj("loadavg" -> Metrics.str(p.loadavg),
      "calibration_s" -> Metrics.num(p.calibrationS))
    val steal = if (start.stealS < 0 || end.stealS < 0) -1.0 else end.stealS - start.stealS
    val run = Metrics.obj(
      "workload" -> Metrics.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> Metrics.num(a.seconds),
      "trace" -> a.trace.toString,
      "head" -> Metrics.str(a.head),
      "source_digest" -> Metrics.str(a.digest),
      "nproc" -> cores.toString,
      "java" -> Metrics.str(System.getProperty("java.version")),
      "spark" -> Metrics.str(sparkVersion),
      "data" -> Metrics.str(a.data),
      "data_bytes" -> dirBytes(a.data),
      "start" -> probe(start),
      "end" -> probe(end),
      "cpu_steal_s" -> Metrics.num(steal),
      "fingerprints" -> fps.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${Metrics.str(k)}:${Metrics.str(v)}" }.mkString("{", ",", "}"))
    Metrics.obj("run" -> run)
  }
}
