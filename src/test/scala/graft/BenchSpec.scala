package graft

import org.scalatest.funsuite.AnyFunSuite

/** The quiet gate of [[Bench]]: a pass whose sentinels look clean but
  * whose in-run probes caught a contaminated stretch must not label
  * itself quiet. The figures are the committed round-22 sf0.1 artifact
  * (`BENCH_TELEMETRY.json`: norm 0.56 s, sentinels 0.56 / 0.615 s). */
class BenchSpec extends AnyFunSuite {
  private val norm = 0.56
  private val (start, end) = (0.56, 0.615)
  private val r22Probes = Seq(1.15, 0.52, 15.73, 0.99, 1.11, 0.84, 20.75,
    0.91, 0.77, 0.83, 0.86, 0.82, 0.91, 0.76, 5.51, 0.84, 0.82)

  test("probes of 15.73, 20.75 and 5.51 s against a 0.56 s norm are not quiet") {
    assert(!Bench.quiet(start, end, r22Probes, norm))
  }

  test("the same pass with its probes capped at the largest clean one is quiet") {
    // 1.15 s is r22's largest clean probe, 2.05 × norm
    assert(Bench.quiet(start, end, r22Probes.map(math.min(_, 1.15)), norm))
  }

  test("sentinels above 1.1 × norm are not quiet, and unrun probes are ignored") {
    assert(!Bench.quiet(start, 0.62, Seq.empty, norm))
    assert(Bench.quiet(start, end, Seq(-1.0, -1.0), norm))
  }
}
