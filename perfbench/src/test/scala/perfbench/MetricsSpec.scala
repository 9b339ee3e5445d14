package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private def m(name: String, unit: String = "s", value: Double = 1.0) = Metric(name, value, unit)

  test("valid names and units pass") {
    val ms = Seq(m("setup_s"), m("sources.flat.write_mbps", "MB/s"),
      m("operators.Relational.s"), m("execute.core_busy_frac", "ratio"), m("0k-1.x_y", "1/s"))
    assert(Metrics.problems(ms, Metrics.MaxEndToEnd).isEmpty)
  }

  test("names outside [A-Za-z0-9_.-] are rejected") {
    Seq("pass s", "p90%", "a/b", "é", "", "_lead", ".lead", "x" * 65).foreach { n =>
      assert(Metrics.problems(Seq(m(n)), Metrics.MaxEndToEnd).nonEmpty, n)
    }
  }

  test("bad units, duplicates and non-finite values are rejected") {
    assert(Metrics.problems(Seq(m("a", "seconds per op")), 16).nonEmpty)
    assert(Metrics.problems(Seq(m("a"), m("a")), 16).nonEmpty)
    assert(Metrics.problems(Seq(m("a", value = Double.NaN)), 16).nonEmpty)
  }

  test("at most 16 end-to-end and 128 per-layer metrics") {
    def n(k: Int) = (1 to k).map(i => m(s"m$i"))
    assert(Metrics.problems(n(16), Metrics.MaxEndToEnd).isEmpty)
    assert(Metrics.problems(n(17), Metrics.MaxEndToEnd).nonEmpty)
    assert(Metrics.problems(n(128), Metrics.MaxPerLayer).isEmpty)
    assert(Metrics.problems(n(129), Metrics.MaxPerLayer).nonEmpty)
  }

  test("the result line has exactly the four keys") {
    val line = Metrics.resultLine(true, 3, 0, Seq(m("pass_s", value = 1.25), m("n", "count", 7)))
    assert(line == """{"correct":true,"attempted":3,"failed":0,"metrics":""" +
      """{"pass_s":{"value":1.25,"unit":"s"},"n":{"value":7,"unit":"count"}}}""")
  }

  test("fingerprint files parse per workload") {
    val text = """{
      |  "connector_io": {
      |    "source": "10:ff"
      |  },
      |  "relational": {
      |    "q01": "6:abc",
      |    "q02": "5:def"
      |  }
      |}""".stripMargin
    assert(Fingerprints.parse(text) == Map(
      "connector_io" -> Map("source" -> "10:ff"),
      "relational" -> Map("q01" -> "6:abc", "q02" -> "5:def")))
  }
}
