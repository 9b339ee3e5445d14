package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

class SessionSpec extends SparkSpec {

  test("local pins ANSI, UTC, the extensions, UI off and the shuffle width") {
    val s = Session.local(4)
    assert(s.conf.get("spark.sql.ansi.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    assert(s.conf.get("spark.ui.enabled") == "false")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  test("extra settings are applied on top of the pinned ones") {
    val key = "graft.session.spec.extra"
    try assert(Session.local(4, Map(key -> "on")).conf.get(key) == "on")
    finally spark.conf.unset(key)
  }

  test("cpus defaults to the available processors and parses a positive count") {
    assert(Session.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("cpus rejects a value that is not a positive integer, naming the variable") {
    for (bad <- Seq("0", "-2", "x")) {
      val e = intercept[IllegalArgumentException](
        Session.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("no session is built anywhere under src/ except graft/Session.scala") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val needle = "SparkSession" + ".builder"
    val offenders = Files.walk(src).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filterNot((p: Path) => p.normalize() == factory.normalize())
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).toSeq.sorted
    assert(Files.readString(factory).contains(needle))
    assert(offenders.isEmpty, s"build sessions through graft.Session.local: $offenders")
  }
}
