package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot tables have ONE streaming write ([[SnapshotStreamingWrite]],
  * behind both `writeStream.format("graft-snapshots")` and `toTable`)
  * and one claimed-commit body ([[Snapshots.commitTo]]). A second V1
  * sink or a hand copy of the commit body cannot come back unnoticed. */
class StreamWritePathSpec extends AnyFunSuite {
  test("no V1 streaming sink and no second staged-commit body under src/main") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val needles = Seq("StreamSinkProvider", "execution.streaming.Sink",
      "commitStagedFiles")
    val offenders = Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .flatMap { p =>
        val text = Files.readString(p)
        needles.filter(text.contains).map(n => s"$p: $n")
      }.toSeq.sorted
    assert(offenders.isEmpty,
      s"stream-write snapshot tables through SnapshotStreamingWrite: $offenders")
  }
}
