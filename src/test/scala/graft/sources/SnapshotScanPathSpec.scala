package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot data files turn into rows through ONE scan
  * ([[SnapshotSource.relationFor]] over [[SnapshotParquetFormat]]). The
  * DataFrame-union readers it replaced cannot come back unnoticed: their
  * names stay gone from src/main, and no snapshot source reads parquet
  * through a requested schema of its own (`read.schema(…).parquet`). */
class SnapshotScanPathSpec extends AnyFunSuite {
  private def sources(under: String): Seq[Path] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(Paths.get(under)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
  }

  test("one snapshot scan under src/main") {
    val gone = Seq("readEvolved", "readEvolvedSubset", "readCanonical",
      "applyChainEntryDf", "alignTo", "applyDv")
    val back = sources("src/main").flatMap { p =>
      val text = Files.readString(p)
      gone.filter(n => s"\\b$n\\b".r.findFirstIn(text).nonEmpty)
        .map(n => s"${p.getFileName}: $n")
    }
    assert(back.isEmpty, s"a replaced snapshot reader is back: $back")
    val ownSchema = """read\s*\.schema\([^)]*\)\s*\.parquet\(""".r
    val unions = sources("src/main/scala/graft/sources").filter(p =>
      ownSchema.findFirstIn(Files.readString(p)).nonEmpty)
    assert(unions.isEmpty,
      s"read snapshot files through SnapshotSource.relationFor: $unions")
  }
}
