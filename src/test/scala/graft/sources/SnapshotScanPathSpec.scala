package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot data files turn into rows through ONE scan
  * ([[SnapshotSource.relationFor]] over [[SnapshotParquetFormat]]). The
  * DataFrame-union readers it replaced cannot come back unnoticed: their
  * names stay gone from src/main, no snapshot source reads parquet
  * through a requested schema of its own (`read.schema(…).parquet`), and
  * `Snapshots` reads no data file set as raw parquet. Deletion vectors
  * have one writer ([[DeletionVectors]]) and no driver-side position
  * collect or cap. */
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
    val raw = Files.readString(
      Paths.get("src/main/scala/graft/sources/Snapshots.scala"))
    assert(!raw.contains("s.read.parquet(absPaths"),
      "Snapshots reads data files as raw parquet: plan them through " +
        "SnapshotSource.relationFor")
  }

  test("one table state per table: one fold, one cache, one epoch read") {
    val gone = Seq("cumStatsMemo", "cumRenMemo", "cumGraphMemo",
      "coverMemo", "ckptMemo", "statLinesUpTo", "newestCkptAt")
    val back = sources("src/main").flatMap { p =>
      val text = Files.readString(p)
      gone.filter(n => s"\\b$n\\b".r.findFirstIn(text).nonEmpty)
        .map(n => s"${p.getFileName}: $n")
    }
    assert(back.isEmpty, s"a per-field metadata memo is back: $back")
    // the epoch is read by the state resolver alone (`def state`), so a
    // warm lookup cannot pay one v1.meta open per field
    val memberDef = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r.unanchored
    val epochReads = sources("src/main").flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.flatMap {
        case (l, i) =>
          l match {
            case memberDef(n) => enclosing = n
            case _ =>
          }
          if (l.contains("tableEpoch(") &&
              !Set("tableEpoch", "state")(enclosing))
            Some(s"${p.getFileName}:${i + 1} in $enclosing")
          else None
      }
    }
    assert(epochReads.isEmpty,
      s"tableEpoch read outside the state resolver: $epochReads")
    val snapshots = Files.readString(
      Paths.get("src/main/scala/graft/sources/Snapshots.scala"))
    val caches = """concurrent\.TrieMap|synchronizedMap""".r
      .findAllIn(snapshots).size
    assert(caches <= 2,
      s"Snapshots holds $caches caches: only the state cache and " +
        "footerMemo may exist")
  }

  test("deletion vectors have one writer and no driver-side cap") {
    val gone = Seq("DvJoinRelation", "maxDvPositions",
      "DefaultMaxDvPositions", "dvDir")
    val back = sources("src/main").flatMap { p =>
      val text = Files.readString(p)
      gone.filter(n => s"(?i)\\b$n\\b".r.findFirstIn(text).nonEmpty)
        .map(n => s"${p.getFileName}: $n")
    }
    assert(back.isEmpty, s"the driver-held vector path is back: $back")
    val writeOp = """\.(write|create|rename|parquet|serializePortable)\b""".r
    val writes = sources("src/main")
      .filterNot(_.getFileName.toString == "DeletionVectors.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
          case (l, i) if l.contains("DeletionVectors.write") ||
              (l.contains("dv/") && writeOp.findFirstIn(l).nonEmpty) =>
            s"${p.getFileName}:${i + 1}: ${l.trim}"
        }
      }
    assert(writes.isEmpty,
      s"write deletion vectors through DeletionVectors.extend: $writes")
  }
}
