package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Snapshot tables decide "may this file hold a match?" in ONE place
  * ([[StatsPruning]]). A per-caller stats loop or a second extractor
  * cannot come back unnoticed: under src/main only the rule calls
  * `inBounds(`, `statsUpTo(` is otherwise read only for display
  * (`fileInventory`) and for purge's re-recording of a rewritten file's
  * stats, and the deleted copies stay deleted. */
class PruningRulePathSpec extends AnyFunSuite {
  // a member def of a top-level object or class (nested defs, deeper
  // indented, stay inside their member)
  private val MemberDef = """^  (?:[\w\[\]]+\s+)*def\s+(\w+)""".r.unanchored

  private def mainSources: Seq[Path] = {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main),
      s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    Files.walk(main).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
  }

  /** (file, enclosing def, line) of every line holding `needle`. */
  private def uses(needle: String): Seq[(String, String, String)] =
    mainSources.flatMap { p =>
      var enclosing = ""
      Files.readAllLines(p).asScala.toSeq.flatMap { line =>
        line match {
          case MemberDef(n) => enclosing = n
          case _ =>
        }
        if (line.contains(needle))
          Some((p.getFileName.toString, enclosing, line.trim))
        else None
      }
    }

  test("one stats-pruning rule under src/main") {
    val rule = "StatsPruning.scala"
    val inBounds = uses("inBounds(").filterNot(_._1 == rule)
    assert(inBounds.isEmpty, s"inBounds outside the rule: $inBounds")
    val statsUpTo = uses("statsUpTo(").filterNot { case (f, d, _) =>
      f == rule || (f == "Snapshots.scala" &&
        Set("statsUpTo", "fileInventory", "purge")(d))
    }
    assert(statsUpTo.isEmpty, s"statsUpTo outside the rule: $statsUpTo")
    val copies = Seq("extractBounds", "filterBounds", "localKeyName",
      "localStatName", "condMatchableFiles", "statsMayContain")
      .flatMap(uses)
    assert(copies.isEmpty, s"a deleted pruning copy is back: $copies")
  }
}
