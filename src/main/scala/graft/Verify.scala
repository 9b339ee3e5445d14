package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // named queries restrict the results, oracle_sql.json and
    // declared_queries.json to those queries, so scripts/selfcheck.py
    // can gate a subset without a full-board run
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query…]")
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def selected[V](m: Map[String, V]): Map[String, V] =
      if (only.isEmpty) m else m.filter { case (k, _) => only(k) }
    val spark = Session.local(Session.cpus())
    new java.io.File(outDir).mkdirs()
    selected(SparkEntry.queries).foreach { case (name, fn) =>
      // remove BOTH prior outputs first: a failing query must not leave a
      // stale previous result for the driver's compare to "pass" against
      def rmAll(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmAll)
        f.delete(); ()
      }
      rmAll(new java.io.File(s"$outDir/$name"))
      rmAll(new java.io.File(s"$outDir/$name.parquet"))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // also surface the single part as a plain file `<name>.parquet` so
        // either driver convention (file or directory) resolves
        val dir = new java.io.File(s"$outDir/$name")
        dir.listFiles().find(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .foreach { part =>
            Files.copy(part.toPath, Paths.get(s"$outDir/$name.parquet"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The full declared-query manifest: selfcheck.py compares it against
    // the results actually produced, so a query that THROWS (and therefore
    // writes nothing) is a loud MISSING failure, not a silent absence —
    // round 9 shipped six broken queries because absence looked like pass.
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"),
      selected(SparkEntry.queries).keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
