package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

/** Pins the `graft-snapshots` front door: the snapshot table format
  * reachable from `spark.read.format(...)` and from SQL through a
  * registered `USING` view, with version/timestamp pinning, evolved
  * schemas, stats pruning (numFiles), deletion vectors, and writes.
  */
class SnapshotSourceSpec extends SparkSpec {

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row$i")).toDF("id", "payload")
  }

  private def readFmt(dir: String, opts: (String, String)*) = {
    val r = spark.read.format("graft-snapshots")
    opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load(dir)
  }

  private def ids(frame: org.apache.spark.sql.DataFrame): Seq[Long] =
    frame.select(col("id")).collect().map(_.getLong(0)).toSeq.sorted

  test("format read pins versions; default is latest; timestampAsOf works") {
    val dir = tmpDir("srcver")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100)
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1), append = true)

    assert(ids(readFmt(dir)) == (1L to 20L), "default read = latest")
    assert(ids(readFmt(dir, "versionAsOf" -> "1")) == (1L to 10L))
    assert(ids(readFmt(dir, "timestampAsOf" -> afterV1.toString)) ==
      (1L to 10L))
    intercept[IllegalArgumentException] {
      readFmt(dir, "versionAsOf" -> "3")
    }
    intercept[IllegalArgumentException] {
      readFmt(dir, "versionAsOf" -> "1", "timestampAsOf" -> "0")
    }
  }

  test("SQL front door: USING view with a pinned version") {
    val dir = tmpDir("srcsql")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1), append = true)
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW snap_v1
      USING `graft-snapshots`
      OPTIONS (path '$dir', versionAsOf '1')""")
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW snap_latest
      USING `graft-snapshots`
      OPTIONS (path '$dir')""")
    val n1 = spark.sql("SELECT count(*) AS n FROM snap_v1").head().getLong(0)
    val n2 = spark.sql("SELECT count(*) AS n FROM snap_latest")
      .head().getLong(0)
    assert(n1 == 10 && n2 == 20, s"SQL views must time-travel: $n1/$n2")
    val top = spark.sql(
      "SELECT id FROM snap_v1 WHERE id > 7 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(8L, 9L, 10L))
  }

  test("stats pruning engages through the format (numFiles pinned)") {
    val dir = tmpDir("srcprune")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(21 to 30).coalesce(1),
      append = true, statsCols = Seq("id"))

    def scanFiles(frame: org.apache.spark.sql.DataFrame): Long = {
      frame.collect()
      val scan = frame.queryExecution.executedPlan.collectFirst {
        case f: FileSourceScanExec => f
      }.getOrElse(fail("no FileSourceScanExec in the plan"))
      scan.metrics("numFiles").value
    }

    val probe = readFmt(dir).filter(col("id") >= 12 && col("id") <= 18)
    assert(ids(probe) == (12L to 18L))
    assert(scanFiles(probe) == 1,
      "one of three files intersects [12,18] — pruning must engage")

    val two = readFmt(dir).filter(col("id") >= 9 && col("id") <= 13)
    assert(ids(two) == (9L to 13L) && scanFiles(two) == 2)

    // a sparse IN list prunes per value, not by its [min, max] span
    val sparse = readFmt(dir).filter(col("id").isin(5L, 25L))
    assert(ids(sparse) == Seq(5L, 25L) && scanFiles(sparse) == 2)

    // an unfiltered read scans everything; a no-stats column prunes nothing
    val all = readFmt(dir)
    assert(ids(all) == (1L to 30L) && scanFiles(all) == 3)
    val pl = readFmt(dir).filter(col("payload") === "row25")
    assert(pl.count() == 1 && scanFiles(pl) == 3)
  }

  test("evolved schema through the format: rename + widening + backfill") {
    val dir = tmpDir("srcevo")
    import spark.implicits._
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "val")
      .select(col("id").cast("int").as("id"), col("val"))
    Snapshots.commit(spark, dir, v1, append = false)
    val v2 = Seq((3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "value", "extra")
    Snapshots.commit(spark, dir, v2, append = true,
      renames = Map("val" -> "value"))

    val ev = readFmt(dir)
    assert(ev.schema("id").dataType ==
      org.apache.spark.sql.types.LongType, "int must widen to long")
    assert(ev.columns.toSet == Set("id", "value", "extra"))
    val rows = ev.select("id", "value", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq.sortBy(_._1)
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30.0)), (4L, "d", Some(40.0))))
    // a filter on the renamed column resolves against old files too
    assert(ev.filter(col("value") === "a").count() == 1)
    // pinned at v1 the legacy schema is what existed
    val asOf1 = readFmt(dir, "versionAsOf" -> "1")
    assert(asOf1.columns.toSet == Set("id", "val"))
  }

  test("deletion-vector versions read through the format") {
    val dir = tmpDir("srcdv")
    Snapshots.commit(spark, dir, df(1 to 20).repartition(2), append = false)
    val (v2, n) = Snapshots.deleteWhere(spark, dir, col("id") % 5 === 0)
    assert(v2 == 2 && n == 4)
    assert(ids(readFmt(dir)) == (1L to 20L).filterNot(_ % 5 == 0))
    // prior version still reads everything
    assert(ids(readFmt(dir, "versionAsOf" -> "1")) == (1L to 20L))
    // filters above the DV-aware scan still apply
    assert(ids(readFmt(dir).filter(col("id") > 10)) ==
      (11L to 20L).filterNot(_ % 5 == 0))
  }

  test("many-delete reads apply vectors in the task") {
    val dir = tmpDir("srcdvmany")
    Snapshots.commit(spark, dir, df(1 to 4000).repartition(4),
      append = false)
    // most rows of every file die, over two commits: the second extends
    // the vectors the first wrote
    Snapshots.deleteWhere(spark, dir, col("id") % 5 =!= 0 && col("id") <= 2000)
    Snapshots.deleteWhere(spark, dir, col("id") % 5 =!= 0)
    val live = (1L to 4000L).filter(_ % 5 == 0)
    val read = readFmt(dir)
    // one plain file relation, whatever the count: no join, no option;
    // pushed filters still apply
    val plan = read.queryExecution.optimizedPlan
    assert(plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, s"expected no join in:\n$plan")
    assert(ids(read) == live)
    assert(ids(read.filter(col("id") > 3000)) == live.filter(_ > 3000))
    assert(read.filter(col("payload") === "row35").count() == 1)
    assert(read.filter(col("payload") === "row36").count() == 0)
    assert(read.count() == live.size)
    assert(Snapshots.metadataRowCount(spark, dir, 3) == live.size)
    // the pre-delete version reads every row
    assert(ids(readFmt(dir, "versionAsOf" -> "1")) == (1L to 4000L))
  }

  test("batch readChangeFeed: ranged change rows with stamps") {
    val dir = tmpDir("srccdf")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(6 to 8).coalesce(1), append = true)
    Snapshots.deleteWhere(spark, dir, col("id") === 2)
    import spark.implicits._
    Snapshots.upsert(spark, dir,
      Seq((3L, "B3"), (9L, "row9")).toDF("id", "payload"), Seq("id"))

    val all = readFmt(dir, "readChangeFeed" -> "true")
    assert(all.schema.fieldNames.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    def byType(frame: org.apache.spark.sql.DataFrame) =
      frame.groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // v1: 5 ins; v2: 3 ins; v3: 1 del; v4 (upsert): id 3's replacement
    // pairs as update_preimage/postimage, the new id 9 stays an insert
    assert(byType(all) == Map("insert" -> 9L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    // a consumer keyed ONLY on _change_type reconstructs the table: rows
    // in (+) = inserts + postimages, rows out (−) = deletes + preimages
    val replayed = all.groupBy(col("id"))
      .agg(sum(when(col("_change_type").isin("insert", "update_postimage"),
        1).otherwise(-1)).as("s"))
      .filter(col("s") > 0).select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(replayed == ids(readFmt(dir)))
    // the preimage carries the OLD content, the postimage the new
    val images = all.filter(col("_change_type").startsWith("update"))
      .select("_change_type", "id", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      .sorted
    assert(images == Seq(("update_postimage", 3L, "B3"),
      ("update_preimage", 3L, "row3")), s"images: $images")
    // ranged read isolates versions; timestamps are the commit instants
    val v3 = readFmt(dir, "readChangeFeed" -> "true",
      "startingVersion" -> "3", "endingVersion" -> "3")
    assert(byType(v3) == Map("delete" -> 1L))
    assert(v3.select(col("_commit_version")).collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    assert(v3.select(col("_commit_timestamp")).collect()
      .head.getTimestamp(0).getTime > 0L)
    // column pruning + filters compose; a plain delete stays a delete
    assert(readFmt(dir, "readChangeFeed" -> "true")
      .filter(col("_change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      Seq(2L))
    intercept[IllegalArgumentException] {
      readFmt(dir, "readChangeFeed" -> "true", "endingVersion" -> "9")
    }
  }

  test("change feed types updateWhere and applyCdc deltas as " +
      "update_preimage/update_postimage") {
    val dir = tmpDir("cdfupd")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 6).coalesce(1), append = false)
    // v2: positional UPDATE — every delta row pairs wholesale
    Snapshots.updateWhere(spark, dir, col("id") <= 2,
      Seq("payload" -> upper(col("payload"))))
    // v3: CDC batch — id 4 updated, id 5 deleted, id 7 inserted
    Snapshots.applyCdc(spark, dir,
      Seq((4L, "B4"), (7L, "row7n")).toDF("id", "payload"),
      Seq(5L).toDF("id"), Seq("id"))

    def byType(v: Int) = readFmt(dir, "readChangeFeed" -> "true",
        "startingVersion" -> v.toString, "endingVersion" -> v.toString)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType(2) == Map("update_preimage" -> 2L,
      "update_postimage" -> 2L), s"updateWhere delta: ${byType(2)}")
    assert(byType(3) == Map("update_preimage" -> 1L,
      "update_postimage" -> 1L, "delete" -> 1L, "insert" -> 1L),
      s"applyCdc delta: ${byType(3)}")

    // preimages carry old content, postimages new, pairable by key
    val v2 = readFmt(dir, "readChangeFeed" -> "true",
      "startingVersion" -> "2", "endingVersion" -> "2")
      .select("_change_type", "id", "payload").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
      .sorted
    assert(v2 == Seq(("update_postimage", 1L, "ROW1"),
      ("update_postimage", 2L, "ROW2"), ("update_preimage", 1L, "row1"),
      ("update_preimage", 2L, "row2")), s"v2 delta: $v2")

    // signed fold across all four types still reconstructs the head
    val replayed = readFmt(dir, "readChangeFeed" -> "true")
      .groupBy(col("id"))
      .agg(sum(when(col("_change_type").isin("insert", "update_postimage"),
        1).otherwise(-1)).as("s"))
      .filter(col("s") > 0).select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(replayed == ids(readFmt(dir)))

    // a REWRITE keeps the compensating delete+insert typing (no pairing
    // exists — the file set was replaced wholesale)
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir, 3).coalesce(1), append = false)
    assert(byType(4).keySet == Set("delete", "insert"),
      s"rewrite delta: ${byType(4)}")
  }

  test("branch option reads a ref head; default follows main") {
    val dir = tmpDir("srcbranch")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    Snapshots.createRef(spark, dir, "exp")
    Snapshots.commitOnBranch(spark, dir, "exp", df(11 to 20).coalesce(1),
      append = true)
    // default read = main (v1), branch option = exp's head (v2) — even
    // though the global latest version is the branch commit
    assert(ids(readFmt(dir)) == (1L to 10L))
    assert(ids(readFmt(dir, "branch" -> "exp")) == (1L to 20L))
    intercept[IllegalArgumentException] {
      readFmt(dir, "branch" -> "nope")
    }
    intercept[IllegalArgumentException] {
      readFmt(dir, "branch" -> "exp", "versionAsOf" -> "1")
    }
  }

  test("write side: SaveMode maps onto the commit protocol") {
    val dir = tmpDir("srcwrite")
    df(1 to 10).coalesce(1).write.format("graft-snapshots")
      .mode("append").option("statsCols", "id").save(dir)
    df(11 to 20).coalesce(1).write.format("graft-snapshots")
      .mode("append").option("statsCols", "id").save(dir)
    assert(Snapshots.latestVersion(spark, dir) == 2)
    assert(ids(readFmt(dir)) == (1L to 20L))
    // overwrite = rewrite commit; history stays readable
    df(21 to 25).coalesce(1).write.format("graft-snapshots")
      .mode("overwrite").save(dir)
    assert(ids(readFmt(dir)) == (21L to 25L))
    assert(ids(readFmt(dir, "versionAsOf" -> "2")) == (1L to 20L))
    // errorifexists refuses on a non-empty table
    intercept[IllegalStateException] {
      df(1 to 2).write.format("graft-snapshots")
        .mode("errorifexists").save(dir)
    }
    // write-side stats prune reads (round trip through both doors)
    val probe = readFmt(dir, "versionAsOf" -> "2")
      .filter(col("id") >= 2 && col("id") <= 3)
    probe.collect()
    val nf = probe.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f.metrics("numFiles").value
    }.get
    assert(nf == 1, s"write-side statsCols must prune: $nf")
  }

  test("write side: option(branch) commits on the named branch, " +
      "main untouched") {
    val dir = tmpDir("srcwritebranch")
    df(1 to 10).coalesce(1).write.format("graft-snapshots")
      .mode("append").save(dir)                                    // v1
    Snapshots.createRef(spark, dir, "exp")
    df(21 to 22).coalesce(1).write.format("graft-snapshots")
      .mode("append").option("branch", "exp").save(dir)            // v2
    assert(ids(readFmt(dir)) == (1L to 10L),
      "the branch write must not land on main")
    assert(ids(readFmt(dir, "branch" -> "exp")) ==
      ((1L to 10L) ++ (21L to 22L)))
    // overwrite on the branch rewrites the BRANCH line only
    df(31 to 33).coalesce(1).write.format("graft-snapshots")
      .mode("overwrite").option("branch", "exp").save(dir)         // v3
    assert(ids(readFmt(dir, "branch" -> "exp")) == (31L to 33L))
    assert(ids(readFmt(dir)) == (1L to 10L))
    // a missing ref refuses
    intercept[IllegalArgumentException] {
      df(1 to 2).write.format("graft-snapshots")
        .mode("append").option("branch", "nope").save(dir)
    }
    // main never diverged from the base, so the merge FAST-FORWARDS
    // main onto the branch head, adopting its rewrite (git semantics —
    // the rewrote-refusal only guards genuinely diverged sides)
    Snapshots.mergeBranch(spark, dir, "exp", Seq("id"))
    assert(ids(readFmt(dir)) == (31L to 33L),
      "main must fast-forward onto the branch head")
  }

  test("batch readChangeFeed pushes data filters into the scans " +
      "(file pruning from commit-time stats)") {
    val dir = tmpDir("cdfpush")
    // three append vintages with disjoint id ranges + stats, and a
    // delete touching only the middle range
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(21 to 30).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.deleteWhere(spark, dir, col("id") === 15)

    // a predicate only the middle vintage can satisfy: of the 4
    // candidate file reads (3 insert vintages + the delete's parent
    // file), only v2's file admits the range — 2 reads survive (the
    // insert side and the delete-content side both read v2's file)
    val hits = readFmt(dir, "readChangeFeed" -> "true")
      .filter(col("id") >= 12 && col("id") <= 18)
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(hits == ((12L to 18L).map((_, "insert")) :+ (15L, "delete"))
      .sorted, s"got $hits")
    val (kept, total) = SnapshotSource.lastCdfPrune
    assert(total == 4, s"expected 4 candidate file reads, saw $total")
    assert(kept == 2, s"stats must prune the out-of-range vintages: " +
      s"kept $kept of $total")

    // no filter = no pruning, same totals
    assert(readFmt(dir, "readChangeFeed" -> "true").count() == 31)
    assert(SnapshotSource.lastCdfPrune == ((4, 4)))

    // a filter on CHANGE METADATA is the engine's to apply — correct
    // results, no file pruning from it
    assert(readFmt(dir, "readChangeFeed" -> "true")
      .filter(col("_change_type") === "delete").count() == 1)
  }

  test("startingTimestamp/endingTimestamp resolve change-feed ranges " +
      "and stream starts") {
    val dir = tmpDir("cdftime")
    Snapshots.commit(spark, dir, df(1 to 3).coalesce(1), append = false)
    Thread.sleep(1100)
    val betweenV1V2 = System.currentTimeMillis()
    Thread.sleep(1100)
    Snapshots.commit(spark, dir, df(4 to 6).coalesce(1), append = true)
    Snapshots.commit(spark, dir, df(7 to 9).coalesce(1), append = true)

    // batch CDF: startingTimestamp = first version AT or AFTER the
    // instant (v2 here); endingTimestamp = last version at or before
    val late = readFmt(dir, "readChangeFeed" -> "true",
      "startingTimestamp" -> betweenV1V2.toString)
    assert(late.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      (4L to 9L))
    val early = readFmt(dir, "readChangeFeed" -> "true",
      "endingTimestamp" -> betweenV1V2.toString)
    assert(early.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      (1L to 3L))
    intercept[IllegalArgumentException] {
      readFmt(dir, "readChangeFeed" -> "true",
        "startingVersion" -> "1",
        "startingTimestamp" -> betweenV1V2.toString)
    }

    // streaming: a fresh stream with startingTimestamp skips history
    // before the instant
    val cp = java.nio.file.Files.createTempDirectory("cdftime-cp")
      .toString
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir)
      .option("startingTimestamp", betweenV1V2.toString).load()
      .writeStream.format("memory").queryName("cdftime_view")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdftime_view").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted == (4L to 9L))
    } finally q.stop()

    // a FUTURE instant: the stream idles until the next commit
    assert(Snapshots.versionSince(spark, dir,
      System.currentTimeMillis() + 3600000L) == 4)
  }

  test("branch + timestamp bounds resolve against the branch's own " +
      "ancestry, never main's") {
    val dir = tmpDir("brtime")
    Snapshots.commit(spark, dir, df(1 to 3).coalesce(1), append = false) // v1
    Snapshots.createRef(spark, dir, "exp")
    Thread.sleep(1100)
    val beforeMainV2 = System.currentTimeMillis()
    Thread.sleep(1100)
    Snapshots.commit(spark, dir, df(4 to 6).coalesce(1), append = true)  // v2 main
    Thread.sleep(1100)
    Snapshots.commitOnBranch(spark, dir, "exp", df(11 to 13).coalesce(1),
      append = true)                                                     // v3 branch

    // versionSince on the branch line skips main's v2 (not an ancestor)
    assert(Snapshots.versionSince(spark, dir, beforeMainV2) == 2)
    assert(Snapshots.versionSince(spark, dir, beforeMainV2,
      Some("exp")) == 3)
    // versionAsOf likewise: "now" on the branch is v3, on main v2
    val now = System.currentTimeMillis()
    assert(Snapshots.versionAsOf(spark, dir, now) == 2)
    assert(Snapshots.versionAsOf(spark, dir, now, Some("exp")) == 3)

    // batch CDF with branch + startingTimestamp: only the branch delta,
    // never main's v2 rows (a main-line version number is not a branch
    // ancestor, and a range anchored there diffs the wrong base)
    val late = readFmt(dir, "readChangeFeed" -> "true", "branch" -> "exp",
      "startingTimestamp" -> beforeMainV2.toString)
    assert(ids(late) == (11L to 13L), s"got ${ids(late)}")
    val upToNow = readFmt(dir, "readChangeFeed" -> "true",
      "branch" -> "exp", "endingTimestamp" -> now.toString)
    assert(ids(upToNow) == ((1L to 3L) ++ (11L to 13L)))

    // streaming: branch + startingTimestamp starts at the branch
    // version, with the first batch diffed against the LINE's base
    // (raw predecessor v2 belongs to main and would trip the
    // append-superset check)
    val cp = java.nio.file.Files.createTempDirectory("brtime-cp").toString
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("branch", "exp")
      .option("startingTimestamp", beforeMainV2.toString).load()
      .writeStream.format("memory").queryName("brtime_view")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("brtime_view").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted == (11L to 13L))
    } finally q.stop()
  }

  test("change feed across RENAME COLUMN reads pre-rename vintages") {
    val dir = tmpDir("cdfren")
    import spark.implicits._
    // v1 stores the column as `lang`; v2 renames it to `language` while
    // appending; v3 deletes a PRE-rename row (its content must read from
    // v1's files under the head name)
    Snapshots.commit(spark, dir,
      Seq((1L, "en"), (2L, "de")).toDF("id", "lang").coalesce(1),
      append = false)
    Snapshots.commit(spark, dir,
      Seq((3L, "fr")).toDF("id", "language").coalesce(1),
      append = true, renames = Map("lang" -> "language"))
    Snapshots.deleteWhere(spark, dir, col("id") === 1)

    val feed = readFmt(dir, "readChangeFeed" -> "true")
    assert(feed.schema.fieldNames.contains("language"))
    // the regression: anchoring the rename map at each DELTA's version
    // keyed it on pre-rename canonical names, so `language` silently
    // null-backfilled for every v1 row — no change row may be null here
    assert(feed.filter(col("language").isNull).count() == 0,
      "pre-rename vintages must carry their values under the head name")
    val got = feed
      .select("id", "language", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq.sorted
    assert(got == Seq((1L, "en", "delete", 3L), (1L, "en", "insert", 1L),
      (2L, "de", "insert", 1L), (3L, "fr", "insert", 2L)), s"got: $got")

    // the STREAMING feed (same assembly, schema captured at the head)
    val cp = java.nio.file.Files.createTempDirectory("cdfren-cp").toString
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdfren_view")
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("cdfren_view")
      .filter(col("language").isNull).count() == 0)
    assert(spark.table("cdfren_view").count() == 4)
  }

  test("readChangeFeed streams from a created-but-never-committed table") {
    val dir = tmpDir("cdffresh")
    val root = new org.apache.hadoop.fs.Path(dir)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(root)
    // the catalog's pre-first-commit layout: a declared-schema side-file
    // and no manifest (CREATE TABLE without INSERT)
    val o = f.create(new org.apache.hadoop.fs.Path(dir, "_SCHEMA"), true)
    try o.write(df(1 to 1).schema.json.getBytes("UTF-8"))
    finally o.close()

    val cp = java.nio.file.Files.createTempDirectory("cdffresh-cp").toString
    // source CONSTRUCTION must not throw (the regression read v0's
    // nonexistent manifest); the source idles until the first commit
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("readChangeFeed", "true").load()
      .writeStream.format("memory").queryName("cdffresh_view")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdffresh_view").count() == 0)
      Snapshots.commit(spark, dir, df(1 to 3).coalesce(1), append = false)
      q.processAllAvailable()
      val got = spark.table("cdffresh_view")
        .select("id", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
      assert(got == Seq((1L, "insert"), (2L, "insert"), (3L, "insert")))
    } finally q.stop()
  }

  test("writeStream.format runs SnapshotStreamingWrite; batch read and " +
      "write, readStream and the USING view stay on the V1 relation/source") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingRelation}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir("srcident")
    def v1Relation(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l }.nonEmpty

    // batch write: the V1 CreatableRelationProvider plans the save (the
    // commit's own parquet writes report first, the save after them)
    val saved = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long) =
        saved.put(qe.analyzed.getClass.getSimpleName)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception) = ()
    }
    spark.listenerManager.register(listener)
    try {
      df(1 to 3).coalesce(1).write.format("graft-snapshots").save(dir)
      assert(Iterator.continually(
          saved.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null).contains("SaveIntoDataSourceCommand"))
    } finally spark.listenerManager.unregister(listener)

    // batch read, the SQL view (f29) and readStream stay V1
    assert(v1Relation(readFmt(dir)))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW srcident_v " +
      s"USING `graft-snapshots` OPTIONS (path '$dir')")
    assert(v1Relation(spark.table("srcident_v")))
    assert(spark.readStream.format("graft-snapshots").load(dir)
      .queryExecution.analyzed.collectFirst {
        case r: StreamingRelation => r }.nonEmpty)

    // writeStream.format: the one V2 streaming write
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "payload").writeStream
      .format("graft-snapshots").option("path", dir)
      .option("checkpointLocation", tmpDir("srcident-cp")).start()
    try {
      src.addData((4L, "row4"))
      q.processAllAvailable()
      assert(q.lastProgress.sink.description
        .contains("SnapshotStreamingWrite"), q.lastProgress.sink.description)
    } finally q.stop()
    assert(ids(readFmt(dir)) == (1L to 4L))
  }

  test("a streamed part staged over an unpinned session Hadoop conf " +
      "writes and reads back") {
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, payload STRING")
    val path = new org.apache.hadoop.fs.Path(tmpDir("unpinned"),
      "part-0.parquet")
    val w = new SnapshotStreamDataWriter(path, schema,
      spark.sessionState.newHadoopConf())
    Seq(1L -> "a", 2L -> "b").foreach { case (i, p) =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(i,
        org.apache.spark.unsafe.types.UTF8String.fromString(p)))
    }
    w.commit()
    val back = spark.read.parquet(path.toString).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(back == Seq(1L -> "a", 2L -> "b"))
  }

  test("V2 streaming write: an empty Complete epoch publishes an empty " +
      "rewrite (stamped); an empty Append epoch publishes nothing") {
    val dir = tmpDir("emptyepoch")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val conf = new GraftSerConf(spark.sessionState.newHadoopConf())
    val w = new SnapshotStreamingWrite(dir, df(1 to 1).schema,
      "q-empty", truncate = true, keyCols = Nil, conf)
    // Complete-mode epoch whose result set is empty: the table must
    // become empty (an epoch skip would silently keep v1's rows) and
    // the exactly-once stamp must be recorded for the epoch
    w.commit(0L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == 2)
    assert(Snapshots.read(spark, dir, 2).count() == 0)
    assert(Snapshots.read(spark, dir, 2).schema.fieldNames.toSeq ==
      Seq("id", "payload"), "the empty rewrite must keep the schema")
    assert(Snapshots.lastStreamBatch(spark, dir, "q-empty").contains(0L))
    // an engine re-delivery of the stamped epoch is skipped
    w.commit(0L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == 2)
    // an all-empty APPEND epoch is a no-op (appending zero rows)
    val wa = new SnapshotStreamingWrite(dir, df(1 to 1).schema,
      "q-empty-app", truncate = false, keyCols = Nil, conf)
    wa.commit(0L, Array.empty)
    assert(Snapshots.latestVersion(spark, dir) == 2)
  }
}
