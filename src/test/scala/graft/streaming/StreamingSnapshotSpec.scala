package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sources.Snapshots

/** Streaming ingest INTO the f19 snapshot table: each micro-batch lands
  * as one append commit (Snapshots.commit in foreachBatch), so a reader
  * always resolves a consistent version — never a half-written batch —
  * and every historical version stays addressable (the time-travel
  * contract under continuous ingest). The final version must equal the
  * batch union; the per-epoch CDC must replay each micro-batch exactly.
  */
case class DocRow(id: Long, payload: String)

class StreamingSnapshotSpec extends SparkSpec {

  /** The one streaming write, driven directly as the engine's epoch
    * commit does: `qid` impersonates a real query's exactly-once scope. */
  private def streamWrite(dir: String, qid: String,
      branch: Option[String] = None) = {
    import spark.implicits._
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def queryId(): String = qid
      override def schema() = Seq.empty[DocRow].toDF().schema
    }
    graft.sources.SnapshotStreamingWrite(dir, info, truncate = false,
      branch)
  }

  /** Stage `rows` as one executor part of `epoch`, the way the engine's
    * writers do, and return the commit messages `commit` receives. */
  private def stagedEpoch(w: graft.sources.SnapshotStreamingWrite,
      epoch: Long, rows: Seq[DocRow])
      : Array[org.apache.spark.sql.connector.write.WriterCommitMessage] = {
    val dw = w.createStreamingWriterFactory(null).createWriter(0, 0L, epoch)
    rows.foreach(r => dw.write(org.apache.spark.sql.catalyst.InternalRow(
      r.id, org.apache.spark.unsafe.types.UTF8String.fromString(r.payload))))
    Array(dw.commit())
  }

  test("micro-batch appends commit one readable version each") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream-snap")

    val batches = Seq(
      (1L to 5L).map(i => DocRow(i, s"r$i")),
      (6L to 8L).map(i => DocRow(i, s"r$i")),
      (9L to 12L).map(i => DocRow(i, s"r$i")))

    val src = MemoryStream[DocRow]
    val q = src.toDF().writeStream.foreachBatch {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Snapshots.commit(spark, dir, b,
          append = Snapshots.latestVersion(spark, dir) > 0)
        ()
    }.start()
    try {
      batches.foreach { g => src.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()

    assert(Snapshots.latestVersion(spark, dir) == 3)
    def ids(v: Int): Seq[Long] = Snapshots.read(spark, dir, v)
      .select(col("id")).collect().map(_.getLong(0)).toSeq.sorted
    // each version is the prefix union at its commit time — time travel
    // into mid-ingest states stays exact after later commits
    assert(ids(1) == (1L to 5L) && ids(2) == (1L to 8L)
      && ids(3) == (1L to 12L))
    // per-epoch CDC replays exactly the micro-batch that landed
    val cdc = Snapshots.diff(spark, dir, 2, 3, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(cdc == (9L to 12L).map(("insert", _)), s"cdc: $cdc")
  }

  test("streaming CDC apply: per-micro-batch upsert, last writer wins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream-snap-upsert")
    Snapshots.commit(spark, dir,
      (1L to 10L).map(i => DocRow(i, s"base$i")).toDF("id", "payload"),
      append = false)
    // a change feed: each micro-batch updates some keys and inserts others
    val batches = Seq(
      Seq(DocRow(3, "u3a"), DocRow(11, "i11")),
      Seq(DocRow(3, "u3b"), DocRow(7, "u7"), DocRow(12, "i12")))
    val src = MemoryStream[DocRow]
    val q = src.toDF().writeStream.foreachBatch {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Snapshots.upsert(spark, dir, b, Seq("id")); ()
    }.start()
    try {
      batches.foreach { g => src.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    assert(Snapshots.latestVersion(spark, dir) == 3)
    val got = Snapshots.read(spark, dir, 3).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val want = ((1L to 10L).filterNot(Set(3L, 7L))
      .map(i => (i, s"base$i")) ++
      Seq((3L, "u3b"), (7L, "u7"), (11L, "i11"), (12L, "i12"))).sortBy(_._1)
    assert(got == want, "the LAST batch's value must win per key")
    // mid-feed time travel still exact
    assert(Snapshots.read(spark, dir, 2).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      .get(3L).contains("u3a"))
  }

  test("change feed: downstream converges through appends, upserts, deletes, rewrites") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val up = tmpDir("cf-up")
    val down = tmpDir("cf-down")
    def table(dir: String): Seq[(Long, String)] =
      Snapshots.read(spark, dir, Snapshots.latestVersion(spark, dir))
        .select("id", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

    // the stream: each tick is one replication step (the MemoryStream
    // drive makes the cadence deterministic; snapshotChangeFeed wraps
    // the same step on a rate trigger)
    val ticks = MemoryStream[Int]
    val q = ticks.toDF().writeStream.foreachBatch {
      (_: org.apache.spark.sql.DataFrame, _: Long) =>
        Snapshots.replicate(spark, up, down, Seq("id")); ()
    }.start()
    def tick(): Unit = { ticks.addData(1); q.processAllAvailable() }

    try {
      // v1: cold copy
      Snapshots.commit(spark, up,
        (1L to 10L).map(i => DocRow(i, s"base$i")).toDF("id", "payload"),
        append = false)
      tick()
      assert(table(down) == table(up), "cold copy must converge")

      // v2: append
      Snapshots.commit(spark, up,
        (11L to 15L).map(i => DocRow(i, s"base$i")).toDF("id", "payload"),
        append = true)
      tick()
      assert(table(down) == table(up), "append must converge")

      // v3: upsert — an UPDATE must replicate (key-presence CDC would
      // miss it), plus an insert
      Snapshots.upsert(spark, up,
        Seq(DocRow(3, "updated3"), DocRow(16, "new16"))
          .toDF("id", "payload"), Seq("id"))
      tick()
      assert(table(down) == table(up), "upsert must converge")
      assert(table(down).toMap.get(3L).contains("updated3"))

      // v4: merge-on-read delete
      Snapshots.deleteWhere(spark, up, col("id") % 5 === 0)
      tick()
      assert(table(down) == table(up), "delete must converge")

      // v5: identical-content rewrite — marker advances, downstream
      // publishes NOTHING (a file-level feed would re-ship the table)
      val before = Snapshots.latestVersion(spark, down)
      Snapshots.commit(spark, up,
        Snapshots.read(spark, up, 4).coalesce(1), append = false)
      tick()
      assert(Snapshots.latestVersion(spark, down) == before,
        "a pure rewrite must not publish a downstream version")
      assert(table(down) == table(up))

      // an idle tick is a no-op
      tick()
      assert(Snapshots.latestVersion(spark, down) == before)
    } finally q.stop()

    // the production wrapper drives the same step on a rate trigger
    Snapshots.commit(spark, up,
      Seq(DocRow(99, "late")).toDF("id", "payload"), append = true)
    val feed = graft.streaming.CorpusStreaming.snapshotChangeFeed(
      spark, up, down, Seq("id"), intervalMs = 200L)
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (table(down) != table(up) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(table(down) == table(up), "rate-driven feed must converge")
    } finally feed.stop()

    // replication follows MAIN: a branch commit upstream (which takes a
    // global version number) must not leak into the replica
    val mainBefore = table(up)
    Snapshots.createRef(spark, up, "exp")
    Snapshots.commitOnBranch(spark, up, "exp",
      Seq(DocRow(777, "branch-only")).toDF("id", "payload"), append = true)
    Snapshots.replicate(spark, up, down, Seq("id"))
    assert(table(down) == mainBefore,
      "a branch commit must not replicate into the downstream table")
  }

  test("writeStream sink: one commit per batch, exactly-once on replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("sink-snap")
    val cp = tmpDir("sink-cp")
    def ids(v: Int): Seq[Long] = Snapshots.read(spark, dir, v)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

    val src = MemoryStream[DocRow]
    val q = src.toDF().writeStream.format("graft-snapshots")
      .option("path", dir).option("checkpointLocation", cp)
      .option("statsCols", "id").start()
    try {
      src.addData((1L to 5L).map(i => DocRow(i, s"r$i")): _*)
      q.processAllAvailable()
      src.addData((6L to 9L).map(i => DocRow(i, s"r$i")): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.latestVersion(spark, dir) == 2)
    assert(ids(1) == (1L to 5L) && ids(2) == (1L to 9L),
      "each micro-batch must land as one append commit")

    // restart against the SAME checkpoint: the stream continues, and
    // nothing that already landed is re-committed
    val q2 = src.toDF().writeStream.format("graft-snapshots")
      .option("path", dir).option("checkpointLocation", cp)
      .option("statsCols", "id").start()
    val queryId = q2.id.toString // stable across checkpointed restarts
    try {
      src.addData(DocRow(10L, "r10"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(Snapshots.latestVersion(spark, dir) == 3)
    assert(ids(3) == (1L to 10L))

    // direct replay pin: an already-stamped (queryId, epochId) is a
    // NO-OP (the engine re-delivers the last epoch after a crash); the
    // idempotence cursor is scoped per query, so the pin impersonates
    // the real query's id
    val w = streamWrite(dir, queryId)
    w.commit(2L, stagedEpoch(w, 2L, (90L to 95L).map(i => DocRow(i, s"r$i"))))
    assert(Snapshots.latestVersion(spark, dir) == 3,
      "a replayed batch id must not double-commit")
    // a REGRESSED id (below the stamped cursor) is a checkpoint
    // rollback — silent skipping would lose data, so it fails loudly
    val e = intercept[IllegalStateException] {
      w.commit(0L, stagedEpoch(w, 0L, Seq(DocRow(99L, "x"))))
    }
    assert(e.getMessage.contains("regressed"), e.getMessage)
    // a DIFFERENT query's batch 0 is NOT a replay: batch ids restart at
    // 0 with every fresh checkpoint, and a table-wide cursor would have
    // silently dropped this commit (the SetTransaction scoping contract)
    val src3 = MemoryStream[DocRow]
    val qNew = src3.toDF().writeStream.format("graft-snapshots")
      .option("path", dir)
      .option("checkpointLocation", tmpDir("sink-cp-fresh")).start()
    try {
      src3.addData(DocRow(11L, "r11"))
      qNew.processAllAvailable()
    } finally qNew.stop()
    assert(Snapshots.latestVersion(spark, dir) == 4 &&
      ids(4) == (1L to 11L),
      "a new query's batch 0 must commit, not be dropped as a replay")
    // stats recorded by the streamed commits prune like batch commits
    val (_, (nRead, nTotal)) =
      Snapshots.readPruned(spark, dir, 3, "id", 7L, 8L)
    assert(nTotal == 3 && nRead == 1)

    // Update mode: micro-batches MERGE by key
    val dir2 = tmpDir("sink-upd")
    val src2 = MemoryStream[DocRow]
    val q3 = src2.toDF().writeStream.format("graft-snapshots")
      .outputMode("update")
      .option("path", dir2).option("keyCols", "id")
      .option("checkpointLocation", tmpDir("sink-upd-cp")).start()
    try {
      src2.addData(DocRow(1, "a1"), DocRow(2, "b1"))
      q3.processAllAvailable()
      src2.addData(DocRow(2, "b2"), DocRow(3, "c1"))
      q3.processAllAvailable()
    } finally q3.stop()
    val got = Snapshots.read(spark, dir2,
        Snapshots.latestVersion(spark, dir2))
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a1"), (2L, "b2"), (3L, "c1")),
      "update-mode batches must merge by key, last writer wins")
  }

  test("writeStream sink: option(branch) commits each batch on the " +
      "branch; main untouched; the replay cursor walks the branch line") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("sink-branch")
    Snapshots.commit(spark, dir,
      Seq(DocRow(1, "base")).toDF("id", "payload"), append = false) // v1
    Snapshots.createRef(spark, dir, "stage")
    def idsAt(ref: String): Seq[Long] =
      Snapshots.read(spark, dir, Snapshots.refVersion(spark, dir, ref))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val cp = tmpDir("sink-branch-cp")
    val src = MemoryStream[DocRow]
    val q = src.toDF().writeStream.format("graft-snapshots")
      .option("path", dir).option("branch", "stage")
      .option("checkpointLocation", cp).start()
    try {
      src.addData(DocRow(2, "s2"))
      q.processAllAvailable()
      // a MAIN commit interleaves: the branch cursor must not see it
      Snapshots.commit(spark, dir,
        Seq(DocRow(77, "main-only")).toDF("id", "payload"), append = true)
      src.addData(DocRow(3, "s3"))
      q.processAllAvailable()
    } finally q.stop()
    assert(idsAt("main") == Seq(1L, 77L),
      s"branch batches must not land on main: ${idsAt("main")}")
    assert(idsAt("stage") == Seq(1L, 2L, 3L),
      s"the branch must carry base + streamed rows: ${idsAt("stage")}")

    // restart on the SAME checkpoint: continues exactly-once on the
    // branch (the cursor is read off the branch's ancestry, so main's
    // interleaved stamp-less commit cannot confuse it)
    val before = Snapshots.latestVersion(spark, dir)
    val q2 = src.toDF().writeStream.format("graft-snapshots")
      .option("path", dir).option("branch", "stage")
      .option("checkpointLocation", cp).start()
    try {
      src.addData(DocRow(4, "s4"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(idsAt("stage") == Seq(1L, 2L, 3L, 4L),
      s"restart must append exactly once: ${idsAt("stage")}")
    assert(Snapshots.latestVersion(spark, dir) == before + 1,
      "the restart must publish exactly one new version")

    // a missing ref / Update mode refuse at start
    intercept[IllegalArgumentException] {
      src.toDF().writeStream.format("graft-snapshots")
        .option("path", dir).option("branch", "nope")
        .option("checkpointLocation", tmpDir("sink-branch-cp2")).start()
    }
    intercept[IllegalArgumentException] {
      src.toDF().writeStream.format("graft-snapshots")
        .outputMode("update")
        .option("path", dir).option("branch", "stage")
        .option("keyCols", "id")
        .option("checkpointLocation", tmpDir("sink-branch-cp3")).start()
    }
  }

  test("readStream source: version offsets, append semantics, restarts") {
    import spark.implicits._
    val dir = tmpDir("src-snap")
    val down = tmpDir("src-down")
    val cp = tmpDir("src-cp")
    Snapshots.commit(spark, dir,
      (1L to 5L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
      append = false)

    // restartable leg runs through the snapshot SINK (the memory sink
    // refuses checkpoint recovery)
    def startQuery() = spark.readStream
      .format("graft-snapshots").option("path", dir).load()
      .writeStream.format("graft-snapshots").option("path", down)
      .option("checkpointLocation", cp).start()
    def downIds(): Seq[Long] = Snapshots.read(spark, down,
        Snapshots.latestVersion(spark, down))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

    val q = startQuery()
    try {
      q.processAllAvailable()
      assert(downIds() == (1L to 5L), "v1 = the first batch")
      Snapshots.commit(spark, dir,
        (6L to 8L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
        append = true)
      q.processAllAvailable()
      assert(downIds() == (1L to 8L), "an append commit streams")
    } finally q.stop()

    // restart from the checkpoint: only NEW versions stream, no replay
    Snapshots.commit(spark, dir,
      Seq(DocRow(9L, "r9")).toDF("id", "payload"), append = true)
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(downIds() == (1L to 9L))
      assert(Snapshots.latestVersion(spark, down) == 3,
        "a restarted stream must resume AFTER the checkpointed version")
    } finally q2.stop()

    // a rewrite breaks the append contract: the stream fails actionably
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir, 3).coalesce(1), append = false)
    val q3 = startQuery()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try { q3.processAllAvailable() } finally q3.stop()
    }
    assert(e.getCause.getMessage.contains("ignoreChanges"),
      s"rewrite must fail with guidance, got: ${e.getCause.getMessage}")

    // ignoreChanges=true streams the rewrite's files' rows (fresh
    // checkpoint: from offset zero the first batch is v4's file set)
    val q4 = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("ignoreChanges", "true").load()
      .writeStream.format("memory").queryName("snapfeed4")
      .option("checkpointLocation", tmpDir("src-cp4"))
      .outputMode("append").start()
    try {
      q4.processAllAvailable()
      val sunk = spark.table("snapfeed4").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(sunk == (1L to 9L),
        "ignoreChanges emits the rewrite's (new) files' rows")
    } finally q4.stop()
  }

  test("source: startingVersion begins a fresh stream mid-history") {
    import spark.implicits._
    val dir = tmpDir("src-startv")
    Snapshots.commit(spark, dir,
      (1L to 5L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
      append = false)
    Snapshots.commit(spark, dir,
      (6L to 8L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
      append = true)
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("startingVersion", "2").load()
      .writeStream.format("memory").queryName("srcsv")
      .option("checkpointLocation", tmpDir("src-startv-cp")).start()
    try {
      q.processAllAvailable()
      val sunk = spark.table("srcsv").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(sunk == (6L to 8L),
        s"the first batch must begin AT startingVersion, got $sunk")
      // later appends still stream
      Snapshots.commit(spark, dir,
        Seq(DocRow(9L, "r9")).toDF("id", "payload"), append = true)
      q.processAllAvailable()
      assert(spark.table("srcsv").count() == 4)
    } finally q.stop()
  }

  test("source: branch commits interleave without breaking an append stream") {
    import spark.implicits._
    val dir = tmpDir("src-branch")
    Snapshots.commit(spark, dir,
      (1L to 3L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
      append = false)
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("srcbr")
      .option("checkpointLocation", tmpDir("src-branch-cp")).start()
    try {
      q.processAllAvailable()
      // a branch takes the next GLOBAL version numbers; main then
      // appends — the main line is pure-append and must keep streaming
      Snapshots.createRef(spark, dir, "exp")
      Snapshots.commitOnBranch(spark, dir, "exp",
        Seq(DocRow(100L, "branch")).toDF("id", "payload"), append = true)
      Snapshots.commit(spark, dir,
        Seq(DocRow(4L, "r4")).toDF("id", "payload"), append = true)
      q.processAllAvailable()
      val sunk = spark.table("srcbr").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(sunk == (1L to 4L),
        s"main's appends stream, the branch's rows do not: $sunk")
    } finally q.stop()
  }

  test("source: renamed vintages stream under the canonical schema") {
    import spark.implicits._
    val dir = tmpDir("src-ren")
    // v1 stores the column as "val"; v2 renames it to "value"
    Snapshots.commit(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "val"), append = false)
    Snapshots.commit(spark, dir,
      Seq((3L, "c")).toDF("id", "value"), append = true,
      renames = Map("val" -> "value"))
    // fresh stream: the first batch spans BOTH vintages — v1's rows must
    // surface under the canonical name, not as nulls
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("srcren")
      .option("checkpointLocation", tmpDir("src-ren-cp")).start()
    try {
      q.processAllAvailable()
      val sunk = spark.table("srcren").select("id", "value").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
      assert(sunk == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        s"renamed-vintage rows must not null out: $sunk")
    } finally q.stop()
  }

  test("table -> stream -> table: source composes with the sink") {
    import spark.implicits._
    val up = tmpDir("pipe-up")
    val down = tmpDir("pipe-down")
    Snapshots.commit(spark, up,
      (1L to 4L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
      append = false)
    val q = spark.readStream.format("graft-snapshots")
      .option("path", up).load()
      .writeStream.format("graft-snapshots")
      .option("path", down).option("statsCols", "id")
      .option("checkpointLocation", tmpDir("pipe-cp")).start()
    try {
      q.processAllAvailable()
      Snapshots.commit(spark, up,
        (5L to 7L).map(i => DocRow(i, s"r$i")).toDF("id", "payload"),
        append = true)
      q.processAllAvailable()
    } finally q.stop()
    val got = Snapshots.read(spark, down,
        Snapshots.latestVersion(spark, down))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(got == (1L to 7L),
      "every upstream append must land downstream, exactly once")
    assert(Snapshots.latestVersion(spark, down) == 2,
      "one downstream commit per upstream version")
  }

  test("streaming commits with statsCols prune like batch commits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream-snap-stats")
    // key-ranged micro-batches (the landing pattern of a time- or
    // id-ordered feed): each batch's file records its own id bounds
    val batches = Seq((1L to 100L), (101L to 200L), (201L to 300L))
      .map(_.map(i => DocRow(i, s"r$i")))
    val src = MemoryStream[DocRow]
    val q = src.toDF().writeStream.foreachBatch {
      (b: org.apache.spark.sql.DataFrame, _: Long) =>
        Snapshots.commit(spark, dir, b.coalesce(1),
          append = Snapshots.latestVersion(spark, dir) > 0,
          statsCols = Seq("id"))
        ()
    }.start()
    try {
      batches.foreach { g => src.addData(g: _*); q.processAllAvailable() }
    } finally q.stop()
    // a point-ish probe opens only the one file whose range contains it
    val (probe, (nRead, nTotal)) =
      Snapshots.readPruned(spark, dir, 3, "id", 150L, 160L)
    assert(nTotal == 3 && nRead == 1,
      s"streamed stats must prune to the matching batch file: $nRead/$nTotal")
    assert(probe.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      (150L to 160L))
  }

  test("readChangeFeed: a signed aggregate converges through delete + rewrite") {
    import spark.implicits._
    val dir = tmpDir("cdf")
    def table(): Seq[(Long, String)] =
      Snapshots.read(spark, dir, Snapshots.latestVersion(spark, dir))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

    Snapshots.commit(spark, dir,
      (1L to 6L).map(i => (i, s"p$i")).toDF("id", "payload").coalesce(1),
      append = false)

    // the downstream view: count + a signed id-sum per payload prefix,
    // maintained PURELY from the feed (inserts +, deletes −)
    val feed = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("readChangeFeed", "true").load()
    assert(feed.schema.fieldNames.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    // rows in (inserts AND update postimages) count +, rows out
    // (deletes AND update preimages) count − — the signed-fold contract
    // across all four change types
    val signed = feed.withColumn("sgn",
      when(col("_change_type").isin("insert", "update_postimage"), 1L)
        .otherwise(-1L))
    val q = signed.groupBy(lit(1).as("g"))
      .agg(sum(col("sgn")).as("n"), sum(col("sgn") * col("id")).as("idsum"))
      .writeStream.format("memory").queryName("cdf_view")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("cdf-cp")).start()
    def view(): (Long, Long) = {
      q.processAllAvailable()
      val r = spark.table("cdf_view").collect().head
      (r.getLong(1), r.getLong(2))
    }
    def expected(): (Long, Long) = {
      val t = table(); (t.size.toLong, t.map(_._1).sum)
    }
    try {
      assert(view() == expected(), "after the seed commit")

      // append
      Snapshots.commit(spark, dir,
        (7L to 9L).map(i => (i, s"p$i")).toDF("id", "payload").coalesce(1),
        append = true)
      assert(view() == expected(), "after an append")

      // merge-on-read DELETE: the feed must emit retractions, where the
      // plain append source refuses and ignoreChanges silently drops
      Snapshots.deleteWhere(spark, dir, col("id") % 3 === 0)
      assert(view() == expected(), "after deleteWhere")

      // upsert: the replaced row pairs as update_preimage/postimage
      // (id 1 existed), the new key (10) stays a plain insert — a
      // consumer keyed only on _change_type reconstructs the table
      Snapshots.upsert(spark, dir,
        Seq((1L, "P1"), (10L, "p10")).toDF("id", "payload"), Seq("id"))
      assert(view() == expected(), "after an upsert")

      // REWRITE (compaction shape): delete-all + insert-all compensate
      Snapshots.commit(spark, dir,
        Snapshots.read(spark, dir, Snapshots.latestVersion(spark, dir))
          .coalesce(1), append = false)
      assert(view() == expected(), "after a rewrite")
    } finally q.stop()

    // exclusivity: the feed REPRESENTS changes, ignoreChanges drops them
    val e = intercept[Exception] {
      spark.readStream.format("graft-snapshots")
        .option("path", dir).option("readChangeFeed", "true")
        .option("ignoreChanges", "true").load()
        .writeStream.format("memory").queryName("cdf_bad")
        .option("checkpointLocation", tmpDir("cdf-bad-cp")).start()
        .processAllAvailable()
    }
    assert(e.getMessage != null)
  }

  test("maxVersionsPerTrigger bounds catch-up batches; a restart " +
      "resumes the cap past the checkpoint") {
    import spark.implicits._
    val dir = tmpDir("mvpt")
    def commitN(i: Int): Unit = {
      Snapshots.commit(spark, dir,
        ((i * 10 + 1) to (i * 10 + 5)).map(k => DocRow(k.toLong, s"p$k"))
          .toDF("id", "payload").coalesce(1), append = i > 1)
      ()
    }
    (1 to 5).foreach(commitN)
    val cp = tmpDir("mvpt-cp")
    // foreachBatch (checkpoint-recoverable, unlike the memory sink)
    // accumulating (batchRows, ids) so batch SIZES are pinned too
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def sink(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val ids = b.select("id").collect().map(_.getLong(0)).toSeq
      if (ids.nonEmpty) { seen.add(ids); () }
    }
    def start() = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("maxVersionsPerTrigger", "2").load()
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", cp).start()

    val q = start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    // everything arrives, but never more than 2 versions (10 rows) per
    // micro-batch: 5 versions at cap 2 = batches of 10, 10, 5 rows
    assert(seen.asScala.flatten.toSeq.sorted ==
      (11L to 55L).filter(k => k % 10 >= 1 && k % 10 <= 5))
    assert(seen.asScala.map(_.size).toSeq == Seq(10, 10, 5),
      s"batches: ${seen.asScala.map(_.size)}")

    // three more versions land while the query is down; the restarted
    // query resumes from the CHECKPOINT (no duplicates) with the cap
    // still applying to the catch-up
    seen.clear()
    (6 to 8).foreach(commitN)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.asScala.flatten.toSeq.sorted ==
      (61L to 85L).filter(k => k % 10 >= 1 && k % 10 <= 5),
      s"restart must emit exactly v6-v8's rows once, got " +
        s"${seen.asScala.flatten.toSeq.sorted}")
    assert(seen.asScala.map(_.size).toSeq == Seq(10, 5),
      s"restart batches: ${seen.asScala.map(_.size)}")

    // the CHANGE FEED source honors the same cap
    val cdfCp = tmpDir("mvpt-cdf-cp")
    val q3 = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "3").load()
      .writeStream.format("memory").queryName("mvpt_cdf")
      .option("checkpointLocation", cdfCp).start()
    try {
      q3.processAllAvailable()
      assert(spark.table("mvpt_cdf").count() == 40) // 8 versions x 5 ins
      val batches = q3.recentProgress.filter(_.numInputRows > 0)
        .map(_.numInputRows).toSeq
      assert(batches == Seq(15L, 15L, 10L), s"cdf batches: $batches")
    } finally q3.stop()
  }

  test("maxFilesPerTrigger splits catch-up batches mid-version") {
    import spark.implicits._
    val dir = tmpDir("mfpt")
    def commitRange(r: Range, parts: Int, append: Boolean): Unit = {
      Snapshots.commit(spark, dir,
        r.map(k => DocRow(k.toLong, s"p$k")).toDF("id", "payload")
          .repartition(parts), append = append)
      ()
    }
    commitRange(1 to 40, 4, append = false)  // v1: ~4 files
    commitRange(41 to 70, 3, append = true)  // v2: ~3 files
    commitRange(71 to 90, 2, append = true)  // v3: ~2 files
    val totalFiles = Snapshots.read(spark, dir, 3).inputFiles.length
    assert(totalFiles >= 6, s"fixture needs several files: $totalFiles")
    val v1Files = Snapshots.read(spark, dir, 1).inputFiles.length

    val cp = tmpDir("mfpt-cp")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def sink(b: org.apache.spark.sql.DataFrame, id: Long): Unit = {
      val ids = b.select("id").collect().map(_.getLong(0)).toSeq
      if (ids.nonEmpty) { seen.add(ids); () }
    }
    def start() = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("maxFilesPerTrigger", "3").load()
      .writeStream.foreachBatch(sink _)
      .option("checkpointLocation", cp).start()

    val q = start()
    try q.processAllAvailable() finally q.stop()
    import scala.jdk.CollectionConverters._
    // everything arrives exactly once…
    assert(seen.asScala.flatten.toSeq.sorted == (1L to 90L))
    // …in ceil(totalFiles/3) batches (the greedy walk fills each batch
    // to exactly 3 files, crossing version boundaries)
    val expected = (totalFiles + 2) / 3
    assert(seen.asScala.size == expected,
      s"batches: ${seen.asScala.map(_.size)} (files: $totalFiles)")
    // and the FIRST batch stopped MID-version (v1 alone spans >3 files)
    if (v1Files > 3) {
      val first = seen.asScala.head
      assert(first.forall(_ <= 40L) && first.size < 40,
        s"first batch must be a strict slice of v1: ${first.size} rows")
    }

    // restart: one more version lands; exactly its rows arrive, once
    seen.clear()
    commitRange(91 to 100, 2, append = true) // v4
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(seen.asScala.flatten.toSeq.sorted == (91L to 100L),
      s"restart must emit exactly v4's rows once: ${seen.asScala}")

    // the change feed refuses the knob (its deltas are per-version)
    val e = intercept[Exception] {
      val qq = spark.readStream.format("graft-snapshots")
        .option("path", dir).option("readChangeFeed", "true")
        .option("maxFilesPerTrigger", "3").load()
        .writeStream.format("memory").queryName("mfpt_cdf_bad")
        .option("checkpointLocation", tmpDir("mfpt-cdf-bad-cp")).start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(e.getMessage.contains("maxFilesPerTrigger"), e.getMessage)
  }

  test("maxBytesPerTrigger splits a fat version into byte-bounded " +
      "batches (soft max: at least one file per batch)") {
    import spark.implicits._
    val dir = tmpDir("mbpt")
    // one FAT version (several files) + a small follow-up
    Snapshots.commit(spark, dir,
      (1 to 40).map(k => DocRow(k.toLong, "x" * 50)).toDF("id", "payload")
        .repartition(4), append = false)
    Snapshots.commit(spark, dir,
      (41 to 50).map(k => DocRow(k.toLong, "y" * 50)).toDF("id", "payload")
        .coalesce(1), append = true)
    val v1Files = Snapshots.read(spark, dir, 1).inputFiles.length
    assert(v1Files >= 3, s"fixture needs a multi-file version: $v1Files")

    import scala.jdk.CollectionConverters._
    def drain(budget: String): Seq[Seq[Long]] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val q = spark.readStream.format("graft-snapshots")
        .option("path", dir).option("maxBytesPerTrigger", budget).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val got = b.select("id").collect().map(_.getLong(0)).toSeq
            if (got.nonEmpty) { seen.add(got); () }
        }.option("checkpointLocation", tmpDir("mbpt-cp")).start()
      try q.processAllAvailable() finally q.stop()
      seen.asScala.toSeq
    }

    // a 1-byte budget: every batch admits exactly ONE file (the soft
    // max never wedges on a file above the budget), so the fat version
    // splits across as many batches as it has files
    val tiny = drain("1")
    assert(tiny.flatten.sorted == (1L to 50L),
      s"everything must arrive exactly once: ${tiny.flatten.sorted}")
    assert(tiny.size == v1Files + 1,
      s"expected one file per batch (${v1Files + 1}), got ${tiny.size}: " +
        tiny.map(_.size))

    // a budget above the whole history: one catch-up batch
    val one = drain((10L << 30).toString)
    assert(one.size == 1 && one.head.sorted == (1L to 50L),
      s"a huge budget must admit everything at once: ${one.map(_.size)}")

    // the change feed refuses the knob (per-version deltas)
    val e = intercept[Exception] {
      val qq = spark.readStream.format("graft-snapshots")
        .option("path", dir).option("readChangeFeed", "true")
        .option("maxBytesPerTrigger", "1").load()
        .writeStream.format("memory").queryName("mbpt_cdf_bad")
        .option("checkpointLocation", tmpDir("mbpt-cdf-bad-cp")).start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(e.getMessage.contains("maxBytesPerTrigger"), e.getMessage)
  }

  test("branch option streams a named branch's line, not main") {
    import spark.implicits._
    val dir = tmpDir("branchstream")
    Snapshots.commit(spark, dir,
      (1L to 5L).map(i => DocRow(i, s"p$i")).toDF("id", "payload")
        .coalesce(1), append = false)                              // v1
    Snapshots.createRef(spark, dir, "exp")
    Snapshots.commitOnBranch(spark, dir, "exp",
      (11L to 13L).map(i => DocRow(i, s"b$i")).toDF("id", "payload")
        .coalesce(1), append = true)                               // v2
    Snapshots.commit(spark, dir,
      (21L to 23L).map(i => DocRow(i, s"m$i")).toDF("id", "payload")
        .coalesce(1), append = true)                               // v3

    val cp = tmpDir("branchstream-cp")
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("branch", "exp").load()
      .writeStream.format("memory").queryName("bs_view")
      .option("checkpointLocation", cp).start()
    try {
      q.processAllAvailable()
      val got = spark.table("bs_view").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(got == ((1L to 5L) ++ (11L to 13L)),
        s"the branch stream must see v1+v2, never main's v3: $got")
      // a further branch commit arrives; a further main commit does not
      Snapshots.commitOnBranch(spark, dir, "exp",
        Seq(DocRow(14L, "b14")).toDF("id", "payload"), append = true)
      Snapshots.commit(spark, dir,
        Seq(DocRow(24L, "m24")).toDF("id", "payload"), append = true)
      q.processAllAvailable()
      val got2 = spark.table("bs_view").select("id").collect()
        .map(_.getLong(0)).toSeq.sorted
      assert(got2 == ((1L to 5L) ++ (11L to 14L)), s"got: $got2")
    } finally q.stop()

    // the CHANGE FEED follows the branch too (batch form)
    val cdf = spark.read.format("graft-snapshots")
      .option("readChangeFeed", "true").option("branch", "exp")
      .load(dir)
    assert(cdf.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      ((1L to 5L) ++ (11L to 14L)))
    // a tag cannot stream (the source refuses at query start — load()
    // only resolves the schema)
    Snapshots.createRef(spark, dir, "pin", tag = true)
    val e = intercept[Exception] {
      val qq = spark.readStream.format("graft-snapshots")
        .option("path", dir).option("branch", "pin").load()
        .writeStream.format("memory").queryName("bs_tag")
        .option("checkpointLocation", tmpDir("bs-tag-cp")).start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(e.getMessage.contains("tags cannot stream") ||
      e.getMessage.contains("no branch"), e.getMessage)
  }

  test("capped admission advances along the followed line, skipping " +
      "interleaved other-line commits") {
    import spark.implicits._
    val dir = tmpDir("capline")
    def mrows(r: Range) = r.map(i => DocRow(i.toLong, s"m$i"))
      .toDF("id", "payload").coalesce(1)
    def brow(id: Long) = Seq(DocRow(id, "b")).toDF("id", "payload")
      .coalesce(1)
    Snapshots.commit(spark, dir, mrows(1 to 3), append = false)     // v1 m
    Snapshots.createRef(spark, dir, "exp")
    // interleave branch and main commits on the shared version counter
    Snapshots.commitOnBranch(spark, dir, "exp", brow(101L),
      append = true)                                                // v2 b
    Snapshots.commit(spark, dir, mrows(4 to 6), append = true)      // v3 m
    Snapshots.commitOnBranch(spark, dir, "exp", brow(102L),
      append = true)                                                // v4 b
    Snapshots.commit(spark, dir, mrows(7 to 9), append = true)      // v5 m
    Snapshots.commitOnBranch(spark, dir, "exp", brow(103L),
      append = true)                                                // v6 b

    import scala.jdk.CollectionConverters._
    def drain(opts: (String, String)*): Seq[Seq[Long]] = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
      val r = spark.readStream.format("graft-snapshots").option("path", dir)
      val q = opts.foldLeft(r)((a, kv) => a.option(kv._1, kv._2)).load()
        .writeStream.foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val got = b.select("id").collect().map(_.getLong(0)).toSeq.sorted
            if (got.nonEmpty) { seen.add(got); () }
        }.option("checkpointLocation", tmpDir("capline-cp")).start()
      try q.processAllAvailable() finally q.stop()
      seen.asScala.toSeq
    }

    // a MAIN stream capped to one version per trigger: a raw
    // version+cap cursor would offer v2/v4/v6 (branch commits) and leak
    // their rows; line-aware admission batches exactly v1, v3, v5
    val main = drain("maxVersionsPerTrigger" -> "1")
    assert(main == Seq(1L to 3L, 4L to 6L, 7L to 9L),
      s"main stream must batch exactly v1/v3/v5: $main")

    // the BRANCH stream with the same cap sees only its own line
    val br = drain("branch" -> "exp", "maxVersionsPerTrigger" -> "1")
    assert(br == Seq(1L to 3L, Seq(101L), Seq(102L), Seq(103L)),
      s"branch stream must batch exactly v1/v2/v4/v6: $br")

    // file-capped advancement skips off-line versions too (each main
    // version is one file, so cap 1 = one main version per batch)
    val byFile = drain("maxFilesPerTrigger" -> "1")
    assert(byFile == Seq(1L to 3L, 4L to 6L, 7L to 9L),
      s"file-capped main stream leaked another line: $byFile")

    // the capped CHANGE FEED follows the line as well
    val cdfCp = tmpDir("capline-cdf-cp")
    val q = spark.readStream.format("graft-snapshots")
      .option("path", dir).option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("memory").queryName("capline_cdf")
      .option("checkpointLocation", cdfCp).start()
    try {
      q.processAllAvailable()
      val rows = spark.table("capline_cdf")
        .select("id", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.map(_._2).toSet == Set(1L, 3L, 5L),
        s"capped CDF crossed lines: ${rows.sorted}")
      assert(rows.map(_._1).sorted == (1L to 9L), s"got ${rows.sorted}")
    } finally q.stop()
  }

  test("a legacy bare batch stamp never blocks a new streaming query") {
    import spark.implicits._
    // a table whose head carries the PRE-per-query stamp shape: meta
    // line 3 is a bare batch id with no queryId prefix (written by the
    // sink before scoping landed)
    val dir = tmpDir("sink-legacy")
    Snapshots.commit(spark, dir, Seq(DocRow(1L, "a")).toDF(),
      append = false)
    val p = new org.apache.hadoop.fs.Path(dir, "v1.meta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(p, true)
    o.write(s"${System.currentTimeMillis()}\n0\n5".getBytes("UTF-8"))
    o.close()

    val w = streamWrite(dir, "fresh-query-uuid")
    // an id EQUAL to the legacy stamp is still treated as the replay
    // it would have been under the old scheme — skipped, not doubled
    w.commit(5L, stagedEpoch(w, 5L, Seq(DocRow(9L, "x"))))
    assert(Snapshots.latestVersion(spark, dir) == 1,
      "a batch id equal to the legacy stamp is a replay, skip it")
    // the legacy stamp (5) cannot be attributed to any query: a fresh
    // query's batch 0 must COMMIT (its ids legitimately start at 0) —
    // before the fix this threw 'checkpoint regressed' forever
    w.commit(0L, stagedEpoch(w, 0L, Seq(DocRow(2L, "b"))))
    assert(Snapshots.latestVersion(spark, dir) == 2,
      "batch 0 of a new query must commit past a legacy stamp")
    val got = Snapshots.read(spark, dir, 2).select("id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(got == Seq(1L, 2L))
  }

  test("the streaming write skips an epoch re-delivered on a branch, " +
      "even past a stamp-less main commit") {
    import spark.implicits._
    val dir = tmpDir("write-branch-replay")
    Snapshots.commit(spark, dir, Seq(DocRow(1L, "base")).toDF(),
      append = false)
    Snapshots.createRef(spark, dir, "stage")
    def idsAt(ref: String): Seq[Long] =
      Snapshots.read(spark, dir, Snapshots.refVersion(spark, dir, ref))
        .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val w = streamWrite(dir, "q-branch", branch = Some("stage"))
    w.commit(0L, stagedEpoch(w, 0L, Seq(DocRow(2L, "s2"))))
    // a MAIN commit without a stamp interleaves: a cursor read off main's
    // line would find no stamp and commit epoch 0 a second time
    Snapshots.commit(spark, dir, Seq(DocRow(77L, "main-only")).toDF(),
      append = true)
    val head = Snapshots.latestVersion(spark, dir)
    w.commit(0L, stagedEpoch(w, 0L, Seq(DocRow(2L, "s2"))))
    assert(Snapshots.latestVersion(spark, dir) == head &&
      idsAt("stage") == Seq(1L, 2L),
      s"a re-delivered branch epoch must be skipped: ${idsAt("stage")}")
    w.commit(1L, stagedEpoch(w, 1L, Seq(DocRow(3L, "s3"))))
    assert(idsAt("stage") == Seq(1L, 2L, 3L) &&
      idsAt("main") == Seq(1L, 77L), "the next epoch lands on the branch")
  }
}
