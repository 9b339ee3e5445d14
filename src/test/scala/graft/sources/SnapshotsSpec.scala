package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the Snapshots commit protocol: append commits carry the prior
  * file set forward, rewrite commits publish a fresh set WITHOUT touching
  * history (every prior version stays bit-identical), version resolution
  * is manifest-only, and no staging debris survives a commit.
  */
class SnapshotsSpec extends SparkSpec {

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(i => (i.toLong, s"row$i")).toDF("id", "payload")
  }

  private def idsOf(dir: String, v: Int): Seq[Long] =
    Snapshots.read(spark, dir, v).select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted

  test("append and rewrite commits; history is immutable") {
    val dir = tmpDir("snap")
    assert(Snapshots.latestVersion(spark, dir) == 0)
    assert(Snapshots.commit(spark, dir, df(1 to 10), append = false) == 1)
    assert(Snapshots.commit(spark, dir, df(11 to 15), append = true) == 2)
    assert(idsOf(dir, 1) == (1L to 10L) && idsOf(dir, 2) == (1L to 15L))

    // rewrite: same logical content, fresh file set (the compaction shape)
    val v3 = Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir, 2).coalesce(1), append = false)
    assert(v3 == 3 && Snapshots.latestVersion(spark, dir) == 3)
    assert(idsOf(dir, 3) == (1L to 15L))
    // time travel after the rewrite: v1/v2 unchanged
    assert(idsOf(dir, 1) == (1L to 10L) && idsOf(dir, 2) == (1L to 15L))

    // no staging debris
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(p).map(_.getPath.getName).toSeq
    assert(!names.exists(n => n.startsWith("_stage") || n.endsWith(".tmp")),
      s"staging debris left: $names")
  }

  test("stray non-manifest names in the table dir are ignored") {
    val dir = tmpDir("snapstray")
    Snapshots.commit(spark, dir, df(1 to 5), append = false)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // files a regex-free v*.json parse would choke on (NumberFormatException)
    Seq("v.json", "vbackup.json", "v1.json.orig").foreach { n =>
      val o = fs.create(new org.apache.hadoop.fs.Path(p, n), true)
      o.write("junk".getBytes("UTF-8")); o.close()
    }
    assert(Snapshots.latestVersion(spark, dir) == 1)
    assert(Snapshots.commit(spark, dir, df(6 to 8), append = true) == 2)
    assert(idsOf(dir, 2) == (1L to 8L))
  }

  test("purge removes tombstoned keys from EVERY version's read path") {
    val dir = tmpDir("snappurge")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).repartition(2), append = false)
    Snapshots.commit(spark, dir, df(11 to 20).repartition(2), append = true)

    def fileSet(v: Int) = {
      val m = scala.io.Source.fromFile(s"$dir/v$v.json").mkString
      m.split('\n').map(_.trim.stripSuffix(",").stripPrefix("\"")
        .stripSuffix("\"")).filter(_.startsWith("data/")).toSet
    }
    val sharedBefore = fileSet(1).intersect(fileSet(2))
    assert(sharedBefore.nonEmpty, "append chain must share v1's files")
    // record the untouched candidates' (name, length) to prove purge
    // never rewrites a file without a tombstone in it
    def lens() = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(st => st.getPath.getName -> st.getLen).toMap

    val tomb = Seq(3L, 17L).toDF("id")
    val (nf, nv, nd) = Snapshots.purge(spark, dir, tomb, Seq("id"))
    assert(nv == 2 && nd == 2, s"stats: files=$nf versions=$nv rows=$nd")

    // old manifests no longer resolve the purged rows
    assert(idsOf(dir, 1) == (1L to 10L).filterNot(_ == 3L))
    assert(idsOf(dir, 2) == (1L to 20L).filterNot(Set(3L, 17L)))
    // sharing preserved: a v1 file carried into v2 maps to ONE purged
    // replacement referenced by both manifests
    val sharedAfter = fileSet(1).intersect(fileSet(2))
    assert(sharedAfter.size == sharedBefore.size)
    // re-purging the same keys is a no-op (idempotent repair path)
    val (nf2, _, nd2) = Snapshots.purge(spark, dir, tomb, Seq("id"))
    assert(nf2 == 0 && nd2 == 0, "purge must be idempotent")
    // vacuum still safe after purge
    val (deleted, dropped) = Snapshots.vacuum(spark, dir, keep = 1)
    assert(dropped == 1)
    assert(idsOf(dir, 2) == (1L to 20L).filterNot(Set(3L, 17L)))
    // no stage debris
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_purge_stage")))
    lens() // touch to avoid unused warning paths
  }

  test("purge joins each vintage on its own key names: a key renamed " +
      "after the file's vintage, and a later column re-using the old name") {
    import spark.implicits._
    val dir = tmpDir("snappurgelocal")
    // v1 stores the key as `k`; v2 renames k -> key; v3 adds a fresh
    // column that re-uses the name `k`, with values that collide with
    // v1's old keys
    Snapshots.commit(spark, dir, (1 to 6).map(i => (i.toLong, s"a$i"))
      .toDF("k", "p").coalesce(1), append = false, statsCols = Seq("k"))
    Snapshots.commit(spark, dir, (7 to 8).map(i => (i.toLong, s"b$i"))
      .toDF("key", "p").coalesce(1), append = true,
      renames = Map("k" -> "key"), statsCols = Seq("key"))
    Snapshots.commit(spark, dir, Seq((9L, "c9", 1L), (10L, "c10", 2L),
      (11L, "c11", 3L)).toDF("key", "p", "k").coalesce(1), append = true,
      statsCols = Seq("key"))
    def keys(v: Int, c: String) = Snapshots.read(spark, dir, v)
      .select(col(c)).collect().map(_.getLong(0)).toSeq.sorted
    def matchesOracle(v: Int): Unit = {
      val got = Snapshots.read(spark, dir, v)
      val cols = got.columns.toSeq.map(c => col(s"`$c`"))
      assert(got.collect().map(_.toString).sorted.toSeq ==
        EvolvedUnionOracle.read(spark, dir, v).select(cols: _*).collect()
          .map(_.toString).sorted.toSeq, s"v$v differs from the oracle")
    }
    // tombstone the canonical `key` 2 (v1's old `k` = 2) and 9
    val (_, nv, nd) =
      Snapshots.purge(spark, dir, Seq(2L, 9L).toDF("key"), Seq("key"))
    assert(nv == 3 && nd == 2L, s"versions=$nv rows=$nd")
    assert(keys(3, "key") == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 11L))
    // the re-used `k` keeps its rows: only v3's files hold it
    assert(Snapshots.read(spark, dir, 3).filter(col("k").isNotNull)
      .select("key").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 11L))
    // time travel still reads each vintage's own schema
    assert(Snapshots.read(spark, dir, 1).columns.toSeq == Seq("k", "p"))
    assert(keys(1, "k") == Seq(1L, 3L, 4L, 5L, 6L))
    assert(Snapshots.read(spark, dir, 2).columns.toSeq == Seq("key", "p"))
    (1 to 3).foreach(matchesOracle)
    // tombstoning the NEW `k` = 3 deletes v3's row only: v1's old k = 3
    // (canonical key 3) is a different column
    val (_, _, nd2) =
      Snapshots.purge(spark, dir, Seq(3L).toDF("k"), Seq("k"))
    assert(nd2 == 1L, s"rows=$nd2")
    assert(keys(3, "key") == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L))
    assert(keys(1, "k") == Seq(1L, 3L, 4L, 5L, 6L))
    (1 to 3).foreach(matchesOracle)
  }

  test("purge leaves tombstone-free files byte-identical") {
    val dir = tmpDir("snappurge2")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    // two single-file commits with disjoint key ranges: tombstone hits
    // only the second, so the first file must not be rewritten
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1), append = true)
    def lens() = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(st => st.getPath.getName ->
        (st.getLen, st.getModificationTime)).toMap
    val before = lens()
    val (nf, _, nd) = Snapshots.purge(spark, dir,
      Seq(15L).toDF("id"), Seq("id"))
    assert(nf == 1 && nd == 1)
    val after = lens()
    val untouched = before.keySet.intersect(after.keySet)
    assert(untouched.nonEmpty, "the v1 file must survive untouched")
    untouched.foreach(k => assert(before(k) == after(k),
      s"untouched file $k changed"))
    assert(idsOf(dir, 1) == (1L to 10L))
    assert(idsOf(dir, 2) == (1L to 20L).filterNot(_ == 15L))
  }

  test("readEvolved: rename chain + int->long widening + null backfill") {
    val dir = tmpDir("snapevo")
    import spark.implicits._
    // v1: legacy schema — id int, value under old name "val"
    val v1 = Seq((1, "a"), (2, "b")).toDF("id", "val")
      .select(col("id").cast("int").as("id"), col("val"))
    Snapshots.commit(spark, dir, v1, append = false)
    // v2: id widened to long, "val" renamed to "value", "extra" added
    val v2 = Seq((3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "value", "extra")
    Snapshots.commit(spark, dir, v2, append = true,
      renames = Map("val" -> "value"))

    val ev = Snapshots.read(spark, dir, 2)
    assert(ev.schema("id").dataType ==
      org.apache.spark.sql.types.LongType, "int must widen to long")
    val rows = ev.select("id", "value", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq.sortBy(_._1)
    assert(rows == Seq((1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30.0)), (4L, "d", Some(40.0))))

    // as-of v1 the legacy schema is what existed: old name, int type
    val asOf1 = Snapshots.read(spark, dir, 1)
    assert(asOf1.columns.toSet == Set("id", "val"))
    assert(asOf1.schema("id").dataType ==
      org.apache.spark.sql.types.IntegerType)

    // composition with purge: commit attribution survives the
    // purged- rename, and the evolved read still resolves
    Snapshots.purge(spark, dir, Seq(2L).toDF("id"), Seq("id"))
    val after = Snapshots.read(spark, dir, 2)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(after == Seq(1L, 3L, 4L))
  }

  test("readEvolved aligns diverging map-value structs by name " +
      "(the alignTo MapType case — r21 advisor finding)") {
    val dir = tmpDir("snapmapevo")
    import spark.implicits._
    // v1: map<string, struct<a>>; v2: map<string, struct<a, b>> — widen()
    // unions struct field sets inside map values, so the v1 vintage must
    // ALIGN (backfill b = null) rather than hit a refusing plain cast
    val v1 = Seq((1L, Map("k" -> 10))).toDF("id", "m")
      .select(col("id"), transform_values(col("m"),
        (_, v) => struct(v.as("a"))).as("m"))
    Snapshots.commit(spark, dir, v1, append = false)
    val v2 = Seq((2L, Map("k" -> (20, "x")))).toDF("id", "m")
      .select(col("id"), transform_values(col("m"),
        (_, v) => struct(v.getField("_1").as("a"),
          v.getField("_2").as("b"))).as("m"))
    Snapshots.commit(spark, dir, v2, append = true)
    val ev = Snapshots.read(spark, dir, 2)
    val rows = ev.select(col("id"),
        element_at(col("m"), "k").getField("a").as("a"),
        element_at(col("m"), "k").getField("b").as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        Option(r.getString(2)))).toSeq.sortBy(_._1)
    assert(rows == Seq((1L, 10, None), (2L, 20, Some("x"))), rows.toString)
  }

  test("commit-time file stats prune whole files from reads") {
    val dir = tmpDir("snapstats")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(21 to 30).coalesce(1),
      append = true, statsCols = Seq("id"))
    val (pruned, (read, total)) =
      Snapshots.readPruned(spark, dir, 3, "id", 12L, 18L)
    assert(total == 3 && read == 1,
      s"one of three files intersects [12,18], got $read/$total")
    assert(pruned.select("id").collect().map(_.getLong(0)).toSeq.sorted ==
      (12L to 18L))
    // a range crossing two files reads exactly two
    val (p2, (r2, _)) = Snapshots.readPruned(spark, dir, 3, "id", 9L, 13L)
    assert(r2 == 2 && p2.count() == 5)
    // stats survive purge correctness: tombstone in the third file only
    val (nf, _, nd) = Snapshots.purge(spark, dir,
      Seq(25L).toDF("id"), Seq("id"))
    assert(nf == 1 && nd == 1)
    assert(idsOf(dir, 3) == (1L to 30L).filterNot(_ == 25L))
    // the replacement re-records its original's stats over the kept rows,
    // so pruning stays effective after the purge: [2,3] hits only v1's file
    val (_, (r3, t3)) = Snapshots.readPruned(spark, dir, 3, "id", 2L, 3L)
    assert(t3 == 3 && r3 == 1,
      s"purged replacement must carry recomputed stats, got $r3/$t3")
    // and a probe into the purged file's range still resolves it
    val (p4, (r4, _)) = Snapshots.readPruned(spark, dir, 3, "id", 24L, 26L)
    assert(r4 == 1 && p4.select("id").collect().map(_.getLong(0)).toSeq
      .sorted == Seq(24L, 26L))
  }

  test("concurrent appends serialize through the version-claim protocol") {
    val dir = tmpDir("snapcas")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    // six writers race to append disjoint batches; the claim protocol
    // must serialize them into versions 2..7 with no lost update
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        try Snapshots.commit(spark, dir,
          df(i * 100 + 1 to i * 100 + 10).coalesce(1), append = true)
        catch { case t: Throwable => errors.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errors.isEmpty, s"concurrent commit failed: ${errors.peek()}")
    assert(Snapshots.latestVersion(spark, dir) == 7)
    // the final version holds every batch exactly once
    val got = idsOf(dir, 7)
    val want = ((1 to 10) ++ (1 to 6).flatMap(i =>
      i * 100 + 1 to i * 100 + 10)).map(_.toLong).sorted
    assert(got == want, "no append may be lost or duplicated")
    // every intermediate version's file set extends its predecessor's
    def fileSet(v: Int) = Snapshots.read(spark, dir, v).inputFiles.toSet
    (2 to 7).foreach(v => assert(fileSet(v - 1).subsetOf(fileSet(v)),
      s"v${v - 1} must be a subset of v$v in an append chain"))
    // no claims or stage debris survive
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(p).map(_.getPath.getName).toSeq
    assert(!names.exists(n => n.endsWith(".claim") || n.startsWith("_stage")),
      s"debris left: $names")
  }

  test("an aborted claimant does not strand followers") {
    val dir = tmpDir("snapabort")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val claim = new org.apache.hadoop.fs.Path(dir, "v2.claim")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(claim, false).close() // a writer that will abort
    val done = new java.util.concurrent.atomic.AtomicInteger(-1)
    val th = new Thread(() => done.set(Snapshots.commit(spark, dir,
      df(6 to 8).coalesce(1), append = true)))
    th.start()
    Thread.sleep(1500) // follower is now parked behind v2's claim
    fs.delete(claim, false) // the claimant aborts without publishing
    th.join(120000)
    assert(done.get() == 2,
      s"follower must re-hunt the freed slot and publish v2, got ${done.get()}")
    assert(idsOf(dir, 2) == (1L to 8L))
  }

  test("a stale claim times out with an actionable error") {
    val dir = tmpDir("snapstale")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val p = new org.apache.hadoop.fs.Path(dir, "v2.claim")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, false).close() // a dead writer's claim on v2
    val e = intercept[java.io.IOException] {
      // package-private timeout override keeps the spec fast
      Snapshots.commitWithTimeout(spark, dir, df(6 to 8).coalesce(1),
        append = true, timeoutMs = 1500L)
    }
    assert(e.getMessage.contains("v2.claim"),
      s"error must name the stale claim, got: ${e.getMessage}")
    fs.delete(p, false)
    // after the operator removes the stale claim, commits flow again
    assert(Snapshots.commit(spark, dir, df(6 to 8).coalesce(1),
      append = true) == 2)
    assert(idsOf(dir, 2) == (1L to 8L))
  }

  test("optimize: z-order rewrite commit with stats; history readable") {
    val dir = tmpDir("snapopt")
    import spark.implicits._
    // two unclustered appends over a 2-D grid
    val grid = spark.range(4000).select(
      (col("id") % 64).as("x"), (col("id") / 64).as("y"), col("id").as("v"))
    Snapshots.commit(spark, dir, grid.filter(col("v") % 2 === 0)
      .repartition(4), append = false)
    Snapshots.commit(spark, dir, grid.filter(col("v") % 2 === 1)
      .repartition(4), append = true)
    // before optimize: no stats -> a probe reads every file
    val (_, (rb, tb)) = Snapshots.readPruned(spark, dir, 2, "x", 0L, 7L)
    assert(rb == tb, "no stats yet, nothing can prune")
    val v3 = Snapshots.optimize(spark, dir, Seq("x", "y"), numFiles = 8)
    assert(v3 == 3)
    // content is a pure reordering
    val before = Snapshots.read(spark, dir, 2).select("v")
      .collect().map(_.getLong(0)).toSeq.sorted
    val after = Snapshots.read(spark, dir, 3).select("v")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(after == before, "optimize must not change content")
    // after optimize: the same probe prunes files from metadata
    val (pr, (ra, ta)) = Snapshots.readPruned(spark, dir, 3, "x", 0L, 7L)
    assert(ra < ta, s"stats must prune the clustered layout: $ra/$ta")
    assert(pr.select("v").collect().map(_.getLong(0)).toSeq.sorted ==
      grid.filter(col("x") <= 7).select("v")
        .collect().map(_.getLong(0)).toSeq.sorted)
    // history: v1/v2 still resolve
    assert(Snapshots.read(spark, dir, 1).count() == 2000)
    assert(Snapshots.read(spark, dir, 2).count() == 4000)
  }

  test("deletion vectors: merge-on-read delete, materialize, purge gate") {
    val dir = tmpDir("snapdv")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).repartition(2), append = false)
    Snapshots.commit(spark, dir, df(11 to 20).repartition(2), append = true)
    def dataFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir, "data")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName).toSet
    }
    val filesBefore = dataFiles()

    // MoR delete: no data file touched, new version hides the rows
    val (v3, n3) = Snapshots.deleteWhere(spark, dir, col("id") % 5 === 0)
    assert(v3 == 3 && n3 == 4, s"v=$v3 n=$n3")
    assert(dataFiles() == filesBefore, "MoR delete must rewrite nothing")
    assert(idsOf(dir, 3) == (1L to 20L).filterNot(_ % 5 == 0))
    // prior version untouched
    assert(idsOf(dir, 2) == (1L to 20L))
    // the evolved read sees through the vector too
    assert(Snapshots.read(spark, dir, 3).count() == 16)

    // cumulative second delete; re-deleting counts nothing
    val (v4, n4) = Snapshots.deleteWhere(spark, dir,
      col("id") % 5 === 0 || col("id") === 1)
    assert(v4 == 4 && n4 == 1, s"re-deletes must not recount: n=$n4")
    assert(idsOf(dir, 4) ==
      (2L to 20L).filterNot(_ % 5 == 0))

    // purge refuses while DVs are live
    val e = intercept[IllegalStateException] {
      Snapshots.purge(spark, dir, Seq(7L).toDF("id"), Seq("id"))
    }
    assert(e.getMessage.contains("deletion vectors"))

    // optimize materializes: DV-free version, same logical content
    val v5 = Snapshots.optimize(spark, dir, Seq("id"))
    assert(!Snapshots.hasDv(spark, dir, v5))
    assert(idsOf(dir, 5) == (2L to 20L).filterNot(_ % 5 == 0))

    // vacuum drops DV-carrying history (and their vectors), then purge
    // works physically
    Snapshots.vacuum(spark, dir, keep = 1)
    val (nf, _, nd) = Snapshots.purge(spark, dir, Seq(7L).toDF("id"),
      Seq("id"))
    assert(nd == 1)
    assert(idsOf(dir, 5) ==
      (2L to 20L).filterNot(i => i % 5 == 0 || i == 7L))
  }

  test("upsert: one version replaces matched keys and appends the rest") {
    val dir = tmpDir("snapup")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).repartition(2), append = false)
    def rows(v: Int): Seq[(Long, String)] =
      Snapshots.read(spark, dir, v).select("id", "payload")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

    // 3 updates + 2 inserts, one MERGE
    val src = Seq((3L, "NEW3"), (7L, "NEW7"), (9L, "NEW9"),
      (21L, "row21"), (22L, "row22")).toDF("id", "payload")
    val (v2, replaced) = Snapshots.upsert(spark, dir, src, Seq("id"))
    assert(v2 == 2 && replaced == 3, s"v=$v2 replaced=$replaced")
    val want = ((1 to 10).filterNot(Set(3, 7, 9))
      .map(i => (i.toLong, s"row$i")) ++
      Seq((3L, "NEW3"), (7L, "NEW7"), (9L, "NEW9"),
        (21L, "row21"), (22L, "row22"))).sortBy(_._1)
    assert(rows(2) == want)
    // pre-merge version unchanged
    assert(rows(1) == (1 to 10).map(i => (i.toLong, s"row$i")))

    // a second upsert updates a row the FIRST upsert inserted (its
    // position lives in a v2 file) and re-updates an old key
    val (v3, r3) = Snapshots.upsert(spark, dir,
      Seq((21L, "NEWER21"), (3L, "NEWER3")).toDF("id", "payload"),
      Seq("id"))
    assert(v3 == 3 && r3 == 2)
    assert(rows(3).toMap.get(21L).contains("NEWER21"))
    assert(rows(3).toMap.get(3L).contains("NEWER3"))
    assert(rows(3).size == 12)

    // duplicate source keys are rejected
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, dir,
        Seq((1L, "a"), (1L, "b")).toDF("id", "payload"), Seq("id"))
    }
    // materialize: optimize produces the same logical content, DV-free
    val v4 = Snapshots.optimize(spark, dir, Seq("id"))
    assert(!Snapshots.hasDv(spark, dir, v4))
    assert(rows(v4) == rows(3))
  }

  test("upsert/applyCdc locate matched positions in stat-overlapping " +
      "files only (key-stat pruning)") {
    val dir = tmpDir("mergeprune")
    import spark.implicits._
    // three single-file vintages with disjoint id ranges + key stats
    Snapshots.commit(spark, dir, df(1 to 100).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(101 to 200).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(201 to 300).coalesce(1),
      append = true, statsCols = Seq("id"))

    // selective MERGE: both keys live in the middle vintage — only its
    // file is opened to locate replaced positions
    val (v4, replaced) = Snapshots.upsert(spark, dir,
      Seq((150L, "X150"), (160L, "X160")).toDF("id", "payload")
        .coalesce(1),
      Seq("id"), statsCols = Seq("id"))
    assert(replaced == 2)
    assert(Snapshots.lastMergePruneCounts == ((1, 3)),
      s"selective upsert must open 1 of 3 files: " +
        s"${Snapshots.lastMergePruneCounts}")
    val got = Snapshots.read(spark, dir, v4).select("id", "payload")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size == 300 && got(150L) == "X150" && got(160L) == "X160"
      && got(149L) == "row149")

    // keys NO live file can hold: zero files opened, pure insert
    val (v5, r5) = Snapshots.upsert(spark, dir,
      Seq((999L, "row999")).toDF("id", "payload"), Seq("id"),
      statsCols = Seq("id"))
    assert(r5 == 0)
    assert(Snapshots.lastMergePruneCounts == ((0, 4)),
      s"unmatched upsert must open 0 files: " +
        s"${Snapshots.lastMergePruneCounts}")
    assert(Snapshots.read(spark, dir, v5).count() == 301)
    assert(Snapshots.read(spark, dir, v5).filter(col("id") === 999L)
      .count() == 1)

    // above the exact-key cap, [min,max] range overlap still prunes
    val dir2 = tmpDir("mergeprune-bounds")
    Snapshots.commit(spark, dir2, df(1 to 1000).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir2, df(2001 to 3000).coalesce(1),
      append = true, statsCols = Seq("id"))
    val wide = (2001 to 3500).map(i => (i.toLong, s"w$i"))
      .toDF("id", "payload")
    val (_, rWide) = Snapshots.upsert(spark, dir2, wide, Seq("id"))
    assert(rWide == 1000, s"replaced $rWide")
    assert(Snapshots.lastMergePruneCounts == ((1, 2)),
      s"bounds tier must prune the disjoint vintage: " +
        s"${Snapshots.lastMergePruneCounts}")

    // applyCdc prunes with BOTH key families: the upsert key hits the
    // high vintage, the delete key the low one, the middle stays closed
    val dir3 = tmpDir("mergeprune-cdc")
    Snapshots.commit(spark, dir3, df(1 to 100).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir3, df(101 to 200).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir3, df(201 to 300).coalesce(1),
      append = true, statsCols = Seq("id"))
    val (vc, applied) = Snapshots.applyCdc(spark, dir3,
      Seq((250L, "X250")).toDF("id", "payload"),
      Seq(50L).toDF("id"), Seq("id"))
    assert(applied == 3, s"applied $applied") // 1 replaced + 1 deleted + 1 upserted
    assert(Snapshots.lastMergePruneCounts == ((2, 3)),
      s"cdc must open the two hit vintages only: " +
        s"${Snapshots.lastMergePruneCounts}")
    val after = Snapshots.read(spark, dir3, vc)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after.size == 299 && !after.contains(50L)
      && after(250L) == "X250")
  }

  test("timestamp time travel resolves the version live at that instant") {
    val dir = tmpDir("snapts")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100) // local-FS mtime granularity can be one second
    Snapshots.commit(spark, dir, df(6 to 9).coalesce(1), append = true)
    val afterV2 = System.currentTimeMillis()
    assert(Snapshots.versionAsOf(spark, dir, afterV1) == 1)
    assert(Snapshots.versionAsOf(spark, dir, afterV2) == 2)
    assert(Snapshots.versionAsOf(spark, dir, 0L) == 0)
    assert(Snapshots.readAsOf(spark, dir, afterV1)
      .count() == 5)
    intercept[IllegalArgumentException] {
      Snapshots.readAsOf(spark, dir, 0L)
    }
  }

  test("widen is a commutative, associative, idempotent lattice join") {
    import org.apache.spark.sql.types._
    // exercised through the evolved read: every ordered pair of vintage
    // types must land on the same evolved type regardless of commit order
    val types: Seq[(DataType, Any)] = Seq(
      (IntegerType, 1), (LongType, 2L), (FloatType, 3.0f),
      (DoubleType, 4.0))
    import spark.implicits._
    for ((ta, va) <- types; (tb, vb) <- types) {
      val dir = tmpDir(s"widen-${ta.simpleString}-${tb.simpleString}")
      val a = Seq(1L).toDF("id").select(col("id"),
        lit(va).cast(ta).as("x"))
      val b = Seq(2L).toDF("id").select(col("id"),
        lit(vb).cast(tb).as("x"))
      Snapshots.commit(spark, dir, a, append = false)
      Snapshots.commit(spark, dir, b, append = true)
      val ev = Snapshots.read(spark, dir, 2)
      val expect = (ta, tb) match {
        case (x, y) if x == y => x
        case (IntegerType, LongType) | (LongType, IntegerType) => LongType
        case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
        case _ => DoubleType // any integral × fractional mix
      }
      assert(ev.schema("x").dataType == expect,
        s"widen($ta, $tb) must be $expect, got ${ev.schema("x").dataType}")
      // values survive the widening cast
      val xs = ev.select(col("x").cast("double")).collect()
        .map(_.getDouble(0)).toSeq.sorted
      assert(xs == Seq(va, vb).map(_.toString.replace("f", "").toDouble)
        .sorted, s"values corrupted for ($ta,$tb): $xs")
    }
  }

  test("incremental view maintenance tracks appends, upserts, deletes") {
    val dir = tmpDir("snapview")
    val viewDir = tmpDir("snapview-mv")
    import spark.implicits._
    def docs(ids: Range, g: String) =
      ids.map(i => (i.toLong, g, i * 10L)).toDF("id", "grp", "chars")
    def view(): Map[String, (Long, Long)] =
      Snapshots.readView(spark, viewDir).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def refresh(): (Int, Long) = Snapshots.refreshView(spark, dir, viewDir,
      groupCols = Seq("grp"), sumCols = Seq("chars"))

    Snapshots.commit(spark, dir, docs(1 to 10, "a"), append = false)
    val (v1, n1) = refresh()
    assert(v1 == 1 && n1 == 10)
    assert(view() == Map("a" -> (10L, 550L)))
    // already-current refresh is a no-op
    assert(refresh() == (1, 0L))

    // append a second group: only the 5 new rows are applied
    Snapshots.commit(spark, dir, docs(11 to 15, "b"), append = true)
    val (v2, n2) = refresh()
    assert(v2 == 2 && n2 == 5, s"append refresh applied $n2 rows")
    assert(view() == Map("a" -> (10L, 550L), "b" -> (5L, 650L)))

    // upsert: move id=3 from group a to group b (delete + insert = 2)
    val (_, _) = Snapshots.upsert(spark, dir,
      Seq((3L, "b", 30L)).toDF("id", "grp", "chars"), Seq("id"))
    val (v3, n3) = refresh()
    assert(v3 == 3 && n3 == 2, s"upsert refresh applied $n3 rows")
    assert(view() == Map("a" -> (9L, 520L), "b" -> (6L, 680L)))

    // MoR delete of ALL of group b: the group drops out of the view
    val (_, nd) = Snapshots.deleteWhere(spark, dir, col("grp") === "b")
    assert(nd == 6)
    val (v4, n4) = refresh()
    assert(v4 == 4 && n4 == 6)
    assert(view() == Map("a" -> (9L, 520L)))
  }

  test("view min/max/avg: retraction recomputes only the affected groups") {
    val dir = tmpDir("snapmm")
    val viewDir = tmpDir("snapmm-mv")
    import spark.implicits._
    def rows(xs: (Long, String, Long)*) =
      xs.toSeq.toDF("id", "grp", "x")
    def refresh(): (Int, Long) = Snapshots.refreshView(spark, dir, viewDir,
      groupCols = Seq("grp"), sumCols = Seq("x"), avgCols = Seq("x"),
      minMaxCols = Seq("x"))
    def view(): Map[String, (Long, Long, Double, Long, Long)] =
      Snapshots.readView(spark, viewDir).collect().map(r =>
        r.getAs[String]("grp") -> ((r.getAs[Long]("n_rows"),
          r.getAs[Long]("sum_x"), r.getAs[Double]("avg_x"),
          r.getAs[Long]("min_x"), r.getAs[Long]("max_x")))).toMap

    // a: {1,5,9}; b: {10,20,20} (duplicated max)
    Snapshots.commit(spark, dir, rows((1L, "a", 1L), (2L, "a", 5L),
      (3L, "a", 9L), (4L, "b", 10L), (5L, "b", 20L), (6L, "b", 20L)),
      append = false)
    refresh()
    assert(view() == Map(
      "a" -> ((3L, 15L, 5.0, 1L, 9L)),
      "b" -> ((3L, 50L, 50.0 / 3.0, 10L, 20L))))

    // append-only refresh: pure fold, zero recomputed groups
    Snapshots.commit(spark, dir, rows((7L, "a", 12L)), append = true)
    refresh()
    assert(Snapshots.lastViewRecomputedGroups == 0L,
      "an insert-only delta must never recompute")
    assert(view()("a") == ((4L, 27L, 6.75, 1L, 12L)))

    // NON-extremum delete (a's 5): zero groups recomputed
    Snapshots.deleteWhere(spark, dir, col("id") === 2L)
    refresh()
    assert(Snapshots.lastViewRecomputedGroups == 0L,
      "a non-extremum delete must touch zero groups")
    assert(view()("a") == ((3L, 22L, 22.0 / 3.0, 1L, 12L)))

    // extremum RETRACTION (a's max 12): exactly one group recomputed,
    // b untouched
    Snapshots.deleteWhere(spark, dir, col("id") === 7L)
    refresh()
    assert(Snapshots.lastViewRecomputedGroups == 1L,
      "retracting one group's max must recompute exactly that group")
    assert(view()("a") == ((2L, 10L, 5.0, 1L, 9L)))
    assert(view()("b") == ((3L, 50L, 50.0 / 3.0, 10L, 20L)))

    // deleting ONE copy of b's duplicated max: recompute fires (the
    // bound was tied) and lands on the surviving copy
    Snapshots.deleteWhere(spark, dir, col("id") === 5L)
    refresh()
    assert(Snapshots.lastViewRecomputedGroups == 1L)
    assert(view()("b") == ((2L, 30L, 15.0, 10L, 20L)),
      "a surviving duplicate must keep the max")

    // retraction masked by a same-batch insert at the bound: upsert
    // moves id=6 (b's max 20) to x=25 — the insert covers the max side,
    // but the delete side of the upsert retracts nothing above the fold
    val (_, _) = Snapshots.upsert(spark, dir,
      rows((6L, "b", 25L)), Seq("id"))
    refresh()
    assert(view()("b") == ((2L, 35L, 17.5, 10L, 25L)))

    // a group deleted whole drops out
    Snapshots.deleteWhere(spark, dir, col("grp") === "a")
    refresh()
    assert(view().keySet == Set("b"))
  }

  test("diff sees logical rows: appends as inserts, rewrites as empty") {
    val dir = tmpDir("snapdiff")
    Snapshots.commit(spark, dir, df(1 to 10), append = false)
    Snapshots.commit(spark, dir, df(11 to 15), append = true)
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir, 2).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(4 to 15), append = false)

    def changes(from: Int, to: Int): Seq[(String, Long)] =
      Snapshots.diff(spark, dir, from, to, Seq("id"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted

    assert(changes(1, 2) == (11L to 15L).map(("insert", _)),
      "append diffs as pure inserts")
    assert(changes(2, 3).isEmpty,
      "a rewrite of identical content must diff empty")
    assert(changes(3, 4) == (1L to 3L).map(("delete", _)),
      "a shrinking rewrite diffs as deletes")
  }

  test("separator-hostile string bounds are skipped, never corrupt stats") {
    val dir = tmpDir("snapstatsafe")
    import spark.implicits._
    // one value embeds the stats side-file's field separator, another a
    // newline — recording either as a min/max bound would corrupt every
    // later statsUpTo parse (MatchError), taking down readPruned AND purge
    val hostile = Seq(
      (1L, "acorrupt"), (2L, "b\nnewline"), (3L, "clean"))
      .toDF("id", "payload")
    Snapshots.commit(spark, dir, hostile.coalesce(1), append = false,
      statsCols = Seq("id", "payload"))
    Snapshots.commit(spark, dir,
      Seq((10L, "zz")).toDF("id", "payload").coalesce(1), append = true,
      statsCols = Seq("id", "payload"))
    // the numeric column's stats survive and still prune; the hostile
    // string column simply has no recorded bounds (conservative)
    val (pr, (read, total)) =
      Snapshots.readPruned(spark, dir, 2, "id", 10L, 10L)
    assert(total == 2 && read == 1, s"id stats must still prune: $read/$total")
    assert(pr.count() == 1)
    val (_, (rs, ts)) =
      Snapshots.readPruned(spark, dir, 2, "payload", "zz", "zz")
    assert(rs == ts - 1 || rs == ts,
      "hostile file must stay unpruned (absent stats = always read)")
    // purge parses the stats file without error and removes the key
    val (_, _, nd) = Snapshots.purge(spark, dir, Seq(2L).toDF("id"),
      Seq("id"))
    assert(nd == 1)
    assert(idsOf(dir, 2) == Seq(1L, 3L, 10L))
  }

  test("purge preserves timestamp time travel (commit instants in vN.meta)") {
    val dir = tmpDir("snapmeta")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100)
    Snapshots.commit(spark, dir, df(6 to 9).coalesce(1), append = true)
    val afterV2 = System.currentTimeMillis()
    Thread.sleep(1100)
    // purge republishes every live manifest — if commit instants lived in
    // manifest mtimes, every pre-purge instant would now resolve to v0
    val (_, _, nd) = Snapshots.purge(spark, dir, Seq(2L).toDF("id"),
      Seq("id"))
    assert(nd == 1)
    assert(Snapshots.versionAsOf(spark, dir, afterV1) == 1,
      "pre-purge instants must still resolve to the version live then")
    assert(Snapshots.versionAsOf(spark, dir, afterV2) == 2)
    assert(Snapshots.readAsOf(spark, dir, afterV1).count() == 4)
  }

  test("a live slow writer is waited on past the staleness timeout") {
    val dir = tmpDir("snapbeat")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val p = new org.apache.hadoop.fs.Path(dir, "v2.claim")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(p, false).close()
    // a slow-but-alive writer: heartbeats v2.claim every 300 ms
    val slow = new Snapshots.Claim(fs, dir, 2, heartbeatMs = 300L)
    val done = new java.util.concurrent.atomic.AtomicInteger(-1)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t0 = System.currentTimeMillis()
    val th = new Thread(() => {
      try done.set(Snapshots.commitWithTimeout(spark, dir,
        df(6 to 8).coalesce(1), append = true, timeoutMs = 2000L))
      catch { case t: Throwable => failed.set(t) }
    })
    th.start()
    // hold the claim ALIVE well past the follower's 2 s staleness bound —
    // a wall-clock follower timeout would have thrown by now
    Thread.sleep(5000)
    slow.release() // aborts without publishing; follower re-hunts v2
    th.join(120000)
    assert(failed.get() == null,
      s"heartbeating claim treated as stale: ${failed.get()}")
    assert(done.get() == 2 && System.currentTimeMillis() - t0 >= 5000,
      "follower must outwait a live claim, then take the freed slot")
    assert(idsOf(dir, 2) == (1L to 8L))
  }

  test("composite-key purge opens only stats-intersecting files") {
    val dir = tmpDir("snapck")
    import spark.implicits._
    def batch(src: String, ids: Range) =
      ids.map(i => (src, i.toLong, s"row$i")).toDF("source", "doc_id", "pl")
    // three single-file commits, each a distinct (source, doc_id) region
    Snapshots.commit(spark, dir, batch("a", 1 to 10).coalesce(1),
      append = false, statsCols = Seq("source", "doc_id"))
    Snapshots.commit(spark, dir, batch("b", 1 to 10).coalesce(1),
      append = true, statsCols = Seq("source", "doc_id"))
    Snapshots.commit(spark, dir, batch("a", 11 to 20).coalesce(1),
      append = true, statsCols = Seq("source", "doc_id"))
    // ("a", 3) lies outside file 2's source bounds AND file 3's doc_id
    // bounds — the per-column conjunction must scan ONLY file 1. A
    // single-key bound (or keyCols.size != 1 bailout) would scan all 3.
    val tomb = Seq(("a", 3L)).toDF("source", "doc_id")
    val (nf, _, nd) = Snapshots.purge(spark, dir, tomb,
      Seq("source", "doc_id"))
    assert(nf == 1 && nd == 1)
    val (scanned, total) = Snapshots.lastPurgePruneCounts
    assert(total == 3 && scanned == 1,
      s"2-col stats must confine the scan to 1 of 3 files, got $scanned/$total")
    // every version reads correctly after the composite-key purge
    assert(Snapshots.read(spark, dir, 3).count() == 29)
    assert(Snapshots.read(spark, dir, 1).count() == 9)
  }

  test("timestamp stats: boundary equality never prunes a matching file") {
    val dir = tmpDir("snaptsb")
    import spark.implicits._
    // stats store Spark's cast-to-string ("… 09:00:00"); the probe bound
    // arrives as java.sql.Timestamp whose toString renders "… 09:00:00.0".
    // Raw lexicographic comparison makes lo > mx at boundary equality and
    // prunes the file that contains the matching row — silent row loss.
    val ts = java.sql.Timestamp.valueOf("2020-01-01 09:00:00")
    val rows = Seq((1L, java.sql.Timestamp.valueOf("2020-01-01 08:00:00")),
      (2L, ts)).toDF("id", "ev_ts")
    Snapshots.commit(spark, dir, rows.coalesce(1), append = false,
      statsCols = Seq("ev_ts"))
    val (pr, (read, total)) =
      Snapshots.readPruned(spark, dir, 1, "ev_ts", ts, ts)
    assert(read == 1 && total == 1,
      s"boundary-equality probe pruned the matching file: $read/$total")
    assert(pr.count() == 1, "the row AT the file's max must be returned")
    // and a probe truly outside the bounds still prunes
    val far = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    val (_, (r2, _)) = Snapshots.readPruned(spark, dir, 1, "ev_ts", far, far)
    assert(r2 == 0, "normalization must not break real pruning")
  }

  test("purge sweeps orphaned data files from a crashed prior run") {
    val dir = tmpDir("snaporph")
    import spark.implicits._
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(11 to 20).coalesce(1), append = true)
    val dataDir = new org.apache.hadoop.fs.Path(dir, "data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // debris a step-3/4 crash leaves: an original no manifest references
    val orphan = new org.apache.hadoop.fs.Path(dataDir, "v1-9-orphan.parquet")
    fs.create(orphan, true).close()
    val (_, _, nd) = Snapshots.purge(spark, dir, Seq(15L).toDF("id"),
      Seq("id"))
    assert(nd == 1)
    assert(!fs.exists(orphan), "purge must reclaim unreferenced data files")
    // live files untouched: every version still reads
    assert(idsOf(dir, 1) == (1L to 10L))
    assert(idsOf(dir, 2) == (1L to 20L).filterNot(_ == 15L))
  }

  test("append after a merge-on-read delete carries the deletion vector") {
    val dir = tmpDir("snapdvcarry")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    val (_, nd) = Snapshots.deleteWhere(spark, dir, col("id") % 2 === 0)
    assert(nd == 5)
    // the regression: a plain append used to publish v3 WITHOUT v2's
    // vector, resurrecting the deleted rows
    Snapshots.commit(spark, dir, df(11 to 15).coalesce(1), append = true)
    assert(idsOf(dir, 3) ==
      ((1L to 10L).filterNot(_ % 2 == 0) ++ (11L to 15L)).sorted,
      "an append must not resurrect merge-on-read-deleted rows")
    // and the carried vector keeps composing: delete again, append again
    Snapshots.deleteWhere(spark, dir, col("id") === 11L)
    Snapshots.commit(spark, dir, df(16 to 18).coalesce(1), append = true)
    assert(idsOf(dir, 5) ==
      ((1L to 10L).filterNot(_ % 2 == 0) ++ (12L to 18L)).sorted)
  }

  test("branch refs: divergence, tags, fast-forward, vacuum pinning") {
    val dir = tmpDir("snapref")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    // first ref materializes main at the current latest
    assert(Snapshots.createRef(spark, dir, "exp") == 1)
    assert(Snapshots.refs(spark, dir) ==
      Map("main" -> ((1, false)), "exp" -> ((1, false))))

    // two branch commits; main does not move
    assert(Snapshots.commitOnBranch(spark, dir, "exp",
      df(11 to 20).coalesce(1), append = true) == 2)
    assert(Snapshots.commitOnBranch(spark, dir, "exp",
      df(21 to 25).coalesce(1), append = true) == 3)
    assert(Snapshots.refVersion(spark, dir, "exp") == 3)
    assert(Snapshots.mainVersion(spark, dir) == 1)
    assert(Snapshots.readRef(spark, dir, "exp").count() == 25)

    // fast-forward main onto the branch (3 descends from 1)
    Snapshots.fastForward(spark, dir, "main", 3)
    assert(Snapshots.mainVersion(spark, dir) == 3)
    // a plain commit now bases on main's head and advances it
    assert(Snapshots.commit(spark, dir, df(26 to 30).coalesce(1),
      append = true) == 4)
    assert(Snapshots.mainVersion(spark, dir) == 4)

    // divergence: a branch commit bases on the BRANCH head, not main
    assert(Snapshots.commitOnBranch(spark, dir, "exp",
      df(31 to 35).coalesce(1), append = true) == 5)
    assert(Snapshots.readRef(spark, dir, "exp").select("id").collect()
      .map(_.getLong(0)).toSeq.sorted ==
      ((1L to 25L) ++ (31L to 35L)).sorted,
      "exp must not see main's 26..30")
    assert(Snapshots.readRef(spark, dir, "main").select("id").collect()
      .map(_.getLong(0)).toSeq.sorted == (1L to 30L),
      "main must not see exp's 31..35")

    // a non-descendant fast-forward is refused (4 is not on exp's line)
    intercept[IllegalArgumentException] {
      Snapshots.fastForward(spark, dir, "exp", 4)
    }

    // tags: immutable named pins
    assert(Snapshots.createRef(spark, dir, "rel", version = 2,
      tag = true) == 2)
    assert(Snapshots.readRef(spark, dir, "rel").count() == 20)
    intercept[IllegalArgumentException] {
      Snapshots.commitOnBranch(spark, dir, "rel", df(1 to 2),
        append = true)
    }
    intercept[IllegalArgumentException] {
      Snapshots.fastForward(spark, dir, "rel", 3)
    }
    intercept[IllegalArgumentException] {
      Snapshots.dropRef(spark, dir, "main")
    }
    Snapshots.dropRef(spark, dir, "rel")
    assert(!Snapshots.refs(spark, dir).contains("rel"))

    // vacuum retains ref-pinned versions regardless of age
    val (_, dropped) = Snapshots.vacuum(spark, dir, keep = 1)
    assert(dropped > 0)
    assert(Snapshots.readRef(spark, dir, "exp").count() == 30)
    assert(Snapshots.readRef(spark, dir, "main").count() == 30)

    // duplicate ref creation refused; bad names refused
    intercept[IllegalArgumentException] {
      Snapshots.createRef(spark, dir, "exp")
    }
    intercept[IllegalArgumentException] {
      Snapshots.createRef(spark, dir, "bad name")
    }
  }

  test("vacuum deletes only files no retained version references") {
    val dir = tmpDir("snapvac")
    Snapshots.commit(spark, dir, df(1 to 10), append = false) // v1
    Snapshots.commit(spark, dir, df(11 to 15), append = true) // v2 carries v1
    Snapshots.commit(spark, dir,
      Snapshots.read(spark, dir, 2).coalesce(1), append = false) // v3 fresh
    Snapshots.commit(spark, dir, df(16 to 20), append = true) // v4 carries v3

    val (deleted, dropped) = Snapshots.vacuum(spark, dir, keep = 2)
    assert(dropped == 2, s"v1/v2 dropped: $dropped")
    // v1/v2's files are dead (v3 rewrote), so something was reclaimed
    assert(deleted > 0, "rewrite-superseded files must be reclaimed")
    // retained versions read bit-identically after vacuum — including
    // v3's files carried INTO v4 by the append (refcount must save them)
    assert(idsOf(dir, 3) == (1L to 15L) && idsOf(dir, 4) == (1L to 20L))
    // dropped versions are gone, not half-readable
    intercept[Exception] { Snapshots.read(spark, dir, 1).collect() }
    // idempotent
    assert(Snapshots.vacuum(spark, dir, keep = 2) == ((0, 0)))

    // streaming scratch: an epoch staged by a dead writer (old mtime)
    // is swept; a fresh epoch (a live query between tasks and commit)
    // survives
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dead = new org.apache.hadoop.fs.Path(dir,
      "_stream_stage/q1/epoch-7")
    val live = new org.apache.hadoop.fs.Path(dir,
      "_stream_stage/q1/epoch-8")
    f.mkdirs(dead); f.mkdirs(live)
    f.setTimes(dead, System.currentTimeMillis() - 25 * 3600L * 1000, -1)
    Snapshots.vacuum(spark, dir, keep = 2)
    assert(!f.exists(dead), "orphaned staged epoch must be swept")
    assert(f.exists(live), "a fresh staged epoch must survive")

    // the orphan horizon is CONFIGURABLE (a paused stream resuming past
    // 24h should vacuum with a raised horizon): a huge horizon spares an
    // old epoch; Long.MaxValue skips stage sweeping entirely; a tiny
    // horizon sweeps anything settled
    val old2 = new org.apache.hadoop.fs.Path(dir,
      "_stream_stage/q1/epoch-9")
    f.mkdirs(old2)
    f.setTimes(old2, System.currentTimeMillis() - 25 * 3600L * 1000, -1)
    Snapshots.vacuum(spark, dir, keep = 2,
      stageOrphanMs = 72L * 3600 * 1000)
    assert(f.exists(old2), "a raised horizon must spare the epoch")
    Snapshots.vacuum(spark, dir, keep = 2, stageOrphanMs = Long.MaxValue)
    assert(f.exists(old2) && f.exists(live),
      "Long.MaxValue must skip stage sweeping")
    Thread.sleep(10)
    Snapshots.vacuum(spark, dir, keep = 2, stageOrphanMs = 1L)
    assert(!f.exists(old2) && !f.exists(live),
      "a tiny horizon sweeps settled epochs")
    intercept[IllegalArgumentException] {
      Snapshots.vacuum(spark, dir, keep = 2, stageOrphanMs = 0L)
    }
  }

  test("an aborted mutation's orphan deletion vector cannot poison the " +
      "version that reuses its number") {
    import spark.implicits._
    val dir = tmpDir("snaporphandv")
    Snapshots.commit(spark, dir, df(1 to 10), append = false) // v1
    // simulate a deleteWhere/updateWhere that died between its vector
    // write and its manifest: v1's file has a vector written for v2,
    // and v2 was never published
    val v1File = Snapshots.files(spark, dir, 1).head
    val orphan = new org.apache.hadoop.fs.Path(dir,
      DeletionVectors.pathFor(v1File, 2))
    val bm = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    bm.addLong(0L); bm.addLong(1L)
    DeletionVectors.write(
      orphan.getFileSystem(spark.sparkContext.hadoopConfiguration),
      orphan, bm)
    // the next commit claims v2 (no manifest ever published for it);
    // a plain append names no vector, so the orphan is never inherited
    Snapshots.commit(spark, dir, df(11 to 12), append = true) // v2
    assert(idsOf(dir, 2) == (1L to 12L),
      "rows deleted by an orphan vector = silent data loss")
    // the public metadata count agrees with the scan at both versions
    assert(Snapshots.metadataRowCount(spark, dir, 1) == 10L)
    assert(Snapshots.metadataRowCount(spark, dir, 2) == 12L)
    // vacuum sweeps the orphan once it is older than the stage-orphan
    // horizon; every vector a live manifest names stays
    Snapshots.deleteWhere(spark, dir, col("id") === 5L) // v3
    val fsys = orphan.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = Snapshots.entries(spark, dir, 3).flatMap(_.dv)
      .map(new org.apache.hadoop.fs.Path(dir, _))
    assert(live.nonEmpty && live.forall(fsys.exists))
    // a fresh orphan stays under the default (24 h) horizon
    Snapshots.vacuum(spark, dir, keep = 10)
    assert(fsys.exists(orphan), "a fresh orphan must outlive the horizon")
    Thread.sleep(1100) // local-FS mtime granularity can be one second
    val (deleted, dropped) =
      Snapshots.vacuum(spark, dir, keep = 10, stageOrphanMs = 1000L)
    assert(!fsys.exists(orphan), "the orphan vector must be swept")
    assert(deleted == 1 && dropped == 0, s"deleted=$deleted dropped=$dropped")
    assert(live.forall(fsys.exists), "a live vector was swept")
    assert(idsOf(dir, 3) == (1L to 12L).filterNot(_ == 5L))
  }

  test("views and timestamp time travel follow main, never a branch head") {
    val dir = tmpDir("snapmainline")
    val viewDir = tmpDir("snapmainline-mv")
    import spark.implicits._
    def rows(ids: Range, g: String) =
      ids.map(i => (i.toLong, g, i * 10L)).toDF("id", "grp", "x")
    Snapshots.commit(spark, dir, rows(1 to 10, "a"), append = false) // v1
    Snapshots.refreshView(spark, dir, viewDir, groupCols = Seq("grp"),
      sumCols = Seq("x"))
    // a branch commit becomes the GLOBAL latest (v2) while main stays v1
    Snapshots.createRef(spark, dir, "exp")
    Snapshots.commitOnBranch(spark, dir, "exp", rows(11 to 20, "b"),
      append = true)
    Thread.sleep(20)
    val afterBranch = System.currentTimeMillis()
    // the view refresh must anchor on MAIN (v1): branch rows leaking in
    // would corrupt the aggregates permanently (the marker advances)
    val (refreshedTo, applied) = Snapshots.refreshView(spark, dir, viewDir,
      groupCols = Seq("grp"), sumCols = Seq("x"))
    assert(refreshedTo == 1 && applied == 0L,
      s"refresh must target main's head v1, got v$refreshedTo (+$applied)")
    assert(Snapshots.readView(spark, viewDir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap == Map("a" -> 550L),
      "branch rows must not leak into the main-line view")
    // timestamp time travel resolves along main's ancestry: the raw max
    // over all manifests would return the BRANCH head v2 here
    assert(Snapshots.versionAsOf(spark, dir, afterBranch) == 1,
      "timestampAsOf must not resolve to a branch head")
    // once main itself advances, time travel follows it
    Snapshots.commit(spark, dir, rows(21 to 25, "c"), append = true) // v3
    Thread.sleep(20)
    assert(Snapshots.versionAsOf(spark, dir,
      System.currentTimeMillis()) == 3)
    // and the view folds exactly main's delta, never the branch's
    val (v2, n2) = Snapshots.refreshView(spark, dir, viewDir,
      groupCols = Seq("grp"), sumCols = Seq("x"))
    assert(v2 == 3 && n2 == 5)
    assert(Snapshots.readView(spark, viewDir).collect()
      .map(r => (r.getString(0), r.getLong(2))).toMap ==
      Map("a" -> 550L, "c" -> 1150L))
  }

  test("view min/max: a group recomputed to all-null reports null, not the stale bound") {
    val dir = tmpDir("snapmmnull")
    val viewDir = tmpDir("snapmmnull-mv")
    import spark.implicits._
    // group g: one real value (the recorded extremum) + one null row
    Snapshots.commit(spark, dir, Seq(
      (1L, "g", Some(5L)), (2L, "g", None),
      (3L, "h", Some(7L))).toDF("id", "grp", "x"), append = false)
    def refresh() = Snapshots.refreshView(spark, dir, viewDir,
      groupCols = Seq("grp"), sumCols = Seq.empty, minMaxCols = Seq("x"))
    refresh()
    // delete the extremum: the group survives (the null row remains) but
    // its min/max no longer exist — the view must say null, not 5
    Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    refresh()
    assert(Snapshots.lastViewRecomputedGroups == 1L)
    val g = Snapshots.readView(spark, viewDir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(g("g").isNullAt(g("g").fieldIndex("min_x")) &&
      g("g").isNullAt(g("g").fieldIndex("max_x")),
      "an extremum that no longer exists must report null")
    assert(g("g").getLong(g("g").fieldIndex("n_rows")) == 1L)
    assert(g("h").getLong(g("h").fieldIndex("min_x")) == 7L)
  }

  test("claim staleness follows the holder's declared heartbeat, not the follower timeout") {
    val dir = tmpDir("snaphb")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1), append = false)
    val p = new org.apache.hadoop.fs.Path(dir, "v2.claim")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dead claimant that DECLARED a 200 ms heartbeat cadence in its
    // claim body: followers judge staleness by that cadence (×3 + slack
    // ≈ 1.6 s), so even a follower configured with a huge timeout
    // detects the death promptly instead of waiting out its own clock
    val o = fs.create(p, false)
    o.write("200".getBytes("UTF-8")); o.close()
    val t0 = System.currentTimeMillis()
    val e = intercept[java.io.IOException] {
      Snapshots.commitWithTimeout(spark, dir, df(6 to 8).coalesce(1),
        append = true, timeoutMs = 120000L)
    }
    val waited = System.currentTimeMillis() - t0
    assert(e.getMessage.contains("v2.claim"), e.getMessage)
    assert(waited < 30000,
      s"staleness must follow the declared 200 ms cadence, waited $waited ms")
    fs.delete(p, false)
  }

  test("mergeBranch: disjoint auto-merge, conflicts refused, both parents") {
    import spark.implicits._
    val dir = tmpDir("merge")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    Snapshots.createRef(spark, dir, "exp")

    // CONTAINED branch (no commits): merging is a no-op at main's head
    assert(Snapshots.mergeBranch(spark, dir, "exp") == 1)

    // FAST-FORWARD: branch ahead, main un-diverged — main moves to the
    // branch head without a merge commit
    Snapshots.commitOnBranch(spark, dir, "exp", df(11 to 15).coalesce(1),
      append = true)
    assert(Snapshots.mergeBranch(spark, dir, "exp") == 2)
    assert(Snapshots.mainVersion(spark, dir) == 2)
    assert(idsOf(dir, 2) == (1L to 15L))

    // DIVERGED, disjoint keys: one merge commit unions both sides'
    // additions — metadata only, and the meta records BOTH parents
    Snapshots.commit(spark, dir, df(16 to 20).coalesce(1), append = true)
    Snapshots.commitOnBranch(spark, dir, "exp", df(21 to 25).coalesce(1),
      append = true)
    val merged = Snapshots.mergeBranch(spark, dir, "exp", Seq("id"))
    assert(merged == 5 && Snapshots.mainVersion(spark, dir) == 5)
    assert(idsOf(dir, merged) == (1L to 25L))
    assert(Snapshots.commitParents(fs, dir, merged) == Seq(3, 4),
      "merge meta must record main's head first, then the branch head")
    // ancestry walks stay on main's line through the merge
    assert(Snapshots.commitParent(fs, dir, merged) == 3)
    // both parents' content is still addressable
    assert(idsOf(dir, 3) == (1L to 20L))
    assert(idsOf(dir, 4) == ((1L to 15L) ++ (21L to 25L)))

    // KEY CONFLICT: both sides append id=100 → refused with a sample
    Snapshots.commit(spark, dir, df(100 to 101).coalesce(1), append = true)
    Snapshots.commitOnBranch(spark, dir, "exp",
      df(100 to 100).coalesce(1), append = true)
    val conflict = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir, "exp", Seq("id"))
    }
    assert(conflict.getMessage.contains("both sides appended"),
      conflict.getMessage)
    // …but WITHOUT key checking the same merge goes through (documented:
    // caller's policy), so the guard is what the keyCols arg buys
    assert(Snapshots.mainVersion(spark, dir) == 6)

    // DV divergence, disjoint positions: a delete on main since the
    // base MERGES (position union) — the deleted row stays dead in the
    // merged version, the branch's rows arrive
    val dir2 = tmpDir("mergedv")
    Snapshots.commit(spark, dir2, df(1 to 10).coalesce(1), append = false)
    Snapshots.createRef(spark, dir2, "b")
    Snapshots.commitOnBranch(spark, dir2, "b", df(11 to 12).coalesce(1),
      append = true)
    Snapshots.commit(spark, dir2, df(13 to 14).coalesce(1), append = true)
    Snapshots.deleteWhere(spark, dir2, col("id") === 1)
    val mergedDv = Snapshots.mergeBranch(spark, dir2, "b")
    assert(idsOf(dir2, mergedDv) == (2L to 14L),
      "main's delete must survive the merge; branch rows must arrive")
  }

  test("mergeBranch reconciles disjoint divergent deletions by " +
      "position union; same-position deltas refuse") {
    import spark.implicits._
    val dir = tmpDir("mergedel")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false) // v1
    Snapshots.createRef(spark, dir, "gdpr")
    Snapshots.commitOnBranch(spark, dir, "gdpr",
      df(11 to 14).coalesce(1), append = true)                            // v2
    Snapshots.commit(spark, dir, df(15 to 18).coalesce(1), append = true) // v3
    // main deletes base rows 1,2; the BRANCH deletes base row 9 and its
    // own row 11 (deleteWhere on a named branch bases on and advances
    // the branch ref, never main)
    Snapshots.deleteWhere(spark, dir, col("id") <= 2)                     // v4
    val (bv, bn) = Snapshots.deleteWhere(spark, dir,
      col("id") === 9 || col("id") === 11, branch = Some("gdpr"))         // v5
    assert(bv == 5 && bn == 2)
    assert(Snapshots.refVersion(spark, dir, "gdpr") == 5)
    assert(Snapshots.mainVersion(spark, dir) == 4,
      "a branch-side delete must not advance main")
    assert(idsOf(dir, 4) == ((3L to 10L) ++ (15L to 18L)),
      "main must not see the branch's delete")

    val merged = Snapshots.mergeBranch(spark, dir, "gdpr", Seq("id"))
    assert(merged == 6 && Snapshots.mainVersion(spark, dir) == 6)
    // both sides' deletions survive; both sides' additions arrive
    assert(idsOf(dir, merged) ==
      ((3L to 8L) ++ Seq(10L) ++ (12L to 14L) ++ (15L to 18L)),
      s"got ${idsOf(dir, merged)}")
    assert(Snapshots.parentsOf(spark, dir, merged) == Seq(4, 5))
    // pre-merge versions still read exactly
    assert(idsOf(dir, 1) == (1L to 10L))
    assert(idsOf(dir, 5) == ((1L to 8L) ++ Seq(10L) ++ (12L to 14L)))

    // SAME base position deleted on both sides: ambiguous (one side may
    // have updated the row) — refused with a position sample
    val dir2 = tmpDir("mergeclash")
    Snapshots.commit(spark, dir2, df(1 to 10).coalesce(1), append = false)
    Snapshots.createRef(spark, dir2, "b")
    Snapshots.deleteWhere(spark, dir2, col("id") === 5)
    Snapshots.deleteWhere(spark, dir2, col("id") === 5,
      branch = Some("b"))
    val clash = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir2, "b")
    }
    assert(clash.getMessage.contains("same base row"), clash.getMessage)

    // UPDATE-vs-DELETE on the same row is exactly that overlap: main
    // updates id 7 (DV position + replacement row), branch deletes it
    val dir3 = tmpDir("mergeupddel")
    Snapshots.commit(spark, dir3, df(1 to 10).coalesce(1), append = false)
    Snapshots.createRef(spark, dir3, "b")
    Snapshots.updateWhere(spark, dir3, col("id") === 7,
      Seq("payload" -> upper(col("payload"))))
    Snapshots.deleteWhere(spark, dir3, col("id") === 7,
      branch = Some("b"))
    val updDel = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir3, "b")
    }
    assert(updDel.getMessage.contains("same base row"), updDel.getMessage)
  }

  /** Jobs submitted while `op` runs, isolated via a job group (the ops
    * are synchronous, so every job is registered before `op` returns). */
  private def jobsDuring(tag: String)(op: => Unit): Int = {
    spark.sparkContext.setJobGroup(tag, tag, false)
    try op finally spark.sparkContext.clearJobGroup()
    spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
  }

  test("mergeBranch reconciles across a main-side optimize: deletions " +
      "re-locate by key; arbitrary rewrites still refuse") {
    val dir = tmpDir("mergecompact")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir, "exp")
    // branch: append rows and delete base rows 3 and 4 (positions into
    // v1's file — which main's optimize is about to rewrite away)
    Snapshots.commitOnBranch(spark, dir, "exp", df(21 to 23).coalesce(1),
      append = true)                                               // v2
    Snapshots.deleteWhere(spark, dir, col("id").isin(3L, 4L),
      branch = Some("exp"))                                        // v3
    // main: append, then compact (drops v1's file, folds v4's rows in)
    Snapshots.commit(spark, dir, df(11 to 13).coalesce(1),
      append = true)                                               // v4
    Snapshots.optimize(spark, dir, Seq("id"), numFiles = 2)        // v5
    val merged = Snapshots.mergeBranch(spark, dir, "exp",
      keyCols = Seq("id"))
    assert(idsOf(dir, merged) ==
      ((1L to 13L).filterNot(Set(3L, 4L)) ++ (21L to 23L)),
      s"merged content: ${idsOf(dir, merged)}")
    assert(Snapshots.parentsOf(spark, dir, merged).size == 2)
    // row content survives the re-located deletion vector
    val pay = Snapshots.read(spark, dir, merged)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pay(21L) == "row21" && pay(5L) == "row5")

    // without keyCols, a dropped-position delta refuses with guidance
    val dir2 = tmpDir("mergecompact-nokeys")
    Snapshots.commit(spark, dir2, df(1 to 5).coalesce(1), append = false)
    Snapshots.createRef(spark, dir2, "exp")
    Snapshots.deleteWhere(spark, dir2, col("id") === 1L,
      branch = Some("exp"))
    Snapshots.optimize(spark, dir2, Seq("id"), numFiles = 1)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir2, "exp")
    }
    assert(e2.getMessage.contains("keyCols"), e2.getMessage)
    // with keyCols the same merge lands
    val m2 = Snapshots.mergeBranch(spark, dir2, "exp", Seq("id"))
    assert(idsOf(dir2, m2) == (2L to 5L))

    // an arbitrary rewrite (INSERT OVERWRITE — no recorded optimize op)
    // still refuses
    val dir3 = tmpDir("mergecompact-ovr")
    Snapshots.commit(spark, dir3, df(1 to 5).coalesce(1), append = false)
    Snapshots.createRef(spark, dir3, "exp")
    Snapshots.commitOnBranch(spark, dir3, "exp", df(21 to 22).coalesce(1),
      append = true)
    Snapshots.commit(spark, dir3, df(1 to 6).coalesce(1), append = false)
    val e3 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir3, "exp", Seq("id"))
    }
    assert(e3.getMessage.contains("optimize"), e3.getMessage)

    // a branch-deleted key with no live row at main's head refuses
    // (main deleted it too after compacting — ambiguous)
    val dir4 = tmpDir("mergecompact-gone")
    Snapshots.commit(spark, dir4, df(1 to 5).coalesce(1), append = false)
    Snapshots.createRef(spark, dir4, "exp")
    Snapshots.deleteWhere(spark, dir4, col("id") === 2L,
      branch = Some("exp"))
    Snapshots.optimize(spark, dir4, Seq("id"), numFiles = 1)
    Snapshots.deleteWhere(spark, dir4, col("id") === 2L)
    val e4 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir4, "exp", Seq("id"))
    }
    assert(e4.getMessage.contains("no live row"), e4.getMessage)
  }

  test("fileInventory: many-file tables read footers in ONE distributed " +
      "job; small tables stay job-free") {
    val dir = tmpDir("inventorybig")
    val n = Snapshots.inventoryDistributeThreshold + 16
    Snapshots.commit(spark, dir, df(1 to 400).repartition(n),
      append = false)
    val jobs = jobsDuring("inv-big") {
      val inv = Snapshots.fileInventory(spark, dir, 1)
      assert(inv.size > Snapshots.inventoryDistributeThreshold,
        s"fixture must exceed the threshold, got ${inv.size} files")
      assert(inv.map(_._4).sum == 400L, "footer row counts must sum")
      assert(inv.forall(_._3 > 0L), "sizes must be real")
    }
    assert(jobs == 1, s"distributed inventory ran $jobs jobs (want 1)")

    val dir2 = tmpDir("inventorysmall")
    Snapshots.commit(spark, dir2, df(1 to 10).coalesce(1), append = false)
    val jobs2 = jobsDuring("inv-small") {
      assert(Snapshots.fileInventory(spark, dir2, 1).map(_._4).sum == 10L)
    }
    assert(jobs2 == 0, s"small-table inventory ran $jobs2 jobs (want 0)")
  }

  test("updateWhere on a branch: main untouched; the diverged merge " +
      "carries the update") {
    val dir = tmpDir("updbranch")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir, "exp")
    val (vb, n) = Snapshots.updateWhere(spark, dir, col("id") === 2L,
      Seq("payload" -> lit("upd")), branch = Some("exp"))          // v2
    assert(n == 1)
    def payloadOf(v: Int, id: Long): String =
      Snapshots.read(spark, dir, v).filter(col("id") === id)
        .select("payload").head().getString(0)
    assert(payloadOf(Snapshots.refVersion(spark, dir, "main"), 2L) ==
      "row2", "the branch update must not touch main")
    assert(payloadOf(vb, 2L) == "upd")

    // a tag refuses
    Snapshots.createRef(spark, dir, "pin", tag = true)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, dir, col("id") === 1L,
        Seq("payload" -> lit("x")), branch = Some("pin"))
    }

    // main diverges (append), then the merge position-unions the
    // branch's update DV and carries its replacement file
    Snapshots.commit(spark, dir, df(11 to 12).coalesce(1),
      append = true)                                               // v4
    val merged = Snapshots.mergeBranch(spark, dir, "exp", Seq("id"))
    assert(idsOf(dir, merged) == (1L to 5L) ++ (11L to 12L),
      s"merged: ${idsOf(dir, merged)}")
    assert(payloadOf(merged, 2L) == "upd",
      "the branch's update must survive the merge")
  }

  test("concurrent mixed writers serialize through the claim protocol: " +
      "linear history, no lost updates") {
    val dir = tmpDir("race-mixed")
    Snapshots.commit(spark, dir, df(1 to 300).coalesce(3),
      append = false)                                              // v1
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    // three writers with DISJOINT effects, racing on one table: each
    // verb claims, computes against the claimed predecessor, publishes
    // — so no interleaving may lose any of the 15 mutations
    val appender = Future {
      (1 to 5).foreach { k =>
        Snapshots.commit(spark, dir,
          df((1000 + 10 * k) to (1009 + 10 * k)).coalesce(1),
          append = true)
      }
    }
    val deleter = Future {
      (1 to 5).foreach { k =>
        Snapshots.deleteWhere(spark, dir, col("id") === k.toLong)
      }
    }
    val upserter = Future {
      (1 to 5).foreach { k =>
        Snapshots.upsert(spark, dir,
          Seq((100L + k, s"upd$k")).toDF("id", "payload"), Seq("id"))
      }
    }
    try
      Await.result(
        Future.sequence(Seq(appender, deleter, upserter)),
        scala.concurrent.duration.Duration(300, "s"))
    finally pool.shutdown()

    val head = Snapshots.latestVersion(spark, dir)
    assert(head == 16, s"15 racing mutations must claim 15 versions: $head")
    // linear history: every version's parent is its predecessor
    (2 to head).foreach { v =>
      assert(Snapshots.parentsOf(spark, dir, v) == Seq(v - 1),
        s"v$v parents: ${Snapshots.parentsOf(spark, dir, v)}")
    }
    // no mutation lost: deletes gone, upserts applied, appends present
    val rows = Snapshots.read(spark, dir, head)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert((1L to 5L).forall(!rows.contains(_)), "deletes lost")
    (1 to 5).foreach(k => assert(rows(100L + k) == s"upd$k",
      s"upsert $k lost: ${rows.get(100L + k)}"))
    (1 to 5).foreach(k => assert(rows.contains(1000L + 10 * k),
      s"append $k lost"))
    assert(rows.size == 300 - 5 + 50, s"row count: ${rows.size}")
    // the metadata count agrees with the data
    assert(Snapshots.metadataRowCount(spark, dir, head) == rows.size.toLong)
  }

  test("concurrent branch-targeted upserts: the follower waits for the " +
      "predecessor's claim RELEASE (which happens after its ref " +
      "advance), so no commit is ever dropped from the branch line") {
    val dir = tmpDir("race-branch")
    Snapshots.commit(spark, dir, df(1 to 50).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir, "exp")
    import spark.implicits._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    // three writers, disjoint keys, all publishing to the SAME branch:
    // each publishes manifest → ref advance → claim release. A follower
    // that proceeded on manifest-exists alone could read the branch ref
    // before the predecessor advanced it and base on the stale head —
    // dropping the predecessor's upsert from the branch line.
    val writers = (0 until 3).map { w =>
      Future {
        (1 to 4).foreach { k =>
          Snapshots.upsert(spark, dir,
            Seq((1000L + 100 * w + k, s"w$w-$k")).toDF("id", "payload"),
            Seq("id"), branch = Some("exp"))
        }
      }
    }
    try Await.result(Future.sequence(writers),
      scala.concurrent.duration.Duration(300, "s"))
    finally pool.shutdown()
    val head = Snapshots.refVersion(spark, dir, "exp")
    // every one of the 12 racing upserts must survive on the branch
    val ids = Snapshots.read(spark, dir, head)
      .filter(col("id") >= 1000L).select("id").collect()
      .map(_.getLong(0)).toSet
    val expected = (for (w <- 0 until 3; k <- 1 to 4)
      yield 1000L + 100 * w + k).toSet
    assert(ids == expected,
      s"lost branch commits: missing ${expected -- ids}")
    // and the branch line is linear: 12 commits, each parenting the prior
    var x = head; var n = 0
    while (x > 1) { n += 1; x = Snapshots.parentsOf(spark, dir, x).head }
    assert(n == 12, s"branch ancestry depth: $n")
    assert(idsOf(dir, Snapshots.refVersion(spark, dir, "main")) ==
      (1L to 50L), "main must be untouched")
  }

  test("upsert and applyCdc on a branch: the CDC-into-a-branch " +
      "pipeline, main untouched until fast-forward") {
    val dir = tmpDir("cdcbranch")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir, "stage")
    def payloadAt(ref: String, id: Long): String =
      Snapshots.read(spark, dir, Snapshots.refVersion(spark, dir, ref))
        .filter(col("id") === id).select("payload").head().getString(0)

    // upsert replaces key 3 on the branch
    import spark.implicits._
    val batch1 = Seq((3L, "v2-of-3"), (6L, "new-6"))
      .toDF("id", "payload")
    val (_, nRep) = Snapshots.upsert(spark, dir, batch1, Seq("id"),
      branch = Some("stage"))
    assert(nRep == 1)
    assert(payloadAt("stage", 3L) == "v2-of-3" &&
      payloadAt("main", 3L) == "row3")

    // a CDC batch on the branch: update 1, delete 6, insert 7
    val ups = Seq((1L, "one!"), (7L, "seven")).toDF("id", "payload")
    val dels = Seq(Tuple1(6L)).toDF("id")
    val (_, nApplied) = Snapshots.applyCdc(spark, dir, ups, dels,
      Seq("id"), branch = Some("stage"))
    assert(nApplied == 4, s"applied=$nApplied") // 1 upd + 1 del + 2 staged
    val stageIds = Snapshots
      .read(spark, dir, Snapshots.refVersion(spark, dir, "stage"))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(stageIds == Seq(1L, 2L, 3L, 4L, 5L, 7L), s"stage: $stageIds")
    assert(payloadAt("stage", 1L) == "one!")
    assert(idsOf(dir, Snapshots.refVersion(spark, dir, "main")) ==
      (1L to 5L), "main must stay at v1's content")

    // validated: publish by fast-forwarding main onto the branch
    Snapshots.fastForward(spark, dir, "main",
      Snapshots.refVersion(spark, dir, "stage"))
    assert(payloadAt("main", 3L) == "v2-of-3" &&
      payloadAt("main", 1L) == "one!")

    // tags refuse both verbs
    Snapshots.createRef(spark, dir, "pin", tag = true)
    intercept[IllegalArgumentException] {
      Snapshots.upsert(spark, dir, batch1, Seq("id"),
        branch = Some("pin"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.applyCdc(spark, dir, ups, dels, Seq("id"),
        branch = Some("pin"))
    }
  }

  test("mergeBranch reconciles across a main-side restore: kept-file " +
      "deletions carry, reverted rows refuse, relocation still lands") {
    // branch deletes a row in a file the restore KEEPS: the position
    // carries directly; the restore's non-monotone commit (drops v2's
    // file) is admitted as a recorded op
    val dir = tmpDir("mergerestore")
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1),
      append = false)                                              // v1
    Snapshots.commit(spark, dir, df(11 to 13).coalesce(1),
      append = true)                                               // v2
    Snapshots.createRef(spark, dir, "exp")
    Snapshots.deleteWhere(spark, dir, col("id") === 3L,
      branch = Some("exp"))                                        // v3
    Snapshots.restore(spark, dir, 1)                               // v4
    val merged = Snapshots.mergeBranch(spark, dir, "exp",
      keyCols = Seq("id"))
    assert(idsOf(dir, merged) == (1L to 10L).filterNot(_ == 3L),
      s"merged content: ${idsOf(dir, merged)}")

    // branch deleted a row the restore REVERTED away (its file dropped,
    // its key absent from the restored head) — ambiguous, refused
    val dir2 = tmpDir("mergerestore-gone")
    Snapshots.commit(spark, dir2, df(1 to 10).coalesce(1),
      append = false)                                              // v1
    Snapshots.commit(spark, dir2, df(11 to 13).coalesce(1),
      append = true)                                               // v2
    Snapshots.createRef(spark, dir2, "exp")
    Snapshots.deleteWhere(spark, dir2, col("id") === 12L,
      branch = Some("exp"))                                        // v3
    Snapshots.restore(spark, dir2, 1)                              // v4
    val e5 = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir2, "exp", Seq("id"))
    }
    assert(e5.getMessage.contains("no live row"), e5.getMessage)

    // optimize + append + restore mixed on main: the branch's deletion
    // into an optimized-away file re-locates by key against the
    // RESTORED head (whose rows still carry the base content)
    val dir3 = tmpDir("mergerestore-reloc")
    Snapshots.commit(spark, dir3, df(1 to 10).coalesce(1),
      append = false)                                              // v1
    Snapshots.commit(spark, dir3, df(11 to 13).coalesce(1),
      append = true)                                               // v2
    Snapshots.createRef(spark, dir3, "exp")
    Snapshots.deleteWhere(spark, dir3, col("id") === 5L,
      branch = Some("exp"))                                        // v3
    Snapshots.optimize(spark, dir3, Seq("id"), numFiles = 2)       // v4
    Snapshots.commit(spark, dir3, df(14 to 15).coalesce(1),
      append = true)                                               // v5
    Snapshots.restore(spark, dir3, 4)                              // v6
    val m3 = Snapshots.mergeBranch(spark, dir3, "exp", Seq("id"))
    assert(idsOf(dir3, m3) == (1L to 13L).filterNot(_ == 5L),
      s"merged content: ${idsOf(dir3, m3)}")
  }

  test("deleteWhere/updateWhere open only stat-overlapping files " +
      "(condition-bound pruning)") {
    val dir = tmpDir("dmlprune")
    Snapshots.commit(spark, dir, df(1 to 100).coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(101 to 200).coalesce(1),
      append = true, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, df(201 to 300).coalesce(1),
      append = true, statsCols = Seq("id"))

    // equality admits the middle vintage only
    val (v4, n4) = Snapshots.deleteWhere(spark, dir, col("id") === 150L)
    assert(n4 == 1 && Snapshots.lastDmlPruneCounts == ((1, 3)),
      s"n=$n4 counts=${Snapshots.lastDmlPruneCounts}")
    assert(idsOf(dir, v4) == (1L to 300L).filterNot(_ == 150L))

    // an IN list prunes per listed value; the unparseable payload
    // conjunct constrains nothing
    val (_, n5) = Snapshots.updateWhere(spark, dir,
      col("id").isin(250L, 260L) && col("payload") =!= "nope",
      Seq("payload" -> lit("upd")))
    assert(n5 == 2 && Snapshots.lastDmlPruneCounts == ((1, 3)),
      s"n=$n5 counts=${Snapshots.lastDmlPruneCounts}")

    // an unparseable condition keeps every file (conservative); the
    // update's staged file joined the set
    val (_, n6) = Snapshots.deleteWhere(spark, dir,
      pmod(col("id"), lit(97L)) === 0L)
    assert(n6 == 3 && Snapshots.lastDmlPruneCounts == ((4, 4)),
      s"n=$n6 counts=${Snapshots.lastDmlPruneCounts}")

    // out-of-range: only the stats-free staged file survives pruning
    val (_, n7) = Snapshots.deleteWhere(spark, dir, col("id") === 9999L)
    assert(n7 == 0 && Snapshots.lastDmlPruneCounts == ((1, 4)),
      s"n=$n7 counts=${Snapshots.lastDmlPruneCounts}")

    // all files carry stats: nothing admissible = ZERO files opened
    val dir2 = tmpDir("dmlprune-zero")
    Snapshots.commit(spark, dir2, df(1 to 50).coalesce(1),
      append = false, statsCols = Seq("id"))
    val (_, z) = Snapshots.deleteWhere(spark, dir2, col("id") === 999L)
    assert(z == 0 && Snapshots.lastDmlPruneCounts == ((0, 1)),
      s"n=$z counts=${Snapshots.lastDmlPruneCounts}")
    assert(idsOf(dir2, Snapshots.latestVersion(spark, dir2)) ==
      (1L to 50L))
  }

  test("deleteWhere/updateWhere metrics come from cache, not recounts") {
    val d1 = tmpDir("jobsdel")
    Snapshots.commit(spark, d1, df(1 to 20).repartition(2), append = false)
    val delJobs = jobsDuring("pin-del") {
      val (_, n) = Snapshots.deleteWhere(spark, d1, col("id") <= 5)
      assert(n == 5)
    }
    val d2 = tmpDir("jobsupd")
    Snapshots.commit(spark, d2, df(1 to 20).repartition(2), append = false)
    val updJobs = jobsDuring("pin-upd") {
      val (_, n) = Snapshots.updateWhere(spark, d2, col("id") <= 5,
        Seq("payload" -> upper(col("payload"))))
      assert(n == 5)
    }
    // pinned composition — delete: the vector write, the ONE data scan,
    // whose per-file records carry the count of newly deleted rows; the
    // scan's schema comes from parquet footers read on the driver, no
    // inference job. Update adds only the staging write of the matched
    // rows (served from the cache the vector write filled). A regression
    // that recounts by re-scanning the table or re-reading the
    // just-written vectors shows up as extra jobs here.
    assert(delJobs == 1, s"deleteWhere ran $delJobs jobs, pinned 1")
    assert(updJobs == 2, s"updateWhere ran $updJobs jobs, pinned 2")
    // and the published tables are correct
    assert(idsOf(d1, 2) == (6L to 20L))
    assert(Snapshots.read(spark, d2, 2)
      .filter(col("payload") === "ROW3").count() == 1)
  }

  test("purge: each extra affected file costs exactly its rewrite job") {
    import spark.implicits._
    def build(): String = {
      val dir = tmpDir("jobspurge")
      // two files with disjoint id ranges, no statsCols (no stats jobs)
      val a = (1 to 10).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
        .coalesce(1)
      val b = (11 to 20).map(i => (i.toLong, s"row$i"))
        .toDF("id", "payload").coalesce(1)
      Snapshots.commit(spark, dir, a, append = false)
      Snapshots.commit(spark, dir, b, append = true)
      dir
    }
    val one = build(); val two = build()
    val jobsOne = jobsDuring("pin-purge1") {
      val (nDel, _, _) = Snapshots.purge(spark, one,
        Seq(3L).toDF("id"), Seq("id"))
      assert(nDel >= 0)
    }
    val jobsTwo = jobsDuring("pin-purge2") {
      Snapshots.purge(spark, two,
        Seq(3L, 15L).toDF("id"), Seq("id"))
      ()
    }
    // the second purge touches one MORE file (ids 3 and 15 live in
    // different files): the extra work is that file's rewrite chain
    // (schema inference + anti-join write under AQE) — row counts come
    // from parquet FOOTERS, so no recount jobs are in the delta (they
    // were +2 per file before the footer change)
    assert(jobsTwo - jobsOne == 6,
      s"extra affected file cost ${jobsTwo - jobsOne} jobs, pinned 6 " +
        s"(one=$jobsOne two=$jobsTwo)")
    assert(idsOf(one, 2) == ((1L to 20L).toSet - 3L).toSeq.sorted)
    assert(idsOf(two, 2) == ((1L to 20L).toSet - 3L - 15L).toSeq.sorted)
  }

  test("compact: bin-packs only small files, materializes their " +
      "deletions, carries kept DV entries, spans schema vintages") {
    val dir = tmpDir("snapcompact")
    import spark.implicits._
    // v1/v2: two small single-file vintages; v2 widens the schema
    Snapshots.commit(spark, dir, df(1 to 10).coalesce(1), append = false)
    val wide = (11 to 20).map(i => (i.toLong, s"row$i", i * 2))
      .toDF("id", "payload", "extra").coalesce(1)
    Snapshots.commit(spark, dir, wide, append = true)
    // v3: a BIG file that must survive untouched — unique hex payloads
    // so parquet cannot dictionary/RLE it under the small threshold
    val big = (21 to 2000).map(i => (i.toLong,
        (1 to 20).map(j => (i * 2654435761L + j * 40503L).toHexString)
          .mkString("-")))
      .toDF("id", "payload").coalesce(1)
    Snapshots.commit(spark, dir, big, append = true)
    // v4: MoR deletes touching a small file (id=5) and the big one
    val (v4, nDel) = Snapshots.deleteWhere(spark, dir,
      col("id") === 5L || col("id") === 100L)
    assert(v4 == 4 && nDel == 2)
    val before = Snapshots.read(spark, dir, 4)
      .select("id").collect().map(_.getLong(0)).toSet
    val bigFile = Snapshots.files(spark, dir, 3)
      .filterNot(Snapshots.files(spark, dir, 2).toSet).head

    // small = the two tiny vintage files; the big one stays put
    val v5 = Snapshots.compact(spark, dir, smallBytes = 64L << 10)
    assert(v5 == 5)
    val after = Snapshots.files(spark, dir, 5)
    assert(after.contains(bigFile), "big file must be untouched")
    assert(after.size == 2, s"expected big + one packed file: $after")
    // content identical through the evolved read (id=5 stays deleted —
    // its deletion MATERIALIZED; id=100 stays deleted via the carried
    // DV entry for the kept big file)
    val got = Snapshots.read(spark, dir, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == before)
    assert(Snapshots.hasDv(spark, dir, 5), "kept-file DV entry carries")
    // the packed vintage carries the evolved schema (extra present,
    // null-backfilled for v1 rows)
    val packedPath = after.filterNot(_ == bigFile).head
    val packedSchema = spark.read.parquet(
      new org.apache.hadoop.fs.Path(dir, packedPath).toString).schema
    assert(packedSchema.fieldNames.toSeq == Seq("id", "payload", "extra"))
    // recorded verb + prior versions intact
    assert(Snapshots.commitOp(spark, dir, 5).map(_._1).contains("compact"))
    assert(idsOf(dir, 1) == (1L to 10L))
    // idempotent: nothing small enough remains (one packed + one big)
    assert(Snapshots.compact(spark, dir, smallBytes = 64L << 10) == 5)
    // a branch merges across the compact (content-preserving)
    Snapshots.createRef(spark, dir, "cexp")
    Snapshots.commitOnBranch(spark, dir, "cexp",
      Seq((9001L, "b", 1)).toDF("id", "payload", "extra"), append = true)
    val v6 = Snapshots.compact(spark, dir, smallBytes = 1L << 30,
      targetBytes = 1L << 30)
    assert(v6 > 5, "everything qualifies under a 1 GiB threshold")
    val merged = Snapshots.mergeBranch(spark, dir, "cexp",
      keyCols = Seq("id"))
    assert(Snapshots.read(spark, dir, merged).filter(col("id") === 9001L)
      .count() == 1L)
  }

  test("restore: one metadata commit reverts content; history intact") {
    val dir = tmpDir("snaprestore")
    Snapshots.commit(spark, dir, df(1 to 10).repartition(2),
      append = false)
    Snapshots.commit(spark, dir, df(11 to 15), append = true)
    val (v3, _) = Snapshots.deleteWhere(spark, dir, col("id") <= 3)
    assert(v3 == 3)
    def dataFiles(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(dir, "data")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).map(_.getPath.getName).toSet
    }
    val before = dataFiles()

    // restore past the delete: content == v2, nothing moved on disk
    val v4 = Snapshots.restore(spark, dir, 2)
    assert(v4 == 4 && Snapshots.mainVersion(spark, dir) == 4)
    assert(idsOf(dir, 4) == (1L to 15L))
    assert(dataFiles() == before, "restore must move no data files")
    // the rolled-back version is still time-travelable (history kept)
    assert(idsOf(dir, 3) == (4L to 15L))
    // the op is recorded for history/merge refusal
    assert(Snapshots.commitOp(spark, dir, 4).map(_._1).contains("restore"))

    // restore TO a DV-carrying version copies the vector forward
    val v5 = Snapshots.restore(spark, dir, 3)
    assert(v5 == 5 && idsOf(dir, 5) == (4L to 15L))
    assert(Snapshots.hasDv(spark, dir, 5))

    // no-op restore publishes nothing
    assert(Snapshots.restore(spark, dir, 5) == 5)
    assert(Snapshots.mainVersion(spark, dir) == 5)

    // refusals: unknown version; off-main branch commit
    val e1 = intercept[IllegalArgumentException] {
      Snapshots.restore(spark, dir, 99)
    }
    assert(e1.getMessage.contains("does not exist"))
    Snapshots.createRef(spark, dir, "exp")
    val vb = Snapshots.commitOnBranch(spark, dir, "exp",
      df(90 to 92), append = true)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.restore(spark, dir, vb)
    }
    assert(e2.getMessage.contains("not on main's ancestry"))
    // main still restorable while branched; lands after the branch commit
    val v7 = Snapshots.restore(spark, dir, 2)
    assert(idsOf(dir, v7) == (1L to 15L))
    assert(Snapshots.mainVersion(spark, dir) == v7)
  }

  test("restore: the change feed types the revert as file-diff rows") {
    val dir = tmpDir("snaprestorecdf")
    Snapshots.commit(spark, dir, df(1 to 6).coalesce(1), append = false)
    Snapshots.commit(spark, dir, df(7 to 9).coalesce(1), append = true)
    val v3 = Snapshots.restore(spark, dir, 1)
    assert(v3 == 3)
    // spanning diff: v2 added 7-9, v3 (restore) removed them — the net
    // multiset change from v1 to v3 is empty
    val (ins, del) = Snapshots.diffRows(spark, dir, 1, 3)
    assert(ins.count() == 0 && del.count() == 0)
    // the restore step alone reads as three deletes
    val (i2, d2) = Snapshots.diffRows(spark, dir, 2, 3)
    assert(i2.count() == 0)
    assert(d2.select(col("id")).collect().map(_.getLong(0)).sorted
      .sameElements(Array(7L, 8L, 9L)))
  }

  test("NaN double bounds are never recorded and never prune " +
      "(DML still finds the file's non-NaN rows)") {
    import spark.implicits._
    // one file whose double column CONTAINS a NaN: parquet footer /
    // Spark min-max total order reports max=NaN, which (pre-fix) made
    // every interval test false and pruned the file for every predicate
    val dir = tmpDir("nanstats")
    val rows = Seq((1L, 5.0), (2L, Double.NaN), (3L, 7.0))
      .toDF("id", "d").coalesce(1)
    Snapshots.commit(spark, dir, rows, append = false,
      statsCols = Seq("id", "d"))
    // the NaN-poisoned bound is simply absent from the side-file;
    // the clean id column still records
    val f = new org.apache.hadoop.fs.Path(dir, "v1.stats")
    val hfs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = {
      val in = hfs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(!txt.contains("NaN"), s"NaN bound recorded: $txt")
    assert(txt.contains("id"), s"clean column stats missing: $txt")
    // a selective DELETE on the double column matches the non-NaN row
    // (the file must NOT be stat-pruned)
    val (_, n) = Snapshots.deleteWhere(spark, dir, col("d") === 7.0)
    assert(n == 1L, s"deleted $n rows, expected 1")
    assert(idsOf(dir, Snapshots.latestVersion(spark, dir)) ==
      Seq(1L, 2L))
    // belt and braces: a historic NaN bound read back from a stats
    // line compares as never-prunable
    assert(StatsPruning.inBounds("double", "1.0", "NaN", "7.0", "7.0"))
    assert(StatsPruning.inBounds("double", "NaN", "NaN", "7.0", "7.0"))
    assert(!StatsPruning.inBounds("double", "1.0", "2.0", "7.0", "8.0"))
  }

  test("IN-list with a non-finite literal constrains nothing instead " +
      "of failing the DML") {
    import spark.implicits._
    val dir = tmpDir("naninlist")
    val rows = Seq((1L, 1.0), (2L, 3.0)).toDF("id", "d").coalesce(1)
    Snapshots.commit(spark, dir, rows, append = false,
      statsCols = Seq("id", "d"))
    // pre-fix: BigDecimal("NaN") threw NumberFormatException out of the
    // stat-pruning extractor and failed the whole DELETE
    val (_, n) = Snapshots.deleteWhere(spark, dir,
      col("d").isin(Double.NaN, 1.0))
    assert(n == 1L, s"deleted $n rows, expected 1")
    assert(idsOf(dir, Snapshots.latestVersion(spark, dir)) == Seq(2L))
  }

  test("mergeBranch refuses to re-locate a branch delete onto a row " +
      "main UPDATED then compacted away") {
    val dir = tmpDir("mergeupdcompact")
    Snapshots.commit(spark, dir, df(1 to 5).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir, "exp")
    // branch deletes base row 2 (a position into v1's file)
    Snapshots.deleteWhere(spark, dir, col("id") === 2L,
      branch = Some("exp"))                                        // v2
    // main UPDATES the same row's content (merge-on-read: DV + append)
    Snapshots.updateWhere(spark, dir, col("id") === 2L,
      Seq("payload" -> org.apache.spark.sql.functions
        .lit("updated-on-main")))                                  // v3
    // ... then compacts, dropping v1's file and materializing the DV —
    // the position-clash check can no longer see the conflict
    Snapshots.optimize(spark, dir, Seq("id"), numFiles = 1)        // v4
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeBranch(spark, dir, "exp", keyCols = Seq("id"))
    }
    assert(e.getMessage.contains("updated row content"), e.getMessage)
    // main's update is still intact after the refusal
    val pay = Snapshots.read(spark, dir,
        Snapshots.mainVersion(spark, dir))
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pay(2L) == "updated-on-main")

    // control: an update to a DIFFERENT row does not block re-locating
    // the branch's delete of an untouched row
    val dir2 = tmpDir("mergeupdother")
    Snapshots.commit(spark, dir2, df(1 to 5).coalesce(1),
      append = false)                                              // v1
    Snapshots.createRef(spark, dir2, "exp")
    Snapshots.deleteWhere(spark, dir2, col("id") === 2L,
      branch = Some("exp"))                                        // v2
    Snapshots.updateWhere(spark, dir2, col("id") === 5L,
      Seq("payload" -> org.apache.spark.sql.functions
        .lit("updated-5")))                                        // v3
    Snapshots.optimize(spark, dir2, Seq("id"), numFiles = 1)       // v4
    val merged = Snapshots.mergeBranch(spark, dir2, "exp",
      keyCols = Seq("id"))
    assert(idsOf(dir2, merged) == Seq(1L, 3L, 4L, 5L))
    val pay2 = Snapshots.read(spark, dir2, merged)
      .select("id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(pay2(5L) == "updated-5")
  }

  test("metadata checkpointing: a 200-version table's pruned read " +
      "opens O(CheckpointEvery) side-files, not O(history)") {
    import spark.implicits._
    val dir = tmpDir("ckpt200")
    (1 to 200).foreach { i =>
      val renames =
        if (i == 100) Map("payload" -> "note") else Map.empty[String, String]
      // from the renaming commit on, writers use the NEW canonical name
      val colName = if (i >= 100) "note" else "payload"
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"row$i")).toDF("id", colName).coalesce(1),
        append = true, renames = renames, statsCols = Seq("id"))
    }
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def P(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    // checkpoints landed at every CheckpointEvery-th version
    val k = Snapshots.CheckpointEvery
    assert(f.exists(P(s"v$k.ckpt")) && f.exists(P("v200.ckpt")))
    // checkpoint-resolved stats match the brute-force side-file union:
    // every one of the 200 files carries exactly its id bounds
    val viaCkpt = Snapshots.statsUpTo(spark, dir,
      Snapshots.state(spark, dir, 200))
    assert(viaCkpt.size == 200, s"stats entries: ${viaCkpt.size}")
    assert(viaCkpt.values.forall(cols =>
      cols.exists { case (c, tn, mn, mx) =>
        c == "id" && tn == "long" && mn == mx }))
    // COLD read cost (fresh-driver simulation): a pruned point read
    // resolves 200 versions of metadata in a bounded number of opens —
    // epoch probe + checkpoint + manifest + a short suffix, NOT 200
    // per-version side-files
    Snapshots.forgetStates(dir)
    val before = Snapshots.sideFileOpens.get()
    val (df, (kept, total)) =
      Snapshots.readPruned(spark, dir, 200, "id", 5L, 5L)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(5L))
    val opens = Snapshots.sideFileOpens.get() - before
    assert(kept == 1 && total == 200, s"pruned $kept/$total")
    assert(opens <= k.toLong,
      s"cold pruned read opened $opens side-files (budget $k)")
    // WARM read: the cached state serves history; only per-read
    // metadata (the manifest and the epoch) is opened
    val before2 = Snapshots.sideFileOpens.get()
    val (_, (kept2, _)) = Snapshots.readPruned(spark, dir, 200, "id", 7L, 7L)
    assert(kept2 == 1)
    val warmOpens = Snapshots.sideFileOpens.get() - before2
    assert(warmOpens <= 2L, s"warm pruned read opened $warmOpens side-files")
    // the rename declared at v100 resolves through the checkpoint after
    // a state wipe: the evolved read exposes `note`, not `payload`
    Snapshots.forgetStates(dir)
    val evolved = Snapshots.read(spark, dir, 200)
    assert(evolved.columns.contains("note") &&
      !evolved.columns.contains("payload"))
    assert(evolved.filter(col("id") === 42L).select("note")
      .head().getString(0) == "row42")
    // time travel BELOW the newest checkpoint stays correct
    Snapshots.forgetStates(dir)
    val (df50, (kept50, total50)) =
      Snapshots.readPruned(spark, dir, 50, "id", 5L, 5L)
    assert(kept50 == 1 && total50 == 50)
    assert(df50.select("id").collect().map(_.getLong(0)).toSeq == Seq(5L))
    // a selective DELETE on the deep table stays metadata-bounded too
    Snapshots.forgetStates(dir)
    val b3 = Snapshots.sideFileOpens.get()
    val (_, n) = Snapshots.deleteWhere(spark, dir, col("id") === 3L)
    assert(n == 1L)
    val dmlOpens = Snapshots.sideFileOpens.get() - b3
    assert(dmlOpens <= 3L * k,
      s"deep-table DELETE opened $dmlOpens side-files (budget ${3 * k})")

    // COMMIT GRAPH through the checkpoint: ancestry-shaped reads on the
    // deep table (time travel, stream restart) fold parents/instants
    // from vN.ckpt M records + a short suffix — O(CheckpointEvery)
    // opens, not one vN.meta per version
    val head = Snapshots.latestVersion(spark, dir) // 201 after the DELETE
    Snapshots.forgetStates(dir)
    val b4 = Snapshots.sideFileOpens.get()
    val vAt = Snapshots.versionAsOf(spark, dir,
      System.currentTimeMillis() + 60000L)
    assert(vAt == head, s"versionAsOf resolved v$vAt")
    val asOfOpens = Snapshots.sideFileOpens.get() - b4
    assert(asOfOpens <= k.toLong + 5,
      s"cold versionAsOf opened $asOfOpens side-files (budget ${k + 5})")
    // stream RESTART: the line-ancestry walk a fresh source pays
    Snapshots.forgetStates(dir)
    val b5 = Snapshots.sideFileOpens.get()
    val anc = new LineAncestry(spark, dir).upTo(f, head)
    assert(anc.size == head && anc.head == 1)
    val lineOpens = Snapshots.sideFileOpens.get() - b5
    assert(lineOpens <= k.toLong + 5,
      s"cold stream-restart ancestry opened $lineOpens side-files " +
        s"(budget ${k + 5})")
  }

  test("an optimize at a checkpoint version records its op in the " +
      "checkpoint") {
    import spark.implicits._
    val dir = tmpDir("opckpt")
    val k = Snapshots.CheckpointEvery
    (1 until k).foreach { i =>
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"r$i")).toDF("id", "payload").coalesce(1),
        append = i > 1)
    }
    // the op precedes the manifest, so the checkpoint written right
    // after the publish (and the state it renders) carries it
    assert(Snapshots.optimize(spark, dir, Seq("id"), numFiles = 1) == k)
    assert(Snapshots.state(spark, dir, k).op(k).map(_._1) ==
      Some("optimize"))
    Snapshots.forgetStates(dir)
    assert(Snapshots.state(spark, dir, k).op(k).map(_._1) ==
      Some("optimize"))
  }

  test("stream catch-up resolves one table state per trigger, not one " +
      "per version") {
    import spark.implicits._
    val dir = tmpDir("catchup")
    val n = 30 // past one checkpoint
    (1 to n).foreach { i =>
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"r$i")).toDF("id", "payload").coalesce(1),
        append = i > 1)
    }
    def catchUp(cold: Boolean): Long = {
      // one file-capped trigger admits all n versions: per version the
      // added-file diff reads its manifest and its parent's
      val src = new SnapshotStreamSource(spark, dir,
        SnapshotSource.schemaAt(spark, dir, n), ignoreChanges = false,
        maxFilesPerTrigger = Some(n))
      if (cold) Snapshots.forgetStates(dir)
      val before = Snapshots.sideFileOpens.get()
      val off = src.getOffset
      val opens = Snapshots.sideFileOpens.get() - before
      assert(off.contains(GraftFileOffset(n, 1)), s"offered $off")
      opens
    }
    // a running driver: the state is warm, and the trigger adds one
    // epoch read to the 2n manifest reads
    val warm = catchUp(cold = false)
    assert(warm <= 2L * n + 3,
      s"warm catch-up of $n versions opened $warm side-files")
    // a fresh driver also folds the checkpoint and its suffix, once
    val cold = catchUp(cold = true)
    assert(cold <= 2L * n + Snapshots.CheckpointEvery,
      s"cold catch-up of $n versions opened $cold side-files")
  }

  test("NOT-comparisons and null-safe equality extract prune bounds") {
    import spark.implicits._
    val dir = tmpDir("notprune")
    (0 until 3).foreach { b =>
      Snapshots.commit(spark, dir,
        (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"r$i"))
          .toDF("id", "payload").coalesce(1),
        append = b > 0, statsCols = Seq("id"))
    }
    // NOT (id < 290) == id >= 290: only the last file admits
    val (_, n) = Snapshots.deleteWhere(spark, dir, !(col("id") < 290L))
    assert(n == 10L, s"deleted $n")
    val (kept, total) = Snapshots.lastDmlPruneCounts
    assert(total == 3 && kept == 1,
      s"NOT-comparison delete scanned $kept/$total (want 1/3)")
    // null-safe equality prunes like plain equality
    val (_, n2) = Snapshots.deleteWhere(spark, dir, col("id") <=> 150L)
    assert(n2 == 1L)
    val (kept2, total2) = Snapshots.lastDmlPruneCounts
    assert(total2 == 3 && kept2 == 1,
      s"null-safe equality scanned $kept2/$total2 (want 1/3)")
  }

  test("OR predicates prune by the union of their disjuncts' bounds; " +
      "an unextractable disjunct disarms the Or, never over-prunes") {
    import spark.implicits._
    val dir = tmpDir("orprune")
    // three value-aligned files: ids 0-99, 100-199, 200-299
    (0 until 3).foreach { b =>
      Snapshots.commit(spark, dir,
        (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"r$i"))
          .toDF("id", "payload").coalesce(1),
        append = b > 0, statsCols = Seq("id"))
    }
    // both disjuncts extract: low OR high skips the middle file
    val (_, n) = Snapshots.deleteWhere(spark, dir,
      col("id") < 10L || col("id") >= 290L)
    assert(n == 20L, s"deleted $n")
    val (kept, total) = Snapshots.lastDmlPruneCounts
    assert(total == 3 && kept == 2,
      s"OR delete scanned $kept/$total (want 2/3)")
    val head = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.read(spark, dir, head).count() == 280L)
    // AND-ed sub-conjuncts inside a disjunct narrow it
    val (_, n2) = Snapshots.deleteWhere(spark, dir,
      (col("id") >= 110L && col("id") < 120L) || col("id") === 250L)
    assert(n2 == 11L, s"deleted $n2")
    val (kept2, total2) = Snapshots.lastDmlPruneCounts
    assert(total2 == 3 && kept2 == 2,
      s"mixed OR delete scanned $kept2/$total2 (want 2/3)")
    // an unextractable disjunct (a function over an unstatted column)
    // admits all rows — the Or must constrain NOTHING, never over-prune
    val (_, n3) = Snapshots.deleteWhere(spark, dir,
      col("id") === 15L || col("payload").contains("r205"))
    assert(n3 == 2L, s"deleted $n3")
    val (kept3, total3) = Snapshots.lastDmlPruneCounts
    assert(kept3 == total3,
      s"unextractable disjunct must disarm the Or ($kept3/$total3)")
  }

  test("IS NULL / IS NOT NULL DML prunes files through footer null " +
      "counts; absent counts stay conservative") {
    import spark.implicits._
    val dir = tmpDir("nullprune")
    // three single-file commits: no-null, mixed, all-null payloads
    Snapshots.commit(spark, dir,
      Seq((1L, Option("a")), (2L, Option("b"))).toDF("id", "payload")
        .coalesce(1),
      append = false, statsCols = Seq("id", "payload"))
    Snapshots.commit(spark, dir,
      Seq((3L, None: Option[String]), (4L, Option("d")))
        .toDF("id", "payload").coalesce(1),
      append = true, statsCols = Seq("id", "payload"))
    Snapshots.commit(spark, dir,
      Seq((5L, None: Option[String]), (6L, None: Option[String]))
        .toDF("id", "payload").coalesce(1),
      append = true, statsCols = Seq("id", "payload"))
    // IS NULL: the no-null file provably holds no match — pruned
    val (_, n) = Snapshots.deleteWhere(spark, dir,
      col("payload").isNull)
    assert(n == 3L, s"deleted $n")
    val (kept, total) = Snapshots.lastDmlPruneCounts
    assert(total == 3 && kept == 2,
      s"IS NULL delete scanned $kept/$total (want 2/3)")
    // IS NOT NULL: the all-null file is pruned
    val (_, n2) = Snapshots.deleteWhere(spark, dir,
      col("payload").isNotNull)
    assert(n2 == 3L, s"deleted $n2")
    val (kept2, total2) = Snapshots.lastDmlPruneCounts
    assert(total2 == 3 && kept2 == 2,
      s"IS NOT NULL delete scanned $kept2/$total2 (want 2/3)")
    val head = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.read(spark, dir, head).count() == 0L)
    // a column WITHOUT recorded stats never prunes (conservative):
    // same shape, but stats only on id
    val dir2 = tmpDir("nullprune2")
    Snapshots.commit(spark, dir2,
      Seq((1L, Option("a"))).toDF("id", "payload").coalesce(1),
      append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir2,
      Seq((2L, None: Option[String])).toDF("id", "payload").coalesce(1),
      append = true, statsCols = Seq("id"))
    val (_, n3) = Snapshots.deleteWhere(spark, dir2,
      col("payload").isNull)
    assert(n3 == 1L)
    val (kept3, total3) = Snapshots.lastDmlPruneCounts
    assert(kept3 == total3, "no stats must mean no pruning")
  }

  test("commit graph vs vacuum: a cold session on a vacuumed table " +
      "still resolves ancestry, instants and time travel") {
    import spark.implicits._
    val dir = tmpDir("graph-vacuum")
    (1 to 30).foreach { i =>
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"row$i")).toDF("id", "payload").coalesce(1),
        append = true, statsCols = Seq("id"))
    }
    Snapshots.vacuum(spark, dir, keep = 5) // drops v1..25's manifests+metas
    Snapshots.forgetStates(dir) // fresh-driver simulation
    // the checkpoint (written at v20, pre-vacuum) plus the live suffix
    // still serve the graph: parents walk, head time travel resolves
    assert(Snapshots.parentsOf(spark, dir, 27) == Seq(26))
    val now = System.currentTimeMillis() + 60000L
    assert(Snapshots.versionAsOf(spark, dir, now) == 30)
    assert(Snapshots.read(spark, dir, 30).count() == 30L,
      "the head still reads every carried-forward row")
    // a timestamp before the table existed resolves to nothing — the
    // vacuumed early versions must not resurrect through the graph
    assert(Snapshots.versionAsOf(spark, dir, 1000L) == 0)
    // merge-commit parent recording survives the graph fold: both
    // parents come back, main-side first
    Snapshots.createRef(spark, dir, "gb")
    Snapshots.upsert(spark, dir, Seq((500L, "b")).toDF("id", "payload"),
      Seq("id"), branch = Some("gb"))                            // v31
    Snapshots.commit(spark, dir,
      Seq((600L, "m")).toDF("id", "payload").coalesce(1),
      append = true)                                             // v32
    val merged = Snapshots.mergeBranch(spark, dir, "gb",
      keyCols = Seq("id"))                                       // v33
    Snapshots.forgetStates(dir)
    assert(Snapshots.parentsOf(spark, dir, merged) == Seq(32, 31),
      s"merge parents: ${Snapshots.parentsOf(spark, dir, merged)}")
  }

  test("checkpointNow force-folds; vacuum GCs dropped-range " +
      "checkpoints keeping the newest (the live suffix's base)") {
    import spark.implicits._
    val dir = tmpDir("ckpt-verb")
    (1 to 45).foreach { i =>
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"row$i")).toDF("id", "payload").coalesce(1),
        append = true, statsCols = Seq("id"))
    }
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def P(n: String) = new org.apache.hadoop.fs.Path(dir, n)
    val k = Snapshots.CheckpointEvery
    assert(f.exists(P(s"v${2 * k}.ckpt")))
    // simulate checkpoint loss (failed best-effort write / legacy
    // import): the verb re-folds at the newest reachable multiple
    f.delete(P(s"v${2 * k}.ckpt"), false)
    Snapshots.forgetStates(dir)
    assert(Snapshots.checkpointNow(spark, dir) == 2 * k)
    assert(f.exists(P(s"v${2 * k}.ckpt")), "checkpointNow must re-fold")
    // …and it actually serves: cold pruned read stays bounded
    Snapshots.forgetStates(dir)
    val before = Snapshots.sideFileOpens.get()
    val (df, (kept, total)) =
      Snapshots.readPruned(spark, dir, 45, "id", 7L, 7L)
    assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(kept == 1 && total == 45)
    assert(Snapshots.sideFileOpens.get() - before <= 2L * k)

    // vacuum GC: cutoff 43 drops v1..42 — of the dropped checkpoints
    // (v20, v40) only the NEWEST stays (reads at v43/44 base on it);
    // the older is dead weight and goes
    Snapshots.vacuum(spark, dir, keep = 3)
    assert(!f.exists(P(s"v$k.ckpt")),
      "vacuum must GC the older dropped-range checkpoint")
    assert(f.exists(P(s"v${2 * k}.ckpt")),
      "the newest dropped-range checkpoint is the live base — keep it")
    Snapshots.forgetStates(dir)
    val head = Snapshots.latestVersion(spark, dir)
    assert(Snapshots.read(spark, dir, head).count() == 45L,
      "vacuum keeps the head's full content")
  }

  test("commit graph through the checkpoint: branch merge on a deep " +
      "table costs O(CheckpointEvery) metadata opens, not O(versions)") {
    import spark.implicits._
    val dir = tmpDir("ckpt-graph-merge")
    (1 to 105).foreach { i =>
      Snapshots.commit(spark, dir,
        Seq((i.toLong, s"row$i")).toDF("id", "payload").coalesce(1),
        append = true, statsCols = Seq("id"))
    }
    Snapshots.createRef(spark, dir, "exp")                  // head v105
    (1 to 3).foreach { j =>
      Snapshots.upsert(spark, dir,
        Seq((2000L + j, s"b$j")).toDF("id", "payload"), Seq("id"),
        branch = Some("exp"))                               // v106-108
    }
    Snapshots.commit(spark, dir,
      Seq((3000L, "m")).toDF("id", "payload").coalesce(1),
      append = true)                                        // v109 (main)
    val k = Snapshots.CheckpointEvery
    Snapshots.forgetStates(dir)
    val before = Snapshots.sideFileOpens.get()
    val merged = Snapshots.mergeBranch(spark, dir, "exp",
      keyCols = Seq("id"))
    val opens = Snapshots.sideFileOpens.get() - before
    // both ancestry walks + rewrite validation ride ONE graph fetch
    // (ckpt at v100 + ≤9 suffix metas); the remaining opens are the
    // merge's own manifests/refs/stats — bounded, never O(105)
    assert(opens <= 3L * k,
      s"deep-table mergeBranch opened $opens side-files (budget ${3 * k})")
    val ids = idsOf(dir, merged)
    assert(ids.contains(3000L) && ids.contains(2001L) &&
      ids.contains(105L), s"merge lost rows")
  }
}
