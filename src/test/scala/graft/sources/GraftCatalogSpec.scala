package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** End-to-end SQL through the `graft` catalog — the front door promised
  * by [[GraftCatalog]]'s scaladoc: CREATE/INSERT/SELECT, VERSION AS OF /
  * TIMESTAMP AS OF time travel, DELETE/UPDATE/MERGE routed onto the
  * snapshot verbs, the refusal paths, and SQL-path ≡ Scala-path
  * equivalence (same version chain, same manifests modulo
  * nondeterministic part-file names, same bytes read back at every
  * version). Runs on the shared suite session, which installs
  * `spark.sql.extensions=graft.GraftExtensions` — i.e. the PRODUCTION
  * injection path, so a missing rule registration fails here.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = tmpDir("graft-warehouse")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  private def sql(q: String) = spark.sql(q)

  private def rows(q: String): Seq[(Long, String)] =
    sql(q).select(col("id"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)

  private def rows3(q: String): Seq[(Long, Long, String)] =
    sql(q).select(col("id"), col("ts"), col("payload")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      .sortBy(t => (t._1, t._2))

  private def dirOf(ns: String, t: String): String =
    new Path(new Path(warehouse, ns), t).toString

  test("CREATE TABLE + INSERT INTO + SELECT round trip, appends append") {
    warehouse
    sql("CREATE TABLE graft.db.t1 (id BIGINT, payload STRING)")
    // a created-but-never-committed table reads as zero rows of the
    // declared schema
    val empty = sql("SELECT * FROM graft.db.t1")
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "payload"))

    sql("INSERT INTO graft.db.t1 VALUES (1, 'a'), (2, 'b')")
    assert(rows("SELECT * FROM graft.db.t1") == Seq((1L, "a"), (2L, "b")))

    // second INSERT appends (does not rewrite)
    sql("INSERT INTO graft.db.t1 VALUES (3, 'c')")
    assert(rows("SELECT * FROM graft.db.t1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "t1")) == 2)

    // column-list INSERTs null-fill and reorder (Spark's by-name
    // resolution feeding the V1 write fallback)
    sql("INSERT INTO graft.db.t1 (id) VALUES (4)")
    sql("INSERT INTO graft.db.t1 (payload, id) VALUES ('e', 5)")
    val byList = sql("SELECT * FROM graft.db.t1 WHERE id >= 4")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSeq.sortBy(_._1)
    assert(byList == Seq((4L, null), (5L, "e")), s"got $byList")

    // INSERT OVERWRITE rewrites, but history stays readable
    sql("INSERT OVERWRITE graft.db.t1 VALUES (9, 'z')")
    assert(rows("SELECT * FROM graft.db.t1") == Seq((9L, "z")))
    assert(rows("SELECT * FROM graft.db.t1 VERSION AS OF 2") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(rows("SELECT * FROM graft.db.t1 VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("TIMESTAMP AS OF resolves along main's ancestry") {
    warehouse
    sql("CREATE TABLE graft.db.tt (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tt VALUES (1, 'a')")
    // any instant at-or-after the last commit resolves to the head
    assert(rows("SELECT * FROM graft.db.tt TIMESTAMP AS OF '2100-01-01'")
      == Seq((1L, "a")))
    // an instant before the first commit has no version
    val e = intercept[Exception] {
      sql("SELECT * FROM graft.db.tt TIMESTAMP AS OF '1999-01-01'")
        .collect()
    }
    assert(e.getMessage.contains("no version"))
  }

  test("DELETE FROM routes to deleteWhere: DV only, no file rewrite") {
    warehouse
    sql("CREATE TABLE graft.db.td (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.td VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = dirOf("db", "td")
    val filesBefore = Snapshots.files(spark, dir, 1)

    sql("DELETE FROM graft.db.td WHERE id >= 2")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.td") == Seq((1L, "a")))
    // merge-on-read: v2 carries v1's file set unchanged, the rows left
    // via the deletion vector
    assert(Snapshots.files(spark, dir, 2) == filesBefore)
    assert(rows("SELECT * FROM graft.db.td VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("DELETE without WHERE and TRUNCATE publish one empty rewrite, " +
      "never a table-sized deletion vector") {
    warehouse
    sql("CREATE TABLE graft.db.tw (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tw VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val dir = dirOf("db", "tw")

    sql("DELETE FROM graft.db.tw")
    assert(GraftSql.lastRowsAffected == 3L)
    assert(sql("SELECT * FROM graft.db.tw").count() == 0)
    assert(sql("SELECT * FROM graft.db.tw").schema.fieldNames.toSeq ==
      Seq("id", "payload"), "the empty rewrite must keep the schema")
    // ONE version, NO deletion vector (the scale guard: a DV would
    // carry a position per row), history intact
    assert(Snapshots.latestVersion(spark, dir) == 2)
    val dv = new Path(dir, "dv")
    val f = dv.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!Snapshots.hasDv(spark, dir, 2) && !f.exists(dv),
      "DELETE-all must not write a deletion vector")
    assert(rows("SELECT * FROM graft.db.tw VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // TRUNCATE TABLE takes the same route
    sql("INSERT INTO graft.db.tw VALUES (9, 'z')")
    sql("TRUNCATE TABLE graft.db.tw")
    assert(sql("SELECT * FROM graft.db.tw").count() == 0)
    assert(Snapshots.latestVersion(spark, dir) == 4)
    assert(rows("SELECT * FROM graft.db.tw VERSION AS OF 3") ==
      Seq((9L, "z")))
    // a constant-true predicate folds to the same path
    sql("INSERT INTO graft.db.tw VALUES (7, 'q')")
    sql("DELETE FROM graft.db.tw WHERE 1 = 1")
    assert(GraftSql.lastRowsAffected == 1L)
    assert(sql("SELECT * FROM graft.db.tw").count() == 0)
    assert(!Snapshots.hasDv(spark, dir, 6) && !f.exists(dv))
  }

  test("UPDATE SET routes to updateWhere; WHERE optional") {
    warehouse
    sql("CREATE TABLE graft.db.tu (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tu VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("UPDATE graft.db.tu SET payload = concat(payload, '!') " +
      "WHERE id <> 2")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tu") ==
      Seq((1L, "a!"), (2L, "b"), (3L, "c!")))
    // no WHERE = all rows; value expressions may reference columns
    sql("UPDATE graft.db.tu SET id = id + 10")
    assert(rows("SELECT * FROM graft.db.tu").map(_._1) ==
      Seq(11L, 12L, 13L))
    // history readable across both updates
    assert(rows("SELECT * FROM graft.db.tu VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("MERGE INTO: update + insert in one published version") {
    warehouse
    sql("CREATE TABLE graft.db.tm (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tm VALUES (1, 'a'), (2, 'b')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tm_src AS " +
      "SELECT * FROM VALUES (2, 'B'), (3, 'C') AS s(id, payload)")
    sql("MERGE INTO graft.db.tm t USING tm_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES (s.id, s.payload)")
    assert(rows("SELECT * FROM graft.db.tm") ==
      Seq((1L, "a"), (2L, "B"), (3L, "C")))
    // exactly ONE version was published for the whole merge
    assert(Snapshots.latestVersion(spark, dirOf("db", "tm")) == 2)
    assert(rows("SELECT * FROM graft.db.tm VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("MERGE INTO: WHEN MATCHED DELETE; UPDATE SET *; INSERT *") {
    warehouse
    sql("CREATE TABLE graft.db.tm2 (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tm2 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tm2_src AS " +
      "SELECT * FROM VALUES (CAST(2 AS BIGINT), 'x') AS s(id, payload)")
    sql("MERGE INTO graft.db.tm2 t USING tm2_src s ON t.id = s.id " +
      "WHEN MATCHED THEN DELETE")
    assert(GraftSql.lastRowsAffected == 1L)
    assert(rows("SELECT * FROM graft.db.tm2") ==
      Seq((1L, "a"), (3L, "c")))

    // star forms expand to full-row assignments
    sql("CREATE OR REPLACE TEMPORARY VIEW tm2_src2 AS " +
      "SELECT * FROM VALUES (CAST(3 AS BIGINT), 'C'), " +
      "(CAST(4 AS BIGINT), 'D') AS s(id, payload)")
    sql("MERGE INTO graft.db.tm2 t USING tm2_src2 s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(rows("SELECT * FROM graft.db.tm2") ==
      Seq((1L, "a"), (3L, "C"), (4L, "D")))
  }

  test("MERGE INTO a freshly created table: inserts become commit 1") {
    warehouse
    sql("CREATE TABLE graft.db.tm3 (id BIGINT, payload STRING)")
    sql("CREATE OR REPLACE TEMPORARY VIEW tm3_src AS " +
      "SELECT * FROM VALUES (CAST(1 AS BIGINT), 'a') AS s(id, payload)")
    sql("MERGE INTO graft.db.tm3 t USING tm3_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES (s.id, s.payload)")
    assert(rows("SELECT * FROM graft.db.tm3") == Seq((1L, "a")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tm3")) == 1)
  }

  test("MERGE INTO: conditional clauses route a CDC batch in one commit") {
    warehouse
    sql("CREATE TABLE graft.db.tmc (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tmc VALUES (1, 'a'), (2, 'b'), (3, 'c'), " +
      "(4, 'd')")
    // the canonical CDC-apply shape: a delete flag picks DELETE for
    // matched rows, UPDATE otherwise; deletes of absent keys drop, the
    // rest insert — one MERGE, one published version
    sql("CREATE OR REPLACE TEMPORARY VIEW tmc_src AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), 'A', 'U'), " +
      "(CAST(2 AS BIGINT), 'x', 'D'), (CAST(5 AS BIGINT), 'E', 'U'), " +
      "(CAST(6 AS BIGINT), 'y', 'D') AS s(id, payload, op)")
    sql("MERGE INTO graft.db.tmc t USING tmc_src s ON t.id = s.id " +
      "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED AND s.op <> 'D' THEN " +
      "INSERT (id, payload) VALUES (s.id, s.payload)")
    assert(rows("SELECT * FROM graft.db.tmc") ==
      Seq((1L, "A"), (3L, "c"), (4L, "d"), (5L, "E")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tmc")) == 2,
      "the whole conditional MERGE must publish exactly one version")
    assert(rows("SELECT * FROM graft.db.tmc VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // clause ORDER: first match wins — a catch-all first clause makes
    // later clauses unreachable for rows it accepts
    sql("CREATE OR REPLACE TEMPORARY VIEW tmc_src2 AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), 'AA'), (CAST(3 AS BIGINT), 'CC') " +
      "AS s(id, payload)")
    sql("MERGE INTO graft.db.tmc t USING tmc_src2 s ON t.id = s.id " +
      "WHEN MATCHED AND t.id < 10 THEN UPDATE SET payload = s.payload " +
      "WHEN MATCHED THEN DELETE")
    assert(rows("SELECT * FROM graft.db.tmc") ==
      Seq((1L, "AA"), (3L, "CC"), (4L, "d"), (5L, "E")),
      "the first matching clause must win; nothing may reach the DELETE")
  }

  test("MERGE cardinality: multiple source matches fail with the " +
      "offending key; a clean MERGE stays in its job budget") {
    warehouse
    sql("CREATE TABLE graft.db.tmx (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tmx VALUES (1, 'a'), (2, 'b')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tmx_dup AS SELECT * FROM " +
      "VALUES (CAST(2 AS BIGINT), 'X'), (CAST(2 AS BIGINT), 'Y') " +
      "AS s(id, payload)")
    val e = intercept[Exception] {
      sql("MERGE INTO graft.db.tmx t USING tmx_dup s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload")
    }
    assert(e.getMessage.contains("MERGE") &&
      e.getMessage.contains("matched") && e.getMessage.contains("id=2"),
      s"expected a MERGE-level cardinality error naming the key, got: " +
        s"${e.getMessage}")
    assert(!e.getMessage.contains("applyCdc"),
      "the applyCdc invariant must not leak as the user-facing message")
    // the failed MERGE published nothing
    assert(rows("SELECT * FROM graft.db.tmx") == Seq((1L, "a"), (2L, "b")))

    // job budget: the uniqueness pre-checks fold into the key-bounds
    // aggregation, keeping a single-clause MERGE at a handful of jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sql("CREATE OR REPLACE TEMPORARY VIEW tmx_src AS SELECT * FROM " +
      "VALUES (CAST(2 AS BIGINT), 'B') AS s(id, payload)")
    spark.sparkContext.addSparkListener(l)
    try {
      sql("MERGE INTO graft.db.tmx t USING tmx_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload")
      Thread.sleep(400) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(l)
    assert(rows("SELECT * FROM graft.db.tmx") == Seq((1L, "a"), (2L, "B")))
    // measured 17 with the folded checks (AQE stage materialization
    // spawns several jobs per action); the unfolded pre-checks cost two
    // more ACTIONS (~5 more jobs), so 20 catches a regression
    assert(jobs.get() <= 20, s"single-clause MERGE ran ${jobs.get()} jobs")
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE updates and deletes " +
      "unreferenced target rows") {
    warehouse
    sql("CREATE TABLE graft.db.tms (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tms VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tms_src AS " +
      "SELECT * FROM VALUES (CAST(1 AS BIGINT), 'A') AS s(id, payload)")
    sql("MERGE INTO graft.db.tms t USING tms_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN " +
      "UPDATE SET payload = concat(t.payload, '?')")
    assert(rows("SELECT * FROM graft.db.tms") ==
      Seq((1L, "A"), (3L, "c?")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tms")) == 2,
      "matched + by-source actions must land in ONE version")
    // a source-less full sweep: every row is NOT MATCHED BY SOURCE
    sql("CREATE OR REPLACE TEMPORARY VIEW tms_none AS " +
      "SELECT * FROM VALUES (CAST(99 AS BIGINT), 'zz') AS s(id, payload) " +
      "WHERE 1 = 0")
    sql("MERGE INTO graft.db.tms t USING tms_none s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(rows("SELECT * FROM graft.db.tms").isEmpty)
  }

  test("fresh-table MERGE publishes and counts in one pass over the " +
      "source (job pin)") {
    warehouse
    sql("CREATE TABLE graft.db.tmj (id BIGINT, payload STRING)")
    sql("CREATE OR REPLACE TEMPORARY VIEW tmj_src AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), 'a'), (CAST(2 AS BIGINT), 'b') " +
      "AS s(id, payload)")
    spark.sparkContext.setJobGroup("pin-merge-fresh", "pin-merge-fresh",
      false)
    try sql("MERGE INTO graft.db.tmj t USING tmj_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES " +
      "(s.id, s.payload)")
    finally spark.sparkContext.clearJobGroup()
    val jobs = spark.sparkContext.statusTracker
      .getJobIdsForGroup("pin-merge-fresh").length
    // pinned composition: AQE's broadcast-stage materialization for the
    // anti-join, the staging write (the ONE pass over the source, which
    // also materializes the persisted plan), and the metric count served
    // from that cache — a regression that recomputes the anti-join for
    // the count shows up as extra jobs here. The default stats catalog
    // writes record since round 17 are footer-read on the driver, so
    // they must NOT move this pin.
    assert(jobs == 3, s"fresh-table MERGE ran $jobs jobs, pinned 3")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tmj") == Seq((1L, "a"), (2L, "b")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tmj")) == 1)
  }

  test("DML subquery conditions: DELETE/UPDATE WHERE ... IN (SELECT ...)") {
    warehouse
    sql("CREATE TABLE graft.db.tsq (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tsq VALUES (1, 'a'), (2, 'b'), (3, 'c'), " +
      "(4, 'd'), (5, 'e'), (6, 'f')")
    // the subquery source is ITSELF a snapshot table — its scan inside
    // the condition must lower through the same rule set
    sql("CREATE TABLE graft.db.tsq_keys (id BIGINT)")
    sql("INSERT INTO graft.db.tsq_keys VALUES (2), (3), (99)")

    sql("DELETE FROM graft.db.tsq WHERE id IN " +
      "(SELECT id FROM graft.db.tsq_keys)")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tsq") ==
      Seq((1L, "a"), (4L, "d"), (5L, "e"), (6L, "f")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tsq")) == 2,
      "the subquery DELETE must publish exactly one version")

    // UPDATE with an IN-subquery over a temp view, and a scalar compare
    sql("CREATE OR REPLACE TEMPORARY VIEW tsq_pick AS " +
      "SELECT * FROM VALUES (CAST(4 AS BIGINT)), (CAST(5 AS BIGINT)) " +
      "AS v(id)")
    sql("UPDATE graft.db.tsq SET payload = upper(payload) " +
      "WHERE id IN (SELECT id FROM tsq_pick)")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tsq") ==
      Seq((1L, "a"), (4L, "D"), (5L, "E"), (6L, "f")))

    // NOT IN and a scalar subquery compose the same way
    sql("DELETE FROM graft.db.tsq WHERE id NOT IN " +
      "(SELECT id FROM tsq_pick) " +
      "AND id > (SELECT min(id) FROM graft.db.tsq_keys)")
    assert(GraftSql.lastRowsAffected == 1L) // id 6 (1 < min=2 stays)
    assert(rows("SELECT * FROM graft.db.tsq") ==
      Seq((1L, "a"), (4L, "D"), (5L, "E")))

    // history stayed exact through all three subquery mutations
    assert(rows("SELECT * FROM graft.db.tsq VERSION AS OF 1").map(_._1) ==
      (1L to 6L))

    // CORRELATED subqueries decorrelate against the claim-time scan —
    // the CDC-cleanup shape. The inner column shares the target's NAME
    // (k.id vs t.id): a by-name re-binding would collapse the predicate
    // into the tautology k.id = k.id and delete everything; the
    // resolved rebind keeps t.id on the target
    sql("INSERT INTO graft.db.tsq_keys VALUES (4)")
    sql("DELETE FROM graft.db.tsq t WHERE EXISTS " +
      "(SELECT 1 FROM graft.db.tsq_keys k WHERE k.id = t.id)")
    assert(GraftSql.lastRowsAffected == 1L) // only id 4 is a key
    assert(rows("SELECT * FROM graft.db.tsq") ==
      Seq((1L, "a"), (5L, "E")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tsq")) == 5,
      "the correlated DELETE must publish exactly one version")

    // correlated NOT EXISTS on UPDATE
    sql("UPDATE graft.db.tsq t SET payload = concat(payload, '?') " +
      "WHERE NOT EXISTS " +
      "(SELECT 1 FROM graft.db.tsq_keys k WHERE k.id = t.id)")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tsq") ==
      Seq((1L, "a?"), (5L, "E?")))

    // correlation through a non-key inner column
    sql("CREATE TABLE graft.db.tsq_refs (id BIGINT, ref BIGINT)")
    sql("INSERT INTO graft.db.tsq_refs VALUES (100, 5)")
    sql("DELETE FROM graft.db.tsq t WHERE EXISTS " +
      "(SELECT 1 FROM graft.db.tsq_refs r WHERE r.ref = t.id)")
    assert(GraftSql.lastRowsAffected == 1L)
    assert(rows("SELECT * FROM graft.db.tsq") == Seq((1L, "a?")))
  }

  test("UPDATE SET with scalar subqueries: uncorrelated and correlated " +
      "assignment values") {
    warehouse
    sql("CREATE TABLE graft.db.tsv (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tsv VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CREATE TABLE graft.db.tsv_map (id BIGINT, name STRING)")
    sql("INSERT INTO graft.db.tsv_map VALUES (1, 'one'), (2, 'two')")

    // uncorrelated scalar subquery as the assigned value
    sql("UPDATE graft.db.tsv SET payload = " +
      "(SELECT max(name) FROM graft.db.tsv_map) WHERE id = 3")
    assert(GraftSql.lastRowsAffected == 1L)
    assert(rows("SELECT * FROM graft.db.tsv") ==
      Seq((1L, "a"), (2L, "b"), (3L, "two")))

    // CORRELATED scalar subquery: a per-row lookup. The inner column
    // shares the target's NAME (m.id vs t.id) — a by-name re-binding
    // would collapse the correlation; the resolved rebind keeps t.id
    // on the target scan
    sql("UPDATE graft.db.tsv t SET payload = " +
      "(SELECT m.name FROM graft.db.tsv_map m WHERE m.id = t.id) " +
      "WHERE id <= 2")
    assert(GraftSql.lastRowsAffected == 2L)
    assert(rows("SELECT * FROM graft.db.tsv") ==
      Seq((1L, "one"), (2L, "two"), (3L, "two")))

    // one published version per statement; history stays exact
    assert(Snapshots.latestVersion(spark, dirOf("db", "tsv")) == 3)
    assert(rows("SELECT * FROM graft.db.tsv VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // a subquery value composes with a correlated EXISTS condition in
    // the same statement
    sql("UPDATE graft.db.tsv t SET payload = concat(" +
      "(SELECT m.name FROM graft.db.tsv_map m WHERE m.id = t.id), '!') " +
      "WHERE EXISTS (SELECT 1 FROM graft.db.tsv_map m " +
      "WHERE m.id = t.id AND m.name = 'one')")
    assert(GraftSql.lastRowsAffected == 1L)
    assert(rows("SELECT * FROM graft.db.tsv") ==
      Seq((1L, "one!"), (2L, "two"), (3L, "two")))
  }

  test("MERGE INTO: non-equality ON conjuncts are residual predicates; " +
      "the removal audit refuses by-key overreach") {
    warehouse
    sql("CREATE TABLE graft.db.tnr (id BIGINT, ts BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tnr VALUES (1, 10, 'a'), (2, 20, 'b'), " +
      "(3, 30, 'c')")
    // only-if-newer upsert: s.ts > t.ts is a residual — source row 1 is
    // newer (updates), source row 2 is older (NOT matched, and the
    // clause condition keeps it out of INSERT), source row 4 is new
    sql("CREATE OR REPLACE TEMPORARY VIEW tnr_src AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), CAST(15 AS BIGINT), 'A'), " +
      "(CAST(2 AS BIGINT), CAST(5 AS BIGINT), 'X'), " +
      "(CAST(4 AS BIGINT), CAST(40 AS BIGINT), 'D') AS s(id, ts, payload)")
    sql("MERGE INTO graft.db.tnr t USING tnr_src s " +
      "ON t.id = s.id AND s.ts > t.ts " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload, ts = s.ts " +
      "WHEN NOT MATCHED AND s.id > 3 THEN " +
      "INSERT (id, ts, payload) VALUES (s.id, s.ts, s.payload)")
    assert(rows3("SELECT * FROM graft.db.tnr") ==
      Seq((1L, 15L, "A"), (2L, 20L, "b"), (3L, 30L, "c"),
        (4L, 40L, "D")),
      "newer source row updates; older stays untouched; new row inserts")
    assert(Snapshots.latestVersion(spark, dirOf("db", "tnr")) == 2,
      "the residual MERGE must publish exactly one version")

    // an UNCONDITIONAL insert would route the residual-failed source
    // row 2 — its key already lives in the target, so the by-key
    // commit would silently replace the live row: audit refusal
    val ins = intercept[Exception] {
      sql("MERGE INTO graft.db.tnr t USING tnr_src s " +
        "ON t.id = s.id AND s.ts > t.ts " +
        "WHEN NOT MATCHED THEN " +
        "INSERT (id, ts, payload) VALUES (s.id, s.ts, s.payload)")
    }
    assert(ins.getMessage.contains("MERGE") &&
      ins.getMessage.contains("never accepted"), ins.getMessage)
    assert(Snapshots.latestVersion(spark, dirOf("db", "tnr")) == 2,
      "the refused MERGE must publish nothing")

    // two live rows share the ON key and the residual matches only one:
    // updating it by key would destroy the other — audit refusal
    sql("CREATE TABLE graft.db.tnr2 (id BIGINT, ts BIGINT, " +
      "payload STRING)")
    sql("INSERT INTO graft.db.tnr2 VALUES (5, 10, 'p'), (5, 99, 'q')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tnr2_src AS SELECT * FROM " +
      "VALUES (CAST(5 AS BIGINT), CAST(50 AS BIGINT), 'z') " +
      "AS s(id, ts, payload)")
    val dup = intercept[Exception] {
      sql("MERGE INTO graft.db.tnr2 t USING tnr2_src s " +
        "ON t.id = s.id AND s.ts > t.ts " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload")
    }
    assert(dup.getMessage.contains("never accepted"), dup.getMessage)
    assert(rows3("SELECT * FROM graft.db.tnr2") ==
      Seq((5L, 10L, "p"), (5L, 99L, "q")), "nothing may change")

    // both same-key rows routed (one by residual-matched UPDATE…DELETE
    // is impossible here, so route both to DELETE via a catch-all
    // residual): when every live row a staged key touches IS routed,
    // the audit passes
    sql("CREATE OR REPLACE TEMPORARY VIEW tnr2_src2 AS SELECT * FROM " +
      "VALUES (CAST(5 AS BIGINT), CAST(500 AS BIGINT), 'z') " +
      "AS s(id, ts, payload)")
    sql("MERGE INTO graft.db.tnr2 t USING tnr2_src2 s " +
      "ON t.id = s.id AND s.ts > t.ts " +
      "WHEN MATCHED THEN DELETE")
    assert(rows3("SELECT * FROM graft.db.tnr2") == Seq.empty,
      "both matched rows routed to DELETE must go")
  }

  test("MERGE removal audit: a key-REMAPPING insert that collides with " +
      "a live row refuses; a non-colliding remap and null-keyed " +
      "by-source under-deletes are likewise guarded") {
    warehouse
    sql("CREATE TABLE graft.db.trm (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.trm VALUES (1, 'a'), (2, 'b')")
    // source key 1 is NOT matched only after remapping… no: key 3 is
    // unmatched; INSERT VALUES (s.id - 1, …) stages key 2, which
    // COLLIDES with the live row 2 — SQL semantics would add a row,
    // the by-key commit would silently replace: audit refusal
    sql("CREATE OR REPLACE TEMPORARY VIEW trm_src AS SELECT * FROM " +
      "VALUES (CAST(3 AS BIGINT), 'c') AS s(id, payload)")
    val clash = intercept[Exception] {
      sql("MERGE INTO graft.db.trm t USING trm_src s ON t.id = s.id " +
        "WHEN NOT MATCHED THEN INSERT (id, payload) " +
        "VALUES (s.id - 1, s.payload)")
    }
    assert(clash.getMessage.contains("never accepted"), clash.getMessage)
    assert(rows("SELECT * FROM graft.db.trm") ==
      Seq((1L, "a"), (2L, "b")), "refused MERGE must change nothing")
    // a remap whose staged key does NOT collide passes the audit
    sql("MERGE INTO graft.db.trm t USING trm_src s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) " +
      "VALUES (s.id + 100, s.payload)")
    assert(rows("SELECT * FROM graft.db.trm") ==
      Seq((1L, "a"), (2L, "b"), (103L, "c")))
    // the identity insert (VALUES (s.id, …)) stays un-audited and works
    sql("CREATE OR REPLACE TEMPORARY VIEW trm_src2 AS SELECT * FROM " +
      "VALUES (CAST(4 AS BIGINT), 'd') AS s(id, payload)")
    sql("MERGE INTO graft.db.trm t USING trm_src2 s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) " +
      "VALUES (s.id, s.payload)")
    assert(rows("SELECT * FROM graft.db.trm").map(_._1) ==
      Seq(1L, 2L, 4L, 103L))

    // an unconditional BY SOURCE DELETE routes the NULL-keyed target
    // row, which the by-key equi-join can never remove — it would
    // silently survive where SQL deletes it: audit refusal
    sql("CREATE TABLE graft.db.tnk (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tnk VALUES (1, 'a'), (NULL, 'ghost')")
    val nullDel = intercept[Exception] {
      sql("MERGE INTO graft.db.tnk t USING trm_src2 s ON t.id = s.id " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    }
    assert(nullDel.getMessage.contains("never accepted"),
      nullDel.getMessage)
    // with no null-keyed rows routed, the audited by-source DELETE works
    sql("DELETE FROM graft.db.tnk WHERE id IS NULL")
    sql("MERGE INTO graft.db.tnk t USING trm_src2 s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN DELETE")
    assert(rows("SELECT * FROM graft.db.tnk") == Seq.empty,
      "row 1 has no source match and must delete")
  }

  test("malformed '@' table names: existence probes answer false " +
      "instead of crashing; loadTable keeps the actionable error") {
    warehouse
    // DROP TABLE IF EXISTS resolves via tableExists — must be a no-op
    sql("DROP TABLE IF EXISTS graft.db.`t@`")
    sql("DROP TABLE IF EXISTS graft.db.`@t`")
    // a read of the malformed name still fails with a real story
    val e = intercept[Exception] {
      sql("SELECT * FROM graft.db.`t@`").collect()
    }
    assert(e.getMessage.contains("malformed branch address") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("t@branch addressing: SQL reads, INSERT, DELETE/UPDATE/MERGE, " +
      "TRUNCATE and streaming reads all target the named branch") {
    warehouse
    sql("CREATE TABLE graft.db.tba (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tba VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CALL graft.system.create_ref(table => 'db.tba', " +
      "name => 'stage')")

    sql("INSERT INTO graft.db.`tba@stage` VALUES (4, 'd')")
    assert(rows("SELECT * FROM graft.db.tba") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "the branch INSERT must not land on main")
    assert(rows("SELECT * FROM graft.db.`tba@stage`") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    sql("UPDATE graft.db.`tba@stage` SET payload = 'B' WHERE id = 2")
    sql("DELETE FROM graft.db.`tba@stage` WHERE id = 3")
    sql("CREATE OR REPLACE TEMPORARY VIEW tba_src AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), 'A1'), (CAST(5 AS BIGINT), 'e') " +
      "AS s(id, payload)")
    sql("MERGE INTO graft.db.`tba@stage` t USING tba_src s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES " +
      "(s.id, s.payload)")
    assert(rows("SELECT * FROM graft.db.`tba@stage`") ==
      Seq((1L, "A1"), (2L, "B"), (4L, "d"), (5L, "e")))
    assert(rows("SELECT * FROM graft.db.tba") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")),
      "four branch mutations must leave main untouched")
    // the metadata COUNT fold resolves the branch head
    assert(sql("SELECT count(*) FROM graft.db.`tba@stage`")
      .collect().head.getLong(0) == 4L)
    assert(sql("SELECT count(*) FROM graft.db.tba")
      .collect().head.getLong(0) == 3L)

    // streaming read by branch handle follows the branch's line (it
    // carries UPDATE/DELETE commits, so the append stream opts into
    // ignoreChanges like any mutated table)
    val q = spark.readStream.option("ignoreChanges", "true")
      .table("graft.db.`tba@stage`")
      .writeStream.format("memory").queryName("tba_stream")
      .option("checkpointLocation", tmpDir("tba-cp")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tba_stream").count() >= 4)
    } finally q.stop()

    // publish: fast-forward main onto the validated branch
    Snapshots.fastForward(spark, dirOf("db", "tba"), "main",
      Snapshots.refVersion(spark, dirOf("db", "tba"), "stage"))
    assert(rows("SELECT * FROM graft.db.tba") ==
      Seq((1L, "A1"), (2L, "B"), (4L, "d"), (5L, "e")))

    // TRUNCATE on a separate branch wipes only that branch
    sql("CALL graft.system.create_ref(table => 'db.tba', " +
      "name => 'wipe')")
    sql("TRUNCATE TABLE graft.db.`tba@wipe`")
    assert(rows("SELECT * FROM graft.db.`tba@wipe`") == Seq.empty)
    assert(rows("SELECT * FROM graft.db.tba").nonEmpty)

    // refusals: unknown branch, pin + branch, DDL on a branch address
    val none = intercept[Exception] {
      sql("SELECT * FROM graft.db.`tba@nope`")
    }
    assert(none.getMessage.contains("no branch"), none.getMessage)
    // VERSION AS OF on a branch handle resolves along the branch's
    // ancestry (v1 predates the fork, so it is on stage's line) — see
    // the dedicated branch-time-travel spec for the off-line refusal
    assert(rows("SELECT * FROM graft.db.`tba@stage` VERSION AS OF 1")
      .nonEmpty)
    val ddl = intercept[Exception] {
      sql("ALTER TABLE graft.db.`tba@stage` ADD COLUMNS (x BIGINT)")
    }
    assert(ddl.getMessage.contains("branch"), ddl.getMessage)
    val create = intercept[Exception] {
      sql("CREATE TABLE graft.db.`nope@x` (id BIGINT)")
    }
    assert(create.getMessage.contains("reserved"), create.getMessage)
  }

  test("MERGE join scans open only stat-overlapping target files") {
    warehouse
    sql("CREATE TABLE graft.db.tjp (id BIGINT, payload STRING)")
    // 12 range-clustered files whose id stats the INSERT records from
    // the parquet footers
    sql("INSERT INTO graft.db.tjp SELECT " +
      "/*+ REPARTITION_BY_RANGE(12, id) */ id, " +
      "concat('p', id) AS payload FROM range(0, 1200)")
    sql("CREATE OR REPLACE TEMPORARY VIEW tjp_src AS SELECT * FROM " +
      "VALUES (CAST(7 AS BIGINT), 'X'), (CAST(11 AS BIGINT), 'Y') " +
      "AS s(id, payload)")
    sql("MERGE INTO graft.db.tjp t USING tjp_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES " +
      "(s.id, s.payload)")
    val (kept, total) = Snapshots.lastMergeJoinPruneCounts
    assert(total >= Snapshots.mergeJoinPruneMinFiles,
      s"fixture too small to engage pruning: $total files")
    assert(kept <= 2, s"join scan opened $kept of $total files")
    assert(rows("SELECT * FROM graft.db.tjp WHERE id IN (7, 11)") ==
      Seq((7L, "X"), (11L, "Y")))
    assert(sql("SELECT count(*) FROM graft.db.tjp")
      .collect().head.getLong(0) == 1200L,
      "the pruned joins must not lose or duplicate rows")
  }

  test("MERGE INTO: scalar subqueries in clause conditions and " +
      "assignments") {
    warehouse
    sql("CREATE TABLE graft.db.tms2 (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tms2 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("CREATE TABLE graft.db.tms2_map (id BIGINT, name STRING)")
    sql("INSERT INTO graft.db.tms2_map VALUES (1, 'one'), (2, 'two')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tms2_src AS SELECT * FROM " +
      "VALUES (CAST(1 AS BIGINT), 'A'), (CAST(2 AS BIGINT), 'B'), " +
      "(CAST(3 AS BIGINT), 'C') AS s(id, payload)")
    // a subquery in a MATCHED clause condition routes rows; a subquery
    // in the assignment computes the new value per matched row
    sql("MERGE INTO graft.db.tms2 t USING tms2_src s ON t.id = s.id " +
      "WHEN MATCHED AND t.id IN (SELECT id FROM graft.db.tms2_map) " +
      "THEN UPDATE SET payload = " +
      "(SELECT m.name FROM graft.db.tms2_map m WHERE m.id = t.id) " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload")
    assert(rows("SELECT * FROM graft.db.tms2") ==
      Seq((1L, "one"), (2L, "two"), (3L, "C")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "tms2")) == 2)
  }

  test("refusals: subqueries in MERGE ON, key updates, non-equality ON") {
    warehouse
    sql("CREATE TABLE graft.db.tr (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.tr VALUES (1, 'a')")
    sql("CREATE OR REPLACE TEMPORARY VIEW tr_src AS " +
      "SELECT * FROM VALUES (CAST(1 AS BIGINT), 'x') AS s(id, payload)")

    val keyUpd = intercept[Exception] {
      sql("MERGE INTO graft.db.tr t USING tr_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET id = s.id + 100")
    }
    assert(keyUpd.getMessage.contains("merge-key"))

    // the key-immutability refusal applies inside CONDITIONAL clauses too
    val keyUpd2 = intercept[Exception] {
      sql("MERGE INTO graft.db.tr t USING tr_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.payload = 'x' THEN UPDATE SET id = 100 " +
        "WHEN MATCHED THEN UPDATE SET payload = s.payload")
    }
    assert(keyUpd2.getMessage.contains("merge-key"))

    // a non-equality-only ON is NOT a refusal since the positional
    // fallback (ThetaMergeSpec): `t.id < s.id` matches nothing here
    // (1 < 1 is false), so the theta MERGE publishes a no-op... which
    // also publishes nothing (upserts and deletes both absent)
    sql("MERGE INTO graft.db.tr t USING tr_src s ON t.id < s.id " +
      "WHEN MATCHED THEN DELETE")

    // nothing above published a version
    assert(Snapshots.latestVersion(spark, dirOf("db", "tr")) == 1)
  }

  test("SQL path and Scala path publish equivalent version chains") {
    warehouse
    // SQL-built table
    sql("CREATE TABLE graft.db.eq_sql (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.eq_sql SELECT id, payload FROM VALUES " +
      "(CAST(1 AS BIGINT),'a'),(CAST(2 AS BIGINT),'b')," +
      "(CAST(3 AS BIGINT),'c') AS v(id, payload)")
    sql("UPDATE graft.db.eq_sql SET payload = upper(payload) WHERE id = 1")
    sql("DELETE FROM graft.db.eq_sql WHERE id = 3")
    sql("CREATE OR REPLACE TEMPORARY VIEW eq_src AS SELECT * FROM VALUES " +
      "(CAST(2 AS BIGINT),'BB'),(CAST(4 AS BIGINT),'DD') AS s(id, payload)")
    sql("MERGE INTO graft.db.eq_sql t USING eq_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload " +
      "WHEN NOT MATCHED THEN INSERT (id, payload) VALUES (s.id, s.payload)")

    // the same history through the Scala verbs
    import spark.implicits._
    val scalaDir = tmpDir("eq-scala")
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload")
    Snapshots.commit(spark, scalaDir, base, append = false)
    Snapshots.updateWhere(spark, scalaDir, col("id") === 1,
      Seq("payload" -> upper(col("payload"))))
    Snapshots.deleteWhere(spark, scalaDir, col("id") === 3)
    val cdc = Seq((2L, "BB"), (4L, "DD")).toDF("id", "payload")
    Snapshots.applyCdc(spark, scalaDir, cdc,
      cdc.select("id").limit(0), Seq("id"))

    val sqlDir = dirOf("db", "eq_sql")
    val vMax = Snapshots.latestVersion(spark, sqlDir)
    assert(vMax == 4 && Snapshots.latestVersion(spark, scalaDir) == 4)

    // identical content at EVERY version…
    (1 to vMax).foreach { v =>
      val a = Snapshots.read(spark, sqlDir, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val b = Snapshots.read(spark, scalaDir, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(a == b, s"version $v diverged: SQL=$a Scala=$b")
    }
    // …and identical manifest PROVENANCE: which commits' files each
    // version still carries (part names and counts are nondeterministic
    // — task uuids and the mutation frame's partitioning — but the
    // carry-forward structure of the chain must match exactly)
    def origins(dir: String, v: Int): Seq[String] =
      Snapshots.files(spark, dir, v)
        .map(_.replaceAll("""(v\d+)-.*$""", "$1")).distinct.sorted
    (1 to vMax).foreach { v =>
      assert(origins(sqlDir, v) == origins(scalaDir, v),
        s"manifest $v diverged")
    }
  }

  test("catalog surface: list/exists/drop/rename + namespaces") {
    warehouse
    sql("CREATE NAMESPACE IF NOT EXISTS graft.meta")
    sql("CREATE TABLE graft.meta.a (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.meta.a VALUES (1, 'a')")
    val listed = sql("SHOW TABLES IN graft.meta").collect()
      .map(_.getString(1)).toSeq
    assert(listed.contains("a"))

    sql("ALTER TABLE graft.meta.a RENAME TO meta.b")
    assert(rows("SELECT * FROM graft.meta.b") == Seq((1L, "a")))
    sql("DROP TABLE graft.meta.b")
    assert(sql("SHOW TABLES IN graft.meta").collect().isEmpty)
  }

  test("reader options on .table(): versionAsOf/timestampAsOf/branch " +
      "pin the scan; readChangeFeed refused") {
    warehouse
    sql("CREATE TABLE graft.db.ro (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.ro VALUES (1, 'a'), (2, 'b')")
    Thread.sleep(1100)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100)
    sql("INSERT INTO graft.db.ro VALUES (3, 'c')")
    val dir = dirOf("db", "ro")
    Snapshots.createRef(spark, dir, "exp")
    Snapshots.commitOnBranch(spark, dir, "exp",
      { import spark.implicits._; Seq((9L, "x")).toDF("id", "payload") },
      append = true)

    def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).toSeq.sorted
    // versionAsOf/timestampAsOf resolve through Spark's native
    // time-travel option handling (the catalog's loadTable overloads)
    assert(idsOf(spark.read.option("versionAsOf", "1")
      .table("graft.db.ro")) == Seq(1L, 2L))
    // Spark's timestampAsOf option takes a timestamp literal
    val tsLit = new java.sql.Timestamp(afterV1).toString
    assert(idsOf(spark.read.option("timestampAsOf", tsLit)
      .table("graft.db.ro")) == Seq(1L, 2L))
    // the regression shape: `branch` (not a Spark concept) was silently
    // DROPPED by the scan rewrite, reading main's head instead
    assert(idsOf(spark.read.option("branch", "exp")
      .table("graft.db.ro")) == Seq(1L, 2L, 3L, 9L))
    assert(idsOf(spark.read.table("graft.db.ro")) == Seq(1L, 2L, 3L),
      "the default read follows main, never the branch")

    intercept[Exception] {
      spark.read.option("versionAsOf", "1").option("branch", "exp")
        .table("graft.db.ro").collect()
    }
    intercept[Exception] {
      spark.read.option("versionAsOf", "9").table("graft.db.ro")
        .collect()
    }
    val cdf = intercept[Exception] {
      spark.read.option("readChangeFeed", "true").table("graft.db.ro")
        .collect()
    }
    assert(cdf.getMessage.contains("change_view"), cdf.getMessage)
  }

  test("listTables batches table resolution into two parent globs") {
    warehouse
    import spark.implicits._
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lt")
    // a committed table, a created-but-never-committed one (_SCHEMA
    // only), and a Scala-made table (manifests, no _SCHEMA)
    sql("CREATE TABLE graft.lt.committed (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.lt.committed VALUES (1, 'a')")
    sql("CREATE TABLE graft.lt.declared_only (id BIGINT)")
    Snapshots.commit(spark, dirOf("lt", "scala_made"),
      Seq((1L, "x")).toDF("id", "payload"), append = false)
    // a sub-namespace directory must NOT list as a table
    sql("CREATE NAMESPACE IF NOT EXISTS graft.lt.subns")

    GraftCatalog.lastListTablesRpcs = -1
    val listed = sql("SHOW TABLES IN graft.lt").collect()
      .map(_.getString(1)).toSeq.sorted
    assert(listed == Seq("committed", "declared_only", "scala_made"),
      s"listed: $listed")
    // the resolution cost is TWO parent-level globs, independent of how
    // many children the namespace holds — never a listing per child
    assert(GraftCatalog.lastListTablesRpcs == 2,
      s"rpcs: ${GraftCatalog.lastListTablesRpcs}")
  }

  test("CTAS publishes version 1 with the query's rows") {
    warehouse
    sql("CREATE TABLE graft.db.ctas AS SELECT id, payload FROM VALUES " +
      "(CAST(7 AS BIGINT), 'x') AS v(id, payload)")
    assert(rows("SELECT * FROM graft.db.ctas") == Seq((7L, "x")))
    assert(Snapshots.latestVersion(spark, dirOf("db", "ctas")) == 1)
  }

  test("CALL graft.system.*: maintenance procedures from SQL") {
    warehouse
    sql("CREATE TABLE graft.db.proc (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.proc VALUES (3, 'c'), (1, 'a')")
    sql("INSERT INTO graft.db.proc VALUES (2, 'b'), (4, 'd')")
    val dir = dirOf("db", "proc")

    // optimize: z-order rewrite publishes a new version with stats
    val opt = sql("CALL graft.system.optimize(table => 'db.proc', " +
      "zorder_cols => 'id')").collect()
    assert(opt.map(_.getInt(0)).toSeq == Seq(3))
    assert(rows("SELECT * FROM graft.db.proc") ==
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    // branch lifecycle end-to-end through CALL
    sql("CALL graft.system.create_ref(table => 'db.proc', name => 'exp')")
    Snapshots.commitOnBranch(spark, dir, "exp",
      { import spark.implicits._
        Seq((10L, "x")).toDF("id", "payload") }, append = true)
    sql("INSERT INTO graft.db.proc VALUES (20, 'y')")
    val merged = sql("CALL graft.system.merge_branch(" +
      "table => 'db.proc', name => 'exp', key_cols => 'id')").collect()
    assert(merged.head.getInt(0) == 6)
    assert(rows("SELECT * FROM graft.db.proc").map(_._1) ==
      Seq(1L, 2L, 3L, 4L, 10L, 20L))
    sql("CALL graft.system.drop_ref(table => 'db.proc', name => 'exp')")
    assert(!Snapshots.refs(spark, dir).contains("exp"))

    // vacuum: retention by count, reported as rows
    val vac = sql("CALL graft.system.vacuum(table => 'db.proc', " +
      "keep => 1)").collect()
    assert(vac.head.getInt(1) >= 1, "versions_dropped must be reported")
    assert(rows("SELECT * FROM graft.db.proc").map(_._1) ==
      Seq(1L, 2L, 3L, 4L, 10L, 20L))

    // change_view: the feed reachable from SQL without knowing the dir
    sql("CREATE TABLE graft.db.cv (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.cv VALUES (1, 'a'), (2, 'b')")
    sql("DELETE FROM graft.db.cv WHERE id = 2")
    sql("CALL graft.system.change_view(table => 'db.cv', " +
      "view_name => 'cv_changes')")
    val changes = sql("SELECT _change_type, count(*) AS n FROM " +
      "cv_changes GROUP BY 1 ORDER BY 1").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(changes == Map("insert" -> 2L, "delete" -> 1L), s"$changes")
    // the delete row's content is visible in the feed
    assert(sql("SELECT id FROM cv_changes WHERE _change_type = " +
      "'delete'").collect().map(_.getLong(0)).toSeq == Seq(2L))

    // purge: compliance deletion from SQL — tombstone keys read from a
    // registered view; the purged key vanishes from EVERY version
    sql("CREATE TABLE graft.db.pg (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.pg VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO graft.db.pg VALUES (3, 'c')")
    sql("CREATE OR REPLACE TEMPORARY VIEW pg_gone AS " +
      "SELECT CAST(2 AS BIGINT) AS id")
    val pg = sql("CALL graft.system.purge(table => 'db.pg', " +
      "key_cols => 'id', tombstones_view => 'pg_gone')").collect().head
    assert(pg.getInt(0) == 1 && pg.getInt(1) == 2 && pg.getLong(2) == 1L,
      s"purge row: $pg")
    assert(rows("SELECT * FROM graft.db.pg").map(_._1) == Seq(1L, 3L))
    assert(rows("SELECT * FROM graft.db.pg VERSION AS OF 1").map(_._1) ==
      Seq(1L), "purge must rewrite HISTORY, not just the head")

    // table_dir hands format-level entry points the storage path
    val tdir = sql("CALL graft.system.table_dir(table => 'db.cv')")
      .collect().head.getString(0)
    assert(tdir == dirOf("db", "cv"))
    assert(spark.read.format("graft-snapshots").load(tdir)
      .count() == 1)

    // history: the commit graph as rows, newest first — the DV delete
    // flagged, parents recorded, commit instants real timestamps
    val hist = sql("CALL graft.system.history(table => 'db.cv')")
      .collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(2, 1))
    assert(hist.head.getString(2) == "1" && hist.head.getBoolean(4) &&
      hist.head.getBoolean(5), s"v2 row: ${hist.head}")
    assert(hist.last.getString(2) == "" && !hist.last.getBoolean(4) &&
      hist.last.getBoolean(5), s"v1 row: ${hist.last}")
    assert(hist.forall(r =>
      r.getTimestamp(1).toInstant.toString.startsWith("20")))
    // the recorded operation verb: v2 was a DELETE's DV commit — but
    // deleteWhere records no op file (pure deletes type generically),
    // so both rows show "write"; an upsert table shows "upsert"
    assert(hist.map(_.getString(6)).toSeq == Seq("write", "write"))
    sql("CREATE OR REPLACE TEMPORARY VIEW cv_up AS " +
      "SELECT CAST(1 AS BIGINT) AS id, 'A' AS payload")
    sql("MERGE INTO graft.db.cv t USING cv_up s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET payload = s.payload")
    val hist2 = sql("CALL graft.system.history(table => 'db.cv')")
      .collect()
    assert(hist2.head.getString(6) == "cdc",
      s"MERGE commit must record its verb: ${hist2.head}")
    // vacuumed versions are absent; the branch merge shows two parents
    val histP = sql("CALL graft.system.history(table => 'db.proc')")
      .collect()
    assert(histP.map(_.getInt(0)).toSeq == Seq(6),
      s"only the surviving head should remain: ${histP.toSeq}")
    assert(histP.head.getString(2).split(" ").length == 2,
      s"merge commit must record both parents: ${histP.head}")

    // refs: main was materialized by the branch lifecycle
    val refRows = sql("CALL graft.system.refs(table => 'db.proc')")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
    assert(refRows.exists { case (n, v, t) => n == "main" && v == 6 && !t },
      s"refs: ${refRows.toSeq}")

    // unknown procedure fails loudly (Spark wraps the catalog's error,
    // which carries the available-procedure list, as the cause)
    val e = intercept[Exception] {
      sql("CALL graft.system.nope(table => 'db.proc')")
    }
    assert(e.getMessage.contains("FAILED_TO_LOAD_ROUTINE"), e.getMessage)
    assert(Option(e.getCause).exists(_.getMessage.contains("optimize")),
      s"cause should list available procedures: ${e.getCause}")
  }

  test("ALTER TABLE ADD COLUMNS: metadata-sized commit, null backfill, " +
      "old versions keep their schema") {
    warehouse
    sql("CREATE TABLE graft.db.ae (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.ae VALUES (1, 'a'), (2, 'b')")
    sql("ALTER TABLE graft.db.ae ADD COLUMNS (score DOUBLE)")
    // the DDL is one published version; no data file was rewritten
    val dir = dirOf("db", "ae")
    assert(Snapshots.latestVersion(spark, dir) == 2)
    // head: old rows backfill null under the evolved schema
    val head = sql("SELECT id, payload, score FROM graft.db.ae")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).sortBy(_._1)
    assert(head.toSeq ==
      Seq((1L, "a", None), (2L, "b", None)))
    // the next INSERT carries the new column
    sql("INSERT INTO graft.db.ae VALUES (3, 'c', 0.5)")
    val withC = sql("SELECT id, score FROM graft.db.ae WHERE id = 3")
      .collect().head
    assert(withC.getDouble(1) == 0.5)
    // time travel: version 1 predates the DDL and keeps its own schema
    assert(!sql("SELECT * FROM graft.db.ae VERSION AS OF 1")
      .schema.fieldNames.contains("score"))
    assert(sql("SELECT * FROM graft.db.ae").schema
      .fieldNames.toSeq == Seq("id", "payload", "score"))
  }

  test("ALTER TABLE RENAME COLUMN remaps every vintage at read time") {
    warehouse
    sql("CREATE TABLE graft.db.ar (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.ar VALUES (1, 'a')")
    sql("ALTER TABLE graft.db.ar RENAME COLUMN payload TO body")
    sql("INSERT INTO graft.db.ar VALUES (2, 'b')")
    val got = sql("SELECT id, body FROM graft.db.ar").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")),
      "pre-rename vintage did not remap to the new name")
    assert(sql("SELECT * FROM graft.db.ar").schema
      .fieldNames.toSeq == Seq("id", "body"))
    // the pre-DDL version still reads under its historical name
    assert(sql("SELECT * FROM graft.db.ar VERSION AS OF 1").schema
      .fieldNames.toSeq == Seq("id", "payload"))
  }

  test("a canonical name re-used after RENAME COLUMN reads null " +
      "from pre-rename vintages, not the old column's values") {
    warehouse
    sql("CREATE TABLE graft.db.ar2 (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.ar2 VALUES (1, 'old')")
    sql("ALTER TABLE graft.db.ar2 RENAME COLUMN payload TO body")
    sql("ALTER TABLE graft.db.ar2 ADD COLUMNS (payload STRING)")
    sql("INSERT INTO graft.db.ar2 VALUES (2, 'b2', 'new')")
    val got = sql("SELECT id, body, payload FROM graft.db.ar2")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "old", null), (2L, "b2", "new")),
      s"re-used name aliased the renamed-away column: $got")
  }

  test("PARTITIONED BY days(ts) / bucket(n, col): clustered writes, " +
      "day-selective and key-equality DML prune files") {
    warehouse
    sql("CREATE TABLE graft.db.ev (event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (days(ts), bucket(8, user_id))")
    // the declaration reports back as transforms
    val parts = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "ev")).partitioning().map(_.describe()).toSeq
    assert(parts == Seq("days(ts)", "bucket(8, user_id)"), parts)
    import spark.implicits._
    val rows = for { d <- 1 to 3; u <- 1L to 40L } yield
      (d * 100L + u,
        java.sql.Timestamp.valueOf(f"2024-01-0$d ${(u % 9) + 1}%02d:00:00"),
        u, u * 0.5)
    rows.toDF("event_id", "ts", "user_id", "v")
      .createOrReplaceTempView("ev_src")
    // one insert per day — files are day-pure (at scale the days()
    // range clustering splits a bulk insert the same way; tiny test
    // inserts coalesce to one file under AQE)
    (1 to 3).foreach { d =>
      sql("INSERT INTO graft.db.ev SELECT * FROM ev_src " +
        s"WHERE CAST(ts AS DATE) = DATE'2024-01-0$d'")
    }
    assert(sql("SELECT count(*) FROM graft.db.ev").head().getLong(0)
      == 120)
    // day-selective DELETE: the days() clustering value-aligns files,
    // so the raw ts bounds admit only the middle day's file(s)
    sql("DELETE FROM graft.db.ev WHERE " +
      "ts >= TIMESTAMP'2024-01-02 00:00:00' AND " +
      "ts < TIMESTAMP'2024-01-03 00:00:00'")
    val (dayKept, dayTotal) = Snapshots.lastDmlPruneCounts
    assert(dayKept < dayTotal,
      s"day-selective DELETE scanned every file ($dayKept/$dayTotal)")
    assert(sql("SELECT count(*) FROM graft.db.ev").head().getLong(0)
      == 80)
    val days = sql("SELECT DISTINCT CAST(ts AS DATE) FROM graft.db.ev " +
      "ORDER BY 1").collect().map(_.getDate(0).toString).toSeq
    assert(days == Seq("2024-01-01", "2024-01-03"))

    // bucket pruning on its own table: two bucket-range-pure inserts,
    // then an equality DELETE whose literal hashes into one of them
    sql("CREATE TABLE graft.db.evb (event_id BIGINT, user_id BIGINT, " +
      "v DOUBLE) PARTITIONED BY (bucket(8, user_id))")
    val rows2 = (1L to 200L).map(u => (u, u % 50L, u * 0.25))
    rows2.toDF("event_id", "user_id", "v")
      .createOrReplaceTempView("evb_src")
    sql("INSERT INTO graft.db.evb SELECT * FROM evb_src " +
      "WHERE pmod(hash(user_id), 8) < 4")
    sql("INSERT INTO graft.db.evb SELECT * FROM evb_src " +
      "WHERE pmod(hash(user_id), 8) >= 4")
    assert(sql("SELECT count(*) FROM graft.db.evb").head().getLong(0)
      == 200)
    val before = sql("SELECT count(*) FROM graft.db.evb " +
      "WHERE user_id = 7").head().getLong(0)
    sql("DELETE FROM graft.db.evb WHERE user_id = 7")
    val (bKept, bTotal) = Snapshots.lastDmlPruneCounts
    assert(bKept < bTotal,
      s"bucket-equality DELETE scanned every file ($bKept/$bTotal)")
    assert(sql("SELECT count(*) FROM graft.db.evb").head().getLong(0)
      == 200 - before)
    // no file was WRONGLY pruned: the surviving keys are exact
    val left = sql("SELECT DISTINCT user_id FROM graft.db.evb " +
      "ORDER BY user_id").collect().map(_.getLong(0)).toSeq
    assert(left == (0L to 49L).filterNot(_ == 7L))
  }

  test("INSERT INTO … REPLACE WHERE: atomic overwrite-by-filter in one " +
      "version; the position scan prunes; plain OVERWRITE unaffected") {
    warehouse
    import spark.implicits._
    sql("CREATE TABLE graft.db.rw (day STRING, id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (day)")
    Seq(("d1", 1L, 0.1), ("d1", 2L, 0.2), ("d1", 3L, 0.3))
      .toDF("day", "id", "v").createOrReplaceTempView("rw_d1")
    Seq(("d2", 4L, 0.4), ("d2", 5L, 0.5))
      .toDF("day", "id", "v").createOrReplaceTempView("rw_d2")
    sql("INSERT INTO graft.db.rw SELECT * FROM rw_d1")             // v1
    sql("INSERT INTO graft.db.rw SELECT * FROM rw_d2")             // v2
    // backfill day d2: its rows replace atomically, d1 is never read
    Seq(("d2", 6L, 9.9), ("d2", 7L, 9.9))
      .toDF("day", "id", "v").createOrReplaceTempView("rw_fix")
    sql("INSERT INTO graft.db.rw REPLACE WHERE day = 'd2' " +
      "SELECT * FROM rw_fix")                                      // v3
    val (kept, total) = Snapshots.lastDmlPruneCounts
    assert(kept < total,
      s"REPLACE WHERE scanned every file ($kept/$total)")
    assert(Snapshots.latestVersion(spark, dirOf("db", "rw")) == 3,
      "one published version per REPLACE WHERE")
    val got = sql("SELECT day, id FROM graft.db.rw ORDER BY id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("d1", 1L), ("d1", 2L), ("d1", 3L),
      ("d2", 6L), ("d2", 7L)), got.toString)
    // a no-match filter appends without touching anything
    sql("INSERT INTO graft.db.rw REPLACE WHERE day = 'd9' " +
      "SELECT 'd9', CAST(8 AS BIGINT), 1.0")                       // v4
    assert(sql("SELECT count(*) FROM graft.db.rw").head().getLong(0)
      == 6L)
    // time travel shows the pre-replace day
    assert(sql("SELECT id FROM graft.db.rw VERSION AS OF 2 " +
      "WHERE day = 'd2' ORDER BY id").collect().map(_.getLong(0)).toSeq
      == Seq(4L, 5L))
    // plain INSERT OVERWRITE still rewrites wholesale
    sql("INSERT OVERWRITE graft.db.rw SELECT 'd0', CAST(0 AS BIGINT), 0.0")
    assert(sql("SELECT count(*) FROM graft.db.rw").head().getLong(0)
      == 1L)
  }

  test("CALL system.checkpoint force-folds the metadata checkpoint") {
    warehouse
    sql("CREATE TABLE graft.db.ckv (id BIGINT)")
    (1 to 21).foreach(i => sql(s"INSERT INTO graft.db.ckv VALUES ($i)"))
    val dir = dirOf("db", "ckv")
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ck = new org.apache.hadoop.fs.Path(dir,
      s"v${Snapshots.CheckpointEvery}.ckpt")
    f.delete(ck, false) // simulate loss
    Snapshots.forgetStates(dir)
    val v = sql("CALL graft.system.checkpoint(table => 'db.ckv')")
      .head().getInt(0)
    assert(v == Snapshots.CheckpointEvery && f.exists(ck))
    // shallow table: nothing to fold, version 0
    sql("CREATE TABLE graft.db.ckv2 (id BIGINT)")
    sql("INSERT INTO graft.db.ckv2 VALUES (1)")
    assert(sql("CALL graft.system.checkpoint(table => 'db.ckv2')")
      .head().getInt(0) == 0)
  }

  test("branch time travel: VERSION/TIMESTAMP AS OF on t@branch " +
      "resolves along the branch's ancestry; off-line vintages refuse") {
    warehouse
    sql("CREATE TABLE graft.db.btt (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.btt VALUES (1, 'a')")                // v1
    sql(s"CALL graft.system.create_ref(table => 'db.btt', " +
      "name => 'exp')")
    sql("INSERT INTO graft.db.`btt@exp` VALUES (2, 'branch')")     // v2
    sql("INSERT INTO graft.db.btt VALUES (3, 'main')")             // v3
    sql("INSERT INTO graft.db.`btt@exp` VALUES (4, 'branch2')")    // v4
    // branch vintage: v2 is on exp's line
    assert(sql("SELECT id FROM graft.db.`btt@exp` VERSION AS OF 2 " +
      "ORDER BY id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // the branch head reads all branch commits, never main's v3
    assert(sql("SELECT id FROM graft.db.`btt@exp` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // v3 is main's commit — NOT on exp's line: refuse, don't serve it
    val off = intercept[Exception] {
      sql("SELECT * FROM graft.db.`btt@exp` VERSION AS OF 3").collect()
    }
    assert(off.getMessage.contains("not on branch"), off.getMessage)
    // TIMESTAMP AS OF on the branch resolves along exp's ancestry to
    // its head (v4), never main's v3
    val now = System.currentTimeMillis() + 60000L
    assert(sql("SELECT id FROM graft.db.`btt@exp` TIMESTAMP AS OF " +
      s"timestamp_millis(${now}) ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // plain-table time travel is unchanged (main's line)
    assert(sql("SELECT id FROM graft.db.btt VERSION AS OF 3 " +
      "ORDER BY id").collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("MERGE WITH SCHEMA EVOLUTION: extra source columns evolve the " +
      "target as one logical ADD COLUMNS commit; old rows read null") {
    warehouse
    sql("CREATE TABLE graft.db.mse (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.mse VALUES (1, 'a'), (2, 'b')")
    sql("CREATE OR REPLACE TEMPORARY VIEW mse_src AS SELECT * FROM " +
      "VALUES (CAST(2 AS BIGINT), 'B', 'fresh'), " +
      "(CAST(3 AS BIGINT), 'c', 'new') AS s(id, payload, origin)")
    val vBefore = Snapshots.latestVersion(spark, dirOf("db", "mse"))
    sql("MERGE WITH SCHEMA EVOLUTION INTO graft.db.mse t " +
      "USING mse_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    // exactly TWO commits: the logical ADD COLUMNS + the MERGE itself
    assert(Snapshots.latestVersion(spark, dirOf("db", "mse")) ==
      vBefore + 2)
    val got = sql("SELECT id, payload, origin FROM graft.db.mse " +
      "ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toSeq
    assert(got == Seq((1L, "a", null), (2L, "B", "fresh"),
      (3L, "c", "new")), got.toString)
    // without the SCHEMA EVOLUTION clause, Spark's own star expansion
    // assigns TARGET columns only — extra source columns do not evolve
    // the schema (engine semantics, pinned here so a behavior change
    // in either layer surfaces)
    sql("MERGE INTO graft.db.mse t USING " +
      "(SELECT id + 10 AS id, payload, origin, 1 AS extra2 " +
      "FROM mse_src) s " +
      "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *")
    assert(sql("SELECT * FROM graft.db.mse").columns.toSeq ==
      Seq("id", "payload", "origin"), "extra2 must not evolve the schema")
    assert(sql("SELECT count(*) FROM graft.db.mse").head().getLong(0)
      == 5L)
  }

  test("PARTITIONED BY truncate(n, col): prefix/width clustering; " +
      "LIKE-prefix, equality and range DML prune files") {
    warehouse
    import spark.implicits._
    // string truncate: 4-char prefixes — 'src1' covers src1,src10..src19
    sql("CREATE TABLE graft.db.ttc (id BIGINT, source STRING, v DOUBLE) " +
      "PARTITIONED BY (truncate(4, source))")
    val parts = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].loadTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(
          Array("db"), "ttc")).partitioning().map(_.describe()).toSeq
    assert(parts == Seq("truncate(4, source)"), parts)
    val rows = (1L to 200L).map(i => (i, s"src${i % 20}", i * 0.5))
    rows.toDF("id", "source", "v").createOrReplaceTempView("ttc_src")
    // prefix-range-pure inserts (files cluster by the 4-char prefix)
    sql("INSERT INTO graft.db.ttc SELECT * FROM ttc_src " +
      "WHERE substring(source, 1, 4) < 'src4'")
    sql("INSERT INTO graft.db.ttc SELECT * FROM ttc_src " +
      "WHERE substring(source, 1, 4) >= 'src4'")
    assert(sql("SELECT count(*) FROM graft.db.ttc").head().getLong(0)
      == 200)
    // LIKE-prefix DELETE: 'src1%' derives prefix-equality 'src1' on the
    // virtual trunc stat — only the low-prefix file(s) admit
    val doomed = sql("SELECT count(*) FROM graft.db.ttc " +
      "WHERE source LIKE 'src1%'").head().getLong(0)
    sql("DELETE FROM graft.db.ttc WHERE source LIKE 'src1%'")
    val (pKept, pTotal) = Snapshots.lastDmlPruneCounts
    assert(pKept < pTotal,
      s"LIKE-prefix DELETE scanned every file ($pKept/$pTotal)")
    assert(sql("SELECT count(*) FROM graft.db.ttc").head().getLong(0)
      == 200 - doomed)
    // nothing wrongly pruned: every src1* value is gone, the rest live
    val srcs = sql("SELECT DISTINCT source FROM graft.db.ttc")
      .collect().map(_.getString(0)).toSet
    assert(!srcs.exists(_.startsWith("src1")) && srcs.contains("src9"),
      srcs.toString)
    // equality DELETE prunes through the derived prefix too
    sql("DELETE FROM graft.db.ttc WHERE source = 'src7'")
    val (eKept, eTotal) = Snapshots.lastDmlPruneCounts
    assert(eKept < eTotal,
      s"prefix-equality DELETE scanned every file ($eKept/$eTotal)")

    // integral truncate: width-100 floors; a range DELETE admits only
    // the overlapping floor group's file(s)
    sql("CREATE TABLE graft.db.tti (id BIGINT, v DOUBLE) " +
      "PARTITIONED BY (truncate(100, id))")
    (0L to 399L).map(i => (i, i * 0.25)).toDF("id", "v")
      .createOrReplaceTempView("tti_src")
    sql("INSERT INTO graft.db.tti SELECT * FROM tti_src WHERE id < 200")
    sql("INSERT INTO graft.db.tti SELECT * FROM tti_src WHERE id >= 200")
    sql("DELETE FROM graft.db.tti WHERE id >= 250 AND id < 260")
    val (rKept, rTotal) = Snapshots.lastDmlPruneCounts
    assert(rKept < rTotal,
      s"range DELETE scanned every file ($rKept/$rTotal)")
    assert(sql("SELECT count(*) FROM graft.db.tti").head().getLong(0)
      == 390)
    assert(sql("SELECT count(*) FROM graft.db.tti " +
      "WHERE id >= 250 AND id < 260").head().getLong(0) == 0)
  }

  test("ALTER COLUMN TYPE widens; narrowing is refused") {
    warehouse
    sql("CREATE TABLE graft.db.aw (id INT, payload STRING)")
    sql("INSERT INTO graft.db.aw VALUES (7, 'a')")
    sql("ALTER TABLE graft.db.aw ALTER COLUMN id TYPE BIGINT")
    val f = sql("SELECT * FROM graft.db.aw").schema.fields.head
    assert(f.dataType.simpleString == "bigint")
    assert(sql("SELECT id FROM graft.db.aw").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    // and the widened table accepts BIGINT-ranged inserts
    sql("INSERT INTO graft.db.aw VALUES (5000000000, 'b')")
    assert(sql("SELECT count(*) FROM graft.db.aw").collect()
      .head.getLong(0) == 2)
    // narrowing is refused — by Spark's own analyzer (upcast check)
    // before the catalog's widen() guard even runs; the guard still
    // protects direct TableCatalog.alterTable callers
    val narrow = intercept[Exception] {
      sql("ALTER TABLE graft.db.aw ALTER COLUMN id TYPE INT") }
    assert(narrow.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      narrow.getMessage.contains("widen"))
    val narrowDirect = intercept[Exception] {
      spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[GraftCatalog].alterTable(
          org.apache.spark.sql.connector.catalog.Identifier.of(
            Array("db"), "aw"),
          org.apache.spark.sql.connector.catalog.TableChange
            .updateColumnType(Array("id"),
              org.apache.spark.sql.types.IntegerType)) }
    assert(narrowDirect.getMessage.contains("widen"))
  }

  test("ALTER TABLE DROP COLUMN: logical drop — history readable, " +
      "name re-usable, no data rewritten") {
    warehouse
    sql("CREATE TABLE graft.db.ad (id BIGINT, payload STRING, " +
      "score DOUBLE)")
    sql("INSERT INTO graft.db.ad VALUES (1, 'a', 0.5), (2, 'b', 0.7)")
    sql("ALTER TABLE graft.db.ad DROP COLUMN payload")
    assert(sql("SELECT * FROM graft.db.ad").schema.fieldNames.toSeq ==
      Seq("id", "score"))
    val got = sql("SELECT id, score FROM graft.db.ad").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, 0.5), (2L, 0.7)))
    // time travel BELOW the drop still reads the column (vintages are
    // untouched — the drop is one metadata-sized commit)
    assert(sql("SELECT * FROM graft.db.ad VERSION AS OF 1").schema
      .fieldNames.toSeq == Seq("id", "payload", "score"))
    assert(sql("SELECT payload FROM graft.db.ad VERSION AS OF 1")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
    // writes after the drop carry the head schema
    sql("INSERT INTO graft.db.ad VALUES (3, 0.9)")
    assert(sql("SELECT count(*) FROM graft.db.ad").collect()
      .head.getLong(0) == 3)
    // the name is re-usable as a FRESH column: every older vintage
    // backfills null — the dropped column's old values never leak in
    sql("ALTER TABLE graft.db.ad ADD COLUMNS (payload STRING)")
    sql("INSERT INTO graft.db.ad VALUES (4, 1.1, 'new')")
    val re = sql("SELECT id, payload FROM graft.db.ad").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1).toSeq
    assert(re == Seq((1L, null), (2L, null), (3L, null), (4L, "new")),
      s"re-added column leaked old values: $re")
    // refusals: the only column; a CHECK-referenced column
    sql("CREATE TABLE graft.db.ad1 (x INT)")
    val only = intercept[Exception] {
      sql("ALTER TABLE graft.db.ad1 DROP COLUMN x") }
    assert(only.getMessage.contains("only column"), only.getMessage)
    sql("CREATE TABLE graft.db.ad2 (x INT, y INT)")
    sql("ALTER TABLE graft.db.ad2 ADD CONSTRAINT ypos CHECK (y > 0)")
    val chk = intercept[Exception] {
      sql("ALTER TABLE graft.db.ad2 DROP COLUMN y") }
    assert(chk.getMessage.contains("CHECK"), chk.getMessage)
  }

  test("ALTER TABLE on a table with no commits rewrites the declared " +
      "schema in place") {
    warehouse
    sql("CREATE TABLE graft.db.a0 (id BIGINT)")
    sql("ALTER TABLE graft.db.a0 ADD COLUMNS (tag STRING)")
    // still version 0 — no commit was published for the side-file edit
    assert(Snapshots.latestVersion(spark, dirOf("db", "a0")) == 0)
    assert(sql("SELECT * FROM graft.db.a0").schema
      .fieldNames.toSeq == Seq("id", "tag"))
    sql("INSERT INTO graft.db.a0 VALUES (1, 'x')")
    assert(sql("SELECT tag FROM graft.db.a0").collect()
      .head.getString(0) == "x")
  }

  test("CHECK constraints: enforced on INSERT, UPDATE and MERGE; " +
      "NULL passes; DROP lifts") {
    warehouse
    sql("CREATE TABLE graft.db.ck (id BIGINT, score DOUBLE)")
    sql("INSERT INTO graft.db.ck VALUES (1, 0.5)")
    sql("ALTER TABLE graft.db.ck ADD CONSTRAINT pos CHECK (score >= 0)")

    // INSERT: Spark's own CheckInvariant (injected from
    // SnapshotTableV2.constraints) fails the write before any commit
    val ei = intercept[Exception] {
      sql("INSERT INTO graft.db.ck VALUES (2, -1.0)") }
    assert(ei.getMessage.contains("pos"), ei.getMessage)
    assert(sql("SELECT count(*) FROM graft.db.ck").collect()
      .head.getLong(0) == 1, "refused INSERT must not commit")
    // SQL CHECK semantics: NULL passes
    sql("INSERT INTO graft.db.ck VALUES (3, CAST(NULL AS DOUBLE))")

    // UPDATE: the custom DML routing validates the would-be rows
    val eu = intercept[Exception] {
      sql("UPDATE graft.db.ck SET score = -2.0 WHERE id = 1") }
    assert(eu.getMessage.contains("pos"), eu.getMessage)
    assert(sql("SELECT score FROM graft.db.ck WHERE id = 1").collect()
      .head.getDouble(0) == 0.5, "refused UPDATE must not commit")

    // MERGE: both the update and insert halves are validated
    sql("SELECT 1 AS id, -3.0 AS score").createOrReplaceTempView("ck_src")
    val em = intercept[Exception] {
      sql("MERGE INTO graft.db.ck t USING ck_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET score = s.score " +
        "WHEN NOT MATCHED THEN INSERT *") }
    assert(em.getMessage.contains("pos"), em.getMessage)

    // renaming a constrained column would orphan the predicate — refused
    val er = intercept[Exception] {
      sql("ALTER TABLE graft.db.ck RENAME COLUMN score TO s") }
    assert(er.getMessage.contains("pos"), er.getMessage)

    // the check validates the CAST-BACK value the update actually
    // writes, not the raw assignment: n is BIGINT, so SET n = 9.6
    // writes 9 — CHECK (n > 9.5) must refuse it even though the
    // uncast 9.6 would pass
    sql("CREATE TABLE graft.db.ckc (n BIGINT)")
    sql("INSERT INTO graft.db.ckc VALUES (100)")
    sql("ALTER TABLE graft.db.ckc ADD CONSTRAINT big CHECK (n > 9.5)")
    val ecast = intercept[Exception] {
      sql("UPDATE graft.db.ckc SET n = 9.6") }
    assert(ecast.getMessage.contains("big"), ecast.getMessage)
    assert(sql("SELECT n FROM graft.db.ckc").collect()
      .head.getLong(0) == 100, "refused cast-violating UPDATE must " +
        "not commit")
    sql("UPDATE graft.db.ckc SET n = 10.6") // casts to 10: passes
    assert(sql("SELECT n FROM graft.db.ckc").collect()
      .head.getLong(0) == 10)

    // DROP CONSTRAINT lifts enforcement
    sql("ALTER TABLE graft.db.ck DROP CONSTRAINT pos")
    sql("UPDATE graft.db.ck SET score = -2.0 WHERE id = 1")
    assert(sql("SELECT score FROM graft.db.ck WHERE id = 1").collect()
      .head.getDouble(0) == -2.0)

    // inline constraints at CREATE TABLE persist and enforce
    sql("CREATE TABLE graft.db.ck2 (id BIGINT, score DOUBLE, " +
      "CONSTRAINT pos2 CHECK (score >= 0))")
    val ec = intercept[Exception] {
      sql("INSERT INTO graft.db.ck2 VALUES (1, -1.0)") }
    assert(ec.getMessage.contains("pos2"), ec.getMessage)
    sql("INSERT INTO graft.db.ck2 VALUES (1, 1.0)")
    assert(sql("SELECT count(*) FROM graft.db.ck2").collect()
      .head.getLong(0) == 1)
  }

  test("CREATE OR REPLACE / REPLACE TABLE AS SELECT: one overwrite " +
      "commit, history preserved, schema may change") {
    warehouse
    sql("CREATE TABLE graft.db.rp (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.rp VALUES (1, 'a'), (2, 'b')")
    val dir = dirOf("db", "rp")
    assert(Snapshots.latestVersion(spark, dir) == 1)

    // RTAS: head = the query's rows; ONE new version; v1 still readable
    sql("CREATE OR REPLACE TABLE graft.db.rp AS " +
      "SELECT CAST(9 AS BIGINT) AS id, 'z' AS payload")
    assert(rows("SELECT * FROM graft.db.rp") == Seq((9L, "z")))
    assert(rows("SELECT * FROM graft.db.rp VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b")))
    assert(Snapshots.latestVersion(spark, dir) == 2)

    // REPLACE may change the schema entirely; old versions keep theirs
    sql("REPLACE TABLE graft.db.rp AS " +
      "SELECT 'x' AS tag, CAST(1.5 AS DOUBLE) AS score")
    val head = sql("SELECT * FROM graft.db.rp")
    assert(head.schema.fieldNames.toSeq == Seq("tag", "score"))
    assert(head.collect().map(r => (r.getString(0), r.getDouble(1)))
      .toSeq == Seq(("x", 1.5)))
    assert(sql("SELECT * FROM graft.db.rp VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("id", "payload"))

    // data-less CREATE OR REPLACE: an empty vintage under the new schema
    sql("CREATE OR REPLACE TABLE graft.db.rp (k INT, v STRING)")
    val fresh = sql("SELECT * FROM graft.db.rp")
    assert(fresh.count() == 0 &&
      fresh.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(rows("SELECT * FROM graft.db.rp VERSION AS OF 1") ==
      Seq((1L, "a"), (2L, "b")), "history survives every replace")

    // REPLACE of a nonexistent table refuses; OR REPLACE creates
    val e = intercept[Exception] {
      sql("REPLACE TABLE graft.db.rp_missing AS SELECT 1 AS x") }
    assert(e.getMessage.toLowerCase.contains("table"), e.getMessage)
    sql("CREATE OR REPLACE TABLE graft.db.rp_new AS SELECT 1 AS x")
    assert(sql("SELECT * FROM graft.db.rp_new").collect()
      .map(_.getInt(0)).toSeq == Seq(1))
  }

  test("staged CTAS/RTAS is atomic: a failing query leaves no table / " +
      "an unchanged table; inline CHECKs are enforced on the rows") {
    warehouse
    // CTAS whose query throws mid-write: no husk left behind
    val ec = intercept[Exception] {
      sql("CREATE TABLE graft.db.ctas_bad AS " +
        "SELECT raise_error('boom') AS x") }
    assert(!sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("ctas_bad"),
      "failed CTAS must not leave a table")

    // RTAS whose query throws: the table is untouched at its old version
    sql("CREATE TABLE graft.db.rtas_t AS SELECT CAST(7 AS BIGINT) AS id, " +
      "'keep' AS payload")
    val dir = dirOf("db", "rtas_t")
    val before = Snapshots.latestVersion(spark, dir)
    intercept[Exception] {
      sql("CREATE OR REPLACE TABLE graft.db.rtas_t AS " +
        "SELECT raise_error('boom') AS x") }
    assert(Snapshots.latestVersion(spark, dir) == before)
    assert(rows("SELECT * FROM graft.db.rtas_t") == Seq((7L, "keep")))

    // inline CHECK through the replace DDL (the parser forbids
    // constraints in an RTAS statement, so the data-less form carries
    // them); the new definition's constraint binds later writes
    sql("CREATE OR REPLACE TABLE graft.db.rtas_t (id BIGINT, " +
      "payload STRING, CONSTRAINT pos CHECK (id > 0))")
    val ei = intercept[Exception] {
      sql("INSERT INTO graft.db.rtas_t VALUES (-5, 'nope')") }
    assert(ei.getMessage.contains("pos"), ei.getMessage)
    sql("INSERT INTO graft.db.rtas_t VALUES (5, 'yes')")
    // and REPLACE without constraints lifts them wholesale
    sql("CREATE OR REPLACE TABLE graft.db.rtas_t AS " +
      "SELECT CAST(-1 AS BIGINT) AS id, 'fine-now' AS payload")
    assert(rows("SELECT * FROM graft.db.rtas_t") == Seq((-1L, "fine-now")))
  }

  test("SELECT count(*) folds to metadata: zero scan, DV-aware, " +
      "time-travel-aware; filtered/column counts still scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    def scanFree(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])
    warehouse
    sql("CREATE TABLE graft.db.mc (id BIGINT, payload STRING)")
    assert(sql("SELECT count(*) FROM graft.db.mc").collect()
      .head.getLong(0) == 0, "a created-but-empty table counts 0")
    sql("INSERT INTO graft.db.mc VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("INSERT INTO graft.db.mc VALUES (4, 'd')")

    val df = sql("SELECT count(*) AS n FROM graft.db.mc")
    assert(scanFree(df), "bare count must fold to metadata:\n" +
      df.queryExecution.optimizedPlan)
    assert(df.collect().head.getLong(0) == 4)

    // merge-on-read deletes subtract from the count without a scan
    sql("DELETE FROM graft.db.mc WHERE id IN (2, 3)")
    val df2 = sql("SELECT count(*) FROM graft.db.mc")
    assert(scanFree(df2) && df2.collect().head.getLong(0) == 2)

    // the pinned version counts ITS files (and its absent vector)
    val tt = sql("SELECT count(*) FROM graft.db.mc VERSION AS OF 1")
    assert(scanFree(tt) && tt.collect().head.getLong(0) == 3)

    // non-row-count-preserving shapes keep the scan and stay correct
    val filtered = sql("SELECT count(*) FROM graft.db.mc WHERE id = 1")
    assert(!scanFree(filtered) && filtered.collect().head.getLong(0) == 1)
    sql("INSERT INTO graft.db.mc VALUES (9, CAST(NULL AS STRING))")
    val colCount = sql("SELECT count(payload) FROM graft.db.mc")
    assert(!scanFree(colCount) && colCount.collect().head.getLong(0) == 2,
      "count(column) skips nulls — must not fold to the row count")
    assert(sql("SELECT count(*) FROM graft.db.mc").collect()
      .head.getLong(0) == 3)
  }

  test("CALL graft.system.restore: rollback by version and timestamp") {
    warehouse
    sql("CREATE TABLE graft.db.rst (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.rst VALUES (1, 'a'), (2, 'b')")
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(15) // separate the commit instants
    sql("INSERT INTO graft.db.rst VALUES (3, 'c')")
    sql("DELETE FROM graft.db.rst WHERE id = 1")
    assert(rows("SELECT * FROM graft.db.rst").map(_._1) == Seq(2L, 3L))

    // restore by version: back to the two-row v1
    val r = sql("CALL graft.system.restore(table => 'db.rst', " +
      "version => 1)").collect()
    assert(r.head.getInt(0) == 4)
    assert(rows("SELECT * FROM graft.db.rst").map(_._1) == Seq(1L, 2L))
    // the undone states stay time-travelable
    assert(rows("SELECT * FROM graft.db.rst VERSION AS OF 3")
      .map(_._1) == Seq(2L, 3L))

    // restore by timestamp: the version live at the instant (v1 again,
    // resolved along main — the restore commit itself is later)
    sql("INSERT INTO graft.db.rst VALUES (9, 'z')")
    val r2 = sql("CALL graft.system.restore(table => 'db.rst', " +
      s"timestamp => '$tsAfterV1')").collect()
    assert(r2.head.getInt(0) == 6)
    assert(rows("SELECT * FROM graft.db.rst").map(_._1) == Seq(1L, 2L))

    // history shows the verb
    val ops = sql("CALL graft.system.history(table => 'db.rst')")
      .select("version", "operation").collect()
      .map(x => x.getInt(0) -> x.getString(1)).toMap
    assert(ops(4) == "restore" && ops(6) == "restore")

    // exactly one of version/timestamp
    val e = intercept[Exception] {
      sql("CALL graft.system.restore(table => 'db.rst', version => 1, " +
        "timestamp => '2026-01-01')").collect()
    }
    assert(e.getMessage.contains("exactly one"))
  }

  test("catalog writes record default stats; SQL DELETE prunes files") {
    warehouse
    sql("CREATE TABLE graft.db.dst (id BIGINT, payload STRING)")
    // two INSERTs with disjoint id ranges = two stat-bounded vintages
    sql("INSERT INTO graft.db.dst SELECT id, 'x' FROM range(1, 101, 1, 1)")
    sql("INSERT INTO graft.db.dst SELECT id, 'x' FROM range(101, 201, 1, 1)")
    // a selective DELETE opens only the vintage whose id bounds admit
    // the predicate — proof the catalog-born table carries prunable
    // stats without any explicit statsCols (strings excluded by the
    // default, so only id is recorded)
    sql("DELETE FROM graft.db.dst WHERE id = 150")
    val (read, total) = Snapshots.lastDmlPruneCounts
    assert(total >= 2 && read < total,
      s"catalog DELETE did not prune: read $read of $total")
    val surv = sql("SELECT count(*) AS n FROM graft.db.dst " +
      "WHERE id <> 150").collect().head.getLong(0)
    assert(surv == 199L)
  }

  test("PARTITIONED BY (identity): clustered writes + stat pruning " +
      "stand in for directory partitions") {
    warehouse
    sql("CREATE TABLE graft.db.ptab (id BIGINT, lang STRING, " +
      "n BIGINT) PARTITIONED BY (lang)")
    // one INSERT spanning three 'partitions' — the write range-clusters
    // on lang (AQE rightly coalesces this tiny shuffle to one file; at
    // real volume the range layout is many value-aligned files) and
    // records lang's bounds even though strings are excluded from the
    // numeric default stats — then two more single-lang batches, the
    // accretion shape a partitioned table sees in production
    sql("INSERT INTO graft.db.ptab SELECT id, " +
      "CASE WHEN id < 40 THEN 'de' WHEN id < 80 THEN 'en' ELSE 'fr' " +
      "END, id * 2 FROM range(1, 120, 1, 6)")
    sql("INSERT INTO graft.db.ptab SELECT id, 'en', id * 2 " +
      "FROM range(200, 240, 1, 2)")
    sql("INSERT INTO graft.db.ptab SELECT id, 'fr', id * 2 " +
      "FROM range(300, 340, 1, 2)")
    // DESCRIBE surfaces the clustering as identity partitioning
    val desc = sql("DESCRIBE TABLE graft.db.ptab").collect()
      .map(_.getString(0)).toSeq
    val partAt = desc.indexOf("# Partition Information")
    assert(partAt >= 0 && desc.drop(partAt).contains("lang"),
      s"desc: $desc")
    // per-file lang bounds are visible in the inventory…
    val inv = sql("CALL graft.system.files(table => 'db.ptab')")
      .collect()
    assert(inv.forall(_.getString(4).contains("lang:[")),
      s"stats: ${inv.map(_.getString(4)).toSeq}")
    // …and a partition-selective DELETE opens only admitting files:
    // 'de' lives only in the first batch, so the en/fr batches prune
    sql("DELETE FROM graft.db.ptab WHERE lang = 'de'")
    val (read, total) = Snapshots.lastDmlPruneCounts
    assert(total >= 3 && read < total,
      s"partition delete did not prune: read $read of $total")
    val left = sql("SELECT lang, count(*) AS n FROM graft.db.ptab " +
      "GROUP BY lang ORDER BY lang").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(left == Seq("en" -> 80L, "fr" -> 80L))
    // unsupported transforms stay refused, actionably (days/bucket/
    // truncate are supported — see their specs; anything else is not)
    val e = intercept[Exception] {
      sql("CREATE TABLE graft.db.ptab2 (id BIGINT, s STRING) " +
        "PARTITIONED BY (zorder(s))")
    }
    assert(e.getMessage.contains("not"), e.getMessage)
    // a temporal transform on a non-temporal column is refused too
    val e2 = intercept[Exception] {
      sql("CREATE TABLE graft.db.ptab2 (id BIGINT, s STRING) " +
        "PARTITIONED BY (days(s))")
    }
    assert(e2.getMessage.contains("not a date/timestamp"), e2.getMessage)
    // CTAS carries the clustering declaration too
    sql("CREATE TABLE graft.db.ptab3 PARTITIONED BY (lang) AS " +
      "SELECT * FROM graft.db.ptab")
    val inv3 = sql("CALL graft.system.files(table => 'db.ptab3')")
      .collect()
    assert(inv3.forall(_.getString(4).contains("lang:[")),
      s"ctas stats: ${inv3.map(_.getString(4)).toSeq}")
    // maintenance keeps the layout: compact repacks ALONG the declared
    // clustering and re-records its bounds
    sql("CALL graft.system.compact(table => 'db.ptab', " +
      "small_mb => 1024, target_mb => 2048)")
    val inv4 = sql("CALL graft.system.files(table => 'db.ptab')")
      .collect()
    assert(inv4.forall(_.getString(4).contains("lang:[")),
      s"post-compact stats: ${inv4.map(_.getString(4)).toSeq}")
    val left2 = sql("SELECT lang, count(*) AS n FROM graft.db.ptab " +
      "GROUP BY lang ORDER BY lang").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(left2 == Seq("en" -> 80L, "fr" -> 80L))
    // the clustering declaration follows a column rename: the next
    // write still records the (renamed) partition column's bounds
    sql("ALTER TABLE graft.db.ptab RENAME COLUMN lang TO language")
    sql("INSERT INTO graft.db.ptab SELECT id, 'zh', id * 2 " +
      "FROM range(400, 410, 1, 1)")
    val inv5 = sql("CALL graft.system.files(table => 'db.ptab')")
      .collect()
    assert(inv5.exists(_.getString(4).contains("language:[")),
      s"post-rename stats: ${inv5.map(_.getString(4)).toSeq}")
  }

  test("CALL graft.system.files: live inventory with sizes and stats") {
    warehouse
    sql("CREATE TABLE graft.db.fls (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.fls VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO graft.db.fls VALUES (30, 'c')")
    val inv = sql("CALL graft.system.files(table => 'db.fls')").collect()
    assert(inv.nonEmpty)
    assert(inv.map(_.getLong(3)).sum == 3L, "footer row counts must sum")
    assert(inv.forall(_.getLong(2) > 0L), "sizes must be real")
    val vintages = inv.map(_.getInt(1)).toSet
    assert(vintages == Set(1, 2), s"vintages: $vintages")
    // catalog INSERTs record id stats — the bounds render in the rows
    assert(inv.exists(_.getString(4).contains("id:[")),
      s"stats column empty: ${inv.map(_.getString(4)).toSeq}")
  }

  test("readStream.table: catalog-named streaming reads, plain and " +
      "change feed") {
    warehouse
    sql("CREATE TABLE graft.db.st (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.st VALUES (1, 'a'), (2, 'b')")

    // plain streaming read by NAME: versions become micro-batches
    val q = spark.readStream.table("graft.db.st")
      .writeStream.format("memory").queryName("st_plain")
      .option("checkpointLocation", tmpDir("st-cp")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("st_plain").count() == 2)
      sql("INSERT INTO graft.db.st VALUES (3, 'c')")
      q.processAllAvailable()
      assert(spark.table("st_plain").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()

    // reader options pass through the name: startingVersion skips
    // the table's history before it
    val qs = spark.readStream.option("startingVersion", "2")
      .table("graft.db.st")
      .writeStream.format("memory").queryName("st_sv")
      .option("checkpointLocation", tmpDir("st-sv-cp")).start()
    try {
      qs.processAllAvailable()
      assert(spark.table("st_sv").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(3L), "startingVersion=2 must emit only v2's rows")
    } finally qs.stop()

    // a created-but-never-committed table streams from its declared
    // schema: rows appear once the first INSERT publishes
    sql("CREATE TABLE graft.db.st0 (id BIGINT, payload STRING)")
    val q0 = spark.readStream.table("graft.db.st0")
      .writeStream.format("memory").queryName("st_zero")
      .option("checkpointLocation", tmpDir("st0-cp")).start()
    try {
      q0.processAllAvailable()
      assert(spark.table("st_zero").count() == 0)
      sql("INSERT INTO graft.db.st0 VALUES (7, 'z')")
      q0.processAllAvailable()
      assert(spark.table("st_zero").collect().map(_.getLong(0)).toSeq ==
        Seq(7L))
    } finally q0.stop()

    // change feed by NAME: the widened CDF schema resolves downstream
    // (_change_type must be visible through the table identifier)
    val feed = spark.readStream.option("readChangeFeed", "true")
      .table("graft.db.st")
    assert(feed.schema.fieldNames.takeRight(3).toSeq ==
      Seq("_change_type", "_commit_version", "_commit_timestamp"))
    val q2 = feed.groupBy(lit(1).as("g"))
      .agg(sum(when(col("_change_type") === "insert", 1L)
        .otherwise(-1L)).as("n"))
      .writeStream.format("memory").queryName("st_cdf")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("st-cdf-cp")).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("st_cdf").collect().head.getLong(1) == 3L)
      sql("DELETE FROM graft.db.st WHERE id = 2")
      q2.processAllAvailable()
      assert(spark.table("st_cdf").collect().head.getLong(1) == 2L,
        "the delete must retract through the named feed")
    } finally q2.stop()
  }

  test("vacuum's stage sweep honors the V2 write's liveness heartbeat: " +
      "a short horizon never sweeps a live query's epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    warehouse
    sql("CREATE TABLE graft.db.hb (id BIGINT, payload STRING)")
    val dir = dirOf("db", "hb")
    val cp = tmpDir("hb-cp")
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "payload")
      .writeStream.option("checkpointLocation", cp)
      .toTable("graft.db.hb")
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    try {
      src.addData((1L, "a"))
      q.processAllAvailable() // epoch committed; heartbeat touched
      val qDir = f.listStatus(new Path(dir, "_stream_stage"))
        .filter(_.isDirectory).head.getPath
      // simulate a mid-epoch staged part that LOOKS old (long epoch)
      val stale = new Path(qDir, "epoch-999/part-999-0-0.parquet")
      val o = f.create(stale, true); o.write(1); o.close()
      val old = System.currentTimeMillis() - 3600_000L
      f.setTimes(stale.getParent, old, -1)
      f.setTimes(stale, old, -1)
      // a SHORT horizon (60s) would sweep it by age — the fresh _live
      // heartbeat marks the query as running, so the whole dir survives
      Snapshots.vacuum(spark, dir, keep = 10, stageOrphanMs = 60_000L)
      assert(f.exists(stale),
        "a live query's staged epoch must survive a short horizon")
      // age the heartbeat too (query presumed dead) — now it sweeps
      f.setTimes(new Path(qDir, "_live"), old, -1)
      Snapshots.vacuum(spark, dir, keep = 10, stageOrphanMs = 60_000L)
      assert(!f.exists(stale),
        "a stale-heartbeat query's old epochs must sweep")
      // the query is in fact still alive: the next epoch re-heartbeats
      // and commits normally
      src.addData((2L, "b"))
      q.processAllAvailable()
      assert(rows("SELECT * FROM graft.db.hb") ==
        Seq((1L, "a"), (2L, "b")))
      assert(f.getFileStatus(new Path(qDir, "_live"))
        .getModificationTime > old, "the heartbeat must refresh")
    } finally q.stop()
  }

  test("writeStream.toTable: executor-written epochs publish one " +
      "version each, exactly-once across restart; complete truncates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    warehouse
    sql("CREATE TABLE graft.db.ws (id BIGINT, payload STRING)")
    val dir = dirOf("db", "ws")
    val cp = tmpDir("ws-cp")

    val src = MemoryStream[(Long, String)]
    def start() = src.toDF().toDF("id", "payload")
      .writeStream.option("checkpointLocation", cp)
      .toTable("graft.db.ws")

    val q = start()
    try {
      src.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      assert(rows("SELECT * FROM graft.db.ws") ==
        Seq((1L, "a"), (2L, "b")))
      src.addData((3L, "c"))
      q.processAllAvailable()
      assert(rows("SELECT * FROM graft.db.ws") ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
      assert(Snapshots.latestVersion(spark, dir) == 2,
        "one published version per non-empty epoch")
    } finally q.stop()

    // restart from the same checkpoint: the engine re-delivers the last
    // epoch — the stamp must skip it, not double-commit
    val q2 = start()
    try {
      q2.processAllAvailable()
      src.addData((4L, "d"))
      q2.processAllAvailable()
      assert(rows("SELECT * FROM graft.db.ws") ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q2.stop()
    // no staging residue outside the table's data
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new Path(dir, "_stream_stage")) ||
      f.listStatus(new Path(dir, "_stream_stage"))
        .forall(st => f.listStatus(st.getPath)
          // the _live liveness heartbeat is not a staged epoch
          .forall(_.getPath.getName == "_live")),
      "staged epochs must be cleaned after commit")

    // complete mode: each epoch is a rewrite (truncate), history kept
    sql("CREATE TABLE graft.db.wc (payload STRING, n BIGINT)")
    val src2 = MemoryStream[(Long, String)]
    val qc = src2.toDF().toDF("id", "payload")
      .groupBy($"payload").agg(count(lit(1)).as("n"))
      .select($"payload", $"n")
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("wc-cp"))
      .toTable("graft.db.wc")
    try {
      src2.addData((1L, "x"), (2L, "x"))
      qc.processAllAvailable()
      assert(sql("SELECT n FROM graft.db.wc WHERE payload = 'x'")
        .collect().head.getLong(0) == 2)
      src2.addData((3L, "x"))
      qc.processAllAvailable()
      assert(sql("SELECT n FROM graft.db.wc WHERE payload = 'x'")
        .collect().head.getLong(0) == 3)
      assert(sql("SELECT count(*) FROM graft.db.wc").collect()
        .head.getLong(0) == 1, "complete mode replaces, never appends")
    } finally qc.stop()
  }

  test("toTable epochs record statsCols bounds and footer null counts, " +
      "so DELETE … IS NULL opens only the file that holds nulls") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    warehouse
    sql("CREATE TABLE graft.db.wsn (id BIGINT, payload STRING, x BIGINT)")
    val dir = dirOf("db", "wsn")
    val src = MemoryStream[(Long, String, Option[Long])]
    // null counts are recorded for the stats columns, so x is named too
    val q = src.toDF().toDF("id", "payload", "x")
      .writeStream.option("checkpointLocation", tmpDir("wsn-cp"))
      .option("statsCols", "payload,x")
      .toTable("graft.db.wsn")
    try {
      src.addData((1L, "a", None), (2L, "b", None))       // x all null
      q.processAllAvailable()
      src.addData((3L, "c", Some(30L)), (4L, "d", Some(40L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.latestVersion(spark, dir) == 2)
    // each epoch is one file; its vN.stats rows, keyed by column
    def epochStats(v: Int): Map[String, (String, String)] = {
      val added = Snapshots.files(spark, dir, v)
        .diff(if (v > 1) Snapshots.files(spark, dir, v - 1) else Nil)
      assert(added.size == 1, s"v$v added $added")
      Snapshots.statsUpTo(spark, dir, Snapshots.state(spark, dir, v))(
        added.head)
        .map { case (c, _, mn, mx) => c -> ((mn, mx)) }.toMap
    }
    val s1 = epochStats(1)
    assert(s1.get("payload").contains(("a", "b")) &&
      s1.get("null:x").contains(("2", "2")) &&
      s1.get("nnull:x").contains(("0", "0")), s1.toString)
    val s2 = epochStats(2)
    assert(s2.get("payload").contains(("c", "d")) &&
      s2.get("x").contains(("30", "40")) &&
      s2.get("null:x").contains(("0", "0")) &&
      s2.get("nnull:x").contains(("2", "2")), s2.toString)
    val (_, n) = Snapshots.deleteWhere(spark, dir, col("x").isNull)
    assert(n == 2 && Snapshots.lastDmlPruneCounts == ((1, 2)),
      s"deleted $n, opened ${Snapshots.lastDmlPruneCounts}")
    assert(rows("SELECT * FROM graft.db.wsn") == Seq((3L, "c"), (4L, "d")))
  }

  test("toTable Update mode: keyCols epochs merge by key; without " +
      "keyCols Update is refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    warehouse
    sql("CREATE TABLE graft.db.wu (payload STRING, n BIGINT)")

    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("id", "payload")
      .groupBy($"payload").agg(count(lit(1)).as("n"))
      .select($"payload", $"n")
      .writeStream.outputMode("update")
      .option("keyCols", "payload")
      .option("checkpointLocation", tmpDir("wu-cp"))
      .toTable("graft.db.wu")
    try {
      src.addData((1L, "x"), (2L, "x"), (3L, "y"))
      q.processAllAvailable()
      src.addData((4L, "x"))
      q.processAllAvailable()
      val state = sql("SELECT payload, n FROM graft.db.wu").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(state == Map("x" -> 3L, "y" -> 1L),
        s"update epochs must MERGE by key, got $state")
    } finally q.stop()

    // Update mode without declared keys must refuse (at the first
    // micro-batch, where Spark checks the builder capability), not
    // silently append stale rows
    sql("CREATE TABLE graft.db.wu2 (payload STRING, n BIGINT)")
    val src2 = MemoryStream[(Long, String)]
    val q2 = src2.toDF().toDF("id", "payload")
      .groupBy($"payload").agg(count(lit(1)).as("n"))
      .select($"payload", $"n")
      .writeStream.outputMode("update")
      .option("checkpointLocation", tmpDir("wu2-cp"))
      .toTable("graft.db.wu2")
    try {
      val e = intercept[Exception] {
        src2.addData((1L, "x"))
        q2.processAllAvailable()
      }
      assert(e.getMessage.toLowerCase.contains("update"), e.getMessage)
      assert(sql("SELECT count(*) FROM graft.db.wu2").collect()
        .head.getLong(0) == 0, "a refused update stream must not commit")
    } finally q2.stop()
  }

  test("DESCRIBE TABLE and SHOW CREATE TABLE work through the catalog") {
    warehouse
    sql("CREATE TABLE graft.db.dsc (id BIGINT, payload STRING)")
    sql("INSERT INTO graft.db.dsc VALUES (1, 'a')")
    val desc = sql("DESCRIBE TABLE graft.db.dsc").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("id").contains("bigint") &&
      desc.get("payload").contains("string"), desc.toString)
    val ddl = sql("SHOW CREATE TABLE graft.db.dsc").collect()
      .head.getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("id BIGINT"),
      ddl)
  }

  test("racing first INSERTs both land (append decided in-claim)") {
    warehouse
    import spark.implicits._
    val dir = tmpDir("race")
    val dfs = Seq(
      Seq((1L, "a")).toDF("id", "payload"),
      Seq((2L, "b")).toDF("id", "payload"))
    // commitAuto through real thread contention: both see an empty
    // table, the claim serializes them, the loser must APPEND
    val threads = dfs.map { d =>
      new Thread(() => { Snapshots.commitAuto(spark, dir, d,
        overwrite = false); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(Snapshots.latestVersion(spark, dir) == 2)
    val all = Snapshots.read(spark, dir, 2).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(all == Seq(1L, 2L), s"a first-insert race lost rows: $all")
  }

  // ---- nested-field (struct subfield) schema evolution -------------------

  test("nested ADD/RENAME/DROP evolve a struct as metadata commits; " +
      "pre-evolution vintages backfill null and time travel keeps " +
      "each version's own struct shape") {
    warehouse
    sql("CREATE TABLE graft.db.nm (id BIGINT, " +
      "meta STRUCT<w: INT, h: INT>)")
    sql("INSERT INTO graft.db.nm VALUES " +
      "(1, named_struct('w', 10, 'h', 20))")                          // v1
    sql("ALTER TABLE graft.db.nm ADD COLUMNS (meta.channels INT)")    // v2
    assert(sql("SELECT * FROM graft.db.nm").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("w", "h", "channels"))
    // the pre-evolution row reads null for the added subfield
    val pre = sql("SELECT meta.channels FROM graft.db.nm WHERE id = 1")
      .collect().head
    assert(pre.isNullAt(0), "pre-evolution row must backfill null")
    sql("INSERT INTO graft.db.nm VALUES " +
      "(2, named_struct('w', 30, 'h', 40, 'channels', 3))")           // v3
    // nested RENAME: one chain entry, both vintages remap at read time
    sql("ALTER TABLE graft.db.nm RENAME COLUMN meta.w TO width")      // v4
    val got = sql("SELECT id, meta.width, meta.channels " +
      "FROM graft.db.nm ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got == Seq((1L, 10, -1), (2L, 30, 3)), got)
    // nested DROP: vanishes from the head, still travels below
    sql("ALTER TABLE graft.db.nm DROP COLUMN meta.h")                 // v5
    assert(sql("SELECT * FROM graft.db.nm").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("width", "channels"))
    assert(sql("SELECT meta.h FROM graft.db.nm VERSION AS OF 3 " +
      "WHERE id = 2").collect().head.getInt(0) == 40)
    assert(sql("SELECT meta.w FROM graft.db.nm VERSION AS OF 1")
      .collect().head.getInt(0) == 10)
    // post-drop inserts write the evolved shape; the union stays sound
    sql("INSERT INTO graft.db.nm VALUES " +
      "(3, named_struct('width', 50, 'channels', 4))")                // v6
    assert(sql("SELECT sum(meta.width) AS s FROM graft.db.nm")
      .collect().head.getLong(0) == 90L)
  }

  test("a nested leaf re-used after DROP COLUMN reads null from " +
      "pre-drop vintages, not the old subfield's values") {
    warehouse
    sql("CREATE TABLE graft.db.nm2 (id BIGINT, " +
      "meta STRUCT<w: INT, h: INT>)")
    sql("INSERT INTO graft.db.nm2 VALUES " +
      "(1, named_struct('w', 7, 'h', 8))")
    sql("ALTER TABLE graft.db.nm2 DROP COLUMN meta.w")
    sql("ALTER TABLE graft.db.nm2 ADD COLUMNS (meta.w INT)")
    sql("INSERT INTO graft.db.nm2 VALUES " +
      "(2, named_struct('h', 9, 'w', 11))")
    val got = sql("SELECT id, meta.h, meta.w FROM graft.db.nm2 " +
      "ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got == Seq((1L, 8, -1), (2L, 9, 11)),
      s"re-used nested leaf aliased the dropped subfield: $got")
  }

  test("compaction across nested-evolution vintages packs under the " +
      "head's struct shape; the change feed replays through a nested " +
      "rename") {
    warehouse
    sql("CREATE TABLE graft.db.nm4 (id BIGINT, " +
      "meta STRUCT<w: INT, h: INT>)")
    sql("INSERT INTO graft.db.nm4 VALUES " +
      "(1, named_struct('w', 10, 'h', 20))")                          // v1
    sql("ALTER TABLE graft.db.nm4 ADD COLUMNS (meta.channels INT)")   // v2
    sql("INSERT INTO graft.db.nm4 VALUES " +
      "(2, named_struct('w', 30, 'h', 40, 'channels', 3))")           // v3
    sql("ALTER TABLE graft.db.nm4 RENAME COLUMN meta.w TO width")     // v4
    // compact spans pre- and post-evolution vintages: the packed
    // vintage must carry ONE schema — the head's evolved struct —
    // and the content must be unchanged (the scan's nested
    // localization over the packed subset)
    val packed = Snapshots.compact(spark, dirOf("db", "nm4"),
      smallBytes = 1L << 30, targetBytes = 1L << 30, minFiles = 2)
    assert(packed == 5, s"compact should publish v5, got $packed")
    val got = sql("SELECT id, meta.width, meta.channels " +
      "FROM graft.db.nm4 ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got == Seq((1L, 10, -1), (2L, 30, 3)),
      s"compacted content diverged: $got")
    // the change feed replays the FULL history under the consumer's
    // (head) schema: pre-rename vintages remap meta.w -> meta.width at
    // read time (the scan's nested localization); the signed fold
    // over inserts converges to the head
    sql("CALL graft.system.change_view(table => 'db.nm4', " +
      "view_name => 'nm4_changes', starting_version => 1)")
    val fold = sql("""
      SELECT sum(CASE WHEN _change_type IN ('insert','update_postimage')
               THEN meta.width ELSE -meta.width END) AS w,
             sum(CASE WHEN _change_type IN ('insert','update_postimage')
               THEN 1 ELSE -1 END) AS n
      FROM nm4_changes""").collect().head
    assert(fold.getLong(0) == 40L && fold.getLong(1) == 2L,
      s"change-feed fold diverged: $fold")
  }

  test("merge-on-read deletes and nested evolution compose: the DV " +
      "applies under the remapped subfield names, time travel keeps " +
      "both the old shape and the old liveness") {
    warehouse
    sql("CREATE TABLE graft.db.nm7 (doc_id BIGINT, " +
      "meta STRUCT<w: INT, h: INT>)")
    sql("INSERT INTO graft.db.nm7 VALUES " +
      "(1, named_struct('w', 10, 'h', 1)), " +
      "(2, named_struct('w', 20, 'h', 2)), " +
      "(3, named_struct('w', 30, 'h', 3))")                           // v1
    sql("DELETE FROM graft.db.nm7 WHERE meta.w = 20")                 // v2
    sql("ALTER TABLE graft.db.nm7 RENAME COLUMN meta.w TO width")     // v3
    sql("ALTER TABLE graft.db.nm7 ADD COLUMNS (meta.c INT)")          // v4
    sql("INSERT INTO graft.db.nm7 VALUES " +
      "(4, named_struct('width', 40, 'h', 4, 'c', 7))")               // v5
    val got = sql("SELECT doc_id, meta.width, meta.c FROM graft.db.nm7 " +
      "ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(got == Seq((1L, 10, -1), (3L, 30, -1), (4L, 40, 7)), got)
    // v1 predates both the delete and the evolution
    val v1 = sql("SELECT doc_id, meta.w FROM graft.db.nm7 " +
      "VERSION AS OF 1 ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(v1 == Seq((1L, 10), (2L, 20), (3L, 30)), v1)
    // v2 keeps the delete but the pre-evolution shape
    assert(sql("SELECT * FROM graft.db.nm7 VERSION AS OF 2")
      .count() == 2L)
  }

  test("ALTER NAMESPACE SET/UNSET PROPERTIES round-trips; SET LOCATION " +
      "refuses; DESCRIBE NAMESPACE shows the comment") {
    warehouse
    sql("CREATE NAMESPACE IF NOT EXISTS graft.nsp " +
      "COMMENT 'curated corpora'")
    // ('owner' is a Spark-reserved namespace property — use free keys)
    sql("ALTER NAMESPACE graft.nsp SET PROPERTIES " +
      "('team' = 'data-eng', 'tier' = 'gold')")
    val meta = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
      .loadNamespaceMetadata(Array("nsp"))
    assert(meta.get("team") == "data-eng" && meta.get("tier") == "gold"
      && meta.get("comment") == "curated corpora", meta.toString)
    sql("ALTER NAMESPACE graft.nsp UNSET PROPERTIES ('tier')")
    assert(!spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].loadNamespaceMetadata(Array("nsp"))
      .containsKey("tier"))
    val e = intercept[Exception] {
      sql("ALTER NAMESPACE graft.nsp SET LOCATION '/elsewhere'") }
    assert(e.getMessage.contains("LOCATION"), e.getMessage)
    // the side-file must not read as a table or child namespace
    assert(!sql("SHOW TABLES IN graft.nsp").collect()
      .map(_.getString(1)).contains("_NS_PROPS"))
    // a newline-bearing value cannot round-trip the line-oriented props
    // file — it must refuse loudly, not truncate on the next read (r21)
    val nl = intercept[Exception] {
      sql("ALTER NAMESPACE graft.nsp SET PROPERTIES " +
        "('note' = 'line one\nline two')") }
    assert(nl.getMessage.contains("newline"), nl.getMessage)
    // and the refusal left the existing props intact
    assert(spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].loadNamespaceMetadata(Array("nsp"))
      .get("team") == "data-eng")
  }

  test("purge rewrites and streaming reads work across a nested " +
      "rename (vintage-local subfield names remap at read time)") {
    warehouse
    sql("CREATE TABLE graft.db.nm6 (doc_id BIGINT, " +
      "meta STRUCT<w: INT, h: INT>)")
    sql("INSERT INTO graft.db.nm6 VALUES " +
      "(1, named_struct('w', 10, 'h', 1)), " +
      "(2, named_struct('w', 20, 'h', 2)), " +
      "(3, named_struct('w', 30, 'h', 3))")                           // v1
    sql("ALTER TABLE graft.db.nm6 RENAME COLUMN meta.w TO width")     // v2
    sql("INSERT INTO graft.db.nm6 VALUES " +
      "(4, named_struct('width', 40, 'h', 4))")                       // v3
    // compliance purge of doc_id=2 rewrites the PRE-RENAME v1 file:
    // the rewritten file keeps its vintage's own subfield names, so
    // the read-side chain still remaps them (purge skips dotted
    // entries by design)
    sql("CREATE OR REPLACE TEMPORARY VIEW nm6_gone AS " +
      "SELECT CAST(2 AS BIGINT) AS doc_id")
    sql("CALL graft.system.purge(table => 'db.nm6', " +
      "key_cols => 'doc_id', tombstones_view => 'nm6_gone')")
    val got = sql("SELECT doc_id, meta.width FROM graft.db.nm6 " +
      "ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 10), (3L, 30), (4L, 40)),
      s"purged table lost the nested remap: $got")
    // a streaming read resolves the same canonical schema and remaps
    // every vintage (the scan's localized per-vintage request)
    val cp = java.nio.file.Files.createTempDirectory("nm6cp").toString
    val q = spark.readStream.table("graft.db.nm6")
      .selectExpr("doc_id", "meta.width AS width")
      .writeStream.format("memory").queryName("nm6_stream")
      .option("checkpointLocation", cp).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("nm6_stream")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(streamed == Seq((1L, 10), (3L, 30), (4L, 40)),
      s"streamed rows diverged: $streamed")
  }

  test("nested ALTER COLUMN TYPE widens a subfield in place; " +
      "narrowing refuses") {
    warehouse
    sql("CREATE TABLE graft.db.nm5 (id BIGINT, " +
      "meta STRUCT<w: INT, h: BIGINT>)")
    sql("INSERT INTO graft.db.nm5 VALUES " +
      "(1, named_struct('w', 7, 'h', CAST(8 AS BIGINT)))")
    sql("ALTER TABLE graft.db.nm5 ALTER COLUMN meta.w TYPE BIGINT")
    sql("INSERT INTO graft.db.nm5 VALUES " +
      "(2, named_struct('w', CAST(3000000000 AS BIGINT), " +
      "'h', CAST(9 AS BIGINT)))")
    // the pre-widening vintage's int decodes in place as long
    val got = sql("SELECT id, meta.w FROM graft.db.nm5 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 7L), (2L, 3000000000L)), got)
    assert(sql("SELECT * FROM graft.db.nm5").schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("w")
      .dataType == org.apache.spark.sql.types.LongType)
    // Spark's analyzer refuses the narrowing before our catalog's own
    // "does not widen" guard gets a look — either refusal is correct
    val e = intercept[Exception] {
      sql("ALTER TABLE graft.db.nm5 ALTER COLUMN meta.h TYPE INT") }
    assert(e.getMessage.contains("does not widen") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
  }

  test("nested ALTER COLUMN TYPE BIGINT to DOUBLE casts the older " +
      "vintage's subfield after decoding") {
    warehouse
    sql("CREATE TABLE graft.db.nmwd (id BIGINT, meta STRUCT<w: BIGINT>)")
    sql("INSERT INTO graft.db.nmwd VALUES (1, named_struct('w', " +
      "CAST(7 AS BIGINT)))")
    sql("ALTER TABLE graft.db.nmwd ALTER COLUMN meta.w TYPE DOUBLE")
    sql("INSERT INTO graft.db.nmwd VALUES (2, named_struct('w', 0.5D))")
    val got = sql("SELECT id, meta.w FROM graft.db.nmwd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 7.0), (2L, 0.5)), got)
    sql("CALL graft.system.optimize(table => 'db.nmwd', " +
      "zorder_cols => 'id')")
    assert(sql("SELECT id, meta.w FROM graft.db.nmwd ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == got)
  }

  test("nested RENAME/DROP refusals: CHECK-referenced subfield, a " +
      "struct's only subfield, non-struct parents") {
    warehouse
    sql("CREATE TABLE graft.db.nm3 (id BIGINT, " +
      "meta STRUCT<w: INT>, tags ARRAY<STRUCT<k: STRING>>)")
    sql("ALTER TABLE graft.db.nm3 ADD CONSTRAINT wpos CHECK (meta.w > 0)")
    val er = intercept[Exception] {
      sql("ALTER TABLE graft.db.nm3 RENAME COLUMN meta.w TO width") }
    assert(er.getMessage.contains("wpos"), er.getMessage)
    val ed = intercept[Exception] {
      sql("ALTER TABLE graft.db.nm3 DROP COLUMN meta.w") }
    assert(ed.getMessage.contains("wpos"), ed.getMessage)
    sql("ALTER TABLE graft.db.nm3 DROP CONSTRAINT wpos")
    val eo = intercept[Exception] {
      sql("ALTER TABLE graft.db.nm3 DROP COLUMN meta.w") }
    assert(eo.getMessage.contains("only subfield"), eo.getMessage)
    // array-element evolution is refused (no per-row identity)
    val ea = intercept[Exception] {
      sql("ALTER TABLE graft.db.nm3 ADD COLUMNS (tags.element.v INT)") }
    assert(ea.getMessage != null)
  }
}
