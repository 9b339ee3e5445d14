package graft.sources

import org.apache.spark.sql.functions._

/** Dev tool: sf1-scale stress of the round-19 DML pruning tiers (the
  * f50/f52/f53 shapes) over a truncate-clustered, null-bearing snapshot
  * table — the measured counterpart of the toy-size counter pins in
  * GraftCatalogSpec/SnapshotsSpec. Builds documents × REPL (sf0.1 × 10
  * ≈ sf1) as a catalog table clustered by `(truncate(16, url), lang)`,
  * committed in SPARK_GRAFT_COMMITS slices so the file count scales with
  * history, then measures, per shape: files opened vs total (the
  * `lastDmlPruneCounts` the DML's condMatchableFiles records) and wall
  * seconds. The claim under test: opens scale with MATCHING files
  * (cluster groups × commits), never with table size.
  *
  * Run: SPARK_GRAFT_REPL=10 sbt "runMain graft.sources.ScalePruneStress /tmp/gsp"
  */
object ScalePruneStress {

  def main(args: Array[String]): Unit = {
    val wh = args.headOption.getOrElse("/tmp/graft_scale_prune")
    val repl = sys.env.getOrElse("SPARK_GRAFT_REPL", "10").toInt
    val commits = sys.env.getOrElse("SPARK_GRAFT_COMMITS", "4").toInt
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC", "/root/testdata/sf0.1")
    // at sf1 the whole slice fits one AQE-coalesced partition — keep
    // the range-partitioned fan-out so the table carries the file
    // count a real 100 TB ingest would (the stress is METADATA scale:
    // opens vs files, not bytes)
    val spark = graft.Session.local(graft.Session.cpus(),
      Map("spark.sql.adaptive.coalescePartitions.enabled" -> "false"))
    val cat = graft.operators.Formats.withCatalog(spark, src, "gsp", wh)
    val root = new org.apache.hadoop.fs.Path(wh)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(root, true)

    // sf0.1 documents × repl with collision-free doc_id offsets; url
    // carries the source as its host (the truncate(16) prefix group),
    // src_opt is null EXACTLY for the src5 cluster so footer null
    // counts localize the IS NULL tier to one prefix group's files
    val span = 100000000L
    val docs = spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(spark.range(repl).select(col("id").as("rep")))
      .select(
        (col("doc_id") + col("rep") * span).as("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/"),
          col("doc_id").cast("string")).as("url"),
        col("lang"), col("source"),
        when(col("source") === "src5", lit(null).cast("string"))
          .otherwise(col("source")).as("src_opt"),
        col("n_chars"))
    docs.createOrReplaceTempView("sp_docs")
    val nRows = docs.count()

    // src_opt joins the layout declaration so its footer null counts
    // are recorded per file (null pruning rides the stats columns —
    // the f52 cost model) and the null-bearing rows land localized
    spark.sql(s"CREATE TABLE $cat.db.docs (doc_id BIGINT, url STRING, " +
      "lang STRING, source STRING, src_opt STRING, n_chars BIGINT) " +
      "PARTITIONED BY (truncate(16, url), lang, src_opt)")
    for (i <- 0 until commits)
      spark.sql(s"INSERT INTO $cat.db.docs SELECT * FROM sp_docs " +
        s"WHERE pmod(doc_id, $commits) = $i")
    val dir = s"$wh/db/docs"
    val total0 = Snapshots.files(spark, dir,
      Snapshots.latestVersion(spark, dir)).size
    println(s"[scale-prune] rows=$nRows commits=$commits files=$total0")

    def shape(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      val sec = (System.nanoTime() - t0) / 1e9
      val (kept, total) = Snapshots.lastDmlPruneCounts
      println(f"[scale-prune] $name kept=$kept total=$total sec=$sec%.2f")
    }

    // f50 shape: LIKE-prefix DELETE through the truncate tier — the
    // literal prefix (25 chars) covers the width (16), so the derived
    // prefix-equality stat prunes to src3's cluster files
    shape("f50_like_prefix_delete") {
      spark.sql(s"DELETE FROM $cat.db.docs " +
        "WHERE url LIKE 'https://src3.example.com/%'")
    }
    // f52 shape: IS NULL UPDATE through the footer null-count tier —
    // only src5's files carry nulls
    shape("f52_is_null_update") {
      spark.sql(s"UPDATE $cat.db.docs SET n_chars = -1 " +
        "WHERE src_opt IS NULL")
    }
    // f53 shape: REPLACE WHERE through the identity (lang) tier — the
    // position scan opens only the 'en' cluster files
    shape("f53_replace_where") {
      spark.sql(s"INSERT INTO $cat.db.docs REPLACE WHERE lang = 'en' " +
        "SELECT doc_id, url, lang, source, src_opt, n_chars * 2 " +
        "FROM sp_docs WHERE lang = 'en' AND pmod(doc_id, 2) = 0")
    }
    // control: an unprunable predicate opens everything — the (total,
    // total) line that anchors the three pruned ones
    shape("control_unprunable") {
      spark.sql(s"DELETE FROM $cat.db.docs WHERE n_chars % 1009 = 17")
    }
    spark.stop()
  }
}
