package graft.sources

import java.sql.Timestamp

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Pins the one stats-pruning rule ([[StatsPruning]]): a pruned read, a
  * pruned change-feed read and DELETE's located rows each equal the
  * unpruned evolved read ([[EvolvedUnionOracle]]) under the same
  * predicate — across rename chains with swaps and re-used names,
  * bucket/truncate-clustered catalog tables and a non-UTC session time
  * zone — and the positional DML scan resolves renamed columns. */
class StatsPruningSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = tmpDir("prune-warehouse")
    spark.conf.set("spark.sql.catalog.prune", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.prune.warehouse", w)
    w
  }

  private def sql(q: String) = spark.sql(q)

  private def dirOf(t: String): String =
    new Path(new Path(warehouse, "db"), t).toString

  private def readFmt(dir: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-snapshots"))(
      (r, kv) => r.option(kv._1, kv._2)).load(dir)

  private def longs(q: String): Seq[Seq[Long]] = sql(q).collect()
    .map(r => r.toSeq.map(_.asInstanceOf[Long])).toSeq

  test("a read after RENAME a TO c, then b TO a, prunes by the new a's " +
      "stats") {
    warehouse
    sql("CREATE TABLE prune.db.swap (id BIGINT, a BIGINT, b BIGINT)")
    sql("INSERT INTO prune.db.swap VALUES (1, 10, 20)")
    sql("ALTER TABLE prune.db.swap RENAME COLUMN a TO c")
    sql("ALTER TABLE prune.db.swap RENAME COLUMN b TO a")
    assert(longs("SELECT id, c, a FROM prune.db.swap WHERE a = 20") ==
      Seq(Seq(1L, 10L, 20L)), "the old a's stats pruned the new a's row")
  }

  test("a read under a non-UTC session time zone renders temporal " +
      "literals as the stats side-file does") {
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      import spark.implicits._
      val dir = tmpDir("prune-tz")
      val df = Seq((1L, "2020-01-01 09:00:00"), (2L, "2020-01-01 10:00:00"))
        .toDF("id", "s").select(col("id"), col("s").cast("timestamp").as("ts"))
      Snapshots.commit(spark, dir, df.coalesce(1), append = false,
        statsCols = Seq("ts"))
      def n(p: String) = readFmt(dir).filter(expr(p)).count()
      assert(n("ts = '2020-01-01 09:00:00'") == 1)
      assert(n("ts >= '2020-01-01 09:30:00'") == 1)
      assert(n("ts > '2020-01-01 10:00:00'") == 0)
    }
  }

  test("DELETE, UPDATE and REPLACE WHERE resolve a renamed column, after " +
      "a plain rename and after a swap") {
    warehouse
    def rows(t: String) = longs(s"SELECT * FROM prune.db.$t ORDER BY id")
    def upsertSql(t: String, cond: String, id: Long, x: Long, y: Long) =
      sql(s"INSERT INTO prune.db.$t REPLACE WHERE $cond SELECT " +
        s"CAST($id AS BIGINT), CAST($x AS BIGINT), CAST($y AS BIGINT)")
    sql("CREATE TABLE prune.db.dr (id BIGINT, a BIGINT, b BIGINT)")
    sql("INSERT INTO prune.db.dr VALUES (1, 10, 20), (2, 11, 21), " +
      "(3, 12, 22)")
    sql("ALTER TABLE prune.db.dr RENAME COLUMN b TO z")
    sql("UPDATE prune.db.dr SET a = 99 WHERE z = 20")
    sql("DELETE FROM prune.db.dr WHERE z = 21")
    upsertSql("dr", "z = 22", 4L, 13L, 23L)
    assert(rows("dr") == Seq(Seq(1L, 99L, 20L), Seq(4L, 13L, 23L)))

    sql("CREATE TABLE prune.db.ds (id BIGINT, a BIGINT, b BIGINT)")
    sql("INSERT INTO prune.db.ds VALUES (1, 10, 20), (2, 11, 21), " +
      "(3, 12, 22), (4, 13, 23)")
    sql("ALTER TABLE prune.db.ds RENAME COLUMN a TO c")
    sql("ALTER TABLE prune.db.ds RENAME COLUMN b TO a")
    sql("DELETE FROM prune.db.ds WHERE a = 20")
    sql("UPDATE prune.db.ds SET c = 0 WHERE a = 21")
    upsertSql("ds", "a = 22", 5L, 14L, 24L)
    assert(rows("ds") == Seq(Seq(2L, 0L, 21L), Seq(4L, 13L, 23L),
      Seq(5L, 14L, 24L)))
    assert(sql("SELECT * FROM prune.db.ds").columns.toSeq ==
      Seq("id", "c", "a"))
  }

  test("after ALTER COLUMN TYPE INT to BIGINT on a bucket column, reads " +
      "and DELETE keep the files the int vintage bucketed") {
    warehouse
    import spark.implicits._
    def ids(q: String) = sql(q).collect().map(_.getLong(0)).toSeq.sorted
    sql("CREATE TABLE prune.db.wb (id BIGINT, k INT) " +
      "PARTITIONED BY (bucket(4, k))")
    (1 to 100).map(i => (i.toLong, i)).toDF("id", "k")
      .createOrReplaceTempView("wb_src")
    // two bucket-pure files whose k ranges overlap, so only the bucket
    // ids tell them apart
    sql("INSERT INTO prune.db.wb SELECT * FROM wb_src " +
      "WHERE pmod(hash(k), 4) < 2")
    sql("INSERT INTO prune.db.wb SELECT * FROM wb_src " +
      "WHERE pmod(hash(k), 4) >= 2")
    sql("ALTER TABLE prune.db.wb ALTER COLUMN k TYPE BIGINT")
    // a k the int write bucketed into the first file and whose BIGINT
    // literal hashes into the second file's ids
    val v = (1 to 100).find(i =>
      Snapshots.bucketIdOf(i, IntegerType, 4) < 2 &&
        Snapshots.bucketIdOf(i.toLong, LongType, 4) >= 2).get
    assert(ids(s"SELECT id FROM prune.db.wb WHERE k = $v") == Seq(v.toLong))
    assert(ids(s"SELECT id FROM prune.db.wb WHERE k IN ($v, 0)") ==
      Seq(v.toLong))
    sql(s"DELETE FROM prune.db.wb WHERE k = $v")
    assert(ids("SELECT id FROM prune.db.wb") ==
      (1L to 100L).filterNot(_ == v.toLong))

    // BIGINT vintages still prune by bucket: of two new bucket-pure
    // files beyond the int files' range, the equality opens one (the
    // ALTER's empty schema file carries no stats and always survives)
    (1001 to 1100).map(i => (i.toLong, i.toLong)).toDF("id", "k")
      .createOrReplaceTempView("wb_src2")
    sql("INSERT INTO prune.db.wb SELECT * FROM wb_src2 " +
      "WHERE pmod(hash(k), 4) < 2")
    sql("INSERT INTO prune.db.wb SELECT * FROM wb_src2 " +
      "WHERE pmod(hash(k), 4) >= 2")
    sql("DELETE FROM prune.db.wb WHERE k = 1001")
    assert(Snapshots.lastDmlPruneCounts == ((2, 5)),
      s"opened ${Snapshots.lastDmlPruneCounts}")
    assert(ids("SELECT id FROM prune.db.wb WHERE k > 1000") ==
      (1002L to 1100L))
  }

  test("after ALTER COLUMN TYPE FLOAT to DOUBLE, reads compare literals " +
      "with the float rows' exact values") {
    warehouse
    def ids(q: String) = sql(q).collect().map(_.getLong(0)).toSeq.sorted
    sql("CREATE TABLE prune.db.wf (id BIGINT, f FLOAT)")
    sql("INSERT INTO prune.db.wf VALUES (1, CAST(0.1 AS FLOAT))")
    sql("INSERT INTO prune.db.wf VALUES (2, CAST(0.3 AS FLOAT))")
    assert(ids("SELECT id FROM prune.db.wf WHERE f = CAST(0.1 AS FLOAT)")
      == Seq(1L))
    sql("ALTER TABLE prune.db.wf ALTER COLUMN f TYPE DOUBLE")
    // the float 0.1 reads back as 0.10000000149011612
    assert(ids("SELECT id FROM prune.db.wf WHERE f >= 0.100000001") ==
      Seq(1L, 2L))
    assert(ids("SELECT id FROM prune.db.wf WHERE f = 0.10000000149011612")
      == Seq(1L))
    assert(ids("SELECT id FROM prune.db.wf WHERE f < 0.1") == Seq.empty)
  }

  test("upsert and applyCdc match a renamed key column in older vintages") {
    import spark.implicits._
    val dir = tmpDir("prune-upsert-rename")
    Snapshots.commit(spark, dir, Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1), append = false, statsCols = Seq("id"))
    Snapshots.commit(spark, dir, Seq((4L, "d")).toDF("key", "v").coalesce(1),
      append = true, renames = Map("id" -> "key"), statsCols = Seq("key"))
    val (_, replaced) = Snapshots.upsert(spark, dir,
      Seq((2L, "B"), (5L, "e")).toDF("key", "v"), Seq("key"))
    assert(replaced == 1)
    val (v, applied) = Snapshots.applyCdc(spark, dir,
      Seq((3L, "C")).toDF("key", "v"), Seq(1L).toDF("key"), Seq("key"))
    assert(applied == 3, "one replaced, one deleted, one staged")
    val got = EvolvedUnionOracle.read(spark, dir, v).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(got == Seq(2L -> "B", 3L -> "C", 4L -> "d", 5L -> "e"))
  }

  // ---- differential property: pruned == unpruned ----------------------

  /** A table whose value columns ("slots", fixed types) move between
    * names as renames accrue; `write` commits rows under the current
    * names, declaring the rename `old -> new` when given. */
  private final class Table(val dir: String, val types: Seq[DataType],
      var names: Seq[String],
      write: (DataFrame, Option[(String, String)]) => Unit) {
    private var nextId = 0L
    /** slots whose name changed since the first commit */
    var renamed = Set.empty[Int]
    def schema: StructType = StructType(StructField("id", LongType) +:
      names.zip(types).map { case (n, t) => StructField(n, t) })
    def commit(r: Random, k: Int, rename: Option[(String, String)]): Unit = {
      rename.foreach { case (o, n) =>
        renamed += names.indexOf(o)
        names = names.map(x => if (x == o) n else x)
      }
      val rows = (1 to 4 + r.nextInt(5)).map { _ =>
        nextId += 1
        Row.fromSeq(nextId +: types.indices.map(i => value(r, k, i, types(i))))
      }
      write(spark.createDataFrame(rows.asJava, schema).coalesce(1), rename)
    }
  }

  // per-commit windows keep files' bounds apart, so pruning engages;
  // slot 0's windows fall as commits go on while the others' rise, so a
  // stats lookup under the wrong vintage name mis-prunes
  private def value(r: Random, k: Int, slot: Int, t: DataType): Any =
    if (r.nextInt(7) == 0) null
    else t match {
      case LongType =>
        ((if (slot == 0) 4 - k else k) * 8 + r.nextInt(12)).toLong
      case StringType => Seq("ab", "ac", "b", "bz", "c")(
        (k + r.nextInt(2)) % 5) + r.nextInt(10)
      case TimestampType => Timestamp.valueOf(
        f"2020-01-0${1 + (k + r.nextInt(2)) % 5} ${r.nextInt(24)}%02d:00:00")
    }

  private def literal(r: Random, t: DataType): String = t match {
    case LongType => (r.nextInt(46) - 2).toString
    case StringType =>
      s"'${Seq("ab", "ac", "b", "bz", "c", "d")(r.nextInt(6))}${r.nextInt(10)}'"
    case TimestampType =>
      f"TIMESTAMP'2020-01-0${1 + r.nextInt(6)} ${r.nextInt(24)}%02d:00:00'"
  }

  private def predicate(r: Random, t: Table): String = {
    // half the atoms hit a renamed slot, where the vintage lookup matters
    def atom(): String = {
      val i =
        if (t.renamed.nonEmpty && r.nextBoolean())
          t.renamed.toSeq.sorted.apply(r.nextInt(t.renamed.size))
        else r.nextInt(t.names.size)
      val (n, ty) = (t.names(i), t.types(i))
      def lit = literal(r, ty)
      r.nextInt(9) match {
        case 0 => s"$n = $lit"
        case 1 => s"$n < $lit"
        case 2 => s"$n >= $lit"
        case 3 => s"$n IN ($lit, $lit, $lit)"
        case 4 => s"$n IS NULL"
        case 5 => s"$n IS NOT NULL"
        case 6 => s"NOT ($n < $lit)"
        case 7 => s"$lit > $n"
        case _ => ty match {
          case StringType =>
            s"$n LIKE '${Seq("a", "ab", "b", "c")(r.nextInt(4))}%'"
          case _ => s"$n <= $lit"
        }
      }
    }
    r.nextInt(4) match {
      case 0 => s"(${atom()}) OR (${atom()})"
      case 1 => s"${atom()} AND ${atom()}"
      case _ => atom()
    }
  }

  private def sorted(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  /** Grow `t` through `commits` commits, a rename before most of them —
    * the first two a swap (slot 0 to a free name, slot 1 to slot 0's
    * old one) — then check reads, the change feed and DELETE. */
  private def checkTable(r: Random, t: Table, pool: Seq[String],
      commits: Int): Unit = {
    t.commit(r, 0, None)
    (1 until commits).foreach { k =>
      val free = pool.filterNot(t.names.contains)
      val rename = k match {
        case 1 => Some(t.names(0) -> free(r.nextInt(free.size)))
        case 2 => Some(t.names(1) -> free.head)
        case _ if r.nextBoolean() =>
          Some(t.names(r.nextInt(t.names.size)) -> free(r.nextInt(free.size)))
        case _ => None
      }
      t.commit(r, k, rename)
    }
    val cols = "id" +: t.names
    // the unpruned evolved read, filtered in a local relation
    def expected(p: String): Seq[String] = {
      val ev = EvolvedUnionOracle.read(spark, t.dir,
        Snapshots.latestVersion(spark, t.dir))
      sorted(spark.createDataFrame(ev.collect().toSeq.asJava, ev.schema)
        .filter(expr(p)), cols)
    }
    val preds = Seq.fill(10)(predicate(r, t))
    preds.zipWithIndex.foreach { case (p, i) =>
      val want = expected(p)
      assert(sorted(readFmt(t.dir).filter(expr(p)), cols) == want,
        s"read, $p, names ${t.names}")
      // append-only history: the feed's rows are every live row
      if (i % 2 == 0)
        assert(sorted(readFmt(t.dir, "readChangeFeed" -> "true")
          .filter(expr(p)), cols) == want,
          s"change feed, $p, names ${t.names}")
    }
    preds.take(2).foreach { p =>
      val before = expected("true")
      val want = expected(p)
      val (_, n) = Snapshots.deleteWhere(spark, t.dir, expr(p))
      assert(n == want.size, s"DELETE located $n rows, want ${want.size}: $p")
      assert(expected("true") == before.diff(want), s"DELETE $p")
    }
  }

  test("pruned reads, change feed and DELETE equal the unpruned evolved " +
      "read across rename chains, clustering and a non-UTC zone") {
    warehouse
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val pool = Seq("a", "b", "c", "d", "e", "f")
      val types = Seq(LongType, LongType, StringType, TimestampType)
      (1 to 3).foreach { seed =>
        val r = new Random(seed)
        val dir = tmpDir(s"prune-prop-$seed")
        val t = new Table(dir, types, pool.take(4), (df, rename) =>
          Snapshots.commit(spark, dir, df,
            append = Snapshots.latestVersion(spark, dir) >= 1,
            renames = rename.toMap, statsCols = df.columns.toSeq))
        checkTable(r, t, pool, commits = 5)
      }
      (1 to 2).foreach { seed =>
        val r = new Random(100 + seed)
        val name = s"prune.db.cl$seed"
        sql(s"CREATE TABLE $name (id BIGINT, k BIGINT, s STRING, " +
          "v BIGINT) PARTITIONED BY (bucket(4, k), truncate(2, s))")
        val t = new Table(dirOf(s"cl$seed"),
          Seq(LongType, StringType, LongType), Seq("k", "s", "v"),
          (df, rename) => {
            rename.foreach { case (o, n) =>
              sql(s"ALTER TABLE $name RENAME COLUMN $o TO $n") }
            df.createOrReplaceTempView("prune_src")
            sql(s"INSERT INTO $name SELECT * FROM prune_src")
          })
        checkTable(r, t, Seq("k", "s", "v", "w", "x"), commits = 5)
      }
    }
  }
}
