package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, struct, when}
import org.apache.spark.sql.types._

/** Differential property for the one snapshot scan: over random schema
  * histories — rename chains with swaps and re-used names, one nested
  * rename, int → bigint and float → double widening, one logical drop
  * (its name re-used by a fresh column), with and without a deletion
  * vector — `Snapshots.read`, `readPruned`, one stream micro-batch, the
  * change feed, `compact` and `optimize` each equal the independent
  * per-vintage union ([[EvolvedUnionOracle]]). */
class EvolvedScanPropSpec extends SparkSpec {

  /** One value column: its current name and type. */
  private final case class Slot(var name: String, var dt: DataType)

  /** `dt` with struct fields sorted by name: the oracle's subfield
    * rebuild appends a renamed subfield last, the scan keeps its place. */
  private def byName(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.sortBy(_.name)
      .map(f => f.copy(dataType = byName(f.dataType))))
    case other => other
  }

  private def byName(c: Column, dt: DataType): Column = dt match {
    case st: StructType => when(c.isNull, lit(null)).otherwise(struct(
      st.fields.sortBy(_.name).toSeq.map(f =>
        byName(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** Rows as sorted strings over the columns of `names`, by name. */
  private def rendered(df: DataFrame, names: Seq[String]): Seq[String] =
    df.select(names.map(n => byName(col(s"`$n`"), df.schema(n).dataType)
        .as(n)): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  private def multisetMinus(a: Seq[String], b: Seq[String]): Seq[String] = {
    val left = scala.collection.mutable.Map.empty[String, Int]
    a.foreach(x => left(x) = left.getOrElse(x, 0) + 1)
    b.foreach(x => left(x) = left.getOrElse(x, 0) - 1)
    assert(left.values.forall(_ >= 0), "the feed retracts a row it never had")
    left.toSeq.flatMap { case (x, n) => Seq.fill(n)(x) }.sorted
  }

  private def value(r: Random, k: Int, dt: DataType): Any =
    if (r.nextInt(6) == 0) null
    else dt match {
      case IntegerType => k * 10 + r.nextInt(10)
      case LongType => k * 10L + r.nextInt(10)
      case FloatType => k + 0.25f * r.nextInt(4)
      case DoubleType => k + 0.125 * r.nextInt(8)
      case StringType => s"s$k-${r.nextInt(5)}"
      case st: StructType => Row.fromSeq(st.fields.toSeq.map(f =>
        value(r, k, f.dataType)))
    }

  /** Grow one table through `commits` commits of random evolution and
    * check every reader against the oracle at its head. */
  private def check(seed: Long, withDv: Boolean): Unit = {
    val r = new Random(seed)
    val dir = tmpDir(s"evoprop-$seed")
    val nested = StructType(Seq(StructField("x", IntegerType),
      StructField("y", StringType)))
    val slots = Seq(Slot("a", IntegerType), Slot("f", FloatType),
      Slot("s", StringType), Slot("n", nested), Slot("d", StringType))
    var live = slots
    val pool = Seq("a", "b", "c", "e", "f", "g", "h", "n", "s")
    var nextId = 0L
    val commits = 6
    val dropAt = 2 + r.nextInt(commits - 3) // 2 ..< commits - 1
    var swapped = ""
    var reAdd: Option[String] = None
    (0 until commits).foreach { k =>
      var renames = Map.empty[String, String]
      def renameTo(sl: Slot, to: String): Unit = {
        renames += (sl.name -> to); sl.name = to
      }
      def free: Seq[String] = pool.filterNot(n => live.exists(_.name == n))
      k match {
        case 0 =>
        // a swap across two commits: slot 0 moves to a free name, then
        // slot 1 takes slot 0's old one
        case 1 =>
          val old = live.head.name
          renameTo(live.head, free(r.nextInt(free.size)))
          swapped = old
        case 2 => renameTo(live(1), swapped)
        // no random rename where the commit also drops a column or
        // renames a subfield: a chained pair within one commit would
        // depend on the side-file's entry order
        case _ if k != dropAt && r.nextBoolean() =>
          val sl = live.filterNot(x => k == 3 && (x eq slots(3)))
          renameTo(sl(r.nextInt(sl.size)), free(r.nextInt(free.size)))
        case _ =>
      }
      if (k == 3) { // the nested rename, under the struct's current name
        val n = slots(3)
        renames += (s"${n.name}.x" -> s"${n.name}.z")
        n.dt = StructType(Seq(StructField("z", IntegerType),
          StructField("y", StringType)))
      }
      if (k == 2) slots(0).dt = LongType   // int -> bigint
      if (k == 4) slots(1).dt = DoubleType // float -> double
      if (k == dropAt) {
        // the logical drop; the next commit re-adds a fresh column under
        // the dropped name
        val d = slots(4)
        renames += (d.name -> Snapshots.DropMarker)
        live = live.filterNot(_ eq d)
        reAdd = Some(d.name)
      } else reAdd.foreach { name =>
        if (!live.exists(_.name == name)) live = live :+ Slot(name, StringType)
        reAdd = None
      }
      // renames of one commit touch distinct columns, so their order in
      // the side-file does not matter
      val schema = StructType(StructField("id", LongType) +:
        live.map(sl => StructField(sl.name, sl.dt)))
      val rows = (1 to 3 + r.nextInt(3)).map { _ =>
        nextId += 1
        Row.fromSeq(nextId +: live.map(sl => value(r, k, sl.dt)))
      }
      Snapshots.commit(spark, dir,
        spark.createDataFrame(rows.asJava, schema).coalesce(1),
        append = k > 0, renames = renames, statsCols = Seq("id"))
    }
    val vData = Snapshots.latestVersion(spark, dir)
    if (withDv) Snapshots.deleteWhere(spark, dir, col("id") % 3 === 0)
    val head = Snapshots.latestVersion(spark, dir)
    val want = EvolvedUnionOracle.read(spark, dir, head)
    val names = want.columns.toSeq.sorted
    val expected = rendered(want, names)
    val ctx = s"seed $seed, dv $withDv, columns $names"
    def same(what: String, df: DataFrame): Unit = {
      assert(df.schema.fields.map(f => f.name -> byName(f.dataType)).toMap ==
        want.schema.fields.map(f => f.name -> byName(f.dataType)).toMap,
        s"$what schema: ${df.schema.simpleString} vs " +
          s"${want.schema.simpleString} ($ctx)")
      assert(rendered(df, names) == expected, s"$what rows ($ctx)")
    }
    same("read", Snapshots.read(spark, dir, head))
    val (lo, hi) = (2L, nextId - 2)
    val (pruned, _) = Snapshots.readPruned(spark, dir, head, "id", lo, hi)
    assert(rendered(pruned, names) == rendered(want.filter(
      col("id") >= lo && col("id") <= hi), names), s"readPruned ($ctx)")
    // the change feed: inserted minus deleted rows are the live rows
    val feed = spark.read.format("graft-snapshots")
      .option("readChangeFeed", "true").load(dir)
    def ofType(ts: String*) = rendered(feed.filter(col("_change_type")
      .isin(ts: _*)).drop("_change_type", "_commit_version",
      "_commit_timestamp"), names)
    assert(multisetMinus(ofType("insert", "update_postimage"),
      ofType("delete", "update_preimage")) == expected, s"change feed ($ctx)")
    // one stream micro-batch: every data version's added rows (an append
    // stream passes over the deletion vector with ignoreChanges)
    val q = s"evoprop_$seed"
    val stream = spark.readStream.format("graft-snapshots")
      .option("ignoreChanges", "true").load(dir)
      .writeStream.format("memory").queryName(q).start()
    try stream.processAllAvailable() finally stream.stop()
    assert(stream.recentProgress.count(_.numInputRows > 0) == 1,
      s"one micro-batch ($ctx)")
    assert(rendered(spark.table(q), names) ==
      rendered(EvolvedUnionOracle.read(spark, dir, vData), names),
      s"stream micro-batch ($ctx)")
    val vc = Snapshots.compact(spark, dir, smallBytes = 1L << 30,
      targetBytes = 1L << 30, minFiles = 2)
    assert(vc == head + 1, s"compact published v$vc ($ctx)")
    same("compact", Snapshots.read(spark, dir, vc))
    same("compact (oracle)", EvolvedUnionOracle.read(spark, dir, vc))
    val vo = Snapshots.optimize(spark, dir, Seq("id"), numFiles = 2)
    same("optimize", Snapshots.read(spark, dir, vo))
    same("optimize (oracle)", EvolvedUnionOracle.read(spark, dir, vo))
  }

  test("every snapshot reader equals the per-vintage union oracle") {
    Seq(11L, 12L, 13L).foreach(check(_, withDv = false))
    Seq(21L, 22L, 23L).foreach(check(_, withDv = true))
  }
}
