package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Table states are immutable and replaced whole by newer ones, so
  * readers that resolve a version while other threads commit to the same
  * table can never see a half-extended state, and a reader of an older
  * version served from a newer state reads that version alone. Four writers append (with stats, one
  * rename, across a checkpoint boundary) while four readers each resolve
  * the head, read it through [[Snapshots.read]] and
  * [[Snapshots.readPruned]], and half the time drop the table's cached
  * states first so cold folds race the commits too. Every read must equal
  * its version's rows by [[EvolvedUnionOracle]]. */
class TableStateConcurrencySpec extends SparkSpec {

  /** `df`'s rows as sorted strings, columns in `cols` order. */
  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(_.toString).toSeq.sorted

  test("readers racing 4 committers each read exactly one committed " +
      "version") {
    import spark.implicits._
    val dir = tmpDir("statecc")
    def batch(lo: Int, name: String) =
      (lo until lo + 3).map(i => (i.toLong, s"r$i")).toDF("id", name)
        .coalesce(1)
    Snapshots.commit(spark, dir, batch(0, "payload"), append = false,
      statsCols = Seq("id"))
    val perWriter = 6 // 1 + 4 x 6 = 25 versions: past CheckpointEvery
    assert(1 + 4 * perWriter > Snapshots.CheckpointEvery)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writing = new java.util.concurrent.atomic.AtomicInteger(4)
    val writers = (1 to 4).map { w =>
      new Thread(() => {
        try (1 to perWriter).foreach { j =>
          // writer 1 renames payload -> note on its third commit; the
          // others keep writing `payload`, which from then on is a new
          // column re-using the old name
          val rename = w == 1 && j == 3
          val name = if (w == 1 && j >= 3) "note" else "payload"
          Snapshots.commit(spark, dir, batch(w * 1000 + j * 10, name),
            append = true,
            renames = if (rename) Map("payload" -> "note") else Map.empty,
            statsCols = Seq("id"))
        } catch { case t: Throwable => errors.add(t); () }
        finally { writing.decrementAndGet(); () }
      })
    }
    // (version, read rows, columns, pruned range, pruned rows)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Int, Seq[String], Seq[String], (Long, Long), Seq[String])]()
    val readers = (1 to 4).map { r =>
      new Thread(() => {
        try {
          var i = 0
          while (writing.get() > 0 || i < 2) {
            if ((r + i) % 2 == 0) Snapshots.forgetStates(dir)
            val v = Snapshots.latestVersion(spark, dir)
            val full = Snapshots.read(spark, dir, v)
            val cols = full.columns.toSeq
            val w = 1 + (r + i) % 4
            val (lo, hi) = (w * 1000L, w * 1000L + 25L)
            val (pruned, _) =
              Snapshots.readPruned(spark, dir, v, "id", lo, hi)
            seen.add((v, rowsOf(full, cols), cols, (lo, hi),
              rowsOf(pruned, cols)))
            i += 1
          }
        } catch { case t: Throwable => errors.add(t); () }
      })
    }
    (writers ++ readers).foreach(_.start())
    (writers ++ readers).foreach(_.join(600000))
    assert(errors.isEmpty, s"a thread failed: ${errors.peek()}")
    val head = Snapshots.latestVersion(spark, dir)
    assert(head == 1 + 4 * perWriter)
    assert(Snapshots.read(spark, dir, head).count() == 3L * head)
    import scala.jdk.CollectionConverters._
    val reads = seen.asScala.toSeq
    assert(reads.size >= 8 && reads.map(_._1).distinct.size >= 2,
      s"readers saw versions ${reads.map(_._1)}")
    val oracles = reads.map(_._1).distinct
      .map(v => v -> EvolvedUnionOracle.read(spark, dir, v).cache()).toMap
    reads.foreach { case (v, full, cols, (lo, hi), pruned) =>
      val oracle = oracles(v)
      assert(oracle.columns.toSet == cols.toSet, s"v$v columns $cols")
      assert(full == rowsOf(oracle, cols), s"read of v$v")
      assert(pruned == rowsOf(oracle.filter(col("id").between(lo, hi)),
        cols), s"readPruned of v$v over [$lo, $hi]")
    }
    oracles.values.foreach(_.unpersist())
  }
}
