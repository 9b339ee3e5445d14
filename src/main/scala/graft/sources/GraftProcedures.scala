package graft.sources

import java.util.Collections

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The `graft` catalog's SQL-callable MAINTENANCE surface — Spark 4.1
  * DSv2 stored procedures (`CALL graft.system.optimize(...)`), the same
  * completion move as the DML rules: every table-format verb a user
  * needs operationally (clustering, retention, lineage) is reachable
  * from plain SQL, not Scala-only. Procedure results come back as rows
  * (a [[LocalScan]]), so `CALL` composes with the session like any
  * query.
  *
  * | procedure | maps to | returns |
  * |---|---|---|
  * | `system.optimize(table, zorder_cols, bits, num_files)` | [[Snapshots.optimize]] | `version` |
  * | `system.vacuum(table, keep, stage_orphan_hours)` | [[Snapshots.vacuum]] | `files_deleted, versions_dropped` |
  * | `system.purge(table, key_cols, tombstones_view, max_tombstones)` | [[Snapshots.purge]] | `files_rewritten, versions_republished, rows_deleted` |
  * | `system.create_ref(table, name, version, tag)` | [[Snapshots.createRef]] | `version` |
  * | `system.drop_ref(table, name)` | [[Snapshots.dropRef]] | `name` |
  * | `system.fast_forward(table, name, to_version)` | [[Snapshots.fastForward]] | `version` |
  * | `system.merge_branch(table, name, key_cols)` | [[Snapshots.mergeBranch]] | `version` |
  * | `system.change_view(table, view_name, starting_version, ending_version)` | temp view over [[ChangeFeedBatchRelation]] | `view_name, from_version, to_version` |
  * | `system.changes(table, starting_version, ending_version, max_rows)` | the CDF frame itself, driver-capped | change rows: table columns + `_change_type, _commit_version` |
  * | `system.history(table)` | commit-graph walk (meta/manifest side-files) | one row per version: `version, committed_at, parents, n_files, has_dv, on_main` |
  * | `system.refs(table)` | [[Snapshots.refs]] | one row per ref: `name, version, is_tag` |
  *
  * `table` is the catalog-relative identifier (`db.t`); list-valued
  * parameters are comma-separated strings (SQL arrays don't bind to
  * procedure params portably).
  */
private[sources] object GraftProcedures {

  private def spark = SparkSession.active

  private def param(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def paramD(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def str(r: InternalRow, i: Int): String =
    r.getUTF8String(i).toString
  private def csv(r: InternalRow, i: Int): Seq[String] =
    str(r, i).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def rowsOf(schema: StructType, rows: Seq[Seq[Any]]): Scan = {
    val converted = rows.map(_.map {
      case s: String => UTF8String.fromString(s)
      case other => other
    })
    new LocalScan {
      override def rows(): Array[InternalRow] =
        converted.map(InternalRow.fromSeq).toArray
      override def readSchema(): StructType = schema
    }
  }

  private val versionOut = new StructType().add("version", IntegerType)

  /** One procedure: fixed parameter list, a body from (dir, args) to
    * (result schema, result row). */
  private final class Proc(val name: String,
      params: Seq[ProcedureParameter],
      body: (String, InternalRow) => (StructType, Seq[Seq[Any]]))
      extends UnboundProcedure with BoundProcedure {
    override def description(): String = s"graft $name"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val (schema, values) = body(str(input, 0), input)
      Collections.singletonList(rowsOf(schema, values)).iterator()
    }
  }

  private def procs(catalog: GraftCatalog): Map[String, Proc] = {
    def dirOf(table: String): String = {
      val parts = table.split('.')
      catalog.tableDir(Identifier.of(parts.init, parts.last))
    }
    def make(name: String, ps: Seq[ProcedureParameter])(
        body: (String, InternalRow) => (StructType, Seq[Any])) =
      name -> new Proc(name, param("table", StringType) +: ps,
        (table, in) => { val (sch, row) = body(dirOf(table), in)
          (sch, Seq(row)) })
    def makeMulti(name: String, ps: Seq[ProcedureParameter])(
        body: (String, InternalRow) => (StructType, Seq[Seq[Any]])) =
      name -> new Proc(name, param("table", StringType) +: ps,
        (table, in) => body(dirOf(table), in))
    Map(
      make("optimize", Seq(param("zorder_cols", StringType),
          paramD("bits", IntegerType, "8"),
          paramD("num_files", IntegerType, "8"))) { (dir, in) =>
        (versionOut, Seq(Snapshots.optimize(spark, dir, csv(in, 1),
          bits = in.getInt(2), numFiles = in.getInt(3))))
      },
      // incremental small-file compaction: files under small_mb are
      // bin-packed into ~target_mb outputs as ONE content-preserving
      // commit — healthy files are never read or moved, kept files'
      // DV entries carry forward, rewritten files' deletions
      // materialize. The nightly maintenance verb for streaming-fed
      // tables; no-ops (returns the head) when <2 files qualify.
      make("compact", Seq(paramD("small_mb", IntegerType, "32"),
          paramD("target_mb", IntegerType, "128"))) { (dir, in) =>
        (versionOut, Seq(Snapshots.compact(spark, dir,
          smallBytes = in.getInt(1).toLong << 20,
          targetBytes = in.getInt(2).toLong << 20)))
      },
      // stage_orphan_hours: how old a _stream_stage epoch dir must be
      // before it is swept as an orphan (see Snapshots.vacuum's
      // stageOrphanMs doc) — raise it when paused streaming queries may
      // resume later than the default 24h
      make("vacuum", Seq(param("keep", IntegerType),
          paramD("stage_orphan_hours", IntegerType, "24"))) { (dir, in) =>
        val (files, versions) = Snapshots.vacuum(spark, dir, in.getInt(1),
          stageOrphanMs = in.getInt(2).toLong * 3600L * 1000L)
        (new StructType().add("files_deleted", IntegerType)
          .add("versions_dropped", IntegerType), Seq(files, versions))
      },
      // force-fold the metadata checkpoint at the newest reachable
      // CheckpointEvery multiple — the operational verb after a bulk
      // history import, a vacuumed-away checkpoint, or failed
      // best-effort writes; deep reads drop back to O(CheckpointEvery)
      // side-file opens immediately instead of at the next commit
      // multiple. Returns the checkpointed version (0 = table
      // shallower than one checkpoint span, nothing to fold).
      make("checkpoint", Seq.empty) { (dir, _) =>
        (versionOut, Seq(Snapshots.checkpointNow(spark, dir)))
      },
      // compliance deletion (right-to-be-forgotten) from SQL: the
      // tombstone keys come from a registered view/table NAME (CALL
      // parameters cannot bind a relation), e.g.
      //   CREATE TEMP VIEW gone AS SELECT id FROM requests;
      //   CALL graft.system.purge(table => 'db.t', key_cols => 'id',
      //                           tombstones_view => 'gone')
      make("purge", Seq(param("key_cols", StringType),
          param("tombstones_view", StringType),
          paramD("max_tombstones", IntegerType, "100000"))) { (dir, in) =>
        val (files, versions, rows) = Snapshots.purge(spark, dir,
          spark.table(str(in, 2)), csv(in, 1),
          maxTombstones = in.getInt(3))
        (new StructType().add("files_rewritten", IntegerType)
          .add("versions_republished", IntegerType)
          .add("rows_deleted", org.apache.spark.sql.types.LongType),
          // Seq[Any], NOT Seq(...): a mixed Int/Long literal Seq infers
          // Seq[Long] and silently WIDENS the Ints — the declared
          // IntegerType columns would then hold Longs and fail the
          // result projection
          Seq[Any](files, versions, rows))
      },
      // rollback-as-a-new-commit: CALL graft.system.restore(
      //   table => 'db.t', version => 3) — or timestamp => an epoch-
      // millis long / 'yyyy-MM-dd[ HH:mm:ss]' literal, resolved along
      // main's ancestry exactly like TIMESTAMP AS OF. One metadata
      // commit, no data moved; history stays time-travelable.
      make("restore", Seq(paramD("version", IntegerType, "-1"),
          paramD("timestamp", StringType, "''"))) { (dir, in) =>
        val byVersion = in.getInt(1)
        val ts = str(in, 2)
        require((byVersion >= 1) ^ ts.nonEmpty,
          "restore: give exactly one of version or timestamp")
        val target =
          if (byVersion >= 1) byVersion
          else {
            val v = Snapshots.versionAsOf(spark, dir,
              SnapshotSource.parseInstant(ts))
            require(v >= 1,
              s"restore: no version existed at '$ts' (or it was vacuumed)")
            v
          }
        (versionOut, Seq(Snapshots.restore(spark, dir, target)))
      },
      make("create_ref", Seq(param("name", StringType),
          paramD("version", IntegerType, "-1"),
          paramD("tag", BooleanType, "false"))) { (dir, in) =>
        (versionOut, Seq(Snapshots.createRef(spark, dir, str(in, 1),
          version = in.getInt(2), tag = in.getBoolean(3))))
      },
      make("drop_ref", Seq(param("name", StringType))) { (dir, in) =>
        Snapshots.dropRef(spark, dir, str(in, 1))
        (new StructType().add("name", StringType), Seq(str(in, 1)))
      },
      make("fast_forward", Seq(param("name", StringType),
          param("to_version", IntegerType))) { (dir, in) =>
        Snapshots.fastForward(spark, dir, str(in, 1), in.getInt(2))
        (versionOut, Seq(in.getInt(2)))
      },
      make("merge_branch", Seq(param("name", StringType),
          paramD("key_cols", StringType, "''"))) { (dir, in) =>
        (versionOut, Seq(Snapshots.mergeBranch(spark, dir, str(in, 1),
          keyCols = csv(in, 2))))
      },
      // the table's storage directory — what readStream/format-level
      // access needs (the streaming change feed has no catalog-name
      // entry point; `spark.readStream.format("graft-snapshots")
      // .option("path", dir)` does)
      make("table_dir", Seq.empty) { (dir, _) =>
        (new StructType().add("dir", StringType), Seq(dir))
      },
      // the commit graph as rows — DESCRIBE HISTORY for snapshot
      // tables: one row per (surviving) version, newest first, with
      // commit instant, parent(s) (two for a branch merge), file count,
      // merge-on-read state, and whether the version is on main's
      // ancestry (branch commits show on_main = false). Metadata-only:
      // O(versions) side-file reads, no data touched at any table size.
      makeMulti("history", Seq.empty) { (dir, _) =>
        val f = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val head = Snapshots.latestVersion(spark, dir)
        require(head >= 1, s"history: no versions at $dir")
        // one state serves the line walk, every instant, parent list
        // and op verb below — O(CheckpointEvery) metadata opens for a
        // deep table, not three side-files per version
        val graph = Snapshots.state(f, dir, head)
        val onMain = graph.ancestrySet(Snapshots.mainVersion(spark, dir))
        val schema = new StructType()
          .add("version", IntegerType).add("committed_at", TimestampType)
          .add("parents", StringType).add("n_files", IntegerType)
          .add("has_dv", BooleanType).add("on_main", BooleanType)
          .add("operation", StringType)
        (schema, (head to 1 by -1).flatMap { v =>
          // vacuumed versions have no manifest anymore — skip them
          scala.util.Try(Snapshots.files(spark, dir, v)).toOption.map {
            fls =>
              Seq[Any](v, graph.instant(f, dir, v) * 1000L,
                graph.parents(v).filter(_ >= 1).mkString(" "),
                fls.size, Snapshots.hasDv(spark, dir, v),
                onMain.contains(v),
                // the recorded mutation verb (vN.op — upsert/cdc/
                // update); plain commits and pre-op tables show "write"
                graph.op(v).map(_._1)
                  .getOrElse("write"))
          }
        })
      },
      // the live file inventory at main's head — path, writing commit,
      // bytes, footer row count, and the recorded per-column stat
      // bounds ("col:[mn,mx]"). O(files) driver metadata (footers +
      // side-files); what an operator reads before sizing an optimize
      // or diagnosing why a filter did not prune.
      makeMulti("files", Seq.empty) { (dir, _) =>
        val head = Snapshots.mainVersion(spark, dir)
        require(head >= 1, s"files: no versions at $dir")
        val schema = new StructType().add("path", StringType)
          .add("vintage", IntegerType)
          .add("size_bytes", org.apache.spark.sql.types.LongType)
          .add("row_count", org.apache.spark.sql.types.LongType)
          .add("stats", StringType)
        (schema, Snapshots.fileInventory(spark, dir, head).map {
          case (p, c, sz, rc, st) => Seq[Any](p, c, sz, rc, st)
        })
      },
      // every branch/tag with its pinned version — metadata-only
      makeMulti("refs", Seq.empty) { (dir, _) =>
        val schema = new StructType().add("name", StringType)
          .add("version", IntegerType).add("is_tag", BooleanType)
        (schema, Snapshots.refs(spark, dir).toSeq.sortBy(_._1).map {
          case (n, (v, tag)) => Seq[Any](n, v, tag)
        })
      },
      // the catalog user's road to the CHANGE FEED without knowing the
      // table's directory: registers a temp view over the distributed
      // batch-CDF relation (the view SCANS lazily — only the
      // registration runs at CALL time)
      // the change feed as a RESULT SET — the audit-sized convenience
      // twin of change_view: computes the SAME distributed batch-CDF
      // frame, then returns up to max_rows to the driver (a CALL result
      // is always driver rows — Spark's InvokeProcedures supports only
      // LocalScan). Refused above the cap with guidance to change_view,
      // whose registered view scans lazily at any size — so the
      // interactive audit stays one statement and the 100 TB replay
      // stays distributed.
      makeMulti("changes", Seq(
          paramD("starting_version", IntegerType, "1"),
          paramD("ending_version", IntegerType, "-1"),
          paramD("max_rows", IntegerType, "10000"))) { (dir, in) =>
        val head = Snapshots.mainVersion(spark, dir)
        val from = in.getInt(1)
        val to = if (in.getInt(2) >= 1) in.getInt(2) else head
        val cap = in.getInt(3)
        require(from >= 1 && to >= from && to <= head,
          s"changes: version range [$from, $to] not within [1, $head]")
        require(cap >= 1, s"changes: max_rows must be positive, got $cap")
        val rel = new ChangeFeedBatchRelation(spark, dir, from - 1, to,
          Snapshots.evolvedSchema(spark, dir, head), head)
        val df = org.apache.spark.sql.GraftBatchView.ofRows(spark,
          org.apache.spark.sql.execution.datasources.LogicalRelation(
            rel, false))
        // toRdd keeps values in catalyst form (UTF8String, micros) —
        // exactly what the LocalScan's InternalRows must carry
        val rows = df.limit(cap + 1).queryExecution.toRdd
          .map(_.copy()).collect()
        require(rows.length <= cap,
          s"changes: result exceeds max_rows=$cap — raise it, or use " +
            "CALL graft.system.change_view(...) and query the " +
            "registered view (scans lazily at any size)")
        (df.schema, rows.toSeq.map(_.toSeq(df.schema)))
      },
      make("change_view", Seq(param("view_name", StringType),
          paramD("starting_version", IntegerType, "1"),
          paramD("ending_version", IntegerType, "-1"))) { (dir, in) =>
        val head = Snapshots.mainVersion(spark, dir)
        val from = in.getInt(2)
        val to = if (in.getInt(3) >= 1) in.getInt(3) else head
        require(from >= 1 && to >= from && to <= head,
          s"change_view: version range [$from, $to] not within " +
            s"[1, $head]")
        val rel = new ChangeFeedBatchRelation(spark, dir, from - 1, to,
          Snapshots.evolvedSchema(spark, dir, head), head)
        org.apache.spark.sql.GraftBatchView.ofRows(spark,
          org.apache.spark.sql.execution.datasources.LogicalRelation(
            rel, false))
          .createOrReplaceTempView(str(in, 1))
        (new StructType().add("view_name", StringType)
          .add("from_version", IntegerType)
          .add("to_version", IntegerType),
          Seq(str(in, 1), from, to))
      }
    )
  }

  def load(catalog: GraftCatalog, ident: Identifier): UnboundProcedure = {
    require(ident.namespace.toSeq == Seq("system"),
      s"graft catalog: procedures live in the 'system' namespace " +
        s"(CALL ${catalog.name()}.system.<proc>), got $ident")
    procs(catalog).getOrElse(ident.name,
      throw new RuntimeException(
        s"graft catalog: no procedure '${ident.name}' — available: " +
          procs(catalog).keys.toSeq.sorted.mkString(", ")))
  }

  def list(catalog: GraftCatalog,
      namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system") || namespace.isEmpty)
      procs(catalog).keys.toSeq.sorted
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty
}
