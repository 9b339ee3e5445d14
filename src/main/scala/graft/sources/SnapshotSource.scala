package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, Filter, PrunedFilteredScan, RelationProvider}
import org.apache.spark.sql.types.{DataType, StructType}

/** `graft-snapshots`: the USER-FACING front door of the snapshot table
  * format — the [[Snapshots]] lakehouse layer (versioned manifests,
  * schema evolution, file stats, deletion vectors) reachable from
  * `spark.read.format("graft-snapshots")` and, through a registered
  * `CREATE TEMPORARY VIEW … USING` view, from plain `spark.sql` — the
  * same pattern as the reference exposing its connector as a macro any
  * query can call (ecl/HDFSConnector.ecl:54) rather than an internal
  * library.
  *
  * Options:
  *  - `path` (or the `load(dir)` argument): the snapshot table directory
  *  - `versionAsOf`: pin the read to a committed version (default latest)
  *  - `timestampAsOf`: pin to the version live at an instant — epoch
  *    millis or a `yyyy-MM-dd[ HH:mm:ss]` literal ([[Snapshots.versionAsOf]],
  *    durable across compliance purges via the vN.meta commit instants)
  *
  * ARCHITECTURE — resolve metadata, delegate execution: the provider
  * resolves the manifest to a concrete file set and hands Spark a
  * [[HadoopFsRelation]] over its OWN vectorized parquet machinery, the
  * same shape Delta Lake ships (DeltaDataSource → TahoeLogFileIndex →
  * ParquetFileFormat). A row-producing DSv2 `PartitionReader` would
  * re-implement parquet decoding and forfeit columnar batches +
  * whole-stage codegen; here the snapshot layer's job stays METADATA
  * (which files, which names, which rows are dead) and every decoded
  * byte flows through the engine-native scan:
  *  - file-level stats pruning runs in [[SnapshotFileIndex.listFiles]],
  *    the exact hook Spark's planner hands pushed-down data filters to a
  *    file source through (`FileSourceStrategy` → `location.listFiles`),
  *    by the one rule every snapshot caller shares ([[StatsPruning]])
  *    — a pruned file never reaches the scan, pinned by the scan's
  *    `numFiles` metric;
  *  - schema evolution resolves via [[Snapshots.evolvedSchema]]: renamed
  *    vintages are read by a [[ParquetFileFormat]] subclass that remaps
  *    the requested schema per file back to the vintage-local names
  *    ([[Snapshots.vintageReads]]; positional output stays canonical),
  *    while type WIDENING
  *    (int→long, float→double) rides the parquet reader's native schema
  *    promotion and missing columns backfill as null — zero per-row
  *    overhead for evolution; a (sub)field the reader cannot widen (say
  *    long→double) is read at its stored type and cast after decoding;
  *  - a merge-on-read version's deletes are per-file vectors the
  *    manifest names ([[DeletionVectors]]): each task opens the vector
  *    of the file it reads and skips its dead ordinals inside the reader
  *    (row-wise while a vector is pending; OPTIMIZE restores the
  *    columnar path). The driver never holds positions, so building a
  *    read starts no job at any vector size.
  *
  * The write side ([[CreatableRelationProvider]]) maps SaveMode onto the
  * commit protocol: Append = carry the file set forward, Overwrite = a
  * rewrite commit (history stays readable), with `statsCols` /
  * `renames` options riding onto [[Snapshots.commit]].
  *
  * Streaming: `readStream` is the V1 [[SnapshotStreamSource]] /
  * [[SnapshotChangeFeedSource]] ([[createSource]]); `writeStream`
  * resolves through the [[TableProvider]] half ([[getTable]]) to a
  * [[SnapshotPathTable]] whose only capability is STREAMING_WRITE, i.e.
  * to the same [[SnapshotStreamingWrite]] the catalog's `toTable` uses —
  * one commit per micro-batch, executor-staged parts, a per-query
  * exactly-once stamp, options `keyCols` / `statsCols` / `branch`.
  */
class SnapshotSource extends RelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with TableProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshots"

  /** The table's schema for a stream starting NOW, plus the version it
    * was resolved at: the stream line's head schema (main, or a named
    * branch) when any version exists, else the declared `_SCHEMA`
    * side-file (a created-but-never-committed catalog table still
    * streams — it just emits no batches until the first commit
    * publishes; the resolved version is then 0). */
  private def tableSchemaNow(ctx: SQLContext, dir: String,
      branch: Option[String] = None): (StructType, Int) = {
    val latest = branch
      .map(Snapshots.refVersion(ctx.sparkSession, dir, _))
      .getOrElse(Snapshots.mainVersion(ctx.sparkSession, dir))
    (SnapshotSource.schemaAt(ctx.sparkSession, dir, latest), latest)
  }

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshots source requires a path"))
    val (table, _) = tableSchemaNow(ctx, dir, parameters.get("branch"))
    (shortName(),
      if (parameters.get("readchangefeed").exists(_.toBoolean))
        SnapshotSource.cdfSchema(table)
      else table)
  }

  /** Streaming SOURCE over a snapshot table: offsets are VERSIONS of the
    * main line, each micro-batch is the rows of the files the offset
    * range added — change detection is one version-counter listing, and
    * the batch reads through Spark's native parquet scan (the
    * [[org.apache.spark.sql.execution.streaming.Source]] contract lets
    * getBatch return a plain DataFrame, the same shape FileStreamSource
    * uses). APPEND-STREAM semantics, the lakehouse streaming default: a
    * version that rewrites or deletes (file set not a superset, or a new
    * deletion vector) fails the stream with an actionable error unless
    * `ignoreChanges=true`, which emits just the file-diff rows (deletes
    * don't retract; downstream compensation is the consumer's choice —
    * exactly Delta's ignoreChanges contract). `maxVersionsPerTrigger=N`
    * bounds each micro-batch to N versions ([[VersionOfferCursor]]) so
    * a stream starting on a long-history table catches up in bounded
    * batches instead of one giant replay. Composes with the streaming
    * write for end-to-end table → stream → table pipelines. */
  override def createSource(ctx: SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshots source requires a path"))
    val ignoreChanges =
      parameters.get("ignorechanges").exists(_.toBoolean)
    // branch=name: the stream follows the NAMED branch's line instead
    // of main — offsets are the branch ref's head, the per-batch chain
    // walk rides the same parent pointers (an experiment branch feeds
    // its own downstream without waiting for the merge)
    val branch = parameters.get("branch")
    branch.foreach { n =>
      val refs = Snapshots.refs(ctx.sparkSession, dir)
      require(refs.get(n).exists(!_._2),
        s"graft-snapshots source: no branch '$n' at $dir (tags cannot " +
          "stream — they never advance)")
    }
    // startingVersion=N / startingTimestamp=ts: a fresh stream's first
    // batch begins AT version N (or the first version committed at or
    // after ts) instead of replaying the whole table — checkpointed
    // restarts ignore both (the recorded offset wins, the standard
    // lakehouse contract)
    require(!(parameters.contains("startingversion") &&
        parameters.contains("startingtimestamp")),
      "graft-snapshots source: startingVersion and startingTimestamp " +
        "are exclusive")
    val startingVersion = parameters.get("startingtimestamp") match {
      // resolve against the FOLLOWED line's ancestry: a branch stream's
      // timestamp must land on a branch ancestor, not a main version
      case Some(ts) => Snapshots.versionSince(ctx.sparkSession, dir,
        SnapshotSource.parseInstant(ts), branch)
      case None =>
        val sv = parameters.get("startingversion").map(_.toInt)
          .getOrElse(1)
        require(sv >= 1,
          "graft-snapshots source: startingVersion must be >= 1")
        sv
    }
    // maxVersionsPerTrigger=N: admission control — each micro-batch
    // covers at most N versions, so a stream starting on a long-history
    // table catches up in bounded batches instead of replaying the
    // whole history as one giant batch
    val maxVersionsPerTrigger = parameters.get("maxversionspertrigger")
      .map(_.toInt)
    maxVersionsPerTrigger.foreach(m => require(m >= 1,
      "graft-snapshots source: maxVersionsPerTrigger must be >= 1"))
    // maxFilesPerTrigger=N: finer admission control — micro-batches can
    // stop MID-version (GraftFileOffset), so one giant backfill version
    // no longer floods a single batch. Plain stream only: the change
    // feed's per-version semantics (DV deltas, pre/post-image pairing,
    // rewrite compensation) do not split below a version.
    val maxFilesPerTrigger = parameters.get("maxfilespertrigger")
      .map(_.toInt)
    maxFilesPerTrigger.foreach(m => require(m >= 1,
      "graft-snapshots source: maxFilesPerTrigger must be >= 1"))
    // maxBytesPerTrigger=N: byte-based admission — a version of few
    // GIANT files no longer floods a micro-batch the file cap would
    // admit. Soft max (at least one file per batch), mid-version
    // offsets, composes with both other caps.
    val maxBytesPerTrigger = parameters.get("maxbytespertrigger")
      .map(_.toLong)
    maxBytesPerTrigger.foreach(m => require(m >= 1,
      "graft-snapshots source: maxBytesPerTrigger must be >= 1"))
    // the stream's schema and the version it is canonical at, which
    // anchors each batch's per-vintage names; tableSchemaNow handles the
    // created-but-never-committed table (declared `_SCHEMA`, version 0 —
    // the source idles via getOffset=None until v1 commits)
    val (tschema, atV) = tableSchemaNow(ctx, dir, branch)
    if (parameters.get("readchangefeed").exists(_.toBoolean)) {
      require(!ignoreChanges, "graft-snapshots source: readChangeFeed " +
        "and ignoreChanges are exclusive (the change feed REPRESENTS " +
        "deletes and rewrites instead of dropping or refusing them)")
      require(maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty,
        "graft-snapshots source: maxFilesPerTrigger/maxBytesPerTrigger " +
        "do not apply to the change feed (its deltas are per-version); " +
        "use maxVersionsPerTrigger")
      new SnapshotChangeFeedSource(ctx.sparkSession, dir, tschema,
        startingVersion, schemaVersion = atV,
        maxVersionsPerTrigger = maxVersionsPerTrigger,
        metadataPath = metadataPath, branch = branch)
    } else
      new SnapshotStreamSource(ctx.sparkSession, dir, tschema,
        ignoreChanges, startingVersion, maxVersionsPerTrigger,
        metadataPath, branch = branch,
        maxFilesPerTrigger = maxFilesPerTrigger,
        maxBytesPerTrigger = maxBytesPerTrigger, schemaVersion = atV)
  }

  /** The [[TableProvider]] half: `writeStream.format("graft-snapshots")`
    * resolves to a [[SnapshotPathTable]], which advertises only
    * STREAMING_WRITE, so batch `load()`/`save()` and `readStream` (which
    * call this too) fall back to the V1 relation and source above. No
    * I/O but the check of an explicit `branch`, which runs on the caller
    * thread of `start()` and so refuses there, not in the first epoch. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions
        .Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val dir = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-snapshots requires a path"))
    val branch = Option(opts.get("branch"))
    // branch=name: each epoch commits on the NAMED branch (stream into a
    // branch, validate, fast_forward main); keyed merges stay on main
    branch.foreach { n =>
      require(SnapshotStreamingWrite.keyColsOf(opts).isEmpty,
        "graft-snapshots: keyCols (merge by key) cannot target a branch " +
          "— stream appends/rewrites onto it, or upsert on main")
      require(Snapshots.refs(SparkSession.active, dir).contains(n),
        s"graft-snapshots: no branch '$n' at $dir (create it with " +
          "createRef / CALL system.create_ref)")
    }
    new SnapshotPathTable(dir, schema, branch)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshots requires a path (load(dir) or option(\"path\", …))"))
    val latest = Snapshots.latestVersion(spark, dir)
    require(latest >= 1, s"graft-snapshots: no committed versions at $dir")
    if (parameters.get("readchangefeed").exists(_.toBoolean)) {
      // batch CDF: the change rows of [startingVersion, endingVersion],
      // with timestamp twins (startingTimestamp = first version at or
      // after the instant; endingTimestamp = last version at or before);
      // `branch` follows a named branch's line instead of main
      val head = parameters.get("branch")
        .map(Snapshots.refVersion(spark, dir, _))
        .getOrElse(Snapshots.mainVersion(spark, dir))
      require(!(parameters.contains("startingversion") &&
          parameters.contains("startingtimestamp")) &&
        !(parameters.contains("endingversion") &&
          parameters.contains("endingtimestamp")),
        "graft-snapshots: version and timestamp range bounds are " +
          "exclusive per side")
      // timestamp bounds resolve against the FOLLOWED line's ancestry
      // (main, or the named branch) — a main-line version number is not
      // a branch ancestor, and a range anchored there would diff
      // against the wrong base file set
      val cdfBranch = parameters.get("branch")
      val from = parameters.get("startingtimestamp")
        .map(ts => Snapshots.versionSince(spark, dir,
          SnapshotSource.parseInstant(ts), cdfBranch))
        .orElse(parameters.get("startingversion").map(_.toInt))
        .getOrElse(1)
      val to = parameters.get("endingtimestamp")
        .map(ts => Snapshots.versionAsOf(spark, dir,
          SnapshotSource.parseInstant(ts), cdfBranch))
        .orElse(parameters.get("endingversion").map(_.toInt))
        .getOrElse(head)
      require(from >= 1 && to >= from && to <= head,
        s"graft-snapshots: readChangeFeed range [$from, $to] not " +
          s"within [1, $head] at $dir")
      return new ChangeFeedBatchRelation(spark, dir, from - 1, to,
        Snapshots.evolvedSchema(spark, dir, head), head)
    }
    SnapshotSource.versionRelation(spark, dir,
      resolveVersion(spark, dir, parameters, latest))
  }

  private def resolveVersion(spark: SparkSession, dir: String,
      parameters: Map[String, String], latest: Int): Int = {
    val picked = Seq("versionasof", "timestampasof", "branch")
      .flatMap(k => parameters.get(k).map(k -> _))
    require(picked.size <= 1,
      "graft-snapshots: versionAsOf, timestampAsOf, and branch are exclusive")
    picked.headOption match {
      case Some(("versionasof", vs)) =>
        val v = vs.toInt
        require(v >= 1 && v <= latest,
          s"graft-snapshots: version $v not in [1, $latest] at $dir")
        v
      case Some(("timestampasof", ts)) =>
        val millis = SnapshotSource.parseInstant(ts)
        val v = Snapshots.versionAsOf(spark, dir, millis)
        require(v >= 1,
          s"graft-snapshots: no version existed at $ts (or it was vacuumed)")
        v
      case Some(("branch", name)) => Snapshots.refVersion(spark, dir, name)
      // default = MAIN's head (the linear latest unless the table is
      // ref-tracked, where the global latest may be a branch head)
      case _ => Snapshots.mainVersion(spark, dir)
    }
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val dir = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-snapshots requires a path to write to"))
    val latest = Snapshots.latestVersion(spark, dir)
    val statsCols = parameters.get("statscols").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    val renames = parameters.get("renames").toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf(':')
        require(i > 0, s"graft-snapshots: renames entries are old:new, got $kv")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap
    // branch=name targets the NAMED branch: the commit bases on the
    // branch head and advances only its ref (previously the option was
    // silently dropped here and the write landed on main — a silent
    // wrong-target hazard; the read side honored it all along)
    def commitTo(append: Boolean): Unit = {
      Snapshots.commitTo(spark, dir, parameters.get("branch"),
        Snapshots.FrameParts(data), _ => append, renames, statsCols)
      ()
    }
    mode match {
      case SaveMode.Append => commitTo(append = latest >= 1)
      case SaveMode.Overwrite => commitTo(append = false)
      case SaveMode.ErrorIfExists =>
        if (latest >= 1) throw new IllegalStateException(
          s"graft-snapshots: table at $dir already has $latest version(s)")
        commitTo(append = false)
      case SaveMode.Ignore =>
        if (latest == 0) commitTo(append = false)
    }
    createRelation(ctx, parameters - "versionasof" - "timestampasof" -
      "branch")
  }
}

/** The `graft-snapshots` streaming source (see
  * [[SnapshotSource.createSource]]): version-offset micro-batches over
  * the main line of a snapshot table. */
/** A position in a snapshot table's stream line: version `v`, with `i`
  * of its ADDED files already consumed (`i = -1` = the whole version).
  * The unit of admission control: version-capped offers move whole
  * versions, file-capped offers can stop MID-version. */
private[sources] case class FilePos(v: Int, i: Int) {
  private def iNorm: Long = if (i < 0) Long.MaxValue else i.toLong
  def <=(o: FilePos): Boolean = v < o.v || (v == o.v && iNorm <= o.iNorm)
  def <(o: FilePos): Boolean = v < o.v || (v == o.v && iNorm < o.iNorm)
}

/** The mid-version streaming offset (`maxFilesPerTrigger`): version `v`
  * with its first `i` added files consumed. Version-capped and uncapped
  * streams keep plain LongOffsets (whole versions, back-compatible). */
private[sources] case class GraftFileOffset(v: Int, i: Int)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = s"""{"v":$v,"i":$i}"""
}

private[sources] object GraftFileOffset {
  private val Pattern = """\{"v":(\d+),"i":(-?\d+)\}""".r
  /** Parse any offset rendering into a position: a plain long (the
    * version-offset form) = that version fully consumed. */
  def posOf(json: String): FilePos = json.trim match {
    case Pattern(v, i) => FilePos(v.toInt, i.toInt)
    case n => FilePos(n.toInt, -1)
  }
}

/** Per-trigger admission control shared by the snapshot streaming
  * sources: tracks the furthest POSITION already offered to the engine
  * ([[FilePos]] — whole versions for `maxVersionsPerTrigger`, possibly
  * mid-version for `maxFilesPerTrigger`). The cursor is PERSISTED in
  * the source's own checkpoint directory (`metadataPath`, the
  * V1-source state home), so a restarted query resumes its cap from at
  * least the recorded offset — offering below the committed offset
  * would make the engine re-run old data as duplicates. The write
  * happens on every raise DURING getBatch (i.e. before the engine
  * could ever commit that offset), and only when a cap is configured
  * (uncapped offers are always the head, which can never regress). */
private[sources] final class VersionOfferCursor(spark: SparkSession,
    metadataPath: String, startingVersion: Int, capped: Boolean) {

  private val path = new Path(metadataPath, "graft-max-offered")

  @volatile private var offered: FilePos = {
    val persisted: Option[FilePos] =
      try {
        val f = path.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        if (f.exists(path)) {
          val in = f.open(path)
          val txt = (try scala.io.Source.fromInputStream(in, "UTF-8")
            .mkString finally in.close()).trim
          val parts = txt.split(':')
          Some(FilePos(parts(0).toInt,
            if (parts.length > 1) parts(1).toInt else -1))
        } else None
      } catch { case _: Exception => None }
    val floor = FilePos(startingVersion - 1, -1)
    persisted.filter(floor < _).getOrElse(floor)
  }

  def current: FilePos = offered

  /** Raise the cursor to `p` (idempotent; persists when capped). */
  def note(p: FilePos): Unit = synchronized {
    if (offered < p) {
      offered = p
      if (capped) {
        try {
          val f = path.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          Snapshots.atomicOverwrite(spark, f, metadataPath, path,
            "_graft-max-offered.tmp", s"${p.v}:${p.i}")
        } catch { case _: Exception => } // worst case: re-read from log
      }
    }
  }

  /** Whole-version offer (the `maxVersionsPerTrigger` shape): the
    * version to offer given the line head (≥1), capped and monotone;
    * None while nothing at-or-past startingVersion exists. */
  def offerVersion(head: Int, cap: Option[Int]): Option[Int] =
    synchronized {
      val cappedV = cap match {
        case Some(m) => math.min(head, offered.v + m)
        case None => head
      }
      val off = math.max(cappedV, offered.v)
      if (off < 1) None
      else { note(FilePos(off, -1)); Some(off) }
    }
}

/** Memoized ancestry of a stream's followed LINE (main or a named
  * branch): the ascending set of versions reachable from the line head
  * through the `vN.meta` parent pointers. Capped admission control must
  * advance along THIS set, never raw version numbers — branch commits
  * share the global version counter, so a `cursor + cap` arithmetic
  * offer can land on an interleaved OTHER-line version, whose parent
  * chain would then leak that line's rows into this stream (and they
  * are never retracted). The walk is incremental: a ref only advances
  * along its own line, so each new head's parent walk stops at an
  * already-known ancestor — O(new commits) tiny meta reads per trigger,
  * not O(history). */
private[sources] final class LineAncestry(spark: SparkSession,
    dir: String) {
  private val onLine = scala.collection.mutable.TreeSet.empty[Int]
  private var walkedHead = 0

  /** The on-line versions up to `head`, ascending. */
  def upTo(f: org.apache.hadoop.fs.FileSystem, head: Int)
      : scala.collection.SortedSet[Int] = synchronized {
    if (head > walkedHead) {
      // one state resolve (checkpoint + suffix), then in-memory: a
      // stream RESTART against a year-deep table pays
      // O(CheckpointEvery) metadata opens, not O(versions)
      val g = Snapshots.state(f, dir, head)
      var v = head
      while (v >= 1 && !onLine.contains(v)) {
        onLine += v
        val p = g.parent(v)
        v = if (p < v) p else -1
      }
      walkedHead = head
    }
    onLine
  }

  /** The `cap`-th ON-LINE version past `from` (bounded by `head`);
    * `from` itself when the line has nothing past it. */
  def advance(f: org.apache.hadoop.fs.FileSystem, head: Int, from: Int,
      cap: Int): Int = {
    val it = upTo(f, head).iteratorFrom(from + 1).takeWhile(_ <= head)
    var last = from
    var n = 0
    while (n < cap && it.hasNext) { last = it.next(); n += 1 }
    last
  }
}

private[graft] class SnapshotStreamSource(spark: SparkSession,
    dir: String, fixedSchema: StructType, ignoreChanges: Boolean,
    startingVersion: Int = 1,
    maxVersionsPerTrigger: Option[Int] = None,
    metadataPath: String = "",
    branch: Option[String] = None,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    schemaVersion: Int = -1)
    extends org.apache.spark.sql.execution.streaming.Source {

  import org.apache.spark.sql.execution.streaming.{Offset => SrcOffset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override def schema: StructType = fixedSchema

  private def lineHead: Int = branch
    .map(Snapshots.refVersion(spark, dir, _))
    .getOrElse(Snapshots.mainVersion(spark, dir))

  // the version whose canonical schema IS fixedSchema: every batch's
  // per-vintage names are resolved from here, so a vintage written after
  // a later RENAME COLUMN still fills the stream's (older) column name
  private val canonVersion: Int =
    if (schemaVersion >= 0) schemaVersion else lineHead

  private val cursor = new VersionOfferCursor(spark,
    if (metadataPath.isEmpty) // direct (spec) construction only — the
      // engine always provides the checkpoint-scoped metadataPath
      java.nio.file.Files.createTempDirectory("graft-src-meta").toString
    else metadataPath,
    startingVersion,
    capped = maxVersionsPerTrigger.isDefined ||
      maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)

  // capped offers advance along the followed line's ancestry, never raw
  // version numbers (interleaved branch commits would put the offset on
  // the other line and its rows into this stream)
  private val line = new LineAncestry(spark, dir)

  // file- and byte-capped admission can stop MID-version
  private val midVersion =
    maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined

  // the files version `cv` ADDED over its parent (read from state `g`,
  // resolved once per trigger at or above `cv`), in manifest order
  // (stable — what mid-version offsets index into), with their sizes
  // when byte-capped admission needs them (one driver metadata call per
  // file, once). Memoized: manifests are immutable while a stream runs
  // (purge requires quiescence). Bounded: a stream alive across a
  // million versions must not hold a million file lists — old entries
  // are recomputable on demand.
  private val addedCache =
    scala.collection.mutable.Map.empty[Int, Seq[(String, Long)]]
  private def addedOf(f: org.apache.hadoop.fs.FileSystem,
      g: Snapshots.TableState, cv: Int): Seq[(String, Long)] = {
    // evict BEFORE the lookup: clearing inside getOrElseUpdate's default
    // would mutate the map mid-update (works on current 2.13 only by
    // implementation accident) and wipe hot entries mid-catch-up
    if (!addedCache.contains(cv) && addedCache.size > 1024)
      addedCache.clear()
    addedCache.getOrElseUpdate(cv, {
      val parent = g.parent(cv)
      val parentSet =
        if (parent >= 1) Snapshots.files(spark, dir, parent).toSet
        else Set.empty[String]
      val adds = Snapshots.files(spark, dir, cv).filterNot(parentSet)
      if (maxBytesPerTrigger.isEmpty) adds.map((_, 0L))
      else adds.map(p =>
        (p, f.getFileStatus(new Path(dir, p)).getLen))
    })
  }

  /** The furthest position a single trigger may reach from `from`:
    * first the remainder of the partially-consumed version, then whole
    * (or partial) following versions, bounded by ALL configured caps
    * (versions, files, bytes). The byte cap is a soft max: a batch
    * always admits at least one file (else a file above the budget
    * would wedge the stream) and may overshoot by the file that crosses
    * the budget — Delta's maxBytesPerTrigger contract. Returns a
    * version-normalized position (i == that version's added count when
    * fully consumed) so a caught-up source re-offers an EQUAL offset. */
  private def advancePos(f: org.apache.hadoop.fs.FileSystem,
      from: FilePos, head: Int): FilePos = {
    val maxF = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    val maxV = maxVersionsPerTrigger.getOrElse(Int.MaxValue)
    val maxB = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    // one state answers every version the trigger walks
    val g = Snapshots.state(f, dir, head)
    def count(x: Int) = if (x < 1) 0 else addedOf(f, g, x).size
    var v = math.max(from.v, startingVersion - 1)
    var i = math.min(if (from.i < 0) Int.MaxValue else from.i, count(v))
    var files = 0
    var bytes = 0L
    var versions = 0
    def take(fs: Seq[(String, Long)]): Unit =
      while (i < fs.size && files < maxF && bytes < maxB) {
        bytes += fs(i)._2; i += 1; files += 1
      }
    if (v >= 1 && i < count(v)) { // finish the current version first
      versions += 1
      take(addedOf(f, g, v))
    }
    // walk the LINE's versions, not raw numbers: an interleaved
    // other-line commit consumed here would emit its rows into this
    // stream (and count its files against this trigger's cap)
    val next = line.upTo(f, head).iteratorFrom(v + 1).takeWhile(_ <= head)
    while (files < maxF && bytes < maxB && versions < maxV &&
        next.hasNext) {
      v = next.next()
      versions += 1
      i = 0
      val fs = addedOf(f, g, v)
      take(fs)
      if (i < fs.size) return FilePos(v, i) // stopped mid-version
    }
    FilePos(v, i)
  }

  override def getOffset: Option[SrcOffset] = {
    val head = lineHead
    if (head < 1) return None
    if (!midVersion) {
      // whole-version offsets (plain longs — back-compatible); a capped
      // offer picks the cap-th ON-LINE version past the cursor, not
      // cursor + cap (which can land on an interleaved branch commit)
      val target = maxVersionsPerTrigger match {
        case Some(m) =>
          val f = new Path(dir).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          line.advance(f, head,
            math.max(cursor.current.v, startingVersion - 1), m)
        case None => head
      }
      cursor.offerVersion(target, None).map(v => LongOffset(v.toLong))
    } else {
      val f = new Path(dir).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val pos = advancePos(f, cursor.current, head)
      if (pos.v < 1) None
      else { cursor.note(pos); Some(GraftFileOffset(pos.v, pos.i)) }
    }
  }

  private def posOf(o: SrcOffset): FilePos = o match {
    case LongOffset(v) => FilePos(v.toInt, -1)
    case GraftFileOffset(v, i) => FilePos(v, i)
    case other => GraftFileOffset.posOf(other.json) // from the log
  }

  override def commit(end: SrcOffset): Unit = cursor.note(posOf(end))

  // the fresh-stream diff base: the followed LINE's last version
  // strictly below startingVersion (on a linear table = startingVersion
  // - 1). The raw predecessor NUMBER can be an interleaved other-line
  // commit (branch + startingTimestamp/startingVersion), whose file set
  // would be a wrong diff base — tripping the append-superset check or
  // mis-diffing the first batch. Lazy: versions below startingVersion
  // are immutable, so one walk serves the stream's lifetime.
  private lazy val startBase: Int =
    if (startingVersion <= 1) 0
    else {
      val head = lineHead
      if (head < 1) startingVersion - 1
      else {
        val f = new Path(dir).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        line.upTo(f, head).maxBefore(startingVersion).getOrElse(0)
      }
    }

  override def getBatch(start: Option[SrcOffset], end: SrcOffset)
      : DataFrame = {
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // a fresh stream (no checkpointed offset) starts AT startingVersion:
    // base = its LINE predecessor, so the line's versions from
    // startingVersion on are the first batch
    val p0 = start.map(posOf).getOrElse(FilePos(startBase, -1))
    val p1 = posOf(end)
    // a restart replays the recovered range through here before the
    // next getOffset — resume the admission cursor from it
    cursor.note(p1)
    val v0 = p0.v
    val v1 = p1.v
    // one state covers the line walks, the dropped-column check and the
    // scan: its version is at or above every added file's and the
    // stream's schema version
    val st = Snapshots.state(f, dir, math.max(v1, canonVersion))
    val baseEs =
      if (v0 >= 1) Snapshots.entries(spark, dir, v0) else Seq.empty
    val base: Set[String] = baseEs.map(_.path).toSet
    if (!ignoreChanges && v1 > v0) {
      // walk the LINE's parent chain from v1 back to v0 — branch commits
      // share the global version counter but are NOT on this line, so a
      // pure-append line must not fail on an interleaved other-line commit
      val chain = scala.collection.mutable.ArrayBuffer.empty[Int]
      var v = v1
      while (v > v0 && v >= 1) {
        chain += v
        val parent = st.parent(v)
        v = if (parent < v) parent else -1
      }
      var prev = baseEs.map(e => e.path -> e.dv).toMap
      chain.reverseIterator.foreach { cv =>
        val cur = Snapshots.entries(spark, dir, cv)
        val curSet = cur.map(_.path).toSet
        require(v0 < 1 || prev.isEmpty || prev.keys.forall(curSet),
          s"graft-snapshots source: version $cv of $dir rewrites files — " +
            "an append stream cannot represent it; pass " +
            "ignoreChanges=true to emit only added files' rows " +
            "(deletes will not retract)")
        // a version deletes rows when a line names a vector its
        // predecessor's line did not (manifest entries, no job)
        require(cur.forall(e =>
            e.dv.isEmpty || prev.get(e.path).contains(e.dv)),
          s"graft-snapshots source: version $cv of $dir deletes rows " +
            "(deletion vector) — pass ignoreChanges=true to stream only " +
            "appended rows")
        prev = cur.map(e => e.path -> e.dv).toMap
      }
    }
    val added: Seq[String] =
      if (p0.i < 0 && p1.i < 0)
        // whole-version offsets: the historical file-set diff (on an
        // append chain identical to summing per-version additions;
        // under ignoreChanges it skips files a later rewrite replaced)
        Snapshots.files(spark, dir, v1).filterNot(base.contains)
      else {
        // mid-version offsets (maxFilesPerTrigger/maxBytesPerTrigger):
        // per-version ADDED slices — the remainder of the partially-
        // consumed start version, whole intermediates, a prefix of the
        // end version
        def paths(cv: Int): Seq[String] = addedOf(f, st, cv).map(_._1)
        def resolve(p: FilePos): Int =
          if (p.i < 0) paths(p.v).size else p.i
        val vs = scala.collection.mutable.ArrayBuffer.empty[Int]
        var v = v1
        while (v > v0 && v >= 1) {
          vs += v
          val parent = st.parent(v)
          v = if (parent < v) parent else -1
        }
        val tail = vs.reverseIterator.flatMap { cv =>
          val all = paths(cv)
          if (cv == v1) all.take(resolve(p1)) else all
        }.toSeq
        val head =
          if (v0 >= 1 && resolve(p0) < paths(v0).size) {
            val h = paths(v0).drop(resolve(p0))
            if (v0 == v1) paths(v0).slice(resolve(p0), resolve(p1))
            else h
          } else Seq.empty
        if (v0 == v1) head else head ++ tail
      }
    // a column the stream reads that a commit after canonVersion dropped
    // has no value in the newer files: refuse rather than emit null
    val newer = added.map(Snapshots.vintageOf).distinct
      .filter(_ > canonVersion)
    if (newer.nonEmpty) {
      val local = Snapshots.localName(st.chain, canonVersion) _
      for (c <- newer; n <- fixedSchema.fieldNames)
        require(local(c, n) != Snapshots.DropMarker,
          s"graft-snapshots source: the table's schema evolved away from " +
            s"the stream's (version $c dropped column $n); restart the " +
            "stream to pick up the evolved schema")
    }
    // the added files through the one snapshot scan, under the stream's
    // schema (no deletion vector: an append stream emits added rows);
    // one LogicalRelation, so the streaming-flagged frame keeps its
    // column pruning and filter pushdown. The engine asserts getBatch
    // frames are streaming-flagged.
    org.apache.spark.sql.GraftBatchView.asStreaming(
      spark.baseRelationToDataFrame(SnapshotSource.relationFor(spark, dir,
        st, added.map(Snapshots.Entry(_)), canonVersion, fixedSchema)))
  }

  override def stop(): Unit = ()
  override def toString: String = s"SnapshotStreamSource[$dir]"
}

/** CHANGE-FEED streaming source (`readChangeFeed=true`): every version
  * on main's parent chain emits its row-level delta with a
  * `_change_type` (`insert` / `delete` / `update_preimage` /
  * `update_postimage`) and `_commit_version` column — the CDC view of
  * the table, subsuming `ignoreChanges` (which emits added rows and
  * silently DROPS deletes). Per version, against its parent:
  *  - files added → their live rows as `insert`s;
  *  - files whose deletion vector changed → the rows live under the
  *    parent's vector and dead under the new one (content read from the
  *    files, where they still physically live) as `delete`s;
  *  - a version recorded as an UPDATE/UPSERT (`vN.op`) types its delta
  *    as `update_preimage` (the replaced row's old content) and
  *    `update_postimage` (its replacement) instead — so a consumer can
  *    distinguish a row update from a delete-then-unrelated-insert; an
  *    applyCdc commit splits by key (re-appearing keys pair as
  *    updates, the rest stay genuine `delete`s/`insert`s);
  *  - a REWRITE (file set not a superset — compaction, INSERT OVERWRITE)
  *    → the parent's live rows all `delete`, the version's live rows all
  *    `insert`: noisy but exactly-compensating, so any downstream
  *    signed aggregate stays correct through it.
  * A downstream view maintained as `sum(±x)` over the feed therefore
  * converges to the table's head under appends, upserts, deletes, and
  * rewrites alike (StreamingSnapshotSpec pins it; f34 hash-certifies a
  * CDF-maintained view against the oracle). Scale shape: each batch
  * reads only the delta's files plus the files whose vector changed —
  * never table history. */
private[graft] class SnapshotChangeFeedSource(spark: SparkSession,
    dir: String, tableSchema: StructType, startingVersion: Int = 1,
    schemaVersion: Int = -1,
    maxVersionsPerTrigger: Option[Int] = None,
    metadataPath: String = "",
    branch: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Source {

  // the version whose canonical schema IS tableSchema — rename maps in
  // the per-vintage reads are anchored here, NOT at each delta's version
  // (whose canonical names may predate a later RENAME COLUMN and would
  // silently null-backfill the renamed column for pre-rename vintages)
  private def lineHead: Int = branch
    .map(Snapshots.refVersion(spark, dir, _))
    .getOrElse(Snapshots.mainVersion(spark, dir))

  private val canonVersion: Int =
    if (schemaVersion >= 0) schemaVersion else lineHead

  import org.apache.spark.sql.execution.streaming.{Offset => SrcOffset}
  import org.apache.spark.sql.execution.streaming.runtime.LongOffset

  override val schema: StructType = SnapshotSource.cdfSchema(tableSchema)

  private val cursor = new VersionOfferCursor(spark,
    if (metadataPath.isEmpty) // direct (spec) construction only — the
      // engine always provides the checkpoint-scoped metadataPath
      java.nio.file.Files.createTempDirectory("graft-src-meta").toString
    else metadataPath,
    startingVersion, capped = maxVersionsPerTrigger.isDefined)

  private val line = new LineAncestry(spark, dir)

  override def getOffset: Option[SrcOffset] = {
    val head = lineHead
    if (head < 1) None
    else {
      // a capped offer advances along the LINE's ancestry (see
      // [[LineAncestry]]) — raw cursor + cap can land on an interleaved
      // other-line version and feed its deltas into this change stream
      val target = maxVersionsPerTrigger match {
        case Some(m) =>
          val f = new Path(dir).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          line.advance(f, head,
            math.max(cursor.current.v, startingVersion - 1), m)
        case None => head
      }
      cursor.offerVersion(target, None).map(v => LongOffset(v.toLong))
    }
  }

  private def versionOf(o: SrcOffset): Int = o match {
    case LongOffset(v) => v.toInt
    case other => other.json.trim.toInt
  }

  override def getBatch(start: Option[SrcOffset], end: SrcOffset)
      : DataFrame = {
    cursor.note(FilePos(versionOf(end), -1))
    org.apache.spark.sql.GraftBatchView.asStreaming(
      SnapshotSource.changesBetween(spark, dir,
        start.map(versionOf).getOrElse(startingVersion - 1),
        versionOf(end), tableSchema, canonVersion))
  }

  override def commit(end: SrcOffset): Unit =
    cursor.note(FilePos(versionOf(end), -1))
  override def stop(): Unit = ()
  override def toString: String = s"SnapshotChangeFeedSource[$dir]"
}

/** BATCH change-feed read (`spark.read.format("graft-snapshots")
  * .option("readChangeFeed", "true")`): the change rows of versions
  * `[startingVersion, endingVersion]` (defaults: 1 and main's head) in
  * one DataFrame — the audit/backfill complement of the streaming feed,
  * same columns, same per-version delta semantics
  * ([[SnapshotSource.changesBetween]]). */
private[sources] class ChangeFeedBatchRelation(spark: SparkSession,
    dir: String, fromExclusive: Int, to: Int,
    tableSchema: StructType, schemaVersion: Int)
    extends BaseRelation with PrunedFilteredScan {

  override val schema: StructType = SnapshotSource.cdfSchema(tableSchema)
  override def sqlContext: SQLContext = spark.sqlContext
  override def needConversion: Boolean = false
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[
      org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    SnapshotSource.changesBetween(spark, dir, fromExclusive, to,
        tableSchema, schemaVersion, pushed = filters.toSeq)
      .select(requiredColumns.map(col).toSeq: _*)
      .queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** Serializable Hadoop Configuration (Configuration is Writable, not
  * Serializable) — ships the driver's pinned parquet-write settings to
  * the streaming writers. */
private[graft] class GraftSerConf(
    @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(true)
    value.readFields(in)
  }
}

private[graft] case class GraftStreamCommitMessage(path: String,
    rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The one STREAMING write of a snapshot table, behind both
  * `writeStream.format("graft-snapshots")` ([[SnapshotPathTable]]) and
  * `writeStream.toTable("graft.db.t")` (the catalog's table). Each
  * micro-batch partition writes its rows STRAIGHT to a staged parquet
  * part on the executor ([[org.apache.spark.sql.execution.datasources
  * .parquet.GraftParquetIO]] — Spark's own Catalyst-to-parquet
  * converter), and the epoch commit publishes those files as one
  * version through the one claimed-commit body
  * ([[Snapshots.commitTo]]) — one pass over the data, and the version
  * claim covers only renames and metadata. Options: `keyCols` makes
  * each epoch MERGE by key (the Update-output-mode shape); `statsCols`
  * names the stat columns (default: [[Snapshots.defaultStatsCols]]);
  * `branch` commits every epoch on that branch. Complete mode
  * (`truncate`) publishes each epoch as a rewrite; an all-empty Append
  * epoch publishes nothing.
  *
  * Exactly-once across restarts: the engine's (queryId, epochId) pair is
  * stamped into the committed version's `vN.meta` (before the manifest,
  * so `published => stamped`), and a re-delivered epoch is skipped —
  * scoped PER QUERY (Delta's SetTransaction shape), so a fresh query
  * starts cleanly at epoch 0; a same-query id REGRESSION fails loudly.
  * On a branch the cursor walks the branch's ancestry. Task retries are
  * safe: writers name files by (epoch, partition, task) and only files
  * named in COMMIT MESSAGES publish — an orphaned attempt dies with the
  * epoch's staging dir. */
private[graft] class SnapshotStreamingWrite(dir: String,
    schema: StructType, queryId: String, truncate: Boolean,
    keyCols: Seq[String], conf: GraftSerConf,
    statsCols: Seq[String] = Nil, branch: Option[String] = None)
    extends StreamingWrite {

  private def spark = SparkSession.active
  private val stageRoot = new Path(dir,
    "_stream_stage/" + (if (queryId.isEmpty) "q" else
      queryId.replaceAll("[^A-Za-z0-9_-]", "_")))

  /** LIVENESS HEARTBEAT: touch `<stageRoot>/_live` so [[Snapshots
    * .vacuum]] can tell a RUNNING query's staging area from an orphaned
    * one — a query dir whose heartbeat is fresher than the sweep
    * horizon is skipped wholesale, which makes SHORT `stageOrphanMs`
    * horizons safe for live queries (only genuinely dead or long-paused
    * queries' epochs sweep). Touched at every epoch start and commit;
    * failures are ignored (the heartbeat only ever widens safety — its
    * absence degrades to the age heuristic). */
  private def touchLive(): Unit =
    try {
      val f = stageRoot.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val o = f.create(new Path(stageRoot, "_live"), true)
      try o.write('1'.toByte) finally o.close()
    } catch { case _: Exception => }

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    touchLive()
    new SnapshotStreamWriterFactory(stageRoot.toString, schema, conf)
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    touchLive()
    val f = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val epochDir = new Path(stageRoot, s"epoch-$epochId")
    def cleanup(): Unit = { f.delete(epochDir, true); () }
    // replay detection, scoped per query: the engine re-delivers exactly
    // the LAST epoch after a restart (same id) — skip it; an id BELOW
    // the stamped cursor can only mean a rolled-back or hand-edited
    // checkpoint, and silently skipping would lose data — fail loudly.
    // A LEGACY bare stamp (pre-per-query tables) cannot be attributed
    // to any query: treat equal ids as replays, but let LOWER ids from
    // a fresh query proceed (its epoch ids legitimately restart at 0)
    Snapshots.lastStreamBatchStamp(spark, dir, queryId, branch) match {
      case Some((last, _)) if last == epochId =>
        cleanup(); return
      case Some((last, legacy)) if last > epochId && !legacy =>
        cleanup()
        throw new IllegalStateException(
          s"graft-snapshots streaming write: query $queryId delivered " +
            s"epoch $epochId but the table at $dir already holds its " +
            s"epoch $last — the stream's checkpoint regressed; refusing " +
            "to guess which commits to drop")
      case _ =>
    }
    val staged = messages.collect {
      case m: GraftStreamCommitMessage if m.rows > 0 => new Path(m.path)
    }.toSeq
    val txn = Some((queryId, epochId))
    val stats =
      if (statsCols.nonEmpty) statsCols else Snapshots.defaultStatsCols(schema)
    if (keyCols.nonEmpty && !truncate && staged.nonEmpty &&
        Snapshots.mainVersion(spark, dir) >= 1)
      // keyed epochs MERGE: the staged rows replace-or-insert by key —
      // one extra read of the epoch's own staged files, never of the
      // table. The first epoch of a fresh table is the first commit.
      Snapshots.upsert(spark, dir,
        spark.read.parquet(staged.map(_.toString): _*), keyCols,
        statsCols = stats, streamTxn = txn)
    else if (staged.nonEmpty || truncate) {
      // an all-empty APPEND epoch publishes nothing (appending zero rows
      // is a no-op, and idempotence needs no stamp for one) — but an
      // all-empty COMPLETE epoch means "the result set is now empty" and
      // must publish an empty rewrite (with the exactly-once stamp), or
      // the table would silently keep the previous epoch's rows
      val parts =
        if (staged.nonEmpty) Snapshots.StagedParts(staged, schema)
        else Snapshots.FrameParts(spark.createDataFrame(
          java.util.List.of[org.apache.spark.sql.Row](), schema))
      Snapshots.commitTo(spark, dir, branch, parts,
        append = base => !truncate && base >= 1, statsCols = stats,
        streamTxn = txn)
    }
    cleanup()
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val f = stageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new Path(stageRoot, s"epoch-$epochId"), true)
    ()
  }

  override def toString: String =
    s"SnapshotStreamingWrite[$dir${branch.map("@" + _).getOrElse("")}]"
}

private[graft] object SnapshotStreamingWrite {
  private def listOpt(opts: CaseInsensitiveStringMap, key: String)
      : Seq[String] = Option(opts.get(key)).toSeq
    .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)

  def keyColsOf(opts: CaseInsensitiveStringMap): Seq[String] =
    listOpt(opts, "keyCols")

  /** The one place a streaming write is built, for both doors. */
  def apply(dir: String, info: LogicalWriteInfo, truncate: Boolean,
      branch: Option[String]): SnapshotStreamingWrite = {
    val spark = SparkSession.active
    new SnapshotStreamingWrite(dir, info.schema(), info.queryId(),
      truncate, keyColsOf(info.options), new GraftSerConf(
        org.apache.spark.sql.execution.datasources.parquet.GraftParquetIO
          .pinWriteConf(spark.sessionState.newHadoopConf())),
      statsCols = listOpt(info.options, "statsCols"), branch = branch)
  }
}

/** The streaming half of the write builder both doors share: Complete
  * mode truncates (`truncate()`), and Update mode is accepted only when
  * the writer declared its merge keys — advertising update-as-append
  * unconditionally would let Spark silently APPEND update rows (stale
  * rows accumulating). */
private[graft] class SnapshotWriteBuilder(dir: String,
    info: LogicalWriteInfo, branch: Option[String])
    extends WriteBuilder with SupportsTruncate {
  protected var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  protected def streaming(): StreamingWrite =
    SnapshotStreamingWrite(dir, info, overwrite, branch)
  override def build(): Write = new Write {
    override def toStreaming: StreamingWrite = streaming()
  }
}

/** What `writeStream.format("graft-snapshots").option("path", dir)`
  * resolves to ([[SnapshotSource.getTable]]): a table that can only be
  * stream-written, through the same [[SnapshotStreamingWrite]] as the
  * catalog's `toTable`. */
private[graft] class SnapshotPathTable(dir: String, writeSchema: StructType,
    branch: Option[String]) extends Table with SupportsWrite {
  override def name(): String = s"graft-snapshots:$dir"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    if (SnapshotStreamingWrite.keyColsOf(info.options).nonEmpty)
      new SnapshotWriteBuilder(dir, info, branch)
        with org.apache.spark.sql.internal.connector
          .SupportsStreamingUpdateAsAppend
    else new SnapshotWriteBuilder(dir, info, branch)
  // Spark reports the sink TABLE's toString as the query's
  // `sink.description`: name the write this table exists for
  override def toString: String =
    s"SnapshotStreamingWrite[$dir${branch.map("@" + _).getOrElse("")}]"
}

private[graft] class SnapshotStreamWriterFactory(stageRoot: String,
    schema: StructType, conf: GraftSerConf)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val p = new Path(stageRoot,
      s"epoch-$epochId/part-$epochId-$partitionId-$taskId.parquet")
    new SnapshotStreamDataWriter(p, schema, conf.value)
  }
}

private[graft] class SnapshotStreamDataWriter(path: Path,
    schema: StructType, conf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private val writer = org.apache.spark.sql.execution.datasources.parquet
    .GraftParquetIO.openWriter(path, schema, conf)
  private var rows = 0L
  override def write(r: InternalRow): Unit = { writer.write(r); rows += 1 }
  override def commit(): org.apache.spark.sql.connector.write
      .WriterCommitMessage = {
    writer.close()
    // empty partitions leave no file: the manifest should not accrete
    // zero-row parts at one per idle partition per epoch
    if (rows == 0L) path.getFileSystem(conf).delete(path, false)
    GraftStreamCommitMessage(path.toString, rows)
  }
  override def abort(): Unit = {
    try writer.close() catch { case scala.util.control.NonFatal(_) => }
    path.getFileSystem(conf).delete(path, false)
    ()
  }
  override def close(): Unit = ()
}

object SnapshotSource {

  /** The table schema at version `v`, or — at v = 0, a created-but-
    * never-committed catalog table — its declared `_SCHEMA` side-file. */
  private[sources] def schemaAt(spark: SparkSession, dir: String,
      v: Int): StructType =
    if (v >= 1) Snapshots.evolvedSchema(spark, dir, v)
    else {
      val p = new Path(dir, "_SCHEMA")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(f.exists(p), s"graft-snapshots: table at $dir has no " +
        "committed versions and no declared schema")
      val in = f.open(p)
      try DataType.fromJson(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString).asInstanceOf[StructType] finally in.close()
    }

  /** Epoch millis of a `timestampAsOf` option value: a raw epoch-millis
    * long, else a `yyyy-MM-dd[ HH:mm:ss[.f…]]` literal ('T' accepted). */
  private[sources] def parseInstant(ts: String): Long = {
    val t = ts.trim
    (try Some(t.toLong) catch { case _: NumberFormatException => None })
      .orElse(Snapshots.temporalMillis(t))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-snapshots: cannot parse timestampAsOf value '$ts' " +
          "(epoch millis or yyyy-MM-dd[ HH:mm:ss] expected)"))
  }

  /** The change-feed schema: the table's columns plus the change
    * metadata triple (the Delta CDF column shape). */
  private[sources] def cdfSchema(table: StructType): StructType = table
    .add("_change_type", org.apache.spark.sql.types.StringType,
      nullable = false)
    .add("_commit_version", org.apache.spark.sql.types.LongType,
      nullable = false)
    .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType,
      nullable = false)

  /** The row-level changes of main-line versions in `(v0, v1]` — the
    * shared assembly behind the streaming change feed and the batch
    * `readChangeFeed` relation. Per version, against its parent: added
    * files' live rows as `insert`s; the rows a file's changed deletion
    * vector kills as `delete` rows (content read from the file, where
    * they still physically live); versions recorded as updates/upserts
    * (`vN.op`) pair their delta as `update_preimage`/`update_postimage`
    * instead (key-split for applyCdc batches); a REWRITE as
    * compensating delete-all of the parent's live rows + insert-all of
    * the version's. Each row is stamped `_change_type` /
    * `_commit_version` / `_commit_timestamp` (the vN.meta instant,
    * purge-durable). Scale shape: reads only the delta's files, plus
    * the files whose vector changed — never table history. */
  /** Spec observability: (filesRead, filesCandidate) of the last
    * changesBetween assembly — pins that pushed filters prune change-
    * feed scans at the FILE level from commit-time stats. */
  @volatile private[sources] var lastCdfPrune: (Int, Int) = (0, 0)

  private[sources] def changesBetween(spark: SparkSession, dir: String,
      v0: Int, v1: Int, tableSchema: StructType,
      canonVersion: Int,
      pushed: Seq[Filter] = Seq.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, timestamp_millis}
    val f = new Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // pushed DATA filters (references within the table's own columns —
    // change-metadata predicates are the engine's to apply) serve two
    // pushdowns, both pure optimization (every filter is re-applied
    // above the scan — unhandledFilters reports all):
    //  - file-level pruning from commit-time stats: a change row's
    //    content must satisfy the filter to survive, so a file whose
    //    recorded bounds exclude the predicate cannot contribute rows;
    //  - a residual Column applied inside each per-vintage read, so
    //    parquet row-group stats skip within surviving files.
    val dataFields = tableSchema.fieldNames.toSet
    val usable = pushed.filter(_.references.forall(dataFields.contains))
    val pushedCol = usable.flatMap(filterColumn)
      .reduceOption(_ && _)
    // the pushed filters analyzed back to Catalyst over the consumer's
    // schema, for the one pruning rule (analysis only — no job)
    val groups = pushedCol.map(c => StatsPruning.groupsOf(spark, dir,
      Snapshots.filterExprOf(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], tableSchema)
        .filter(c)))).getOrElse(Seq.empty)
    val pruneCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val totalCount = new java.util.concurrent.atomic.AtomicInteger(0)
    // one state serves the parent walk, instants, op typing, pruning and
    // every scan: its version covers the delta's files and `canonVersion`
    val st = Snapshots.state(f, dir, math.max(v1, canonVersion))
    def pruneFiles(paths: Seq[String]): Seq[String] = {
      totalCount.addAndGet(paths.size)
      val kept = StatsPruning.keep(spark, dir, st, paths, groups,
        canonVersion)
      pruneCount.addAndGet(kept.size)
      kept
    }
    def filtered(df: DataFrame): DataFrame =
      pushedCol.map(df.filter).getOrElse(df)
    // manifest paths read through the one snapshot scan under the
    // consumer's schema: names resolve from `canonVersion` (NOT from each
    // delta's version, whose canonical names may predate a later RENAME
    // COLUMN and would null-backfill the renamed column), each line's
    // deletion vector applied in the reader
    def scan(es: Seq[Snapshots.Entry]): DataFrame =
      spark.baseRelationToDataFrame(relationFor(spark, dir, st, es,
        canonVersion, tableSchema))
    def pruned(es: Seq[Snapshots.Entry],
        prune: Seq[String] => Seq[String]): Seq[Snapshots.Entry] = {
      val kept = prune(es.map(_.path)).toSet
      es.filter(e => kept(e.path))
    }
    def stamped(df: DataFrame, change: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_commit_version", lit(v.toLong))
        .withColumn("_commit_timestamp",
          timestamp_millis(lit(st.instant(f, dir, v))))
    // main's parent chain (ascending) over (v0, v1] — branch commits
    // share the version counter but are not on this line
    val chain = scala.collection.mutable.ArrayBuffer.empty[Int]
    var v = v1
    while (v > v0 && v >= 1) {
      chain += v
      val parent = st.parent(v)
      v = if (parent < v) parent else -1
    }
    val frames = chain.reverseIterator.flatMap { cv =>
      val parent = st.parent(cv)
      val parentEs =
        if (parent >= 1) Snapshots.entries(spark, dir, parent)
        else Seq.empty
      val curEs = Snapshots.entries(spark, dir, cv)
      val curByPath = curEs.map(e => e.path -> e).toMap
      if (parentEs.forall(e => curByPath.contains(e.path))) {
        // append-shaped commit: added files' live rows go in, rows a
        // changed vector kills go out — TYPED by the recorded operation
        // (vN.op): an updateWhere version pairs them as
        // update_preimage/postimage outright; an upsert/applyCdc version
        // splits by key (a delta row whose key re-appears in the added
        // rows was updated, the rest were genuine deletes — and
        // symmetrically for inserts).
        // No op file (plain appends/deletes, pre-op-file tables) keeps
        // the generic insert/delete typing.
        val opInfo = st.op(cv)
        // key-split typing joins pre against post: pruning or filtering
        // EITHER input before the split would misclassify change types
        // (a preimage whose postimage the filter drops would read as a
        // genuine delete) — so split-typed versions skip file pruning
        // and apply the residual filter AFTER the split (the optimizer
        // still pushes it through the semi/anti joins into the scans);
        // fixed-type frames prune and filter at the source
        val splitTyped = opInfo.exists { case (op, keys) =>
          (op == "upsert" || op == "cdc") && keys.nonEmpty &&
            keys.forall(tableSchema.fieldNames.contains) }
        def sourcePrune(paths: Seq[String]): Seq[String] =
          if (splitTyped) { // read in full; counted as unpruned
            totalCount.addAndGet(paths.size)
            pruneCount.addAndGet(paths.size)
            paths
          } else pruneFiles(paths)
        def sourceFilter(df: DataFrame): DataFrame =
          if (splitTyped) df else filtered(df)
        val parentPaths = parentEs.map(_.path).toSet
        val addedRows: Option[DataFrame] = {
          val kept = pruned(curEs.filterNot(e => parentPaths(e.path)),
            sourcePrune)
          if (kept.isEmpty) None
          else Some(sourceFilter(scan(kept)))
        }
        // only the files whose vector this version changed are opened —
        // a per-file diff of manifest lines, no job — so at 100 TB a
        // small delete's change batch reads a handful of files, never
        // the table: their rows live at the parent, dead at `cv`
        val deltaRows: Option[DataFrame] = {
          val before = pruned(parentEs.filter(e =>
            curByPath(e.path).dv != e.dv), sourcePrune)
          val after = before.map(e => curByPath(e.path))
          if (before.isEmpty) None
          else Some(sourceFilter(Snapshots.withMeta(scan(before))
            .join(Snapshots.withMeta(scan(after)).select("_fp", "_ri"),
              Seq("_fp", "_ri"), "left_anti")
            .drop("_fp", "_ri")))
        }
        (opInfo, addedRows, deltaRows) match {
          case (Some(("update", _)), post, pre) =>
            // positional update: every delta row has its replacement in
            // the staged files — pair wholesale, no key needed
            pre.map(stamped(_, "update_preimage", cv)).toSeq ++
              post.map(stamped(_, "update_postimage", cv)).toSeq
          case (_, post, pre) if splitTyped =>
            // keys exist under the consumer's schema (a later RENAME of
            // a key column falls back to the generic typing instead)
            val keys = opInfo.get._2
            val keyDf = (df: DataFrame) => df.select(
              keys.map(k => col(s"`$k`")): _*)
            val preSplit = pre.map { p =>
              post match {
                case None => Seq(stamped(filtered(p), "delete", cv))
                case Some(q) => Seq(
                  stamped(filtered(p.join(keyDf(q), keys, "left_semi")),
                    "update_preimage", cv),
                  stamped(filtered(p.join(keyDf(q), keys, "left_anti")),
                    "delete", cv))
              }
            }.getOrElse(Seq.empty)
            val postSplit = post.map { q =>
              pre match {
                case None => Seq(stamped(filtered(q), "insert", cv))
                case Some(p) => Seq(
                  stamped(filtered(q.join(keyDf(p), keys, "left_semi")),
                    "update_postimage", cv),
                  stamped(filtered(q.join(keyDf(p), keys, "left_anti")),
                    "insert", cv))
              }
            }.getOrElse(Seq.empty)
            preSplit ++ postSplit
          case (_, post, pre) =>
            post.map(stamped(_, "insert", cv)).toSeq ++
              pre.map(stamped(_, "delete", cv)).toSeq
        }
      } else {
        // rewrite: retract the parent's live rows, insert the new ones
        // (fixed-type frames — prune + filter at the source)
        def live(es: Seq[Snapshots.Entry]): DataFrame =
          filtered(scan(pruned(es, pruneFiles)))
        val dels =
          if (parent >= 1) Seq(stamped(live(parentEs), "delete", cv))
          else Seq.empty
        dels :+ stamped(live(curEs), "insert", cv)
      }
    }.toSeq
    lastCdfPrune = (pruneCount.get(), totalCount.get())
    frames.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        cdfSchema(tableSchema)))
  }

  /** THE scan of snapshot data files — every read plans it: SQL and
    * `format("graft-snapshots")`, [[Snapshots.read]] and its pruned,
    * time-travel, compaction and optimize callers, the stream source's
    * micro-batches, the change feed and the DML/MERGE positional scans.
    * The manifest lines `files` read as a [[HadoopFsRelation]] that
    * presents `schema`, the canonical schema of version `canonV`: each
    * vintage's columns are requested under the names its files store
    * them ([[Snapshots.vintageReads]]), so renamed vintages decode
    * natively, type widening rides the parquet reader's promotion (or a
    * cast after decoding where the reader cannot widen) and absent
    * columns backfill null. A line's deletion vector is opened by the
    * task reading its file and its dead rows skipped inside the reader;
    * `_metadata` row indexes stay the file's own ordinals, the positions
    * a vector records. Names and stats come from state `st`, whose
    * version covers `canonV` and every vintage of `files`. Building the
    * relation starts no job and reads no side-file. */
  private[sources] def relationFor(spark: SparkSession, dir: String,
      st: Snapshots.TableState, files: Seq[Snapshots.Entry], canonV: Int,
      schema: StructType): HadoopFsRelation = {
    val root = new Path(dir)
    val fsys = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // one listing of data/ resolves every manifest path's FileStatus
    // (O(files) metadata, no per-file RPC)
    val byName: Map[String, FileStatus] = {
      val dataDir = new Path(dir, "data")
      if (files.nonEmpty && fsys.exists(dataDir))
        fsys.listStatus(dataDir).filter(_.isFile)
          .map(st => st.getPath.getName -> st).toMap
      else Map.empty
    }
    val statuses = files.map { e =>
      e.path -> byName.getOrElse(new Path(e.path).getName,
        fsys.getFileStatus(new Path(dir, e.path)))
    }
    val paths = files.map(_.path)
    HadoopFsRelation(
      new SnapshotFileIndex(spark, dir, st, canonV, root, statuses),
      StructType(Nil), schema, None,
      new SnapshotParquetFormat(
        Snapshots.vintageReads(spark, dir, st, paths, canonV, schema), dir,
        files.flatMap(e => e.dv.map(new Path(e.path).getName -> _)).toMap),
      Map.empty)(spark)
  }

  /** Version `v` as a read plans it: its manifest lines (restricted to
    * `fileSubset` when given — the caller asserts the dropped files
    * cannot contribute), its evolved schema. */
  private[sources] def versionRelation(spark: SparkSession, dir: String,
      v: Int, fileSubset: Option[Set[String]] = None): HadoopFsRelation = {
    val all = Snapshots.entries(spark, dir, v)
    val st = Snapshots.state(spark, dir, v)
    relationFor(spark, dir, st, fileSubset.fold(all)(k => all.filter(e =>
      k(e.path))), v, Snapshots.evolvedSchema(spark, dir, st, v,
      all.map(_.path)))
  }

  /** Best-effort source-Filter → Column, for the change feed's inner
    * pushdown (the engine re-applies every filter above, so a None is
    * never wrong). */
  private def filterColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.{functions => F}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
      case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
      case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
      case LessThan(a, v) => Some(F.col(a) < F.lit(v))
      case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
      case In(a, vs) => Some(F.col(a).isin(vs.toSeq.map(F.lit(_)): _*))
      case IsNull(a) => Some(F.col(a).isNull)
      case IsNotNull(a) => Some(F.col(a).isNotNull)
      case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
      case And(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r))
        yield lc && rc
      case Or(l, r) => for (lc <- filterColumn(l); rc <- filterColumn(r))
        yield lc || rc
      case Not(c) => filterColumn(c).map(!_)
      case _ => None
    }
  }
}

/** A manifest-resolved file set as a Spark [[FileIndex]] (`files` pairs
  * each manifest path with its status; the scan's columns are canonical
  * at version `canonV`; stats and names come from state `st`), with
  * per-file stats pruning applied in
  * `listFiles` — the hook
  * `FileSourceStrategy` hands the query's pushed data filters to. A file
  * the one pruning rule ([[StatsPruning]]) proves cannot match is
  * dropped from the plan before its footer is ever opened (the scan's
  * `numFiles` metric pins it); every filter is re-applied by the engine
  * above the scan, so pruning is pure optimization, never correctness. */
private[sources] class SnapshotFileIndex(spark: SparkSession, dir: String,
    st: Snapshots.TableState, canonV: Int, root: Path,
    files: Seq[(String, FileStatus)])
    extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(root)
  override def partitionSchema: StructType = StructType(Nil)
  override def sizeInBytes: Long = files.map(_._2.getLen).sum
  override def inputFiles: Array[String] =
    files.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val groups = dataFilters.reduceOption(CatAnd)
      .map(StatsPruning.groupsOf(spark, dir, _)).getOrElse(Seq.empty)
    val rels = files.map(_._1)
    val kept = StatsPruning.keep(spark, dir, st, rels, groups, canonV).toSet
    SnapshotFileIndex.lastPruneCounts = (kept.size, files.size)
    Seq(PartitionDirectory(InternalRow.empty,
      files.collect { case (rel, st) if kept(rel) => st }.toArray))
  }
}

private[sources] object SnapshotFileIndex {
  /** (files kept, files listed) of the last [[SnapshotFileIndex]]
    * listing — what an operation that plans its own scan (positional
    * DML) reports as its pruning. */
  @volatile private[sources] var lastPruneCounts: (Int, Int) = (0, 0)
}

/** [[ParquetFileFormat]] that reads snapshot vintages: per file, the
  * requested schema's canonical column names are remapped to the names
  * the writing commit used (`vintages`, from [[Snapshots.vintageReads]]),
  * so old files decode natively — positional output already matches the
  * canonical schema, type widening rides the parquet reader's schema
  * promotion, and missing columns backfill null. A column stored (in
  * part) at a type the reader cannot widen in place is requested at that
  * type and cast after decoding ([[Snapshots.VintageRead.readType]]); a
  * scan reading such a column hands rows, not columnar batches, to the
  * engine (decoding stays vectorized).
  * `dv` maps a data file's name to its deletion vector (relative to the
  * table `dir`): the task reading that file opens the vector and skips
  * its dead row ordinals inside the reader. Such a file is read unsplit,
  * and while any file of the scan has a vector no filter reaches the
  * parquet reader, so ordinals stay aligned with commit-time
  * `_metadata.row_index` positions (the engine re-applies every filter
  * above the scan). */
private[sources] class SnapshotParquetFormat(
    vintages: Map[Int, Snapshots.VintageRead], dir: String,
    dv: Map[String, String]) extends ParquetFileFormat {

  private val plain = Snapshots.VintageRead(Map.empty, StructType(Nil))
  private val hasDv = dv.nonEmpty

  /** Whether any vintage reads a column of `schema` at another type. */
  private def anyCasts(schema: StructType): Boolean =
    vintages.values.exists(vr => schema.exists(vr.readType(_).isDefined))

  override def toString: String = "SnapshotParquet"

  override def supportBatch(spark: SparkSession,
      schema: StructType): Boolean =
    !hasDv && !anyCasts(schema) && super.supportBatch(spark, schema)

  override def isSplitable(spark: SparkSession,
      options: Map[String, String], path: Path): Boolean =
    !dv.contains(path.getName) && super.isSplitable(spark, options, path)

  override def buildReaderWithPartitionValues(spark: SparkSession,
      dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    if (vintages.values.forall(_.names.isEmpty) && !hasDv &&
        !anyCasts(dataSchema))
      return super.buildReaderWithPartitionValues(spark, dataSchema,
        partitionSchema, requiredSchema, filters, options, hadoopConf)
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
      UnsafeProjection}
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // one delegate reader per vintage-distinct way of reading, plus the
    // projection casting its stored-type columns; parquet filters are
    // dropped when a DV is live (row-group skips would desynchronize
    // ordinals), and otherwise name-remapped, minus those on cast
    // columns (their literals are typed for the canonical column)
    val readers = (vintages.values.toSet + plain).map { vr =>
      def local(st: StructType) = Snapshots.localizeSchema(
        StructType(st.map(f => vr.readType(f)
          .fold(f)(t => f.copy(dataType = t)))), vr.names)
      val castCols = dataSchema.filter(vr.readType(_).isDefined).map(_.name)
      val fl =
        if (hasDv) Seq.empty
        else filters.filterNot(_.references.exists(r =>
            castCols.exists(c => r == c || r.startsWith(c + "."))))
          .flatMap(SnapshotParquetFormat.remapFilter(_, vr.names))
      val casts = requiredSchema.map(vr.readType)
      val cast =
        if (casts.forall(_.isEmpty)) None
        else Some((casts ++ partitionSchema.map(_ => None))
          .zip(requiredSchema ++ partitionSchema).zipWithIndex.map {
            case ((Some(t), f), i) => Cast(BoundReference(i, t,
              nullable = true), f.dataType, tz)
            case ((None, f), i) => BoundReference(i, f.dataType, f.nullable)
          })
      // each delegate gets its OWN conf copy: the parquet reader writes
      // the requested schema into the conf it is handed, and a shared
      // mutable conf would leave every vintage reading the LAST
      // delegate's schema (nulls from renamed vintages). The delegate is
      // a plain parquet format: its batch check must not read the
      // vintage-local names as canonical ones
      vr -> (new ParquetFileFormat().buildReaderWithPartitionValues(spark,
        local(dataSchema), partitionSchema, local(requiredSchema), fl,
        options, new org.apache.hadoop.conf.Configuration(hadoopConf)),
        cast)
    }.toMap
    val conf = if (!hasDv) None else Some(spark.sparkContext.broadcast(
      new SerializableHadoopConf(hadoopConf)))
    val byVintage = vintages
    val fallback = plain
    val tableDir = dir
    val vectors = dv
    (file: PartitionedFile) => {
      val name = file.toPath.getName
      val (read, cast) =
        readers(byVintage.getOrElse(Snapshots.vintageOf(name), fallback))
      val rows = read(file)
      val live = vectors.get(name) match {
        case None => rows
        case Some(rel) =>
          val p = new Path(tableDir, rel)
          val dead =
            DeletionVectors.read(p.getFileSystem(conf.get.value.value), p)
          // ordinal filter: the reader yields full-file row order
          // (unsplit, no pushed filters)
          var ordinal = -1L
          rows.filter { _ => ordinal += 1; !dead.contains(ordinal) }
      }
      cast.fold(live)(exprs => live.map(UnsafeProjection.create(exprs)))
    }
  }
}

private[sources] object SnapshotParquetFormat {

  /** `filter` with attribute names remapped canonical → vintage-local;
    * None drops a filter mentioning no remappable shape (pushdown is
    * advisory — the engine re-evaluates above the scan). */
  private[sources] def remapFilter(f: Filter,
      inv: Map[String, String]): Option[Filter] = {
    if (inv.isEmpty) return Some(f)
    import org.apache.spark.sql.{sources => sf}
    def n(a: String): String =
      if (!a.contains('.')) inv.getOrElse(a, a)
      else {
        // nested attribute: localize segment-by-segment — the inverse
        // map's keys are canonical dotted path prefixes, its values the
        // vintage-local LEAF at that position
        var prefix = ""
        a.split('.').map { seg =>
          prefix = if (prefix.isEmpty) seg else prefix + "." + seg
          inv.getOrElse(prefix, seg)
        }.mkString(".")
      }
    f match {
      case sf.EqualTo(a, v) => Some(sf.EqualTo(n(a), v))
      case sf.EqualNullSafe(a, v) => Some(sf.EqualNullSafe(n(a), v))
      case sf.GreaterThan(a, v) => Some(sf.GreaterThan(n(a), v))
      case sf.GreaterThanOrEqual(a, v) =>
        Some(sf.GreaterThanOrEqual(n(a), v))
      case sf.LessThan(a, v) => Some(sf.LessThan(n(a), v))
      case sf.LessThanOrEqual(a, v) => Some(sf.LessThanOrEqual(n(a), v))
      case sf.In(a, vs) => Some(sf.In(n(a), vs))
      case sf.IsNull(a) => Some(sf.IsNull(n(a)))
      case sf.IsNotNull(a) => Some(sf.IsNotNull(n(a)))
      case sf.StringStartsWith(a, v) => Some(sf.StringStartsWith(n(a), v))
      case sf.StringEndsWith(a, v) => Some(sf.StringEndsWith(n(a), v))
      case sf.StringContains(a, v) => Some(sf.StringContains(n(a), v))
      case sf.And(l, r) =>
        for (ll <- remapFilter(l, inv); rr <- remapFilter(r, inv))
          yield sf.And(ll, rr)
      case sf.Or(l, r) =>
        for (ll <- remapFilter(l, inv); rr <- remapFilter(r, inv))
          yield sf.Or(ll, rr)
      case sf.Not(c) => remapFilter(c, inv).map(sf.Not)
      case _ => None
    }
  }
}
