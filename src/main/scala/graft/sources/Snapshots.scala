package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based snapshot versioning — the minimal time-travel core of a
  * lakehouse table format: every commit writes its data files under
  * `dir/data/` and then a manifest `vN.json` listing the COMPLETE file set
  * of version N. Readers resolve a version's manifest and scan exactly
  * those files, so
  *   - history is immutable (a rewrite commit publishes a new file set;
  *     the old version's files are never touched, and reading v1 after
  *     ten later commits returns bit-identical rows),
  *   - commits are atomic at the manifest level (the manifest is written
  *     last, to a temp name, then renamed — a reader never sees a
  *     half-commit),
  *   - time travel is METADATA-ONLY: resolving any version of a 100 TB
  *     table costs one small JSON read, never a data copy.
  * Compaction (f17) composes as a `rewrite` commit: the compacted files
  * become the new version while every prior version stays readable.
  * Concurrent writers serialize through an atomic claim on the version
  * counter (see [[commit]]); schema evolution rides in `vN.renames`
  * metadata and every read presents a version under its evolved schema
  * ([[read]], [[evolvedSchema]]), per-file key stats in `vN.stats` prune
  * whole files ([[readPruned]]), and compliance deletion rewrites history
  * in place ([[purge]]). Every read of data files — [[read]],
  * [[readAsOf]], [[readPruned]], [[optimize]], [[compact]], the stream
  * source's micro-batches and the change feed — plans the one
  * vintage-aware scan SQL reads use ([[SnapshotSource.relationFor]]).
  */
object Snapshots {

  private def fs(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Read a small metadata file BYPASSING client-side checksum
    * verification. Files replaced via [[atomicOverwrite]] (manifests on
    * purge republish, refs on every advance, the replication cursor)
    * have their data and `.crc` sidecar renamed in two steps on a
    * checksummed local filesystem — a concurrent reader can catch new
    * data beside a stale sidecar and fail with a spurious ChecksumError.
    * These files' integrity comes from the ATOMIC RENAME, not the
    * sidecar, so metadata reads go through the raw filesystem. */
  private def readSmall(f: FileSystem, p: Path): String = {
    sideFileOpens.incrementAndGet()
    val raw = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val in = raw.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def manifest(dir: String, v: Int) = new Path(dir, s"v$v.json")

  private val ManifestName = """^v(\d+)\.json$""".r

  /** Spec observability only: the last [[purge]]'s candidate-detection
    * (filesScannedAfterStatsPrune, filesTotal). */
  @volatile private[sources] var lastPurgePruneCounts: (Int, Int) = (0, 0)
  // (files scanned for matched positions, files in the live set) of the
  // last upsert/applyCdc — pins that a selective MERGE opens only
  // stat-overlapping files, not the whole table
  @volatile private[sources] var lastMergePruneCounts: (Int, Int) = (0, 0)

  def latestVersion(s: SparkSession, dir: String): Int = {
    val f = fs(s, dir)
    val root = new Path(dir)
    if (!f.exists(root)) 0
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case ManifestName(n) => n.toInt }
      .sorted.lastOption.getOrElse(0)
  }

  /** One manifest line: a data file (table-relative) and, once
    * merge-on-read deletes hit it, its current deletion vector (a
    * [[DeletionVectors]] file, table-relative) and that vector's
    * cardinality. */
  private[sources] final case class Entry(path: String,
      dv: Option[String] = None, deleted: Long = 0L)

  /** Version `v`'s manifest. The body is a JSON array with one line per
    * data file: a plain string, or `["file", "vector", deleted]` for a
    * file with a deletion vector (kept trivially parseable without a
    * JSON library). */
  private def manifestEntries(f: FileSystem, dir: String, v: Int)
      : Seq[Entry] = {
    def unquote(x: String) = x.trim.stripPrefix("\"").stripSuffix("\"")
    readSmall(f, manifest(dir, v)).split('\n').map(_.trim)
      .filter(l => l.nonEmpty && l != "[" && l != "]")
      .map(_.stripSuffix(","))
      .map { l =>
        if (!l.startsWith("[")) Entry(unquote(l))
        else {
          val a = l.stripPrefix("[").stripSuffix("]").split(',')
          Entry(unquote(a(0)), Some(unquote(a(1))), a(2).trim.toLong)
        }
      }.toSeq
  }

  private[sources] def files(s: SparkSession, dir: String,
      v: Int): Seq[String] =
    manifestEntries(fs(s, dir), dir, v).map(_.path)

  /** Version `v`'s manifest entries, deletion vectors included — what
    * every reader and writer of vectors resolves. A version of a table
    * written before per-file vectors keeps its whole-table vector in a
    * `dv/vN/` directory this build cannot apply: refused, never read
    * without its deletes. */
  private[sources] def entries(s: SparkSession, dir: String, v: Int)
      : Seq[Entry] = {
    val f = fs(s, dir)
    val es = manifestEntries(f, dir, v)
    if (es.forall(_.dv.isEmpty) && f.exists(new Path(dir, s"dv/v$v")))
      throw new UnsupportedOperationException(
        s"graft-snapshots: version $v of $dir keeps its deletion vector " +
          s"in the legacy whole-table layout (dv/v$v/), which this build " +
          "no longer reads — run optimize on the table with the previous " +
          "build to materialize the deletes, then use it here")
    es
  }

  /** Commit `df` as the next version. `append = true` carries the previous
    * version's file set forward; `append = false` publishes ONLY the new
    * files (a rewrite — prior versions stay readable). Returns the new
    * version number.
    *
    * `renames` declares SCHEMA EVOLUTION metadata alongside the commit:
    * `old -> new` means files written by EARLIER commits store the column
    * as `old`, and from this version on its canonical name is `new`. The
    * mapping rides in a tiny `vN.renames` side-file next to the manifest
    * (the table-metadata home); no data file is rewritten — history is
    * remapped at read time by [[read]].
    *
    * `statsCols` records per-FILE min/max of the named columns in a
    * `vN.stats` side-file (one extra aggregate over the staged files —
    * O(files) metadata, never carried row data). File stats are what turn
    * metadata into pruning at 100 TB: reads, the change feed,
    * [[readPruned]], DML, the MERGE family and [[purge]] drop whole files
    * from the plan before any footer is opened through ONE rule,
    * [[StatsPruning]] — the same mechanism as a lakehouse format's
    * add-file stats.
    *
    * CONCURRENT WRITERS serialize through an optimistic claim on the
    * version counter: a writer atomically creates `vN.claim`
    * (`create(overwrite = false)` — server-side atomic on HDFS; the
    * local-FS check-then-create window is sub-microsecond and spec-
    * exercised under real thread contention), waits for version N-1's
    * manifest to be published, then stages/publishes N and drops the
    * claim. A loser recomputes the next free version and retries — the
    * Delta/Iceberg optimistic-commit shape without conflict revalidation
    * (append and rewrite commits never conflict logically here: the file
    * set is carried from the JUST-published predecessor, not from a
    * snapshot taken before the race). A claimant that dies leaves a stale
    * `vN.claim`; followers time out with an error naming it so an
    * operator can remove it. */
  /** Default stat columns for MANAGED-table (catalog/SQL) writes: the
    * first 32 top-level fixed-width orderable primitives — exactly the
    * types whose [min,max] the staged files' parquet FOOTERS already
    * hold exactly (integral, float/double, date), so recording them
    * costs ZERO extra jobs (see [[footerStats]]). Strings are
    * deliberately excluded: a free-text column's min/max would embed
    * document-sized values in the `vN.stats` side-file, and footer
    * binary stats are truncation-unsafe (name bounded string columns
    * explicitly via `statsCols` — they take the aggregate path).
    * Timestamps are excluded from the DEFAULT because their footer
    * encoding is configuration-dependent (INT96 carries no usable
    * stats) and their rendering is timezone-coupled; explicit
    * `statsCols` handles them through Spark's own cast-to-string.
    * The 32-column cap mirrors the data-skipping default of the
    * mainstream lakehouse formats. Direct Snapshots API callers keep
    * explicit control — the default is applied by the catalog/SQL
    * front door, never here. */
  private[sources] def defaultStatsCols(
      schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    schema.fields.iterator.filter(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | DateType => true
      case _ => false
    }).take(32).map(_.name).toSeq
  }

  def commit(s: SparkSession, dir: String, df: DataFrame,
      append: Boolean, renames: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty,
      statsExprs: Seq[(String, String, String)] = Seq.empty): Int =
    commitTo(s, dir, None, FrameParts(df), _ => append, renames, statsCols,
      statsExprs = statsExprs)

  /** INSERT INTO semantics: append when any main version already exists,
    * first-commit (rewrite) otherwise — with the decision taken INSIDE
    * the claimed section, off the just-serialized main head. A pre-claim
    * read would let two racing first INSERTs both observe latest=0 and
    * both rewrite, the second silently discarding the first's rows even
    * though the claim protocol serialized the commits themselves. */
  def commitAuto(s: SparkSession, dir: String, df: DataFrame,
      overwrite: Boolean,
      statsCols: Seq[String] = Seq.empty,
      statsExprs: Seq[(String, String, String)] = Seq.empty): Int =
    commitTo(s, dir, None, FrameParts(df), base => base >= 1 && !overwrite,
      statsCols = statsCols, statsExprs = statsExprs)

  /** [[commit]] with a custom claim timeout (spec support for the
    * stale-claim path; production uses the default). */
  private[sources] def commitWithTimeout(s: SparkSession, dir: String,
      df: DataFrame, append: Boolean, timeoutMs: Long): Int =
    commitTo(s, dir, None, FrameParts(df), _ => append,
      timeoutMs = timeoutMs)

  /** The rows a claimed commit publishes: a frame the commit writes
    * itself, or parquet parts executors already staged (a streaming
    * epoch of [[SnapshotStreamingWrite]]). Both reach [[moveStaged]], so
    * both get the same stats, DV carry, meta stamp, manifest, checkpoint
    * and ref advance. */
  private[sources] sealed trait Parts
  private[sources] final case class FrameParts(df: DataFrame) extends Parts
  private[sources] final case class StagedParts(files: Seq[Path],
      schema: org.apache.spark.sql.types.StructType) extends Parts

  /** The one claimed-commit body behind [[commit]], [[commitAuto]],
    * [[commitOnBranch]] and the streaming write: claim the next version,
    * base it on `ref`'s head (None = main: the `main` ref on a
    * ref-tracked table — the global latest may be a branch head — else
    * the linear predecessor), publish through [[commitClaimed]], advance
    * the ref, release. `append(base)` decides append-vs-rewrite INSIDE
    * the claim. */
  private[sources] def commitTo(s: SparkSession, dir: String,
      ref: Option[String], parts: Parts, append: Int => Boolean,
      renames: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty,
      streamTxn: Option[(String, Long)] = None,
      statsExprs: Seq[(String, String, String)] = Seq.empty,
      timeoutMs: Long = 120000L): Int = {
    val f = fs(s, dir)
    f.mkdirs(new Path(dir))
    claimed(s, f, dir, ref, "commit", timeoutMs) { (v, base) =>
      commitClaimed(s, f, dir, parts, append(base), renames, statsCols, v,
        base, streamTxn, statsExprs)
    }
  }

  /** Row count of one parquet file from its FOOTER — a driver metadata
    * read, zero Spark jobs (purge uses it so each rewritten file costs
    * exactly its rewrite job, no recount scans). */
  private def parquetRowCount(p: Path, s: SparkSession): Long = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, s.sparkContext.hadoopConfiguration))
    try rd.getRecordCount finally rd.close()
  }

  /** Per-file NULL / NON-NULL counts for `cols` from the parquet FOOTER
    * (num_nulls is recorded for every physical type, strings included —
    * zero jobs). Emitted as `null:<c>` / `nnull:<c>` rows with
    * min = max = the count, so IS NULL / IS NOT NULL conjuncts prune
    * through the ordinary range machinery: a file with `null:<c>` = 0
    * can hold no IS NULL match, one with `nnull:<c>` = 0 no IS NOT NULL
    * match. A column whose num_nulls is unset in ANY row group yields
    * no rows — absent = unknown = never pruned. */
  private def footerNullCounts(p: Path, s: SparkSession,
      cols: Seq[String]): Seq[(String, String, String, String)] = {
    import scala.jdk.CollectionConverters._
    if (cols.isEmpty) return Seq.empty
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, s.sparkContext.hadoopConfiguration))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      cols.flatMap { name =>
        var nulls = 0L
        var ok = true
        blocks.foreach { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == name) match {
            case Some(cc) =>
              val st = cc.getStatistics
              if (st == null || !st.isNumNullsSet || st.getNumNulls < 0)
                ok = false
              else nulls += st.getNumNulls
            case None => ok = false
          }
        }
        if (!ok) Seq.empty
        else Seq(
          (s"null:$name", "long", nulls.toString, nulls.toString),
          (s"nnull:$name", "long",
            (rows - nulls).toString, (rows - nulls).toString))
      }
    } finally rd.close()
  }

  /** Per-file [min,max] for `cols` read from the parquet FOOTER — the
    * zero-job half of commit-time stats (same driver-metadata envelope
    * as [[parquetRowCount]]). Only fixed-width primitives whose footer
    * statistics are exact and whose rendering provably matches Spark's
    * cast-to-string reach here (integral, float/double, date — see
    * [[defaultStatsCols]]); floats render through Float.toString, NOT
    * a double widening (0.1f widened prints 0.10000000149…, which
    * would prune a file containing the query's own literal). A column
    * with missing or unknown statistics in ANY row group yields no
    * line — absent = never pruned, the conservative direction; a row
    * group that is provably all-null for the column simply does not
    * constrain its bounds. */
  private def footerStats(p: Path, s: SparkSession,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Seq[(String, String, String, String)] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    if (cols.isEmpty) return Seq.empty
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        p, s.sparkContext.hadoopConfiguration))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      cols.flatMap { case (name, dt) =>
        var loL = Long.MaxValue; var hiL = Long.MinValue
        var loF = Float.PositiveInfinity; var hiF = Float.NegativeInfinity
        var loD = Double.PositiveInfinity; var hiD = Double.NegativeInfinity
        var seen = false; var ok = true
        blocks.foreach { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == name) match {
            case Some(c) =>
              val st = c.getStatistics
              if (st == null) ok = false
              else if (st.hasNonNullValue) {
                seen = true
                dt match {
                  case ByteType | ShortType | IntegerType | LongType |
                       DateType =>
                    loL = math.min(loL,
                      st.genericGetMin.asInstanceOf[Number].longValue)
                    hiL = math.max(hiL,
                      st.genericGetMax.asInstanceOf[Number].longValue)
                  case FloatType =>
                    loF = math.min(loF,
                      st.genericGetMin.asInstanceOf[java.lang.Float]
                        .floatValue)
                    hiF = math.max(hiF,
                      st.genericGetMax.asInstanceOf[java.lang.Float]
                        .floatValue)
                  case DoubleType =>
                    loD = math.min(loD,
                      st.genericGetMin.asInstanceOf[java.lang.Double]
                        .doubleValue)
                    hiD = math.max(hiD,
                      st.genericGetMax.asInstanceOf[java.lang.Double]
                        .doubleValue)
                  case _ => ok = false
                }
              } else if (!(st.isNumNullsSet &&
                  st.getNumNulls == b.getRowCount))
                ok = false // stats unknown, not provably all-null
            case None => ok = false
          }
        }
        def render(lo: Boolean): String = dt match {
          case DateType => java.time.LocalDate
            .ofEpochDay(if (lo) loL else hiL).toString
          case FloatType => (if (lo) loF else hiF).toString
          case DoubleType => (if (lo) loD else hiD).toString
          case _ => (if (lo) loL else hiL).toString
        }
        if (!ok || !seen) None
        else Some((name, dt.typeName, render(lo = true),
          render(lo = false)))
      }
    } finally rd.close()
  }

  /** COUNT(*) of version `v` from METADATA alone: the parquet footers
    * of the manifest's files minus the cardinalities of their deletion
    * vectors, which the manifest lines carry. Zero Spark jobs, O(files)
    * driver footer reads — the lakehouse metadata-count at any table
    * size; [[GraftSqlRules]] folds bare `SELECT count(*)` over a
    * catalog table onto this. */
  def metadataRowCount(s: SparkSession, dir: String,
      v: Int): Long =
    entries(s, dir, v).map(e =>
      parquetRowCount(new Path(dir, e.path), s) - e.deleted).sum

  private val ClaimName = """^v(\d+)\.claim$""".r

  /** A held claim on version `v`. A daemon thread HEARTBEATS the claim
    * file (touches its mtime) every `heartbeatMs` for as long as the
    * claim is held, so followers can distinguish a live slow commit
    * (fresh heartbeat — keep waiting, however long the write takes)
    * from a dead claimant (stale mtime — fail with an actionable
    * error). Staleness is therefore a property of the CLAIM's age, not
    * of how long a follower happens to have waited — a fixed follower-
    * side timeout would let an operator "unwedge" a table by deleting a
    * live writer's claim, and the ensuing double-publish silently loses
    * one of the two commits. */
  private[sources] final class Claim(f: FileSystem, dir: String, val v: Int,
      heartbeatMs: Long) {
    private val path = new Path(dir, s"v$v.claim")
    @volatile private var live = true
    private val beat = new Thread(() => {
      while (live) {
        try Thread.sleep(heartbeatMs)
        catch { case _: InterruptedException => }
        if (live) {
          try f.setTimes(path, System.currentTimeMillis(), -1)
          catch { case _: Exception => }
        }
      }
    }, s"snapshot-claim-heartbeat-v$v")
    beat.setDaemon(true)
    beat.start()
    def release(): Unit = {
      live = false
      beat.interrupt()
      // followers wait for this deletion (the publish-complete signal,
      // since the ref advance precedes it) — retry a transient failure
      // rather than leaking a claim that would wedge them until the
      // heartbeat-staleness error fires
      var attempts = 0
      var gone = false
      while (!gone && attempts < 3) {
        attempts += 1
        gone = try { f.delete(path, false); !f.exists(path) }
          catch { case _: Exception => false }
        if (!gone && attempts < 3) Thread.sleep(100L * attempts)
      }
    }
  }

  /** Atomically claim the next version number; on return, version v-1's
    * manifest exists (so an append can carry its file set) and `vN.claim`
    * marks this writer's ownership of N, heartbeated until release.
    * A predecessor's claim is judged stale by the HOLDER's declared
    * heartbeat interval (recorded in the claim body) × 3 + slack — never
    * by this follower's own `timeoutMs`, which would let a small-timeout
    * follower mis-declare a live slower-heartbeating writer dead;
    * `timeoutMs` is the fallback threshold for bodyless (legacy or
    * died-before-write) claims, and bounds the claim RACE itself. */
  private def claimVersion(f: FileSystem, dir: String,
      timeoutMs: Long = 120000L): Claim = {
    var start = System.currentTimeMillis()
    val heartbeatMs = math.max(500L, math.min(timeoutMs / 3, 10000L))
    // the race timeout counts time WITHOUT observable progress, not total
    // elapsed time: advancing manifests/claims, or a predecessor abort we
    // re-hunt past, each reset the clock — a writer legitimately parked
    // behind a live (heartbeating) slow commit must not give up just
    // because the wait was long
    var seen = (-1, -1)
    while (true) {
      val names = f.listStatus(new Path(dir)).map(_.getPath.getName)
      val latest = names.collect { case ManifestName(n) => n.toInt }
        .maxOption.getOrElse(0)
      val claimed = names.collect { case ClaimName(n) => n.toInt }
        .maxOption.getOrElse(0)
      if ((latest, claimed) != seen) {
        seen = (latest, claimed)
        start = System.currentTimeMillis()
      }
      val v = math.max(latest, claimed) + 1
      val claim = new Path(dir, s"v$v.claim")
      // HDFS create(overwrite=false) is a server-side atomic claim; the
      // local FileSystem's is check-then-create, so local paths go
      // through File.createNewFile (open with O_CREAT|O_EXCL — POSIX
      // atomic), which the contention spec exercises with real threads
      val won = f match {
        case _: org.apache.hadoop.fs.LocalFileSystem |
             _: org.apache.hadoop.fs.RawLocalFileSystem =>
          try new java.io.File(claim.toUri.getPath).createNewFile()
          catch { case _: java.io.IOException => false }
        case _ =>
          try { f.create(claim, false).close(); true }
          catch { case _: java.io.IOException => false }
      }
      if (won) {
        // record OUR heartbeat interval in the claim body: followers
        // judge staleness against the HOLDER's declared cadence (plus
        // slack), not against their own timeout — a follower with a
        // small timeout must not declare a live, slower-heartbeating
        // writer dead (deleting its claim is the double-publish hazard)
        try {
          val o = f.create(claim, true)
          try o.write(heartbeatMs.toString.getBytes("UTF-8"))
          finally o.close()
        } catch { case _: Exception => } // bodyless claim = follower falls back
        // our claim heartbeats from here on (it may wait a long time
        // behind a slow predecessor without being mistaken for dead)
        val held = new Claim(f, dir, v, heartbeatMs)
        // wait for the predecessor's manifest before staging anything.
        // If the predecessor's claim disappears WITHOUT a manifest, that
        // writer aborted (failed commit, or a maintenance op releasing
        // its write lock) — release this claim and re-hunt, so an abort
        // never strands followers behind a version that will never
        // publish. If the claim exists but has not heartbeated within
        // timeoutMs, the claimant is presumed dead and the wait fails.
        var aborted = false
        // wait until the predecessor has BOTH published its manifest and
        // RELEASED its claim. Every publisher advances its ref (main or a
        // branch head) between the manifest write and the release, so a
        // follower that proceeded on manifest-exists alone could read the
        // ref BEFORE the predecessor advanced it, base on the stale head,
        // and silently drop the predecessor's commit from the line. The
        // claim heartbeats through the window, so the staleness check
        // below still unsticks a genuinely dead claimant.
        def predPending(): Boolean =
          !f.exists(manifest(dir, v - 1)) ||
            f.exists(new Path(dir, s"v${v - 1}.claim"))
        while (!aborted && v > 1 && predPending()) {
          val predClaim = new Path(dir, s"v${v - 1}.claim")
          val age: Option[Long] =
            try Some(System.currentTimeMillis() -
              f.getFileStatus(predClaim).getModificationTime)
            catch { case _: java.io.FileNotFoundException => None }
          // staleness threshold: the PREDECESSOR's declared heartbeat
          // interval (recorded in its claim body) × 3 + slack — a live
          // writer is judged by its own cadence, so a follower whose
          // timeoutMs is smaller than the holder's heartbeat interval
          // cannot mis-declare it dead. A bodyless claim (legacy, or a
          // claimant that died before writing) falls back to timeoutMs.
          lazy val staleAfter: Long =
            (try readSmall(f, predClaim).trim.toLongOption
             catch { case _: Exception => None })
              .map(hb => hb * 3 + 1000L).getOrElse(timeoutMs)
          age match {
            case None =>
              // claim gone: re-check the manifest once more (the
              // predecessor may have published between the two looks),
              // then re-hunt
              if (!f.exists(manifest(dir, v - 1))) {
                held.release()
                aborted = true
              }
            case Some(a) if a > staleAfter =>
              held.release()
              throw new java.io.IOException(
                s"commit timed out waiting for v${v - 1} to publish " +
                  s"(manifest + ref advance + claim release): " +
                  s"v${v - 1}.claim has not heartbeated for ${a} ms " +
                  s"(threshold $staleAfter ms), so its writer is presumed " +
                  "dead. Remove the stale claim to unwedge the table — " +
                  "but ONLY after confirming that writer is actually " +
                  "dead: deleting a live writer's claim lets a second " +
                  "writer publish the same version and silently lose " +
                  "one of the two commits")
            case _ => Thread.sleep(50)
          }
        }
        if (!aborted) {
          // the version number is exclusively ours and unpublished:
          // clear side-file orphans of a claimant that died mid-publish
          clearStaleSideFiles(f, dir, v)
          return held
        }
        start = System.currentTimeMillis() // a re-hunt past an abort is progress
      }
      if (System.currentTimeMillis() - start > timeoutMs)
        throw new java.io.IOException(
          s"commit timed out racing for a version claim at $dir")
      Thread.sleep(20)
    }
    null // unreachable
  }

  /** Stage `df` as parquet under `_stage_vN` and hand its part files to
    * [[moveStaged]]; the stage dir goes either way. Shared by the frame
    * commits, [[upsert]] and the DML verbs. Returns (movedPaths,
    * statLines). */
  private def stageAndMove(s: SparkSession, f: FileSystem, dir: String,
      df: DataFrame, statsCols: Seq[String], v: Int,
      statsExprs: Seq[(String, String, String)] = Seq.empty)
      : (Seq[String], Seq[String]) = {
    val stage = new Path(dir, s"_stage_v$v")
    f.delete(stage, true)
    try {
      df.write.parquet(stage.toString)
      val parts = f.listStatus(stage).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("part-"))
        .map(_.getPath)
      moveStaged(s, f, dir, parts, df.schema, statsCols, v, statsExprs)
    } finally { f.delete(stage, true); () }
  }

  /** Move already-staged parquet parts into data/ under `vN-i-` names
    * (every rename checked; partial moves cleaned up on failure) and
    * compute their per-file stats lines for `statsCols`: min/max plus
    * the `null:`/`nnull:` footer counts. Executor-staged streaming
    * epochs enter here directly. Returns (movedPaths, statLines). */
  private def moveStaged(s: SparkSession, f: FileSystem, dir: String,
      staged: Seq[Path], schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String], v: Int,
      statsExprs: Seq[(String, String, String)])
      : (Seq[String], Seq[String]) = {
    val dataDir = new Path(dir, "data")
    f.mkdirs(dataDir)
    // every rename is checked (HDFS rename returns false on failure rather
    // than throwing): a silently failed move would publish a manifest whose
    // file set does not exist. On any failure the caller's commit aborts
    // BEFORE the manifest is written, so the previous version stays latest
    // and the partially-moved files are cleaned back out of data/.
    // per-staged-file min/max BEFORE the moves. Fixed-width primitives
    // read their bounds from the FOOTERS the staged files already carry
    // (zero extra jobs, driver-side — footerStats); every other
    // requested column (strings, timestamps, decimals) takes one
    // metadata-size aggregate job with Spark's own cast-to-string
    // rendering (the group key is the file name, the shuffle carries
    // |files| × |aggCols| rows)
    val sparkTypes = schema.fields.map(fd => fd.name -> fd.dataType)
      .toMap
    val (footCols, aggCols) = statsCols.filter(sparkTypes.contains)
      .partition { c =>
        import org.apache.spark.sql.types._
        sparkTypes(c) match {
          case ByteType | ShortType | IntegerType | LongType |
               FloatType | DoubleType | DateType => true
          case _ => false
        }
      }
    // aggregate items: real columns under their own names + VIRTUAL
    // expression stats (a bucket-transform's derived id) under their
    // declared names — both ride the same one metadata-size job
    val aggItems: Seq[(String, org.apache.spark.sql.Column, String)] = {
      import org.apache.spark.sql.functions.{col, expr}
      aggCols.map(c => (c, col(c), sparkTypes(c).typeName)) ++
        statsExprs.map { case (n, e, tn) => (n, expr(e), tn) }
    }
    val aggStats: Map[String, Seq[(String, String, String, String)]] =
      if (aggItems.isEmpty) Map.empty
      else {
        import org.apache.spark.sql.functions.{min, max, input_file_name}
        // index-based aliases: virtual names may carry separators
        val aggs = aggItems.zipWithIndex.flatMap { case ((_, c, _), i) =>
          Seq(min(c).cast("string").as(s"mn_$i"),
            max(c).cast("string").as(s"mx_$i")) }
        // explicit FILE paths: the stage dir's own name starts with "_",
        // which the DataSource hidden-path filter warns about when the
        // directory itself is the input
        s.read.parquet(staged.map(_.toString): _*)
          .groupBy(input_file_name().as("_f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r =>
            val fname = new Path(r.getString(0)).getName
            fname -> aggItems.zipWithIndex.map { case ((n, _, tn), i) =>
              (n, tn, r.getString(1 + 2 * i), r.getString(2 + 2 * i))
            }
          }.toMap
      }
    val footStats: Map[String, Seq[(String, String, String, String)]] =
      if (footCols.isEmpty) Map.empty
      else staged.map(p => p.getName ->
        footerStats(p, s, footCols.map(c => c -> sparkTypes(c)))).toMap
    // per-file NULL counts for every stats column, straight from the
    // parquet footers (all physical types carry num_nulls — zero extra
    // jobs): two virtual rows per (file, col) — `null:<c>` = null count,
    // `nnull:<c>` = non-null count, each with min=max so the existing
    // range machinery serves IS NULL / IS NOT NULL pruning untouched
    val nullCols = statsCols.filter(sparkTypes.contains)
    val nullStats: Map[String, Seq[(String, String, String, String)]] =
      if (nullCols.isEmpty) Map.empty
      else staged.map(p => p.getName ->
        footerNullCounts(p, s, nullCols)).toMap
    val stagedStats: Map[String, Seq[(String, String, String, String)]] =
      (aggStats.keySet ++ footStats.keySet ++ nullStats.keySet)
        .iterator.map(k =>
          k -> (aggStats.getOrElse(k, Seq.empty) ++
            footStats.getOrElse(k, Seq.empty) ++
            nullStats.getOrElse(k, Seq.empty))).toMap
    val statLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      staged.zipWithIndex.foreach { case (p, i) =>
        val name = s"v$v-$i-${p.getName}"
        if (!f.rename(p, new Path(dataDir, name)))
          throw new java.io.IOException(
            s"snapshot commit aborted: rename $p -> $dataDir/$name " +
              "returned false")
        moved += s"data/$name"
        stagedStats.get(p.getName).foreach(_.foreach {
          // an all-null column gets NO stats line, and neither does a
          // bound whose stringified value contains the line/field
          // separators (statSafe): absent = unknown = never pruned,
          // the conservative direction
          case (c, tn, mn, mx) if mn != null && mx != null &&
              statRecordable(tn, mn, mx) =>
            statLines += Seq(s"data/$name", c, tn, mn, mx)
              .mkString("\u0001")
          case _ =>
        })
      }
    } catch {
      case e: Throwable =>
        moved.foreach(p => f.delete(new Path(dir, p), false))
        throw e
    }
    (moved.toSeq, statLines.toSeq)
  }

  /** Stat bounds are stored one line per (file, column) with `\u0001`
    * separators; a stringified min/max that itself contains the separator
    * or a line break would corrupt the side-file and take down every
    * pruned read of the table. Such values are simply NOT recorded —
    * absent stats mean "unknown", which every consumer treats as
    * never-pruned, the conservative direction. */
  private def statSafe(v: String): Boolean =
    !v.exists(ch => ch == '\u0001' || ch == '\n' || ch == '\r')

  /** A (type, min, max) triple safe to RECORD as a stats line. Beyond
    * the separator check ([[statSafe]]), a float/double bound that is
    * NaN is never recorded: parquet footers (Float.compare total order)
    * and Spark's min/max both report max=NaN for a file containing any
    * NaN, and a NaN bound makes every interval test false -- the file
    * would be pruned for EVERY predicate, silently skipping its non-NaN
    * rows in DELETE/UPDATE/MERGE/purge. Absent = never pruned. */
  private def statRecordable(tn: String, mn: String, mx: String): Boolean =
    statSafe(mn) && statSafe(mx) && (tn match {
      case "float" | "double" =>
        try !(mn.toDouble.isNaN || mx.toDouble.isNaN)
        catch { case _: NumberFormatException => true }
      case _ => true
    })

  private def writeStatLines(f: FileSystem, dir: String, v: Int,
      statLines: Seq[String]): Unit =
    if (statLines.nonEmpty) {
      val o = f.create(new Path(dir, s"v$v.stats"), true)
      try o.write(statLines.mkString("\n").getBytes("UTF-8"))
      finally o.close()
    }

  private def commitClaimed(s: SparkSession, f: FileSystem, dir: String,
      parts: Parts, append: Boolean, renames: Map[String, String],
      statsCols: Seq[String], v: Int, prev: Int,
      streamTxn: Option[(String, Long)] = None,
      statsExprs: Seq[(String, String, String)] = Seq.empty,
      op: Option[(String, Seq[String])] = None): Int = {
    val (moved, statLines) = parts match {
      case FrameParts(df) =>
        stageAndMove(s, f, dir, df, statsCols, v, statsExprs)
      case StagedParts(files, schema) =>
        moveStaged(s, f, dir, files, schema, statsCols, v, statsExprs)
    }
    // an append carries the base's lines, deletion vectors included
    val carried = if (append && prev > 0) entries(s, dir, prev) else Seq.empty
    // meta precedes the manifest: a version without meta never becomes
    // visible (versions resolve through manifests), so `manifest => meta`
    // holds and a stream batch id stamped in meta is crash-consistent
    // with the publish — the exactly-once anchor of the streaming write
    writeCommitMeta(f, dir, v, if (prev > 0) prev else 0, streamTxn)
    op.foreach { case (verb, keys) => writeCommitOp(f, dir, v, verb, keys) }
    if (renames.nonEmpty) {
      val body = renames.toSeq.sorted
        .map { case (o, n) => o + SepCh + n }.mkString("\n")
      val o = f.create(new Path(dir, s"v$v.renames"), true)
      try o.write(body.getBytes("UTF-8")) finally o.close()
    }
    writeStatLines(f, dir, v, statLines)
    writeManifest(f, dir, v, carried ++ moved.map(Entry(_)))
    maybeCheckpoint(f, dir, v)
    v
  }

  /** Persist version `v`'s COMMIT INSTANT and PARENT version in a
    * `vN.meta` side-file (line 1 = epoch millis, line 2 = parent). The
    * manifest's mtime is NOT a durable commit timestamp: [[purge]]
    * republishes every live manifest (compliance rewrites history in
    * place), which would collapse all mtimes to purge time and silently
    * re-point every pre-purge `TIMESTAMP AS OF` at version 0. The meta
    * side-file is written once at commit time and never touched by
    * purge, so [[versionAsOf]] stays correct across compliance runs.
    * The parent pointer makes the version sequence a COMMIT GRAPH —
    * branch commits record the branch head they grew from, which is
    * what [[fastForward]]'s ancestry check walks. */
  private def writeCommitMeta(f: FileSystem, dir: String, v: Int,
      parent: Int, streamTxn: Option[(String, Long)] = None,
      parent2: Option[Int] = None): Unit = {
    val o = f.create(new Path(dir, s"v$v.meta"), true)
    // line 3 (streaming-write commits only): `queryId:batchId` — the
    // idempotence cursor is scoped PER QUERY, because Structured
    // Streaming batch ids restart at 0 with every fresh checkpoint; a
    // bare table-wide id would silently drop a new query's early batches.
    // A merge commit appends its second (branch-side) parent after a
    // space — commitParent takes the first token, so main's line stays
    // linear for every ancestry walk.
    val parents = (parent +: parent2.toSeq).mkString(" ")
    val body = s"${System.currentTimeMillis()}\n$parents" +
      streamTxn.map { case (q, b) => s"\n$q:$b" }.getOrElse("")
    try o.write(body.getBytes("UTF-8"))
    finally o.close()
  }

  private def readMeta(f: FileSystem, dir: String, v: Int)
      : Option[Seq[String]] = {
    val p = new Path(dir, s"v$v.meta")
    if (!f.exists(p)) None
    else Some(readSmall(f, p).split('\n').toSeq.map(_.trim))
  }

  /** Persist the OPERATION that produced version `v` in a `vN.op`
    * side-file (line 1 = verb, line 2 = comma-separated key columns if
    * the verb is keyed) — what lets the change feed type an upsert's
    * delta as `update_preimage`/`update_postimage` instead of
    * delete+insert. Written BEFORE the manifest (same crash-consistency
    * direction as vN.meta: a published version either has its op file
    * or the commit died pre-publish); a missing op file degrades to the
    * generic delete+insert typing, never to wrong data. */
  private def writeCommitOp(f: FileSystem, dir: String, v: Int,
      op: String, keys: Seq[String]): Unit = {
    val o = f.create(new Path(dir, s"v$v.op"), true)
    val body = op + (if (keys.nonEmpty) "\n" + keys.mkString(",") else "")
    try o.write(body.getBytes("UTF-8")) finally o.close()
  }

  /** The recorded operation of version `v`: (verb, keyColumns) —
    * `("upsert", keys)` / `("cdc", keys)` / `("update", Nil)` — or None
    * for plain commits and pre-op-file tables. */
  private[sources] def commitOp(s: SparkSession, dir: String, v: Int)
      : Option[(String, Seq[String])] = commitOpF(fs(s, dir), dir, v)

  private def commitOpF(f: FileSystem, dir: String, v: Int)
      : Option[(String, Seq[String])] = {
    val p = new Path(dir, s"v$v.op")
    if (!f.exists(p)) None
    else {
      val lines = readSmall(f, p).split('\n').toSeq.map(_.trim)
      Some((lines.head, if (lines.size > 1)
        lines(1).split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      else Seq.empty))
    }
  }

  /** The instant version `v` was committed: the `vN.meta` side-file if
    * present, else the manifest's mtime (tables written before the meta
    * file existed — correct as long as they were never purged). */
  private[sources] def commitInstant(f: FileSystem, dir: String,
      v: Int): Long =
    readMeta(f, dir, v).map(_.head.toLong)
      .getOrElse(f.getFileStatus(manifest(dir, v)).getModificationTime)

  /** Version `v`'s FIRST parent in the commit graph (0 = a root commit);
    * the linear predecessor is assumed for pre-parent-pointer tables. A
    * merge commit records two space-separated parents on the meta's
    * parent line — the first is the MAIN-side parent, so every existing
    * ancestry walk (time travel, fast-forward, the streaming source's
    * chain) stays on main's line through a merge. */
  private[sources] def commitParent(f: FileSystem, dir: String,
      v: Int): Int =
    readMeta(f, dir, v).filter(_.size >= 2)
      .map(_(1).trim.split(' ').head.toInt)
      .getOrElse(v - 1)

  /** ALL parents of version `v` (two for a merge commit). */
  private[sources] def commitParents(f: FileSystem, dir: String,
      v: Int): Seq[Int] =
    readMeta(f, dir, v).filter(_.size >= 2)
      .map(_(1).trim.split(' ').toSeq.map(_.toInt))
      .getOrElse(Seq(v - 1))

  /** Public lineage accessor: version `v`'s parents in the commit graph
    * — one for a linear commit, two (main-side first) for a
    * [[mergeBranch]] commit, empty for a root. */
  def parentsOf(s: SparkSession, dir: String, v: Int): Seq[Int] =
    commitParents(fs(s, dir), dir, v).filter(_ >= 1)

  /** The highest STREAMING epoch id that QUERY `queryId` has stamped
    * into any committed version (meta line 3, `queryId:batchId`) — the
    * exactly-once cursor of [[SnapshotStreamingWrite]], scoped
    * per query (Delta's SetTransaction shape): batch ids restart at 0
    * with every fresh checkpoint, so a table-wide cursor would silently
    * drop a NEW query's early batches. Because meta is written BEFORE
    * the manifest, every visible version's stamp is durable, so a
    * replayed micro-batch (same id, after a crash or restart) is
    * detected and skipped instead of double-committed. A legacy bare
    * stamp (no queryId — tables written before per-query scoping)
    * matches any query, preserving its original semantics. O(1) meta
    * reads in steady state for a single writer (the newest stamp sits
    * at or near main's head); other queries' stamps extend the walk. */
  def lastStreamBatch(s: SparkSession, dir: String,
      queryId: String): Option[Long] =
    lastStreamBatchStamp(s, dir, queryId).map(_._1)

  /** [[lastStreamBatch]] plus whether the stamp found was a LEGACY bare
    * batch id (pre-per-query tables): a legacy stamp cannot be attributed
    * to a query, so the write treats it as replay-detection-only (equal id
    * = skip) rather than a monotone cursor — a fresh query restarting at
    * batch 0 against such a table must proceed, not fail as a regressed
    * checkpoint. */
  private[sources] def lastStreamBatchStamp(s: SparkSession, dir: String,
      queryId: String, ref: Option[String] = None)
      : Option[(Long, Boolean)] = {
    val f = fs(s, dir)
    // a branch-targeted stream's replay cursor lives on the BRANCH's
    // ancestry — main's stamps are another line's history. One state
    // resolve, then an in-memory walk: a stream restarting against a
    // year-deep table costs O(CheckpointEvery) opens, not O(versions).
    var v = ref.map(refVersion(s, dir, _)).getOrElse(mainVersion(s, dir))
    val g = state(f, dir, v)
    while (v >= 1) {
      g.txn(v) match {
        case Some(stamp) =>
          val sep = stamp.lastIndexOf(':')
          if (sep < 0) // legacy bare batch id
            return stamp.toLongOption.map((_, true))
          if (stamp.substring(0, sep) == queryId)
            return stamp.substring(sep + 1).toLongOption.map((_, false))
          // another query's stamp: keep walking for ours
        case _ =>
      }
      val parent = g.parent(v)
      v = if (parent < v) parent else -1 // defensive: never loop
    }
    None
  }

  // ---- table state and checkpointing (Delta Snapshot shape) -------------
  //
  // "All metadata up to v" — every file's stat lines (S records), every
  // commit's rename declarations (R), and the commit graph: parents,
  // instants and stream-txn stamps (M) and operation verbs (O) — is ONE
  // immutable value, a [[TableState]]. [[state]] folds it from the
  // table's cached state or the newest `vN.ckpt` checkpoint at or below
  // v, plus the side-files of the versions after that base, and keeps
  // one state per table: the newest built, which answers every version
  // at or below its own (its records are keyed by version or by
  // uuid-named file). So a pruned read, DML matched-scan, MERGE, CDF
  // read or purge of a deep table (a streaming-fed table at 10 s
  // triggers accumulates ~260k versions in a month) costs
  // O(CheckpointEvery) metadata opens cold and one epoch read warm, not
  // O(history) driver RPCs, and a new head folds only its own
  // side-files onto the last. Every CheckpointEvery-th published version
  // writes its state as `vN.ckpt`. A checkpoint is REDUNDANT state:
  // absent (old tables, a crashed write), the fold starts lower; a
  // failed checkpoint write never fails its commit. The EPOCH (v1's
  // commit instant) guards the cache because a table dropped and
  // recreated at the same path restarts version numbering. A reader
  // resolves the state once and passes it down; because states are
  // immutable and replaced whole, concurrent readers and committers
  // never see a half-extended one. The shape is Delta Lake's Snapshot
  // (Armbrust et al., VLDB 2020): a checkpoint plus a log suffix.

  private val SepCh = 1.toChar // the side-file field separator

  /** Reserved rename TARGET that records a logical DROP COLUMN in the
    * rename-chain machinery: a `vN.renames` entry `(col -> DropMarker)`
    * means the column ceases to exist from version N on. History stays
    * readable — time travel below N shows the column; [[read]] /
    * [[evolvedSchema]] exclude it at N and beyond; a LATER commit may
    * re-add a fresh column under the same name (old vintages backfill
    * null for it, exactly like any added column). A NUL char can never
    * collide with a real column name. */
  private[sources] val DropMarker: String = 0.toChar.toString

  // ---- nested-field evolution (struct subfields) --------------------------
  // A rename-chain entry whose OLD name contains '.' records a STRUCT
  // SUBFIELD operation from ALTER TABLE on a nested field:
  //   "meta.w" -> "meta.width"   rename within the parent struct (the new
  //                              name is the FULL dotted path — never a
  //                              bare leaf, so it can never alias a
  //                              top-level column in an equality walk)
  //   "meta.w" -> DropMarker     logical drop of the subfield
  // Nested ADDs need no entry at all: the evolving commit's empty-vintage
  // footer declares the grown struct, [[widen]] unions subfields by name,
  // and parquet schema clipping backfills the missing subfield with null
  // in every pre-evolution vintage. Top-level consumers (stat-name
  // resolution, purge's rewrite chain, branch-merge guards) pass dotted
  // entries through untouched BY CONSTRUCTION: a dotted old name never
  // equals a top-level column name and a dotted new name never equals a
  // top-level canonical name.

  private[sources] def leafOf(p: String): String = {
    val i = p.lastIndexOf('.'); if (i < 0) p else p.substring(i + 1)
  }

  /** Apply one rename-chain entry `(o -> n)` to a dotted canonical path
    * `cur`, FORWARD in time: an exact match renames (or drops) the path
    * itself, a prefix match carries the whole subtree under a renamed
    * (or dropped) ancestor, anything else is untouched. Top-level
    * entries on top-level paths reduce to the original equality walk. */
  private[sources] def applyEntry(cur: String, o: String, n: String): String =
    if (cur == o) n
    else if (cur.startsWith(o + ".")) {
      if (n == DropMarker) DropMarker else n + cur.substring(o.length)
    } else cur

  /** Invert one entry (the backward walk): where did canonical `cur`
    * live BEFORE `(o -> n)` applied? Drops never invert (a DropMarker
    * target is not a name). */
  private[sources] def invertEntry(cur: String, o: String,
      n: String): String =
    if (n == DropMarker) cur
    else if (cur == n) o
    else if (cur.startsWith(n + ".")) o + cur.substring(n.length)
    else cur

  /** The name the (dotted) canonical path `canonical` of version
    * `canonV` has in the files of vintage `c` — the one canonical →
    * vintage name walk, behind per-file stats lookups ([[StatsPruning]])
    * and every scan's per-vintage requested schema ([[vintageReads]]).
    * Older vintages walk back
    * through the renames of (c, canonV], in reverse entry order within a
    * version so a chained same-version rename (a→b, b→c) inverts exactly;
    * newer vintages walk forward through (canonV, c]. [[DropMarker]] when
    * the vintage holds no such column: a later commit dropped it, or
    * re-used the name after a rename or drop (the round-trip guard — an
    * inverse walk that does not map forward back to `canonical` would
    * alias an unrelated old column). */
  private[sources] def localName(chain: Map[Int, Seq[(String, String)]],
      canonV: Int)(c: Int, canonical: String): String = {
    var cur = canonical
    if (c <= canonV) {
      for (later <- canonV until c by -1; (o, n) <- chain(later).reverse)
        cur = invertEntry(cur, o, n)
      var fwd = cur
      for (later <- (c + 1) to canonV; (o, n) <- chain(later))
        fwd = applyEntry(fwd, o, n)
      if (fwd == canonical) cur else DropMarker
    } else {
      for (later <- (canonV + 1) to c; (o, n) <- chain(later))
        cur = applyEntry(cur, o, n)
      cur
    }
  }

  /** The commit that wrote manifest path `rel` (its `vC-…` name survives
    * purge rewrites). */
  private[sources] def vintageOf(rel: String): Int = rel match {
    case FileCommit(c) => c.toInt
    case other => throw new IllegalStateException(
      s"graft-snapshots: cannot attribute $other to a commit")
  }

  /** How the snapshot scan reads one vintage's files under a canonical
    * schema. `names` maps each canonical (dotted) path to the LEAF the
    * vintage's files store it under, by [[localName]] (identity entries
    * omitted); a path the vintage cannot hold — dropped, or a name
    * re-used after a rename or drop — maps to a [[DropMarker]]-prefixed
    * leaf no file contains, so it reads null instead of an unrelated old
    * column. `stored` is the vintage's footer schema, which decides the
    * columns the reader cannot decode at their canonical type
    * ([[readType]]). */
  private[sources] final case class VintageRead(names: Map[String, String],
      stored: org.apache.spark.sql.types.StructType) {

    /** The type to request top-level canonical column `f` at when the
      * parquet readers cannot widen (part of) it in place: `f`'s shape
      * with the stored leaf type wherever a stored leaf must be cast
      * after decoding (say long into double, also as a struct subfield,
      * array element or map entry). None when the reader decodes `f` at
      * its own type. `f` may be nested-pruned: the walk follows its
      * fields. */
    def readType(f: org.apache.spark.sql.types.StructField)
        : Option[org.apache.spark.sql.types.DataType] =
      stored.find(_.name == names.getOrElse(f.name, f.name))
        .flatMap(sf => requestType(f.name, sf.dataType, f.dataType))

    private def requestType(path: String,
        stored: org.apache.spark.sql.types.DataType,
        canonical: org.apache.spark.sql.types.DataType)
        : Option[org.apache.spark.sql.types.DataType] = {
      import org.apache.spark.sql.types._
      (stored, canonical) match {
        case (a, b) if a == b => None
        // the promotions both parquet readers decode in place
        case (IntegerType, LongType | DoubleType) | (FloatType, DoubleType) =>
          None
        // array and map innards carry no rename entries: a null path
        // keeps their struct subfields under their own names
        case (ArrayType(se, _), ArrayType(ce, n)) =>
          requestType(null, se, ce).map(ArrayType(_, n))
        case (MapType(sk, sv, _), MapType(ck, cv, n)) =>
          val (k, v) = (requestType(null, sk, ck), requestType(null, sv, cv))
          if (k.isEmpty && v.isEmpty) None
          else Some(MapType(k.getOrElse(ck), v.getOrElse(cv), n))
        case (ss: StructType, cs: StructType) =>
          // the canonical shape, field for field: localizeSchema renames
          // the leaves, and a cast after decoding is positional
          val kids = cs.fields.toSeq.map { cf =>
            val p = if (path == null) null else path + "." + cf.name
            val leaf = if (p == null) cf.name else names.getOrElse(p, cf.name)
            ss.find(_.name == leaf)
              .flatMap(sf => requestType(p, sf.dataType, cf.dataType))
          }
          if (kids.forall(_.isEmpty)) None
          else Some(StructType(cs.fields.zip(kids).map {
            case (cf, k) => k.fold(cf)(t => cf.copy(dataType = t))
          }))
        case _ => scala.util.Try(widen(stored, canonical)).toOption
          .filter(_ == canonical).map(_ => stored)
      }
    }
  }

  /** The [[VintageRead]] of every vintage among `paths` under `schema`,
    * canonical at version `canonV`: names from the rename chain of `st`
    * (whose version covers `canonV` and every vintage) and one
    * (memoized) footer per vintage, no job. */
  private[sources] def vintageReads(s: SparkSession, dir: String,
      st: TableState, paths: Seq[String], canonV: Int,
      schema: org.apache.spark.sql.types.StructType)
      : Map[Int, VintageRead] = {
    val byVintage = paths.groupBy(vintageOf)
    if (byVintage.isEmpty) Map.empty
    else {
      val local = localName(st.chain, canonV) _
      val canonical = schema.fields.toSeq.flatMap(f =>
        f.name +: subPaths(f.name, f.dataType))
      byVintage.map { case (c, ps) =>
        val names = canonical.flatMap { p =>
          val leaf = local(c, p) match {
            case DropMarker => DropMarker + leafOf(p)
            case l => leafOf(l)
          }
          if (leaf == leafOf(p)) None else Some(p -> leaf)
        }.toMap
        c -> VintageRead(names, footerSchema(s, dir, ps.head))
      }
    }
  }

  /** Session memo of data-file footer schemas, by absolute path. Data
    * files are immutable and uniquely named (commit version plus the
    * writing job's uuid), so an entry never goes stale; LRU-bounded. */
  private val footerMemo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        org.apache.spark.sql.types.StructType](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          org.apache.spark.sql.types.StructType]): Boolean = size > 4096
    })

  /** The schema of data file `rel` (manifest-relative) from its footer,
    * read on the driver once per session: a commit writes one
    * DataFrame, so one file stands for its vintage in
    * [[evolvedSchema]] and [[vintageReads]] alike. */
  private[sources] def footerSchema(s: SparkSession, dir: String,
      rel: String): org.apache.spark.sql.types.StructType = {
    val p = new Path(dir, rel)
    val key = p.toString
    Option(footerMemo.get(key)).getOrElse {
      val sch = org.apache.spark.sql.execution.datasources.parquet
        .GraftParquetIO.footerSchema(s, p, s.sparkContext.hadoopConfiguration)
      footerMemo.put(key, sch)
      sch
    }
  }

  /** Every struct-subfield dotted path under `prefix`-named `dt`,
    * depth-first. Arrays/maps are opaque: subfield evolution inside an
    * array element is refused at the ALTER layer, so their innards never
    * participate in path walks. */
  private[sources] def subPaths(prefix: String,
      dt: org.apache.spark.sql.types.DataType): Seq[String] = dt match {
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.toSeq.flatMap(f =>
        (prefix + "." + f.name) +: subPaths(prefix + "." + f.name,
          f.dataType))
    case _ => Seq.empty
  }

  /** The vintage-local REQUESTED schema for canonical schema `canon`
    * under inverse map `inv` (canonical dotted path → vintage-local
    * LEAF name): each field's leaf renames per `inv`, types stay
    * canonical (widened) — exactly what a per-vintage parquet read
    * requests so schema clipping backfills absent (sub)fields with null
    * and the reader's type promotion decodes narrower physical types in
    * place. A masked entry (DropMarker-prefixed leaf) requests a name no
    * file can contain, reading as null — the re-used-name guard. */
  private[sources] def localizeSchema(
      canon: org.apache.spark.sql.types.StructType,
      inv: Map[String, String], prefix: String = "")
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(canon.fields.map { f =>
      val p = prefix + f.name
      val nm = inv.getOrElse(p, f.name)
      f.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          f.copy(name = nm, dataType = localizeSchema(st, inv, p + "."))
        case _ => f.copy(name = nm)
      }
    })

  private[sources] val CheckpointEvery = 20

  /** Spec observability: every metadata side-file OPEN (manifests,
    * meta, stats, renames, checkpoints - everything through
    * [[readSmall]]). Pins that deep-history reads stay
    * O(CheckpointEvery). */
  private[sources] val sideFileOpens =
    new java.util.concurrent.atomic.AtomicLong

  private def ckptPath(dir: String, v: Int) = new Path(dir, s"v$v.ckpt")

  /** One commit's graph record: (instant millis — 0 = unknown, parent
    * versions main-side first, streaming-write txn stamp `queryId:batch`). */
  private[sources] type MetaRec = (Long, Seq[Int], Option[String])

  /** One recorded stat line: (manifest path, (column, type, min, max)). */
  private[sources] type StatLine = (String, (String, String, String, String))

  /** Recorded stats by manifest path: each file's (column, type, min,
    * max) lines. Files without stats are absent. */
  private[sources] type FileStats =
    Map[String, Seq[(String, String, String, String)]]

  /** `lines` added to `m` — a path's lines concatenate, so the result
    * shares every untouched entry with `m`. */
  private def withLines(m: FileStats, lines: Seq[StatLine]): FileStats =
    lines.groupBy(_._1).foldLeft(m) { case (acc, (p, xs)) =>
      acc.updated(p, acc.getOrElse(p, Seq.empty) ++ xs.map(_._2)) }

  /** The table's metadata up to version `v`: the stats of every file
    * commits 1..v wrote (by path), the rename chain of commits 1..v, and
    * the COMMIT GRAPH of versions 1..v (parent pointers, commit
    * instants, stream-txn stamps, operation verbs). Immutable: [[state]]
    * keeps one per table, the newest it has built, and serves every
    * version at or below `v` from it. That is sound because every field
    * is keyed by version (renames, metas, ops) or by a uuid-named file
    * path that only its writing commit records (stats): a question about
    * version u <= v names u — `localName`'s and [[StatsPruning.keep]]'s
    * canonical version, the manifest's paths, a graph walk from u — and
    * never reaches a later record. A `vN.ckpt` checkpoint is the state
    * of exactly N rendered ([[renderCkpt]]). Every deep-history walk
    * (branch merge, time travel, `system.history`, the streaming
    * source's line ancestry and admission, the streaming write's replay
    * cursor) resolves one state at its head and then walks in memory, so
    * a 260k-version streaming table costs O(CheckpointEvery) metadata
    * opens per walk, not O(versions). The graph answers for versions
    * 1..v only; asking it about a later version is a caller bug and
    * throws. */
  private[sources] final case class TableState(v: Int,
      stats: FileStats,
      renames: Map[Int, Seq[(String, String)]],
      metas: Map[Int, MetaRec],
      ops: Map[Int, (String, Seq[String])]) {

    /** The rename chain as a TOTAL map (commits without renames resolve
      * to empty). */
    lazy val chain: Map[Int, Seq[(String, String)]] =
      renames.withDefaultValue(Seq.empty)

    private def meta(c: Int): MetaRec = metas.getOrElse(c,
      throw new IllegalArgumentException(
        s"graft-snapshots: version $c is outside the state of version $v"))
    def parents(c: Int): Seq[Int] = meta(c)._2
    def parent(c: Int): Int = parents(c).headOption.getOrElse(c - 1)
    def txn(c: Int): Option[String] = meta(c)._3
    /** Every version's meta is folded, so a version absent from `ops`
      * has no op file. */
    def op(c: Int): Option[(String, Seq[String])] = { meta(c); ops.get(c) }
    /** The recorded commit instant, else (no `vN.meta`: a pre-meta
      * table) the manifest's mtime ([[commitInstant]]). */
    def instant(f: FileSystem, dir: String, c: Int): Long = {
      val t = meta(c)._1
      if (t != 0L) t else commitInstant(f, dir, c)
    }
    /** `head` plus every ancestor through FIRST-parent pointers — the
      * line-membership set. */
    def ancestrySet(head: Int): Set[Int] = {
      val anc = scala.collection.mutable.Set.empty[Int]
      var x = head
      while (x >= 1 && !anc.contains(x)) {
        anc += x
        val p = parent(x)
        x = if (p < x) p else 0 // defensive: never loop
      }
      anc.toSet
    }
  }

  private val NoState =
    TableState(0, Map.empty, Map.empty, Map.empty, Map.empty)

  /** The one cache of table states: per table dir, its epoch and the
    * newest state built. A published version's metadata never changes,
    * so a state never goes stale; a newer one replaces it atomically,
    * and a recreated table (new epoch) replaces its predecessor's. */
  private val states =
    scala.collection.concurrent.TrieMap.empty[String, (Long, TableState)]

  /** The table's identity fingerprint: v1's commit instant (0 when that
    * meta is absent - legacy or vacuumed roots). A table dropped and
    * recreated at the same path restarts version numbering, so a state
    * of the old table must not serve the new one. */
  private def tableEpoch(f: FileSystem, dir: String): Long =
    try readMeta(f, dir, 1).flatMap(_.head.toLongOption).getOrElse(0L)
    catch { case scala.util.control.NonFatal(_) => 0L }

  /** A [[TableState]] that answers for version `v` — the one resolver of
    * snapshot metadata. It reads the table's epoch once (one `v1.meta`
    * open) and returns the table's cached state when that reaches `v`;
    * else it folds the side-files of the versions after the newer of
    * the cached state and the newest checkpoint at or below `v` (else
    * from nothing) and offers the result to the cache. The returned
    * state's `v` may exceed the one asked for: callers name the version
    * they ask about. `v` must be published: side-files precede the
    * manifest (and a claimant reusing an aborted version number clears
    * the orphans first), so a published version's metadata is complete
    * and never changes. A reader resolves the state once and passes it
    * down. */
  private[sources] def state(s: SparkSession, dir: String, v: Int)
      : TableState = state(fs(s, dir), dir, v)

  private[sources] def state(f: FileSystem, dir: String, v: Int)
      : TableState =
    if (v < 1) NoState
    else {
      val e = tableEpoch(f, dir)
      val cached = states.get(dir).collect { case (`e`, st) => st }
      cached.filter(_.v >= v).getOrElse {
        val st = foldTo(f, dir, cached, v)
        states.updateWith(dir) {
          case Some(cur @ (`e`, c)) if c.v >= v => Some(cur)
          case _ => Some((e, st))
        }
        st
      }
    }

  /** The state of exactly version `v`, folded from `below` (a state
    * under `v`, if any) or the newest checkpoint above it, whichever is
    * newer. */
  private def foldTo(f: FileSystem, dir: String, below: Option[TableState],
      v: Int): TableState = {
    val ckpt = ((v / CheckpointEvery) * CheckpointEvery to
        below.fold(0)(_.v) + 1 by -CheckpointEvery).iterator
      .flatMap(readCheckpoint(f, dir, _)).nextOption()
    fold(f, dir, ckpt.orElse(below).getOrElse(NoState), v)
  }

  /** `base` extended by the side-files of versions (base.v, v]. A
    * pre-graph checkpoint (no M/O records) folds the graph from 1; the
    * next checkpoint write upgrades it durably. */
  private def fold(f: FileSystem, dir: String, base: TableState, v: Int)
      : TableState = {
    val from = base.v
    val gFrom = if (base.metas.isEmpty) 0 else from
    TableState(v,
      withLines(base.stats, (from + 1 to v).flatMap(statLinesOf(f, dir, _))),
      base.renames ++ (from + 1 to v).map(c => c -> renamesOf(f, dir, c))
        .filter(_._2.nonEmpty),
      base.metas ++ (gFrom + 1 to v).map(c => c -> metaRecOf(f, dir, c)),
      base.ops ++
        (gFrom + 1 to v).flatMap(c => commitOpF(f, dir, c).map(c -> _)))
  }

  /** Spec support: drop the cached state of `dir` — a fresh driver
    * reading an existing table, so specs can pin the COLD read cost of
    * the checkpoint path itself. */
  private[sources] def forgetStates(dir: String): Unit = {
    states.remove(dir); ()
  }

  private def parseStatLines(txt: String): Vector[StatLine] =
    txt.split('\n').toVector.filter(_.contains(SepCh)).map { l =>
      val a = l.split(SepCh)
      (a(0), (a(1), a(2), a(3), a(4)))
    }

  private def statLinesOf(f: FileSystem, dir: String, c: Int)
      : Vector[StatLine] = {
    val p = new Path(dir, s"v$c.stats")
    if (!f.exists(p)) Vector.empty else parseStatLines(readSmall(f, p))
  }

  private def renderCkpt(st: TableState): String = {
    val sep = SepCh.toString
    val b = new StringBuilder
    b.append(Seq("C", "1", st.v.toString).mkString(sep)).append('\n')
    st.stats.foreach { case (p, cols) =>
      cols.foreach { case (c, tn, mn, mx) =>
        b.append(Seq("S", p, c, tn, mn, mx).mkString(sep)).append('\n') }
    }
    st.renames.toSeq.sortBy(_._1).foreach { case (c, rs) =>
      rs.foreach { case (o, n) =>
        b.append(Seq("R", c.toString, o, n).mkString(sep)).append('\n') }
    }
    // commit-graph records: M = meta (instant, space-separated parents,
    // optional stream-txn stamp), O = operation verb + key columns. The
    // parser ignores unknown tags, so pre-graph readers skip these.
    st.metas.toSeq.sortBy(_._1).foreach { case (c, (ts, ps, txn)) =>
      b.append(Seq("M", c.toString, ts.toString, ps.mkString(" "),
        txn.getOrElse("")).mkString(sep)).append('\n') }
    st.ops.toSeq.sortBy(_._1).foreach { case (c, (verb, keys)) =>
      b.append(Seq("O", c.toString, verb, keys.mkString(","))
        .mkString(sep)).append('\n') }
    b.result()
  }

  private def parseCkpt(v: Int, txt: String): TableState = {
    val stats = Vector.newBuilder[StatLine]
    val ren =
      scala.collection.mutable.Map.empty[Int, List[(String, String)]]
    val metas = Map.newBuilder[Int, MetaRec]
    val ops = Map.newBuilder[Int, (String, Seq[String])]
    txt.split('\n').iterator.filter(_.nonEmpty).foreach { l =>
      val a = l.split(SepCh)
      a(0) match {
        case "S" => stats += ((a(1), (a(2), a(3), a(4), a(5))))
        case "R" =>
          val c = a(1).toInt
          ren(c) = ren.getOrElse(c, Nil) :+ ((a(2), a(3)))
        case "M" =>
          // trailing empty fields are dropped by split — lift them back
          val ps = if (a.length > 3) a(3).split(' ').toSeq
            .flatMap(_.toIntOption) else Seq.empty
          val txn = if (a.length > 4 && a(4).nonEmpty) Some(a(4)) else None
          metas += ((a(1).toInt, (a(2).toLong,
            if (ps.nonEmpty) ps else Seq(a(1).toInt - 1), txn)))
        case "O" =>
          val keys = if (a.length > 3) a(3).split(',').toSeq
            .map(_.trim).filter(_.nonEmpty) else Seq.empty
          ops += ((a(1).toInt, (a(2), keys)))
        case _ => // C marker / future record types: ignore
      }
    }
    TableState(v, withLines(Map.empty, stats.result()),
      ren.iterator.map { case (k, vs) => k -> (vs: Seq[(String, String)]) }
        .toMap,
      metas.result(), ops.result())
  }

  /** Checkpoint `c`, or None when it is absent or unreadable (the fold
    * then starts lower). */
  private def readCheckpoint(f: FileSystem, dir: String, c: Int)
      : Option[TableState] = {
    val p = ckptPath(dir, c)
    if (!f.exists(p)) None
    else try Some(parseCkpt(c, readSmall(f, p)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** One commit's [[MetaRec]] from its `vN.meta` side-file; the linear
    * default `(0, Seq(c-1), None)` for absent metas (legacy or vacuumed
    * versions) — the same fallbacks [[commitParent]]/[[commitInstant]]
    * apply per call, baked into the fold so folded versions never
    * re-probe the filesystem. */
  private def metaRecOf(f: FileSystem, dir: String, c: Int): MetaRec =
    readMeta(f, dir, c) match {
      case Some(m) =>
        val inst = m.head.toLongOption.getOrElse(0L)
        val ps = if (m.size >= 2)
          m(1).split(' ').toSeq.flatMap(_.toIntOption) else Seq.empty
        val txn = if (m.size >= 3 && m(2).nonEmpty) Some(m(2)) else None
        (inst, if (ps.nonEmpty) ps else Seq(c - 1), txn)
      case None => (0L, Seq(c - 1), None)
    }

  /** Write `v`'s checkpoint when `v` is a [[CheckpointEvery]] multiple.
    * Called AFTER the manifest publish by every commit path;
    * best-effort (redundant state - a failure degrades reads to the
    * longer suffix walk, never to wrong data). */
  private def maybeCheckpoint(f: FileSystem, dir: String, v: Int): Unit =
    if (v > 0 && v % CheckpointEvery == 0) {
      try writeCheckpoint(f, dir, v)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Write version `v`'s state as its checkpoint, unconditionally (`v`
    * must be a published [[CheckpointEvery]] multiple). Atomic
    * tmp+rename so a reader never sees a torn checkpoint. Throws on
    * failure — [[maybeCheckpoint]] downgrades that to best-effort,
    * [[checkpointNow]] surfaces it. */
  private def writeCheckpoint(f: FileSystem, dir: String, v: Int): Unit = {
    // the cached state may already reach past v; a checkpoint holds v's
    // records alone
    val st = Some(state(f, dir, v)).filter(_.v == v).getOrElse(
      foldTo(f, dir, None, v))
    val tmp = new Path(dir, s"_v$v.ckpt.tmp")
    val o = f.create(tmp, true)
    try o.write(renderCkpt(st).getBytes("UTF-8"))
    finally o.close()
    f.rename(tmp, ckptPath(dir, v))
    ()
  }

  /** Force-write the newest reachable checkpoint — the top
    * [[CheckpointEvery]] multiple at or below the current head — the
    * operational verb (`CALL system.checkpoint`) after a bulk history
    * import, a vacuumed-away checkpoint, or failed best-effort writes.
    * Idempotent; returns the checkpointed version, 0 when the table is
    * shallower than one checkpoint span. Runs under the claim lock so
    * it cannot race a vacuum's side-file deletes. */
  def checkpointNow(s: SparkSession, dir: String): Int = {
    val f = fs(s, dir)
    val head = latestVersion(s, dir)
    val top = (head / CheckpointEvery) * CheckpointEvery
    if (top < CheckpointEvery) return 0
    val lock = claimVersion(f, dir)
    try {
      writeCheckpoint(f, dir, top)
      top
    } finally lock.release()
  }

  /** A freshly CLAIMED version number may carry side-file orphans from
    * a claimant that died mid-publish (side-files are written BEFORE
    * the manifest - the crash-consistency direction that makes a
    * RESOLVABLE version's metadata complete and therefore a
    * [[TableState]] immutable). Cleared centrally when a claim is won. */
  private def clearStaleSideFiles(f: FileSystem, dir: String, v: Int)
      : Unit = {
    f.delete(new Path(dir, s"v$v.op"), false)
    f.delete(new Path(dir, s"v$v.renames"), false)
    f.delete(new Path(dir, s"v$v.stats"), false)
    f.delete(ckptPath(dir, v), false)
    ()
  }

  /** Per-file (col, typeName, min, max) stats of the files state `st`
    * records, keyed by manifest-relative path. Files without stats are
    * simply absent (conservative: never pruned). The purge-maintained
    * `purged.stats` overlay (see purge step 2b) is MUTABLE and therefore
    * read fresh each call. */
  private[sources] def statsUpTo(s: SparkSession, dir: String,
      st: TableState): FileStats = {
    val f = fs(s, dir)
    val pp = new Path(dir, "purged.stats")
    if (!f.exists(pp)) st.stats
    else withLines(st.stats, parseStatLines(readSmall(f, pp)))
  }

  /** Above this many live files, [[fileInventory]] reads lengths and
    * footer row counts in ONE Spark job over the file list instead of a
    * sequential driver loop — an 800k-file table inventories in one
    * cluster-parallel metadata sweep, while the diagnostic small-table
    * path stays job-free. */
  private[sources] val inventoryDistributeThreshold = 64

  /** Live-file inventory of version `v`: (manifest path, vintage
    * commit, bytes, footer row count, recorded stat bounds rendered
    * `col:[mn,mx]` space-joined). O(files) metadata — parquet footers
    * and side-files, no data read at any table size; above
    * [[inventoryDistributeThreshold]] files the per-file status +
    * footer reads run as one distributed job (the driver loop would
    * pay O(files) sequential RPCs). Backs `CALL <cat>.system.files`. */
  private[sources] def fileInventory(s: SparkSession, dir: String, v: Int)
      : Seq[(String, Int, Long, Long, String)] = {
    val f = fs(s, dir)
    val fset = files(s, dir, v)
    val stats = statsUpTo(s, dir, state(f, dir, v))
    val meta: Map[String, (Long, Long)] =
      if (fset.size <= inventoryDistributeThreshold)
        fset.map { p =>
          val full = new Path(dir, p)
          p -> ((f.getFileStatus(full).getLen, parquetRowCount(full, s)))
        }.toMap
      else {
        val conf =
          new SerializableHadoopConf(s.sparkContext.hadoopConfiguration)
        val tableDir = dir
        val slices = math.min(fset.size,
          math.max(1, s.sparkContext.defaultParallelism))
        s.sparkContext.parallelize(fset, slices).map { rel =>
          val p = new Path(tableDir, rel)
          val len = p.getFileSystem(conf.value).getFileStatus(p).getLen
          val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              p, conf.value))
          val n = try rd.getRecordCount finally rd.close()
          rel -> ((len, n))
        }.collect().toMap
      }
    fset.map { p =>
      val vintage = p match {
        case FileCommit(c) => c.toInt
        case _ => -1
      }
      val st = stats.getOrElse(p, Seq.empty)
        .map { case (c, _, mn, mx) => s"$c:[$mn,$mx]" }.mkString(" ")
      val (len, n) = meta(p)
      (p, vintage, len, n, st)
    }
  }

  /** Epoch millis of a date/timestamp rendered by EITHER side of a stats
    * comparison — Spark's cast-to-string ("2020-01-01 09:00:00", no
    * trailing ".0"), java.sql.Timestamp.toString ("… 09:00:00.0"),
    * java.sql.Date.toString ("2020-01-01"), or ISO-8601 with a 'T'.
    * Comparing the RAW strings lexicographically is wrong at boundary
    * equality (".0" sorts above ""), which can prune a file that contains
    * matching rows — silent row loss. None = unparseable (conservative). */
  private[sources] def temporalMillis(x: String): Option[Long] = {
    val s = x.trim.replace('T', ' ')
    (try Some(java.sql.Timestamp.valueOf(s).getTime)
     catch { case _: Exception => None }).orElse(
      try Some(java.sql.Date.valueOf(s).getTime)
      catch { case _: Exception => None })
  }

  /** Version `v` restricted to files whose recorded `keyCol` stats
    * intersect [lo, hi] — file-level pruning from METADATA alone: the
    * dropped files are never opened, not even for a footer. Files with no
    * recorded stats are always read (conservative). `keyCol` is canonical
    * at `v`; the frame is [[read]]'s scan over the kept files. Returns
    * the pruned frame plus (filesRead, filesTotal) for auditability. */
  def readPruned(s: SparkSession, dir: String, v: Int, keyCol: String,
      lo: Any, hi: Any): (DataFrame, (Int, Int)) = {
    import org.apache.spark.sql.catalyst.expressions.{And,
      AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    import org.apache.spark.sql.functions.col
    val es = entries(s, dir, v)
    val fset = es.map(_.path)
    val st = state(s, dir, v)
    val key = AttributeReference(keyCol, Literal(lo).dataType)()
    val keep = StatsPruning.keep(s, dir, st, fset, StatsPruning.groupsOf(s,
      dir, And(GreaterThanOrEqual(key, Literal(lo)),
        LessThanOrEqual(key, Literal(hi)))), v).toSet
    val df = s.baseRelationToDataFrame(SnapshotSource.relationFor(s, dir,
      st, es.filter(e => keep(e.path)), v,
      evolvedSchema(s, dir, st, v, fset)))
    (df.filter(col(keyCol) >= lo && col(keyCol) <= hi), (keep.size, fset.size))
  }

  /** Renames declared AT commit `v` (empty if none). */
  private def renamesOf(f: FileSystem, dir: String, v: Int)
      : Seq[(String, String)] = {
    val p = new Path(dir, s"v$v.renames")
    if (!f.exists(p)) Seq.empty
    else readSmall(f, p).split('\n').filter(_.contains(SepCh)).toSeq
      .map { l => val a = l.split(SepCh); (a(0), a(1)) }
  }

  /** Widest common type across vintages — the write-side evolution rules
    * a multi-year table accretes: integral widening (byte→short→int→long)
    * and float→double; any integral × fractional mix reads as double.
    * Anything else is a real schema CONFLICT and throws (silently
    * coercing string×int would corrupt data). */
  private[sources] def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    if (a == b) a
    else (a, b) match {
      // struct evolution: field union BY NAME — shared subfields widen
      // recursively, a subfield one vintage lacks adopts the other's
      // type (pre-evolution rows backfill null). Order: a's fields,
      // then b's additions in b's order (vintage order, matching the
      // top-level column convention).
      case (sa: StructType, sb: StructType) =>
        val bByName = sb.fields.map(f => f.name -> f).toMap
        val merged = sa.fields.toSeq.map { fa =>
          bByName.get(fa.name) match {
            case Some(fb) => StructField(fa.name,
              widen(fa.dataType, fb.dataType), nullable = true)
            case None => fa.copy(nullable = true)
          }
        } ++ sb.fields.toSeq
          .filterNot(f => sa.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        StructType(merged)
      case (ArrayType(ea, _), ArrayType(eb, _)) =>
        ArrayType(widen(ea, eb), containsNull = true)
      case (MapType(ka, va, _), MapType(kb, vb, _)) =>
        MapType(widen(ka, kb), widen(va, vb), valueContainsNull = true)
      case _ =>
        val rank: Map[DataType, Int] = Map(ByteType -> 1, ShortType -> 2,
          IntegerType -> 3, LongType -> 4, FloatType -> 5, DoubleType -> 6)
        (rank.get(a), rank.get(b)) match {
          case (Some(x), Some(y)) =>
            val m = math.max(x, y)
            if (m <= 4 || (x >= 5 && y >= 5))
              Seq(ByteType, ShortType, IntegerType, LongType, FloatType,
                DoubleType)(m - 1)
            else DoubleType // integral × fractional
          case _ => throw new IllegalArgumentException(
            s"schema conflict: cannot widen $a vs $b")
        }
    }
  }

  private[sources] val FileCommit = """^(?:data/)?(?:purged-)*v(\d+)-.*$""".r

  /** Metadata-only resolution of version `v`'s EVOLVED schema: per
    * vintage, one parquet footer ([[footerSchema]], on the driver, no
    * Spark job), the rename chain of every later commit ≤ v maps local
    * names to canonical ones, and types widen across vintages
    * ([[widen]]). Column order: the first vintage's columns, then later
    * additions in vintage order. O(vintages) footers, no data. */
  private[sources] def evolvedSchema(s: SparkSession, dir: String, v: Int)
      : org.apache.spark.sql.types.StructType = {
    val fset = files(s, dir, v)
    evolvedSchema(s, dir, state(s, dir, v), v, fset)
  }

  /** [[evolvedSchema]] over `fset`, version `v`'s already-read file
    * list, with the rename chain of `st` (a state at or above `v`). */
  private[sources] def evolvedSchema(s: SparkSession, dir: String,
      st: TableState, v: Int, fset: Seq[String])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val chain = st.chain
    val vintages = fset.groupBy(vintageOf).toSeq.sortBy(_._1).map {
      case (c, paths) =>
        val sch = footerSchema(s, dir, paths.head)
        // fwd maps every LOCAL dotted path — top-level names plus struct
        // subfield paths — to its CURRENT canonical path (or DropMarker);
        // a purely top-level history degenerates to the original
        // name-to-name walk
        var fwd: Map[String, String] =
          sch.fields.toSeq.flatMap(f =>
            f.name +: subPaths(f.name, f.dataType))
            .map(n => n -> n).toMap
        for (later <- (c + 1) to v; (o, n) <- chain(later))
          fwd = fwd.map { case (l, cur) => l -> applyEntry(cur, o, n) }
        (sch, fwd)
    }
    // the CANONICALIZED type of a vintage-local field: struct subfields
    // rename to their canonical leaves and logically-dropped ones vanish,
    // so cross-vintage widening unions canonical names, never stale ones
    def canonType(localPath: String,
        dt: org.apache.spark.sql.types.DataType,
        fwd: Map[String, String]): org.apache.spark.sql.types.DataType =
      dt match {
        case st: StructType => StructType(st.fields.toSeq.flatMap { f =>
          val lp = localPath + "." + f.name
          fwd.getOrElse(lp, lp) match {
            case DropMarker => None
            case cp => Some(StructField(leafOf(cp),
              canonType(lp, f.dataType, fwd), nullable = true))
          }
        })
        case other => other
      }
    val widened: Map[String, org.apache.spark.sql.types.DataType] =
      vintages.flatMap { case (sch, fwd) =>
        sch.fields.map(f =>
          fwd(f.name) -> canonType(f.name, f.dataType, fwd)) }
        .filter(_._1 != DropMarker) // logically dropped at <= v
        .groupBy(_._1).map { case (n, ts) =>
          n -> ts.map(_._2).reduce(widen) }
    val order = scala.collection.mutable.LinkedHashSet.empty[String]
    vintages.foreach { case (sch, fwd) =>
      sch.fieldNames.foreach { n =>
        if (fwd(n) != DropMarker) { order += fwd(n); () } } }
    StructType(order.toSeq.map(n =>
      StructField(n, widened(n), nullable = true)))
  }

  /** The manifest body ([[manifestEntries]] parses it) — ONE renderer
    * shared by initial publish and purge's republish, so the two cannot
    * drift. */
  private def manifestBody(es: Seq[Entry]): String =
    es.map {
      case Entry(p, None, _) => "  \"" + p + "\""
      case Entry(p, Some(d), n) => s"""  ["$p", "$d", $n]"""
    }.mkString("[\n", ",\n", "\n]")

  /** Write `body` to `target` atomically via temp file + OVERWRITE-capable
    * rename — shared by every small-pointer write that must never be
    * observed half-written or leave a no-file window (manifest republish,
    * refs, replication cursor). On HDFS the FileContext OVERWRITE rename
    * is server-side atomic; on the LOCAL filesystem it is delete-then-
    * rename (a no-file window a polling reader — e.g. a branch stream's
    * per-trigger refVersion — can hit), so local paths go through NIO's
    * ATOMIC_MOVE, which is a POSIX rename(2): atomic replace, no window. */
  private[sources] def atomicOverwrite(s: SparkSession, f: FileSystem,
      dir: String, target: Path, tmpName: String, body: String): Unit = {
    val raw = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val tmp = f.makeQualified(new Path(dir, tmpName))
    // raw create: no checksum sidecar, so the later two-step sidecar
    // rename can never race a reader (see readSmall)
    val o = raw.create(tmp, true)
    try o.write(body.getBytes("UTF-8")) finally o.close()
    raw match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(
            f.makeQualified(target).toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      case _ =>
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          f.getUri, s.sparkContext.hadoopConfiguration)
        fc.rename(tmp, f.makeQualified(target),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Write manifest vN atomically (temp name + checked rename). */
  private def writeManifest(f: FileSystem, dir: String, v: Int,
      es: Seq[Entry]): Unit = {
    val tmp = new Path(dir, s"_v$v.json.tmp")
    val o = f.create(tmp, true)
    try o.write(manifestBody(es).getBytes("UTF-8")) finally o.close()
    if (!f.rename(tmp, manifest(dir, v)))
      throw new java.io.IOException(
        s"snapshot commit aborted: manifest rename for v$v returned false")
  }

  // ---- deletion vectors (merge-on-read deletes) ---------------------------

  /** Whether any file of version `v` carries a deletion vector. */
  private[sources] def hasDv(s: SparkSession, dir: String, v: Int): Boolean =
    entries(s, dir, v).exists(_.dv.isDefined)

  /** `df` (a file scan) plus its rows' `_fp`/`_ri` positions — the
    * `(file_path, row_index)` a deletion vector records. */
  private[sources] def withMeta(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_fp", col("_metadata.file_path"))
      .withColumn("_ri", col("_metadata.row_index"))
  }

  /** (files kept, files total) of the last positional DML scan
    * (deleteWhere/replaceWhere/updateWhere) — pins condition-bound stat
    * pruning, which the scan's [[SnapshotFileIndex]] applies to the
    * condition Spark pushes to it. */
  private[sources] def lastDmlPruneCounts: (Int, Int) =
    SnapshotFileIndex.lastPruneCounts

  /** The positional scan behind DML and the MERGE family: the live rows
    * of the entries `es` of version `v` (or of the `subset` of
    * its files), deletion vectors applied in the reader, under the
    * version's canonical schema, so renamed and widened vintages read
    * like a SELECT, plus `_fp`/`_ri` positions. A filter over it prunes
    * files like a read. */
  private def positionsScan(s: SparkSession, dir: String, st: TableState,
      v: Int, es: Seq[Entry], subset: Option[Set[String]] = None)
      : DataFrame =
    withMeta(s.baseRelationToDataFrame(SnapshotSource.relationFor(s, dir,
      st, subset.fold(es)(k => es.filter(e => k(e.path))), v,
      evolvedSchema(s, dir, st, v, es.map(_.path)))))

  /** MERGE-ON-READ delete: the row indexes of rows matching `cond` in
    * the latest version join the deletion vectors of the files holding
    * them ([[DeletionVectors.extend]]), and a new version is published
    * referencing the SAME data files — no data file is rewritten, and
    * only the touched files get new vectors, so a delete over a 100 TB
    * table costs one filtered scan plus one small vector per hit file,
    * however many deletes came before. Each read task of the new version
    * opens the vector of the file it reads and skips its dead rows; prior
    * versions are untouched and still resolve the rows.
    * [[optimize]] MATERIALIZES the vector (its rewrite reads through the
    * DV), publishing a DV-free clustered version — the delete-compaction
    * step; [[purge]] is the physical compliance path and requires a
    * DV-free live set (materialize first), because a rewritten file's row
    * indexes would invalidate vector positions and resurrect rows.
    *
    * `branch`: delete on a NAMED BRANCH instead of main — the base is
    * the branch ref's head, and the branch ref (not main) advances with
    * the publish, so branch-side deletions accumulate without touching
    * main and later reconcile through [[mergeBranch]]'s position-union.
    *
    * @return (newVersion, rowsDeleted) */
  def deleteWhere(s: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      branch: Option[String] = None): (Int, Long) =
    deleteWhereBound(s, dir, _ => cond, branch)

  /** [[deleteWhere]] with the condition built AGAINST THE CLAIM-TIME
    * SCAN (`condOf` receives the live frame and returns the predicate
    * Column): the SQL front door routes correlated-subquery conditions
    * here — an EXISTS's outer references must bind to the scan's own
    * resolved attributes (a by-name re-binding would mis-resolve a
    * same-named inner column), and that scan only exists inside the
    * version claim. */
  private[sources] def deleteWhereBound(s: SparkSession, dir: String,
      condOf: DataFrame => org.apache.spark.sql.Column,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"deleteWhere: no versions at $dir")
    // claim FIRST, then compute against v-1: computing positions against
    // a pre-claim latest would silently drop a commit that interleaved
    // between the read and the claim (the lost-update window)
    claimed(s, f, dir, branch, "delete") { (v, latest) =>
      val prev = entries(s, dir, latest)
      val scan = positionsScan(s, dir, state(f, dir, latest), latest, prev)
      val (next, n) = DeletionVectors.extend(s, dir, v, prev,
        scan.filter(condOf(scan))
          .select(col("_fp").as("file_path"), col("_ri").as("row_index")))
      writeCommitMeta(f, dir, v, latest)
      writeManifest(f, dir, v, next)
      maybeCheckpoint(f, dir, v)
      (v, n)
    }
  }

  /** `INSERT INTO t REPLACE WHERE cond SELECT …` (overwrite-by-filter):
    * atomically replace the rows matching `cond` with `df` in ONE
    * published version — the matched positions join the deletion
    * vector, the new rows land as appended files, and nothing else is
    * read or rewritten. The canonical backfill at 100 TB ("replace day
    * X"): the position-finding scan is condition-stat-pruned exactly
    * like [[deleteWhere]], so a day-selective replace on a clustered
    * table opens only the day's files.
    * @return (newVersion, rowsReplaced) */
  def replaceWhere(s: SparkSession, dir: String, df: DataFrame,
      cond: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Seq.empty,
      statsExprs: Seq[(String, String, String)] = Seq.empty,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1,
      s"replaceWhere: no versions at $dir")
    // claim FIRST, then compute against v-1 (the deleteWhere rationale)
    claimed(s, f, dir, branch, "replace") { (v, latest) =>
      val prev = entries(s, dir, latest)
      val scan = positionsScan(s, dir, state(f, dir, latest), latest, prev)
      val (next, n) = DeletionVectors.extend(s, dir, v, prev,
        scan.filter(cond)
          .select(col("_fp").as("file_path"), col("_ri").as("row_index")))
      val (moved, statLines) = stageAndMove(s, f, dir, df, statsCols,
        v, statsExprs)
      writeCommitMeta(f, dir, v, latest)
      writeStatLines(f, dir, v, statLines)
      writeManifest(f, dir, v, next ++ moved.map(Entry(_)))
      maybeCheckpoint(f, dir, v)
      (v, n)
    }
  }

  /** UPDATE … SET … WHERE … in ONE published version: matched row
    * positions join the deletion vector and the UPDATED rows land as
    * fresh appended files — [[upsert]] mechanics keyed by POSITION
    * instead of by key (so tables without a key column update fine), at
    * the same 100 TB cost shape: one filtered scan, a vector per hit file,
    * and the matched rows, never a rewrite of matched files. `sets`
    * maps column name → new-value Column (resolved against this table's
    * scan; values are cast back to the column's current type, the SQL
    * UPDATE coercion rule). The SQL front door routes `UPDATE` here
    * (see [[GraftCatalog]]).
    * @return (newVersion, rowsUpdated) */
  def updateWhere(s: SparkSession, dir: String,
      cond: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)],
      validate: Option[DataFrame => Unit] = None,
      branch: Option[String] = None): (Int, Long) = {
    require(sets.nonEmpty, "updateWhere needs at least one assignment")
    updateWhereBound(s, dir, _ => cond, _ => sets, validate,
      branch = branch)
  }

  /** [[updateWhere]] with the condition AND the assignment values built
    * against the claim-time scan — see [[deleteWhereBound]] (the
    * correlated-subquery DML path; `SET x = (SELECT …)` needs the same
    * resolved-attribute rebind a correlated WHERE does). With `branch`,
    * the update bases on and advances the NAMED branch's head — main
    * and every other ref untouched, [[deleteWhereBound]]'s twin. */
  private[sources] def updateWhereBound(s: SparkSession, dir: String,
      condOf: DataFrame => org.apache.spark.sql.Column,
      setsOf: DataFrame => Seq[(String, org.apache.spark.sql.Column)],
      validate: Option[DataFrame => Unit] = None,
      statsColsOf: org.apache.spark.sql.types.StructType => Seq[String]
        = _ => Seq.empty,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"updateWhere: no versions at $dir")
    // claim FIRST, then match against the claimed predecessor (the same
    // lost-update reasoning as deleteWhere/upsert)
    claimed(s, f, dir, branch, "update") { (v, latest) =>
      val prev = entries(s, dir, latest)
      val live = positionsScan(s, dir, state(f, dir, latest), latest, prev)
      // `matched` feeds TWO consumers — the vector writer (which also
      // counts it) and the updated rows staged as fresh files — so it is
      // persisted once: the whole update costs ONE scan of the table
      val matched = live.filter(condOf(live))
      matched.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val types = live.schema.fields.map(fd => fd.name -> fd.dataType)
          .toMap
        val sets = setsOf(live)
        require(sets.nonEmpty, "updateWhere needs at least one assignment")
        val setMap = sets.toMap
        require(setMap.keys.forall(types.contains),
          s"updateWhere: unknown column(s) ${setMap.keys.filterNot(types
            .contains).mkString(", ")}")
        val dataCols = live.columns.filterNot(Set("_fp", "_ri"))
        val updated = matched.select(dataCols.toSeq.map { cn =>
          setMap.get(cn).map(_.cast(types(cn)).as(cn)).getOrElse(col(cn))
        }: _*)
        // validation runs INSIDE the claim on the EXACT projection this
        // update stages (casts included), against the claimed head —
        // never on a pre-claim snapshot a concurrent commit could
        // invalidate. It runs BEFORE the vector write so a refusal
        // leaves no DV behind.
        validate.foreach(_(updated))
        val (next, nUpd) = DeletionVectors.extend(s, dir, v, prev, matched
          .select(col("_fp").as("file_path"), col("_ri").as("row_index")))
        val (moved, statLines) = stageAndMove(s, f, dir, updated,
          statsColsOf(updated.schema), v)
        writeCommitMeta(f, dir, v, latest)
        // change-feed typing: every delta position is a row this commit
        // UPDATED (its replacement is in the staged files)
        writeCommitOp(f, dir, v, "update", Seq.empty)
        writeStatLines(f, dir, v, statLines)
        writeManifest(f, dir, v, next ++ moved.map(Entry(_)))
        maybeCheckpoint(f, dir, v)
        (v, nUpd)
      } finally { matched.unpersist(); () }
    }
  }

  /** Exact-key pruning kicks in at or below this many distinct source
    * keys (a broadcast-sized driver list, the same envelope purge uses
    * for its tombstone set); above it, per-key [min,max] range overlap
    * still prunes. */
  private val mergeMaxExactKeys = 1024

  /** KEY-STAT FILE PRUNING for the MERGE family's matched-position
    * scan: the subset of `fset` whose recorded per-file key stats admit
    * at least one source key — a selective MERGE against a 100 TB table
    * opens O(stat-overlapping) files to locate replaced positions, not
    * the whole live set (f24 proves the same stat lines prune reads;
    * purge's tombstone detection uses the same conjunction). One small
    * aggregation job over the batch-sized `keys` frame computes the
    * per-key [min,max] bounds, the distinct key count, and any
    * caller-supplied `extraAggs` (so upsert's uniqueness check folds
    * into this job instead of costing two more); when the distinct
    * count is at most [[mergeMaxExactKeys]], a second bounded collect
    * refines the test to exact values AND hands back a local key frame
    * the caller can broadcast into its semi-join (sparing a
    * recomputation of the source plan). Stats live under the writing
    * vintage's local column names, so canonical keys map back through
    * the rename chain; files without stats always survive
    * (conservative — absent stats must never lose a match).
    *
    * @return (prunedFiles, broadcastable exact-key frame when small
    *         enough, the aggregation row: nkAll, per-key mn/mx pairs,
    *         then `extraAggs` in order) */
  private def matchableFiles(s: SparkSession, dir: String, st: TableState,
      v: Int, fset: Seq[String], keyCols: Seq[String], keys: DataFrame,
      extraAggs: Seq[org.apache.spark.sql.Column] = Seq.empty)
      : (Seq[String], Option[DataFrame], org.apache.spark.sql.Row) = {
    import org.apache.spark.sql.functions.{col, count_distinct, max, min,
      struct}
    val aggCols =
      count_distinct(struct(keyCols.map(col): _*)).as("_nk_all") +:
      (keyCols.flatMap(k => Seq(min(col(k)).cast("string"),
        max(col(k)).cast("string"))) ++ extraAggs)
    val row = keys.agg(aggCols.head, aggCols.tail: _*).head()
    val nkAll = row.getLong(0)
    val lo = keyCols.indices.map(i => Option(row.getString(1 + 2 * i)))
    val hi = keyCols.indices.map(i => Option(row.getString(2 + 2 * i)))
    if (nkAll == 0L) return (Seq.empty, None, row) // no keys match nothing
    val keyProj = keys.select(keyCols.map(col): _*)
    val exactRows: Option[Seq[org.apache.spark.sql.Row]] =
      if (nkAll <= mergeMaxExactKeys)
        Some(keyProj.distinct().collect().toSeq)
      else None
    // exact tier: one alternative per key; range tier: each key
    // column's [min, max] (an all-null key column constrains nothing)
    val groups = exactRows match {
      case Some(rows) =>
        StatsPruning.keyRows(s, keyCols, keyProj.schema, rows)
      case None => keyCols.indices.flatMap(i => (lo(i), hi(i)) match {
        case (Some(l), Some(h)) =>
          Seq(Seq(Seq(StatsPruning.Atom(keyCols(i), Some(l), Some(h)))))
        case _ => Seq.empty
      })
    }
    val kept = StatsPruning.keep(s, dir, st, fset, groups, v)
    lastMergePruneCounts = (kept.size, fset.size)
    val exactFrame = exactRows.map(rows =>
      s.createDataFrame(s.sparkContext.parallelize(rows, 1),
        keyProj.schema))
    (kept, exactFrame, row)
  }

  /** (files kept, files total) of the last MERGE JOIN scan prune —
    * pins that a selective MERGE's matched/not-matched joins open only
    * stat-overlapping target files. */
  @volatile private[sources] var lastMergeJoinPruneCounts: (Int, Int) =
    (0, 0)

  /** Below this many live files the MERGE join scans skip key-stat
    * pruning: the one aggregation job over the source keys cannot pay
    * for itself when there are only a handful of files to drop. */
  private[sources] val mergeJoinPruneMinFiles = 8

  /** KEY-STAT FILE PRUNING for the MERGE family's JOIN scans: the
    * subset of version `v`'s files whose recorded key stats admit at
    * least one source key ([[matchableFiles]] — exact tier ≤1024 keys,
    * [min,max] range tier above). Dropped files provably hold no row
    * equating with any source key, so the matched inner join and the
    * not-matched anti-join are unchanged when the target scan reads
    * only the kept files — a selective MERGE against a 100 TB table
    * joins O(stat-overlapping) files, not the live set. (The BY SOURCE
    * anti-join must keep the FULL scan: its result is the target rows
    * WITHOUT a source match.) Cost: one aggregation job over the
    * batch-sized `keys` frame plus the driver-side stat walk. */
  private[sources] def mergeJoinPrunedFiles(s: SparkSession, dir: String,
      v: Int, keyCols: Seq[String], keys: DataFrame): (Seq[String], Int) = {
    val fset = files(s, dir, v)
    val (kept, _, _) =
      matchableFiles(s, dir, state(s, dir, v), v, fset, keyCols,
        keys)
    lastMergeJoinPruneCounts = (kept.size, fset.size)
    (kept, fset.size)
  }

  /** The bucket id a `bucket(n, col)`-clustered write assigns `value`:
    * Murmur3 seed 42 (exactly `functions.hash`) pmod n — evaluating the
    * SAME Catalyst expression the write side ran, so a predicate
    * literal's bucket provably matches its rows' recorded bucket ids. */
  private[sources] def bucketIdOf(value: Any, dt: org.apache.spark.sql
      .types.DataType, n: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal.create(value, dt)), 42)
      .eval(null).asInstanceOf[Int]
    ((h % n) + n) % n
  }

  /** The truncate-transform value of a literal — the SAME derivation
    * the clustered write ran (Catalyst Substring for strings, so
    * codepoint semantics match; width-aligned floor for integrals), so
    * prune-time comparisons against the recorded virtual stats are
    * exact. None = underivable, never prune. */
  private[sources] def truncValueOf(value: Any,
      dt: org.apache.spark.sql.types.DataType, n: Int): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Substring}
    import org.apache.spark.sql.types._
    if (value == null) return None
    dt match {
      case StringType =>
        Option(Substring(Literal.create(value, dt), Literal(1),
          Literal(n)).eval(null)).map(_.toString)
      case ByteType | ShortType | IntegerType | LongType =>
        val l = value.toString.toLong
        Some((l - (((l % n) + n) % n)).toString)
      case _ => None
    }
  }

  /** The condition a just-built `df.filter(...)` carries, for the
    * driver-side [[StatsPruning]] extraction (analysis only — no job). */
  private[sources] def filterExprOf(df: DataFrame)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    df.queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Filter(c, _) => c
      case _ => org.apache.spark.sql.catalyst.expressions.Literal(true)
    }

  /** The `(file_path, row_index)` shape of row positions: `_metadata`
    * coordinates, what [[DeletionVectors.extend]] takes. */
  private[sources] val positionsSchema =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("file_path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("row_index",
        org.apache.spark.sql.types.LongType)))

  /** An empty positions frame — the matched set of a table with no
    * committed version. */
  private[sources] def emptyPositions(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      positionsSchema)

  /** MERGE INTO (upsert) in ONE published version: rows of `src` whose
    * key matches a live row REPLACE it (the old position joins the
    * deletion vector), and every `src` row lands in fresh files appended
    * to the carried file set — so an upsert over a 100 TB table costs a
    * key-join scan OVER THE STAT-OVERLAPPING FILES ONLY
    * ([[matchableFiles]]), a vector per hit file, and the size of `src`,
    * never a rewrite of matched files or a full-table scan. `src` must
    * have the table's schema and unique keys (the standard MERGE source
    * constraint — duplicate source keys would make the result
    * order-dependent). [[optimize]] later materializes the vector as
    * usual. With `branch`, the upsert bases on and advances the NAMED
    * branch's head (main untouched) — [[deleteWhereBound]]'s pattern,
    * completing the branch DML verbs.
    *
    * @return (newVersion, rowsReplaced) */
  def upsert(s: SparkSession, dir: String, src: DataFrame,
      keyCols: Seq[String], statsCols: Seq[String] = Seq.empty,
      streamTxn: Option[(String, Long)] = None,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, count, lit}
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"upsert: no versions at $dir")
    val srcKeys = src.select(keyCols.map(col): _*)
    // claim FIRST, then match against v-1 (same lost-update reasoning as
    // deleteWhere: a commit interleaving between a pre-claim read and the
    // claim would vanish from the published file set)
    claimed(s, f, dir, branch, "upsert") { (v, latest) =>
      val prev = entries(s, dir, latest)
      val fset = prev.map(_.path)
      val st = state(f, dir, latest)
      // one job over the batch-sized source: key bounds for file
      // pruning, the distinct-key count, AND the row count — the
      // uniqueness check rides along instead of costing two more jobs
      val (matchFiles, exactKeys, aggRow) = matchableFiles(s, dir,
        st, latest, fset, keyCols, srcKeys,
        extraAggs = Seq(count(lit(1)).as("_n")))
      require(aggRow.getLong(0) ==
          aggRow.getLong(1 + 2 * keyCols.size),
        "upsert source must have unique keys")
      val (next, nReplaced) =
        if (matchFiles.isEmpty) (prev, 0L)
        else {
          // only LIVE rows can match: the scan applies the vectors
          val live = positionsScan(s, dir, st, latest, prev,
            Some(matchFiles.toSet))
          // a collected exact-key set re-enters as a broadcast local
          // relation: no source recomputation, no shuffle on the scan
          val keyFrame = exactKeys.map(broadcast)
            .getOrElse(srcKeys.distinct())
          DeletionVectors.extend(s, dir, v, prev,
            live.join(keyFrame, keyCols, "left_semi").select(
              col("_fp").as("file_path"), col("_ri").as("row_index")))
        }
      val (moved, statLines) = stageAndMove(s, f, dir, src, statsCols, v)
      writeCommitMeta(f, dir, v, latest, streamTxn)
      // change-feed typing: delta positions are REPLACED rows (their
      // postimages are the staged rows sharing the key)
      writeCommitOp(f, dir, v, "upsert", keyCols)
      writeStatLines(f, dir, v, statLines)
      writeManifest(f, dir, v, next ++ moved.map(Entry(_)))
      maybeCheckpoint(f, dir, v)
      (v, nReplaced)
    }
  }

  /** Apply one CDC batch as ONE published version: `upserts` rows
    * replace-or-insert by key (exactly [[upsert]]'s mechanics) and
    * `deleteKeys` rows leave via the deletion vector — the MERGE shape a
    * change-data feed needs (update + insert + delete in one commit).
    * Cost at 100 TB: a key-join scan of the live set, a vector per hit file,
    * and the size of the batch — never a rewrite.
    *
    * `expectedRemoved`, when given, is the caller's REMOVAL AUDIT: the
    * number of live rows it intends this commit to remove. The by-key
    * mechanics remove EVERY live row sharing a staged key — if that
    * count differs from the expectation (extra same-key rows the caller
    * never meant to touch, an "insert" key that already lives, or a
    * null-keyed delete the equi-join cannot reach), the commit refuses
    * BEFORE any data file is staged and nothing publishes (the claim
    * aborts; its orphan vector is tolerated like any aborted mutation's).
    * With `branch`, the batch applies on the NAMED branch's head.
    * @return (newVersion, rowsApplied = replaced + deleted + inserted) */
  def applyCdc(s: SparkSession, dir: String, upserts: DataFrame,
      deleteKeys: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Seq.empty,
      expectedRemoved: Option[Long] = None,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.{broadcast, col, count,
      count_distinct, lit, struct, when}
    require(keyCols.nonEmpty, "applyCdc needs at least one key column")
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"applyCdc: no versions at $dir")
    val srcKeys = upserts.select(keyCols.map(col): _*)
    claimed(s, f, dir, branch, "apply CDC") { (v, latest) =>
      val prev = entries(s, dir, latest)
      val fset = prev.map(_.path)
      val st = state(f, dir, latest)
      // both key families prune the scan; a marker column (prefixed to
      // stay clear of any user key column) lets the ONE aggregation job
      // also count the upsert side for the uniqueness check (previously
      // two extra jobs)
      val mk = "_graft_cdc_side"
      val allKeys = srcKeys.withColumn(mk, lit(0)).unionByName(
        deleteKeys.select(keyCols.map(col): _*).withColumn(mk, lit(1)))
      val upsCount = count(when(col(mk) === 0, 1)).as("_n_ups")
      val upsDistinct = count_distinct(when(col(mk) === 0,
        struct(keyCols.map(col): _*))).as("_nk_ups")
      val (matchFiles, exactKeys, aggRow) = matchableFiles(s, dir,
        st, latest, fset, keyCols, allKeys,
        extraAggs = Seq(upsCount, upsDistinct))
      require(aggRow.getLong(1 + 2 * keyCols.size) ==
          aggRow.getLong(2 + 2 * keyCols.size),
        "applyCdc upsert batch must have unique keys")
      // replaced (upsert keys) and deleted (delete keys) positions join
      // the vectors together — one commit, one vector write; the writer's
      // count of newly dead rows is the removal audit's figure
      val (next, nGone) =
        if (matchFiles.isEmpty) (prev, 0L)
        else {
          val live = positionsScan(s, dir, st, latest, prev,
            Some(matchFiles.toSet))
          val keyFrame = exactKeys.map(broadcast).getOrElse(
            allKeys.select(keyCols.map(col): _*).distinct())
          DeletionVectors.extend(s, dir, v, prev,
            live.join(keyFrame, keyCols, "left_semi").select(
              col("_fp").as("file_path"), col("_ri").as("row_index")))
        }
      expectedRemoved.foreach(e => require(nGone == e,
        s"applyCdc removal audit: the staged keys matched $nGone live " +
          s"rows but the caller intended to remove $e"))
      val (moved, statLines) = stageAndMove(s, f, dir, upserts,
        statsCols, v)
      writeCommitMeta(f, dir, v, latest)
      // change-feed typing: a delta position whose key re-appears in the
      // staged rows was UPDATED, the rest were genuine deletes
      writeCommitOp(f, dir, v, "cdc", keyCols)
      writeStatLines(f, dir, v, statLines)
      writeManifest(f, dir, v, next ++ moved.map(Entry(_)))
      maybeCheckpoint(f, dir, v)
      (v, nGone + aggRow.getLong(1 + 2 * keyCols.size))
    }
  }

  /** Publish ONE version that removes exact POSITIONS and appends rows —
    * the commit primitive for DML whose matched set is addressed by
    * `(file, row)` rather than by key: the THETA-ONLY MERGE (no equality
    * conjunct in ON means no key space exists to address matched rows;
    * Delta's fallback is a full-join rewrite — here the deletion-vector
    * model [[updateWhereBound]] already uses does it without rewriting a
    * file). `gone` must be `(file_path, row_index)` pairs of LIVE rows of
    * version `baseVersion` (the reader's vectors guarantee liveness
    * when the caller scanned with `_metadata`); a duplicate position
    * counts once (vectors are sets), so `expectedRemoved` (the caller's routed
    * row count) catches BOTH a duplicate-matched target row (two source
    * rows hit one position — SQL's non-deterministic-update error) and a
    * stale base. Because positions — unlike keys — cannot be re-resolved
    * against a newer head, a concurrent commit REFUSES (optimistic
    * conflict, retry the MERGE) instead of silently removing rows a
    * racing writer replaced. Change-feed typing: op `cdc` with NO keys —
    * the feed's generic typing (delta rows out, staged rows in) is
    * exactly the theta MERGE's observable delta (updates surface as
    * delete+insert; no key exists to pair them, by definition).
    *
    * @return (newVersion, rowsRemoved + rowsAppended is NOT returned —
    *         the second element is rowsRemoved; the caller knows its
    *         append size) */
  private[sources] def applyPositional(s: SparkSession, dir: String,
      baseVersion: Int, gone: DataFrame, appends: DataFrame,
      expectedRemoved: Long, statsCols: Seq[String] = Seq.empty,
      branch: Option[String] = None): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1,
      s"applyPositional: no versions at $dir")
    claimed(s, f, dir, branch, "merge") { (v, latest) =>
      require(latest == baseVersion,
        s"applyPositional: concurrent commit — positions were matched " +
          s"against version $baseVersion but the claimed head is " +
          s"$latest; retry the MERGE")
      val prev = entries(s, dir, latest)
      // insert-only carries the base's lines as they are; otherwise a
      // duplicate position counts once (vectors are sets)
      val (next, nGone) =
        if (expectedRemoved == 0L) (prev, 0L)
        else DeletionVectors.extend(s, dir, v, prev,
          gone.select(col("file_path"), col("row_index")))
      require(nGone == expectedRemoved,
        s"applyPositional: the routed clauses matched $expectedRemoved " +
          s"target rows but only $nGone distinct live positions — " +
          "several source rows matched the same target row under the " +
          "theta ON condition (SQL's non-deterministic MERGE); make " +
          "the ON condition row-identifying or pre-aggregate the source")
      val (moved, statLines) = stageAndMove(s, f, dir, appends,
        statsCols, v)
      writeCommitMeta(f, dir, v, latest)
      // no keys: the feed's generic typing (deletes out, inserts in)
      writeCommitOp(f, dir, v, "cdc", Seq.empty)
      writeStatLines(f, dir, v, statLines)
      writeManifest(f, dir, v, next ++ moved.map(Entry(_)))
      maybeCheckpoint(f, dir, v)
      (v, nGone)
    }
  }

  /** Catch a DOWNSTREAM snapshot table up to an upstream one — the
    * consumer half of the change feed. The applied delta per step is the
    * VALUE-level row diff ([[diffRows]]) between the last replicated
    * upstream version (persisted in a `_REPLICATED_FROM` marker in the
    * downstream dir) and the upstream latest: changed rows surface as
    * old-out/new-in pairs, so updates replicate (a key-presence diff
    * would miss them). New/changed rows upsert, vanished keys delete,
    * all in one [[applyCdc]] commit; an identical-content REWRITE
    * upstream diffs empty and publishes NOTHING downstream (the marker
    * still advances). Crash-safe: the marker is written after the apply,
    * and re-applying the same delta is convergent (same-value upserts
    * and already-gone deletes are logical no-ops). Cost per step: the
    * two upstream version scans of the diff + the delta size, never
    * upstream history.
    * @return (upstreamVersionReached, rowsApplied) */
  def replicate(s: SparkSession, upDir: String, downDir: String,
      keyCols: Seq[String]): (Int, Long) = {
    import org.apache.spark.sql.functions.col
    // on a ref-tracked upstream, replication follows MAIN's line — a
    // branch commit (which takes a global version number) must not leak
    // into the replica
    val cur = mainVersion(s, upDir)
    require(cur >= 1, s"replicate: no versions at $upDir")
    val f = fs(s, downDir)
    f.mkdirs(new Path(downDir))
    val marker = new Path(downDir, "_REPLICATED_FROM")
    val last: Option[Int] =
      if (!f.exists(marker)) None
      else Some(readSmall(f, marker).trim.toInt)
    def advance(): Unit =
      // atomic overwrite: a plain create could be observed half-written
      // after a crash, wedging every later tick on an unparseable cursor
      atomicOverwrite(s, f, downDir, marker, "_REPLICATED_FROM.tmp",
        cur.toString)
    val applied = last match {
      case Some(v) if v == cur => return (cur, 0L)
      case None =>
        val full = read(s, upDir, cur)
        commit(s, downDir, full, append = false)
        full.count()
      case Some(v) =>
        val (ins, del) = diffRows(s, upDir, v, cur)
        val insKeys = ins.select(keyCols.map(col): _*).distinct()
        val delKeys = del.select(keyCols.map(col): _*).distinct()
          .join(insKeys, keyCols, "left_anti")
        if (ins.isEmpty && delKeys.isEmpty) 0L
        else applyCdc(s, downDir, ins, delKeys, keyCols)._2
    }
    advance()
    (cur, applied)
  }

  /** `TIMESTAMP AS OF`: the largest version committed at or before
    * `tsMillis`, by the commit instant persisted in each version's
    * `vN.meta` side-file at commit time (manifest mtime is only the
    * fallback for pre-meta tables: purge republishes manifests, so
    * mtimes do not survive compliance runs). Metadata-only: one
    * directory listing plus one tiny read per manifest, no data touched.
    * Returns 0 if nothing was committed yet at that time (or the
    * versions before it were vacuumed). */
  def versionAsOf(s: SparkSession, dir: String, tsMillis: Long,
      ref: Option[String] = None): Int = {
    val f = fs(s, dir)
    val root = new Path(dir)
    if (!f.exists(root)) 0
    else {
      val published = f.listStatus(root).toSeq
        .flatMap(st => st.getPath.getName match {
          case ManifestName(n) => Some(n.toInt)
          case _ => None
        })
      // commit instants through one state: a checkpoint + suffix read
      // instead of one vN.meta open per live manifest
      val g = state(f, dir, published.maxOption.getOrElse(0))
      val candidates = published.filter(g.instant(f, dir, _) <= tsMillis)
      // on a ref-tracked table, time travel follows the requested LINE
      // (main by default, a named ref when given): branch commits share
      // the global version counter, so the raw max over all manifests
      // could silently resolve a main-line TIMESTAMP AS OF to a BRANCH
      // head and return branch data — and a branch-scoped resolution
      // anchored at main could return a version that is not a branch
      // ancestor at all
      val eligible = ref match {
        case Some(name) =>
          val anc = mainAncestry(f, dir, refVersion(s, dir, name))
          candidates.filter(anc.contains)
        case None => refRead(f, dir, "main") match {
          case None => candidates
          case Some((head, _)) =>
            val anc = mainAncestry(f, dir, head)
            candidates.filter(anc.contains)
        }
      }
      eligible.maxOption.getOrElse(0)
    }
  }

  /** The smallest version ON THE REQUESTED LINE (main by default, a
    * named ref's ancestry when `ref` is given) committed AT or AFTER
    * `tsMillis` — `startingTimestamp` resolution for streams and ranged
    * change-feed reads (a commit exactly at the instant is included).
    * A branch stream's timestamp MUST resolve against the branch's own
    * ancestry: a main-line version number is not a branch ancestor, and
    * diffing the first batch against its file set would duplicate or
    * drop rows. Returns head+1 when every existing commit predates the
    * instant: the stream starts with only future commits. Vacuumed
    * versions (no manifest left) are skipped. Metadata-only. */
  def versionSince(s: SparkSession, dir: String, tsMillis: Long,
      ref: Option[String] = None): Int = {
    val f = fs(s, dir)
    val head = ref.map(refVersion(s, dir, _))
      .getOrElse(mainVersion(s, dir))
    if (head < 1) return 1
    // one directory listing bounds the vacuum check; instants and the
    // line walk come off one state — no per-version RPCs
    val live = f.listStatus(new Path(dir)).toSeq
      .flatMap(_.getPath.getName match {
        case ManifestName(n) => Some(n.toInt)
        case _ => None
      }).toSet
    val g = state(f, dir, head)
    g.ancestrySet(head).toSeq.sorted
      .find(v => live.contains(v) &&
        (try g.instant(f, dir, v) >= tsMillis
         catch { case _: Exception => false }))
      .getOrElse(head + 1)
  }

  /** The set of versions on a line: `head` plus every ancestor
    * reachable through the vN.meta parent pointers — one
    * [[state]] (checkpoint + ≤CheckpointEvery side-files, cold),
    * then an in-memory walk. */
  private def mainAncestry(f: FileSystem, dir: String, head: Int)
      : Set[Int] =
    state(f, dir, head).ancestrySet(head)

  /** Whether version `v` lies on the line headed by `head` (is `head`
    * or one of its first-parent ancestors) — branch time travel's
    * membership check. One state resolve. */
  def onLine(s: SparkSession, dir: String, head: Int, v: Int): Boolean =
    v >= 1 && v <= head && mainAncestry(fs(s, dir), dir, head).contains(v)

  /** [[read]] at the version live at `tsMillis` (see [[versionAsOf]]). */
  def readAsOf(s: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val v = versionAsOf(s, dir, tsMillis)
    require(v >= 1,
      s"readAsOf: no version existed at $tsMillis (or it was vacuumed)")
    read(s, dir, v)
  }

  /** Version `v` under its EVOLVED schema: exactly its file set, every
    * vintage's columns under the names canonical at `v` (renames mapped,
    * types widened, columns a vintage predates backfilled null), minus
    * any deletion vector — the relation SQL and
    * `format("graft-snapshots")` plan ([[SnapshotSource.versionRelation]]).
    * History is never rewritten: evolution costs nothing at commit time
    * and no per-row work at read time. */
  def read(s: SparkSession, dir: String, v: Int): DataFrame =
    s.baseRelationToDataFrame(SnapshotSource.versionRelation(s, dir, v))

  // ---- named refs: branches and tags ------------------------------------

  private val RefFile = """^ref-([A-Za-z0-9._-]+)$""".r
  private def refPath(dir: String, name: String) = new Path(dir, s"ref-$name")

  private def refRead(f: FileSystem, dir: String, name: String)
      : Option[(Int, Boolean)] = {
    val p = refPath(dir, name)
    if (!f.exists(p)) None
    else {
      val parts = readSmall(f, p).trim.split(' ')
      Some((parts(0).toInt, parts.length > 1 && parts(1) == "tag"))
    }
  }

  /** Atomic ref write/advance: temp file + overwrite-capable rename, so a
    * reader never sees a half-written pointer and an advance never opens
    * a no-ref window. */
  private def writeRef(s: SparkSession, f: FileSystem, dir: String,
      name: String, v: Int, tag: Boolean): Unit =
    atomicOverwrite(s, f, dir, refPath(dir, name), s"_ref-$name.tmp",
      s"$v ${if (tag) "tag" else "branch"}")

  /** The main branch's head when the table is ref-tracked, else
    * `fallback` (the linear predecessor) — every write path that used to
    * assume "base = latest" goes through this, because once branch
    * commits interleave, the global latest version may be a BRANCH head. */
  private def mainHead(f: FileSystem, dir: String, fallback: Int): Int =
    refRead(f, dir, "main").map(_._1).getOrElse(fallback)

  private def advanceMain(s: SparkSession, f: FileSystem, dir: String,
      v: Int): Unit =
    if (f.exists(refPath(dir, "main"))) writeRef(s, f, dir, "main", v,
      tag = false)

  /** The head a `verb` on `ref` bases on when claiming version `v`: the
    * named branch's head (a missing ref or a tag refuses), else main's. */
  private def baseOf(f: FileSystem, dir: String, ref: Option[String],
      v: Int, verb: String): Int = ref match {
    case Some(n) =>
      val (h, isTag) = refRead(f, dir, n).getOrElse(
        throw new IllegalArgumentException(s"no ref '$n' at $dir"))
      require(!isTag, s"cannot $verb on tag '$n' — tags are immutable")
      h
    case None => mainHead(f, dir, v - 1)
  }

  /** The one claimed section behind every commit and DML verb: hold the
    * claim on the next version `v`, run `body(v, base)` — which
    * publishes v on top of `ref`'s head ([[baseOf]]) — then point `ref`
    * (None = main, when the table is ref-tracked) at v and release. */
  private def claimed[T](s: SparkSession, f: FileSystem, dir: String,
      ref: Option[String], verb: String, timeoutMs: Long = 120000L)(
      body: (Int, Int) => T): T = {
    val c = claimVersion(f, dir, timeoutMs)
    try {
      val out = body(c.v, baseOf(f, dir, ref, c.v, verb))
      ref match {
        case Some(n) => writeRef(s, f, dir, n, c.v, tag = false)
        case None => advanceMain(s, f, dir, c.v)
      }
      out
    } finally c.release()
  }

  /** All named refs: name → (version, isTag). */
  def refs(s: SparkSession, dir: String): Map[String, (Int, Boolean)] = {
    val f = fs(s, dir)
    val root = new Path(dir)
    if (!f.exists(root)) Map.empty
    else f.listStatus(root).toSeq.flatMap(_.getPath.getName match {
      case RefFile(n) => refRead(f, dir, n).map(n -> _)
      case _ => None
    }).toMap
  }

  /** The version ref `name` points at; throws if absent. */
  def refVersion(s: SparkSession, dir: String, name: String): Int =
    refRead(fs(s, dir), dir, name).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no ref '$name' at $dir"))

  /** Main's head: the `main` ref if the table is ref-tracked, else the
    * linear latest version. */
  def mainVersion(s: SparkSession, dir: String): Int =
    mainHead(fs(s, dir), dir, latestVersion(s, dir))

  /** [[read]] at ref `name`'s head. */
  def readRef(s: SparkSession, dir: String, name: String): DataFrame =
    read(s, dir, refVersion(s, dir, name))

  /** Create branch or tag `name` at `version` (default: main's head) —
    * the experiment-lineage primitive: a BRANCH accepts
    * [[commitOnBranch]] writes that never disturb main, a TAG is an
    * immutable named pin. Creating the FIRST ref materializes `main` as
    * a real ref at the current latest, because from then on the global
    * version counter is shared by every branch and "latest" stops
    * meaning "main's head". Runs under the version-claim write lock so
    * ref initialization cannot race a commit. Refs are metadata-only:
    * one tiny file each, zero data copies. */
  def createRef(s: SparkSession, dir: String, name: String,
      version: Int = -1, tag: Boolean = false): Int = {
    require(RefFile.matches(s"ref-$name"),
      s"ref name '$name' must match [A-Za-z0-9._-]+")
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"createRef: no versions at $dir")
    val lock = claimVersion(f, dir)
    try {
      require(refRead(f, dir, name).isEmpty,
        s"ref '$name' already exists at $dir")
      if (name != "main" && refRead(f, dir, "main").isEmpty)
        writeRef(s, f, dir, "main", latestVersion(s, dir), tag = false)
      val at = if (version >= 1) version else mainVersion(s, dir)
      require(f.exists(manifest(dir, at)),
        s"createRef: version $at does not exist at $dir")
      writeRef(s, f, dir, name, at, tag)
      at
    } finally lock.release()
  }

  /** Delete ref `name` (not `main` — the default write target must stay
    * resolvable once the table is ref-tracked). The pointed version
    * itself stays until [[vacuum]] ages it out. */
  def dropRef(s: SparkSession, dir: String, name: String): Unit = {
    require(name != "main", "the main ref cannot be dropped")
    val f = fs(s, dir)
    require(refRead(f, dir, name).isDefined, s"no ref '$name' at $dir")
    f.delete(refPath(dir, name), false)
    ()
  }

  /** Commit `df` on branch `name`: the new version's base is the BRANCH
    * head (append carries ITS file set and deletion vector, not main's),
    * the global version counter is claimed as usual (branch and main
    * commits serialize through the same protocol), and the branch ref
    * advances with the publish — main and every other ref are untouched.
    * @return the new version (the branch's new head) */
  def commitOnBranch(s: SparkSession, dir: String, name: String,
      df: DataFrame, append: Boolean,
      renames: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Seq.empty,
      statsExprs: Seq[(String, String, String)] = Seq.empty): Int =
    commitTo(s, dir, Some(name), FrameParts(df), _ => append, renames,
      statsCols, statsExprs = statsExprs)

  /** Fast-forward branch `name` to `toVersion`, requiring `toVersion` to
    * be a DESCENDANT of the branch head in the commit graph (parent
    * pointers in vN.meta) — the publish step of an experiment lineage:
    * work on a branch, then fast-forward main onto it. A non-descendant
    * target is refused (that would be a history rewrite, not a fast
    * forward). Runs under the claim lock so it cannot race commits that
    * advance either ref. */
  def fastForward(s: SparkSession, dir: String, name: String,
      toVersion: Int): Unit = {
    val f = fs(s, dir)
    val lock = claimVersion(f, dir)
    try {
      val (head, isTag) = refRead(f, dir, name).getOrElse(
        throw new IllegalArgumentException(s"no ref '$name' at $dir"))
      require(!isTag, s"cannot fast-forward tag '$name'")
      require(f.exists(manifest(dir, toVersion)),
        s"fastForward: version $toVersion does not exist at $dir")
      val g = state(f, dir, toVersion)
      var walk = toVersion
      while (walk > head) walk = g.parent(walk)
      require(walk == head,
        s"fastForward: v$toVersion does not descend from '$name' head " +
          s"v$head — refusing a non-fast-forward ref move")
      if (toVersion != head) writeRef(s, f, dir, name, toVersion,
        tag = false)
    } finally lock.release()
  }

  /** THREE-WAY MERGE of branch `name` into MAIN: one published commit
    * whose manifest is the union of both sides' additions since the
    * merge base (the lowest common ancestor on the parent graph) and
    * whose `vN.meta` records BOTH parents — main's head first, so every
    * existing ancestry walk stays on main's line through the merge.
    *
    * Supported shape (the lakehouse experiment-lineage case):
    *  - both sides are FILE-SET-MONOTONE since the base (each head's
    *    file set a superset of the base's — appends, merge-on-read
    *    deletes and updates qualify; rewrites/compactions do not), with
    *    no schema renames on either side's new commits;
    *  - divergent DELETIONS reconcile by POSITION UNION, file by file:
    *    a base file whose vector only one side changed takes that
    *    side's manifest line; one both sides changed gets the union of
    *    the two vectors, as long as their deltas since the base touch
    *    DISJOINT positions — a GDPR-delete branch or a deleting main
    *    reunites cleanly. Both
    *    sides touching the SAME base position is refused (one side may
    *    have UPDATED the row the other deleted — silently unioning
    *    would drop the delete), with a position sample;
    *  - with `keyCols`, KEY-LEVEL CONFLICT DETECTION: rows appended on
    *    main and on the branch sharing a key are a conflict — refused
    *    with a sample, never silently last-writer-wins (resolve by
    *    upserting one side's rows after the merge instead).
    * A branch already contained in main returns main's head unchanged;
    * main un-diverged since the base fast-forwards onto the branch head
    * (no merge commit — the git semantics). BRANCH-side rewrites since
    * the base are refused (a replaced file's positions cannot be
    * reconciled — rebase); MAIN-side rewrites merge when every rewrite
    * is a RECORDED [[optimize]]/[[compact]]/[[restore]] (`vN.op`): the
    * merged manifest is main's head files plus the branch's additions,
    * and branch deletions whose files the rewrite dropped re-locate BY
    * KEY against main's live head (requires `keyCols`; a deleted key
    * matching zero or several live head rows refuses — main deleted,
    * updated, reverted, or duplicated it — as does a key whose live
    * head row no longer carries the base row's content). A
    * routinely-compacted main therefore absorbs a long-lived branch
    * without a rebase, and a branch survives a main-side rollback when
    * the rows it touched came through unchanged. Arbitrary rewrites
    * (INSERT OVERWRITE) stay refused.
    *
    * Scale shape at 100 TB: the fast path touches only manifests and
    * refs; conflict detection reads ONLY the files each side ADDED
    * (key columns only, one distinct-join) plus the vectors of files
    * both sides deleted from, never the base.
    * @return the merged version (main's new head) */
  def mergeBranch(s: SparkSession, dir: String, name: String,
      keyCols: Seq[String] = Seq.empty): Int = {
    import org.apache.spark.sql.functions.col
    val f = fs(s, dir)
    val lock = claimVersion(f, dir)
    try {
      val v = lock.v
      val (bHead, isTag) = refRead(f, dir, name).getOrElse(
        throw new IllegalArgumentException(s"no ref '$name' at $dir"))
      require(!isTag, s"cannot merge tag '$name' — tags are immutable")
      val mHead = mainHead(f, dir, v - 1)
      require(mHead >= 1, s"mergeBranch: main has no commits at $dir")
      // one state serves both sides' ancestry walks, the rename and
      // rewrite validation below, the op lookups and the side reads —
      // O(CheckpointEvery) metadata opens however deep the history is
      val g = state(f, dir, math.max(mHead, bHead))
      def ancestors(x0: Int): List[Int] = {
        var x = x0; val buf = List.newBuilder[Int]
        while (x >= 1) {
          buf += x
          val p = g.parent(x); x = if (p < x) p else 0
        }
        buf.result()
      }
      val mSet = ancestors(mHead).toSet
      val base = ancestors(bHead).find(mSet.contains).getOrElse(0)
      if (bHead == base) return mHead // branch already contained in main
      if (mHead == base) { // main un-diverged: fast-forward, no commit
        writeRef(s, f, dir, "main", bHead, tag = false)
        return bHead
      }
      // diverged — validate the file-set-monotone shape on both sides
      // and reconcile the deletion vectors file by file
      val baseEs = if (base >= 1) entries(s, dir, base) else Seq.empty[Entry]
      val mEs = entries(s, dir, mHead)
      val bEs = entries(s, dir, bHead)
      val baseFiles = baseEs.map(_.path)
      val mFiles = mEs.map(_.path)
      val baseDv = baseEs.map(e => e.path -> e.dv).toMap
      val mByPath = mEs.map(e => e.path -> e).toMap
      val bByPath = bEs.map(e => e.path -> e).toMap
      // the base files whose vector each side changed since the base
      def changed(es: Seq[Entry]): Seq[Entry] =
        es.filter(e => baseDv.get(e.path).exists(_ != e.dv))
      val mChanged = changed(mEs).map(_.path).toSet
      val bChanged = changed(bEs)
      val clash = DeletionVectors.overlap(s, dir, bChanged
        .filter(e => mChanged(e.path))
        .flatMap(e => for (m <- mByPath(e.path).dv; b <- e.dv)
          yield (e.path, baseDv(e.path), m, b)))
      require(clash.isEmpty,
        s"mergeBranch: both sides deleted the same base row " +
          s"position(s) since v$base — ${clash.mkString(", ")} … — " +
          "ambiguous (one side may have UPDATED the row the other " +
          "deleted); rebase, or replay one side's deletes after " +
          "merging the rest")
      val baseSet = baseFiles.toSet
      // the BRANCH must stay file-set-monotone (rebase otherwise); MAIN
      // may have rewritten, IF every rewrite is a recorded
      // content-preserving optimize (handled below)
      require(baseFiles.forall(bByPath.contains),
        s"mergeBranch: branch '$name' rewrote files since the base " +
          s"v$base — only an append-only branch merges; rebase instead")
      val bAdded = bEs.filterNot(e => baseSet(e.path))
      val mAdded = mEs.filterNot(e => baseSet(e.path))
      val mRewrote = !baseFiles.forall(mByPath.contains)
      val newVs = (mAdded ++ bAdded).collect {
        case Entry(FileCommit(c), _, _) => c.toInt }.distinct
      require(newVs.forall(g.chain(_).isEmpty),
        s"mergeBranch: schema renames on a diverged side — merge " +
          "before renaming, or rebase")
      // every side read goes through the one snapshot scan, canonical at
      // main's head, so vintages older than the base read like a SELECT
      val schema = evolvedSchema(s, dir, g, mHead, mFiles)
      def liveOf(es: Seq[Entry]): DataFrame =
        withMeta(s.baseRelationToDataFrame(SnapshotSource.relationFor(s,
          dir, g, es, mHead, schema)))
      def keysOf(es: Seq[Entry]): DataFrame =
        liveOf(es).select(keyCols.map(col): _*).distinct()
      def refuseSharedKeys(mKeys: DataFrame, bKeys: DataFrame): Unit = {
        val sample = mKeys.join(bKeys, keyCols).limit(3).collect()
        require(sample.isEmpty,
          s"mergeBranch: both sides appended rows for key(s) " +
            s"${sample.mkString(", ")} … — resolve by rebasing or " +
            "upserting one side after a merge of the rest")
      }
      // a base file only the branch deleted from takes the branch's
      // line; one main also changed (or rewrote away) unions the two
      val (bTake, bUnion) = bChanged.partition(e =>
        mByPath.get(e.path).exists(_.dv == baseDv(e.path)))
      val taken = bTake.map(e => e.path -> e).toMap
      def mainLine(e: Entry): Entry = taken.getOrElse(e.path, e)
      val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      try {
      val (lines, hits) =
        if (!mRewrote) {
          if (keyCols.nonEmpty && mAdded.nonEmpty && bAdded.nonEmpty)
            refuseSharedKeys(keysOf(mAdded), keysOf(bAdded))
          (baseFiles.map(p => mainLine(mByPath(p))) ++ mAdded ++ bAdded,
            Seq(DeletionVectors.positions(s, dir, bUnion)))
        } else {
          // MAIN REWROTE since the base. A recorded optimize preserves
          // row content (it only materializes the base vectors and
          // re-clusters), so the branch still reconciles: the merged
          // manifest is main's head files + the branch's additions, and
          // the branch's deletions re-locate — deletions in files the
          // merge still carries stay positions, deletions in
          // rewritten-away files re-locate BY KEY against main's live
          // head (refused without keyCols, and on any ambiguity: a
          // deleted key missing from the live head, or matching more
          // than one live row). A recorded RESTORE also qualifies: it
          // reverts content rather than preserving it, but the same
          // per-key checks carry the proof obligation — a branch-deleted
          // key relocates only when main's live head row still equals
          // the base row byte-for-byte (the content check below), and a
          // key the restore reverted away refuses as missing. Arbitrary
          // rewrites (INSERT OVERWRITE — no recorded op) stay refused:
          // their content relationship to the base is unknown. Cost: the
          // re-location reads the dropped files the branch deleted from
          // and key-joins main's live head once; the key-conflict check
          // reads base + head key columns (content-level — the
          // compacted files carry base rows, so file-level "added"
          // keys would false-positive).
          var x = mHead
          while (x > 0 && x != base) {
            val p = g.parent(x)
            val pf =
              if (p >= 1) files(s, dir, p).toSet else Set.empty[String]
            if (!pf.subsetOf(files(s, dir, x).toSet))
              require(g.op(x).exists(op =>
                  op._1 == "optimize" || op._1 == "compact" ||
                  op._1 == "restore"),
                s"mergeBranch: main rewrote files at v$x since the " +
                  s"base v$base and the rewrite is not a recorded " +
                  "optimize/compact/restore — the branch's deletions " +
                  "cannot be re-located; rebase instead")
            x = if (p < x) p else 0
          }
          lazy val headLive = liveOf(mEs)
          val (keptUnion, dropped) =
            bUnion.partition(e => mByPath.contains(e.path))
          val relocated: Option[DataFrame] =
            if (dropped.isEmpty) None
            else {
              require(keyCols.nonEmpty,
                s"mergeBranch: branch '$name' deleted rows in files " +
                  "a main-side optimize rewrote — pass keyCols so " +
                  "the deletions can be re-located by key")
              // rows live at the base that the branch deleted
              val delBaseRows = liveOf(dropped.map(e =>
                  Entry(e.path, baseDv(e.path))))
                .join(liveOf(dropped).select("_fp", "_ri"),
                  Seq("_fp", "_ri"), "left_anti")
              val delKeys = delBaseRows
                .select(keyCols.map(col): _*).distinct()
              val matched = headLive.join(delKeys, keyCols, "inner")
                .select(keyCols.map(col) :+ col("_fp") :+
                  col("_ri"): _*)
              matched.persist(
                org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              cached += matched
              import org.apache.spark.sql.functions.{count, lit}
              val dup = matched.groupBy(keyCols.map(col): _*)
                .agg(count(lit(1)).as("_graft_n"))
                .filter(col("_graft_n") > 1)
                .limit(3).collect()
              require(dup.isEmpty,
                s"mergeBranch: re-locating branch '$name' deletions " +
                  s"found multiple live main rows for key(s) " +
                  s"${dup.mkString(", ")} … — ambiguous; rebase")
              val missing = delKeys.join(matched, keyCols, "left_anti")
                .limit(3).collect()
              require(missing.isEmpty,
                s"mergeBranch: branch '$name' deleted key(s) " +
                  s"${missing.mkString(", ")} … with no live row at " +
                  "main's head (main deleted or updated them since " +
                  "the base) — ambiguous; rebase, or replay the " +
                  "deletes after merging the rest")
              // CONTENT check: the relocation is only sound when
              // main's live head row for the key still carries the
              // BASE row's content. If main UPDATED the row since the
              // base (merge-on-read update = vector + same-key append)
              // and then compacted, the key-changing-update refusal
              // above cannot see it — deleting the replacement would
              // let the branch's delete of the OLD content silently
              // destroy main's update. Null-safe full-row compare of
              // the deleted base rows against the matched head rows
              // (branch-delete-sized on both sides, never the whole head).
              val dataCols = delBaseRows.columns
                .filterNot(c => c == "_fp" || c == "_ri").toSeq
              val hb = headLive.join(delKeys, keyCols, "left_semi")
                .select(dataCols.map(col): _*).alias("_h")
              val bb = delBaseRows
                .select(dataCols.map(col): _*).alias("_b")
              val sameRow = dataCols.map(c =>
                col(s"_h.$c") <=> col(s"_b.$c")).reduce(_ && _)
              val updated = hb.join(bb, sameRow, "left_anti")
                .select(keyCols.map(c => col(s"_h.$c")): _*)
                .limit(3).collect()
              require(updated.isEmpty,
                s"mergeBranch: main updated row content for key(s) " +
                  s"${updated.mkString(", ")} … since the base — " +
                  s"re-locating branch '$name' deletions would " +
                  "silently destroy main's updates; rebase, or " +
                  "replay the deletes after merging the rest")
              Some(matched.select(col("_fp").as("file_path"),
                col("_ri").as("row_index")))
            }
          if (keyCols.nonEmpty && bAdded.nonEmpty) {
            val headKeys = headLive.select(keyCols.map(col): _*)
              .distinct()
            refuseSharedKeys(
              if (base >= 1) headKeys.join(keysOf(baseEs), keyCols,
                "left_anti")
              else headKeys,
              keysOf(bAdded))
          }
          (mEs.map(mainLine) ++ bAdded,
            DeletionVectors.positions(s, dir, keptUnion) +: relocated.toSeq)
        }
      val merged =
        if (bUnion.isEmpty) lines
        else DeletionVectors.extend(s, dir, v, lines,
          hits.reduce(_.unionByName(_)))._1
      writeCommitMeta(f, dir, v, mHead, parent2 = Some(bHead))
      writeManifest(f, dir, v, merged)
      maybeCheckpoint(f, dir, v)
      writeRef(s, f, dir, "main", v, tag = false)
      v
      } finally cached.foreach { df => df.unpersist(); () }
    } finally lock.release()
  }

  /** Retention: delete data files referenced ONLY by versions older than
    * the newest `keep` versions, then drop those versions' manifests.
    * Reference-counted at the file level, so a file carried forward by an
    * append chain is never deleted while any retained version lists it —
    * the invariant that makes vacuum safe to run concurrently with
    * readers of retained versions. Versions a named ref (branch or tag)
    * points at are ALSO retained regardless of age — a ref must stay
    * readable until it is dropped. Metadata-only scan (manifests), then
    * O(deleted) file removals; returns (filesDeleted, versionsDropped).
    *
    * `stageOrphanMs` is the age past which a `_stream_stage` epoch
    * directory (the V2 streaming write's executor-staged parts) counts
    * as an orphan and is swept — EXCEPT under a LIVE query: the V2
    * write heartbeats a `_live` marker in its query dir at every epoch
    * start and commit, and a query dir whose heartbeat is fresher than
    * the horizon is skipped wholesale, so a short horizon is safe
    * against running queries. The heuristic only decides for queries
    * with a stale or missing heartbeat (pre-heartbeat tables, or
    * stopped/paused queries): sweeping such a query's parts is
    * recoverable — on resume the epoch's commit renames fail and the
    * query reprocesses it from its checkpoint (exactly-once holds; the
    * cost is a re-run, not data loss) — but operators running
    * long-PAUSE streams should still raise the default 24h (or pass
    * Long.MaxValue to skip stage sweeping) rather than pay re-runs. The
    * same horizon sweeps `dv/`: a deletion vector that no retained
    * manifest names and that is older than the horizon was left by a DML
    * commit that died before its publish, and is deleted (counted in
    * filesDeleted). */
  def vacuum(s: SparkSession, dir: String, keep: Int,
      stageOrphanMs: Long = 24L * 3600 * 1000): (Int, Int) = {
    require(keep >= 1, "must keep at least the latest version")
    require(stageOrphanMs > 0, "stageOrphanMs must be positive")
    val f = fs(s, dir)
    // streaming scratch first (independent of version retention): an
    // epoch staged by a writer that died before its commit is invisible
    // to every reader but holds disk. A live query's epoch dir keeps a
    // fresh mtime while tasks create part files inside it, so a dir
    // untouched past the horizon is presumed orphaned — generous by
    // default because sweeping a live epoch would fail its commit's
    // renames (see stageOrphanMs above).
    val stage = new Path(dir, "_stream_stage")
    if (f.exists(stage) && stageOrphanMs != Long.MaxValue) {
      val horizon = System.currentTimeMillis() - stageOrphanMs
      f.listStatus(stage).filter(_.isDirectory).foreach { q =>
        // a fresh `_live` heartbeat marks a RUNNING query — skip its
        // whole staging area regardless of per-epoch ages (the V2 write
        // touches it at every epoch start/commit)
        val live = new Path(q.getPath, "_live")
        val alive = f.exists(live) &&
          f.getFileStatus(live).getModificationTime >= horizon
        if (!alive)
          f.listStatus(q.getPath).foreach { e =>
            if (e.getModificationTime < horizon) {
              f.delete(e.getPath, true); ()
            }
          }
      }
    }
    val latest = latestVersion(s, dir)
    val cutoff = math.max(1, latest - keep + 1)
    val pinned = refs(s, dir).values.map(_._1).toSet
    // versions below the cutoff may already be vacuumed — only live
    // manifests participate
    val oldVs = (1 until cutoff)
      .filter(v => !pinned.contains(v) && f.exists(manifest(dir, v)))
    // data files and deletion vectors alike: a file goes when only
    // dropped versions name it
    def named(v: Int): Seq[String] =
      manifestEntries(f, dir, v).flatMap(e => e.path +: e.dv.toSeq)
    val retained = ((cutoff to latest) ++ pinned.filter(_ < cutoff))
      .flatMap(named).toSet
    val old = oldVs.flatMap(named).toSet
    val dead = (old -- retained).toSeq.sorted
    dead.foreach(p => f.delete(new Path(dir, p), false))
    oldVs.foreach { v =>
      f.delete(manifest(dir, v), false)
      f.delete(new Path(dir, s"v$v.meta"), false) // its commit instant
      f.delete(new Path(dir, s"v$v.op"), false) // its change-feed typing
      // vN.renames and vN.stats stay: carried-forward files in retained
      // versions still need the rename chain and their recorded bounds
    }
    // checkpoint GC: a state folds from the newest checkpoint at or
    // below its version, so among the dropped versions' checkpoints only
    // the newest can still be read (as the base under live versions just
    // above the cutoff) — the older ones are dead weight holding vacuumed
    // history's folded metadata; drop them
    oldVs.filter(v => v % CheckpointEvery == 0 &&
        f.exists(ckptPath(dir, v)))
      .sorted.dropRight(1)
      .foreach(v => f.delete(ckptPath(dir, v), false))
    // deletion vectors no retained manifest names: a DML commit that
    // died between writing its vectors and publishing its manifest left
    // them. A live commit publishes moments after writing, so only
    // vectors older than the stage-orphan horizon go.
    val vectors = new Path(dir, "dv")
    val orphans =
      if (stageOrphanMs == Long.MaxValue || !f.exists(vectors)) Seq.empty
      else {
        val horizon = System.currentTimeMillis() - stageOrphanMs
        f.listStatus(vectors).toSeq.filter(st => st.isFile &&
            st.getModificationTime < horizon &&
            !retained.contains(s"dv/${st.getPath.getName}"))
          .map(_.getPath)
      }
    orphans.foreach(f.delete(_, false))
    (dead.size + orphans.size, oldVs.size)
  }

  /** Compliance deletion (right-to-be-forgotten) INTO history: every
    * retained version stops resolving rows whose key is tombstoned —
    * unlike [[vacuum]] (refcount retention) and unlike a delete commit
    * (which only changes the FUTURE), purge REWRITES the past, because
    * that is what a deletion request against a lakehouse table legally
    * requires.
    *
    * Mechanics, sized for a 100 TB table with a small tombstone batch:
    *   1. Candidate files — the only files read — are found with a
    *      column-pruned scan of the live file set carrying
    *      `input_file_name()`, inner-joined (broadcast) against the
    *      tombstone keys; for a single key column the `isin` predicate is
    *      additionally pushed into the parquet scan so row-group/file
    *      footer stats prune untouched files before any row decodes.
    *      Files without tombstoned keys are never read again, never
    *      rewritten, never renamed.
    *   2. Each affected FILE is rewritten exactly once (anti-join against
    *      the broadcast tombstones) no matter how many versions share it
    *      through append chains — the replacement keeps the sharing
    *      structure, so refcounts and later vacuums stay consistent. A
    *      file left empty by the purge is dropped from every manifest
    *      rather than written.
    *   3. Every live manifest is republished with affected paths mapped
    *      to their replacements (old manifest deleted, then the new one
    *      renamed in — the one non-atomic window; a crash there is
    *      repaired by re-running the purge, which is idempotent).
    *   4. The original affected files are deleted LAST, after every
    *      manifest has stopped referencing them.
    *
    * The tombstone batch is collected to the driver (it bounds the
    * broadcast and the `isin` pushdown) — deletion requests are small by
    * nature; `maxTombstones` guards the assumption.
    *
    * @return (filesRewritten, versionsRepublished, rowsDeleted) */
  def purge(s: SparkSession, dir: String, tombstones: DataFrame,
      keyCols: Seq[String], maxTombstones: Int = 100000): (Int, Int, Long) = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "purge needs at least one key column")
    val f = fs(s, dir)
    val latest = latestVersion(s, dir)
    require(latest >= 1, s"purge: no versions at $dir")
    // purge mutates manifests IN PLACE: hold the next version's claim as
    // a write lock for the duration so no commit interleaves with the
    // republish. The claim is released without publishing — followers
    // detect the abandoned slot (see claimVersion) and re-hunt.
    val lock = claimVersion(f, dir)
    try {
    // re-derive latest UNDER the lock: a commit could have landed between
    // the pre-lock read and the claim, and its version must be purged too
    val latest = lock.v - 1
    val liveVs = (1 to latest).filter(v => f.exists(manifest(dir, v)))
    val lines = liveVs.map(v => v -> entries(s, dir, v)).toMap
    // a rewritten file's row indexes would invalidate deletion-vector
    // positions and RESURRECT logically-deleted rows — materialize DVs
    // (optimize) and vacuum DV-carrying history before a physical purge
    liveVs.filter(lines(_).exists(_.dv.isDefined)) match {
      case Seq() =>
      case vs => throw new IllegalStateException(
        s"purge requires a DV-free live set; versions ${vs.mkString(",")} " +
          "carry deletion vectors — run optimize to materialize them and " +
          "vacuum the DV-carrying versions first")
    }
    val perVersion = lines.map { case (v, es) => v -> es.map(_.path) }
    val allFiles = perVersion.values.flatten.toSeq.distinct
    val tombKeys = tombstones.select(keyCols.map(col): _*).distinct()
    val tombRows = tombKeys.collect()
    require(tombRows.length <= maxTombstones,
      s"purge: ${tombRows.length} tombstones exceeds maxTombstones=" +
        s"$maxTombstones — batch the request")
    if (tombRows.isEmpty) return (0, liveVs.size, 0L)
    val tombDf = s.createDataFrame(
      s.sparkContext.parallelize(tombRows.toSeq, 1), tombKeys.schema)
    // The live set may span schema vintages (f22): candidate detection
    // and rewrite both run per WRITING-COMMIT group, on the vintage's OWN
    // column names — each canonical key maps to the name its vintage
    // stores it under ([[localName]]), so a file is rewritten under its
    // own schema (time travel keeps reading it) and a single mergeSchema
    // scan's int×long failure or missed renamed key cannot arise.
    val st = state(f, dir, latest)
    val local = localName(st.chain, latest) _
    // a vintage whose files lack a key — it maps to DropMarker (dropped
    // or its name re-used since) or predates the column — holds no match
    def vintageKeys(c: Int, df: DataFrame): Option[Seq[String]] =
      Some(keyCols.map(local(c, _))).filter(_.forall(df.columns.contains))
    // file-level stats pruning from METADATA alone: a file may contain
    // a tombstone only if SOME tombstone row lies inside its recorded
    // bounds on every stat-recorded key column ([[StatsPruning.keyRows]]
    // — composite keys included), so a small deletion request against a
    // 100 TB table opens only the files that can contain it
    val mayContain = StatsPruning.keep(s, dir, st, allFiles,
      StatsPruning.keyRows(s, keyCols, tombKeys.schema, tombRows.toSeq),
      latest)
    // spec observability: (files the stats let through, files total)
    lastPurgePruneCounts = (mayContain.size, allFiles.size)
    // 1. candidate detection: key columns only, per writing commit
    val affected: Seq[String] = mayContain.groupBy(vintageOf).toSeq
      .flatMap { case (c, rels) =>
        val paths = rels.map(p => new Path(dir, p).toString)
        val vintage = s.read.parquet(paths: _*)
        vintageKeys(c, vintage).toSeq.flatMap { keys =>
          // per-column isin prefilter (a safe superset of the key join)
          // pushes into the parquet scan so row-group stats prune before
          // any row decodes — for composite keys it is the AND of each
          // column's distinct tombstone values
          val pruned = keys.zipWithIndex.foldLeft(vintage) {
            case (df, (k, i)) =>
              df.filter(col(k).isin(
                tombRows.map(_.get(i)).distinct.toSeq: _*)) }
          val hits = pruned
            .select(keys.map(col) :+ input_file_name().as("_f"): _*)
            .join(broadcast(tombDf.toDF(keys: _*)), keys)
            .select(col("_f")).distinct().collect().map(_.getString(0))
          hits.map(abs => rels.find(rel => abs.endsWith("/" + rel))
            .getOrElse(throw new IllegalStateException(
              s"purge: unrecognized file $abs"))).toSeq
        }
      }.distinct
    // 2. rewrite each affected file once. 2b: a replacement file
    // re-records the stats its original carried (recomputed over the
    // kept rows — bounds can only tighten), appended to the table-level
    // purged.stats side-file so pruning stays effective after deletions.
    val recordedStats = statsUpTo(s, dir, st)
    val stage = new Path(dir, "_purge_stage")
    f.delete(stage, true)
    var rowsDeleted = 0L
    val newStatLines = scala.collection.mutable.ArrayBuffer.empty[String]
    val replacement: Map[String, Option[String]] = affected.map { rel =>
      val src = new Path(dir, rel).toString
      val before = s.read.parquet(src)
      // joined on the vintage's own key names and written back in its
      // own column order: purge must not evolve the file's schema
      val keys = vintageKeys(vintageOf(rel), before).get
      val kept = before.join(broadcast(tombDf.toDF(keys: _*)), keys,
        "left_anti").select(before.columns.map(c => col(s"`$c`")): _*)
      val fileStage = new Path(stage, new Path(rel).getName)
      kept.coalesce(1).write.mode("overwrite").parquet(fileStage.toString)
      val part = f.listStatus(fileStage).toSeq.find(st =>
        st.isFile && st.getPath.getName.startsWith("part-"))
      // row counts from the parquet FOOTERS (driver metadata reads, zero
      // jobs) — the rewrite itself is the only job this file costs
      val keptRows = part.map(st =>
        parquetRowCount(st.getPath, s)).getOrElse(0L)
      rowsDeleted += parquetRowCount(new Path(dir, rel), s) - keptRows
      if (keptRows == 0L) rel -> None
      else {
        val name = s"purged-${new Path(rel).getName}"
        val dst = new Path(dir, s"data/$name")
        f.delete(dst, false)
        if (!f.rename(part.get.getPath, dst))
          throw new java.io.IOException(
            s"purge aborted: rename ${part.get.getPath} -> $dst failed")
        recordedStats.get(rel).foreach { cols =>
          val statCols = cols.filter(c => c._2 != "" &&
            kept.columns.contains(c._1))
          if (statCols.nonEmpty) {
            val aggs = statCols.flatMap { case (c, _, _, _) => Seq(
              min(col(c)).cast("string").as(s"mn_$c"),
              max(col(c)).cast("string").as(s"mx_$c")) }
            val r = s.read.parquet(dst.toString)
              .agg(aggs.head, aggs.tail: _*).head()
            statCols.zipWithIndex.foreach { case ((c, tn, _, _), i) =>
              val mn = r.getString(2 * i); val mx = r.getString(2 * i + 1)
              if (mn != null && mx != null && statRecordable(tn, mn, mx))
                newStatLines += Seq(s"data/$name", c, tn, mn, mx)
                  .mkString("\u0001")
            }
          }
        }
        rel -> Some(s"data/$name")
      }
    }.toMap
    // 3. republish every live manifest with affected paths remapped.
    // The swap is an OVERWRITE-capable atomic rename (FileContext with
    // Options.Rename.OVERWRITE) — a delete-then-recreate would open a
    // crash window with no manifest at all, and if the vanished manifest
    // was the latest, the next commit would reclaim its version number
    // and publish DIFFERENT content under it (history divergence, not
    // the documented re-run-the-purge repair).
    val liveAfter = scala.collection.mutable.Set.empty[String]
    liveVs.foreach { v =>
      val mapped = perVersion(v).flatMap(p =>
        replacement.get(p) match {
          case None => Some(p)        // untouched file
          case Some(opt) => opt       // rewritten (Some) or emptied (None)
        })
      liveAfter ++= mapped
      swapManifest(s, f, dir, v, mapped.map(Entry(_)))
    }
    // 3b. merge replacement stats into purged.stats, dropping lines for
    // paths no live manifest references anymore (bounds the file)
    if (newStatLines.nonEmpty || f.exists(new Path(dir, "purged.stats"))) {
      val pp = new Path(dir, "purged.stats")
      val existing = if (!f.exists(pp)) Seq.empty[String] else {
        val in = f.open(pp)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.split('\n').toSeq.filter(_.contains('\u0001'))
      }
      val merged = (existing.filter(l =>
        liveAfter.contains(l.split('\u0001').head)) ++ newStatLines)
      val o = f.create(pp, true)
      try o.write(merged.mkString("\n").getBytes("UTF-8"))
      finally o.close()
    }
    // 4. drop originals last
    affected.foreach(p => f.delete(new Path(dir, p), false))
    f.delete(stage, true)
    // 5. orphan sweep: a data file no live manifest references is debris
    // from a crashed earlier purge (originals that survived a step-3/4
    // crash) — safe to reclaim here because the claim lock guarantees no
    // commit is mid-move into data/ while purge runs
    val dataDir = new Path(dir, "data")
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      if (st.isFile && !liveAfter.contains(s"data/${st.getPath.getName}"))
        f.delete(st.getPath, false)
    }
    (affected.size, liveVs.size, rowsDeleted)
    } finally lock.release()
  }

  /** Atomically REPLACE manifest vN (overwrite-capable rename; see the
    * purge republish step for why delete-then-recreate is not safe). */
  private def swapManifest(s: SparkSession, f: FileSystem, dir: String,
      v: Int, es: Seq[Entry]): Unit =
    atomicOverwrite(s, f, dir, manifest(dir, v), s"_v$v.json.tmp",
      manifestBody(es))

  /** `OPTIMIZE ZORDER BY (cols...)` as a snapshot REWRITE commit — the
    * composition that makes the table-format layer self-maintaining:
    * read the latest version (under the evolved schema), order it along
    * the k-D Morton curve of the named columns ([[Layouts.zvalueK]] over
    * [[Layouts.bucketN]] range buckets off a 1-row broadcast of observed
    * maxima), and publish the clustered files as the next version with
    * per-file min/max stats on the clustering columns. History stays
    * readable (rewrite commit), and the stats turn the curve's locality
    * into FILE-level pruning: after optimize, a box probe via
    * [[readPruned]] opens only the files whose key range intersects it.
    * The swap is manifest-atomic — the crash window the directory-level
    * f17 compaction documents does not exist here.
    *
    * @return the new version number */
  def optimize(s: SparkSession, dir: String, zorderCols: Seq[String],
      bits: Int = 8, numFiles: Int = 8): Int = {
    import org.apache.spark.sql.functions._
    require(zorderCols.nonEmpty, "optimize needs at least one column")
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"optimize: no versions at $dir")
    // claim FIRST and rewrite exactly v-1: rewriting a pre-claim latest
    // would silently drop a commit that interleaved before the claim
    claimed(s, f, dir, None, "optimize") { (v, base) =>
      val df = read(s, dir, base)
      val mx = df.agg(
        max(col(zorderCols.head)).as(s"mx_${zorderCols.head}"),
        zorderCols.tail.map(c => max(col(c)).as(s"mx_$c")): _*)
      val clustered = df.crossJoin(broadcast(mx))
        .withColumn("_z", Layouts.zvalueK(
          zorderCols.map(c => Layouts.bucketN(col(c), col(s"mx_$c"), bits)),
          bits))
        .drop(zorderCols.map(c => s"mx_$c"): _*)
        .repartitionByRange(numFiles, col("_z"))
        .sortWithinPartitions(col("_z"))
        .drop("_z")
      // the op records the rewrite as CONTENT-PRESERVING:
      // [[mergeBranch]] may reconcile a branch across it by re-locating
      // deletions by key, where an arbitrary rewrite (INSERT OVERWRITE)
      // stays refused
      commitClaimed(s, f, dir, FrameParts(clustered), append = false,
        renames = Map.empty, statsCols = zorderCols, v = v, prev = base,
        op = Some(("optimize", Seq.empty)))
    }
  }

  /** Incremental small-file COMPACTION of a snapshot table — the
    * maintenance verb a long-lived streaming-fed table needs: files
    * below `smallBytes` are bin-packed into ~`targetBytes` outputs and
    * published as ONE content-preserving rewrite commit whose manifest
    * is (untouched files ++ packed replacements). Scale posture:
    *   - O(small files): healthy files are never read, never moved —
    *     their manifest entries, stat lines, and deletion-vector
    *     positions carry forward untouched. A nightly run against a
    *     100 TB table costs the day's small-file accretion, not the
    *     table.
    *   - Deletions MATERIALIZE for the rewritten files only (the pack
    *     reads through their vectors), so their vectors drop while
    *     kept files' lines keep theirs — merge-on-read debt shrinks
    *     incrementally without optimize's full rewrite.
    *   - The packed vintage carries the version's full EVOLVED schema
    *     (the small files read through [[read]]'s scan, restricted to
    *     them): inputs may span schema vintages, the output is one
    *     schema, and reads of the new version see exactly what they saw
    *     before.
    *   - coalesce, not repartition: packing must not shuffle — output
    *     sizes approximate the target by input grouping, which is the
    *     right trade at any scale.
    *   - Recorded as content-preserving (`vN.op` = "compact"), so
    *     [[mergeBranch]] reconciles a branch across it exactly as it
    *     does across an optimize.
    * No-ops (returns the current head) when fewer than `minFiles`
    * files qualify. */
  def compact(s: SparkSession, dir: String,
      smallBytes: Long = 32L << 20, targetBytes: Long = 128L << 20,
      minFiles: Int = 2): Int = {
    require(smallBytes > 0 && targetBytes > 0 && minFiles >= 2,
      "compact: thresholds must be positive (minFiles >= 2)")
    val f = fs(s, dir)
    require(latestVersion(s, dir) >= 1, s"compact: no versions at $dir")
    val c = claimVersion(f, dir)
    try {
      val v = c.v
      val base = mainHead(f, dir, v - 1)
      val es = entries(s, dir, base)
      val sized = es.map(e =>
        e.path -> f.getFileStatus(new Path(dir, e.path)).getLen)
      val small = sized.filter(_._2 < smallBytes).map(_._1)
      if (small.size < minFiles) return base
      val smallSet = small.toSet
      // kept files keep their lines, deletion vectors included; the
      // packed read materializes the rewritten files' deletes
      val keep = es.filterNot(e => smallSet(e.path))
      val nOut = math.max(1, math.ceil(sized.filter(x =>
        smallSet(x._1)).map(_._2).sum.toDouble / targetBytes).toInt)
      val st = state(f, dir, base)
      val subset = s.baseRelationToDataFrame(SnapshotSource.relationFor(s,
        dir, st, es.filter(e => smallSet(e.path)), base,
        evolvedSchema(s, dir, st, base, es.map(_.path))))
      // a PARTITIONED BY table's maintenance must not destroy its
      // value-aligned layout: repack along the declared clustering
      // columns (and re-record their bounds) instead of arbitrary
      // grouping — partition pruning stays effective after compaction
      val specs = GraftCatalog.parseClusterSpecs(
          GraftCatalog.clusterCols(s, dir))
        .filter(sp => subset.columns.contains(sp.col))
      val packed =
        if (specs.nonEmpty)
          subset.repartitionByRange(nOut, specs.map(_.clusterExpr): _*)
        else subset.coalesce(nOut)
      val statCols = (defaultStatsCols(packed.schema) ++ specs.collect {
        case GraftCatalog.IdentityCluster(c) => c
        case GraftCatalog.TruncCluster(_, c) => c
      }).distinct
      val virt = specs.collect { case b: GraftCatalog.BucketCluster =>
        (b.render, s"pmod(hash(`${b.col}`), ${b.n})", "integer") }
      val (moved, statLines) = stageAndMove(s, f, dir, packed,
        statCols, v, virt)
      writeCommitMeta(f, dir, v, base)
      writeCommitOp(f, dir, v, "compact", Seq.empty)
      writeStatLines(f, dir, v, statLines)
      writeManifest(f, dir, v, keep ++ moved.map(Entry(_)))
      maybeCheckpoint(f, dir, v)
      advanceMain(s, f, dir, v)
      v
    } finally c.release()
  }

  /** RESTORE main's CONTENT to what version `toVersion` held, as ONE
    * new metadata-sized commit — the lakehouse rollback verb. The new
    * head's manifest republishes `toVersion`'s lines, deletion vectors
    * included, so time travel, the change feed, and every consumer's
    * `startingVersion` stay intact: history is never rewritten (that is
    * [[purge]]'s deliberate job). Zero data files or vectors are read or
    * written at any table size — the cost is one manifest. The target's
    * files are guaranteed live: [[vacuum]] deletes a version's manifest
    * together with its then-unreferenced files and vectors, so a
    * resolvable manifest implies its file set, and the restore commit
    * re-references it (protecting it from future vacuums) before the
    * claim releases.
    *
    * Semantics at the edges:
    *  - Column RENAMES are not undone — names resolve through the
    *    rename chain up to the read version, so restored data keeps
    *    the CURRENT names (rename back explicitly to undo one).
    *  - A later `ALTER COLUMN TYPE` widening vintage drops out with
    *    the file set, narrowing the schema back: schema follows
    *    content.
    *  - The commit is NOT content-preserving, but [[mergeBranch]]
    *    still reconciles across it: branch deletions into files the
    *    restore dropped re-locate BY KEY against the restored head,
    *    and the per-key content check refuses any key whose live head
    *    row no longer equals the base row the branch deleted (so a
    *    restore that reverted the row wins by refusal, never
    *    silently). The change feed types its delta generically
    *    (deletes + inserts by file diff).
    *  - `toVersion` must be on main's ancestry: restoring main to a
    *    branch-only commit would silently teleport branch content
    *    onto main — that is [[fastForward]]/[[mergeBranch]] territory.
    */
  def restore(s: SparkSession, dir: String, toVersion: Int): Int = {
    val f = fs(s, dir)
    require(toVersion >= 1,
      s"restore: version must be >= 1, got $toVersion")
    require(f.exists(manifest(dir, toVersion)),
      s"restore: version $toVersion does not exist at $dir " +
        "(or was vacuumed)")
    val c = claimVersion(f, dir)
    try {
      val v = c.v
      val head = mainHead(f, dir, v - 1)
      require(head >= 1, s"restore: no versions at $dir")
      if (head == toVersion) return head // already there — no-op
      require(mainAncestry(f, dir, head).contains(toVersion),
        s"restore: version $toVersion is not on main's ancestry " +
          "(branch content reaches main via fast_forward/merge_branch)")
      // the target's lines, deletion vectors included, republished
      val restored = entries(s, dir, toVersion)
      // meta and op precede the manifest (crash-consistency direction
      // shared with every commit path: no manifest, never visible)
      writeCommitMeta(f, dir, v, head)
      writeCommitOp(f, dir, v, "restore", Seq(toVersion.toString))
      writeManifest(f, dir, v, restored)
      maybeCheckpoint(f, dir, v)
      advanceMain(s, f, dir, v)
      v
    } finally c.release()
  }

  /** Row-level CDC between two versions as a MULTISET difference:
    * (rowsOnlyInTo, rowsOnlyInFrom). An UPDATE surfaces as the old row in
    * the second frame and the new row in the first — exactly the
    * subtract/add pair incremental aggregate maintenance needs, which a
    * key-level diff cannot see (the key exists in both versions).
    * exceptAll keeps duplicate multiplicity honest, and deletion vectors
    * / purges are visible because [[read]] applies them. */
  def diffRows(s: SparkSession, dir: String, from: Int, to: Int)
      : (DataFrame, DataFrame) = {
    val a = read(s, dir, from)
    val b = read(s, dir, to)
    (b.exceptAll(a), a.exceptAll(b))
  }

  /** Spec observability only: groups whose min/max the last [[refreshView]]
    * re-read from the latest version (extremum retraction). */
  @volatile private[graft] var lastViewRecomputedGroups: Long = 0L

  /** Incrementally-maintained materialized aggregate view over a snapshot
    * table: `groupCols` → (n_rows, sum_<c>, avg_<c>, min_<c>, max_<c>).
    * State is a parquet at `viewDir` plus a marker holding the last
    * refreshed version; each refresh applies only the ROW-LEVEL DELTA
    * between that version and the current latest. Count, sum, and avg
    * (kept as sum + non-null count, exposed as their quotient by
    * [[readView]]) are SUBTRACTABLE — inserts add, deletes subtract, a
    * group whose count reaches zero drops out. Min/max are NOT
    * subtractable under deletes: an insert folds in with least/greatest,
    * but a delete that removes a group's recorded extremum leaves the new
    * extremum unknown. The refresh detects exactly those retractions per
    * (group, column) — a deleted value tying the recorded bound, not
    * masked by a new insert at or past it — and recomputes min/max for
    * ONLY the affected groups from the LATEST version (one semi-joined
    * scan of those groups' rows; never a history scan, and a delete that
    * touches no extremum recomputes zero groups — spec-pinned via
    * [[lastViewRecomputedGroups]]). At 100 TB the refresh cost is the
    * changed rows + the view + the retracted groups, never a table
    * rescan — the incremental-materialized-view contract of a warehouse
    * layer. Works through appends, merge-on-read deletes, upserts, and
    * purges, because the delta is computed over [[read]].
    *
    * @return (version refreshed to, rowsApplied) */
  def refreshView(s: SparkSession, dir: String, viewDir: String,
      groupCols: Seq[String], sumCols: Seq[String],
      avgCols: Seq[String] = Seq.empty,
      minMaxCols: Seq[String] = Seq.empty): (Int, Long) = {
    import org.apache.spark.sql.functions._
    val f = fs(s, dir)
    // the view follows MAIN's line, like replicate(): on a ref-tracked
    // table the global latest may be a BRANCH head, and refreshing to it
    // would fold branch rows into the main-line aggregates and then diff
    // across divergent lines on the next tick — permanent corruption
    val cur = mainVersion(s, dir)
    require(cur >= 1, s"refreshView: no versions at $dir")
    // the marker lives INSIDE the state dir (parquet ignores _-prefixed
    // files), so the single state-swap rename replaces data and marker
    // together — no window where a new state pairs with an old marker
    // (which would double-apply the delta on a crashed refresh's re-run)
    val statePath = new Path(viewDir, "state")
    val marker = new Path(statePath, "_LAST_VERSION")
    val gCols = groupCols.map(col)
    // additive slice: n_rows + sums + avg numerators/denominators
    def addOf(df: DataFrame, sign: Int): DataFrame = {
      val aggs = (count(lit(1)).as("n_rows") +:
        sumCols.map(c => sum(col(c)).as(s"sum_$c"))) ++
        avgCols.flatMap(c => Seq(sum(col(c)).as(s"asum_$c"),
          count(col(c)).as(s"acnt_$c")))
      val signed = ((col("n_rows") * sign).as("n_rows") +:
        sumCols.map(c => (col(s"sum_$c") * sign).as(s"sum_$c"))) ++
        avgCols.flatMap(c => Seq(
          (col(s"asum_$c") * sign).as(s"asum_$c"),
          (col(s"acnt_$c") * sign).as(s"acnt_$c")))
      df.groupBy(gCols: _*).agg(aggs.head, aggs.tail: _*)
        .select(gCols ++ signed: _*)
    }
    def mmOf(df: DataFrame, prefix: String): DataFrame = {
      val aggs = minMaxCols.flatMap(c => Seq(
        min(col(c)).as(s"${prefix}min_$c"),
        max(col(c)).as(s"${prefix}max_$c")))
      df.groupBy(gCols: _*).agg(aggs.head, aggs.tail: _*)
    }
    val addNames = ("n_rows" +: sumCols.map(c => s"sum_$c")) ++
      avgCols.flatMap(c => Seq(s"asum_$c", s"acnt_$c"))
    val mmNames = minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))
    val last: Option[Int] =
      if (!f.exists(marker)) None
      else {
        val in = f.open(marker)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        Some(txt.trim.toInt)
      }
    // the hazard frame is read twice (count + state write); cached for
    // the duration of the refresh, dropped after the swap
    var cached: Option[DataFrame] = None
    val (next, applied) = last match {
      case Some(v) if v == cur => return (cur, 0L) // already current
      case None =>
        lastViewRecomputedGroups = 0L
        val full = read(s, dir, cur)
        val base = addOf(full, 1)
        val cold = if (minMaxCols.isEmpty) base
          else base.join(mmOf(full, ""), groupCols)
        (cold, full.count())
      case Some(v) =>
        val state = s.read.parquet(statePath.toString)
        require(addNames.forall(state.columns.contains) &&
          mmNames.forall(state.columns.contains),
          s"refreshView: view definition changed (state at $viewDir lacks " +
            "columns for the requested aggregates); delete the state dir " +
            "to cold-rebuild")
        val (ins, del) = diffRows(s, dir, v, cur)
        val delta = addOf(ins, 1).unionByName(addOf(del, -1))
        val counts = state.select(gCols ++ addNames.map(col): _*)
          .unionByName(delta)
          .groupBy(gCols: _*)
          .agg(sum(col(addNames.head)).as(addNames.head),
            addNames.tail.map(c => sum(col(c)).as(c)): _*)
          .filter(col("n_rows") > 0)
        val merged = if (minMaxCols.isEmpty) {
          lastViewRecomputedGroups = 0L
          counts
        } else {
          val j = counts
            .join(state.select(gCols ++ mmNames.map(col): _*),
              groupCols, "left")
            .join(mmOf(ins, "i"), groupCols, "left")
            .join(mmOf(del, "d"), groupCols, "left")
          // a (group, column) extremum is RETRACTED when a deleted value
          // ties the recorded bound and no insert re-covers it (an insert
          // at-or-past the bound makes the folded value exact regardless
          // of what the delete removed)
          val hazard = minMaxCols.map { c =>
            (col(s"min_$c").isNotNull && col(s"dmin_$c").isNotNull &&
              col(s"dmin_$c") <= col(s"min_$c") &&
              (col(s"imin_$c").isNull ||
                col(s"imin_$c") >= col(s"min_$c"))) ||
            (col(s"max_$c").isNotNull && col(s"dmax_$c").isNotNull &&
              col(s"dmax_$c") >= col(s"max_$c") &&
              (col(s"imax_$c").isNull ||
                col(s"imax_$c") <= col(s"max_$c")))
          }.reduce(_ || _)
          val flagged = j.withColumn("_haz", coalesce(hazard, lit(false)))
            .persist()
          cached = Some(flagged)
          val hazardGroups = flagged.filter(col("_haz"))
            .select(gCols: _*)
          lastViewRecomputedGroups = hazardGroups.count()
          val folded = minMaxCols.flatMap(c => Seq(
            least(col(s"min_$c"), col(s"imin_$c")).as(s"fmin_$c"),
            greatest(col(s"max_$c"), col(s"imax_$c")).as(s"fmax_$c")))
          val withFold = flagged.select(
            (gCols ++ addNames.map(col)) ++ folded :+ col("_haz"): _*)
          val result =
            if (lastViewRecomputedGroups == 0)
              withFold.select((gCols ++ addNames.map(col)) ++
                minMaxCols.flatMap(c => Seq(
                  col(s"fmin_$c").as(s"min_$c"),
                  col(s"fmax_$c").as(s"max_$c"))): _*)
            else {
              // recompute ONLY the retracted groups, from the latest
              // version (semi-join confines the scan to their rows).
              // The `_re` indicator distinguishes "group not recomputed"
              // (absent from the semi-join: keep the folded bound) from
              // "recomputed to null" (every surviving value is null:
              // the view must report null, not the stale pre-delete
              // extremum a bare coalesce would resurrect)
              val re = mmOf(read(s, dir, cur).join(
                  broadcast(hazardGroups), groupCols, "left_semi"), "r")
                .withColumn("_re", lit(true))
              withFold.join(re, groupCols, "left")
                .select((gCols ++ addNames.map(col)) ++
                  minMaxCols.flatMap(c => Seq(
                    when(col("_re"), col(s"rmin_$c"))
                      .otherwise(col(s"fmin_$c")).as(s"min_$c"),
                    when(col("_re"), col(s"rmax_$c"))
                      .otherwise(col(s"fmax_$c")).as(s"max_$c"))): _*)
            }
          result
        }
        (merged, ins.count() + del.count())
    }
    // swap: stage fresh state + its marker, then ONE rename. A crash
    // before the rename leaves the old state+marker (refresh simply
    // re-runs); a crash between delete and rename leaves no state, which
    // the next refresh treats as a cold start (full recompute — correct,
    // never double-applied)
    val tmp = new Path(viewDir, "_state_tmp")
    f.delete(tmp, true)
    try next.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    finally cached.foreach { c => c.unpersist(); () }
    val o = f.create(new Path(tmp, "_LAST_VERSION"), true)
    try o.write(cur.toString.getBytes("UTF-8")) finally o.close()
    f.delete(statePath, true)
    if (!f.rename(tmp, statePath))
      throw new java.io.IOException(
        s"refreshView: state swap rename failed at $viewDir")
    (cur, applied)
  }

  /** The materialized view's current contents. Avg aggregates are stored
    * retractably as (sum, non-null count) and exposed here as their
    * quotient `avg_<c>` (null for a group with no non-null values, the
    * SQL convention); the internal numerator/denominator columns are
    * dropped. */
  def readView(s: SparkSession, viewDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val raw = s.read.parquet(new Path(viewDir, "state").toString)
    val avgCols = raw.columns.filter(_.startsWith("asum_")).map(_.drop(5))
    avgCols.foldLeft(raw) { (df, c) =>
      df.withColumn(s"avg_$c",
        col(s"asum_$c").cast("double") / col(s"acnt_$c"))
        .drop(s"asum_$c", s"acnt_$c")
    }
  }

  /** Key-level change-data-capture between two versions: rows whose key
    * appears only in `to` are `insert`s, only in `from` are `delete`s.
    * Two key-hashed anti-joins — the scan side is two manifest-resolved
    * version reads, so at 100 TB an incremental consumer pays for the two
    * versions' files, never the table's history. A REWRITE commit of
    * identical content diffs empty (SnapshotsSpec pins this): CDC sees
    * logical rows, not files. */
  def diff(s: SparkSession, dir: String, from: Int, to: Int,
      keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = read(s, dir, from).select(keyCols.map(col): _*)
    val b = read(s, dir, to).select(keyCols.map(col): _*)
    b.join(a, keyCols, "left_anti").select(lit("insert").as("change") +:
        keyCols.map(col): _*)
      .unionByName(a.join(b, keyCols, "left_anti")
        .select(lit("delete").as("change") +: keyCols.map(col): _*))
  }
}
