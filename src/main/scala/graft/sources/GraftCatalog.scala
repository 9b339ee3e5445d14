package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `graft` SQL CATALOG: snapshot tables as first-class SQL objects —
  * `CREATE TABLE graft.db.t`, `INSERT INTO`, `SELECT … VERSION AS OF`,
  * `MERGE INTO`, `UPDATE`, `DELETE FROM` all reach the [[Snapshots]]
  * verbs from plain SQL. This completes the front door the registered
  * `graft-snapshots` format (f29) opened for reads: the reference's
  * entire identity is a USER-CALLABLE entry surface
  * (ecl/HDFSConnector.ecl:54,175 — the connector is a macro any ECL
  * query invokes), so the mutation half of the table format must be
  * reachable the same way, not Scala-only.
  *
  * Register with
  * {{{
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.warehouse = /path/to/warehouse
  * }}}
  * (both settable at runtime — catalog plugins resolve lazily). Tables
  * live at `<warehouse>/<namespace…>/<table>`, each directory a normal
  * [[Snapshots]] table, interchangeable with the Scala API and the
  * `graft-snapshots` reader: the catalog adds NAMING, not a new layout.
  *
  * ARCHITECTURE — DSv2 for resolution, V1 for execution: the catalog
  * resolves identifiers (including `VERSION AS OF` / `TIMESTAMP AS OF`
  * via the TableCatalog time-travel hooks) to [[SnapshotTableV2]]
  * handles; scans are then rewritten by [[GraftSqlRules]] (injected via
  * `spark.sql.extensions=graft.GraftExtensions`) onto the SAME
  * [[org.apache.spark.sql.execution.datasources.HadoopFsRelation]] the
  * f29 format produces — Spark's own vectorized parquet scan with
  * stats pruning, evolution remaps, and deletion-vector reads (the
  * Delta-style split: the table format owns METADATA, the engine owns
  * every decoded byte). Writes ride the official [[V1Write]] fallback
  * onto [[Snapshots.commit]]; row-level DML is intercepted by the same
  * rule set and routed to [[Snapshots.upsert]] / [[Snapshots.deleteWhere]]
  * / [[Snapshots.updateWhere]], so the SQL path and the Scala API
  * produce byte-identical versions (GraftCatalogSpec pins it).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog '$name' requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catName

  /** Advertises CHECK-constraint support so Spark routes
    * `ALTER TABLE … ADD/DROP CONSTRAINT` here as [[TableChange]]s. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def spark = SparkSession.active
  private def fs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(ns: Seq[String]): Path =
    ns.foldLeft(new Path(warehouse))((p, n) => new Path(p, n))

  private[sources] def tableDir(ident: Identifier): String =
    new Path(nsPath(ident.namespace.toSeq), ident.name).toString

  /** A directory is a table iff it holds ANY snapshot manifest or the
    * pre-first-commit `_SCHEMA` marker [[SnapshotTableV2]] writes.
    * Checking only v1.json would make a table VANISH from the catalog
    * once `vacuum` reclaims its first version (CTAS tables, or any
    * Scala-made table, carry no `_SCHEMA`). */
  private def isTable(p: Path): Boolean = {
    val f = fs(p)
    f.exists(new Path(p, "_SCHEMA")) ||
      (f.exists(p) && Snapshots.latestVersion(spark, p.toString) >= 1)
  }

  private val ManifestGlob = """^v\d+\.json$""".r

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace.toSeq)
    val f = fs(p)
    if (!f.exists(p)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    // TWO parent-level globs resolve every child's table-ness (any
    // snapshot manifest, or the pre-first-commit `_SCHEMA` marker) —
    // a per-child latestVersion listing would cost one RPC per
    // directory, which at warehouse scale turns SHOW TABLES into a
    // namenode storm. globStatus may return null for no matches.
    def glob(pattern: String): Seq[org.apache.hadoop.fs.FileStatus] =
      Option(f.globStatus(new Path(p, pattern))).map(_.toSeq)
        .getOrElse(Seq.empty)
    GraftCatalog.lastListTablesRpcs = 2
    val withManifest = glob("*/v*.json")
      .filter(st => ManifestGlob.matches(st.getPath.getName))
      .map(_.getPath.getParent.getName)
    val withSchema = glob("*/_SCHEMA").map(_.getPath.getParent.getName)
    (withManifest ++ withSchema).distinct.sorted
      .map(Identifier.of(namespace, _)).toArray
  }

  /** `t@branch` addressing: an identifier whose NAME carries an `@`
    * splits into (base table, ref name) — the SQL door onto branches
    * (`SELECT … FROM graft.db.\`t@exp\``, `INSERT INTO`, DELETE/UPDATE/
    * MERGE all base on and advance the named branch). Returns None for
    * a plain name. */
  private def splitBranch(ident: Identifier)
      : Option[(Identifier, String)] = {
    val i = ident.name.indexOf('@')
    if (i < 0) None
    else {
      require(i > 0 && i < ident.name.length - 1,
        s"graft catalog: malformed branch address '${ident.name}' — " +
          "expected table@branch")
      Some((Identifier.of(ident.namespace, ident.name.substring(0, i)),
        ident.name.substring(i + 1)))
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    // a malformed '@' address ('t@', '@t') is simply NOT a table:
    // existence probes (DROP TABLE IF EXISTS, resolution fallbacks)
    // must answer false, not crash — the actionable malformed-address
    // error stays on loadTable/write paths, where the user named the
    // table on purpose
    if (ident.name.startsWith("@") || ident.name.endsWith("@")) false
    else splitBranch(ident) match {
      case Some((base, _)) => isTable(new Path(tableDir(base)))
      case None => isTable(new Path(tableDir(ident)))
    }

  override def loadTable(ident: Identifier): Table =
    splitBranch(ident) match {
      case Some((base, ref)) =>
        if (!tableExists(base)) throw new NoSuchTableException(base)
        val dir = tableDir(base)
        // fail at ANALYSIS with the real story, not at first scan/write
        val (_, isTag) = Snapshots.refs(spark, dir).getOrElse(ref,
          throw new IllegalArgumentException(
            s"graft catalog: no branch '$ref' on ${fullName(base)} — " +
              "create it with CALL system.create_ref first"))
        require(!isTag, s"graft catalog: '$ref' is a tag — tags are " +
          "immutable; address a branch")
        new SnapshotTableV2(dir, fullName(ident), branchRef = Some(ref))
      case None =>
        if (!tableExists(ident)) throw new NoSuchTableException(ident)
        new SnapshotTableV2(tableDir(ident), fullName(ident))
    }

  /** `SELECT … VERSION AS OF v`: the TableCatalog time-travel hook. On
    * a `t@branch` handle the version must lie ON THE BRANCH'S ANCESTRY
    * — versions share one global counter across lines, so accepting an
    * off-line number would silently serve another line's data. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (base, ref) = splitBranch(ident)
      .getOrElse((ident, null: String))
    if (!tableExists(base)) throw new NoSuchTableException(base)
    val dir = tableDir(base)
    val v = try version.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft catalog: VERSION AS OF takes a snapshot version number, " +
          s"got '$version'")
    }
    require(v >= 1 && Snapshots.latestVersion(spark, dir) >= v,
      s"graft catalog: version $v does not exist at $dir")
    if (ref != null) {
      val (head, isTag) = Snapshots.refs(spark, dir).getOrElse(ref,
        throw new IllegalArgumentException(
          s"graft catalog: no branch '$ref' on ${fullName(base)}"))
      require(!isTag, s"graft catalog: '$ref' is a tag — tags are " +
        "immutable; address a branch")
      require(Snapshots.onLine(spark, dir, head, v),
        s"graft catalog: version $v is not on branch '$ref''s line " +
          s"(head v$head) — it belongs to another line's history")
    }
    new SnapshotTableV2(dir, fullName(ident), pinnedVersion = Some(v))
  }

  /** `SELECT … TIMESTAMP AS OF ts` (micros per the DSv2 contract),
    * resolved along main's ancestry via [[Snapshots.versionAsOf]] — or
    * along the NAMED BRANCH's ancestry on a `t@branch` handle. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val (base, ref) = splitBranch(ident)
      .getOrElse((ident, null: String))
    if (!tableExists(base)) throw new NoSuchTableException(base)
    val dir = tableDir(base)
    Option(ref).foreach { r =>
      val (_, isTag) = Snapshots.refs(spark, dir).getOrElse(r,
        throw new IllegalArgumentException(
          s"graft catalog: no branch '$r' on ${fullName(base)}"))
      require(!isTag, s"graft catalog: '$r' is a tag — tags are " +
        "immutable; address a branch")
    }
    val v = Snapshots.versionAsOf(spark, dir, timestampMicros / 1000L,
      ref = Option(ref))
    require(v >= 1,
      s"graft catalog: no version of $dir existed at $timestampMicros us")
    new SnapshotTableV2(dir, fullName(ident), pinnedVersion = Some(v))
  }

  private def fullName(ident: Identifier): String =
    (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(splitBranch(ident).isEmpty,
      s"graft catalog: '@' in table name '${ident.name}' is reserved " +
        "for branch addressing (table@branch)")
    val cluster = GraftCatalog.clusterSpecs(partitions, schema)
      .map(_.render)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val dir = new Path(tableDir(ident))
    val f = fs(dir)
    f.mkdirs(dir)
    // the declared schema rides in a `_SCHEMA` side-file until the first
    // commit exists (from then on the committed vintages are the truth,
    // exactly like a Scala-API table)
    if (schema.nonEmpty) {
      val o = f.create(new Path(dir, "_SCHEMA"), true)
      try o.write(schema.json.getBytes("UTF-8")) finally o.close()
    }
    GraftCatalog.writeClusterCols(spark, dir.toString, cluster)
    new SnapshotTableV2(dir.toString, fullName(ident))
  }

  /** `CREATE TABLE … (…, CONSTRAINT c CHECK (…))`: the TableInfo
    * overload carries inline constraints — persist the CHECKs alongside
    * the created table (the default implementation would silently drop
    * them). */
  override def createTable(ident: Identifier,
      info: TableInfo): Table = {
    // refuse unenforceable constraints BEFORE creating anything — a
    // rejected CREATE must not leave a table behind
    val checks = onlyChecks(info, "CREATE TABLE")
    val t = createTable(ident, info.schema, info.partitions,
      info.properties)
    if (checks.nonEmpty)
      GraftConstraints.write(spark, tableDir(ident), checks)
    t
  }

  // ---- staged DDL: CTAS / CREATE OR REPLACE / REPLACE ... AS SELECT ----

  /** The CHECK constraints in `info`, refusing anything unenforceable. */
  private[sources] def onlyChecks(
      info: TableInfo, verb: String)
      : Seq[org.apache.spark.sql.connector.catalog.constraints.Check] =
    info.constraints.toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check => c
      case other => throw new UnsupportedOperationException(
        s"graft catalog: $verb with ${other.name()}: only CHECK " +
          "constraints are supported")
    }

  private def staged(ident: Identifier, info: TableInfo,
      mode: GraftStagedTable.Mode): StagedTable = {
    require(splitBranch(ident).isEmpty,
      s"graft catalog: ${mode.verb} cannot target a branch address " +
        s"('${ident.name}') — create on the table, then branch")
    new GraftStagedTable(this, ident, info.schema,
      onlyChecks(info, mode.verb), mode,
      GraftCatalog.clusterSpecs(info.partitions, info.schema)
        .map(_.render))
  }

  /** `CREATE TABLE … AS SELECT`: nothing touches the warehouse until
    * [[GraftStagedTable.commitStagedChanges]] — a CTAS whose query fails
    * mid-write leaves NO table behind (the non-staging exec would leave
    * an empty husk). */
  override def stageCreate(ident: Identifier, info: TableInfo)
      : StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    staged(ident, info, GraftStagedTable.Create)
  }

  /** `REPLACE TABLE [… AS SELECT]`: history-preserving — the replace
    * publishes ONE overwrite commit (old versions stay time-travelable),
    * never drop-and-recreate. */
  override def stageReplace(ident: Identifier, info: TableInfo)
      : StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, info, GraftStagedTable.Replace)
  }

  /** `CREATE OR REPLACE TABLE [… AS SELECT]`. */
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo)
      : StagedTable =
    staged(ident, info, GraftStagedTable.CreateOrReplace)

  /** SQL DDL onto the snapshot format's read-side evolution: ADD
    * COLUMNS / RENAME COLUMN / ALTER COLUMN TYPE (widening only) publish
    * ONE metadata-sized commit — an empty single-part vintage whose
    * parquet footer declares the evolved schema, plus the usual
    * `vN.renames` side-file. No data file is rewritten at ANY table
    * size: [[Snapshots.evolvedSchema]] picks added columns and widened
    * types from the new vintage's footer exactly as it would from a
    * data-bearing append, every read's scan ([[Snapshots.read]], SQL,
    * the stream source and the change feed, all through
    * [[SnapshotSource.relationFor]]) backfills old vintages with nulls /
    * requests renamed columns under their old names at read time, and
    * VERSION AS OF still shows each version under its own schema. On a
    * table with no commits yet the `_SCHEMA` side-file is simply
    * rewritten (nothing to evolve). DROP COLUMN is the same shape: a
    * LOGICAL drop recorded in the rename chain
    * ([[Snapshots.DropMarker]]) — no data file is touched, the column
    * vanishes from the head schema while VERSION AS OF below the drop
    * still reads it, and a later ADD COLUMNS may re-use the name as a
    * fresh column (old vintages backfill null). NOT NULL adds are
    * refused because existing rows backfill null.
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    require(splitBranch(ident).isEmpty,
      "graft catalog: ALTER TABLE addresses the table, not a branch — " +
        "schema changes publish on main")
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = tableDir(ident)
    val handle = new SnapshotTableV2(dir, fullName(ident))
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"graft catalog: ALTER TABLE $what")
    var fields = handle.schema().fields.toVector
    var renames = Map.empty[String, String]
    var schemaChanged = false
    def indexOf(names: Array[String], op: String): Int = {
      if (names.length != 1)
        unsupported(s"$op on nested field ${names.mkString(".")} is not " +
          "supported — snapshot columns are top-level")
      val i = fields.indexWhere(_.name == names.head)
      require(i >= 0, s"graft catalog: ALTER TABLE $op: no column " +
        s"'${names.head}' in ${fullName(ident)} " +
        s"(columns: ${fields.map(_.name).mkString(", ")})")
      i
    }
    // Nested-field evolution: rebuild the PARENT struct of
    // `names` (= top.…​.leaf) with `fn(parentStruct, leaf)` applied,
    // navigating only through struct types — evolution inside an array
    // or map element has no per-row identity to evolve and is refused.
    def rebuildParent(names: Array[String], op: String)(
        fn: (org.apache.spark.sql.types.StructType, String)
          => org.apache.spark.sql.types.StructType): Unit = {
      import org.apache.spark.sql.types.{DataType, StructType}
      val topIdx = fields.indexWhere(_.name == names.head)
      require(topIdx >= 0, s"graft catalog: ALTER TABLE $op: no column " +
        s"'${names.head}' in ${fullName(ident)} " +
        s"(columns: ${fields.map(_.name).mkString(", ")})")
      def asStruct(dt: DataType, path: String): StructType = dt match {
        case st: StructType => st
        case other => unsupported(s"$op under '$path': " +
          s"${other.simpleString} is not a struct — only struct " +
          "subfields evolve (array/map elements are opaque)")
      }
      def rec(dt: DataType, segs: List[String], path: String): DataType = {
        val st = asStruct(dt, path)
        segs match {
          case Nil => fn(st, names.last)
          case h :: t =>
            val i = st.fieldNames.indexOf(h)
            require(i >= 0, s"graft catalog: ALTER TABLE $op: no field " +
              s"'$h' in '$path' (fields: ${st.fieldNames.mkString(", ")})")
            StructType(st.fields.updated(i, st.fields(i).copy(
              dataType = rec(st.fields(i).dataType, t, path + "." + h))))
        }
      }
      val nt = rec(fields(topIdx).dataType,
        names.toList.drop(1).dropRight(1), names.head)
      fields = fields.updated(topIdx, fields(topIdx).copy(dataType = nt))
      schemaChanged = true
    }
    // a CHECK predicate referencing the path (or anything under it)
    // would silently go stale — same refusal as the top-level forms
    def refuseIfCheckReferences(pathStr: String, what: String): Unit =
      GraftConstraints.read(spark, dir).foreach { c =>
        val refs = spark.sessionState.sqlParser
          .parseExpression(c.predicateSql).collect {
            case ua: org.apache.spark.sql.catalyst.analysis
                .UnresolvedAttribute => ua.nameParts.mkString(".")
          }
        require(!refs.exists(r =>
            r == pathStr || r.startsWith(pathStr + ".")),
          s"graft catalog: $what $pathStr: referenced by CHECK " +
            s"constraint ${c.name} (${c.predicateSql}) — drop the " +
            "constraint first")
      }
    changes.foreach {
      case a: TableChange.AddColumn =>
        if (!a.isNullable)
          unsupported("ADD COLUMNS ... NOT NULL is not supported — " +
            "existing rows backfill null")
        if (a.position != null)
          unsupported("ADD COLUMNS with FIRST/AFTER is not supported — " +
            "column order follows vintage order")
        if (a.fieldNames.length == 1) {
          val n = a.fieldNames.head
          require(!fields.exists(_.name == n),
            s"graft catalog: ALTER TABLE ADD COLUMNS: '$n' already exists")
          fields :+= org.apache.spark.sql.types.StructField(
            n, a.dataType, nullable = true)
          schemaChanged = true
        } else {
          // nested ADD: the evolving commit's footer declares the grown
          // struct; no rename entry — widen() unions subfields by name
          // and pre-evolution vintages null-backfill via parquet schema
          // clipping (re-use after a nested DROP stays safe: the drop's
          // chain entry masks the old physical subfield)
          rebuildParent(a.fieldNames, "ADD COLUMNS") { (st, leaf) =>
            require(!st.fieldNames.contains(leaf),
              s"graft catalog: ALTER TABLE ADD COLUMNS: " +
                s"'${a.fieldNames.mkString(".")}' already exists")
            org.apache.spark.sql.types.StructType(st.fields :+
              org.apache.spark.sql.types.StructField(leaf, a.dataType,
                nullable = true))
          }
        }
      case r: TableChange.RenameColumn if r.fieldNames.length > 1 =>
        // nested RENAME: one chain entry old-dotted-path → new FULL
        // dotted path (never a bare leaf, so equality-keyed top-level
        // walks can't alias it); data files are never rewritten
        val oldPath = r.fieldNames.mkString(".")
        val parent = r.fieldNames.dropRight(1).mkString(".")
        refuseIfCheckReferences(oldPath, "RENAME COLUMN")
        rebuildParent(r.fieldNames, "RENAME COLUMN") { (st, leaf) =>
          val i = st.fieldNames.indexOf(leaf)
          require(i >= 0, s"graft catalog: ALTER TABLE RENAME COLUMN: " +
            s"no field '$leaf' in '$parent' " +
            s"(fields: ${st.fieldNames.mkString(", ")})")
          require(!st.fieldNames.contains(r.newName),
            s"graft catalog: ALTER TABLE RENAME COLUMN: " +
              s"'$parent.${r.newName}' already exists")
          org.apache.spark.sql.types.StructType(st.fields.updated(i,
            st.fields(i).copy(name = r.newName)))
        }
        renames += (oldPath -> (parent + "." + r.newName))
      case r: TableChange.RenameColumn =>
        val i = indexOf(r.fieldNames, "RENAME COLUMN")
        require(!fields.exists(_.name == r.newName),
          s"graft catalog: ALTER TABLE RENAME COLUMN: '${r.newName}' " +
            "already exists")
        // a CHECK predicate referencing the old name would silently go
        // stale (predicates persist as SQL text) — refuse instead
        GraftConstraints.read(spark, dir).foreach { c =>
          val refs = spark.sessionState.sqlParser
            .parseExpression(c.predicateSql).collect {
              case ua: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => ua.nameParts.head
            }
          require(!refs.contains(fields(i).name),
            s"graft catalog: RENAME COLUMN ${fields(i).name}: " +
              s"referenced by CHECK constraint ${c.name} " +
              s"(${c.predicateSql}) — drop the constraint first")
        }
        renames += (fields(i).name -> r.newName)
        // the clustering declaration follows the rename — a stale
        // `_CLUSTER` name would silently stop clustering future writes
        val specs = GraftCatalog.parseClusterSpecs(
          GraftCatalog.clusterCols(spark, dir))
        if (specs.exists(_.col == fields(i).name))
          GraftCatalog.writeClusterCols(spark, dir, specs.map {
            case GraftCatalog.IdentityCluster(c) if c == fields(i).name =>
              GraftCatalog.IdentityCluster(r.newName).render
            case GraftCatalog.TruncCluster(u, c) if c == fields(i).name =>
              GraftCatalog.TruncCluster(u, r.newName).render
            case GraftCatalog.BucketCluster(n, c) if c == fields(i).name =>
              GraftCatalog.BucketCluster(n, r.newName).render
            case GraftCatalog.TruncateCluster(n, c) if c == fields(i).name =>
              GraftCatalog.TruncateCluster(n, r.newName).render
            case other => other.render
          })
        fields = fields.updated(i, fields(i).copy(name = r.newName))
        schemaChanged = true
      case u: TableChange.UpdateColumnType if u.fieldNames.length > 1 =>
        // nested widening: the evolving commit's footer declares the
        // widened struct, widen() reconciles across vintages, and the
        // scan's localized requested schema decodes the narrower
        // physical type in place (parquet reader type promotion) — no
        // chain entry, no data rewrite, same as the top-level form
        val oldPath = u.fieldNames.mkString(".")
        rebuildParent(u.fieldNames, "ALTER COLUMN") { (st, leaf) =>
          val i = st.fieldNames.indexOf(leaf)
          require(i >= 0, s"graft catalog: ALTER COLUMN: no field " +
            s"'$leaf' in '${u.fieldNames.dropRight(1).mkString(".")}' " +
            s"(fields: ${st.fieldNames.mkString(", ")})")
          val cur = st.fields(i).dataType
          require(Snapshots.widen(cur, u.newDataType) == u.newDataType,
            s"graft catalog: ALTER COLUMN $oldPath TYPE: " +
              s"${u.newDataType.simpleString} does not widen " +
              s"${cur.simpleString} — only lossless widening is " +
              "supported")
          org.apache.spark.sql.types.StructType(st.fields.updated(i,
            st.fields(i).copy(dataType = u.newDataType)))
        }
      case u: TableChange.UpdateColumnType =>
        val i = indexOf(u.fieldNames, "ALTER COLUMN")
        val cur = fields(i).dataType
        // widen() throws on incompatible pairs (string×int …); equality
        // below refuses NARROWING (long→int) with the precise direction
        require(Snapshots.widen(cur, u.newDataType) == u.newDataType,
          s"graft catalog: ALTER COLUMN ${fields(i).name} TYPE: " +
            s"${u.newDataType.simpleString} does not widen " +
            s"${cur.simpleString} — only lossless widening is supported")
        fields = fields.updated(i, fields(i).copy(dataType = u.newDataType))
        schemaChanged = true
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            val cur = GraftConstraints.read(spark, dir)
            require(!cur.exists(_.name == c.name),
              s"graft catalog: constraint '${c.name}' already exists " +
                s"on ${fullName(ident)}")
            GraftConstraints.write(spark, dir, cur :+ c)
          case other =>
            unsupported(s"ADD CONSTRAINT ${other.name()}: only CHECK " +
              "constraints are supported (PRIMARY KEY/UNIQUE/FOREIGN " +
              "KEY are not enforceable here)")
        }
      case dc: TableChange.DropConstraint =>
        val cur = GraftConstraints.read(spark, dir)
        if (cur.exists(_.name == dc.name))
          GraftConstraints.write(spark, dir,
            cur.filterNot(_.name == dc.name))
        else require(dc.ifExists,
          s"graft catalog: no constraint '${dc.name}' on " +
            s"${fullName(ident)}")
      case d: TableChange.DeleteColumn if d.fieldNames.length > 1 =>
        // nested DROP: logical, recorded as old-dotted-path → DropMarker;
        // time travel below the drop still reads the subfield, a later
        // nested ADD may re-use the leaf (pre-drop vintages read null)
        val oldPath = d.fieldNames.mkString(".")
        val parent = d.fieldNames.dropRight(1).mkString(".")
        refuseIfCheckReferences(oldPath, "DROP COLUMN")
        rebuildParent(d.fieldNames, "DROP COLUMN") { (st, leaf) =>
          val i = st.fieldNames.indexOf(leaf)
          require(i >= 0, s"graft catalog: ALTER TABLE DROP COLUMN: " +
            s"no field '$leaf' in '$parent' " +
            s"(fields: ${st.fieldNames.mkString(", ")})")
          require(st.fields.length > 1,
            s"graft catalog: DROP COLUMN $oldPath: cannot drop a " +
              s"struct's only subfield — drop the column '$parent' " +
              "itself instead")
          org.apache.spark.sql.types.StructType(st.fields.patch(i, Nil, 1))
        }
        renames += (oldPath -> graft.sources.Snapshots.DropMarker)
      case d: TableChange.DeleteColumn =>
        val i = indexOf(d.fieldNames, "DROP COLUMN")
        require(fields.size > 1,
          s"graft catalog: DROP COLUMN ${fields(i).name}: cannot drop " +
            "a table's only column")
        // a CHECK predicate referencing the column would silently go
        // stale — same refusal as RENAME COLUMN
        GraftConstraints.read(spark, dir).foreach { c =>
          val refs = spark.sessionState.sqlParser
            .parseExpression(c.predicateSql).collect {
              case ua: org.apache.spark.sql.catalyst.analysis
                  .UnresolvedAttribute => ua.nameParts.head
            }
          require(!refs.contains(fields(i).name),
            s"graft catalog: DROP COLUMN ${fields(i).name}: " +
              s"referenced by CHECK constraint ${c.name} " +
              s"(${c.predicateSql}) — drop the constraint first")
        }
        // clustered writes and stat pruning key off the declaration —
        // dropping underneath it would silently stop both
        require(!GraftCatalog.parseClusterSpecs(
            GraftCatalog.clusterCols(spark, dir))
            .exists(_.col == fields(i).name),
          s"graft catalog: DROP COLUMN ${fields(i).name}: part of the " +
            "table's clustering declaration — ALTER the clustering " +
            "first (CALL system.optimize with new columns)")
        renames += (fields(i).name -> Snapshots.DropMarker)
        fields = fields.patch(i, Nil, 1)
        schemaChanged = true
      case other =>
        unsupported(s"change ${other.getClass.getSimpleName} is not " +
          "supported")
    }
    if (schemaChanged) {
      val evolved = StructType(fields)
      if (Snapshots.latestVersion(spark, dir) == 0) {
        // no commits yet: the declared-schema side-file is the only truth
        val f = fs(new Path(dir))
        val o = f.create(new Path(dir, "_SCHEMA"), true)
        try o.write(evolved.json.getBytes("UTF-8")) finally o.close()
      } else {
        val empty = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq.empty[org.apache.spark.sql.Row], 1), evolved)
        Snapshots.commit(spark, dir, empty, append = true,
          renames = renames)
      }
    }
    new SnapshotTableV2(dir, fullName(ident))
  }

  override def dropTable(ident: Identifier): Boolean = {
    require(splitBranch(ident).isEmpty,
      "graft catalog: DROP TABLE addresses the table — drop a branch " +
        "with CALL system.drop_ref")
    val p = new Path(tableDir(ident))
    if (!isTable(p)) false else fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    require(splitBranch(oldIdent).isEmpty && splitBranch(newIdent).isEmpty,
      "graft catalog: RENAME addresses tables, not branches")
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val from = new Path(tableDir(oldIdent))
    val to = new Path(tableDir(newIdent))
    val f = fs(from)
    f.mkdirs(to.getParent)
    if (!f.rename(from, to)) throw new java.io.IOException(
      s"graft catalog: rename $from -> $to failed")
  }

  // ---- SQL-callable maintenance: CALL graft.system.<proc>(...) ----------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] = GraftProcedures.list(this, namespace)

  // ---- namespaces: plain warehouse subdirectories ------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    val f = fs(root)
    if (!f.exists(root)) Array.empty
    else f.listStatus(root).filter(_.isDirectory)
      .filter(st => !isTable(st.getPath))
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val p = nsPath(namespace.toSeq)
    val f = fs(p)
    if (!f.exists(p)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    f.listStatus(p).filter(_.isDirectory)
      .filter(st => !isTable(st.getPath))
      .map(st => namespace :+ st.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = nsPath(namespace.toSeq)
    fs(p).exists(p) && !isTable(p)
  }

  // namespace properties persist in a `_NS_PROPS` side-file under the
  // namespace directory (key SEP value lines) — a FILE, so table
  // detection (_SCHEMA / manifests) and directory listings never see it
  // as a table or child namespace
  private val NsSep = 1.toChar
  private def nsPropsPath(ns: Seq[String]): Path =
    new Path(nsPath(ns), "_NS_PROPS")
  private def readNsProps(ns: Seq[String]): Map[String, String] = {
    val p = nsPropsPath(ns)
    val f = fs(p)
    if (!f.exists(p)) Map.empty
    else {
      val in = f.open(p)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
      txt.split('\n').filter(_.contains(NsSep)).map { l =>
        val i = l.indexOf(NsSep)
        l.substring(0, i) -> l.substring(i + 1)
      }.toMap
    }
  }
  private def writeNsProps(ns: Seq[String],
      props: Map[String, String]): Unit = {
    // the props file is line-oriented (readNsProps splits on '\n'), so a
    // key/value containing a newline would silently truncate on the next
    // read — refuse loudly instead (r21, advisor finding)
    props.foreach { case (k, v) =>
      if (k.contains('\n') || v.contains('\n'))
        throw new IllegalArgumentException(
          s"graft: namespace property ${k.takeWhile(_ != '\n')} contains " +
            "a newline, which the line-oriented _NS_PROPS format cannot " +
            "round-trip; encode the value (e.g. replace newlines) first")
    }
    val p = nsPropsPath(ns)
    val f = fs(p)
    if (props.isEmpty) { f.delete(p, false); () }
    else {
      val o = f.create(p, true)
      try o.write(props.toSeq.sorted
        .map { case (k, v) => k + NsSep + v }.mkString("\n")
        .getBytes("UTF-8")) finally o.close()
    }
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    (readNsProps(namespace.toSeq) +
      (SupportsNamespaces.PROP_LOCATION ->
        nsPath(namespace.toSeq).toString)).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    fs(nsPath(namespace.toSeq)).mkdirs(nsPath(namespace.toSeq))
    val props = metadata.asScala.toMap -
      SupportsNamespaces.PROP_LOCATION - SupportsNamespaces.PROP_COMMENT ++
      metadata.asScala.get(SupportsNamespaces.PROP_COMMENT)
        .map(SupportsNamespaces.PROP_COMMENT -> _)
    if (props.nonEmpty) writeNsProps(namespace.toSeq, props)
  }

  /** `ALTER NAMESPACE … SET/UNSET PROPERTIES`: plain key-value metadata
    * on the side-file. Changing the LOCATION is refused — namespaces ARE
    * warehouse subdirectories here, so a divorced location would orphan
    * every table path under the old one. */
  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catName +: namespace.toSeq)
    var props = readNsProps(namespace.toSeq)
    changes.foreach {
      case s: NamespaceChange.SetProperty =>
        require(s.property != SupportsNamespaces.PROP_LOCATION,
          "graft catalog: ALTER NAMESPACE ... SET LOCATION is not " +
            "supported — namespaces are warehouse subdirectories")
        props += (s.property -> s.value)
      case r: NamespaceChange.RemoveProperty =>
        props -= r.property
      case other => throw new UnsupportedOperationException(
        s"graft catalog: ALTER NAMESPACE change " +
          s"${other.getClass.getSimpleName} is not supported")
    }
    writeNsProps(namespace.toSeq, props)
  }

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace.toSeq)
    val f = fs(p)
    if (!f.exists(p)) false
    else {
      require(cascade || f.listStatus(p).isEmpty,
        s"graft catalog: namespace ${namespace.mkString(".")} is not " +
          "empty; use CASCADE")
      f.delete(p, true)
    }
  }
}

private[graft] object GraftCatalog {
  /** Spec observability: filesystem LISTING calls the last
    * [[GraftCatalog.listTables]] made — pins that table resolution is
    * batched (two globs over the parent), not one listing per child. */
  @volatile private[sources] var lastListTablesRpcs: Int = -1

  /** `PARTITIONED BY` support: IDENTITY, temporal (`days(ts)` /
    * `months` / `years` / `hours`) and `bucket(n, col)` transforms,
    * all implemented as WRITE CLUSTERING — each catalog write
    * range-repartitions on the transform VALUES and records per-file
    * bounds, so scans and DML prune files by stats exactly as a
    * directory layout would eliminate partitions, without hive-style
    * paths (which the manifest/vintage format deliberately avoids:
    * file names carry their commit, stats carry their bounds).
    * Identity and temporal clustering prune through the UNDERLYING
    * column's recorded [min,max] (day-aligned files bound their raw
    * timestamps tightly); bucket clustering records the derived BUCKET
    * ID under a virtual stats name, and equality predicates prune by
    * hashing the literal (the one pruning rule, [[StatsPruning]]). Other
    * transforms (truncate, sorted buckets) stay refused — z-order
    * (`optimize`) is the multi-dimensional answer. */
  private[sources] sealed trait ClusterSpec {
    def col: String
    /** side-file rendering (one `_CLUSTER` csv entry) */
    def render: String
    /** the value files are range-aligned on at write time */
    def clusterExpr: org.apache.spark.sql.Column
  }
  private[sources] final case class IdentityCluster(col: String)
      extends ClusterSpec {
    def render: String = col
    def clusterExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.col(col)
  }
  private[sources] final case class TruncCluster(unit: String,
      col: String) extends ClusterSpec {
    def render: String = s"$unit:$col"
    def clusterExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.date_trunc(unit,
        org.apache.spark.sql.functions.col(col))
  }
  /** Iceberg's `truncate(n, col)`: strings cluster by their n-char
    * PREFIX, integrals by the n-aligned floor `v - pmod(v, n)`. The
    * derived value is additionally recorded under the spec's VIRTUAL
    * stats name (like bucket ids), so equality/range and LIKE-prefix
    * predicates prune through it ([[StatsPruning]]);
    * the raw column's bounds are recorded too (like identity), so
    * plain comparisons prune without the derivation. */
  private[sources] final case class TruncateCluster(n: Int, col: String)
      extends ClusterSpec {
    def render: String = s"trunc:$n:$col"
    /** the STRING shape; [[clusterFor]] substitutes the arithmetic
      * floor for integral columns (schema in hand there) */
    def clusterExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.col(col), 1, n)
  }

  private[sources] final case class BucketCluster(n: Int, col: String)
      extends ClusterSpec {
    def render: String = s"bucket:$n:$col"
    /** matches functions.hash = Murmur3 seed 42; pmod keeps ids in
      * [0, n) — the same number [[Snapshots.bucketIdOf]] computes for
      * a predicate literal at prune time */
    def clusterExpr: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.col(col)),
        org.apache.spark.sql.functions.lit(n))
  }

  private val TruncUnits = Map("days" -> "day", "months" -> "month",
    "years" -> "year", "hours" -> "hour")

  private[sources] def clusterSpecs(partitions: Array[Transform],
      schema: StructType): Seq[ClusterSpec] = partitions.toSeq.map {
    case id if id.name == "identity" && id.references.length == 1 =>
      val n = id.references.head.fieldNames.mkString(".")
      require(schema.fieldNames.contains(n),
        s"graft catalog: PARTITIONED BY column $n is not in the schema")
      IdentityCluster(n)
    case t if TruncUnits.contains(t.name) && t.references.length == 1 =>
      val n = t.references.head.fieldNames.mkString(".")
      val fld = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: PARTITIONED BY column $n is not in the schema"))
      require(fld.dataType.isInstanceOf[
            org.apache.spark.sql.types.TimestampType] ||
          fld.dataType.isInstanceOf[org.apache.spark.sql.types.DateType] ||
          fld.dataType == org.apache.spark.sql.types.TimestampNTZType,
        s"graft catalog: PARTITIONED BY ${t.name}($n): $n is " +
          s"${fld.dataType.simpleString}, not a date/timestamp")
      TruncCluster(TruncUnits(t.name), n)
    case b if b.name == "bucket" && b.references.length == 1 =>
      val n = b.references.head.fieldNames.mkString(".")
      require(schema.fieldNames.contains(n),
        s"graft catalog: PARTITIONED BY column $n is not in the schema")
      val buckets = b.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"graft catalog: PARTITIONED BY bucket: missing bucket count"))
      require(buckets > 0, "graft catalog: bucket count must be positive")
      BucketCluster(buckets, n)
    case t if t.name == "truncate" && t.references.length == 1 =>
      val n = t.references.head.fieldNames.mkString(".")
      val fld = schema.fields.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"graft catalog: PARTITIONED BY column $n is not in the schema"))
      import org.apache.spark.sql.types._
      require(fld.dataType == StringType ||
          fld.dataType == ByteType || fld.dataType == ShortType ||
          fld.dataType == IntegerType || fld.dataType == LongType,
        s"graft catalog: PARTITIONED BY truncate($n): $n is " +
          s"${fld.dataType.simpleString} — truncate clusters strings " +
          "(prefix) and integrals (width-aligned floor)")
      val width = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"graft catalog: PARTITIONED BY truncate: missing width"))
      require(width > 0, "graft catalog: truncate width must be positive")
      TruncateCluster(width, n)
    case other => throw new UnsupportedOperationException(
      s"graft catalog: PARTITIONED BY ${other.describe} is not " +
        "supported — identity, days/months/years/hours, bucket(n, col) " +
        "and truncate(n, col) implement as clustered writes + stat " +
        "pruning; use OPTIMIZE ZORDER for multi-dimensional clustering")
  }

  /** The `REPLACE WHERE` predicate as a Column: Spark hands the
    * overwrite condition to a V1 write as `sources.Filter`s — translate
    * the standard vocabulary, refuse the rest actionably (an
    * untranslatable predicate never silently widens the replace). */
  private[sources] def filterColumn(
      f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === lit(v)
      case EqualNullSafe(a, v) => col(a) <=> lit(v)
      case GreaterThan(a, v) => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v) => col(a) < lit(v)
      case LessThanOrEqual(a, v) => col(a) <= lit(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case And(l, r) => filterColumn(l) && filterColumn(r)
      case Or(l, r) => filterColumn(l) || filterColumn(r)
      case Not(c) => !filterColumn(c)
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case _: AlwaysTrue => lit(true)
      case _: AlwaysFalse => lit(false)
      case other => throw new UnsupportedOperationException(
        s"graft catalog: REPLACE WHERE predicate $other is not " +
          "translatable — rewrite it with comparisons/IN/LIKE-prefix " +
          "over plain columns")
    }
  }

  /** Parse `_CLUSTER` entries back to specs (legacy plain names =
    * identity). Unparseable entries degrade to identity on the raw
    * string — conservative for old tables. */
  private[sources] def parseClusterSpecs(entries: Seq[String])
      : Seq[ClusterSpec] = entries.map { e =>
    e.split(':') match {
      case Array(u, c) if TruncUnits.valuesIterator.contains(u) =>
        TruncCluster(u, c)
      case Array("bucket", n, c) if n.forall(_.isDigit) && n.nonEmpty =>
        BucketCluster(n.toInt, c)
      case Array("trunc", n, c) if n.forall(_.isDigit) && n.nonEmpty =>
        TruncateCluster(n.toInt, c)
      case _ => IdentityCluster(e)
    }
  }

  /** Persist / read the clustering columns (`_CLUSTER` side-file, one
    * csv line). Absent or empty = unclustered. */
  private[sources] def writeClusterCols(s: SparkSession, dir: String,
      cols: Seq[String]): Unit = {
    val p = new Path(dir, "_CLUSTER")
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (cols.isEmpty) { f.delete(p, false); () }
    else {
      val o = f.create(p, true)
      try o.write(cols.mkString(",").getBytes("UTF-8")) finally o.close()
    }
  }

  private[sources] def clusterCols(s: SparkSession, dir: String)
      : Seq[String] = {
    val p = new Path(dir, "_CLUSTER")
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(p)) Seq.empty
    else {
      val in = f.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
    }
  }

  /** The write-side half of PARTITIONED BY: range-repartition `data`
    * on the declared transform VALUES (files become value-aligned —
    * the shuffle is the price every engine's partitioned write pays)
    * and extend the recorded stats. Identity and temporal specs record
    * the UNDERLYING column, strings included (partition keys are
    * bounded values, unlike free text — the reason strings are
    * excluded from [[Snapshots.defaultStatsCols]] does not apply);
    * day-aligned files bound their raw timestamps tightly, so a
    * day-selective predicate prunes through the plain temporal stats.
    * Bucket specs record the derived BUCKET ID under the spec's
    * virtual stats name (third return — (name, exprSql, typeName)),
    * which equality predicates prune by hashing the literal. */
  private[sources] def clusterFor(data: org.apache.spark.sql.DataFrame,
      declared: Seq[String])
      : (org.apache.spark.sql.DataFrame, Seq[String],
         Seq[(String, String, String)]) = {
    val specs = parseClusterSpecs(declared)
      .filter(sp => data.columns.contains(sp.col))
    val defaults = Snapshots.defaultStatsCols(data.schema)
    if (specs.isEmpty) (data, defaults, Seq.empty)
    else {
      import org.apache.spark.sql.types._
      def dtypeOf(c: String): Option[DataType] =
        data.schema.fields.find(_.name == c).map(_.dataType)
      val statCols = (defaults ++ specs.collect {
        case IdentityCluster(c) => c
        case TruncCluster(_, c) => c
        case TruncateCluster(_, c) => c
      }).distinct
      val virt = specs.flatMap {
        case b @ BucketCluster(n, c) =>
          Some((b.render, s"pmod(hash(`$c`), $n)", "integer"))
        case t @ TruncateCluster(n, c) => dtypeOf(c).map {
          case StringType => (t.render, s"substring(`$c`, 1, $n)", "string")
          case dt => (t.render, s"`$c` - pmod(`$c`, $n)", dt.typeName)
        }
        case _ => None
      }
      // truncate on an integral column clusters by the arithmetic
      // floor, not the prefix string — dispatch on the observed type
      val exprs = specs.map {
        case t @ TruncateCluster(n, c)
            if !dtypeOf(c).contains(StringType) =>
          org.apache.spark.sql.functions.col(c) -
            org.apache.spark.sql.functions.pmod(
              org.apache.spark.sql.functions.col(c),
              org.apache.spark.sql.functions.lit(n))
        case sp => sp.clusterExpr
      }
      (data.repartitionByRange(exprs: _*), statCols, virt)
    }
  }
}

/** One snapshot table as a DSv2 [[Table]] handle. The handle is
  * METADATA-ONLY: reads are rewritten by [[GraftSqlRules]] onto the f29
  * HadoopFsRelation (schema here must therefore match what
  * [[SnapshotSource.versionRelation]] will produce — both come from
  * [[Snapshots.evolvedSchema]]); INSERT INTO / INSERT OVERWRITE / CTAS
  * ride the official V1 write fallback onto [[Snapshots.commit]]
  * (append / rewrite commits respectively — history stays readable
  * through an INSERT OVERWRITE, unlike a path overwrite).
  *
  * `branchRef` = the `t@branch` SQL addressing: the handle reads the
  * NAMED branch's head, and INSERT / INSERT OVERWRITE / TRUNCATE / DML
  * routed through [[GraftSqlRules]] base on and advance that branch —
  * main and every other ref untouched (the whole SQL-only
  * write-audit-publish pipeline). Exclusive with `pinnedVersion`. */
private[graft] class SnapshotTableV2(val dir: String,
    val fullName: String, val pinnedVersion: Option[Int] = None,
    val branchRef: Option[String] = None)
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable {

  require(pinnedVersion.isEmpty || branchRef.isEmpty,
    "graft catalog: branch addressing and VERSION/TIMESTAMP AS OF pins " +
      "are exclusive")

  private def spark = SparkSession.active

  override def name(): String = fullName

  /** `TRUNCATE TABLE graft.db.t`: one empty-rewrite commit (no data
    * read or written, no deletion vector, prior versions stay
    * time-travelable) — the same route `DELETE FROM t` without WHERE
    * takes, because a merge-on-read delete of EVERY row would write a
    * table-sized deletion vector. On a `t@branch` handle the rewrite
    * lands on the branch. */
  override def truncateTable(): Boolean = {
    require(pinnedVersion.isEmpty,
      "graft catalog: cannot TRUNCATE a time-travel-pinned read")
    GraftSql.truncateTable(spark, dir, branchRef)
    true
  }

  /** The version a SCAN of this handle resolves to right now: the pin
    * (VERSION/TIMESTAMP AS OF), the addressed branch's head, or main's
    * current head; 0 = an empty, freshly created table (reads as zero
    * rows of the declared schema). */
  private[graft] def resolveVersion(s: SparkSession): Int =
    pinnedVersion.orElse(
      branchRef.map(Snapshots.refVersion(s, dir, _)))
      .getOrElse(Snapshots.mainVersion(s, dir))

  override def schema(): StructType =
    SnapshotSource.schemaAt(spark, dir, resolveVersion(spark))

  override def capabilities(): util.Set[TableCapability] =
    // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's `MERGE WITH SCHEMA
    // EVOLUTION`: the analyzer computes the missing-column TableChanges
    // and routes them through alterTable — which publishes them as ONE
    // logical ADD COLUMNS commit (no data rewritten; pre-evolution
    // files read null for the new columns) before the MERGE routes
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The declared clustering columns as identity transforms (DESCRIBE
    * shows them under Partitioning) — write clustering, not hive dirs:
    * see [[GraftCatalog.identityCols]]. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    GraftCatalog.parseClusterSpecs(GraftCatalog.clusterCols(spark, dir))
      .map {
        case GraftCatalog.IdentityCluster(c) => Expressions.identity(c)
        case GraftCatalog.TruncCluster("day", c) => Expressions.days(c)
        case GraftCatalog.TruncCluster("month", c) => Expressions.months(c)
        case GraftCatalog.TruncCluster("year", c) => Expressions.years(c)
        case GraftCatalog.TruncCluster(_, c) => Expressions.hours(c)
        case GraftCatalog.BucketCluster(n, c) => Expressions.bucket(n, c)
        case GraftCatalog.TruncateCluster(n, c) =>
          Expressions.apply("truncate",
            Expressions.literal(n), Expressions.column(c))
      }.toArray
  }

  /** The table's CHECK constraints — Spark's `ResolveTableConstraints`
    * reads these and injects `CheckInvariant` validation into every
    * INSERT/OVERWRITE plan against this table (the custom DML routing
    * enforces them itself; see [[GraftConstraints.enforce]]). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    GraftConstraints.read(spark, dir).toArray

  /** Never planned when `graft.GraftExtensions` is installed — the scan
    * is rewritten onto the vectorized-parquet HadoopFsRelation before
    * planning (see [[GraftSqlRules]]); this hook exists only to fail
    * actionably on a session without the extensions. */
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new UnsupportedOperationException(
      s"graft catalog: reading $fullName requires the graft analyzer " +
        "rules — build the session with spark.sql.extensions=" +
        "graft.GraftExtensions")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    class Builder extends SnapshotWriteBuilder(dir, info, None)
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var replaceCond
          : Option[org.apache.spark.sql.sources.Filter] = None
      /** `INSERT INTO t REPLACE WHERE cond` / `writeTo(t).overwrite(c)`:
        * a non-trivial filter routes to [[Snapshots.replaceWhere]] —
        * one atomic commit whose DV covers the matched rows and whose
        * manifest appends the new files; AlwaysTrue degenerates to the
        * plain INSERT OVERWRITE rewrite. */
      override def overwrite(filters: Array[
          org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        import org.apache.spark.sql.sources.AlwaysTrue
        if (filters.isEmpty || filters.forall(_ == AlwaysTrue))
          overwrite = true
        else replaceCond = Some(filters.reduce(
          org.apache.spark.sql.sources.And(_, _)))
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                ovr: Boolean): Unit = {
              // append-vs-first is decided inside the claimed section
              // (commitAuto) — a pre-claim latestVersion read would let
              // two racing first INSERTs both rewrite, losing rows.
              // A PARTITIONED BY table range-clusters each write on
              // its declared columns and records their bounds, so the
              // files are value-aligned and stat pruning eliminates
              // them like a directory layout would.
              val (clustered, stats, virt) = GraftCatalog.clusterFor(
                data, GraftCatalog.clusterCols(data.sparkSession, dir))
              (replaceCond, branchRef) match {
                case (Some(flt), br) =>
                  Snapshots.replaceWhere(data.sparkSession, dir,
                    clustered, GraftCatalog.filterColumn(flt),
                    statsCols = stats, statsExprs = virt, branch = br)
                case (None, Some(n)) =>
                  // a branch handle always has a base (its ref exists),
                  // so append-vs-rewrite is just the overwrite flag
                  Snapshots.commitOnBranch(data.sparkSession, dir, n,
                    clustered, append = !(overwrite || ovr),
                    statsCols = stats, statsExprs = virt)
                case (None, None) =>
                  Snapshots.commitAuto(data.sparkSession, dir,
                    clustered, overwrite = overwrite || ovr,
                    statsCols = stats, statsExprs = virt)
              }
              ()
            }
          }
        /** `writeStream.toTable("graft.db.t")`: the same
          * [[SnapshotStreamingWrite]] as `writeStream.format(
          * "graft-snapshots")` on the table path. */
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(branchRef.isEmpty,
            "graft catalog: writeStream.toTable on a t@branch handle " +
              "is not supported — use writeStream.format(\"graft-" +
              "snapshots\").option(\"branch\", …) on the table path")
          streaming()
        }
      }
    }
    if (SnapshotStreamingWrite.keyColsOf(info.options).nonEmpty)
      new Builder with org.apache.spark.sql.internal.connector
        .SupportsStreamingUpdateAsAppend
    else new Builder
  }

  override def toString: String = s"SnapshotTableV2($fullName)"
}

private[graft] object GraftStagedTable {
  sealed abstract class Mode(val verb: String)
  case object Create extends Mode("CREATE TABLE ... AS SELECT")
  case object Replace extends Mode("REPLACE TABLE")
  case object CreateOrReplace extends Mode("CREATE OR REPLACE TABLE")
}

/** The staged side of [[GraftCatalog]]'s `StagingTableCatalog`: Spark's
  * atomic CTAS / RTAS execs write the query through this handle (the
  * same [[V1Write]] fallback the live table uses — the analyzer injects
  * `CheckInvariant`s from [[constraints]] over the incoming plan, so
  * inline CHECKs are enforced on the CTAS/RTAS rows themselves) and then
  * call [[commitStagedChanges]]. Nothing touches the warehouse before
  * that point: the "write" only captures the analyzed plan, and the
  * publish is one [[Snapshots.commit]] — whose temp-stage + atomic-
  * rename + version-claim protocol is the durability story. A failing
  * query therefore aborts with the table unchanged (REPLACE) or absent
  * (CREATE), and REPLACE keeps every prior version readable via
  * `VERSION AS OF` — the lakehouse replace (one rewrite commit), not a
  * drop-and-recreate.
  */
private[graft] class GraftStagedTable(catalog: GraftCatalog,
    ident: Identifier, declaredSchema: StructType,
    checks: Seq[org.apache.spark.sql.connector.catalog.constraints.Check],
    mode: GraftStagedTable.Mode,
    clusterCols: Seq[String] = Seq.empty)
    extends Table with SupportsWrite with StagedTable {

  import GraftStagedTable._

  @volatile private var stagedPlan
      : Option[org.apache.spark.sql.DataFrame] = None

  private def spark = SparkSession.active

  override def name(): String =
    (catalog.name +: ident.namespace.toSeq :+ ident.name).mkString(".")

  override def schema(): StructType = declaredSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    checks.toArray

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS plans OverwriteByExpression(true) over the staged handle;
      // the distinction is moot here — the staged rows ARE the table
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                ovr: Boolean): Unit = {
              // capture only — the job runs inside commitStagedChanges,
              // so a failure there leaves the table untouched
              stagedPlan = Some(data)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val dir = catalog.tableDir(ident)
    val exists = catalog.tableExists(ident)
    mode match {
      case Create if exists =>
        throw new TableAlreadyExistsException(ident)
      case Replace if !exists =>
        throw new NoSuchTableException(ident)
      case _ =>
    }
    def clustered(df: org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Seq[String],
           Seq[(String, String, String)]) =
      GraftCatalog.clusterFor(df, clusterCols)
    if (!exists) {
      stagedPlan match {
        case Some(df0) =>
          // data FIRST: until the commit publishes v1 there is no
          // table-marking file at all, so a failing CTAS query leaves
          // nothing behind (the non-staging exec's empty-husk bug).
          // The _SCHEMA marker lands AFTER the publish: it keeps the
          // table catalog-visible even if vacuum later reclaims v1's
          // manifest (isTable also accepts any manifest, so this is
          // redundancy, not a dependency)
          val (df, stats, virt) = clustered(df0)
          Snapshots.commit(spark, dir, df, append = false,
            statsCols = stats, statsExprs = virt)
          val f = new Path(dir).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val o = f.create(new Path(dir, "_SCHEMA"), true)
          try o.write(df.schema.json.getBytes("UTF-8")) finally o.close()
          GraftCatalog.writeClusterCols(spark, dir, clusterCols)
        case None =>
          // data-less staged create (CREATE OR REPLACE without AS):
          // the same side-file layout CREATE TABLE writes
          catalog.createTable(ident, declaredSchema,
            Array.empty[Transform], new util.HashMap[String, String])
          GraftCatalog.writeClusterCols(spark, dir, clusterCols)
      }
      if (checks.nonEmpty) GraftConstraints.write(spark, dir, checks)
    } else {
      // REPLACE: one overwrite commit under the NEW schema — prior
      // versions keep their own schema and stay readable (evolution
      // metadata is per-manifest, so the schemas need not be related);
      // a data-less REPLACE TABLE publishes an empty vintage
      val df0 = stagedPlan.getOrElse(spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.Row], 1), declaredSchema))
      val (df, stats, virt) = clustered(df0)
      Snapshots.commit(spark, dir, df, append = false,
        statsCols = stats, statsExprs = virt)
      // the REPLACE's declaration supersedes the old clustering too
      GraftCatalog.writeClusterCols(spark, dir, clusterCols)
      // the new definition replaces the old one's constraints wholesale
      GraftConstraints.write(spark, dir, checks)
    }
  }

  override def abortStagedChanges(): Unit = {
    stagedPlan = None
    // a failed staged CREATE may leave commit scratch (a claim file,
    // staged parts) in a directory that never became a table — remove
    // it so the failed DDL is traceless; an EXISTING table (the
    // replace paths) is never touched
    if (mode != Replace && !catalog.tableExists(ident)) {
      val p = new Path(catalog.tableDir(ident))
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
    }
  }

  override def toString: String = s"GraftStagedTable(${name()}, $mode)"
}
