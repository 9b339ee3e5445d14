package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftBatchView, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

/** The analyzer rules behind the `graft` SQL catalog (injected by
  * `graft.GraftExtensions` as a post-hoc resolution rule):
  *
  *  1. ROW-LEVEL DML routing — `DELETE FROM` / `UPDATE` / `MERGE INTO`
  *     over a [[SnapshotTableV2]] lower onto the snapshot verbs
  *     ([[Snapshots.deleteWhere]] / [[Snapshots.updateWhere]] /
  *     [[Snapshots.upsert]]-shaped [[Snapshots.applyCdc]]), so SQL
  *     mutations publish the SAME versions the Scala API would
  *     (GraftCatalogSpec pins byte-identical manifests). Spark's own
  *     row-level machinery only engages for SupportsRowLevelOperations
  *     tables (RewriteUpdateTable et al. skip everything else), so these
  *     nodes reach the post-hoc batch intact.
  *  2. SCAN rewrite — a [[DataSourceV2Relation]] over a snapshot table
  *     becomes the f29 [[org.apache.spark.sql.execution.datasources
  *     .HadoopFsRelation]] (Spark's vectorized parquet + stats-pruning
  *     FileIndex + DV/evolution reads), reusing the relation's own
  *     output attributes so references above stay bound. The same
  *     Delta-lake shape: DSv2 for naming, V1 file scan for execution.
  *
  * The rule transforms TOP-DOWN: a DML node is absorbed into its command
  * (which captures the still-V2 target relation) before the scan case
  * could rewrite the relation under it.
  */
/** Streaming resolution for catalog-named snapshot tables:
  * `spark.readStream.table("graft.db.t")` (and `STREAM graft.db.t` in
  * SQL) resolves to a [[org.apache.spark.sql.catalyst.streaming
  * .StreamingRelationV2]] over a [[SnapshotTableV2]], which carries no
  * V2 MicroBatchStream — this rule lowers it onto the SAME V1 streaming
  * source `readStream.format("graft-snapshots")` uses
  * ([[SnapshotStreamSource]] / [[SnapshotChangeFeedSource]]), reader
  * options (`startingVersion`, `readChangeFeed`, `ignoreChanges`,
  * `maxVersionsPerTrigger`, …) passing through. The Delta architecture
  * again: the catalog resolves the NAME, the format's source streams.
  *
  * Injected into the MAIN resolution batch (not post-hoc) because
  * `readChangeFeed=true` widens the schema (`_change_type`,
  * `_commit_version`, `_commit_timestamp`): downstream attribute
  * resolution must see the V1 node's output, and post-hoc runs only
  * after resolution reaches its fixed point. The plain-read case pins
  * the V2 relation's attribute identities so already-bound references
  * survive either way.
  */
case class GraftStreamingRules(session: SparkSession)
    extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case s: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
        if s.table.isInstanceOf[SnapshotTableV2] =>
      val t = s.table.asInstanceOf[SnapshotTableV2]
      require(t.pinnedVersion.isEmpty,
        "graft catalog: streaming reads take a startingVersion option, " +
          "not VERSION/TIMESTAMP AS OF")
      import scala.jdk.CollectionConverters._
      // a t@branch handle streams the branch's line via the source's
      // own branch option; combining it with an explicit option("branch")
      // would make one silently win — refuse instead
      val opts0 = s.extraOptions.asCaseSensitiveMap.asScala.toMap
      t.branchRef.foreach { _ =>
        require(!opts0.keys.exists(_.equalsIgnoreCase("branch")),
          "graft catalog: t@branch addressing and the branch reader " +
            "option are exclusive")
      }
      val opts = opts0 + ("path" -> t.dir) ++
        t.branchRef.map("branch" -> _)
      val cdf = opts.exists { case (k, v) =>
        k.equalsIgnoreCase("readChangeFeed") && v.toBoolean }
      GraftBatchView.v1StreamingRelation(session, "graft-snapshots", opts,
        // CDF widens the schema — fresh output; plain reads keep the
        // resolved identities
        if (cdf) Nil
        else s.output.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference]))
  }
}

case class GraftSqlRules(session: SparkSession) extends Rule[LogicalPlan] {

  import GraftSql._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case d: DeleteFromTable if d.resolved =>
      snapTarget(d.table) match {
        case Some((t, _)) =>
          GraftDeleteCommand(t.dir, new GraftSql.Captured(d.condition),
            t.branchRef)
        case None => d
      }
    case u: UpdateTable if u.resolved =>
      snapTarget(u.table) match {
        case Some((t, _)) =>
          // names + identity filtering are pure expression analysis, so
          // they run here; the VALUES are wrapped opaque (Captured) —
          // like conditions, they may carry correlated subqueries that
          // CheckAnalysis only tolerates inside Spark's own DML nodes,
          // and they re-bind against the claim-time scan inside run()
          val sets = u.assignments.map { a =>
            (a.key match {
              case attr: AttributeReference => attr.name
              case other => throw new UnsupportedOperationException(
                s"graft catalog: UPDATE of a nested field ($other) is " +
                  "not supported")
            }) -> a.value
          }
          // identity assignments (alignment fills unset columns with the
          // column itself) are dropped: they neither change rows nor
          // need the cast-back projection
          val effective = sets.filterNot {
            case (n, v: AttributeReference) => v.name == n
            case _ => false
          }
          GraftUpdateCommand(t.dir,
            (if (effective.nonEmpty) effective else sets).map {
              case (n, e) => n -> new GraftSql.Captured(e)
            },
            u.condition.map(new GraftSql.Captured(_)), t.branchRef)
        case None => u
      }
    case acc: AddCheckConstraint if acc.childrenResolved &&
        acc.child.exists {
          case r: DataSourceV2Relation =>
            r.table.isInstanceOf[SnapshotTableV2]
          case _ => false
        } =>
      // Spark's own AddCheckConstraintExec strategy requires the
      // validation child to still be a DSv2 scan — which this rule set
      // deliberately rewrites to the V1 relation. Absorb the node into
      // a command that validates the EXISTING rows itself (same
      // semantics: any row violating the new predicate fails the DDL)
      // and then hands the TableChange to the catalog.
      val (cat, ident) = acc.child.collectFirst {
        case r: DataSourceV2Relation
            if r.table.isInstanceOf[SnapshotTableV2] =>
          (r.catalog, r.identifier)
      }.get
      GraftAddCheckConstraintCommand(
        cat.getOrElse(throw new IllegalStateException(
            "ADD CONSTRAINT: relation has no catalog"))
          .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog],
        ident.getOrElse(throw new IllegalStateException(
          "ADD CONSTRAINT: relation has no identifier")),
        acc.child, acc.checkConstraint)
    case m: MergeIntoTable if m.resolved =>
      snapTarget(m.targetTable) match {
        case Some((t, rel)) =>
          noSubquery(m.mergeCondition, "MERGE ON")
          GraftMergeCommand(t.dir, rel, m.sourceTable, m.mergeCondition,
            new GraftSql.CapturedClauses(m.matchedActions,
              m.notMatchedActions, m.notMatchedBySourceActions))
        case None => m
      }
    // metadata-only COUNT: a bare `SELECT count(*) [AS …] FROM t` folds
    // to the manifest's parquet-footer row counts minus its deletion
    // vectors' cardinalities (Snapshots.metadataRowCount) — zero Spark
    // jobs, zero bytes of data read, at ANY table size. Only
    // row-count-preserving shapes qualify: no grouping, no filter
    // (neither WHERE nor a FILTER clause), no DISTINCT, every aggregate
    // a count of a non-null constant.
    case agg @ Aggregate(Nil, exprs, child, _) if agg.resolved &&
        exprs.nonEmpty && exprs.forall(GraftSql.isCountStar) =>
      GraftSql.countTarget(child) match {
        case Some(t) =>
          val v = t.resolveVersion(session)
          val cnt =
            if (v < 1) 0L
            else Snapshots.metadataRowCount(session, t.dir, v)
          LocalRelation(
            agg.output.map(_.asInstanceOf[AttributeReference]),
            Seq(org.apache.spark.sql.catalyst.InternalRow(
              exprs.map(_ => cnt): _*)))
        case None => agg
      }
    case r: DataSourceV2Relation
        if r.table.isInstanceOf[SnapshotTableV2] =>
      v1Scan(session, GraftSql.withReaderOptions(session,
        r.table.asInstanceOf[SnapshotTableV2], r.options), r)
  }
}

private[graft] object GraftSql {

  /** Spec observability: rows affected by the last DML command. */
  @volatile private[graft] var lastRowsAffected: Long = -1L

  /** The snapshot table under a DML target (aliases stripped), plus the
    * relation itself (whose output attributes the captured condition /
    * assignment expressions are bound to). */
  private[sources] def snapTarget(plan: LogicalPlan)
      : Option[(SnapshotTableV2, DataSourceV2Relation)] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation =>
        r.table match {
          case t: SnapshotTableV2 => Some((t, r))
          case _ => None
        }
      case _ => None
    }

  private[sources] def noSubquery(e: Expression, verb: String): Unit =
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft catalog: $verb with a subquery in a condition or " +
        "assignment is not supported; materialize the subquery first")

  /** Opaque expression holder: keeps a captured DML condition out of
    * the command node's `expressions`, so CheckAnalysis does not reject
    * IN/EXISTS subqueries hosted by a custom command (they are only
    * allowed inside Spark's own DML nodes). Visibility buys nothing
    * here — the condition re-binds by NAME inside run(). */
  private[graft] final class Captured(val e: Expression)
      extends Serializable

  /** The three MERGE clause lists, opaque for the same reason as
    * [[Captured]]: MergeAction extends Expression, so clause conditions
    * or assignment values carrying subqueries would otherwise surface in
    * the command's `expressions` and fail CheckAnalysis's
    * subquery-placement check. The expressions stay RESOLVED against the
    * captured target/source attributes, which the run()-built frames
    * reuse — only the subquery PLANS need lowering at run time. */
  private[graft] final class CapturedClauses(
      val matched: Seq[MergeAction],
      val notMatched: Seq[MergeAction],
      val bySource: Seq[MergeAction]) extends Serializable

  /** Re-bind a captured DML condition against the CLAIM-TIME scan's
    * own resolved attributes — the correlated-subquery-capable twin of
    * [[byName]]. Outer attribute references (in the condition itself
    * AND as a subquery's outer-attribute children) map by name onto
    * `df`'s output; each subquery PLAN is lowered through
    * [[GraftSqlRules]] (so an inner snapshot table reads through the
    * same V1 relation a SELECT plans) with its [[OuterReference]]
    * targets remapped the same way. Everything stays RESOLVED, so an
    * `EXISTS (… WHERE s.id = t.id)` cannot mis-bind `t.id` to a
    * same-named inner column the way a name-based re-binding would —
    * the analyzer accepts the filter as-is and the optimizer
    * decorrelates it into the usual semi/anti-join. */
  private[sources] def rebind(spark: SparkSession, e: Expression,
      df: DataFrame): Column = {
    import org.apache.spark.sql.catalyst.expressions.OuterReference
    val fresh = df.queryExecution.analyzed.output
      .map(a => a.name -> a).toMap
    def freshFor(a: AttributeReference)
        : org.apache.spark.sql.catalyst.expressions.Attribute =
      fresh.getOrElse(a.name, throw new IllegalStateException(
        s"graft catalog: DML condition references column ${a.name}, " +
          "absent from the target scan"))
    GraftBatchView.exprColumn(e.transform {
      case s: SubqueryExpression =>
        val lowered = GraftSqlRules(spark).apply(s.plan)
        s.withNewPlan(lowered.transformAllExpressions {
          case OuterReference(a: AttributeReference)
              if fresh.contains(a.name) => OuterReference(freshFor(a))
        })
      case a: AttributeReference if fresh.contains(a.name) => freshFor(a)
    })
  }

  /** Honor `spark.read.option(...).table("graft.db.t")` reader options
    * on a catalog scan. Spark resolves `versionAsOf`/`timestampAsOf`
    * NATIVELY through the TableCatalog time-travel hooks (the handle
    * arrives here already pinned), so those pass through; `branch` is
    * not a Spark concept and would be SILENTLY dropped by the scan
    * rewrite (reading main's head instead of the branch) — it pins the
    * handle to the ref here. `readChangeFeed` is refused with the
    * working entry points. */
  private[sources] def withReaderOptions(session: SparkSession,
      t: SnapshotTableV2,
      opts: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : SnapshotTableV2 = {
    if (opts.isEmpty) return t
    require(!opts.containsKey("readchangefeed") ||
        !opts.get("readchangefeed").toBoolean,
      "graft catalog: readChangeFeed is not a batch .table() option — " +
        "use CALL graft.system.changes(...) (rows, driver-capped), " +
        "CALL graft.system.change_view(...) (lazy view at any size), " +
        "spark.readStream.option(\"readChangeFeed\", true).table(...), " +
        "or the graft-snapshots format reader on the table directory")
    Option(opts.get("branch")) match {
      case None => t
      case Some(name) =>
        require(!opts.containsKey("versionasof") &&
            !opts.containsKey("timestampasof") &&
            t.pinnedVersion.isEmpty && t.branchRef.isEmpty,
          "graft catalog: the branch reader option and VERSION/" +
            "TIMESTAMP AS OF pins / t@branch addressing are exclusive")
        new SnapshotTableV2(t.dir, t.fullName,
          pinnedVersion = Some(Snapshots.refVersion(session, t.dir, name)))
    }
  }

  /** Version `v` of the table as the f29 V1 relation, bound to the V2
    * relation's own output attributes. An empty (freshly created,
    * never-committed) table reads as zero rows of its declared schema. */
  private[sources] def v1Scan(session: SparkSession, t: SnapshotTableV2,
      r: DataSourceV2Relation): LogicalPlan =
    v1ScanAt(session, t, r, t.resolveVersion(session))

  /** [[v1Scan]] at an explicit resolved version, optionally restricted
    * to a manifest-path subset (the MERGE join scans prune by key
    * stats; both scans of one MERGE must read the SAME version, so the
    * caller resolves once). The subset scan binds the same output
    * attributes — expressions resolved against the full scan stay
    * valid against it. */
  private[sources] def v1ScanAt(session: SparkSession, t: SnapshotTableV2,
      r: DataSourceV2Relation, v: Int,
      fileSubset: Option[Set[String]] = None): LogicalPlan = {
    val output = r.output.map(_.asInstanceOf[AttributeReference])
    if (v < 1) LocalRelation(output)
    else {
      val rel = SnapshotSource.versionRelation(session, t.dir, v,
        fileSubset = fileSubset)
      // the relation's schema must line up POSITIONALLY with the output
      // attributes resolution produced (a commit racing between resolve
      // and plan could evolve it) — misalignment would misread columns
      require(rel.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        output.map(a => (a.name, a.dataType)),
        s"graft catalog: the resolved schema of ${t.fullName} does not " +
          "match the scanned version's (a commit racing analysis, or a " +
          "reader-option pin onto a version with a different schema — " +
          "SQL VERSION AS OF resolves the pinned schema); re-run the " +
          "query or use the SQL time-travel syntax")
      LogicalRelation(rel, output, None, false, None)
    }
  }

  /** Expression → Column resolvable by NAME against a fresh scan of the
    * same table (the single-table DML path: deleteWhere/updateWhere
    * build their own scan, so attribute identities cannot carry over).
    * With `session`, subquery PLANS inside the expression are lowered
    * through [[GraftSqlRules]] first, so a snapshot table referenced in
    * an `IN (SELECT …)` reads through the same V1 relation a SELECT
    * plans (the expression transform does not descend into subquery
    * plans, so inner attribute bindings are untouched). */
  private[sources] def byName(e: Expression,
      session: Option[SparkSession] = None): Column =
    GraftBatchView.exprColumn(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
      case s: SubqueryExpression if session.isDefined =>
        s.withNewPlan(GraftSqlRules(session.get).apply(s.plan))
    })

  private[sources] def splitConjuncts(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
      case other => Seq(other)
    }

  /** `count(*)` / `count(<non-null constant>)` without DISTINCT or a
    * FILTER clause — the only aggregate the metadata count may answer. */
  private[sources] def isCountStar(ne: NamedExpression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
    def check(e: Expression): Boolean = e match {
      case Alias(c, _) => check(c)
      case AggregateExpression(Count(children), _, false, None, _) =>
        children.forall(c => c.foldable && c.eval() != null)
      case _ => false
    }
    check(ne)
  }

  /** Empty-rewrite the table (TRUNCATE / DELETE-all): ONE metadata-
    * sized commit under the current evolved schema — no data read, no
    * deletion vector, prior versions stay time-travelable. With
    * `branch`, the rewrite lands on the named branch (its head supplies
    * the schema). Returns the replaced version's row count (from
    * parquet footers, counted AFTER the publish so a racing commit
    * cannot skew it). */
  private[sources] def truncateTable(spark: SparkSession,
      dir: String, branch: Option[String] = None): Long = {
    val head = branch
      .map(n => Snapshots.refVersion(spark, dir, n))
      .getOrElse(Snapshots.mainVersion(spark, dir))
    if (head < 1) return 0L
    val schema = Snapshots.evolvedSchema(spark, dir, head)
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq.empty[org.apache.spark.sql.Row], 1), schema)
    val v = branch match {
      case Some(n) =>
        Snapshots.commitOnBranch(spark, dir, n, empty, append = false)
      case None => Snapshots.commit(spark, dir, empty, append = false)
    }
    val replaced = Snapshots.parentsOf(spark, dir, v).headOption
    replaced.map(Snapshots.metadataRowCount(spark, dir, _)).getOrElse(0L)
  }

  /** The snapshot table under a row-count-preserving operator chain
    * (aliases and projections never change the row count; anything
    * else — a Filter, a Join, a Generate — disqualifies). */
  private[sources] def countTarget(plan: LogicalPlan)
      : Option[SnapshotTableV2] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: SnapshotTableV2 => Some(t)
      case _ => None
    }
    case p: Project => countTarget(p.child)
    case a: SubqueryAlias => countTarget(a.child)
    case _ => None
  }
}

/** `DELETE FROM graft.db.t WHERE cond` → [[Snapshots.deleteWhere]]: a
  * merge-on-read delete publishing one version (positions into the
  * deletion vector, no file rewrites), identical to the Scala call. On
  * a `t@branch` target the delete bases on and advances the branch. */
private[graft] case class GraftDeleteCommand(dir: String,
    condition: GraftSql.Captured, branch: Option[String] = None)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = condition.e
    // DELETE without WHERE (or with a constant-true predicate): a
    // merge-on-read delete would write a deletion-vector POSITION FOR
    // EVERY ROW — at 100 TB, a full-table scan plus a table-sized
    // vector. Publish one EMPTY REWRITE commit instead: zero data
    // reads, zero data writes, history stays time-travelable, and the
    // metric comes from the replaced version's parquet footers.
    val truncates = cond.foldable &&
      Option(cond.eval()).contains(true)
    val n: Long =
      if (truncates) GraftSql.truncateTable(spark, dir, branch)
      else Snapshots.deleteWhereBound(spark, dir,
        df => GraftSql.rebind(spark, cond, df), branch)._2
    GraftSql.lastRowsAffected = n
    Seq.empty
  }
}

/** `ALTER TABLE … ADD CONSTRAINT name CHECK (expr)` over a snapshot
  * table: validates every EXISTING row against the predicate (one scan
  * through the same V1 relation a SELECT plans — stats pruning and DV
  * reads included), then persists the constraint through the catalog.
  * Replaces Spark's `AddCheckConstraintExec`, whose strategy requires a
  * DSv2 scan child that [[GraftSqlRules]] has already rewritten away. */
private[graft] case class GraftAddCheckConstraintCommand(
    catalog: org.apache.spark.sql.connector.catalog.TableCatalog,
    ident: org.apache.spark.sql.connector.catalog.Identifier,
    validation: LogicalPlan,
    check: org.apache.spark.sql.catalyst.expressions.CheckConstraint)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val v2c = check.toV2Constraint
    val df = GraftBatchView.ofRows(spark,
      GraftSqlRules(spark).apply(validation))
    val bad = df
      .filter(GraftBatchView.exprColumn(check.child) <=> lit(false))
      .limit(1).collect()
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"graft catalog: cannot ADD CONSTRAINT ${v2c.name}: existing " +
        s"rows violate CHECK (${check.condition}) — example: " +
        bad.head.toString)
    catalog.alterTable(ident,
      org.apache.spark.sql.connector.catalog.TableChange.addConstraint(
        v2c, null))
    Seq.empty
  }
}

/** `UPDATE graft.db.t SET … WHERE …` → [[Snapshots.updateWhere]]: one
  * version, matched positions into the deletion vector, updated rows as
  * fresh appended files. Assignment values and the condition both
  * re-bind against the claim-time scan ([[GraftSql.rebind]]), so either
  * may carry correlated `(SELECT …)` subqueries — the optimizer
  * decorrelates them into the usual joins over the matched rows. */
private[graft] case class GraftUpdateCommand(dir: String,
    sets: Seq[(String, GraftSql.Captured)],
    condition: Option[GraftSql.Captured],
    branch: Option[String] = None)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    // CHECK constraints: the custom routing bypasses Spark's V2 write
    // analysis, so updateWhere validates the would-be-written rows via
    // this hook — INSIDE its version claim, on the exact cast-back
    // projection it stages (a pre-claim check could pass values whose
    // cast violates, or miss rows a concurrent commit adds)
    val hook: Option[org.apache.spark.sql.DataFrame => Unit] =
      if (GraftConstraints.read(spark, dir).exists(_.enforced))
        Some(df => GraftConstraints.enforce(spark, dir, df, "UPDATE"))
      else None
    val (_, n) = Snapshots.updateWhereBound(spark, dir,
      df => condition.map(c => GraftSql.rebind(spark, c.e, df))
        .getOrElse(lit(true)),
      df => sets.map { case (nm, c) =>
        nm -> GraftSql.rebind(spark, c.e, df) },
      hook, statsColsOf = Snapshots.defaultStatsCols, branch = branch)
    GraftSql.lastRowsAffected = n
    Seq.empty
  }
}

/** `MERGE INTO graft.db.t USING src ON cond WHEN …` → one
  * [[Snapshots.applyCdc]] commit (update + insert + delete in one
  * published version — the same mechanics as [[Snapshots.upsert]]).
  *
  * Supported shape (refused otherwise, with guidance):
  *   - ON: a conjunction with AT LEAST ONE equality between a target
  *     column and a source-side expression (those target columns become
  *     the merge KEYS); any other conjunct (`s.ts > t.ts`, BETWEEN, …)
  *     is a RESIDUAL predicate the joins evaluate as part of the full
  *     ON condition — a matched-but-residual-failed pair is NOT MATCHED,
  *     the SQL semantics. Residual shapes run under the removal AUDIT
  *     (below): a MERGE whose by-key commit would touch live rows no
  *     clause accepted refuses instead of silently removing them;
  *   - WHEN MATCHED [AND cond]: any number of `UPDATE SET …` / `DELETE`
  *     clauses, evaluated IN ORDER per matched row — the first clause
  *     whose condition holds applies (SQL MERGE semantics); a row no
  *     clause accepts is untouched;
  *   - WHEN NOT MATCHED [AND cond]: any number of `INSERT …` clauses,
  *     first match wins;
  *   - WHEN NOT MATCHED BY SOURCE [AND cond]: `UPDATE SET …` / `DELETE`
  *     clauses over target rows no source row matched, first match wins.
  * Assignment and condition expressions may reference BOTH sides for
  * matched clauses (computed over the matched join before the commit)
  * and may carry scalar/IN/EXISTS subqueries — including correlated
  * per-row lookups — lowered and decorrelated like f41/f47's; only the
  * ON condition itself stays subquery-free (it is a join condition).
  *
  * Clause routing is ONE projection per joined frame: a `_graft_clause`
  * column picks the first applicable clause index (a when/otherwise
  * chain), and each clause filters on its index — so the matched join,
  * the not-matched anti-join, and the by-source anti-join are each
  * computed once (persisted when multiple clauses consume them), never
  * once per clause. Cost at 100 TB: the matched and not-matched joins
  * scan only the KEY-STAT-OVERLAPPING target files (join-scan pruning,
  * one aggregation job over the source keys), the by-source sweep — when
  * declared — scans the live set it must, plus the size of the change
  * set. */
private[graft] case class GraftMergeCommand(dir: String,
    target: DataSourceV2Relation, source: LogicalPlan,
    mergeCondition: Expression, clauses: GraftSql.CapturedClauses)
    extends LeafRunnableCommand {

  import GraftSql._

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog: MERGE INTO supports [conditional] WHEN MATCHED " +
        "UPDATE SET/DELETE clauses, WHEN NOT MATCHED INSERT clauses, " +
        "and WHEN NOT MATCHED BY SOURCE UPDATE SET/DELETE clauses, " +
        s"with an equality ON condition; got: $what")

  /** Name of the clause-routing column — prefixed to stay clear of any
    * user column in the joined frames. */
  private val ClauseCol = "_graft_merge_clause"

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, when}
    val t = target.table.asInstanceOf[SnapshotTableV2]

    // clause conditions and assignment values may carry subqueries
    // (opaque to CheckAnalysis via CapturedClauses); their PLANS lower
    // through the rule set here, so an inner snapshot table reads
    // through the same V1 relation a SELECT plans. The expressions
    // themselves stay bound to the captured target/source attributes,
    // which every frame below reuses — no re-binding needed, and the
    // optimizer decorrelates per-row lookups into the usual joins.
    def lowerSubq(e: Expression): Expression = e.transform {
      case sq: SubqueryExpression =>
        sq.withNewPlan(GraftSqlRules(spark).apply(sq.plan))
    }
    def lowerAction(a: MergeAction): MergeAction = a match {
      case u @ UpdateAction(c, assigns, _) =>
        u.copy(condition = c.map(lowerSubq),
          assignments = assigns.map(x =>
            x.copy(value = lowerSubq(x.value))))
      case del @ DeleteAction(c) =>
        del.copy(condition = c.map(lowerSubq))
      case i @ InsertAction(c, assigns) =>
        i.copy(condition = c.map(lowerSubq),
          assignments = assigns.map(x =>
            x.copy(value = lowerSubq(x.value))))
      case other => other
    }
    val matchedActions = clauses.matched.map(lowerAction)
    val notMatchedActions = clauses.notMatched.map(lowerAction)
    val notMatchedBySourceActions = clauses.bySource.map(lowerAction)

    val tgtAttrs = target.output.map(_.asInstanceOf[AttributeReference])
    val tgtIds = tgtAttrs.map(_.exprId).toSet
    // merge keys: ON conjuncts equating one target column with a
    // source-side expression. Conjuncts of any OTHER shape (inequalities,
    // BETWEEN, arbitrary predicates) are RESIDUALS: the three joins below
    // evaluate the FULL ON condition, so matching semantics stay exact —
    // but the by-key commit needs at least one equi key to locate
    // replaced positions, and residuals force the removal AUDIT (a
    // residual-failed row shares its key with a routed row, so the
    // by-key delete could otherwise overreach silently).
    val conjuncts = splitConjuncts(mergeCondition)
    def keyOf(c: Expression): Option[String] = c match {
      case EqualTo(a: AttributeReference, other)
          if tgtIds.contains(a.exprId) &&
            !other.exists { case x: AttributeReference =>
              tgtIds.contains(x.exprId); case _ => false } => Some(a.name)
      case EqualTo(other, a: AttributeReference)
          if tgtIds.contains(a.exprId) &&
            !other.exists { case x: AttributeReference =>
              tgtIds.contains(x.exprId); case _ => false } => Some(a.name)
      case _ => None
    }
    val keyCols: Seq[String] = conjuncts.flatMap(keyOf(_)).distinct
    val residual: Seq[Expression] = conjuncts.filter(keyOf(_).isEmpty)
    // THETA-ONLY MERGE: no equality conjunct means no key space can
    // address the matched rows — they are addressed by POSITION instead
    // (`_metadata` file/row, the deletion-vector coordinates), committed
    // through Snapshots.applyPositional. The joins and first-match-wins
    // clause routing below are IDENTICAL; only the delete frames carry
    // positions instead of keys, updates contribute their own positions
    // (no key re-appearance can pair them), and the removal audit is
    // always armed (a duplicate-matched target row is SQL's
    // non-deterministic MERGE — refused, nothing published). No key
    // pruning exists without keys: the matched join costs whatever the
    // theta condition costs — the nature of the operator, priced the
    // same in Delta's full-join fallback.
    val thetaOnly = keyCols.isEmpty
    // the SOURCE-side expression each key column equates with — the
    // key frame the join-scan pruning aggregates (one per key; a key
    // equated twice uses the first conjunct's expression)
    val srcKeyExpr: Map[String, Expression] =
      conjuncts.flatMap(c => keyOf(c).map(_ -> c)).collect {
        case (k, EqualTo(a: AttributeReference, other))
            if tgtIds.contains(a.exprId) => k -> other
        case (k, EqualTo(other, a: AttributeReference))
            if tgtIds.contains(a.exprId) => k -> other
      }.groupBy(_._1).map { case (k, xs) => k -> xs.head._2 }

    // frames bound to the ORIGINAL attribute ids, so the captured
    // condition/assignment expressions resolve as-is; the version is
    // resolved ONCE so the full and the pruned scan read the same head
    val headV = t.resolveVersion(spark)
    val tgtDF0 = GraftBatchView.ofRows(spark,
      v1ScanAt(spark, t, target, headV))
    // positional addressing for the theta path: withColumn keeps the
    // existing attributes' expr ids, so captured clause expressions
    // still resolve; the reader's deletion vectors guarantee every
    // surfaced position is LIVE. (A never-committed table has no file
    // scan to draw metadata from — and no live rows to address.)
    val PosFp = "_graft_pos_fp"
    val PosRi = "_graft_pos_ri"
    val tgtDF =
      if (!thetaOnly || headV < 1) tgtDF0
      else tgtDF0
        .withColumn(PosFp, col("_metadata.file_path"))
        .withColumn(PosRi, col("_metadata.row_index"))
    def positionsOf(df: DataFrame): DataFrame =
      if (headV < 1) Snapshots.emptyPositions(spark)
      else df.select(col(PosFp).as("file_path"),
        col(PosRi).as("row_index"))
    val srcDF = GraftBatchView.ofRows(spark,
      GraftSqlRules(spark).apply(source))
    val cond = GraftBatchView.exprColumn(mergeCondition)
    val types = tgtAttrs.map(a => a.name -> a.dataType).toMap
    val tgtAttrByName = tgtAttrs.map(a => a.name -> a).toMap
    // target-side key columns, resolvable by EXPRESSION ID inside any
    // frame derived from tgtDF (a by-name col() would be ambiguous once
    // the source carries same-named columns)
    def tgtKeys(df: DataFrame): DataFrame =
      df.select(keyCols.map(k =>
        GraftBatchView.exprColumn(tgtAttrByName(k)).as(k)): _*)

    def projected(df: DataFrame, assignments: Seq[Assignment],
        fallbackToTarget: Boolean): DataFrame = {
      val byKey: Map[String, Expression] = assignments.map { a =>
        (a.key match {
          case k: AttributeReference => k.name
          case other => unsupported(s"nested assignment target $other")
        }) -> a.value
      }.toMap
      df.select(tgtAttrs.map { a =>
        byKey.get(a.name) match {
          case Some(v) =>
            GraftBatchView.exprColumn(v).cast(types(a.name)).as(a.name)
          case None if fallbackToTarget =>
            GraftBatchView.exprColumn(a).as(a.name)
          case None =>
            lit(null).cast(types(a.name)).as(a.name)
        }
      }: _*)
    }

    // expressions the ON condition equates with each target key column:
    // the key attribute itself and its source-side counterpart — an
    // UPDATE assigning one of these back is a value-identity (the
    // `UPDATE SET *` expansion), anything else CHANGES the key
    val keyIdentities: Map[String, Seq[Expression]] =
      splitConjuncts(mergeCondition).collect {
        case EqualTo(a: AttributeReference, other)
            if tgtIds.contains(a.exprId) => a.name -> Seq(a, other)
        case EqualTo(other, a: AttributeReference)
            if tgtIds.contains(a.exprId) => a.name -> Seq(a, other)
      }.groupBy(_._1).map { case (n, xs) => n -> xs.flatMap(_._2) }

    // a key-CHANGING update would make applyCdc delete live rows by the
    // NEW key (semi-join on the projected keys) while the matched
    // old-key rows survive — refuse rather than corrupt. Value-identity
    // assignments (SET id = s.id under ON t.id = s.id, the `UPDATE SET
    // *` expansion) are harmless and allowed.
    def checkKeysImmutable(assigns: Seq[Assignment]): Unit =
      assigns.foreach { a =>
        a.key match {
          case k: AttributeReference if keyCols.contains(k.name) &&
              !keyIdentities.getOrElse(k.name, Nil)
                .exists(_.semanticEquals(a.value)) =>
            unsupported(s"UPDATE SET of merge-key column ${k.name} " +
              "(ON-condition keys are immutable under MERGE; " +
              "DELETE + INSERT the row instead)")
          case _ =>
        }
      }

    def condOf(a: MergeAction): Option[Expression] = a match {
      case UpdateAction(c, _, _) => c
      case DeleteAction(c) => c
      case InsertAction(c, _) => c
      case other => unsupported(other.toString)
    }

    // first-match-wins clause routing: the index of the first clause
    // whose condition holds (NULL conditions fall through, the SQL
    // three-valued rule), -1 = no clause applies, row untouched
    def withClause(df: DataFrame, actions: Seq[MergeAction]): DataFrame =
      df.withColumn(ClauseCol,
        actions.zipWithIndex.foldRight(lit(-1)) { case ((a, i), rest) =>
          condOf(a).map(e =>
            when(GraftBatchView.exprColumn(e), lit(i)).otherwise(rest))
            .getOrElse(lit(i))
        })

    // apply UPDATE/DELETE clause lists to a routed frame → (updated-row
    // frames, delete-key frames)
    def applyRowClauses(routed: DataFrame, actions: Seq[MergeAction])
        : (Seq[DataFrame], Seq[DataFrame]) = {
      val upd = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val del = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      actions.zipWithIndex.foreach {
        case (UpdateAction(_, assigns, _), i) =>
          checkKeysImmutable(assigns)
          val rows = routed.filter(col(ClauseCol) === i)
          upd += projected(rows, assigns, fallbackToTarget = true)
          // positional commits can't pair an update's replacement by
          // key re-appearance — the updated row's own position retires
          if (thetaOnly) del += positionsOf(rows)
        case (DeleteAction(_), i) =>
          val rows = routed.filter(col(ClauseCol) === i)
          del += (if (thetaOnly) positionsOf(rows) else tgtKeys(rows))
        case (other, _) => unsupported(other.toString)
      }
      (upd.toSeq, del.toSeq)
    }

    // REMOVAL AUDIT: applyCdc removes every live target row whose key
    // appears in the staged change set — exactly the routed rows when
    // the equi keys are row-identifying over the touched keys, but an
    // overreach when a residual-failed or clause-skipped row SHARES a
    // key with a staged one (the by-key delete would silently destroy
    // it), or a NOT MATCHED insert's key already lives in the target
    // (residual-failed match: the "insert" would silently replace).
    // Counting the routed rows and requiring the commit's removed-live
    // count to equal it turns every such overreach into a refusal. Only
    // shapes that can overreach pay for it: a residual in ON, or a
    // conditional MATCHED / BY SOURCE clause (which can skip one of two
    // same-key target rows); the plain equi-key unconditional MERGE is
    // audited for free by the existing staged-key uniqueness check.
    // a NOT MATCHED INSERT whose VALUES remap a merge-key column
    // (INSERT (id,…) VALUES (s.id + 1, …)) can stage a key that collides
    // with a LIVE target row the join never matched — applyCdc would
    // silently replace it where SQL semantics add a second row. Detect
    // the remap exactly as checkKeysImmutable does: an assignment to a
    // key column whose value is not semantically the ON condition's key
    // expression. (An insert that OMITS the key stages NULL, which the
    // equi-join can never collide with.)
    def insertRemapsKey(assigns: Seq[Assignment]): Boolean =
      assigns.exists { a =>
        a.key match {
          case k: AttributeReference if keyCols.contains(k.name) =>
            !keyIdentities.getOrElse(k.name, Nil)
              .exists(_.semanticEquals(a.value))
          case _ => false
        }
      }
    val needAudit = thetaOnly || residual.nonEmpty ||
      matchedActions.exists(condOf(_).isDefined) ||
      notMatchedBySourceActions.exists(condOf(_).isDefined) ||
      // key-remapping inserts can silently REPLACE live rows (above)
      notMatchedActions.exists {
        case InsertAction(_, assigns) => insertRemapsKey(assigns)
        case _ => false
      } ||
      // BY SOURCE clauses route null-keyed target rows that the by-key
      // equi-join can never remove or replace — an unconditional
      // BY SOURCE DELETE would silently leave them alive where SQL
      // deletes them. When the merge keys are nullable, audit the
      // routing so the under-delete refuses instead of diverging.
      (notMatchedBySourceActions.nonEmpty &&
        tgtAttrs.exists(a => keyCols.contains(a.name) && a.nullable))

    // the three joined frames, each computed ONCE; persisted when more
    // than one clause filters it (each clause is a filter-consumer, and
    // without the cache every clause would re-run the join's table scan)
    // or when the audit adds its count as an extra consumer
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def routedFrame(df: => DataFrame, actions: Seq[MergeAction])
        : Option[DataFrame] =
      if (actions.isEmpty) None
      else {
        val routed = withClause(df, actions)
        if (actions.size > 1 || needAudit) {
          routed.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached += routed
        }
        Some(routed)
      }

    // KEY-STAT JOIN PRUNING: the matched inner join and the
    // not-matched anti-join only care about target rows whose key a
    // source row equates with, so above a file-count floor the target
    // side scans ONLY the stat-overlapping files (one aggregation job
    // over the batch-sized source keys buys dropping the rest of a
    // 100 TB live set). The BY SOURCE anti-join keeps the FULL scan —
    // its result is exactly the rows without a source match. A dropped
    // file provably holds no equi-key match, so both pruned joins are
    // unchanged; the subset scan binds the same attributes.
    val joinTgtDF: DataFrame =
      if (thetaOnly || headV < 1 ||
          (matchedActions.isEmpty && notMatchedActions.isEmpty) ||
          Snapshots.files(spark, t.dir, headV).size <
            Snapshots.mergeJoinPruneMinFiles) tgtDF
      else {
        val srcKeys = srcDF.select(keyCols.map(k =>
          GraftBatchView.exprColumn(srcKeyExpr(k)).cast(types(k)).as(k))
          : _*)
        val (kept, total) = Snapshots.mergeJoinPrunedFiles(spark, t.dir,
          headV, keyCols, srcKeys)
        if (kept.size == total) tgtDF
        else GraftBatchView.ofRows(spark,
          v1ScanAt(spark, t, target, headV, Some(kept.toSet)))
      }

    try {
      val matched = routedFrame(
        joinTgtDF.join(srcDF, cond, "inner"), matchedActions)
      val bySource = routedFrame(
        tgtDF.join(srcDF, cond, "left_anti"), notMatchedBySourceActions)
      val notMatched = routedFrame(
        srcDF.join(joinTgtDF, cond, "left_anti"), notMatchedActions)

      val (mUpd, mDel) = matched.map(applyRowClauses(_, matchedActions))
        .getOrElse((Seq.empty, Seq.empty))
      val (sUpd, sDel) = bySource
        .map(applyRowClauses(_, notMatchedBySourceActions))
        .getOrElse((Seq.empty, Seq.empty))
      val inserts: Seq[DataFrame] = notMatched.toSeq.flatMap { routed =>
        notMatchedActions.zipWithIndex.map {
          case (InsertAction(_, assigns), i) =>
            projected(routed.filter(col(ClauseCol) === i), assigns,
              fallbackToTarget = false)
          case (other, _) => unsupported(other.toString)
        }
      }

      val upserts = (mUpd ++ sUpd ++ inserts)
        .reduceOption(_.unionByName(_))
      val deletes = (mDel ++ sDel).reduceOption(_.unionByName(_))
      // CHECK constraints over every row the MERGE would write (updates
      // AND inserts — neither passes through Spark's V2 write analysis)
      upserts.foreach(GraftConstraints.enforce(spark, dir, _, "MERGE"))
      val applied: Long =
        if (headV < 1) {
          // MERGE into a freshly created, never-committed table: nothing
          // can match, the accepted inserts are the first commit.
          // Persisted so the commit's write materializes the plan and
          // the metric count reads it back — ONE job over the source,
          // not a second anti-join scan (updateWhere's pattern).
          val first = inserts.reduceOption(_.unionByName(_)).getOrElse(
            return { GraftSql.lastRowsAffected = 0L; Seq.empty })
          first.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cached += first
          Snapshots.commit(spark, dir, first, append = false,
            statsCols = Snapshots.defaultStatsCols(first.schema))
          first.count()
        } else (upserts, deletes) match {
          case (None, None) => 0L
          case (up, del) if thetaOnly =>
            // positional commit: routed count == distinct removed
            // positions or the MERGE refuses (duplicate theta matches);
            // both counts read the persisted routed caches
            val nRouted: Long = (matched.toSeq ++ bySource.toSeq)
              .map(_.filter(col(ClauseCol) >= 0).count()).sum
            val appends = up.getOrElse(tgtDF0.limit(0))
            val nAppend = appends.count()
            if (nRouted == 0 && nAppend == 0) 0L // no-op: publish nothing
            else {
              val (_, nGone) = Snapshots.applyPositional(spark, dir,
                headV, del.getOrElse(Snapshots.emptyPositions(spark)),
                appends, expectedRemoved = nRouted,
                statsCols = Snapshots.defaultStatsCols(tgtDF0.schema),
                branch = t.branchRef)
              // affected = removed live rows + staged rows (the keyed
              // path's applyCdc contract)
              nGone + nAppend
            }
          case (up, del) =>
            val emptyKeys = tgtKeys(tgtDF).limit(0)
            // audit expectation: every row a MATCHED / BY SOURCE clause
            // routed is one live row the commit removes (its replacement
            // or deletion), and nothing else may be removed (counted
            // from the persisted routed frames — the staging below then
            // reads the same cache, so the audit costs its counts only)
            val nRouted: Option[Long] =
              if (!needAudit) None
              else Some((matched.toSeq ++ bySource.toSeq)
                .map(_.filter(col(ClauseCol) >= 0).count()).sum)
            try Snapshots.applyCdc(spark, dir,
              up.getOrElse(tgtDF.limit(0)),
              del.getOrElse(emptyKeys), keyCols,
              statsCols = Snapshots.defaultStatsCols(tgtDF.schema),
              expectedRemoved = nRouted, branch = t.branchRef)._2
            catch {
              // surface the cardinality violation in MERGE terms with
              // the offending keys, not applyCdc's internal invariant.
              // Diagnosis runs ONLY on the error path, so the happy
              // path pays no extra jobs for the check.
              case e: IllegalArgumentException
                  if e.getMessage != null &&
                    e.getMessage.contains("unique keys") =>
                throw cardinalityError(matched, up, tgtKeys, keyCols, e)
              case e: IllegalArgumentException
                  if e.getMessage != null &&
                    e.getMessage.contains("removal audit") =>
                throw new IllegalStateException(
                  "MERGE: the staged changes touch live target rows the " +
                    "clauses never accepted — the ON keys are not " +
                    "row-identifying over the touched keys (several live " +
                    "rows share a staged key and a residual ON conjunct " +
                    "or a clause condition skipped some, or a NOT " +
                    "MATCHED insert's key already exists in the target). " +
                    "The by-key commit would silently remove those rows; " +
                    "deduplicate the target on the ON keys, widen the " +
                    "clause conditions to cover every matched row, or " +
                    "route the conflicting source rows separately", e)
            }
        }
      GraftSql.lastRowsAffected = applied
      Seq.empty
    } finally cached.foreach { df => df.unpersist(); () }
  }

  /** The MERGE-level cardinality diagnostic: when the staged change set
    * carries duplicate keys, name the offending keys in MERGE terms —
    * "N source rows matched the same target row" when the matched join
    * holds a key more than once (the ANSI cardinality violation), else
    * duplicate keys across the staged updates/inserts (duplicate source
    * keys feeding INSERT clauses). Runs only after applyCdc refused, so
    * correctness-path MERGEs never pay for it. */
  private def cardinalityError(matched: Option[DataFrame],
      upserts: Option[DataFrame], tgtKeys: DataFrame => DataFrame,
      keyCols: Seq[String], cause: Exception): Exception = {
    import org.apache.spark.sql.functions.{col, count, lit}
    def dups(keys: DataFrame): Seq[Row] =
      keys.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_graft_n"))
        .filter(col("_graft_n") > 1).limit(3).collect().toSeq
    def render(r: Row): String = keyCols.zipWithIndex
      .map { case (k, i) => s"$k=${r.get(i)}" }.mkString("(", ", ", ")")
    val multiMatch = matched.map(m => dups(tgtKeys(m))).getOrElse(Seq.empty)
    if (multiMatch.nonEmpty) {
      val worst = multiMatch.head
      new IllegalStateException(
        s"MERGE: ${worst.getLong(keyCols.size)} source rows matched " +
          s"the target row with key ${render(worst)}" +
          (if (multiMatch.size > 1)
            s" (and ${multiMatch.tail.map(render).mkString(", ")})"
           else "") +
          " — each target row may be matched by at most one source " +
          "row; deduplicate the source on the ON keys first", cause)
    } else {
      val dupStaged = upserts.map(dups).getOrElse(Seq.empty)
      new IllegalStateException(
        "MERGE: the staged change set carries duplicate keys" +
          (if (dupStaged.nonEmpty)
            s" — e.g. ${dupStaged.map(render).mkString(", ")}"
           else "") +
          " (duplicate source keys reaching INSERT clauses, or a " +
          "target holding duplicate ON keys); deduplicate the source " +
          "on the ON keys first", cause)
    }
  }
}
