package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The one file-level stats-pruning rule of the snapshot-table format:
  * can a file whose recorded `vN.stats` bounds are [mn, mx] hold a row
  * that satisfies P? Every caller states P as [[Groups]] and asks
  * [[keep]]:
  *   - reads ([[SnapshotFileIndex.listFiles]], pushed data filters),
  *   - the change feed ([[SnapshotSource.changesBetween]], pushed source
  *     filters analyzed back to Catalyst),
  *   - [[Snapshots.readPruned]] (a key range),
  *   - positional DML (the DELETE/UPDATE/REPLACE WHERE condition),
  *   - the MERGE family's key sets and purge's tombstones ([[keyRows]]).
  * Pruning is strictly conservative: shapes the extractor does not know
  * constrain nothing, files without stats always survive, and a stat the
  * file's vintage does not carry admits everything. */
private[sources] object StatsPruning {

  /** A matching row's value of stat `prefix + col` lies in [lo, hi]
    * (None = unbounded). `col` is a canonical column name; `prefix`
    * names a virtual stat over it: `null:`/`nnull:` footer counts or a
    * cluster spec's derived value (`bucket:n:`, `trunc:n:`). `hashedAs`
    * marks a bucket id hashed at a numeric stats type: Murmur3 hashes
    * one value differently as an int and as a long (or a float and a
    * double), and ALTER COLUMN TYPE widens those in place, so the id
    * judges only files whose vintage recorded the column at that type. */
  final case class Atom(col: String, lo: Option[String], hi: Option[String],
      prefix: String = "", hashedAs: Option[String] = None)

  /** A condition in conjunctive form: every group must admit a file, and
    * a group admits it when SOME alternative admits every one of its
    * atoms (an empty group admits nothing). */
  type Groups = Seq[Seq[Seq[Atom]]]

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Past this many alternatives an AND under an OR keeps its smaller
    * side instead of distributing (a weaker bound, still sound). */
  private val MaxAlternatives = 1024

  /** A literal as the stats side-file renders its column: numbers and
    * strings as themselves, temporal values through Spark's own
    * cast-to-string under the SESSION time zone (what the commit-time
    * aggregate ran). None = unsupported type or null, never prunes. */
  def render(s: SparkSession, l: Literal): Option[String] =
    if (l.value == null) None
    else l.dataType match {
      case _: NumericType | StringType => Some(l.value.toString)
      case TimestampType | TimestampNTZType | DateType =>
        try Option(Cast(l, StringType,
            Some(s.sessionState.conf.sessionLocalTimeZone)).eval(null))
          .map(_.toString)
        catch { case NonFatal(_) => None }
      case _ => None
    }

  /** `lit op a` as `a op' lit`, and NOT over a comparison or null test
    * as its complement (`NOT (a < l)` matches only non-null a >= l — a
    * superset bound, still sound), so the extractor sees one shape. */
  private def normalize(e: Expression): Expression = e match {
    case EqualTo(l: Literal, a: AttributeReference) => EqualTo(a, l)
    case EqualNullSafe(l: Literal, a: AttributeReference) =>
      EqualNullSafe(a, l)
    case GreaterThan(l: Literal, a: AttributeReference) => LessThan(a, l)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      LessThanOrEqual(a, l)
    case LessThan(l: Literal, a: AttributeReference) => GreaterThan(a, l)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      GreaterThanOrEqual(a, l)
    case Not(c) => normalize(c) match {
      case LessThan(a, l) => GreaterThanOrEqual(a, l)
      case LessThanOrEqual(a, l) => GreaterThan(a, l)
      case GreaterThan(a, l) => LessThanOrEqual(a, l)
      case GreaterThanOrEqual(a, l) => LessThan(a, l)
      case IsNull(a) => IsNotNull(a)
      case IsNotNull(a) => IsNull(a)
      case _ => e
    }
    case other => other
  }

  /** The [[Groups]] a Catalyst condition implies (no job; the cluster
    * specs of the table at `dir` add bucket/truncate virtual stats). The
    * ANALYZED condition may still wear type-promotion casts around its
    * literals (`id = CAST(150 AS BIGINT)`), so every foldable subtree is
    * folded first. Each top-level conjunct gives one group of the
    * alternatives it implies: one per OR disjunct and per IN value, an
    * AND under an OR distributed; a conjunct with an unextractable
    * disjunct gives none (that disjunct admits all rows). */
  def groupsOf(s: SparkSession, dir: String, cond: Expression): Groups = {
    lazy val specs =
      GraftCatalog.parseClusterSpecs(GraftCatalog.clusterCols(s, dir))
    lazy val bucketOf = specs.collect {
      case b: GraftCatalog.BucketCluster => b.col -> b }.toMap
    lazy val truncOf = specs.collect {
      case t: GraftCatalog.TruncateCluster => t.col -> t }.toMap
    def virtual(spec: GraftCatalog.ClusterSpec) =
      spec.render.stripSuffix(spec.col)
    def lit(l: Literal) = render(s, l)
    // equality with `l`: the value, the bucket id the write's Murmur3
    // assigns it, and its truncate-transform value
    def point(a: AttributeReference, l: Literal): Seq[Atom] = {
      def exact(v: String, prefix: String) =
        Atom(a.name, Some(v), Some(v), prefix)
      val value = lit(l).map(exact(_, ""))
      val bucket = bucketOf.get(a.name).filter(_ => l.value != null)
        .flatMap { b =>
          try Some(exact(Snapshots.bucketIdOf(l.value, l.dataType, b.n)
              .toString, virtual(b)).copy(hashedAs = l.dataType match {
            case ByteType | ShortType | IntegerType | LongType | FloatType |
                DoubleType => Some(l.dataType.typeName)
            case _ => None // not widenable: every vintage hashed this type
          }))
          catch { case NonFatal(_) => None }
        }
      val trunc = truncOf.get(a.name).flatMap(t =>
        Snapshots.truncValueOf(l.value, l.dataType, t.n)
          .map(exact(_, virtual(t))))
      value.toSeq ++ bucket ++ trunc
    }
    // a comparison bounds the value, and — the truncate transform being
    // monotone — the derived value on the same side
    def bound(a: AttributeReference, l: Literal, lower: Boolean)
        : Seq[Atom] = {
      def side(v: String) = if (lower) (Some(v), None) else (None, Some(v))
      val value = lit(l).map(side).map { case (lo, hi) => Atom(a.name, lo, hi) }
      val trunc = truncOf.get(a.name).flatMap { t =>
        Snapshots.truncValueOf(l.value, l.dataType, t.n).map(side)
          .map { case (lo, hi) => Atom(a.name, lo, hi, virtual(t)) }
      }
      value.toSeq ++ trunc
    }
    // a LIKE prefix bounds raw values to [prefix, successor(prefix)); on a
    // truncate-clustered column, once the prefix covers the width every
    // match's derived value IS the truncated prefix
    def prefixed(a: AttributeReference, pre: String): Seq[Atom] = {
      val raw = Atom(a.name, Some(pre), strSuccessor(pre))
      val derived = truncOf.get(a.name).flatMap { t =>
        Snapshots.truncValueOf(org.apache.spark.unsafe.types.UTF8String
            .fromString(pre), StringType, t.n).map { p0 =>
          if (p0.length < pre.length) Atom(a.name, Some(p0), Some(p0),
            virtual(t))
          else Atom(a.name, Some(pre), strSuccessor(pre), virtual(t))
        }
      }
      raw +: derived.toSeq
    }
    def atoms(e: Expression): Seq[Atom] = normalize(e) match {
      case EqualTo(a: AttributeReference, l: Literal) => point(a, l)
      // `a <=> null` is IS NULL; with a non-null literal it is equality
      case EqualNullSafe(a: AttributeReference, l: Literal) =>
        if (l.value == null) Seq(Atom(a.name, Some("1"), None, "null:"))
        else point(a, l)
      case GreaterThan(a: AttributeReference, l: Literal) => bound(a, l, true)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        bound(a, l, true)
      case LessThan(a: AttributeReference, l: Literal) => bound(a, l, false)
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        bound(a, l, false)
      // null tests prune through the footer null / non-null counts
      // (min = max = count): a match needs at least one such row
      case IsNull(a: AttributeReference) =>
        Seq(Atom(a.name, Some("1"), None, "null:"))
      case IsNotNull(a: AttributeReference) =>
        Seq(Atom(a.name, Some("1"), None, "nnull:"))
      case Like(a: AttributeReference, p: Literal, esc)
          if p.dataType == StringType && p.value != null =>
        likePrefix(p.value.toString, esc).toSeq.flatMap(prefixed(a, _))
      case StartsWith(a: AttributeReference, p: Literal)
          if p.dataType == StringType && p.value != null =>
        prefixed(a, p.value.toString)
      case _ => Seq.empty
    }
    // the alternatives (OR of AND-ed atoms) a condition implies; None =
    // nothing extractable, which admits every row. IN is the OR of its
    // equalities, so each listed value prunes on its own
    def alternatives(e: Expression): Option[Seq[Seq[Atom]]] = e match {
      case Or(l, r) =>
        for (x <- alternatives(l); y <- alternatives(r)) yield x ++ y
      case And(l, r) => (alternatives(l), alternatives(r)) match {
        case (Some(x), Some(y)) =>
          if (x.size * y.size <= MaxAlternatives)
            Some(for (p <- x; q <- y) yield p ++ q)
          else Some(if (x.size <= y.size) x else y)
        case (x, y) => x.orElse(y)
      }
      // a null in the list equals nothing: it adds no alternative
      case In(a: AttributeReference, vs)
          if vs.forall(_.isInstanceOf[Literal]) =>
        val ps = vs.collect {
          case l: Literal if l.value != null => point(a, l) }
        if (ps.isEmpty || ps.exists(_.isEmpty)) None else Some(ps)
      case c => Some(atoms(c)).filter(_.nonEmpty).map(Seq(_))
    }
    conjuncts(fold(cond)).flatMap(alternatives)
  }

  // eval() yields the internal value, which Literal takes as is
  private def fold(e: Expression): Expression = e.transformUp {
    case x if x.foldable && !x.isInstanceOf[Literal] =>
      try Literal(x.eval(), x.dataType)
      catch { case NonFatal(_) => x }
  }

  /** The smallest string no prefix-matching value can reach: bump the
    * rightmost non-￿ char and drop the rest (None = unbounded). */
  private def strSuccessor(p: String): Option[String] = {
    var i = p.length - 1
    while (i >= 0 && p.charAt(i) == Char.MaxValue) i -= 1
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** The literal prefix a LIKE pattern requires (up to the first
    * unescaped wildcard); None = no usable prefix. */
  private def likePrefix(pat: String, esc: Char): Option[String] = {
    val b = new StringBuilder
    var i = 0
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (c == esc) {
        if (i + 1 >= pat.length) return None // malformed: bail
        b.append(pat.charAt(i + 1)); i += 2
      } else if (c == '%' || c == '_')
        return Some(b.result()).filter(_.nonEmpty)
      else { b.append(c); i += 1 }
    }
    Some(b.result()).filter(_.nonEmpty) // wildcard-free: exact value
  }

  /** One group over key `rows` (typed by `schema`, columns in `keyCols`
    * order): a file may hold a match only if SOME row lies inside its
    * bounds on every stat-recorded key column. A row with a null key
    * never equi-joins, so it is no alternative. */
  def keyRows(s: SparkSession, keyCols: Seq[String], schema: StructType,
      rows: Seq[Row]): Groups =
    Seq(rows.filterNot(r => keyCols.indices.exists(r.isNullAt)).map { r =>
      keyCols.indices.flatMap { i =>
        render(s, Literal.create(r.get(i), schema(i).dataType))
          .map(v => Atom(keyCols(i), Some(v), Some(v)))
      }
    })

  /** The subset of `fset` whose recorded stats admit `groups` — the
    * keep-loop every caller shares. Stats and renames come from state
    * `st`, whose version covers every file of `fset` and `canonV`; atom
    * columns are canonical at `canonV` and each file's lookup goes
    * through [[Snapshots.localName]] to the name its writing vintage
    * recorded. */
  def keep(s: SparkSession, dir: String, st: Snapshots.TableState,
      fset: Seq[String], groups: Groups, canonV: Int): Seq[String] =
    if (groups.isEmpty) fset
    else {
      val stats = Snapshots.statsUpTo(s, dir, st)
      val local = Snapshots.localName(st.chain, canonV) _
      fset.filter { rel =>
        stats.get(rel).forall { cols =>
          val c = rel match {
            case Snapshots.FileCommit(n) => n.toInt
            case _ => canonV
          }
          def admits(a: Atom): Boolean = {
            val name = local(c, a.col)
            val judged = a.hashedAs.forall(t =>
              cols.exists(x => x._1 == name && x._2 == t))
            !judged || cols.find(_._1 == a.prefix + name).forall {
              case (_, tn, mn, mx) =>
                inBounds(tn, mn, mx, a.lo.getOrElse(mn), a.hi.getOrElse(mx))
            }
          }
          groups.forall(_.exists(_.forall(admits)))
        }
      }
    }

  /** True iff [lo, hi] intersects the stringified [mn, mx] bounds of a
    * column of `typeName`. Date/timestamp values are normalized to epoch
    * millis before comparing (the two sides may render subseconds
    * differently); unknown types and unparseable values compare
    * conservatively (always true). */
  def inBounds(typeName: String, mn: String, mx: String,
      lo: String, hi: String): Boolean = typeName match {
    case "byte" | "short" | "integer" | "long" =>
      try { hi.toLong >= mn.toLong && lo.toLong <= mx.toLong }
      catch { case _: NumberFormatException => true }
    case "float" | "double" =>
      // NaN in ANY operand makes the intersection test meaningless
      // (parquet footer stats use Float.compare total order, so a file
      // containing NaN records max=NaN; `x <= NaN` is false and the
      // file would be pruned for EVERY predicate — silent row loss).
      // Delta/Iceberg likewise treat NaN bounds as prune-unsafe.
      // A float bound renders the float's shortest decimal ("0.1"); once
      // ALTER widens the column to DOUBLE its rows read as the exact
      // value (0.10000000149011612), so a float bound spans both readings.
      try {
        val (a, b) =
          if (typeName == "float")
            (math.min(mn.toDouble, mn.toFloat.toDouble),
              math.max(mx.toDouble, mx.toFloat.toDouble))
          else (mn.toDouble, mx.toDouble)
        val (l, h) = (lo.toDouble, hi.toDouble)
        if (a.isNaN || b.isNaN || l.isNaN || h.isNaN) true
        else h >= a && l <= b
      }
      catch { case _: NumberFormatException => true }
    case "date" | "timestamp" | "timestamp_ntz" =>
      (Snapshots.temporalMillis(mn), Snapshots.temporalMillis(mx),
        Snapshots.temporalMillis(lo), Snapshots.temporalMillis(hi)) match {
        case (Some(a), Some(b), Some(l), Some(h)) => h >= a && l <= b
        case _ => true // any side unparseable: never prune
      }
    case "string" => hi >= mn && lo <= mx
    case _ => true
  }
}
