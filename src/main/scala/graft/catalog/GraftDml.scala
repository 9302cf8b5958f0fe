package graft.catalog

import org.apache.spark.sql.{Column, GraftSparkInternals, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, CommonExpressionRef, Exists, ExprId, Expression, GetStructField, In, InSubquery, ListQuery, Literal, RuntimeReplaceable, ScalarSubquery, SubqueryExpression, With}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit

import graft.store.{GraftTable, MergeWhen}

/** SQL `DELETE`, `UPDATE` and `MERGE INTO` for graft catalog tables
  * (walden's row-level DML is a SQL-level surface: `allow_dml`
  * `tf/superset/superset.tf:57`; Iceberg row-level DML pinned
  * `tf/main.tf:94`). All three verbs accept the same predicates.
  *
  * Route — one for every verb: an injected analyzer resolution rule
  * (the public `SparkSessionExtensions.injectResolutionRule` seam)
  * rewrites the RESOLVED `DeleteFromTable` / `UpdateTable` /
  * `MergeIntoTable` statement over a [[GraftV2Table]] relation into a
  * runnable command that calls the store's copy-on-write engine
  * ([[GraftTable.delete]] / [[GraftTable.update]] /
  * [[GraftTable.mergeInto]]), then re-caches the relation so a cached
  * table sees the commit. This route — rather than DSv2
  * `SupportsRowLevelOperations` — keeps the store's stats-pruned
  * victim-file discovery: Spark's group-based ReplaceData plan rewrites
  * every scanned group, while the store rewrites ONLY files that
  * contain matching rows, which at 100 TB is the difference between a
  * full-table rewrite and a handful of files for a selective UPDATE.
  * A time-travelled snapshot is read-only: the rule refuses it.
  *
  * Expression hand-off: the statement's expressions arrive resolved
  * against the relation's attribute ids. At command RUN time they are
  * translated by exprId — target attributes to their plain column name,
  * MERGE source attributes to [[GraftTable.MergeSourcePrefix]]-prefixed
  * names (the store's mergeInto namespace contract) — into fresh
  * by-name references, so they re-resolve inside the store's own
  * DataFrames. Any expression the store can evaluate per row therefore
  * works in every verb: arithmetic, functions, nested fields.
  *
  * UNCORRELATED subqueries in conditions and assignments (`UPDATE ...
  * WHERE k IN (SELECT ...)`, `MERGE ... ON ... AND t.v > (SELECT avg
  * ...)`) are MATERIALIZED ONCE at run time — scalar → literal, `[NOT]
  * IN (SELECT ...)` → a value-list `In` (SQL three-valued NULL
  * semantics preserved by the `In` expression), `[NOT] EXISTS` →
  * boolean literal — and the folded condition then drives the store's
  * one-job copy-on-write rewrite (stats-pruned candidates, each probed
  * and rewritten by its own task): one subquery evaluation, reused
  * everywhere, and literal/value-list predicates prune files by min/max
  * stats exactly like hand-written ones. A subquery over the target
  * table itself reads the pre-update snapshot (evaluate-then-commit —
  * the standard SQL DML ordering).
  *
  * CORRELATED subqueries in UPDATE/DELETE conditions lower onto the
  * merge engine: Spark's own decorrelation evaluates `Filter(cond,
  * target)` into the matched-row set, which becomes the `MERGE USING`
  * source with row-value identity (null-safe equality over all columns
  * — sound because DML semantics are functions of row values) as the ON
  * clause. Correlated subqueries in UPDATE ASSIGNMENTS ride the same
  * lowering: each SET value becomes a projected column over the matched
  * rows (decorrelated in the same pre-update pass), and the merge's SET
  * reads it back from the source namespace.
  *
  * Correlated subqueries inside MERGE WHEN clauses ride two lowerings,
  * by where the correlation sits:
  *
  *  - only in `WHEN NOT MATCHED` (insert) clauses: those expressions
  *    may reference SOURCE columns alone (SQL rule, enforced by the
  *    analyzer), so each correlated condition/value is projected as a
  *    computed column directly onto the source plan — Spark
  *    decorrelates under Project — and the merge runs otherwise
  *    unchanged (real row semantics, multiplicity preserved).
  *  - in `WHEN MATCHED` clauses (may reference target AND source): the
  *    matched PAIR set `Join(target, source, Inner, on)` is evaluated
  *    pre-commit with every correlated expression projected as a
  *    column, value-distinct'd, unioned with the anti-join source rows
  *    (for inserts), and fed to the store as a row-identity merge —
  *    the same machinery as correlated UPDATE, so row-VALUE semantics
  *    apply (duplicate target rows transform alike; identical-valued
  *    multiple source matches collapse instead of raising the
  *    cardinality error — documented delta from the row-id path).
  *  - in `WHEN NOT MATCHED BY SOURCE` clauses (may reference TARGET
  *    columns only — SQL rule): the pair set widens to a FULL OUTER
  *    join, so unmatched target rows ride along as (target,
  *    null-source) rows with a source-presence marker; their correlated
  *    flags project over the target side (Spark decorrelates, same
  *    shape as an UPDATE condition) and each NMBS clause re-enters the
  *    store merge as a matched clause gated on marker-NULL. Row-VALUE
  *    semantics as above.
  *
  *  The one remaining loud error: a correlated subquery in the MERGE
  *  ON condition itself (no lowering — move it into a WHEN clause).
  */
final class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved =>
      graftRelation(u.table).fold(plan) { case (rel, g) =>
        require(!g.isTimeTravel, s"cannot UPDATE a time-travelled snapshot of ${g.name()}")
        val tgt = byId(rel.output)
        val set = u.assignments.map(a => assignOf(a, tgt))
        GraftUpdateCommand(g.underlying, u.condition.map(RawExpr), set, tgt, rel)
      }

    // MERGE WITH SCHEMA EVOLUTION needs no graft-side lowering: Spark's
    // ResolveMergeIntoSchemaEvolution computes the
    // additive TableChanges from the source schema and applies them
    // through TableCatalog.alterTable BEFORE the statement resolves —
    // that is our ALTER TABLE path (fresh field ids, metadata-only
    // commit, retired-name guard), so by the time this rule matches a
    // RESOLVED MergeIntoTable the target already carries the evolved
    // schema and the merge proceeds like any other.
    case m: MergeIntoTable if m.resolved =>
      graftRelation(m.targetTable).fold(plan) { case (rel, g) =>
        require(!g.isTimeTravel, s"cannot MERGE into a time-travelled snapshot of ${g.name()}")
        val tgt = byId(rel.output)
        val src = byId(m.sourceTable.output)
        def assigns(as: Seq[Assignment]): Seq[DmlAssign] = as.map(a => assignOf(a, tgt))
        def clause(a: MergeAction): RawMergeWhen = a match {
          case ua: UpdateAction =>
            RawMergeWhen(ua.condition.map(RawExpr), Some(assigns(ua.assignments)))
          case da: DeleteAction =>
            RawMergeWhen(da.condition.map(RawExpr), None)
          case ia: InsertAction =>
            RawMergeWhen(ia.condition.map(RawExpr), Some(assigns(ia.assignments)))
          case other => throw new UnsupportedOperationException(
            s"unsupported MERGE action for graft tables: $other")
        }
        GraftMergeCommand(g.underlying, m.sourceTable,
          RawExpr(m.mergeCondition),
          m.matchedActions.map(clause),
          m.notMatchedActions.map(clause),
          m.notMatchedBySourceActions.map(clause),
          tgt, src, rel)
      }

    case dft: DeleteFromTable if dft.resolved =>
      graftRelation(dft.table).fold(plan) { case (rel, g) =>
        require(!g.isTimeTravel, s"cannot DELETE from a time-travelled snapshot of ${g.name()}")
        GraftDeleteCommand(g.underlying, RawExpr(dft.condition), byId(rel.output), rel)
      }

    case _ => plan
  }

  /** The target relation if (and only if) it is a graft catalog table;
    * anything else falls through to Spark's own handling. */
  private def graftRelation(p: LogicalPlan): Option[(DataSourceV2Relation, GraftV2Table)] =
    p match {
      case SubqueryAlias(_, child) => graftRelation(child)
      case r: DataSourceV2Relation =>
        r.table match {
          case g: GraftV2Table => Some((r, g))
          case _ => None
        }
      case _ => None
    }

  private def byId(attrs: Seq[Attribute]): Map[ExprId, String] =
    attrs.map(a => a.exprId -> a.name).toMap

  /** Assignment key → (target column, struct path). `SET s.f = expr`
    * peels the resolved `GetStructField` chain down to
    * the base attribute; the command rebuilds the struct copy-on-write
    * with `Column.withField`, so sibling fields and the schema's
    * field-id metadata are untouched (the commit is schema-preserving).
    * Array-element / map-key targets stay unsupported, loudly. */
  private def assignOf(a: Assignment, tgt: Map[ExprId, String]): DmlAssign = {
    def peel(e: Expression, acc: List[String]): DmlAssign = e match {
      case g: GetStructField => peel(g.child, g.extractFieldName :: acc)
      case ar: AttributeReference if tgt.contains(ar.exprId) =>
        DmlAssign(tgt(ar.exprId), acc, RawExpr(a.value))
      case other => throw new UnsupportedOperationException(
        s"unsupported DML assignment target '${other.sql}' for graft tables " +
          "(columns and nested struct fields are assignable; array elements are not)")
    }
    peel(a.key, Nil)
  }
}

/** One SET assignment: `column` (top-level) plus an optional struct
  * `path` below it; `value` translates at run time. */
private[catalog] final case class DmlAssign(column: String, path: Seq[String], value: RawExpr)

/** Opaque holder for a resolved expression riding inside a command —
  * deliberately NOT an `Expression`, so `QueryPlan`'s product scan
  * never traverses it: subquery expressions in DML conditions would
  * otherwise trip CheckAnalysis (subqueries are only legal under a
  * fixed set of operators, and a custom command is not one). */
private[catalog] final case class RawExpr(e: Expression)

private[catalog] final case class RawMergeWhen(cond: Option[RawExpr],
                                               assigns: Option[Seq[DmlAssign]])

private[catalog] object GraftDmlExprs {
  /** Value-list ceiling for a materialized IN-subquery. Above this the
    * folded predicate stops being a sane planned expression (and stats
    * pruning stops paying) — the scalable spelling is MERGE USING,
    * which shuffles instead of materializing. */
  val MaxInValues = 100000

  /** Row ceiling for a materialized MULTI-COLUMN IN subquery: the
    * folded predicate is an OR-chain with one conjunction per row (the
    * 3VL-preserving spelling — see the fold), so the expression tree
    * grows O(rows × cols); past a few thousand rows optimization time
    * dominates and MERGE USING is the right tool. */
  val MaxInMultiColRows = 10000

  private def requireUncorrelated(outer: Seq[Expression], what: String): Unit =
    if (outer.nonEmpty) throw new UnsupportedOperationException(
      s"correlated $what here is not supported for graft tables " +
        "(supported: UPDATE conditions and assignments, DELETE conditions, " +
        "MERGE WHEN MATCHED / WHEN NOT MATCHED / WHEN NOT MATCHED BY SOURCE " +
        "clauses). A correlated subquery in the MERGE ON condition itself " +
        "has no lowering — move it into a WHEN clause condition or " +
        "rewrite the statement as separate UPDATE/DELETE.")

  /** True iff the expression tree carries a subquery that references
    * the outer (target) relation — the form the row-identity merge
    * lowering handles. */
  def hasCorrelated(e: Expression): Boolean = e.exists {
    case s: SubqueryExpression => s.getOuterAttrs.nonEmpty
    case _ => false
  }

  /** Reserved name prefix for computed columns the correlated lowerings
    * project onto their sources (`__graft_set_N`, `__graft_when_*`,
    * `__graft_s_*`, `__graft_t_present`). A real column already using
    * the prefix would make source-namespace resolution ambiguous in the
    * merge — reject loudly up front. */
  val ReservedPrefix = "__graft_"
  def requireNoReserved(attrs: Seq[Attribute], what: String): Unit = {
    val bad = attrs.map(_.name).filter(_.startsWith(ReservedPrefix))
    if (bad.nonEmpty) throw new UnsupportedOperationException(
      s"$what columns may not start with the reserved prefix '$ReservedPrefix' " +
        s"when a correlated DML lowering is in play: ${bad.mkString(",")}")
  }

  /** The matched-row set of a correlated UPDATE/DELETE condition,
    * evaluated by SPARK'S OWN subquery machinery: a
    * `Filter(cond, relation)` plan is exactly `SELECT * FROM t WHERE
    * <cond>`, which the optimizer decorrelates into the usual
    * semi/anti-join plans — no hand-rolled decorrelation, arbitrary
    * correlated shapes (EXISTS / NOT EXISTS / IN / NOT IN / scalar
    * comparisons) for free, evaluated once against the pre-update
    * snapshot. `distinct()` makes the set a row-VALUE set, which is
    * sound because a DML condition and its SET clauses are functions
    * of row values alone — equal rows match and transform equally.
    *
    * `setValues` extends the same machinery to correlated
    * ASSIGNMENTS: each SET value expression rides as a projected
    * column over the matched rows — correlated scalar subqueries are
    * legal under Project, so Spark decorrelates them into left outer
    * joins (missing partner → NULL, >1 row per outer row → Spark's
    * own runtime error: standard scalar-subquery semantics) in the
    * SAME pre-update-snapshot pass as the condition. The computed
    * columns are deterministic functions of row values, so the
    * row-value distinct stays sound. */
  def correlatedMatches(session: SparkSession, rel: LogicalPlan,
                        cond: Expression,
                        setValues: Seq[Expression] = Nil): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    if (setValues.nonEmpty) requireNoReserved(rel.output, "target")
    val matched = Filter(cond, rel)
    val plan = if (setValues.isEmpty) matched
      else Project(rel.output ++ setValues.zipWithIndex.map {
        case (e, i) => Alias(e, setColName(i))()
      }, matched)
    GraftSparkInternals.ofRows(session, plan).distinct()
  }

  /** Name of the i-th computed SET column riding on the matched-row
    * source (readable inside the merge as MergeSourcePrefix + this). */
  def setColName(i: Int): String = s"__graft_set_$i"

  /** Row-identity merge ON clause: null-safe equality over every
    * target column against its MergeSourcePrefix-renamed twin. Demands
    * a map-free schema — maps are not comparable in Spark, so rows
    * could not be re-identified; the error names the workaround. */
  def rowIdentityOn(sch: org.apache.spark.sql.types.StructType): Column = {
    val mapped = sch.fields.filter(f => hasMapType(f.dataType)).map(_.name)
    if (mapped.nonEmpty) throw new UnsupportedOperationException(
      "correlated UPDATE/DELETE conditions need row-value identity (null-safe " +
        s"equality over all columns), and map-typed columns are not comparable: " +
        s"${mapped.mkString(",")} — rewrite as MERGE USING with an explicit key")
    sch.fieldNames.map(n => org.apache.spark.sql.functions.col(s"`$n`") <=>
        org.apache.spark.sql.functions.col(s"`${GraftTable.MergeSourcePrefix}$n`"))
      .reduce(_ && _)
  }

  private[catalog] def hasMapType(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => hasMapType(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMapType(a.elementType)
    case _ => false
  }

  /** Per-STATEMENT subquery materialization memo, keyed on the
    * subquery plan's canonicalized form (plus the evaluation kind —
    * scalar/IN/EXISTS collect differently). Commands create ONE
    * materializer per `run`, so the same uncorrelated subquery
    * appearing in a MERGE condition plus several WHEN clauses (or in
    * both condition and assignment) is evaluated once and every
    * occurrence folds to the identical result — a statement can never
    * observe two snapshots of a concurrently-committed table (this is
    * what "once per statement" in the class doc promises). */
  final class Materializer(session: SparkSession) {
    private val memo =
      scala.collection.mutable.HashMap[(String, LogicalPlan), Expression]()
    private def once(kind: String, plan: LogicalPlan)(eval: => Expression): Expression =
      memo.getOrElseUpdate((kind, plan.canonicalized), eval)
    // IN-subquery value ROWS are memoized separately from the folded
    // expression: each occurrence rebinds the cached rows to its own
    // probe expressions (single-column → In list; multi-column → the
    // 3VL OR-chain), so one collect serves every occurrence
    private val inRows = scala.collection.mutable.HashMap[LogicalPlan, Array[Row]]()
    private def rowsOnce(q: ListQuery, cap: Int): Array[Row] =
      inRows.getOrElseUpdate(q.plan.canonicalized, {
        requireUncorrelated(q.outerAttrs, "IN subquery")
        val vals = GraftSparkInternals.ofRows(session, q.plan)
          .distinct().limit(cap + 1).collect()
        if (vals.length > cap) throw new UnsupportedOperationException(
          s"IN subquery in DML materialized more than $cap distinct " +
            "values/rows; use MERGE USING for join-scale subqueries")
        vals
      })

    def translate(raw: RawExpr,
                  tgt: Map[ExprId, String], src: Map[ExprId, String]): Column =
      GraftDmlExprs.translate(session, raw, tgt, src, this)

    def buildSet(assigns: Seq[DmlAssign],
                 tgt: Map[ExprId, String], src: Map[ExprId, String]): Map[String, Column] =
      GraftDmlExprs.buildSet(session, assigns, tgt, src, this)

    private[catalog] def fold(e: Expression): Expression = e.transformUp {
      case s: ScalarSubquery => once("scalar", s.plan) {
        requireUncorrelated(s.outerAttrs, "scalar subquery")
        val rows = GraftSparkInternals.ofRows(session, s.plan).collect()
        if (rows.length > 1) throw new IllegalStateException(
          s"scalar subquery in DML returned ${rows.length} rows")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0), s.dataType)
      }
      case in: InSubquery if in.values.length == 1 =>
        val q: ListQuery = in.query
        val elemType = q.plan.output.head.dataType
        In(in.values.head,
          rowsOnce(q, MaxInValues).toSeq.map(r => Literal.create(r.get(0), elemType)))
      case in: InSubquery =>
        // multi-column `(a,b) IN (SELECT x,y ...)`:
        // folded to an OR-chain of per-column conjunctions rather than
        // an `In` over structs — Spark's struct equality treats NULL
        // fields as equal values (ordering comparison), which breaks
        // SQL three-valued logic; the chain keeps it exactly: a row
        // with a NULL component compares UNKNOWN, AND/OR propagate, so
        // `NOT IN` over a list containing NULLs filters nothing — the
        // standard (and DuckDB/Trino) behavior. The tighter row cap
        // reflects the predicate's O(rows × cols) expression size.
        val q: ListQuery = in.query
        import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Or}
        val rows = rowsOnce(q, MaxInMultiColRows)
        rows.toSeq.map { r =>
          in.values.zip(q.plan.output).zipWithIndex.map { case ((v, a), i) =>
            EqualTo(v, Literal.create(r.get(i), a.dataType)): Expression
          }.reduce(And(_, _))
        }.reduceOption(Or(_, _)).getOrElse(Literal(false))
      case ex: Exists => once("exists", ex.plan) {
        requireUncorrelated(ex.outerAttrs, "EXISTS subquery")
        Literal(!GraftSparkInternals.ofRows(session, ex.plan).isEmpty)
      }
    }
  }

  /** Spark plans some forms (`BETWEEN`, ...) as a RuntimeReplaceable
    * whose replacement shares one input through a `With` common
    * expression. The by-name re-resolution in [[translate]] cannot
    * re-analyze a `With` whose definitions became unresolved references
    * (it fails with "Invalid call to dataType on unresolved object"), so
    * such forms lower to their replacement with every reference inlined
    * as its definition — the same value, since a definition must be
    * deterministic to be evaluated more than once. */
  private def inlineCommonExprs(e: Expression): Expression =
    e.transformDown {
      case r: RuntimeReplaceable if r.replacement.exists(_.isInstanceOf[With]) => r.replacement
    }.transformUp {
      case w: With =>
        w.defs.find(!_.child.deterministic).foreach { d =>
          throw new UnsupportedOperationException(
            s"graft DML cannot evaluate the nondeterministic '${d.child.sql}' more than " +
              "once per row; compute it in a subquery or a MERGE source instead")
        }
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transform { case ref: CommonExpressionRef => defs(ref.id) }
    }

  /** Resolved expression → by-name Column in the store's namespace,
    * materializing uncorrelated subqueries (see class doc) through the
    * per-statement [[Materializer]]. */
  def translate(session: SparkSession, raw: RawExpr,
                tgt: Map[ExprId, String], src: Map[ExprId, String],
                mat: Materializer): Column = {
    val folded = inlineCommonExprs(mat.fold(raw.e))
    folded.foreach {
      case s: SubqueryExpression => throw new UnsupportedOperationException(
        s"unsupported subquery form in graft DML: ${s.getClass.getSimpleName}")
      case _ => ()
    }
    val renamed = folded.transform {
      case a: AttributeReference =>
        tgt.get(a.exprId).map(UnresolvedAttribute.quoted)
          .orElse(src.get(a.exprId)
            .map(n => UnresolvedAttribute.quoted(GraftTable.MergeSourcePrefix + n)))
          .getOrElse(throw new UnsupportedOperationException(
            s"cannot translate column reference '${a.name}' (not a target or source column)"))
    }
    GraftSparkInternals.column(renamed)
  }

  /** Assignments → the store's `column -> value` map. Nested-field
    * assignments on one struct column fold into a single
    * `withField`-rebuilt value (RHS expressions all see the OLD row —
    * standard SQL UPDATE semantics — because the rebuild's base is the
    * pre-update column). */
  def buildSet(session: SparkSession, assigns: Seq[DmlAssign],
               tgt: Map[ExprId, String], src: Map[ExprId, String],
               mat: Materializer): Map[String, Column] =
    assigns.groupBy(_.column).map { case (base, as) =>
      if (as.exists(_.path.isEmpty)) {
        if (as.length != 1) throw new UnsupportedOperationException(
          s"conflicting assignments to column '$base' in one statement")
        base -> translate(session, as.head.value, tgt, src, mat)
      } else {
        // duplicate or nested-overlapping paths would silently last-win
        // through the withField fold — reject, matching the top-level
        // duplicate rule (SET s.a = x, s.a.b = y is ambiguous: does b
        // come from x or y?)
        for (Seq(a, b) <- as.map(_.path).sortBy(_.length).combinations(2))
          if (b.startsWith(a)) throw new UnsupportedOperationException(
            s"conflicting assignments to '$base.${a.mkString(".")}' and " +
              s"'$base.${b.mkString(".")}' in one statement")
        base -> as.foldLeft(org.apache.spark.sql.functions.col(s"`$base`")) { (acc, a) =>
          acc.withField(a.path.map(p => s"`$p`").mkString("."),
            translate(session, a.value, tgt, src, mat))
        }
      }
    }
}

/** What the three DML commands share: no output rows, and after the
  * store's commit every cached plan over the target table is re-cached
  * by the table's name — as Spark's own DSv2 DELETE does — so a `CACHE
  * TABLE`d graft table serves the new snapshot instead of the rows it
  * held before the statement. */
sealed trait GraftDmlCommand extends LeafRunnableCommand {
  def rel: DataSourceV2Relation
  protected def write(session: SparkSession): Unit
  override def output: Seq[Attribute] = Nil
  override def run(session: SparkSession): Seq[Row] = {
    write(session)
    for (c <- rel.catalog; id <- rel.identifier)
      GraftSparkInternals.recacheTable(session, c.name +: id.namespace.toSeq :+ id.name)
    Seq.empty
  }
}

/** `UPDATE <graft table> SET ... [WHERE ...]` → one copy-on-write
  * commit via [[GraftTable.update]] (one job over the stats-pruned
  * candidate files; only files holding a match are rewritten).
  * A CORRELATED subquery in the condition or an assignment lowers onto
  * [[GraftTable.mergeInto]]: the matched-row set (computed by Spark's
  * own decorrelation over the pre-update snapshot) is the USING
  * source, row-value identity the ON clause, and the SET map the one
  * WHEN MATCHED UPDATE — one atomic commit, only matching files
  * rewritten, exactly like the uncorrelated path. */
final case class GraftUpdateCommand(gt: GraftTable, cond: Option[RawExpr],
                                    set: Seq[DmlAssign],
                                    tgt: Map[ExprId, String],
                                    rel: DataSourceV2Relation)
  extends GraftDmlCommand {
  override protected def write(session: SparkSession): Unit = {
    val mat = new GraftDmlExprs.Materializer(session)
    val corrAssigns = set.exists(a => GraftDmlExprs.hasCorrelated(a.value.e))
    if (corrAssigns || cond.exists(c => GraftDmlExprs.hasCorrelated(c.e))) {
      // correlated condition and/or assignments: ALL SET values become
      // computed columns on the matched-row source (one decorrelated
      // pre-update-snapshot pass), and the merge's SET reads them back
      // through the source namespace — uncorrelated values compute to
      // the same thing either way (functions of the pre-update row)
      val matches = GraftDmlExprs.correlatedMatches(session, rel,
        cond.map(_.e).getOrElse(Literal(true)),
        if (corrAssigns) set.map(_.value.e) else Nil)
      val setFrom = if (corrAssigns)
        set.zipWithIndex.map { case (a, i) =>
          a.copy(value = RawExpr(UnresolvedAttribute.quoted(
            GraftTable.MergeSourcePrefix + GraftDmlExprs.setColName(i))))
        }
      else set
      gt.mergeInto(matches, GraftDmlExprs.rowIdentityOn(gt.schema),
        Seq(MergeWhen(None, Some(mat.buildSet(setFrom, tgt, Map.empty)))),
        Nil, Nil, "update")
    } else
      gt.update(cond.map(mat.translate(_, tgt, Map.empty)).getOrElse(lit(true)),
        mat.buildSet(set, tgt, Map.empty))
  }
}

/** `DELETE FROM <graft table> [WHERE ...]`, by the condition's form:
  *  - literal TRUE (no WHERE): [[GraftTable.truncate]], one metadata
  *    commit that reads no file;
  *  - a CORRELATED subquery: a row-identity merge with one WHEN MATCHED
  *    DELETE clause (see [[GraftUpdateCommand]]);
  *  - anything else: [[GraftTable.delete]] of the translated condition
  *    (subqueries materialized once) — the same translation UPDATE
  *    uses, so DELETE accepts exactly the conditions UPDATE accepts. */
final case class GraftDeleteCommand(gt: GraftTable, cond: RawExpr,
                                    tgt: Map[ExprId, String],
                                    rel: DataSourceV2Relation)
  extends GraftDmlCommand {
  override protected def write(session: SparkSession): Unit = cond.e match {
    case Literal.TrueLiteral => gt.truncate()
    case c if GraftDmlExprs.hasCorrelated(c) =>
      gt.mergeInto(GraftDmlExprs.correlatedMatches(session, rel, c),
        GraftDmlExprs.rowIdentityOn(gt.schema), Seq(MergeWhen(None, None)), Nil, Nil, "delete")
    case _ =>
      gt.delete(new GraftDmlExprs.Materializer(session).translate(cond, tgt, Map.empty))
  }
}

/** `MERGE INTO <graft table> USING <source> ON ... WHEN ...` → one
  * atomic merge commit via [[GraftTable.mergeInto]]. The USING source's
  * analyzed plan rides along and materializes at run time. Correlated
  * subqueries in WHEN clauses (class doc of [[GraftDmlRule]]): when
  * only insert clauses correlate, their expressions become flag columns
  * projected onto the source; when matched or not-matched-by-source
  * clauses do, the merge runs over the row-identity pair set. */
final case class GraftMergeCommand(gt: GraftTable, source: LogicalPlan,
                                   condition: RawExpr,
                                   matched: Seq[RawMergeWhen],
                                   notMatched: Seq[RawMergeWhen],
                                   notMatchedBySource: Seq[RawMergeWhen],
                                   tgt: Map[ExprId, String],
                                   src: Map[ExprId, String],
                                   rel: DataSourceV2Relation)
  extends GraftDmlCommand {
  import GraftDmlExprs._

  private def whenCorr(w: RawMergeWhen): Boolean =
    w.cond.exists(c => hasCorrelated(c.e)) ||
      w.assigns.exists(_.exists(a => hasCorrelated(a.value.e)))

  /** Collects correlated clause expressions as named projection columns
    * (`__graft_when_m0`, ...); the clause is rewritten to read the
    * computed column back through the merge's source namespace. */
  private final class Projector(prefix: String) {
    val cols = scala.collection.mutable.ArrayBuffer[(Expression, String)]()
    private def srcRef(n: String): RawExpr =
      RawExpr(UnresolvedAttribute.quoted(GraftTable.MergeSourcePrefix + n))
    def lower(w: RawMergeWhen): RawMergeWhen = if (!whenCorr(w)) w else {
      def add(e: Expression): RawExpr = {
        val n = s"$prefix${cols.length}"; cols += ((e, n)); srcRef(n)
      }
      RawMergeWhen(
        w.cond.map(c => if (hasCorrelated(c.e)) add(c.e) else c),
        w.assigns.map(_.map(a =>
          if (hasCorrelated(a.value.e)) a.copy(value = add(a.value.e)) else a)))
    }
  }

  override protected def write(session: SparkSession): Unit =
    if (matched.exists(whenCorr) || notMatchedBySource.exists(whenCorr))
      runRowIdentity(session)
    else runDirect(session)

  /** The merge as written, over the real source rows (multiplicity
    * preserved, every clause kind intact). A correlated subquery in an
    * insert clause references source columns alone (analyzer-enforced
    * SQL rule), so it rides as a computed column projected onto the
    * source plan — Spark decorrelates under Project — and the clause
    * reads it back; only then does the source carry extra columns, and
    * only then must its own names stay clear of the reserved prefix. */
  private def runDirect(session: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    val proj = new Projector("__graft_when_i")
    val ins = notMatched.map(proj.lower)
    val srcPlan =
      if (proj.cols.isEmpty) source
      else {
        requireNoReserved(source.output, "merge source")
        Project(source.output ++ proj.cols.map { case (e, n) => Alias(e, n)() }, source)
      }
    val mat = new Materializer(session)
    def tr(r: RawExpr): Column = mat.translate(r, tgt, src)
    def when(w: RawMergeWhen): MergeWhen =
      MergeWhen(w.cond.map(tr), w.assigns.map(mat.buildSet(_, tgt, src)))
    gt.mergeInto(GraftSparkInternals.ofRows(session, srcPlan),
      tr(condition), matched.map(when), ins.map(when),
      notMatchedBySource.map(when))
  }

  /** Correlation in WHEN MATCHED clauses (may reference target AND
    * source columns): evaluate the matched PAIR set — `Join(target,
    * source, Inner, on)` over the pre-merge snapshot — with every
    * correlated expression projected as a column (Spark decorrelates),
    * value-distinct it, union the anti-join source rows (for inserts,
    * with their own flags), and run the store merge with row-value
    * identity ∧ a presence marker as the ON clause. Row-VALUE
    * semantics, like correlated UPDATE: duplicate target rows
    * transform alike; identical-valued multiple source matches
    * collapse instead of raising the cardinality error. Distinct needs
    * comparable columns, so map-typed columns on either side are
    * rejected loudly.
    *
    * Correlated `WHEN NOT MATCHED BY SOURCE`
    * rides the SAME pair-set machinery with the join widened to FULL
    * OUTER: target rows with no ON-partner surface as (target,
    * null-source) rows carrying a source-presence marker NULL — their
    * clause conditions reference TARGET columns only (SQL rule), so
    * the flags project fine over the all-null source side, and Spark's
    * subquery machinery decorrelates them exactly like an UPDATE
    * condition. Each NMBS clause then re-enters the store merge as a
    * MATCHED clause gated on marker-NULL (the original matched clauses
    * gate on marker-NOT-NULL): disjoint gates, so per-row first-wins
    * ordering inside each family is preserved. Soundness of the split:
    * the ON condition is a function of row VALUES, so identically-
    * valued target rows have identical match sets — a row value can
    * never appear in both the pair half and the NMBS half. */
  private def runRowIdentity(session: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.{FullOuter, RightOuter}
    requireNoReserved(rel.output, "target")
    requireNoReserved(source.output, "merge source")
    val nmbsCorr = notMatchedBySource.exists(whenCorr)
    // the value-distinct'd pair set carries BOTH sides' columns, so a
    // map-typed column on EITHER breaks set-op comparability — name
    // the side and the clause family that routed the merge here
    val badMaps = (source.output.map(("source", _)) ++ rel.output.map(("target", _)))
      .collect { case (side, a) if hasMapType(a.dataType) => s"$side.${a.name}" }
    if (badMaps.nonEmpty) throw new UnsupportedOperationException(
      s"correlated MERGE ${if (nmbsCorr && !matched.exists(whenCorr))
        "WHEN NOT MATCHED BY SOURCE" else "WHEN MATCHED"} clauses need a " +
        "value-comparable pair set, and map-typed columns are not comparable: " +
        s"${badMaps.mkString(",")} — rewrite without the correlated clause")
    val sName = (n: String) => "__graft_s_" + n
    val present = "__graft_t_present"

    val mat = new Materializer(session)
    // pre-fold uncorrelated subqueries out of the ON condition so the
    // Catalyst join below never carries a subquery in its condition
    val onExpr = mat.fold(condition.e)

    val mProj = new Projector("__graft_when_m")
    val matched2 = matched.map(mProj.lower)
    val iProj = new Projector("__graft_when_i")
    val ins2 = notMatched.map(iProj.lower)
    val bProj = new Projector("__graft_when_b")
    val nmbs2 = notMatchedBySource.map(bProj.lower)

    // ONE outer join carries every half — matched (t,s) pairs (target
    // marker true, source marker true), unmatched source rows (target
    // marker null), and — when an NMBS clause correlates — unmatched
    // TARGET rows (source marker null) via FULL OUTER — so no Union
    // sits above subquery-bearing projections (Union's constraint
    // rewrite chokes on attributes local to a subquery plan). With no
    // insert clauses and no NMBS correlation an inner join suffices:
    // the extra rows could never act.
    val left = Project(
      rel.output :+ Alias(Literal(true), present)(), rel)
    // marker name must sit OUTSIDE the __graft_s_<col> rename image: a
    // source column literally named 'present' renames to
    // __graft_s_present, which would duplicate the marker and make its
    // gate reference ambiguous
    val sPresent = "__graft_srcmark"
    val (rightPlan, sMarker) =
      if (nmbsCorr) {
        val p = Project(source.output :+ Alias(Literal(true), sPresent)(), source)
        (p, Some(p.output.last))
      } else (source, None)
    val joinType =
      if (nmbsCorr) FullOuter
      else if (notMatched.isEmpty) org.apache.spark.sql.catalyst.plans.Inner
      else RightOuter
    val joined = Join(left, rightPlan, joinType, Some(onExpr), JoinHint.NONE)
    // flag expressions are total over the pair set: on unmatched rows
    // (all-null target side) an EXISTS evaluates false and a scalar
    // subquery null — unused either way, the store only consults
    // matched flags on matches and insert flags on non-matches; NMBS
    // flags reference target columns only, so they are well-defined on
    // the null-source rows that consult them
    val full = Project(
      left.output ++ source.output.map(a => Alias(a, sName(a.name))()) ++
        sMarker.toSeq ++
        (mProj.cols ++ iProj.cols ++ bProj.cols).map { case (e, n) => Alias(e, n)() },
      joined)
    // value-distinct the MATCHED pairs only: unmatched source rows keep
    // real-row multiplicity (each inserts) via a per-row salt that is
    // NULL exactly on matches — duplicate pairs collapse, duplicate
    // unmatched source rows never do
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id, when => sqlWhen}
    val srcDf = GraftSparkInternals.ofRows(session, full)
      .withColumn("__graft_row_salt",
        sqlWhen(col(present).isNull, monotonically_increasing_id()))
      .distinct()

    // source columns now live under their __graft_s_ rename in the pair
    // set; target columns keep plain names (resolved against the
    // store's target side, identical values for matched rows)
    val srcRenamedMap = src.map { case (id, n) => id -> sName(n) }
    def tr(r: RawExpr): Column = mat.translate(r, tgt, srcRenamedMap)
    def when(w: RawMergeWhen): MergeWhen =
      MergeWhen(w.cond.map(tr), w.assigns.map(mat.buildSet(_, tgt, srcRenamedMap)))
    val on = rowIdentityOn(gt.schema) &&
      org.apache.spark.sql.functions.col(s"`${GraftTable.MergeSourcePrefix}$present`")
    if (nmbsCorr) {
      // NMBS rows are (target, null-source) copies that MATCH their
      // own target row under row identity, so both families enter the
      // store as matched clauses behind disjoint source-marker gates —
      // pair rows carry marker true, NMBS rows marker NULL. The NMBS
      // half contains EVERY unmatched target row (conditions gate at
      // clause level), so victim discovery touches all live files —
      // the store's own NMBS contract, reached by a different door.
      val sp = org.apache.spark.sql.functions
        .col(s"`${GraftTable.MergeSourcePrefix}$sPresent`")
      def gate(g: Column)(w: MergeWhen): MergeWhen =
        w.copy(condition = Some(w.condition.map(g && _).getOrElse(g)))
      gt.mergeInto(srcDf, on,
        matched2.map(when).map(gate(sp.isNotNull)) ++
          nmbs2.map(when).map(gate(sp.isNull)),
        ins2.map(when), Nil, "merge")
    } else
      gt.mergeInto(srcDf, on, matched2.map(when), ins2.map(when),
        notMatchedBySource.map(when), "merge")
  }
}
