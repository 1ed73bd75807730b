package graft.store

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.types.{LongType, StringType}

/** Analyzer rule executing DML over [[GraftCatalog]] tables — the
  * missing half of "plain spark.sql speaks every verb": Spark's
  * grammar parses `UPDATE graft.t …` and `MERGE INTO graft.t …`, but
  * executing them on a v2 table requires the heavyweight
  * SupportsRowLevelOperations rewrite machinery; this rule intercepts
  * the RESOLVED command during analysis (the Delta `DeltaAnalysis`
  * pattern) and replaces it with a runnable command over the SAME
  * copy-on-write / merge-on-read machinery the Scala API uses —
  * identical semantics, stats-pruned probes, CDC riding the commit,
  * the session's deletion-vector switch honored.
  * DELETE is intercepted too, which upgrades it past the
  * `SupportsDelete` fallback: arbitrary predicates (`id % 7 = 0`)
  * work instead of only filter-translatable ones. The one DML
  * translator: [[GraftSql]] routes its `graftlog.` spellings here too.
  *
  * Namespaces are keyed on RESOLVED attribute identity: an attribute
  * bound to the target relation renders as its plain name, one bound
  * to the merge source as `_src_<name>` ([[MergeClauses.SrcPrefix]]);
  * a column both sides carry must be qualified, or the analyzer
  * refuses it as ambiguous before this rule runs. */
final case class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  /** ``[alias ->] DataSourceV2Relation(GraftTable)`` under a command's
    * table slot. */
  private object GraftRel {
    def unapply(plan: LogicalPlan): Option[(GraftTable, DataSourceV2Relation)] =
      plan match {
        case SubqueryAlias(_, child) => unapply(child)
        case r @ DataSourceV2Relation(t: GraftTable, _, _, _, _, _) =>
          Some((t, r))
        case _ => None
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case d @ DeleteFromTable(GraftRel(t, rel), condition) if d.resolved =>
      writable(t)
      val predicate = toColumn(condition, rel.outputSet, AttributeSet.empty,
        Seq.empty)
      GraftDmlCommand(t.path, session =>
        CommitLog.deleteWhere(session, t.path,
          CommitLog.tableSchema(session, t.path), predicate,
          deletionVectors = CommitLog.morDefault(session, t.path)))

    case u @ UpdateTable(GraftRel(t, rel), assignments, condition) if u.resolved =>
      writable(t)
      val target = rel.outputSet
      val sets: Map[String, Column] = assignments.map {
        case Assignment(key: AttributeReference, value) if target.contains(key) =>
          key.name -> toColumn(value, target, AttributeSet.empty, Seq.empty)
        case other => fail(s"UPDATE SET target must be a target column, got `${other.sql}`")
      }.toMap
      val predicate = condition
        .map(toColumn(_, target, AttributeSet.empty, Seq.empty))
        .getOrElse(lit(true))
      GraftDmlCommand(t.path, session =>
        CommitLog.updateWhere(session, t.path,
          CommitLog.tableSchema(session, t.path), predicate, sets,
          deletionVectors = CommitLog.morDefault(session, t.path)))

    case m: MergeIntoTable if m.resolved &&
        GraftRel.unapply(m.targetTable).isDefined =>
      val (t, rel) = GraftRel.unapply(m.targetTable).get
      writable(t)
      require(!m.withSchemaEvolution,
        "MERGE WITH SCHEMA EVOLUTION over a graft table is not supported " +
          "from SQL — use CommitLog.merge(mergeSchema = true)")
      val target = rel.outputSet
      val source = AttributeSet(m.sourceTable.output)
      val keys = keysOf(m.mergeCondition, target, source)
      // decode the clause tree ONCE at analysis (loud failures surface
      // at spark.sql time); execution builds MergeClauses from it
      sealed trait M
      case class MUpd(cols: Seq[String], cond: Option[Column]) extends M
      case class MDel(cond: Option[Column]) extends M
      // star actions never appear here: a star's `resolved` is
      // hardwired false, so `m.resolved` guarantees the analyzer
      // already expanded UPDATE */INSERT * into explicit assignments
      val matched: Seq[M] = m.matchedActions.map {
        case UpdateAction(cond, assignments, _) =>
          MUpd(updateCols(assignments, keys, target, source),
            cond.map(toColumn(_, target, source, keys)))
        case DeleteAction(cond) =>
          MDel(cond.map(toColumn(_, target, source, keys)))
        case other => fail(s"unsupported WHEN MATCHED action: $other")
      }
      // a NOT MATCHED condition evaluates over SOURCE rows with PLAIN
      // column names (MergeClauses' insert namespace), so the source
      // set translates as the plain-name side here
      val insertCond: Option[Option[Column]] = m.notMatchedActions match {
        case Seq() => None
        case Seq(InsertAction(cond, assignments)) =>
          checkInsertAssignments(assignments, rel.output)
          Some(cond.map(toColumn(_, source, AttributeSet.empty, Seq.empty)))
        case other => fail(s"unsupported WHEN NOT MATCHED actions: $other")
      }
      val bySourceDelete: Option[Option[Column]] =
        m.notMatchedBySourceActions match {
          case Seq() => None
          case Seq(DeleteAction(cond)) =>
            Some(cond.map(toColumn(_, target, AttributeSet.empty, Seq.empty)))
          case other => fail(
            s"unsupported WHEN NOT MATCHED BY SOURCE action (only DELETE): $other")
        }
      val sourcePlan = m.sourceTable
      GraftDmlCommand(t.path, session => {
        val schema = CommitLog.tableSchema(session, t.path)
        keys.foreach(k => require(schema.fieldNames.contains(k),
          s"merge key `$k` is not a column of ${t.path} " +
            s"(${schema.fieldNames.mkString(", ")})"))
        var merge = MergeClauses.into(session, t.path, schema,
          StreamingShim.ofRows(session, sourcePlan), keys)
        if (CommitLog.morDefault(session, t.path))
          merge = merge.withDeletionVectors()
        matched.foreach {
          case MUpd(cols, cond) => merge = merge.whenMatchedUpdate(cols, cond)
          case MDel(cond) => merge = merge.whenMatchedDelete(cond)
        }
        insertCond.foreach(c => merge = merge.whenNotMatchedInsert(c))
        bySourceDelete.foreach(c => merge = merge.whenNotMatchedBySourceDelete(c))
        merge.execute()
      })
  }

  private def writable(t: GraftTable): Unit =
    require(t.asOf == Long.MaxValue,
      s"cannot run DML against a time-travel snapshot of ${t.path}")

  /** Resolved expression → Column in the MergeClauses namespace:
    * target attributes by plain name, source attributes as
    * `_src_<name>` — EXCEPT source KEY columns, which render plain
    * (the clause join carries keys once under their plain names; they
    * are equal on both sides by the ON condition); leaves are swapped
    * then the tree re-renders through its SQL form (arbitrary scalar
    * expressions survive without re-implementing a grammar). A
    * subquery has no SQL form a Column can re-parse, so it is refused. */
  private def toColumn(e: Expression, target: AttributeSet,
      source: AttributeSet, keys: Seq[String]): Column = {
    if (e.exists(_.isInstanceOf[SubqueryExpression])) fail(
      "a subquery in a DML condition or SET value is not supported — " +
        "join its rows in as a MERGE INTO … USING source instead")
    expr(e.transformUp {
      case a: AttributeReference if source.contains(a) &&
          !keys.exists(_.equalsIgnoreCase(a.name)) =>
        UnresolvedAttribute(Seq(MergeClauses.SrcPrefix + a.name))
      case a: AttributeReference if source.contains(a) ||
          target.contains(a) =>
        UnresolvedAttribute(Seq(a.name))
      case a: AttributeReference =>
        fail(s"`${a.name}` is bound to neither the target nor the source")
    }.sql)
  }

  /** Strip analyzer-inserted casts: an INT-keyed source merged into a
    * BIGINT-keyed table arrives as `t.id = CAST(s.id AS BIGINT)` —
    * still the documented same-name key form. */
  @annotation.tailrec
  private def uncast(e: Expression): Expression = e match {
    case c: org.apache.spark.sql.catalyst.expressions.Cast => uncast(c.child)
    case other => other
  }

  /** ON condition → keyed-merge key columns: a conjunction of
    * same-name target=source equalities (resolved-attribute form). */
  private def keysOf(cond: Expression, target: AttributeSet,
      source: AttributeSet): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    conjuncts(cond).map { term =>
      // see through analyzer-inserted casts on either equality side
      (term match {
        case EqualTo(l, r) => Some((uncast(l), uncast(r)))
        case _ => None
      }) match {
        case Some((a: AttributeReference, b: AttributeReference))
            if (target.contains(a) && source.contains(b)) ||
              (source.contains(a) && target.contains(b)) =>
          if (!a.name.equalsIgnoreCase(b.name)) fail(
            s"ON equality must pair the SAME column name on both sides " +
              s"(got `${a.name}` = `${b.name}`) — logged merges are keyed")
          if (target.contains(a)) a.name else b.name
        case _ => fail(
          s"unsupported ON term `${term.sql}` — the condition must be a " +
            "conjunction of target-key = source-key same-name equalities")
      }
    }.distinct
  }

  /** `SET c = s.c, …` → updated-column list; self-assignments
    * (`c = c`, produced by Spark's assignment alignment) and key
    * copies (equal by ON) are no-ops and drop out — possibly leaving
    * an EMPTY list, which is still a valid claiming clause
    * (whenMatchedUpdate accepts it). Analyzer casts on the value side
    * are stripped first. */
  private def updateCols(assignments: Seq[Assignment], keys: Seq[String],
      target: AttributeSet, source: AttributeSet): Seq[String] =
    assignments.flatMap { case Assignment(key, value) =>
      val name = uncast(key) match {
        case a: AttributeReference if target.contains(a) => a.name
        case other => fail(s"UPDATE SET target must be a target column, got `${other.sql}`")
      }
      uncast(value) match {
        case a: AttributeReference if target.contains(a) &&
            a.name.equalsIgnoreCase(name) => None // aligned self-copy: no-op
        case a: AttributeReference if source.contains(a) &&
            a.name.equalsIgnoreCase(name) =>
          if (keys.exists(_.equalsIgnoreCase(name))) None // key = key: equal by ON
          else Some(name)
        case other => fail(
          s"UPDATE SET `$name` = `${other.sql}`: only same-name source-column " +
            s"copies (`$name = s.$name`) are supported — compute derived " +
            "columns in the USING subquery")
      }
    }

  /** INSERT column list must be the full same-name mapping: every
    * target column named, each from the same-named source column
    * (analyzer casts stripped). */
  private def checkInsertAssignments(assignments: Seq[Assignment],
      target: Seq[Attribute]): Unit = {
    val named = assignments.map { case Assignment(key, value) =>
      val name = uncast(key) match {
        case a: AttributeReference => a.name
        case other => fail(s"INSERT column must be a plain column, got `${other.sql}`")
      }
      uncast(value) match {
        case a: AttributeReference if a.name.equalsIgnoreCase(name) => ()
        case other => fail(
          s"INSERT (`$name`) VALUES (`${other.sql}`): only same-name source " +
            "columns are supported — use INSERT * or shape the USING subquery")
      }
      name
    }
    val missing = target.map(_.name)
      .filterNot(c => named.exists(_.equalsIgnoreCase(c)))
    if (missing.nonEmpty) fail(
      s"INSERT must cover every table column; missing ${missing.mkString(", ")}")
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft SQL DML: $msg")
}

/** The runnable command a DML interception becomes: executes the
  * commit-log operation on the driver and returns the standard
  * `(table, committed_version)` row. */
final case class GraftDmlCommand(tablePath: String,
    dml: SparkSession => Long) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("table", StringType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(tablePath, dml(session)))

  override def simpleString(maxFields: Int): String =
    s"GraftDmlCommand($tablePath)"
}
