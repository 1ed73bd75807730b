package graft.store

import graft.sources.GraftLogFileIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

/** Metadata-only aggregates over logged tables (the Delta
  * `OptimizeMetadataOnlyDeltaQuery` shape): an UNFILTERED global
  * `COUNT(*)` / `MIN(col)` / `MAX(col)` over a snapshot read folds to
  * a [[LocalRelation]] computed entirely from the commit log's
  * per-file stats — zero data files opened. At 100 TB that turns
  * "how many rows does this table have" from a full scan into a
  * driver-side ledger fold, and it composes with everything above the
  * aggregate (joins against the one-row result, CASE arms, …).
  *
  * Soundness is carried by the PLAN SHAPE plus per-value abstention:
  *
  *  - Every `GraftLogFileIndex` relation is read as DV-free and folds
  *    its stats directly, keyed by the relation's own (physical)
  *    column names: a `format("graftlog")` read of a DV-free, unmapped
  *    snapshot, and — since every logged-table read is a relation over
  *    that index — `CommitLog.read`'s scans of DV-free, unmapped
  *    tables. A DV'd scan always sits under its vector anti-join, and
  *    a mapped read under its renaming aliases, so neither matches.
  *    The `GraftLogDvRelation` path (deletion vectors and/or column
  *    mapping) folds LOGICAL-remapped stats, answers
  *    COUNT as Σ row counts − Σ log-carried vector position counts
  *    (abstaining unless EVERY attached vector recorded its count —
  *    `*file|dvfile|n`), and abstains on MIN/MAX whenever any vector
  *    is attached (a vectored row may hold the extreme).
  *  - Any [[Filter]] between the aggregate and the scan breaks the
  *    match (only pass-through column-pruning Projects are stripped),
  *    so a filtered aggregate always scans.
  *  - Every live file must carry the needed entry: the reserved
  *    [[CommitLog.RowCountKey]] row count for COUNT, the column's
  *    min/max for MIN/MAX. One stats-less file (pre-row-count
  *    generations, unreadable footer) ⇒ the whole rewrite abstains.
  *  - MIN/MAX serve only types whose log-carried bounds are EXACT
  *    values: integral, float/double, date, micros timestamps.
  *    Strings abstain (bounds are truncate-and-successor ENVELOPES,
  *    not values — [[CommitLog.statsLowerBound]]); decimals,
  *    non-micros timestamps and unsigned ints already abstained at
  *    write time. A ±0.0 float/double bound abstains too: parquet
  *    writers normalize zero signs in footers (min −0.0 / max +0.0
  *    regardless of which zero the data holds), so the recorded bound
  *    may be a zero the column never contains.
  *  - `COUNT(*)`/`COUNT(lit)` fold row counts; `COUNT(col)` folds
  *    rows.count − the log-carried `<col>.nulls` null counts (files
  *    written before null counts landed abstain), vector-free
  *    snapshots only (a vectored-out row's nullness is unknowable
  *    from metadata).
  *
  * `spark.graft.statsAggregation=false` disables the rewrite (the
  * scan path is always correct; this is purely an optimization). */
case class GraftStatsAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString("spark.graft.statsAggregation", "true") != "true") plan
    else plan.transform {
      case agg @ Aggregate(Nil, _, _, _) => rewrite(agg).getOrElse(agg)
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] =
    for {
      lr <- relationOf(agg.child)
      // per-file stats + DV state, by read path: a file-index relation
      // is read as DV-free (vectored scans stay under their anti-join);
      // the DV/mapped relation carries both
      (stats, dvs) = lr.relation match {
        case fs: HadoopFsRelation =>
          (fs.location.asInstanceOf[GraftLogFileIndex].fileStats,
            Seq.empty[Option[Option[Long]]])
        case dv: graft.sources.GraftLogDvRelation =>
          (dv.fileStats, dv.dvState)
      }
      values <- traverse(
        agg.aggregateExpressions.map(answer(_, lr, stats, dvs)))
    } yield LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))

  /** Seq[Option] → Option[Seq]: one unanswerable aggregate expression
    * abstains the whole rewrite (the plan must stay a scan). */
  private def traverse(xs: Seq[Option[Any]]): Option[Seq[Any]] =
    if (xs.exists(_.isEmpty)) None else Some(xs.map(_.get))

  /** The logged-table scan under the aggregate, reached only through
    * pass-through (attribute-only) Projects — a Filter, a renaming
    * Alias, or any other operator in between means the aggregate is
    * NOT over the whole snapshot and must scan. */
  @scala.annotation.tailrec
  private def relationOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation if fs.location.isInstanceOf[GraftLogFileIndex] =>
        Some(lr)
      case _: graft.sources.GraftLogDvRelation => Some(lr)
      case _ => None
    }
    case Project(ps, child) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(child)
    case _ => None
  }

  /** One output expression of the aggregate → its metadata-computed
    * INTERNAL value, or None (unanswerable). Some(null) is a real
    * answer (MIN/MAX of an empty table). */
  private def answer(e: NamedExpression, lr: LogicalRelation,
      stats: Seq[Option[Map[String, (Any, Any)]]],
      dvs: Seq[Option[Option[Long]]]): Option[Any] = e match {
    case Alias(AggregateExpression(fn, Complete, false, None, _), _) => fn match {
      case Count(Seq(Literal(v, _))) if v != null => totalRows(stats, dvs)
      // COUNT(col) = Σ (rows.count − <col>.nulls) — answerable only on
      // a vector-free snapshot (a vectored-out row's nullness is
      // unknowable from metadata)
      case Count(Seq(a: AttributeReference))
        if fromRelation(lr, a) && dvs.forall(_.isEmpty) =>
        nonNullCount(stats, a)
      // a vectored row may hold the extreme — MIN/MAX only answer on
      // a vector-free snapshot
      case Min(a: AttributeReference)
        if fromRelation(lr, a) && dvs.forall(_.isEmpty) =>
        extreme(stats, a, isMin = true)
      case Max(a: AttributeReference)
        if fromRelation(lr, a) && dvs.forall(_.isEmpty) =>
        extreme(stats, a, isMin = false)
      case _ => None
    }
    // constant columns ride along (`SELECT 'tag', count(*) …`)
    case Alias(l: Literal, _) => Some(l.value)
    case _ => None
  }

  /** The attribute must be the RELATION's own output (exprId match) —
    * pass-through Projects preserve identity, so a name here is the
    * stats key the log recorded. */
  private def fromRelation(lr: LogicalRelation, a: AttributeReference): Boolean =
    lr.output.exists(_.exprId == a.exprId)

  private def totalRows(stats: Seq[Option[Map[String, (Any, Any)]]],
      dvs: Seq[Option[Option[Long]]]): Option[Any] = {
    if (stats.isEmpty) return Some(0L) // empty table: COUNT(*) = 0
    val counts = stats.map(_.flatMap(_.get(CommitLog.RowCountKey))
      .collect { case (n: Long, _) => n })
    if (counts.exists(_.isEmpty)) return None
    // merge-on-read: subtract each vector's log-carried position
    // count; ONE attachment without a recorded count abstains (the
    // positions would have to be read from the vector parquet — a
    // scan, which is exactly what this rewrite promises not to do)
    val vectored = dvs.flatten
    if (vectored.exists(_.isEmpty)) return None
    Some(counts.flatten.sum - vectored.flatten.sum)
  }

  /** COUNT(col): per file, rows.count − the log-carried `<col>.nulls`
    * null count. A zero-row file contributes 0 without needing a nulls
    * entry; any other file missing EITHER key abstains the rewrite.
    * Dotted attribute names abstain — the emitter never records stats
    * for them, so the lookup could only hit reserved keys. */
  private def nonNullCount(stats: Seq[Option[Map[String, (Any, Any)]]],
      attr: AttributeReference): Option[Any] = {
    if (attr.name.contains(".")) return None
    if (stats.isEmpty) return Some(0L) // empty table: COUNT(col) = 0
    val per = stats.map(_.flatMap { m =>
      m.get(CommitLog.RowCountKey).collect { case (n: Long, _) => n }.flatMap {
        case 0L => Some(0L)
        case n => m.get(attr.name + CommitLog.NullCountSuffix)
          .collect { case (k: Long, _) => n - k }
      }
    })
    if (per.exists(_.isEmpty)) None else Some(per.flatten.sum)
  }

  private def extreme(stats: Seq[Option[Map[String, (Any, Any)]]],
      attr: AttributeReference, isMin: Boolean): Option[Any] = {
    if (!supported(attr.dataType)) return None
    // stats keys share one namespace with the reserved dotted entries
    // (rows.count / bytes.size), and the emitter never records bounds
    // for a dotted-named column — a column literally named `rows.count`
    // (legal via backticks) would otherwise fold the per-file row count
    // as its MIN/MAX. Dotted names always take the scan path.
    if (attr.name.contains(".")) return None
    // zero-row files (a rewrite that kept nothing) contribute no rows
    // and carry no column bounds — skip them, don't abstain on them
    val occupied = stats.filterNot(
      _.exists(_.get(CommitLog.RowCountKey).exists(_._1 == 0L)))
    if (occupied.isEmpty) return Some(null) // no rows: MIN/MAX = NULL
    val per = occupied.map(_.flatMap(_.get(attr.name))
      .map(b => if (isMin) b._1 else b._2))
    if (per.exists(_.isEmpty)) return None
    // fold in the exact cross-box numeric order the stats layer uses;
    // an incomparable pair (mixed generations gone wrong) abstains
    per.flatten.reduceLeft[Any] { (a, b) =>
      CommitLog.statCmp(a, b) match {
        case Some(c) => if ((c <= 0) == isMin) a else b
        case None => return None
      }
    } match { case best => toInternal(best, attr.dataType) }
  }

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType | DoubleType | FloatType => true
    case _ => false
  }

  /** Log-stats raw value (Long or Double, from `parseStatsJson`) →
    * the column's Catalyst-internal value. Integral raws must be
    * Longs and fit; fractional raws must be Doubles (a float's
    * shortest decimal rendering round-trips exactly through Double).
    * ±0.0 abstains — see the class doc. */
  private def toInternal(raw: Any, dt: DataType): Option[Any] = (raw, dt) match {
    case (l: Long, LongType) => Some(l)
    case (l: Long, IntegerType) if l.isValidInt => Some(l.toInt)
    case (l: Long, ShortType) if l.isValidShort => Some(l.toShort)
    case (l: Long, ByteType) if l.isValidByte => Some(l.toByte)
    case (l: Long, DateType) if l.isValidInt => Some(l.toInt)
    case (l: Long, TimestampType) => Some(l)
    case (l: Long, TimestampNTZType) => Some(l)
    case (d: Double, DoubleType) if d != 0.0 => Some(d)
    case (d: Double, FloatType) if d != 0.0 => Some(d.toFloat)
    case _ => None
  }
}
