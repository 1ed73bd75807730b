package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The full MERGE clause grammar over a logged table — the CDC-apply
  * surface [[CommitLog.merge]]'s full-row replace cannot express
  * (Delta's MERGE grammar, on this log's copy-on-write machinery):
  *
  * {{{
  * MergeClauses.into(spark, table, schema, source, keyCols)
  *   .whenMatchedDelete(cond)            // first matching clause wins
  *   .whenMatchedUpdate(Seq("text"))     // update ONLY these columns
  *   .whenNotMatchedInsert()             // insert unmatched source rows
  *   .whenNotMatchedBySourceDelete(cond) // retire target-only rows
  *   .execute()
  * }}}
  *
  * Semantics:
  *  - MATCHED clauses evaluate in builder order; the FIRST whose
  *    condition holds decides the row (Delta's clause-order contract).
  *    A matched row no clause claims is left untouched.
  *  - Conditions see the TARGET row's columns by name and the source
  *    row's non-key columns as `_src_<col>` (the join namespace —
  *    documented, spec-pinned). `whenNotMatchedInsert`'s condition and
  *    `whenNotMatchedBySourceDelete`'s condition see only source /
  *    only target columns respectively (plain names).
  *  - An UPDATE writes the listed columns from the source and keeps
  *    every other column from the target; key columns can never be
  *    updated (rejected up front — a key rewrite is a delete+insert).
  *  - The rows the clauses claim (deleted, updated) leave and the
  *    update post-images and inserts enter through
  *    [[CommitLog.rewriteRows]], which also writes the change feed.
  *
  * Scale shape: one probe pass counts the claimed rows per file over
  * the files whose stats admit a source key (every file, when
  * `whenNotMatchedBySourceDelete` is present); ONLY files holding a
  * claimed row are rewritten — copy-on-write, never a table rewrite —
  * and a fully claimed file drops as a log line. The projected source
  * is materialized once (eager localCheckpoint) so the probe, the
  * rewrite, the insert anti-join and the change feed all read the same
  * rows: an expensive upstream runs once, a non-deterministic one
  * cannot make data and change feed disagree. With no matched clause
  * and no by-source clause the operation degenerates to an anti-join
  * append: no file is rewritten at all.
  *
  * Provenance: extension scope — the reference (a Go media-ETL
  * pipeline) has no table-maintenance surface; clause semantics follow
  * the published Delta MERGE grammar.
  */
final class MergeClauses private (
    spark: SparkSession, tablePath: String, schema: StructType,
    source: DataFrame, keyCols: Seq[String],
    matched: Seq[MergeClauses.MatchedClause],
    insertClause: Option[Option[Column]],
    bySourceDelete: Option[Option[Column]],
    publisher: AtomicPublisher,
    deletionVectors: Boolean) {

  import MergeClauses.{Fired, MatchedDelete, MatchedUpdate, SrcPrefix}

  private def copy(
      matched: Seq[MergeClauses.MatchedClause] = matched,
      insertClause: Option[Option[Column]] = insertClause,
      bySourceDelete: Option[Option[Column]] = bySourceDelete,
      publisher: AtomicPublisher = publisher,
      deletionVectors: Boolean = deletionVectors): MergeClauses =
    new MergeClauses(spark, tablePath, schema, source, keyCols,
      matched, insertClause, bySourceDelete, publisher, deletionVectors)

  /** Update ONLY `cols` from the source when the (optional) condition
    * holds; other columns keep their target values. An EMPTY column
    * list is a CLAIMING no-op — the clause still consumes matched
    * rows under first-match-wins precedence (the shape `UPDATE SET
    * key = s.key` reduces to after self-assignments drop out). */
  def whenMatchedUpdate(cols: Seq[String], cond: Option[Column] = None): MergeClauses = {
    cols.foreach(c => require(schema.fieldNames.contains(c), s"no such column: $c"))
    cols.foreach(c => require(!keyCols.contains(c),
      s"key column $c cannot be updated — a key rewrite is a delete + insert"))
    copy(matched = matched :+ MatchedUpdate(cols, cond))
  }

  /** Delete the matched target row when the (optional) condition holds. */
  def whenMatchedDelete(cond: Option[Column] = None): MergeClauses =
    copy(matched = matched :+ MatchedDelete(cond))

  /** Insert source rows that match no target row (optionally filtered). */
  def whenNotMatchedInsert(cond: Option[Column] = None): MergeClauses =
    copy(insertClause = Some(cond))

  /** Delete target rows no source row matches, when the (optional)
    * condition holds — the retire-absent-keys half of a full CDC apply. */
  def whenNotMatchedBySourceDelete(cond: Option[Column] = None): MergeClauses =
    copy(bySourceDelete = Some(cond))

  def withPublisher(p: AtomicPublisher): MergeClauses = copy(publisher = p)

  /** MERGE-ON-READ: claimed rows (deleted/updated matched rows,
    * by-source drops) are vectored out instead of rewriting their
    * files; update post-images and inserts append — zero file
    * rewrites (see [[CommitLog.deleteWhere]]'s deletionVectors). */
  def withDeletionVectors(): MergeClauses = copy(deletionVectors = true)

  /** Run the merge; returns the committed version (the current version
    * for a proven no-op). */
  def execute(): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(matched.nonEmpty || insertClause.nonEmpty || bySourceDelete.nonEmpty,
      "merge with no clauses")
    val snap = CommitLog.snapshot(spark, tablePath)
    val version = snap.version
    val cols = schema.fieldNames.toSeq
    val nonKey = cols.filterNot(keyCols.contains)
    // Clause conditions evaluate MORE THAN ONCE over the same joined
    // frame (the probe, the data rewrite, the change feed's images) —
    // the exposure deleteWhere/replaceWhere/updateWhere fence, so MERGE
    // fences it too: a rand()-bearing condition would publish a change
    // feed that disagrees with the table. Checked against the namespace
    // each clause actually sees.
    locally {
      import org.apache.spark.sql.types.{BooleanType, StructField}
      val joinedSchema = StructType(schema.fields.toSeq ++
        schema.fields.toSeq.filterNot(f => keyCols.contains(f.name))
          .map(f => StructField(SrcPrefix + f.name, f.dataType)) :+
        StructField(s"${SrcPrefix}present", BooleanType))
      matched.foreach {
        case MatchedUpdate(_, Some(c)) => CommitLog
          .requireDeterministicPredicate(spark, joinedSchema, c, "merge WHEN MATCHED")
        case MatchedDelete(Some(c)) => CommitLog
          .requireDeterministicPredicate(spark, joinedSchema, c, "merge WHEN MATCHED DELETE")
        case _ => ()
      }
      insertClause.flatten.foreach(c => CommitLog.requireDeterministicPredicate(
        spark, source.schema, c, "merge WHEN NOT MATCHED"))
      bySourceDelete.flatten.foreach(c => CommitLog.requireDeterministicPredicate(
        spark, schema, c, "merge WHEN NOT MATCHED BY SOURCE"))
    }
    // single evaluation of the source for every pass below
    val src = source.select(cols.map(col): _*).localCheckpoint(true)
    CommitLog.requireUniqueKeys(src, keyCols, "merge source",
      "which duplicate wins is undefined; dedupe the source first")

    // files that can hold a matched row (stats-based skipping over the
    // key columns); a by-source clause must visit every file
    val candidates = CommitLog.keyCandidates(spark, tablePath, snap, keyCols, src,
      alwaysAll = bySourceDelete.nonEmpty)
    // unmatched source rows: every target key a source row can match
    // lives in a candidate file (DV-aware — a vectored-out row matches
    // nothing), so the anti-join reads only those files' keys
    def inserts: Option[DataFrame] = insertClause.map { cond =>
      val targetKeys = CommitLog.visibleRows(spark, tablePath,
        StructType(schema.fields.filter(f => keyCols.contains(f.name))),
        candidates, snap.mapping)
      src.join(targetKeys, keyCols, "left_anti")
        .filter(coalesce(cond.getOrElse(lit(true)), lit(false)))
    }
    // nothing claimed: the inserts land through the append core under
    // this merge's Snapshot (no auto-compaction — rewrite-shaped DML
    // never triggers it)
    def insertOnly(): Option[Long] = inserts.filter(!_.isEmpty).flatMap(ins =>
      CommitLog.appendOrAbort(ins, tablePath, snap, publisher, Some("merge"),
        abortOnLostRace = _ => false))
    if (matched.isEmpty && bySourceDelete.isEmpty) return insertOnly().getOrElse(version)

    // ── clause application: each target row joined to its source row ──
    val srcR = src.select(
      (keyCols.map(col) ++ nonKey.map(c => col(c).as(SrcPrefix + c)) :+
        lit(true).as(s"${SrcPrefix}present")): _*)
    val isMatched = coalesce(col(s"${SrcPrefix}present"), lit(false))
    // first matching clause wins: fired = index of the deciding clause,
    // -1 = matched but unclaimed, -2 = target-only
    val fired = matched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((cl, i), rest) =>
        val cond = cl match {
          case MatchedUpdate(_, c) => c.getOrElse(lit(true))
          case MatchedDelete(c) => c.getOrElse(lit(true))
        }
        when(coalesce(cond, lit(false)), lit(i)).otherwise(rest)
    }
    val firedCol = col(Fired)
    def firedAny(idx: Seq[Int]): Column =
      idx.foldLeft(lit(false): Column)((acc, i) => acc || firedCol === i)
    val updated = firedAny(matched.zipWithIndex.collect {
      case (MatchedUpdate(_, _), i) => i })
    val bySourceDrop = bySourceDelete match {
      case Some(cond) => firedCol === -2 &&
        coalesce(cond.getOrElse(lit(true)), lit(false))
      case None => lit(false)
    }
    val dropped = bySourceDrop || firedAny(matched.zipWithIndex.collect {
      case (MatchedDelete(_), i) => i })
    // post-clause value of each column: updated columns take the source
    // value when an update clause fired and lists them
    def newValue(f: String): Column =
      matched.zipWithIndex.foldRight(col(f)) {
        case ((MatchedUpdate(ucols, _), i), rest) if ucols.contains(f) =>
          when(firedCol === i, col(SrcPrefix + f)).otherwise(rest)
        case (_, rest) => rest
      }
    CommitLog.rewriteRows(spark, tablePath, snap, schema, candidates,
      claim = _.join(srcR, keyCols, "left")
        .withColumn(Fired, when(isMatched, fired).otherwise(lit(-2)))
        .withColumn(CommitLog.Claimed, dropped || updated),
      restate = Some(CommitLog.Restate(updated, cols.map(newValue))),
      adds = inserts, deletionVectors = deletionVectors,
      publisher = publisher, opTag = Some("merge"),
      unclaimed = Some(() => insertOnly()))
      .getOrElse(version)
  }
}

object MergeClauses {
  /** Source-column namespace inside matched-clause conditions. */
  val SrcPrefix = "_src_"

  /** The index of the matched clause that decides a joined row. */
  private val Fired = "_mc_fired"

  private[store] sealed trait MatchedClause
  private[store] final case class MatchedUpdate(cols: Seq[String],
      cond: Option[Column]) extends MatchedClause
  private[store] final case class MatchedDelete(cond: Option[Column])
      extends MatchedClause

  /** Start a clause merge of `source` into the logged table at
    * `tablePath` on `keyCols`. */
  def into(spark: SparkSession, tablePath: String, schema: StructType,
      source: DataFrame, keyCols: Seq[String]): MergeClauses = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    keyCols.foreach(k => require(schema.fieldNames.contains(k),
      s"merge key $k not in table schema ${schema.fieldNames.mkString(",")}"))
    new MergeClauses(spark, tablePath, schema, source, keyCols,
      Seq.empty, None, None, RenameOrLinkPublisher, deletionVectors = false)
  }
}
