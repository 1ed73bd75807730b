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
  *  - CDC rides the same commit: updates feed delete pre-image +
  *    insert post-image, deletes feed pre-images, inserts feed
  *    post-images — exactly the vocabulary changesSince/IncrementalView
  *    already replay.
  *
  * Scale shape: one probe pass finds the files holding matched rows
  * (plus, when `whenNotMatchedBySourceDelete` is present, files holding
  * qualifying target-only rows); ONLY those files are rewritten —
  * copy-on-write, never a table rewrite. The projected source is
  * materialized once (eager localCheckpoint) so the probe, the rewrite,
  * the insert anti-join and the CDC pass all read the same rows: an
  * expensive upstream runs once, a non-deterministic one cannot make
  * data and CDC disagree. With no matched clause and no by-source
  * clause the operation degenerates to an anti-join append: no file is
  * rewritten at all.
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

  import MergeClauses.{MatchedDelete, MatchedUpdate, SrcPrefix}

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
    val (version, liveEntries) = (snap.version, snap.live)
    val mapping = snap.mapping
    val filesWithStats = liveEntries.map(e => (e.name, e.stats))
    val entryByName = liveEntries.map(e => e.name -> e).toMap
    val files = filesWithStats.map(_._1)
    val cols = schema.fieldNames.toSeq
    val nonKey = cols.filterNot(keyCols.contains)
    // Clause conditions evaluate MORE THAN ONCE over the same joined
    // frame (the data rewrite, the CDC pre-image filter, the CDC
    // post-image filter) — the exposure deleteWhere/replaceWhere/
    // updateWhere fence, so MERGE fences it too: a rand()-bearing
    // condition would publish a change feed that disagrees with the
    // table. Checked against the namespace each clause actually sees.
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
    val dup = src.groupBy(keyCols.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalArgumentException(
        s"merge source has duplicate key(s), e.g. ${dup.head.toSeq.init.mkString(",")} — " +
          "which duplicate wins is undefined; dedupe the source first")
    val srcKeys = src.select(keyCols.map(col): _*).distinct()

    // ── probe: which live files does this merge touch? ──────────────
    // matched-row files always; by-source-delete additionally claims
    // files holding qualifying unmatched rows. One job, one
    // file-count-sized collect. Stats-based skipping (parquet footer
    // min/max over the key columns) happens inside probeFiles.
    val needRewrite = matched.nonEmpty || bySourceDelete.nonEmpty
    val affected: Seq[String] =
      if (files.isEmpty) Seq.empty
      else {
        val candidates = CommitLog.pruneByFooterStats(
          spark, tablePath, files, keyCols, src, mapping,
          alwaysAll = bySourceDelete.nonEmpty,
          logStats = filesWithStats.collect { case (n, Some(s)) => n -> s }.toMap)
        if (candidates.isEmpty) Seq.empty
        else {
          // key columns suffice for the matched-file probe; only a
          // by-source condition needs the full row (its predicate may
          // reference any target column). DV-aware: rows an earlier
          // merge-on-read delete vectored out are not probe matches.
          val probeCols =
            if (bySourceDelete.nonEmpty) cols else keyCols
          val probeSchema = StructType(schema.fields.filter(f =>
            probeCols.contains(f.name)))
          val withFile = CommitLog.visibleRows(spark, tablePath, probeSchema,
            candidates.map(entryByName), meta = Seq("_mc_file" -> "file_name"),
            mapping = mapping)
          val matchedFiles = withFile
            .join(srcKeys, keyCols, "left_semi").select("_mc_file")
          val claimed = bySourceDelete match {
            case Some(cond) =>
              matchedFiles.unionByName(
                withFile.join(srcKeys, keyCols, "left_anti")
                  .filter(coalesce(cond.getOrElse(lit(true)), lit(false)))
                  .select("_mc_file"))
            case None => matchedFiles
          }
          claimed.distinct().collect().map(_.getString(0)).toSeq
        }
      }

    // ── no file needs rewriting: pure insert path ───────────────────
    // (DV-aware reads; merge-on-read mode additionally carries each
    // visible row's file/position so claimed rows can be vectored)
    val affReads: Option[DataFrame] =
      if (affected.isEmpty) None
      else Some(CommitLog.visibleRows(spark, tablePath, schema,
        affected.map(entryByName),
        meta = if (deletionVectors)
          Seq("_mc_f" -> "file_name", "_mc_p" -> "row_index")
        else Seq.empty, mapping = mapping))
    // matched target keys all live in affected files (the probe visited
    // every file that can hold one), so the insert anti-join needs only
    // the affected reads — increment-sized, never a table rescan
    def inserts: Option[DataFrame] = insertClause.map { cond =>
      val unmatched = affReads match {
        case Some(aff) => src.join(
          aff.select(keyCols.map(col): _*), keyCols, "left_anti")
        case None => src
      }
      unmatched.filter(coalesce(cond.getOrElse(lit(true)), lit(false)))
    }
    // nothing to rewrite: the inserts land through the append core
    // under this merge's Snapshot (no auto-compaction — rewrite-shaped
    // DML never triggers it)
    def insertOnly(ins: DataFrame): Long = CommitLog.appendOrAbort(ins, tablePath,
      snap, publisher, Some("merge"), abortOnLostRace = _ => false)
      .getOrElse(version)

    if (affected.isEmpty || !needRewrite) {
      inserts match {
        case Some(ins) if !ins.isEmpty => return insertOnly(ins)
        case _ => return version // proven no-op: nothing matched, nothing to insert
      }
    }

    // ── clause application over the affected files ──────────────────
    val aff = affReads.get
    val srcR = src.select(
      (keyCols.map(col) ++ nonKey.map(c => col(c).as(SrcPrefix + c)) :+
        lit(true).as(s"${SrcPrefix}present")): _*)
    val joined = aff.join(srcR, keyCols, "left")
    val isMatched = coalesce(col(s"${SrcPrefix}present"), lit(false))
    // first matching clause wins: fired = index of the deciding clause,
    // -1 = matched but unclaimed, evaluated only under isMatched
    val fired = matched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((cl, i), rest) =>
        val cond = cl match {
          case MatchedUpdate(_, c) => c.getOrElse(lit(true))
          case MatchedDelete(c) => c.getOrElse(lit(true))
        }
        when(coalesce(cond, lit(false)), lit(i)).otherwise(rest)
    }
    val firedCol = when(isMatched, fired).otherwise(lit(-2)) // -2 = target-only
    val deleteIdx = matched.zipWithIndex.collect {
      case (MatchedDelete(_), i) => i }
    val updateIdx = matched.zipWithIndex.collect {
      case (MatchedUpdate(_, _), i) => i }
    val bySourceDrop = bySourceDelete match {
      case Some(cond) => !isMatched &&
        coalesce(cond.getOrElse(lit(true)), lit(false))
      case None => lit(false)
    }
    val dropped = deleteIdx.foldLeft(bySourceDrop)((acc, i) =>
      acc || firedCol === i)
    val keep = !dropped
    // post-clause value of each column: updated columns take the source
    // value when an update clause fired and lists them
    def newValue(f: String): Column =
      matched.zipWithIndex.foldRight(col(f)) {
        case ((MatchedUpdate(ucols, _), i), rest) if ucols.contains(f) =>
          when(firedCol === i, col(SrcPrefix + f)).otherwise(rest)
        case (_, rest) => rest
      }.as(f)

    // ── CDC: pre-images of everything dropped or updated as `delete`,
    // post-images of updates and inserts as `insert` — same join, same
    // checkpointed source, so data and CDC cannot diverge ────────────
    val wasUpdated = updateIdx.foldLeft(lit(false): Column)((acc, i) =>
      acc || firedCol === i)
    val preImages = joined.filter(dropped || wasUpdated)
      .select(cols.map(col): _*)
      .withColumn(CommitLog.ChangeTypeCol, lit("delete"))
    val postImages = joined.filter(wasUpdated)
      .select(cols.map(newValue): _*)
      .withColumn(CommitLog.ChangeTypeCol, lit("insert"))
    val insertImages = inserts match {
      case Some(ins) => ins.withColumn(CommitLog.ChangeTypeCol, lit("insert"))
      case None => preImages.limit(0)
    }
    val cdc = preImages.unionByName(postImages).unionByName(insertImages)
    // same write discipline as every CommitLog path: constraints
    // captured once (and fenced at commit), data and CDC files landed
    // under the snapshot's PHYSICAL names on a mapped table
    val cs = snap.constraints
    def stageRows(rows: DataFrame): Seq[String] = CommitLog.stage(
      CommitLog.enforcedWith(CommitLog.withGenerated(rows, snap.properties), cs),
      tablePath, mapping, CommitLog.tableWriteOptions(snap.properties, mapping))

    if (deletionVectors) {
      // ── MERGE-ON-READ: vector out every claimed row (dropped or
      // updated — its pre-image leaves the file), append update
      // post-images alongside the inserts; NO file rewrite ───────────
      val claimed = joined.filter(dropped || wasUpdated)
      val claimedFiles = claimed.select(col("_mc_f")).distinct()
        .collect().map(_.getString(0)).toSeq
      if (claimedFiles.isEmpty) {
        // clauses claimed nothing after all: degenerate to pure insert
        inserts match {
          case Some(ins) if !ins.isEmpty => return insertOnly(ins)
          case _ => return version
        }
      }
      val fresh = claimed.select(col("_mc_f").as(CommitLog.DvFileCol),
        col("_mc_p").as(CommitLog.DvPosCol))
      val (dvAttach, dvExpect, dvCounts) = CommitLog.landVector(spark, tablePath,
        claimedFiles.map(entryByName), fresh)
      val postOnly = joined.filter(wasUpdated).select(cols.map(newValue): _*)
      val addsDf = inserts match {
        case Some(ins) => postOnly.unionByName(ins)
        case None => postOnly
      }
      val names = stageRows(addsDf)
      val cdcNames = CommitLog.landChangeFiles(tablePath, cdc, mapping)
      return CommitLog.commitOrAbort(spark, tablePath, adds = names,
        removes = Seq.empty, publisher = publisher, opTag = Some("merge"),
        abortOnLostRace = _ => false, changeAdds = cdcNames,
        addStats = CommitLog.statsFor(spark, tablePath, names),
        dvAttach = dvAttach, dvExpect = dvExpect, dvRowCounts = dvCounts,
        constraintsExpect = Some(cs))
        .getOrElse(throw new IllegalStateException("unreachable: unfenced DV merge"))
    }

    val rewritten = joined.filter(keep).select(cols.map(newValue): _*)
    val withInserts = inserts match {
      case Some(ins) => rewritten.unionByName(ins)
      case None => rewritten
    }
    val names = stageRows(withInserts)
    val cdcNames = CommitLog.landChangeFiles(tablePath, cdc, mapping)
    // removeDvExpect: a concurrent MOR delete re-vectoring an affected
    // file after this plan must fail the commit, not be resurrected
    CommitLog.commit(spark, tablePath, adds = names, removes = affected,
      publisher = publisher, opTag = Some("merge"), changeAdds = cdcNames,
      addStats = CommitLog.statsFor(spark, tablePath, names),
      removeDvExpect = affected.map(n => n -> entryByName(n).dv).toMap,
      constraintsExpect = Some(cs))
  }
}

object MergeClauses {
  /** Source-column namespace inside matched-clause conditions. */
  val SrcPrefix = "_src_"

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
