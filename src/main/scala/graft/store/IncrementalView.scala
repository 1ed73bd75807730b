package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Incrementally-maintained materialized view over a logged table: the
  * view consumes its source's change feed ([[CommitLog.changesSince]])
  * and applies a per-row transform to JUST the increment — refresh cost
  * scales with what landed since the last refresh, never with a source
  * rescan. At 100 TB this is how a scored/filtered/derived corpus stays
  * current: the nightly drop is the work, not the archive.
  *
  * Exactly-once without a side channel: the consumer checkpoint RIDES
  * the view's own data commit as a `consumed=<srcVersion>` operation
  * tag — one atomic publish carries both the transformed rows and the
  * "I have processed through version N" claim, so a crash between
  * processing and checkpointing cannot double-apply an increment (the
  * classic dual-write hazard a separate checkpoint file reintroduces).
  * Replaying the view's history is the recovery procedure AND the
  * lineage record: each commit says which source versions it covers.
  *
  * Scope: the transform must be STATELESS per increment (per-row maps
  * and filters — scoring, redaction, projection; the curation scoring
  * stage is exactly this shape). Cross-row aggregations need merge
  * logic this seam does not provide — maintain those as streaming
  * aggregations (StreamingJobs) or recompute from the view. A source
  * DELETE stops the feed loudly (changesSince's contract); the view
  * re-bootstraps: `rebuild()` from a snapshot read, which also re-bases
  * the checkpoint.
  */
object IncrementalView {

  private val TagPrefix = "consumed="

  /** Highest source version this view has consumed — parsed from the
    * view's own commit tags AND checkpoint-carried headers
    * (CommitLog.lastConsumed), so a pruneLog() on the view table never
    * regresses the checkpoint; 0 for a view with no commits, i.e.
    * "consume everything". */
  def lastConsumed(spark: SparkSession, viewTable: String): Long =
    CommitLog.lastConsumed(spark, viewTable)

  /** Refresh the view with everything the source committed since the
    * last refresh. Returns the source version consumed through, or
    * None when already caught up. An increment the transform filters
    * to zero rows still commits (empty add set aside, the parquet
    * writer always lands at least one file): the checkpoint must
    * advance or the next refresh reprocesses the same increment
    * forever.
    *
    * An increment that crosses a source DELETE or MERGE carries
    * `delete` rows. With `keyCols` given, the refresh applies them
    * INCREMENTALLY: the net-last change per key wins (a key deleted
    * then re-inserted in the range survives; inserted then deleted,
    * not), view rows for every touched key are swapped out via the
    * keyed copy-on-write rewrite, and the transformed net inserts land
    * in the SAME commit as the `consumed=` tag — exactly-once still
    * rides one atomic publish. This requires `transform` to be
    * per-row, deterministic, and to carry the key columns through
    * UNCHANGED for every row it keeps (filters and derived non-key
    * columns are fine) — a row the transform filters out is simply a
    * key the view drops. Without `keyCols`, a delete-bearing increment
    * stops loudly (the view cannot know which of its rows to retract)
    * and `rebuild()` is the recovery. */
  def refresh(spark: SparkSession, srcTable: String, srcSchema: StructType,
      viewTable: String, transform: DataFrame => DataFrame,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      keyCols: Option[Seq[String]] = None,
      maxVersions: Option[Long] = None): Option[Long] = {
    import org.apache.spark.sql.functions.{col, row_number, when}
    // one view Snapshot: the consumed ledger read here, and the mapping,
    // properties and constraints every file this refresh lands uses
    val snap = CommitLog.snapshot(spark, viewTable)
    val since = snap.consumed
    val (latest, _) = CommitLog.liveFiles(spark, srcTable)
    if (latest == since) return None
    // `maxVersions` bounds one refresh to a version window — the
    // micro-batch rate limit CdcStream's drain loop rides (a consumer
    // far behind catches up in bounded increments instead of one
    // arbitrarily large feed read)
    val srcVersion = maxVersions match {
      case Some(m) => require(m > 0, s"maxVersions must be positive: $m")
        math.min(since + m, latest)
      case None => latest
    }
    // Zombie fencing for every commit this refresh publishes: two
    // drivers refreshing the same view can both pass the `since` check
    // above; the fence re-reads the consumed ledger at publish time
    // (EVERY attempt, including the first — commitOrAbort's contract)
    // and aborts on ANY movement since this refresh read it. The
    // condition must be `!= since`, not `>= srcVersion`: a concurrent
    // drainer consuming through a LOWER version (a different
    // maxVersions window, or a `latest` read at an earlier time) has
    // already applied part of our (since, srcVersion] range — a
    // >= fence would let us double-apply the overlap.
    val fence = (s: CommitLog.Snapshot) => s.consumed != since
    val feed = CommitLog
      .changesSince(spark, srcTable, since, srcSchema, asOf = srcVersion)
    val ct = col(CommitLog.ChangeTypeCol)
    val meta = Seq(CommitLog.ChangeTypeCol, "_commit_version")
    // delete detection from the LOG, not a data pass: any non-compaction
    // removing commit in the range is row-changing (delete/merge/keyed
    // refresh) — driver-side, log-sized, no Spark job
    val hasDeletes = CommitLog.history(spark, srcTable)
      .filter(col("version") > since && col("version") <= srcVersion &&
        col("n_removed") > 0 && col("operation") =!= "rewrite" &&
        col("operation") =!= "checkpoint")
      .limit(1).count() > 0
    if (!hasDeletes) {
      val committed = CommitLog.appendOrAbort(
        transform(feed.drop(meta: _*)), viewTable, snap,
        publisher, opTag = Some(s"$TagPrefix$srcVersion"),
        abortOnLostRace = fence)
      // an abort means a concurrent refresh moved the ledger while we
      // worked — report what IS consumed (possibly less than our
      // window; the caller's next refresh picks up from there)
      return Some(if (committed.isDefined) srcVersion
        else CommitLog.lastConsumed(spark, viewTable))
    }
    val keys = keyCols.getOrElse(throw new IllegalStateException(
      s"increment ($since, $srcVersion] of $srcTable carries DELETE rows and " +
        "this view has no keyCols — refresh(keyCols = ...) for incremental " +
        "delete apply, or rebuild() from a snapshot"))
    // Net effect per key across the range: the LAST change wins,
    // insert outranking delete within one commit (a merge emits both
    // for an updated key at the same version — the post-image is the
    // survivor). Increment-sized window, never a source rescan.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_commit_version").desc, when(ct === "insert", 0).otherwise(1))
    // the net-change frame feeds the touched-key set, the transformed
    // inserts AND the keyed rewrite's internal jobs — one evaluation
    // (eager localCheckpoint), increment-sized by construction
    val last = feed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(true)
    // touched keys come from the RAW feed (not the transform): an
    // update whose post-image the transform filters OUT must still
    // retract the pre-image the view holds
    val touchedKeys = last.select(keys.map(col): _*)
    val netInserts = transform(last.filter(ct === "insert").drop(meta: _*))
    val committed = CommitLog.keyedRewrite(spark, viewTable, snap,
      netInserts.schema, keys,
      deleteKeys = touchedKeys, appendDf = netInserts,
      opTag = Some(s"$TagPrefix$srcVersion"), publisher = publisher,
      abortOnLostRace = fence)
    Some(if (committed.isDefined) srcVersion
      else CommitLog.lastConsumed(spark, viewTable))
  }

  /** Re-bootstrap from a full snapshot read — the recovery path after
    * a source DELETE (or any feed gap): the view is REWRITTEN to
    * transform(snapshot) in one atomic commit that also re-bases the
    * checkpoint at the snapshot's version. The rebuilt rows obey the
    * view's own write rules (column mapping, generated columns,
    * clustering, CHECK constraints, bloom options) like any append. */
  def rebuild(spark: SparkSession, srcTable: String, srcSchema: StructType,
      viewTable: String, transform: DataFrame => DataFrame,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    // the source is read AT the version the tag records: a source
    // commit landing in between would otherwise be in the rebuilt rows
    // AND re-applied by the next refresh
    val srcVersion = CommitLog.latestVersion(spark, srcTable)
    val rows = transform(CommitLog.read(spark, srcTable, srcSchema, asOf = srcVersion))
    // land the rebuilt rows, then publish adds + removes-of-everything
    // as ONE commit: readers see the old view or the rebuilt view,
    // never a mix, and the tag re-bases the consumer checkpoint
    val snap = CommitLog.snapshot(spark, viewTable)
    CommitLog.appendOrAbort(rows, viewTable, snap, publisher,
      opTag = Some(s"$TagPrefix$srcVersion"), abortOnLostRace = _ => false,
      removes = snap.live.map(_.name))
      .getOrElse(snap.version) // nothing to publish
  }
}
