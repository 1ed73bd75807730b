package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A logged table as a STREAMING SOURCE — the Delta-streaming-source
  * analog, closing the loop the engine already has in one direction
  * (stream → logged table via CommitLog.appendOnce): downstream
  * consumers `drain` a table's change feed in bounded micro-batches
  * and land each increment in their own logged table exactly-once.
  *
  * The consumption protocol is the IncrementalView one, rate-limited:
  *
  *  - OFFSETS are commit versions. The consumer checkpoint is the
  *    `consumed=<v>` tag riding the SINK table's own commits
  *    (CommitLog.lastConsumed) — the data and the "processed through
  *    v" claim publish in ONE atomic commit, so there is no dual-write
  *    window, no side checkpoint directory, and a crash at ANY point
  *    replays from the last landed increment (at-least-once delivery +
  *    idempotent fenced commit ≡ exactly-once, the same argument
  *    appendOnce makes on the txn= ledger).
  *  - Each micro-batch consumes at most `maxVersionsPerBatch` source
  *    versions via changesSince(asOf = bounded) — a consumer far
  *    behind catches up in bounded increments (bounded feed reads,
  *    bounded shuffle state) instead of one arbitrarily large replay.
  *  - Source DELETE/MERGE commits cross the feed as `delete` rows;
  *    with `keyCols` the increment applies net-last-change-per-key
  *    through the copy-on-write keyed rewrite — the downstream table
  *    tracks row-level retractions, not just appends.
  *  - ZOMBIE FENCING: two drivers draining the same sink can both read
  *    the same checkpoint; whichever loses the publish race re-reads
  *    the consumed ledger and aborts instead of double-applying
  *    (IncrementalView's fence, inherited).
  *
  * At 100 TB this is the incremental-pipeline spine: a curated corpus
  * table feeds scoring/packing/indexing stages that each wake up,
  * drain the increment, and go back to sleep — no rescans, no
  * hand-rolled refresh loops, retention failures loud (changesSince
  * names vacuumed files and pruned ranges instead of silently
  * skipping).
  *
  * Scope note: this driver-side loop is the LOGGED-SINK-OPTIMIZED
  * path — the checkpoint rides the sink's commit log, no second write
  * domain at all. The standard-API counterpart is
  * [[graft.sources.GraftLogStreamProvider]]
  * (`spark.readStream.format("graftlog")`): Spark's checkpoint tracks
  * offsets (at-least-once to ANY sink), and [[applyChangesOnce]] /
  * `CommitLog.appendOnce` restore exactly-once when the sink is a
  * logged table — the replayed batch fences on the sink's txn=
  * ledger, the same argument this loop makes on consumed=.
  */
object CdcStream {

  /** What a drain did: the source version consumed through and how
    * many micro-batches it took. */
  final case class Drained(consumedThrough: Long, nBatches: Long)

  /** Drain everything the source has committed that the sink has not
    * consumed, in micro-batches of at most `maxVersionsPerBatch`
    * source versions — `Trigger.AvailableNow` semantics over the
    * change feed. `transform` is the per-increment stage (stateless
    * per-row maps/filters; it must carry `keyCols` through unchanged
    * for rows it keeps). `afterBatch(batchNo, consumedThrough)` is the
    * crash-injection / progress hook — a throw there leaves the
    * already-committed increments durable, and the next drain resumes
    * from the sink's own ledger. */
  def drain(spark: SparkSession, srcTable: String, srcSchema: StructType,
      sinkTable: String, transform: DataFrame => DataFrame,
      keyCols: Option[Seq[String]] = None,
      maxVersionsPerBatch: Long = 10L,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      afterBatch: (Long, Long) => Unit = (_, _) => ()): Drained = {
    require(maxVersionsPerBatch > 0,
      s"maxVersionsPerBatch must be positive: $maxVersionsPerBatch")
    var batches = 0L
    var consumed = CommitLog.lastConsumed(spark, sinkTable)
    var more = true
    while (more) {
      IncrementalView.refresh(spark, srcTable, srcSchema, sinkTable,
        transform, publisher, keyCols,
        maxVersions = Some(maxVersionsPerBatch)) match {
        case Some(v) =>
          batches += 1
          consumed = v
          afterBatch(batches, v)
        case None => more = false
      }
    }
    Drained(consumed, batches)
  }

  /** The `foreachBatch` bridge for the DSv1/DSv2 streaming source
    * ([[graft.sources.GraftLogStreamProvider]]): apply ONE micro-batch
    * of change-feed rows (data columns + `_change_type` +
    * `_commit_version`) to a logged sink table EXACTLY-ONCE. Spark's
    * checkpoint makes delivery at-least-once (a batch that fails after
    * side effects replays), so the idempotence claim rides the sink's
    * own commit as a `txn=<queryId>:<batchId>` tag — appendOnce's
    * argument, extended to keyed rewrites: net-last-change-per-key
    * within the batch (insert outranks delete at the same version —
    * a merge's post-image wins), touched keys swap out via the keyed
    * copy-on-write rewrite, and a replayed or zombie batch finds the
    * ledger at or past its id and aborts. `transform` follows
    * IncrementalView's per-row contract: applied to net INSERTS only
    * (a filtered-out post-image still retracts its pre-image), key
    * columns carried through unchanged. Returns the sink version won,
    * or None for a replay skip. */
  def applyChangesOnce(spark: SparkSession, sinkTable: String,
      schema: StructType, keyCols: Seq[String], batch: DataFrame,
      queryId: String, batchId: Long,
      transform: DataFrame => DataFrame = identity,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      deletionVectors: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.{col, row_number, when}
    require(!queryId.exists(c => c.isWhitespace || c == ':'),
      s"queryId must be whitespace/colon-free: $queryId")
    require(keyCols.nonEmpty, "applyChangesOnce needs key columns")
    val snap = CommitLog.snapshot(spark, sinkTable)
    if (batchId <= snap.lastTxnBatch(queryId)) return None
    val ct = col(CommitLog.ChangeTypeCol)
    val meta = Seq(CommitLog.ChangeTypeCol, "_commit_version")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("_commit_version").desc, when(ct === "insert", 0).otherwise(1))
    val last = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
      .localCheckpoint(true)
    val touchedKeys = last.select(keyCols.map(col): _*)
    val netInserts = transform(last.filter(ct === "insert").drop(meta: _*))
      .select(schema.fieldNames.map(col).toSeq: _*)
    // deletionVectors: the sink applies the increment MERGE-ON-READ —
    // touched keys vector out instead of rewriting their files (the
    // 100 TB keyed-replication shape; absorb with OPTIMIZE)
    CommitLog.keyedRewrite(spark, sinkTable, snap, schema, keyCols,
      deleteKeys = touchedKeys, appendDf = netInserts,
      opTag = Some(s"txn=$queryId:$batchId"), publisher = publisher,
      abortOnLostRace = batchId <= _.lastTxnBatch(queryId),
      deletionVectors = deletionVectors)
  }

  /** [[drain]] with FRESH-CONSUMER bootstrap: a sink that has consumed
    * NOTHING yet pointed at a source whose early feed range is gone
    * (vacuumed files / pruned commits — the retention contract) is not
    * an error, it is day one — recover by `rebuild` (one atomic
    * snapshot commit that also re-bases the checkpoint at the current
    * source version) and drain any tail from there. A sink that HAS
    * consumed and then fell behind retention keeps the loud failure:
    * its rows may now be unreconstructible increments, and silently
    * rebuilding would mask real data loss — the operator chooses
    * rebuild explicitly. */
  def drainWithBootstrap(spark: SparkSession, srcTable: String,
      srcSchema: StructType, sinkTable: String,
      transform: DataFrame => DataFrame,
      keyCols: Option[Seq[String]] = None,
      maxVersionsPerBatch: Long = 10L,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Drained = {
    // freshness is judged BEFORE draining: a day-one consumer may
    // consume a few early batches and then hit the trimmed range —
    // still day one (rebuild replaces the sink atomically, nothing is
    // lost), whereas a sink that arrived with history keeps the loud
    // contract
    val startedFresh = CommitLog.lastConsumed(spark, sinkTable) == 0L
    try drain(spark, srcTable, srcSchema, sinkTable, transform, keyCols,
      maxVersionsPerBatch, publisher)
    catch {
      // the gap is a TYPE (changesSince's contract), not message text —
      // a rewording there can no longer silently disable this path
      case _: FeedGapException if startedFresh =>
        IncrementalView.rebuild(spark, srcTable, srcSchema,
          sinkTable, transform, publisher)
        val tail = drain(spark, srcTable, srcSchema, sinkTable, transform,
          keyCols, maxVersionsPerBatch, publisher)
        Drained(CommitLog.lastConsumed(spark, sinkTable),
          tail.nBatches + 1) // the bootstrap commit counts as a batch
    }
  }
}
