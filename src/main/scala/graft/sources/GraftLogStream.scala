package graft.sources

import graft.store.CommitLog
import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, RelationProvider, SchemaRelationProvider}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The logged table as a STANDARD Spark streaming source:
  * `readStream.format("graftlog").load(tablePath)` — the
  * composability layer `CdcStream`'s driver-side drain deliberately
  * defers (CdcStream.scala scope note): any Spark sink now consumes
  * the change feed — `foreachBatch`, console, memory, files — with
  * Spark's own checkpoint tracking offsets.
  *
  * Semantics:
  *  - OFFSETS are commit versions (`LongOffset(v)`); a batch
  *    (start, end] is exactly `CommitLog.changesSince(start, asOf =
  *    end)` — inserts from appends, insert+delete pairs from
  *    merge/delete commits, compactions feed nothing. Rows carry
  *    `_change_type` and `_commit_version` alongside the data columns
  *    (the Delta CDF streaming shape).
  *  - DELIVERY is at-least-once to arbitrary sinks (Spark commits its
  *    offset log AFTER the sink's side effects); exactly-once is
  *    preserved when the sink lands each batch through the logged
  *    table's txn= ledger — `CommitLog.appendOnce` for append-only
  *    consumption, [[graft.store.CdcStream.applyChangesOnce]] for
  *    keyed feeds with deletes.
  *  - RATE LIMITING + AvailableNow ride the admission-control seam
  *    (the FileStreamSource pattern): the source implements
  *    `SupportsAdmissionControl`, so Spark hands each
  *    `latestOffset(start, limit)` call the PREVIOUS batch's end —
  *    no source-side offset state to lose across restarts — and
  *    `maxVersionsPerTrigger` bounds the window.
  *    `SupportsTriggerAvailableNow` snapshots the drain goal at query
  *    start, so `Trigger.AvailableNow` drains the whole backlog in
  *    bounded batches and stops.
  *  - `startingVersion` (default 0) skips history: 0 replays the
  *    whole feed (the bootstrap-by-replay path — loud
  *    FeedGapException if retention already trimmed it).
  *
  * At 100 TB the feed is log-shaped, never table-shaped: each batch
  * reads only the files its version range committed, so a caught-up
  * consumer does increment-sized work per trigger regardless of table
  * size. */
class GraftLogStreamProvider extends StreamSourceProvider with DataSourceRegister
    with RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSinkProvider {
  import GraftLogStreamProvider._

  override def shortName(): String = "graftlog"

  // ── streaming SINK: `df.writeStream.format("graftlog")` ────────────
  // Append mode lands every micro-batch through the txn= ledger
  // (CommitLog.appendOnce keyed on Spark's own streaming query id +
  // batch id), so a batch whose offset commit was lost to a crash
  // replays as a NO-OP — exactly-once into the logged table with
  // Spark's checkpoint as the only extra state. Complete mode maps
  // each emitted result to an atomic full replace
  // (CommitLog.overwrite) — replay-idempotent by construction, the
  // natural landing for streaming aggregations. Update mode is the
  // KEYED upsert (`option("keys", "a,b")` — CommitLog.upsertOnce):
  // each batch's changed rows swap out their keys copy-on-write with
  // the txn claim riding the same commit, so a streaming aggregation
  // can land incrementally instead of replacing the world per trigger.
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graftlog sink does not support partitionBy — cluster with " +
        "compaction (Z-order) instead; stats pruning replaces partition dirs")
    val path = graft.store.GraftSql.resolvePath(
      sqlContext.sparkSession, pathOf(parameters))
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    def keys = opts.getOrElse("keys",
      throw new IllegalArgumentException(
        "graftlog Update-mode sink needs its upsert keys: " +
          ".option(\"keys\", \"a,b\")"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    if (outputMode == OutputMode.Append())
      new GraftLogSink(path, GraftLogSink.Append, Seq.empty)
    else if (outputMode == OutputMode.Complete())
      new GraftLogSink(path, GraftLogSink.Complete, Seq.empty)
    else if (outputMode == OutputMode.Update())
      new GraftLogSink(path, GraftLogSink.Update, keys)
    else throw new IllegalArgumentException(
      s"graftlog sink supports Append (exactly-once ledger append), " +
        s"Complete (atomic overwrite per trigger), and Update (keyed " +
        s"upsert via option(\"keys\", …)); got $outputMode")
  }

  // ── batch surface (see GraftLogBatch): snapshot reads with
  // log-stats file skipping + time travel, logged writes ─────────────

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    GraftLogBatch.relation(sqlContext.sparkSession, parameters, None)

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String], schema: StructType): BaseRelation =
    GraftLogBatch.relation(sqlContext.sparkSession, parameters, Some(schema))

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    GraftLogBatch.write(sqlContext.sparkSession, mode, parameters, data)
    GraftLogBatch.relation(sqlContext.sparkSession, parameters, None)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    (shortName(), feedSchema(dataSchema(spark,
      graft.store.GraftSql.resolvePath(spark, pathOf(parameters)), schema)))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = graft.store.GraftSql.resolvePath(spark, pathOf(parameters))
    val maxV = opts.get("maxversionspertrigger").map(_.toLong)
      .getOrElse(Long.MaxValue)
    require(maxV > 0, s"maxVersionsPerTrigger must be positive: $maxV")
    val maxB = opts.get("maxbytespertrigger").map(_.toLong)
      .getOrElse(Long.MaxValue)
    require(maxB > 0, s"maxBytesPerTrigger must be positive: $maxB")
    val startV = opts.get("startingversion").map(_.toLong).getOrElse(0L)
    require(startV >= 0, s"startingVersion must be >= 0: $startV")
    new GraftLogSource(spark, path, dataSchema(spark, path, schema),
      maxV, startV, maxB)
  }
}

object GraftLogStreamProvider {
  private[sources] def pathOf(parameters: Map[String, String]): String =
    parameters.map { case (k, v) => k.toLowerCase -> v }.getOrElse("path",
      throw new IllegalArgumentException(
        "graftlog source needs a table path: .load(\"/path/to/table\")"))

  /** The DATA schema: caller-supplied, else the one bootstrap rule
    * ([[CommitLog.tableSchema]]: the schema ledger, else the newest
    * live file's footer). */
  private[sources] def dataSchema(spark: SparkSession, tablePath: String,
      user: Option[StructType]): StructType =
    user.getOrElse(CommitLog.tableSchema(spark, tablePath))

  /** What the stream delivers: data columns + the CDC metadata pair. */
  private[sources] def feedSchema(data: StructType): StructType =
    StructType(data.fields :+
      StructField(CommitLog.ChangeTypeCol, StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
}

/** See [[GraftLogStreamProvider]]. Offset bookkeeping lives entirely
  * in Spark's checkpoint: `latestOffset(start, _)` receives the prior
  * batch's end, so a restarted query resumes its window with no
  * source-side state. */
class GraftLogSource(spark: SparkSession, tablePath: String,
    dataSchema: StructType, maxVersionsPerTrigger: Long,
    startingVersion: Long, maxBytesPerTrigger: Long = Long.MaxValue)
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  override val schema: StructType = GraftLogStreamProvider.feedSchema(dataSchema)

  // Trigger.AvailableNow snapshots its drain goal ONCE at query start;
  // every subsequent window is capped by it, so the query provably
  // terminates even while writers keep committing.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(CommitLog.latestVersion(spark, tablePath))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset from the checkpoint
  }

  /** The next batch's end version: previous end (Spark-supplied) plus
    * at most `maxVersionsPerTrigger`, capped at the table's latest
    * commit (and the AvailableNow snapshot when one is armed), then
    * shrunk to the byte budget when `maxBytesPerTrigger` is set. Null =
    * nothing to read yet.
    *
    * Byte admission is a SOFT max (the Delta contract): versions admit
    * in order while the cumulative LOG-CARRIED add bytes fit the
    * budget, from one commit-file read per ADMITTED version plus the
    * first over-budget one (the walk stops there; a large backlog
    * behind a small budget drains in O(n) total log reads) — zero
    * data I/O on the admission path. At least one version always
    * admits (progress guarantee — a single commit larger than the
    * budget must not wedge the stream), and a version whose add sizes
    * predate size recording is OPAQUE: it admits alone rather than
    * being undercounted into an unbounded batch. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val latestRaw = CommitLog.latestVersion(spark, tablePath)
    val latest = availableNowCap.fold(latestRaw)(math.min(latestRaw, _))
    val base = math.max(
      Option(startOffset).map(versionOf).getOrElse(startingVersion),
      startingVersion)
    val window =
      if (maxVersionsPerTrigger > Long.MaxValue - base) Long.MaxValue
      else base + maxVersionsPerTrigger
    val capped = math.max(base, math.min(latest, window))
    val end =
      if (maxBytesPerTrigger == Long.MaxValue || capped <= base) capped
      else
        // budget-bounded walk, stops reading at the first over-budget
        // version (O(admitted) commit reads per trigger, not
        // O(backlog)); a commit file missing from the walked prefix
        // (pruned past a checkpoint) admits the whole window
        // UNBUDGETED so getBatch raises the loud FeedGapException
        // re-bootstrap contract — budgeting over the surviving files
        // would silently return no-progress forever
        CommitLog.admitByBytes(spark, tablePath, base, capped,
          maxBytesPerTrigger).getOrElse(capped)
    if (end <= startingVersion) null else LongOffset(end)
  }

  /** Unused once `SupportsAdmissionControl` is detected (Spark prefers
    * `latestOffset`); kept correct for completeness. */
  override def getOffset: Option[OffsetV1] = {
    val latest = CommitLog.latestVersion(spark, tablePath)
    if (latest <= startingVersion) None else Some(LongOffset(latest))
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val since = start.map(o => versionOf(o: OffsetV2)).getOrElse(startingVersion)
    val until = versionOf(end: OffsetV2)
    StreamingShim.asStreaming(
      CommitLog.changesSince(spark, tablePath, since, dataSchema, asOf = until))
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftLogSource[$tablePath]"
}

/** See [[GraftLogStreamProvider.createSink]]. The addBatch frame is
  * re-wrapped as a batch plan (StreamingShim.asBatch — the V1-sink
  * bridge) so the commit-log writer can land it; the query id rides
  * the `sql.streaming.queryId` local property StreamExecution sets on
  * the addBatch thread, stable across restarts from one checkpoint. */
class GraftLogSink(tablePath: String, mode: GraftLogSink.Mode,
    keys: Seq[String]) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = StreamingShim.asBatch(data)
    def queryId = {
      val qid = data.sparkSession.sparkContext
        .getLocalProperty("sql.streaming.queryId")
      require(qid != null,
        "graftlog sink: no sql.streaming.queryId on the addBatch thread — " +
          "not running inside a streaming query?")
      qid
    }
    mode match {
      case GraftLogSink.Complete => CommitLog.overwrite(batch, tablePath); ()
      case GraftLogSink.Append =>
        CommitLog.appendOnce(batch, tablePath, queryId, batchId); ()
      case GraftLogSink.Update =>
        CommitLog.upsertOnce(batch, tablePath, keys, queryId, batchId); ()
    }
  }

  override def toString: String = s"GraftLogSink[$tablePath, $mode]"
}

object GraftLogSink {
  sealed trait Mode
  case object Append extends Mode
  case object Complete extends Mode
  case object Update extends Mode
}
