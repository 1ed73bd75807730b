package graft.streaming

import graft.core.Task
import graft.exec.Execute
import graft.store.{CommitLog, Store}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import java.nio.file.Files

/** Structured-Streaming surface (SURVEY.md §2.8 T1/T2/T6, §2.1 S2–S4,
  * plus the event-time extension the reference lacks).
  *
  * Reference orchestration → Spark mapping:
  *  - 30 s tasker poll ticker (cmd/tasker.go:85-98)      → Trigger.ProcessingTime("30 seconds")
  *  - SQS drain-all (pkg/aws/sqs.go:134-162)             → Trigger.AvailableNow
  *  - SPOPN batch-size rate limit (resource.go:54-75)    → maxFilesPerTrigger source option
  *  - batch failure → re-add + retry (tasker/service.go:47-51) → micro-batch retry from checkpoint
  *  - .chstate.json stage persistence (persistance.go)   → checkpointLocation (offsets + state)
  *  - visibility-timeout lease (T4)                      → idempotent sink (anti-join vs task_done)
  *
  * Event-time semantics (watermarks, windows, streaming dedup) have no
  * reference analog (SURVEY §2.8: "absent") — they are the §2.9/§7
  * extension surface, exercised over the `events` fixture.
  */
object StreamingJobs {

  /** T1 — the tasker's production cadence. Tests/queries use
    * AvailableNow to drain deterministically. */
  val PollTrigger: Trigger = Trigger.ProcessingTime("30 seconds")

  private def tmpCheckpoint(tag: String): String =
    Files.createTempDirectory(s"graft_ckpt_$tag").toString

  /** File-source stream over one fixture table. The fixture parquet
    * carries TIMESTAMP(NANOS), which the streaming parquet source
    * rejects, so the table is staged once into a µs-timestamp copy —
    * split into several files so AvailableNow actually iterates
    * multiple micro-batches (maxFilesPerTrigger=1), exercising
    * incremental state, not a single-batch degenerate run. The stage is
    * content-keyed (graft.store.Staging): regenerating the fixture in
    * place gets a fresh copy, never a silent stale reuse. */
  def tableStream(spark: SparkSession, sfDir: String, table: String,
      parts: Int = 4, maxFilesPerTrigger: Int = 1): DataFrame = {
    val stage = graft.store.Staging.contentKeyed(
      spark, s"$sfDir/$table.parquet",
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_src",
      salt = s"$table|$parts") { tmp =>
      graft.Tables.load(spark, sfDir, table)
        .repartition(parts)
        .write.mode("overwrite").parquet(tmp)
    }
    // content-keyed stage path → Tables.readCached can never serve a
    // stale schema; saves the per-run footer-inference job
    val schema = graft.Tables.readCached(spark, stage).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stage)
  }

  /** Fixed mtime base for time-ordered staged files (any stable past
    * instant works; the file source only compares mtimes relatively,
    * and the spread stays far under its 7-day maxFileAge horizon). */
  private val OrderedMtimeBase = 1600000000000L

  /** Time-ordered file-source stream: the table is staged as
    * range-sliced files (repartitionByRange on the event-time column,
    * sorted within each slice) whose modification times are sequenced
    * in range order, so the file source's mtime-ordered listing
    * replays the table in EVENT-TIME order — the arrival contract a
    * watermark assumes (disorder bounded by the delay). The unordered
    * `tableStream` staging deliberately violates that contract (its
    * out-of-order pressure is what the Complete-mode drains and the
    * lateness spec exercise; Complete mode never drops late rows).
    * Append-mode drains MUST use this source: replaying 30 days of
    * disordered files against a 1-hour watermark is not a flake but a
    * semantic loss — the watermark races to (global max − delay) after
    * the first micro-batch carrying near-max timestamps, and every
    * later batch is correctly dropped as late. A production Append
    * deployment has the same obligation: its ingest feed must bound
    * disorder by the delay budget, or widen the budget. */
  def tableStreamTimeOrdered(spark: SparkSession, sfDir: String, table: String,
      tsCol: String, parts: Int = 6, maxFilesPerTrigger: Int = 2): DataFrame = {
    val stage = graft.store.Staging.contentKeyed(
      spark, s"$sfDir/$table.parquet",
      s"${System.getProperty("java.io.tmpdir")}/graft_stream_src",
      salt = s"$table|$parts|ordered:$tsCol") { tmp =>
      graft.Tables.load(spark, sfDir, table)
        .repartitionByRange(parts, col(tsCol))
        .sortWithinPartitions(tsCol)
        .write.mode("overwrite").parquet(tmp)
      // sequence mtimes in range order (part file index = range
      // partition index); rename-publish preserves them
      val p = new org.apache.hadoop.fs.Path(tmp)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName).zipWithIndex
        .foreach { case (st, i) =>
          fs.setTimes(st.getPath, OrderedMtimeBase + i * 60000L, -1) }
    }
    val schema = graft.Tables.readCached(spark, stage).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(stage)
  }

  /** Run a streaming frame into an in-memory sink until AvailableNow
    * drains, then return the sink contents as a batch frame. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame =
    runToMemoryWithQuery(df, name, mode)._1

  /** State partition count for the drain harness. A stateful operator
    * instantiates ONE state store per shuffle partition and every
    * micro-batch pays a commit (delta file + snapshot bookkeeping) per
    * instance, so the per-trigger floor scales with the partition
    * count, not the data: at the drain's state volume the batch-side
    * default (32) is almost entirely fixed cost. Real deployments size
    * this to state volume the same way — it is a per-query sizing
    * decision, frozen into the checkpoint at first start. 8 keeps the
    * state sharded (parallelism, skew) at a quarter of the commit
    * overhead; 4 measured no better — the lost processing parallelism
    * eats the commit savings. */
  private val StateShufflePartitions = 8

  /** runToMemory, additionally returning the TERMINATED query so
    * callers (the bounded-state StreamingSpec) can read its progress
    * history — state-store row counts, eviction counts. */
  def runToMemoryWithQuery(df: DataFrame, name: String,
      mode: OutputMode): (DataFrame, StreamingQuery) = {
    val conf = df.sparkSession.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", StateShufflePartitions.toString)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tmpCheckpoint(name))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      (df.sparkSession.table(name), q)
    } finally conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** The windowed-count streaming aggregation both output modes share:
    * event-time tumbling windows with a 1-hour watermark. */
  private[graft] def windowedEventCountsStream(spark: SparkSession,
      sfDir: String, ordered: Boolean = false): DataFrame =
    // 6 files, 2 per trigger: THREE micro-batches of incremental
    // window state (multi-batch increments are the semantics under
    // test; two would be the degenerate minimum), at half the fixed
    // per-trigger cost of file-at-a-time arrival — measured ~1 s/trigger
    // of offset-log + state commit overhead regardless of data volume; a
    // real deployment likewise sizes triggers by throughput, not one
    // file at a time. The dedup/lateness paths below keep
    // file-at-a-time arrival: their out-of-order pressure IS the
    // behavior under test. `ordered` selects the event-time-ordered
    // staging the Append drain requires (see tableStreamTimeOrdered).
    (if (ordered) tableStreamTimeOrdered(spark, sfDir, "events", "ts",
        parts = 6, maxFilesPerTrigger = 2)
     else tableStream(spark, sfDir, "events", parts = 6, maxFilesPerTrigger = 2))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("w.start").as("ts_bucket"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Event-time tumbling-window aggregation with a watermark: the
    * extension surface's flagship. Complete mode so the drained result
    * equals the batch aggregation exactly (append mode would hold back
    * the final unexpired window) — the ORACLE-DRAIN mode; a 24/7
    * deployment runs windowedEventCountsAppend, whose watermark evicts
    * state. */
  def windowedEventCounts(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(windowedEventCountsStream(spark, sfDir),
      "stream_window_agg_sink", OutputMode.Complete())

  /** The PRODUCTION mode of the windowed aggregation: Append output,
    * so each window is emitted exactly once — when the watermark passes
    * its end — and its state is EVICTED. State and sink stay bounded by
    * the watermark horizon over an unbounded run (StreamingSpec pins
    * eviction happening mid-drain), where Complete mode retains and
    * re-emits every window forever. The drained result is the
    * CLOSED-WINDOW PREFIX of the batch aggregation: windows with
    * end ≤ final watermark (= ms-floored max event time − 1 h; the
    * boundary is inclusive — Spark's state eviction predicate is
    * `window.end ≤ watermark`); the oracle applies the same cut.
    * Consumes the event-time-ordered staging: Append's late-row drop
    * is real semantics, so its input must honor the watermark's
    * bounded-disorder contract (tableStreamTimeOrdered's doc). */
  def windowedEventCountsAppend(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(windowedEventCountsStream(spark, sfDir, ordered = true),
      "stream_window_agg_append_sink", OutputMode.Append())

  /** Event-time SESSION windows per user — Spark's native gap-based
    * session_window aggregation (windows merge as events arrive; a
    * session closes when no event lands within the gap). The streaming
    * form of the batch gaps-and-islands sessionization, with one
    * boundary difference the oracle mirrors exactly: session_window
    * treats an event at preciselystart+gap as NON-overlapping (diff >=
    * gap starts a new session, where the islands form splits only on
    * diff > gap), and a session's end is last event + gap. Complete
    * mode so every merged session is in the drained result. */
  def sessionWindowTotals(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(sessionWindowStream(spark, sfDir),
      "stream_session_window_sink", OutputMode.Complete())

  /** The session-window streaming aggregation both output modes share;
    * `ordered` selects the event-time-ordered staging the Append drain
    * requires (see tableStreamTimeOrdered). */
  private[graft] def sessionWindowStream(spark: SparkSession,
      sfDir: String, ordered: Boolean = false): DataFrame =
    (if (ordered) tableStreamTimeOrdered(spark, sfDir, "events", "ts",
        parts = 6, maxFilesPerTrigger = 2)
     else tableStream(spark, sfDir, "events", maxFilesPerTrigger = 2))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"), col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** PRODUCTION mode of the session aggregation: Append output — a
    * session is emitted exactly once, when the watermark passes its end
    * (end = last event + gap), and its state is evicted; over an
    * unbounded run state is bounded by the sessions still open within
    * the watermark horizon. The drained result is the closed-session
    * prefix: session_end ≤ final watermark (ms-floored max event time
    * − 1 h, inclusive boundary — session ends carry µs precision, so
    * the ms flooring is part of the oracle's cut too). */
  def sessionWindowTotalsAppend(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(sessionWindowStream(spark, sfDir, ordered = true),
      "stream_session_window_append_sink", OutputMode.Append())

  /** Streaming exact dedup within the watermark: the stream is unioned
    * with itself (every event arrives twice) and
    * dropDuplicatesWithinWatermark must emit each exactly once. The
    * delay budget covers the fixture's whole event-time span (30 days)
    * because the staged files arrive in arbitrary time order — with a
    * smaller budget the watermark would race ahead and correctly drop
    * out-of-order events as late, breaking stream≡batch equality (that
    * lateness behavior is pinned separately in StreamingSpec). */
  def dedupedEventCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val s1 = tableStream(spark, sfDir, "events")
    val s2 = tableStream(spark, sfDir, "events")
    val deduped = s1.unionAll(s2)
      .withWatermark("ts", "800 hours")
      .dropDuplicatesWithinWatermark("event_id")
    val emitted = runToMemory(deduped, "stream_dedup_sink", OutputMode.Append())
    emitted.groupBy("event_type")
      .agg(count(lit(1)).as("n_unique"))
  }

  /** Custom streaming state via flatMapGroupsWithState (the T8-adjacent
    * "arbitrary stateful" surface): a per-user running aggregate
    * carried in GroupState across micro-batches. Each batch emits the
    * user's updated running totals; the LAST emission per user (highest
    * n) is the final aggregate, which the batch oracle recomputes. */
  final case class UserAgg(n: Long, total: Double)

  /** Streaming corpus curation: the quality/lang scoring kernels
    * applied INSIDE a Structured Streaming query — documents arrive as
    * micro-batches, each batch is scored and filtered statelessly
    * (append mode, no watermark needed), and the drained keep-set is
    * aggregated per language. This is the incremental form of the
    * corpus_curation scoring stage: at scale a curation pipeline runs
    * exactly like this over a landing zone instead of re-scanning the
    * full corpus per run. The oracle recomputes the same filter over
    * the whole table — stream ≡ batch for stateless transforms. */
  def streamingQualityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // explicit: the scoring kernels resolve registered SQL functions,
    // and this query's only table access is the staged stream — on a
    // warm stage cache nothing else would have registered them
    graft.functions.GraftFunctions.register(spark)
    val scored = tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2)
      .select(col("doc_id"), col("lang"),
        graft.text.TextOps.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.6)
    val emitted = runToMemory(scored, "stream_quality_sink", OutputMode.Append())
    emitted.groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), avg(col("quality")).as("avg_quality"))
  }

  /** Incrementally-maintained corpus manifest: the per-source counts,
    * token totals, and BOTH content digests as a streaming aggregation
    * — possible precisely because the manifest's combines are all
    * commutative+mergeable (count, sum, bit_xor, and the sum-mod-2^60
    * digest taken after an overflow-free decimal sum), which is why
    * rowDigest was designed as an xor/sum pair rather than an ordered
    * hash chain. Each micro-batch folds its rows into running state;
    * the drained result must be bit-identical to the batch manifest
    * (shared oracle SQL — they cannot drift). */
  def streamingManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2)
      .select(col("source"),
        graft.text.TextOps.tokenCount(col("text")).as("tok"),
        graft.core.Hashing.rowDigest(col("doc_id"), col("text")).as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("total_tokens"),
        expr("bit_xor(h)").as("content_digest"),
        (sum(col("h").cast("decimal(38,0)")) % lit(BigDecimal(1152921504606846976L)))
          .cast("long").as("content_digest_sum"))
    runToMemory(agg, "stream_manifest_sink", OutputMode.Complete())
  }

  /** Stream → LOGGED TABLE through the exactly-once sink
    * (CommitLog.appendOnce): each micro-batch lands as one atomic
    * tagged commit, and a batch that fails AFTER its commit (the worst
    * case: work durable, source offset not) replays on restart and is
    * skipped by its own `txn=` tag — at-least-once delivery +
    * idempotent commit ≡ effective exactly-once, the same contract the
    * execute pipeline gets from its done-anti-join, here provided by
    * the storage layer itself. `failAfterBatch` injects that exact
    * crash point; the caller restarts with the same checkpoint and the
    * drained table must hold every source row exactly once. */
  def streamToLoggedTable(spark: SparkSession, sfDir: String,
      tablePath: String, checkpoint: String,
      failAfterBatch: Long => Unit = _ => ()): StreamingQuery =
    tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2)
      .select(col("doc_id"), col("source"), col("text"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // commit FIRST, then the injectable crash: the replay skip is
        // only proven if the failure lands after the durable side effect
        graft.store.CommitLog.appendOnce(batch, tablePath, "docs_sink", bid)
        failAfterBatch(bid)
        ()
      }
      .start()

  /** Streaming count-min sketch + heavy hitters: the sketch's counters
    * merge by plain addition, so maintaining it over a stream is a
    * vanilla streaming aggregation — each micro-batch folds its token
    * stream into the depth×width running counter table, state bounded
    * by depth×width FOREVER (the sketch's whole point: no watermark
    * needed, no unbounded keyspace — compare the vocabulary-sized
    * state an exact streaming token count would carry). The drained
    * sketch then feeds the same broadcast-join ranking as the batch
    * path (`CorpusOps.cmHeavyHittersFrom`), and the result must equal
    * the batch heavy hitters exactly (shared oracle SQL — the
    * streaming and batch sketches cannot drift because addition is
    * associative+commutative across any micro-batch arrival order). */
  def streamingCmHeavyHitters(spark: SparkSession, sfDir: String,
      k: Int = 50, depth: Int = 4, width: Int = 256): DataFrame = {
    val toks = graft.operators.CorpusOps.tokenStream(
      tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2), "text")
    val sketchAgg = graft.operators.CorpusOps.hashRows(toks, depth, width)
      .groupBy("d", "bucket").agg(count(lit(1)).as("c"))
    val sketch = runToMemory(sketchAgg, "stream_cm_sink", OutputMode.Complete())
    val candidates = graft.operators.CorpusOps.tokenStream(
      graft.Tables.load(spark, sfDir, "documents"), "text")
    graft.operators.CorpusOps.cmHeavyHittersFrom(sketch, candidates, k, depth, width)
  }

  /** Streaming deterministic HLL: the register table maintained as a
    * streaming aggregation — max merges monotonically, so per-group
    * state is bounded by the 2^b registers FOREVER (no watermark, no
    * unbounded keyspace — the count-min argument applied to distinct
    * counting), and the drained registers give the BIT-IDENTICAL
    * estimate the batch pass gives (shared oracle SQL; Hll.scala's
    * exact-harmonic-sum argument makes this equality exact, not
    * approximate). At scale this is a live distinct-users census per
    * group in 256 bytes of state each. */
  def streamingApproxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = graft.operators.Hll.registers(
      tableStream(spark, sfDir, "events", maxFilesPerTrigger = 2),
      Seq("event_type"), col("user_id"))
    val drained = runToMemory(regs, "stream_hll_sink", OutputMode.Complete())
    graft.operators.Hll.estimate(drained, Seq("event_type"))
  }

  /** Incremental MinHash-LSH near-dup detection: each micro-batch's
    * documents are banded by the per-row kernel, candidates are the
    * batch's band collisions against an AT-REST band index (plus
    * within-batch collisions), verified pairs append to a pairs table,
    * and the batch's own bands/texts then join the index — all three
    * logged tables, each batch landing through
    * [[graft.store.CommitLog.appendOnce]] under its batch id. This is how a
    * 100 TB corpus dedups its daily increment: the increment joins a
    * (band, bh)-keyed history index — work scales with the increment
    * and its collision set, never with a history rescan; history TEXT
    * is fetched for verified candidates only.
    *
    * Arrival-order independence (the correctness property the oracle
    * checks): every unordered pair sharing a band bucket is discovered
    * exactly once — when its LATER member arrives (new×history) or in
    * the shared batch (new×new) — so the drained pairs table equals the
    * batch LSH run, whatever the file order. No global bucket-size cap:
    * bucket sizes are unknowable mid-stream (the batch operator's skew
    * guard is a whole-corpus construct; an incremental deployment
    * bounds buckets by capping per-bucket index growth instead).
    *
    * Planted mutants (doc_id < 50 → +100000, one appended token) ride
    * in as a second stream so cross-batch recall is non-trivial. */
  def incrementalLshPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.6, numHashes: Int = 12, bands: Int = 4): DataFrame = {
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.types._
    GraftFunctions.register(spark)
    val stateRoot = Files.createTempDirectory("graft_inc_lsh").toString
    val bandIndexPath = s"$stateRoot/band_index"
    val docTextPath = s"$stateRoot/doc_texts"
    val pairsPath = s"$stateRoot/pairs"
    val bandsSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("bh", StringType)))
    val docsSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val pairsSchema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType), StructField("jaccard", DoubleType)))

    val originals = tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2)
      .select(col("doc_id"), col("text"))
    val mutants = tableStream(spark, sfDir, "documents", maxFilesPerTrigger = 2)
      .filter(col("doc_id") < 50)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" xtra")).as("text"))
    val q = originals.unionAll(mutants).writeStream
      .option("checkpointLocation", tmpCheckpoint("inc_lsh"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val s = batch.sparkSession
        GraftFunctions.register(s)
        // the batch feeds banding, verification texts, and the index
        // append — materialize once, not three source replays
        val docsB = batch.select("doc_id", "text").persist()
        docsB.count()
        // bandsB likewise has FOUR consumers (history join, both sides
        // of the within-batch self-join, index append): without its own
        // materialization the MinHash kernel re-runs over the batch
        // text per consumer — the diamond-recomputation class the
        // curation fix removed (round-5 review). Three scalar columns,
        // so the footprint is trivial next to the text.
        val bandsB = docsB.select(col("doc_id"),
          posexplode(GraftFunctions.minhashBands(col("text"), 2, numHashes, bands))
            .as(Seq("band", "bh")))
          .persist()
        bandsB.count()
        val histBands = CommitLog.read(s, bandIndexPath, bandsSchema)
        val histDocs = CommitLog.read(s, docTextPath, docsSchema)
        val newVsHist = bandsB.as("n").join(histBands.as("h"),
            col("n.band") === col("h.band") && col("n.bh") === col("h.bh"))
          .select(least(col("n.doc_id"), col("h.doc_id")).as("id_a"),
            greatest(col("n.doc_id"), col("h.doc_id")).as("id_b"))
        val newVsNew = bandsB.as("a").join(bandsB.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        val cand = newVsHist.unionAll(newVsNew).distinct()
        val texts = histDocs.unionAll(docsB)
        val verified = cand
          .join(texts.select(col("doc_id").as("id_a"), col("text").as("text_a")), "id_a")
          .join(texts.select(col("doc_id").as("id_b"), col("text").as("text_b")), "id_b")
          .select(col("id_a"), col("id_b"),
            GraftFunctions.shingleJaccard(col("text_a"), col("text_b"), 2).as("jaccard"))
          .filter(col("jaccard") >= threshold)
        // pairs FIRST (it reads the pre-batch index state), THEN the
        // batch joins the index — reversing this would double-discover
        // within-batch pairs through the history join. Each table's
        // commit claims the batch id, so a replayed batch lands nothing
        // twice
        CommitLog.appendOnce(verified, pairsPath, "inc_lsh_pairs", bid)
        CommitLog.appendOnce(bandsB, bandIndexPath, "inc_lsh_bands", bid)
        CommitLog.appendOnce(docsB, docTextPath, "inc_lsh_docs", bid)
        bandsB.unpersist()
        docsB.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
    CommitLog.read(spark, pairsPath, pairsSchema)
  }

  /** Streaming incremental IMAGE near-dup — [[incrementalLshPairs]]'s
    * multimodal sibling, run the way an ingest pipeline actually runs
    * the banded operators: the corpus-so-far's dHash band entries live
    * AT REST in a LOGGED index table; arrival micro-batches (binary
    * image payloads) decode → hash inside `foreachBatch`, probe the
    * at-rest index for cross-batch pairs (work = increment × matched
    * buckets, never a corpus rescan), pair within the batch, land the
    * verified pairs through [[graft.store.CommitLog.appendOnce]]'s
    * exactly-once txn claim, and only THEN append their own bands
    * (also exactly-once) — so a crash-replayed batch can duplicate
    * neither pairs nor band entries, whichever side of the crash the
    * commits landed on.
    *
    * Arrival-order independence (the property the shared oracle
    * checks): every qualifying pair is discovered exactly once — when
    * its later member arrives (new×index) or within the shared batch
    * (new×new) — so the drained pairs table equals the batch run over
    * the same corpus under ANY file order; original×original pairs are
    * never probed (the bootstrap set only ever sits on the index side).
    *
    * `crashAfter(batchId, stage)` is the failure injector — called
    * with stage "pairs" after the pairs commit and "bands" after the
    * band-index commit, the two durable-side-effect edges a replay
    * must fence. Re-invoking with the same `stateRoot`/`checkpoint`
    * resumes from the Spark checkpoint; the bootstrap and staging are
    * idempotent (existence-guarded). */
  def incrementalPhashRun(spark: SparkSession, stateRoot: String,
      checkpoint: String,
      crashAfter: (Long, String) => Unit = (_, _) => ()): StreamingQuery = {
    import graft.multimodal.{ImageFixture, Multimodal}
    val originals = mediaScan(spark, ImageFixture.ensure(), "img_(\\d+)", 0L)
      .filter(col("doc_id") % 3 =!= 2)
    incrementalBandedRun(spark, stateRoot, checkpoint,
      originals = originals,
      stageArrivals = () => originals.filter(col("doc_id") < 24)
        .select((col("doc_id") + 1000).as("doc_id"), col("content"))
        .unionByName(mediaScan(spark, ImageFixture.ensureVariants(),
          "var_(\\d+)", 2000L)),
      hasher = ds => {
        import spark.implicits._
        Multimodal.dHashes(ds.as[Multimodal.MediaIn]).toDF()
      },
      tagPrefix = "phash", maxDistance = 3, crashAfter = crashAfter)
  }

  /** [[incrementalPhashRun]] for the AUDIO print family: the same
    * at-rest banded index, probe-then-append exactly-once loop, and
    * crash fences, with PCM energy fingerprints
    * ([[graft.multimodal.Multimodal.audioFingerprints]]) as the hash.
    * Originals bootstrap the index; arrivals are exact copies (+1000)
    * and the one-sample-muted variants (+2000), mirroring the batch
    * `multimodal_audio_fingerprint` corpus so the shared oracle can
    * replay the arrival-restricted pair set. */
  def incrementalAudioRun(spark: SparkSession, stateRoot: String,
      checkpoint: String,
      crashAfter: (Long, String) => Unit = (_, _) => ()): StreamingQuery = {
    import graft.multimodal.{AudioFixture, Multimodal}
    val originals = mediaScan(spark, AudioFixture.ensure(), "clip_(\\d+)", 0L)
    incrementalBandedRun(spark, stateRoot, checkpoint,
      originals = originals,
      stageArrivals = () => originals
        .select((col("doc_id") + 1000).as("doc_id"), col("content"))
        .unionByName(mediaScan(spark, AudioFixture.ensureVariants(),
          "var_(\\d+)", 2000L)),
      hasher = ds => {
        import spark.implicits._
        Multimodal.audioFingerprints(ds.as[Multimodal.MediaIn]).toDF()
      },
      tagPrefix = "audio", maxDistance = 3, crashAfter = crashAfter)
  }

  /** [[incrementalPhashRun]] for the VIDEO container-fingerprint
    * family: stsz sample-size prints
    * ([[graft.multimodal.Multimodal.videoFingerprints]]) through the
    * same at-rest index loop. Originals bootstrap; arrivals are exact
    * copies (+1000) and one-sample-grown variants (+2000), mirroring
    * the batch `multimodal_video_fingerprint` corpus. */
  def incrementalVideoRun(spark: SparkSession, stateRoot: String,
      checkpoint: String,
      crashAfter: (Long, String) => Unit = (_, _) => ()): StreamingQuery = {
    import graft.multimodal.{Multimodal, VideoFixture}
    val originals = mediaScan(spark, VideoFixture.ensureFingerprintSet(),
      "fvid_(\\d+)", 0L)
    incrementalBandedRun(spark, stateRoot, checkpoint,
      originals = originals,
      stageArrivals = () => originals
        .select((col("doc_id") + 1000).as("doc_id"), col("content"))
        .unionByName(mediaScan(spark, VideoFixture.ensureFingerprintVariants(),
          "fvar_(\\d+)", 2000L)),
      hasher = ds => {
        import spark.implicits._
        Multimodal.videoFingerprints(ds.as[Multimodal.MediaIn]).toDF()
      },
      tagPrefix = "video", maxDistance = 3, crashAfter = crashAfter)
  }

  /** (doc_id, content) frame from a binary media fixture directory. */
  private def mediaScan(spark: SparkSession, dir: String, pat: String,
      offset: Long): DataFrame =
    graft.multimodal.Multimodal.scanBinary(spark, dir)
      .select((regexp_extract(col("key"), pat, 1).cast("long") + offset)
        .as("doc_id"), col("content"))

  /** The modality-generic incremental banded dedup loop both
    * [[incrementalPhashRun]] and [[incrementalAudioRun]] drive —
    * `hasher` is the only modality-specific step (payload → 64-bit
    * print), everything about the exactly-once protocol is shared. */
  private def incrementalBandedRun(spark: SparkSession, stateRoot: String,
      checkpoint: String, originals: DataFrame,
      stageArrivals: () => DataFrame,
      hasher: DataFrame => DataFrame, tagPrefix: String,
      maxDistance: Int,
      crashAfter: (Long, String) => Unit): StreamingQuery = {
    import graft.multimodal.Multimodal
    val idxTable = s"$stateRoot/band_index"
    val pairsTable = s"$stateRoot/pairs"
    val arrivals = s"$stateRoot/arrivals"
    val fs = new org.apache.hadoop.fs.Path(stateRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // bootstrap the at-rest index once per stateRoot, FENCED by its
    // own txn claim: "log exists = bootstrap complete" stopped being
    // true when the band-count claim moved BEFORE the first append (a
    // crash in that window leaves an empty stamped table — a restart
    // gating on log existence would run forever against an index
    // missing every original). The completion marker is the
    // exactly-once ledger itself: a restart re-invokes
    // unconditionally, appendOnce's batch-0 fence skips iff the
    // originals' commit actually landed, and a fenced skip costs one
    // driver-side ledger read (the decode plan is lazy — no job runs).
    Multimodal.appendBandedIndexOnce(spark, idxTable,
      hasher(originals), s"${tagPrefix}_bootstrap", 0L)
    // stage the arrival payloads as a multi-file parquet so
    // AvailableNow drains them across several micro-batches. Staging
    // is NOT atomic, so completion is OUR OWN marker written after the
    // staging job returns — a crash mid-write leaves the dir without
    // it and the restart clears and re-stages instead of silently
    // draining a partial set. (The committer's _SUCCESS would serve,
    // but clusters routinely disable marksuccessfuljobs; re-staging a
    // COMPLETED set must never happen — fresh part-file names would
    // re-drain under new batch ids past the txn fence.)
    val arrivalsPath = new org.apache.hadoop.fs.Path(arrivals)
    val stagedMarker = new org.apache.hadoop.fs.Path(arrivalsPath, "_graft_staged")
    if (!fs.exists(stagedMarker)) {
      fs.delete(arrivalsPath, true)
      stageArrivals().repartition(4).write.parquet(arrivals)
      fs.create(stagedMarker, true).close()
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.BinaryType)))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(arrivals)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val s = batch.sparkSession
        // decode+hash once; the batch has three consumers (probe,
        // within-batch self-join ×2, band append)
        val hashesB = hasher(
          batch.select(col("doc_id"), col("content"))).persist()
        hashesB.count()
        try {
          // pairs FIRST — they read the PRE-batch index state, so a
          // replay (which re-probes if the band append never landed)
          // recomputes the identical set. Even the window no fence
          // covers — a NO-pairs batch lands zero files so the
          // pairs fence never advances, and a crash after the
          // band commit replays against an index holding the batch's
          // OWN bands — converges: see bandedBatchPairs' contract.
          CommitLog.appendOnce(bandedBatchPairs(idxTable, hashesB, maxDistance),
            pairsTable, s"${tagPrefix}_pairs", bid)
          crashAfter(bid, "pairs")
          // ...THEN the batch joins the index (reversing this would
          // double-discover within-batch pairs through the probe)
          Multimodal.appendBandedIndexOnce(s, idxTable, hashesB,
            s"${tagPrefix}_bands", bid)
          crashAfter(bid, "bands")
        } finally { hashesB.unpersist(); () }
        ()
      }
      .start()
  }

  /** One micro-batch's pair set for [[incrementalPhashRun]]: arrivals
    * probed against the at-rest index UNION within-batch pairs,
    * deduped. REPLAY CONVERGENCE rests on two properties: the probe
    * operator excludes same-id matches (probeBandedIndex's
    * `index_id =!= incoming_id` filter — so a replayed batch probing
    * an index that already holds its OWN bands, the window where the
    * band append committed but an empty pairs commit never advanced
    * its fence, cannot manufacture (x, x, 0) rows), and own-band
    * matches reduce to the within-batch set (identical
    * (id_a, id_b, distance) tuples — bandedCandidates orders
    * id_a < id_b — absorbed by the distinct). A replay therefore
    * commits exactly the original set or, again, nothing.
    * Package-visible so the replay algebra is spec-pinned without a
    * streaming harness (StreamingSpec "phash replay algebra"). */
  private[streaming] def phashBatchPairs(idxTable: String,
      hashesB: DataFrame): DataFrame =
    bandedBatchPairs(idxTable, hashesB, maxDistance = 3)

  private def bandedBatchPairs(idxTable: String,
      hashesB: DataFrame, maxDistance: Int): DataFrame = {
    import graft.multimodal.Multimodal
    val s = hashesB.sparkSession
    val cross = Multimodal
      .probeBandedIndexAt(s, idxTable, hashesB, maxDistance = maxDistance)
      .select(least(col("index_id"), col("incoming_id")).as("id_a"),
        greatest(col("index_id"), col("incoming_id")).as("id_b"),
        col("distance"))
    val within = Multimodal.bandedNearDupPairs(hashesB, maxDistance = maxDistance)
    cross.unionByName(within).distinct()
  }

  /** The drained pairs of an [[incrementalBandedRun]] state root
    * (either modality — the pairs table shape is shared). */
  /** Streaming EXACTLY-ONCE backfill loop — the
    * [[graft.store.CommitLog.replaceWhereOnce]] consumer: micro-batches
    * of corrections staged ONE COMPLETE DAY SLICE PER FILE under
    * `<stateRoot>/corrections` re-land their days into the logged
    * table at `<stateRoot>/table` through the txn-fenced predicate
    * overwrite. `boom(bid)` fires AFTER the batch's commit lands and
    * BEFORE the checkpoint advances — the replay-duplication worst
    * case the fence exists for: the restarted query replays the same
    * batch id, finds the ledger at it, and skips instead of
    * double-deleting/inserting the slice. */
  def replaceBackfillRun(spark: SparkSession, stateRoot: String,
      checkpoint: String, boom: Long => Unit = _ => ()): StreamingQuery = {
    val table = s"$stateRoot/table"
    val stage = s"$stateRoot/corrections"
    val staged = spark.read.parquet(stage) // one resolution: pre-flight + schema
    // ENFORCE the whole-slice contract on the FIRST run, don't just
    // document it: a day split across two staged files would arrive as
    // two micro-batches, and the first batch's replace would silently
    // delete the half that hasn't arrived yet. On a RESTART the check
    // must not fire — a later second file for an already-consumed day
    // is the legitimate supersede (its batch re-replaces the whole
    // slice), indistinguishable in the directory from a split; the
    // committed offsets are what disambiguate, so only a fresh
    // checkpoint (no offsets yet) treats multiplicity as a split.
    val offsets = new org.apache.hadoop.fs.Path(checkpoint, "offsets")
    val fresh = {
      val fs = offsets.getFileSystem(spark.sparkContext.hadoopConfiguration)
      !fs.exists(offsets) || fs.listStatus(offsets).isEmpty
    }
    if (fresh) {
      val split = staged
        .select(col("day"), input_file_name().as("_f")) // nondeterministic expr: project first
        .groupBy(col("day"))
        .agg(countDistinct(col("_f")).as("nf"))
        .filter(col("nf") > 1).limit(1).collect()
      require(split.isEmpty,
        s"day ${split.headOption.map(_.get(0)).getOrElse("?")} spans multiple " +
          "staged correction files — a replace batch deletes its whole slice, " +
          "so each day must arrive in exactly one file (supersedes of " +
          "already-consumed days are fine on restarts)")
    }
    spark.readStream.schema(staged.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stage)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // one slice-complete batch → one atomic replace of its days
        val days = batch.select("day").distinct()
          .collect().map(_.getLong(0)).sorted
        if (days.nonEmpty)
          graft.store.CommitLog.replaceWhereOnce(batch, table,
            col("day").isin(days.toIndexedSeq: _*), "backfill", bid)
        boom(bid)
        ()
      }
      .start()
  }

  def incrementalPhashResult(spark: SparkSession, stateRoot: String): DataFrame =
    graft.store.CommitLog.read(spark, s"$stateRoot/pairs",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("id_b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("distance",
          org.apache.spark.sql.types.IntegerType))))

  /** Stream-stream interval join — the streaming twin of
    * events_range_join: signups and follow-up events arrive as TWO
    * independent streams, and the inner join emits each (signup, event)
    * match as soon as both sides have arrived, whatever the file order
    * (inner-join emission never waits for the watermark; the watermark
    * only bounds the buffered join state). The delay budget covers the
    * fixture's whole event-time span so stream ≡ batch exactly —
    * production sets it to the business lateness bound, buffering only
    * that window of each stream. At scale this is how "event within 1 h
    * of signup" enrichment runs continuously with no batch re-join. */
  def streamRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val signups = tableStream(spark, sfDir, "events", maxFilesPerTrigger = 2)
      .filter(col("event_type") === "signup")
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
        col("ts").as("sts"))
      .withWatermark("sts", "800 hours")
    val others = tableStream(spark, sfDir, "events", maxFilesPerTrigger = 2)
      .filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", "800 hours")
    val joined = signups.join(others,
        expr("user_id = s_user AND ts > sts AND ts <= sts + interval 1 hour"))
      .select(col("signup_id"), col("event_id"),
        (col("ts").cast("long") - col("sts").cast("long")).as("secs_after_signup"))
    runToMemory(joined, "stream_range_join_sink", OutputMode.Append())
  }

  def statefulUserTotals(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stream = tableStream(spark, sfDir, "events")
      .select(col("user_id"), col("value")).as[(Long, Double)]
    val emitted = stream.groupByKey(_._1)
      .flatMapGroupsWithState[UserAgg, (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { r => n += 1; total += r._2 }
          state.update(UserAgg(n, total))
          Iterator((user, n, total))
      }
      .toDF("user_id", "n_events", "total_value")
    val sunk = runToMemory(emitted, "stream_stateful_sink", OutputMode.Append())
    // last emission per user = max n (strictly increasing across batches)
    sunk.groupBy("user_id")
      .agg(max(struct(col("n_events"), col("total_value"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.total_value").as("total_value"))
  }

  /** The plan (tasker) job as a streaming query over the resource_index
    * table — the reference's 30 s poll loop (T1, cmd/tasker.go:85-98)
    * as a file-source stream over the logged table's root, where its
    * committed data files sit: each Ingest append becomes a
    * micro-batch, fanned out through the template registry, anti-joined
    * against the queue and `task_done ∪ dlq` (D3 — the dedup the
    * reference intended but commented out, tasker/service.go:104-112)
    * and appended to task_queue through the log — no lock: a drain's
    * queue commit removes only the files it read. A failed batch
    * retries from the checkpoint and the anti-joins make the retry
    * idempotent (T2). */
  def planStream(spark: SparkSession, store: Store, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      templates: Seq[graft.plan.TemplateDef] = graft.plan.Templates.registry,
      cfg: graft.plan.Templates.PlanConfig = graft.plan.Templates.PlanConfig()): StreamingQuery = {
    val resourceStream = spark.readStream
      .schema(graft.ingest.Ingest.resourceSchema)
      .parquet(store.resourceIndex)
    resourceStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // same planning core as the batch job — identical task
        // identities for identical resources, whichever planner runs
        val queue = Store.snapshot(batch.sparkSession, store.taskQueue)
        Store.commit(graft.plan.Plan.freshTasks(batch.sparkSession, batch, store,
          templates, cfg, queue), store.taskQueue, queue)
        ()
      }
      .start()
  }

  /** The execute job as a streaming query over the task_queue table
    * (S2 queue source semantics): a file source over the logged table's
    * root discovers each data file a planner commits, executes the
    * micro-batch's tasks not yet in `task_done ∪ dlq` and records the
    * results (Execute.routeResults: done, then dlq, each only when
    * non-empty). The checkpoint makes restarts resume after the last
    * committed batch (T6). The source also sees files a batch drain has
    * since consumed, a limited batch restaged or a compaction rewrote
    * (they stay on disk until vacuum). When such a file and its copy
    * fall into one micro-batch, the batch's `task_hash` dedup runs the
    * task once; across micro-batches the anti-join makes every replay —
    * and a batch REPLAY after a failure — a no-op (T2/K7: at-least-once
    * delivery + idempotent sink ≡ effective exactly-once).
    *
    * @param maxFilesPerTrigger S4's batch-size rate limit
    */
  def executeStream(spark: SparkSession, store: Store, objectRoot: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 10,
      failInjector: DataFrame => Unit = _ => ()): StreamingQuery = {
    val stream = spark.readStream
      .schema(Encoders.product[Task].schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(store.taskQueue)

    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        failInjector(batch) // test hook: T2 batch-failure → retry path
        val tasks = batch.dropDuplicates("task_hash")
        val todo = tasks.join(Store.finished(batch.sparkSession, store),
          Seq("task_hash"), "left_anti")
        Execute.routeResults(tasks, todo, objectRoot, store)
        ()
      }
      .start()
  }
}
