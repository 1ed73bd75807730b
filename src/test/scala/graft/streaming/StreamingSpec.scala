package graft.streaming

import graft.SparkSpec
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.Plan
import graft.store.Store
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Streaming semantics the oracle can't check: checkpoint resume after
  * new queue files (T6), micro-batch failure → retry idempotency (T2 +
  * K7), and watermark lateness dropping (the behavior the oracle-bound
  * dedup query deliberately sizes its delay budget around). */
class StreamingSpec extends SparkSpec {

  private def freshStore(tag: String): Store = {
    val store = Store(s"/tmp/graft_test_state/stream_$tag")
    Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
      .foreach(Store.delete(spark, _))
    store
  }

  /** The committed `task_hash` column of a logged task table. */
  private def taskHashes(table: String): DataFrame =
    Store.read(spark, table, StructType(Seq(StructField("task_hash", StringType))))

  test("T6 resume: restart after Plan appends new files processes only the delta") {
    FixtureTree.ensure()
    val store = freshStore("resume")
    val obj = Files.createTempDirectory("graft_obj_s").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_s").toString

    Ingest.run(spark, FixtureTree.root, "ext/mov", 2, store) // depth 2: 2 .mov files
    Plan.run(spark, store) // 2 × (mov+thumb) = 4 tasks
    StreamingJobs.executeStream(spark, store, obj, ckpt).awaitTermination()
    assert(Store.count(spark, store.taskDone) == 4)

    // deepen the scan: 2 more resources → 4 more tasks appended
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    Plan.run(spark, store)
    StreamingJobs.executeStream(spark, store, obj, ckpt).awaitTermination()
    val done = taskHashes(store.taskDone)
    assert(done.count() == 8)
    // no task executed twice
    assert(done.select("task_hash").distinct().count() == 8)
  }

  test("T1 tasker-as-stream: planStream fans out only newly ingested resources") {
    FixtureTree.ensure()
    val store = freshStore("planstream")
    val ckpt = Files.createTempDirectory("graft_ckpt_p").toString

    Ingest.run(spark, FixtureTree.root, "ext/mov", 2, store) // 2 resources
    StreamingJobs.planStream(spark, store, ckpt).awaitTermination()
    assert(Store.count(spark, store.taskQueue) == 4) // 2 × (mov+thumb)

    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store) // +2 resources
    StreamingJobs.planStream(spark, store, ckpt).awaitTermination()
    val queue = taskHashes(store.taskQueue)
    assert(queue.count() == 8)
    assert(queue.select("task_hash").distinct().count() == 8) // no re-fan-out
  }

  test("T2 retry: a failing micro-batch reprocesses idempotently on restart") {
    FixtureTree.ensure()
    val store = freshStore("retry")
    val obj = Files.createTempDirectory("graft_obj_r").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_r").toString

    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    Plan.run(spark, store) // 8 tasks

    // First run: the injector kills the FIRST batch after the executor
    // work has already appended results — the worst case for
    // duplication (work done, offset not committed).
    val calls = new AtomicInteger(0)
    val boom: DataFrame => Unit = _ =>
      if (calls.incrementAndGet() == 1) throw new RuntimeException("injected batch failure")
    val q = StreamingJobs.executeStream(spark, store, obj, ckpt, failInjector = boom)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }

    // Restart with the same checkpoint: the failed batch replays; the
    // task_done anti-join makes the replay a no-op for completed work.
    StreamingJobs.executeStream(spark, store, obj, ckpt).awaitTermination()
    val done = taskHashes(store.taskDone)
    assert(done.count() == 8, "all tasks completed exactly once after retry")
    assert(done.select("task_hash").distinct().count() == 8)
  }

  test("T1/T7: live ProcessingTime trigger drains the queue; stop() is graceful") {
    FixtureTree.ensure()
    val store = freshStore("live")
    val obj = Files.createTempDirectory("graft_obj_live").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_live").toString
    Ingest.run(spark, FixtureTree.root, "ext/mov", 2, store)
    Plan.run(spark, store) // 4 tasks

    val q = StreamingJobs.executeStream(spark, store, obj, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def done(): Long =
        try Store.count(spark, store.taskDone) catch { case _: Throwable => 0L }
      while (done() < 4 && System.nanoTime() < deadline) Thread.sleep(250)
      assert(done() == 4, "live trigger did not process the batch in time")
    } finally {
      q.stop() // T7: graceful stop at a batch boundary
    }
    assert(!q.isActive)
    // the checkpoint survives the stop: a later run resumes with nothing to do
    StreamingJobs.executeStream(spark, store, obj, ckpt).awaitTermination()
    assert(Store.count(spark, store.taskDone) == 4)
  }

  test("watermark lateness: a small delay budget on out-of-order input drops late rows") {
    val withBudget = StreamingJobs.dedupedEventCounts(spark, sf("sf0.001"))
      .agg(sum("n_unique")).head().getLong(0)
    assert(withBudget == 1000, "full-span budget emits every unique event")

    // same doubled stream, 1-hour budget: staged files arrive in
    // arbitrary time order, so the watermark races ahead and late
    // arrivals are dropped — strictly fewer emissions.
    val s1 = StreamingJobs.tableStream(spark, sf("sf0.001"), "events")
    val s2 = StreamingJobs.tableStream(spark, sf("sf0.001"), "events")
    val tight = s1.unionAll(s2)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val emitted = StreamingJobs.runToMemory(tight, "tight_dedup_sink", OutputMode.Append())
      .count()
    assert(emitted < 1000, s"expected lateness drops, got $emitted")
  }

  test("append mode evicts window state as the watermark advances (bounded state)") {
    // ordered staging: Append's input contract (disorder ≤ delay) —
    // with the unordered staging the watermark races to max−1h after
    // the first near-max file and later batches are dropped as late
    val (result, q) = StreamingJobs.runToMemoryWithQuery(
      StreamingJobs.windowedEventCountsStream(spark, sf("sf0.001"), ordered = true),
      "bounded_state_sink", OutputMode.Append())
    val emitted = result.count()
    assert(emitted > 0)
    val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progresses.nonEmpty, "no state-operator progress recorded")
    // eviction must happen MID-DRAIN, not only at the end: the
    // watermark advances per micro-batch and closed windows leave the
    // store as they are emitted
    val removed = progresses.map(_.stateOperators(0).numRowsRemoved).sum
    assert(removed > 0, "append run never evicted state rows")
    // and nothing was dropped as late: ordered arrival honors the
    // watermark contract, so loss would be a staging bug, not semantics
    val lateDropped = progresses.map(_.stateOperators(0).numRowsDroppedByWatermark).sum
    assert(lateDropped == 0, s"ordered arrival dropped $lateDropped rows as late")
    // the store ends holding only the watermark horizon's open windows
    // — a fraction of everything emitted (Complete mode would retain
    // ALL emitted windows as state forever)
    val finalRows = progresses.last.stateOperators(0).numRowsTotal
    assert(finalRows < emitted / 2,
      s"final state $finalRows not bounded vs $emitted emitted windows")
    // every emitted window is closed: nothing is ever emitted twice
    assert(result.groupBy("ts_bucket", "event_type").count()
      .filter(col("count") > 1).count() == 0, "append emitted a window twice")
  }

  test("stream≡batch: windowed aggregation equals the batch plan over the same data") {
    // total_value is an f64 sum whose addition ORDER differs between
    // the incremental per-micro-batch accumulation and the batch plan
    // (associativity wobble in the last ulp, dependent on how the
    // staged files split the rows) — compare at the oracle gate's 6 dp
    // convention, which every engine row already satisfies.
    def r6(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("total_value", round(col("total_value"), 6))
    val streamed = r6(StreamingJobs.windowedEventCounts(spark, sf("sf0.001")))
    val batch = r6(graft.Tables.load(spark, sf("sf0.001"), "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("w.start").as("ts_bucket"), col("event_type"),
        col("n_events"), col("total_value")))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("phash replay algebra: probing an index holding the batch's own bands adds nothing") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // the replay window no txn fence can cover: a batch with NO pairs
    // lands zero files (the fence never advances), the band append
    // commits, the process crashes — the replayed batch probes an
    // index that already holds its own bands
    val idx = Files.createTempDirectory("graft_phash_replay").toString + "/idx"
    def h(i: Long) = i * 0x9E3779B97F4A7C15L
    val originals = (0L until 16L).map(i => (i, h(i))).toDF("doc_id", "hash")
    // batch: two copies of originals (cross pairs), a within-batch
    // duplicate pair, and one unique doc
    val batch = Seq(
      (1000L, h(0)), (1001L, h(1)),            // cross: match originals 0, 1
      (2000L, h(777)), (2001L, h(777)),        // within-batch duplicate
      (3000L, h(555))                          // unique: no pair at all
    ).toDF("doc_id", "hash")
    Multimodal.appendBandedIndex(spark, idx, originals)
    val fresh = StreamingJobs.phashBatchPairs(idx, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fresh((0L, 1000L, 0)) && fresh((1L, 1001L, 0)) &&
      fresh((2000L, 2001L, 0)), s"expected pairs missing: $fresh")
    // ...the band append that committed before the crash
    Multimodal.appendBandedIndex(spark, idx, batch)
    val replayed = StreamingJobs.phashBatchPairs(idx, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(replayed == fresh,
      s"replay drifted: extra=${replayed -- fresh}, lost=${fresh -- replayed}")
    assert(!replayed.exists(p => p._1 == p._2), "replay manufactured self-pairs")
  }

  test("incremental phash: a crash BETWEEN the pairs and band commits replays exactly-once") {
    import graft.store.CommitLog
    // the declared query crashes AFTER both commits; this case takes
    // the nastier window — pairs committed, band append NOT — so the
    // replay must skip the pairs (txn fence) yet still land the bands,
    // and the re-probed pre-batch index state must reproduce the same
    // pair set it is skipping
    val root = Files.createTempDirectory("graft_phash_crash").toString + "/st"
    val ckpt = Files.createTempDirectory("graft_ckpt_phash_spec").toString
    val boom = (bid: Long, stage: String) =>
      if (bid == 1 && stage == "pairs")
        throw new RuntimeException("injected mid-batch failure")
    try StreamingJobs.incrementalPhashRun(spark, root, ckpt, boom)
      .awaitTermination()
    catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
    StreamingJobs.incrementalPhashRun(spark, root, ckpt).awaitTermination()
    // reference: an uncrashed run over a fresh state root
    val cleanRoot = Files.createTempDirectory("graft_phash_clean").toString + "/st"
    StreamingJobs.incrementalPhashRun(spark, cleanRoot,
      Files.createTempDirectory("graft_ckpt_phash_clean").toString)
      .awaitTermination()
    val crashed = StreamingJobs.incrementalPhashResult(spark, root)
    val clean = StreamingJobs.incrementalPhashResult(spark, cleanRoot)
    assert(crashed.exceptAll(clean).count() == 0 &&
      clean.exceptAll(crashed).count() == 0,
      "crash-replayed pairs drifted from the clean run")
    // no duplicated pairs rows at all (exactly-once, not at-least-once)
    assert(crashed.count() == crashed.distinct().count())
    // the band index holds each hash's bands exactly once:
    // 32 originals + 16 copies + 16 variants, 4 bands each
    val idx = CommitLog.read(spark, s"$root/band_index",
      CommitLog.tableSchema(spark, s"$root/band_index"))
    assert(idx.count() == (32L + 16 + 16) * 4, s"band index duplicated rows")
    assert(idx.select("doc_id", "band").distinct().count() == idx.count())
  }

  test("replace backfill refuses a day split across staged files (whole-slice contract)") {
    val root = Files.createTempDirectory("graft_backfill_split").toString
    val stage = s"$root/corrections"
    import spark.implicits._
    // day 5 deliberately split across TWO staged files — the silent
    // data-loss shape the pre-flight must refuse
    Seq((1L, 5L, "a")).toDF("doc_id", "day", "text")
      .repartition(1).write.mode("append").parquet(stage)
    Seq((2L, 5L, "b")).toDF("doc_id", "day", "text")
      .repartition(1).write.mode("append").parquet(stage)
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.replaceBackfillRun(spark, root,
        Files.createTempDirectory("graft_ckpt_split").toString)
    }
    assert(e.getMessage.contains("exactly one file"), e.getMessage)
  }
}
