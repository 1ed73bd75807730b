package graft.queries

import graft.Q
import graft.exec.Execute
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.Plan
import graft.store.Store
import graft.streaming.StreamingJobs
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Oracle-checked queries for the streaming surface and the execute
  * job. The streaming queries run REAL Structured Streaming queries
  * (file source → watermark/window/dedup → memory sink, drained with
  * Trigger.AvailableNow) and the oracle checks the drained result
  * against DuckDB's batch semantics — the strongest available check
  * that stream and batch agree.
  */
object StreamQueries {

  /** Shared oracle for the two CDC-consumption paths (driver-side
    * drain and the `graftlog` readStream source): replay the four
    * source versions relationally — appends, the DELETE, the merge's
    * net-per-key effect — then the consumer transform and digest. */
  private def cdcRoundtripOracleSql: String =
    s"""WITH after_del AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 5 <> 2),
       |src AS (
       |  SELECT doc_id, source, text || ' v2' AS text
       |  FROM documents WHERE doc_id % 7 = 3
       |  UNION ALL
       |  SELECT doc_id + 900000, source, 'm ' || text
       |  FROM documents WHERE doc_id < 10),
       |final AS (
       |  SELECT * FROM src
       |  UNION ALL
       |  SELECT * FROM after_del
       |  WHERE doc_id NOT IN (SELECT doc_id FROM src))
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
       |FROM final WHERE doc_id % 3 <> 0 GROUP BY 1""".stripMargin

  /** Build the 4-version CDC source table the two consumption queries
    * share: two appends (even/odd doc_id), DELETE doc_id%5==2, then a
    * merge updating doc_id%7==3 and inserting shifted new keys.
    * Returns the documents projection whose schema the feed carries. */
  private def buildCdcSource(s: org.apache.spark.sql.SparkSession, dir: String,
      srcTable: String, alsoClear: Seq[String]): org.apache.spark.sql.DataFrame = {
    import graft.store.CommitLog
    val a = graft.Tables.load(s, dir, "documents")
      .select("doc_id", "source", "text")
    val fs = new org.apache.hadoop.fs.Path(srcTable)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    (srcTable +: alsoClear).foreach(t =>
      fs.delete(new org.apache.hadoop.fs.Path(t), true))
    CommitLog.append(a.filter(col("doc_id") % 2 === 0), srcTable)
    CommitLog.append(a.filter(col("doc_id") % 2 === 1), srcTable)
    CommitLog.deleteWhere(s, srcTable, a.schema, col("doc_id") % 5 === 2)
    CommitLog.merge(s, srcTable, a.schema,
      a.filter(col("doc_id") % 7 === 3)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit(" v2")).as("text"))
        .unionAll(a.filter(col("doc_id") < 10)
          .select((col("doc_id") + 900000).as("doc_id"), col("source"),
            concat(lit("m "), col("text")).as("text"))),
      Seq("doc_id"))
    a
  }

  val queries: Seq[Q] = Seq(

    // ── Event-time tumbling window + watermark (extension flagship) ────
    Q(
      "stream_window_agg",
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ts_bucket, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      StreamingJobs.windowedEventCounts(s, dir)
        .withColumn("total_value", round(col("total_value"), 4))
    }.copy(bench = true),

    // ── PRODUCTION (Append) mode of the windowed aggregation: each
    // window emitted exactly once when the watermark passes its end,
    // state evicted — the mode a 24/7 deployment runs (Complete above
    // is the oracle-drain mode; it retains and re-emits all state
    // forever). The drained result is the CLOSED-WINDOW PREFIX of the
    // batch aggregation: window end ≤ final watermark = max event time
    // − 1 h — which the oracle mirrors as bucket + 2 h ≤ max(ts)
    // (bucket end is hour-aligned, so the watermark's ms flooring
    // cannot move the cut). StreamingSpec pins that state-store rows
    // are evicted mid-drain and the final state is a fraction of the
    // emitted result. ─────────────────────────────────────────────────
    Q(
      "stream_window_agg_append",
      """SELECT * FROM (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ts_bucket, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(sum(value), 4) AS total_value
        |  FROM events GROUP BY 1, 2)
        |WHERE ts_bucket + INTERVAL 2 HOUR <= (SELECT max(ts) FROM events)""".stripMargin) { (s, dir) =>
      StreamingJobs.windowedEventCountsAppend(s, dir)
        .withColumn("total_value", round(col("total_value"), 4))
    },

    // ── Streaming dedup within watermark: doubled stream, each once ────
    Q(
      "stream_dedup_watermark",
      """SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n_unique
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      StreamingJobs.dedupedEventCounts(s, dir)
    },

    // ── Native session windows: gap-based per-user sessions merged as
    // events arrive (session_window + watermark), drained and checked
    // against DuckDB's islands recomputation OF THE SAME semantics —
    // diff >= gap splits (session_window's non-overlap rule; the batch
    // events_sessionize islands use strict >), end = last + gap. ──────
    Q(
      "stream_session_window",
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM d)
        |SELECT user_id,
        |  min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin) { (s, dir) =>
      StreamingJobs.sessionWindowTotals(s, dir)
        .withColumn("total_value", round(col("total_value"), 4))
    },

    // ── PRODUCTION (Append) mode of the session aggregation: a session
    // is emitted exactly once when the watermark passes its end
    // (end = last event + gap), state evicted — closed sessions only.
    // Session ends carry µs precision while Spark's watermark floors
    // max event time to MILLISECONDS before subtracting the delay, so
    // the oracle's cut floors the same way (date_trunc to ms). ────────
    Q(
      "stream_session_window_append",
      """WITH d AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |          OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM d),
        |sess AS (
        |  SELECT user_id,
        |    min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    round(sum(value), 4) AS total_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_start, session_end, n_events, total_value
        |FROM sess
        |WHERE session_end <= (SELECT date_trunc('milliseconds', max(ts))
        |                      FROM events) - INTERVAL 1 HOUR""".stripMargin) { (s, dir) =>
      StreamingJobs.sessionWindowTotalsAppend(s, dir)
        .withColumn("total_value", round(col("total_value"), 4))
    },

    // ── Incrementally-maintained manifest: counts, token totals, and
    // both content digests as running streaming state — drained result
    // bit-identical to the batch corpus_manifest (SHARED oracle SQL).
    // Possible because the digest pair is commutative+mergeable by
    // design (xor and an exact decimal sum); an ordered hash chain
    // could not be maintained incrementally. ──────────────────────────
    Q(
      "stream_manifest",
      OracleSnippets.manifestSql) { (s, dir) =>
      StreamingJobs.streamingManifest(s, dir)
    },

    // ── Streaming curation: quality kernel + filter per micro-batch ────
    Q(
      "stream_quality_filter",
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_kept, avg(quality) AS avg_quality
         |FROM (SELECT lang, ${OracleSnippets.qualitySql} AS quality FROM documents)
         |WHERE quality >= 0.6 GROUP BY lang""".stripMargin) { (s, dir) =>
      StreamingJobs.streamingQualityFilter(s, dir)
    },

    // ── Incremental LSH dedup: per-micro-batch band collisions against
    // an at-rest band index — the drained pairs table must equal the
    // batch LSH run over the same (documents ∪ planted-mutant) corpus,
    // proving arrival-order independence. Cap-free candidate set on
    // both sides (a global bucket cap is unknowable mid-stream). ───────
    Q(
      "stream_incremental_lsh",
      s"""WITH corpus AS (
         |  ${DedupQueries.nearDupCorpusSql}),
         |${OracleSnippets.minhashLshPairsNoCapCte}
         |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin) {
      (s, dir) => StreamingJobs.incrementalLshPairs(s, dir, threshold = 0.6)
    },

    // ── Streaming EXACTLY-ONCE backfill (replaceWhereOnce): the base
    // corpus lands day-aligned, a corrections stream arrives one
    // complete day slice per micro-batch, and foreachBatch re-lands
    // each batch's days through the txn-fenced predicate overwrite.
    // The drain is CRASHED after batch 0's commit lands but before its
    // checkpoint advances (the replay-duplication worst case),
    // restarted from the same checkpoint — the replayed batch must
    // find the ledger at its id and skip. The oracle recomputes the
    // post-backfill corpus relationally; a double-applied or lost
    // slice flips count or digest. ────────────────────────────────────
    Q(
      "stream_replace_backfill",
      s"""SELECT CAST(doc_id % 4 AS BIGINT) AS day,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id",
               "CASE WHEN doc_id % 4 IN (1,3) THEN text || ' [v2]' ELSE text END")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val root = "/tmp/graft_state/replace_backfill"
      val table = s"$root/table"
      val stage = s"$root/corrections"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val a = graft.Tables.load(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") % 4).as("day"), col("text"))
      (0L to 3L).foreach(d => CommitLog.append(a.filter(col("day") === d), table))
      // corrections staged ONE COMPLETE DAY PER FILE — the contract a
      // predicate-scoped backfill batch must honor (a batch replaces
      // whole slices, so it must carry whole slices)
      fs.mkdirs(new org.apache.hadoop.fs.Path(stage))
      Seq(1L, 3L).foreach { d =>
        val tmp = new org.apache.hadoop.fs.Path(s"$root/_c$d")
        a.filter(col("day") === d)
          .withColumn("text", concat(col("text"), lit(" [v2]")))
          .repartition(1).write.parquet(tmp.toString)
        val part = fs.listStatus(tmp).map(_.getPath)
          .find(_.getName.endsWith(".parquet")).get
        fs.rename(part, new org.apache.hadoop.fs.Path(stage, s"day_$d.parquet"))
        fs.delete(tmp, true)
      }
      val ckpt = Files.createTempDirectory("graft_ckpt_backfill").toString
      val boom = (bid: Long) =>
        if (bid == 0) throw new RuntimeException("injected post-commit crash")
      try StreamingJobs.replaceBackfillRun(s, root, ckpt, boom).awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      StreamingJobs.replaceBackfillRun(s, root, ckpt).awaitTermination()
      CommitLog.read(s, table, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Streaming incremental MULTIMODAL dedup: arrival image batches
    // decode → dHash inside foreachBatch, probe the LOGGED at-rest
    // band index, land pairs AND their own bands through the
    // exactly-once txn sink — and the drain is CRASHED after batch 1's
    // commits land (work durable, offset not: the replay-duplication
    // worst case), restarted from the same checkpoint. The finished
    // pairs table must equal the batch banding over the same corpus
    // (original×original pairs never probed — the shared oracle pins
    // b.id >= 1000), proving both arrival-order independence and the
    // txn fence. ───────────────────────────────────────────────────────
    Q(
      "stream_phash_incremental",
      s"""WITH ${MultimodalQueries.PhashPipelineCtes},
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.dhash AS h_a, b.dhash AS h_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
         |  WHERE b.id >= 1000)
         |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS distance
         |FROM pairs WHERE bit_count(xor(h_a, h_b)) <= 3""".stripMargin) { (s, _) =>
      val root = "/tmp/graft_state/phash_stream"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_phash").toString
      val boom = (bid: Long, stage: String) =>
        if (bid == 1 && stage == "bands")
          throw new RuntimeException("injected post-commit failure")
      try StreamingJobs.incrementalPhashRun(s, root, ckpt, boom)
        .awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      StreamingJobs.incrementalPhashRun(s, root, ckpt).awaitTermination()
      StreamingJobs.incrementalPhashResult(s, root)
    },

    // ── The AUDIO sibling of stream_phash_incremental: the same
    // modality-generic probe-then-append loop over the at-rest band
    // index, PCM energy prints as the hash, crash injected after
    // batch 1's pair commit (the other durable edge from the phash
    // row, so both fence sides stay covered between the two rows),
    // restarted from the same checkpoint. Drained pairs must equal the
    // batch banding restricted to arrival pairs (shared
    // AudioPipelineCtes oracle). ──────────────────────────────────────
    Q(
      "stream_audio_incremental",
      s"""WITH ${MultimodalQueries.AudioPipelineCtes},
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.h AS h_a, b.h AS h_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
         |  WHERE b.id >= 1000)
         |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS distance
         |FROM pairs WHERE bit_count(xor(h_a, h_b)) <= 3""".stripMargin) { (s, _) =>
      val root = "/tmp/graft_state/audio_stream"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_audio").toString
      val boom = (bid: Long, stage: String) =>
        if (bid == 1 && stage == "pairs")
          throw new RuntimeException("injected post-commit failure")
      try StreamingJobs.incrementalAudioRun(s, root, ckpt, boom)
        .awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      StreamingJobs.incrementalAudioRun(s, root, ckpt).awaitTermination()
      StreamingJobs.incrementalPhashResult(s, root)
    },

    // ── And the VIDEO sibling: container fingerprints through the
    // same generic loop, crash injected after the band commit of
    // batch 0 (the earliest durable edge — a replay of the FIRST
    // arrival batch, where the index holds only originals plus the
    // batch's own bands). Drained pairs ≡ batch banding restricted to
    // arrivals, via the shared VideoPipelineCtes. ─────────────────────
    Q(
      "stream_video_incremental",
      s"""WITH ${MultimodalQueries.VideoPipelineCtes},
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    a.h AS h_a, b.h AS h_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
         |  WHERE b.id >= 1000)
         |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS distance
         |FROM pairs WHERE bit_count(xor(h_a, h_b)) <= 3""".stripMargin) { (s, _) =>
      val root = "/tmp/graft_state/video_stream"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_video").toString
      val boom = (bid: Long, stage: String) =>
        if (bid == 0 && stage == "bands")
          throw new RuntimeException("injected post-commit failure")
      try StreamingJobs.incrementalVideoRun(s, root, ckpt, boom)
        .awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      StreamingJobs.incrementalVideoRun(s, root, ckpt).awaitTermination()
      StreamingJobs.incrementalPhashResult(s, root)
    },

    // ── Streaming count-min sketch: the depth×width counter table
    // maintained as a streaming aggregation (state bounded by the
    // sketch size forever — no watermark, no unbounded keyspace), then
    // ranked through the same broadcast join as the batch path. Shared
    // oracle SQL with vocab_cm_heavy_hitters: addition is associative+
    // commutative, so the drained sketch ≡ the batch sketch under any
    // micro-batch arrival order. ───────────────────────────────────────
    Q("stream_cm_heavy_hitters", CorpusQueries.cmHeavyHittersSql) { (s, dir) =>
      StreamingJobs.streamingCmHeavyHitters(s, dir)
    },

    // ── Exactly-once streaming sink into a LOGGED table: the drain is
    // CRASHED after batch 1's commit lands (work durable, offset not —
    // the replay-duplication worst case), restarted from the same
    // checkpoint, and the finished table must hold every document
    // exactly once — the per-source xor digest catches a duplicated or
    // lost batch where a count alone might cancel out. ─────────────────
    Q(
      "stream_logged_sink",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      val table = "/tmp/graft_state/logged_sink_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_lsink").toString
      val boom: Long => Unit =
        bid => if (bid == 1) throw new RuntimeException("injected post-commit failure")
      try StreamingJobs.streamToLoggedTable(s, dir, table, ckpt, boom)
        .awaitTermination()
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => () }
      StreamingJobs.streamToLoggedTable(s, dir, table, ckpt).awaitTermination()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      CommitLog.read(s, table, schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── The SAME exactly-once guarantee through the registered SINK
    // (`writeStream.format("graftlog")`): documents stream into the
    // logged table, the newest Spark checkpoint commit is DELETED
    // (the crash window: sink commit durable, offset commit lost), and
    // the restarted query replays the batch — the txn ledger must
    // fence it to a no-op. Shares stream_logged_sink's oracle: the
    // finished table holds every document exactly once. ───────────────
    Q(
      "stream_sink_format",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS content_digest
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      import org.apache.spark.sql.streaming.Trigger
      val table = "/tmp/graft_state/sink_format_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_sinkfmt").toString
      def run(): Unit =
        StreamingJobs.tableStream(s, dir, "documents", maxFilesPerTrigger = 2)
          .select(col("doc_id"), col("source"), col("text"))
          .writeStream.format("graftlog")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start(table)
          .awaitTermination()
      run()
      val commits = fs.listStatus(
          new org.apache.hadoop.fs.Path(ckpt, "commits"))
        .map(_.getPath).filterNot(_.getName.startsWith("."))
        .sortBy(_.getName)
      fs.delete(commits.last, false)
      run() // replays the last batch; the ledger fences the duplicate
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      CommitLog.read(s, table, schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Update-mode streaming sink (keyed exactly-once upsert): a
    // per-source running aggregation lands INCREMENTALLY into a logged
    // table — each micro-batch upserts only its changed keys through
    // the txn-fenced keyed rewrite (CommitLog.upsertOnce), with the
    // final trigger replayed after a simulated lost offset commit. The
    // result must equal the batch aggregation, one row per key — a
    // double-applied replay or a missed retraction flips the digest. ──
    Q(
      "stream_sink_update",
      s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS total_chars
         |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      import graft.store.CommitLog
      import org.apache.spark.sql.streaming.Trigger
      val table = "/tmp/graft_state/sink_update_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      val ckpt = Files.createTempDirectory("graft_ckpt_sinkupd").toString
      def run(): Unit =
        StreamingJobs.tableStream(s, dir, "documents", maxFilesPerTrigger = 2)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text"))).cast("long").as("total_chars"))
          .writeStream.format("graftlog")
          .outputMode("update")
          .option("keys", "source")
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start(table)
          .awaitTermination()
      run()
      val commits = fs.listStatus(
          new org.apache.hadoop.fs.Path(ckpt, "commits"))
        .map(_.getPath).filterNot(_.getName.startsWith("."))
        .sortBy(_.getName)
      fs.delete(commits.last, false)
      run() // replays the last batch; the keyed upsert fences it
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("total_chars",
          org.apache.spark.sql.types.LongType)))
      CommitLog.read(s, table, schema)
    },

    // ── Logged table as a STREAMING SOURCE (CDC round trip): the engine
    // streams documents INTO a logged table over four versions (two
    // appends, a DELETE WHERE, a MERGE), then a downstream consumer
    // DRAINS the change feed in 1-version micro-batches into its own
    // logged table — crashing after batch 2's commit and restarting
    // from the sink's own consumed= ledger (the checkpoint rides the
    // data commit; no side checkpoint). The drained sink must equal the
    // transform applied to the FINAL source snapshot, deletes and
    // net-per-key merge updates included — which is exactly what the
    // oracle replays relationally. ─────────────────────────────────────
    Q(
      "stream_cdc_roundtrip",
      cdcRoundtripOracleSql) { (s, dir) =>
      import graft.store.{CdcStream, CommitLog}
      val srcTable = "/tmp/graft_state/cdc_rt_src"
      val sinkTable = "/tmp/graft_state/cdc_rt_sink"
      val a = buildCdcSource(s, dir, srcTable, alsoClear = Seq(sinkTable))
      val transform = (df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("doc_id") % 3 =!= 0)
      // crash after the second micro-batch's durable commit, restart
      // from the ledger: the replay must neither duplicate nor lose
      try CdcStream.drain(s, srcTable, a.schema, sinkTable, transform,
        keyCols = Some(Seq("doc_id")), maxVersionsPerBatch = 1L,
        afterBatch = (n, _) =>
          if (n == 2) throw new RuntimeException("injected post-commit crash"))
      catch { case e: RuntimeException
        if e.getMessage.startsWith("injected") => () }
      CdcStream.drain(s, srcTable, a.schema, sinkTable, transform,
        keyCols = Some(Seq("doc_id")), maxVersionsPerBatch = 1L)
      CommitLog.read(s, sinkTable, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── The SAME round trip through the STANDARD streaming API: the
    // change feed consumed via spark.readStream.format("graftlog")
    // (offsets = commit versions in Spark's own checkpoint, one
    // version per micro-batch), landed exactly-once through the txn=
    // ledger (applyChangesOnce), with a crash injected AFTER batch 2's
    // sink commit but BEFORE Spark's offset commit — the restart
    // replays that batch from Spark's checkpoint and the ledger fences
    // the duplicate. Shared oracle with stream_cdc_roundtrip: both
    // consumers must converge to the identical relational replay. ──────
    Q(
      "stream_cdc_dsv2",
      cdcRoundtripOracleSql) { (s, dir) =>
      import graft.store.{CdcStream, CommitLog}
      val srcTable = "/tmp/graft_state/cdc_dsv2_src"
      val sinkTable = "/tmp/graft_state/cdc_dsv2_sink"
      val a = buildCdcSource(s, dir, srcTable, alsoClear = Seq(sinkTable))
      val transform = (df: org.apache.spark.sql.DataFrame) =>
        df.filter(col("doc_id") % 3 =!= 0)
      val ckpt = Files.createTempDirectory("graft_ckpt_dsv2").toString
      def run(boomAt: Long): Unit = {
        val q = s.readStream.format("graftlog")
          .schema(a.schema)
          .option("maxVersionsPerTrigger", 1L)
          .load(srcTable)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              CdcStream.applyChangesOnce(s, sinkTable, a.schema,
                Seq("doc_id"), batch.toDF(), "cdcdsv2", batchId, transform)
              if (batchId == boomAt)
                throw new RuntimeException("injected post-commit crash")
              ()
          }
          .start()
        q.awaitTermination()
      }
      try run(boomAt = 2L)
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
        if e.getMessage.contains("injected") => () }
      run(boomAt = -1L)
      CommitLog.read(s, sinkTable, a.schema)
        .withColumn("h", graft.core.Hashing.rowDigest(col("doc_id"), col("text")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("content_digest"))
    },

    // ── Streaming incremental BM25 index maintenance: the corpus
    // table's change feed (two appends + a row-level DELETE) drains
    // through the standard streaming API into the postings + doclens
    // tables — TWO exactly-once sinks per micro-batch, each fenced by
    // its own txn= ledger, crash injected BETWEEN them (after the
    // postings commit of batch 1, before its doclens commit and before
    // Spark's offset commit) so the replay must skip the landed half
    // and land the missing half. The probe then answers from the index
    // alone; the oracle replays BM25 from scratch over the surviving
    // documents — tf, df, dl, N and avgdl must all reflect the delete.
    Q(
      "stream_bm25_incremental",
      CorpusQueries.bm25OracleSqlFor("NOT (doc_id % 7 = 3)")) { (s, dir) =>
      import graft.operators.Bm25Index
      import graft.store.CommitLog
      val base = "/tmp/graft_state/bm25_stream"
      val (srcT, postT, lensT) =
        (s"$base/src", s"$base/postings", s"$base/doclens")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val d = graft.Tables.load(s, dir, "documents").select("doc_id", "text")
      CommitLog.append(d.filter(col("doc_id") % 2 === 0), srcT)
      CommitLog.append(d.filter(col("doc_id") % 2 === 1), srcT)
      CommitLog.deleteWhere(s, srcT, d.schema, col("doc_id") % 7 === 3)
      val ckpt = Files.createTempDirectory("graft_ckpt_bm25").toString
      def run(boomAt: Long): Unit = {
        val q = s.readStream.format("graftlog")
          .schema(d.schema)
          .option("maxVersionsPerTrigger", 1L)
          .load(srcT)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              if (batchId == boomAt) {
                // half-applied batch: postings landed, doclens not yet
                graft.store.CdcStream.applyChangesOnce(s, postT,
                  Bm25Index.postingsSchema("doc_id"), Seq("doc_id"),
                  batch.toDF(), "bm25idx", batchId,
                  Bm25Index.postingsTransform("doc_id", "text"))
                throw new RuntimeException("injected mid-apply crash")
              }
              Bm25Index.applyIndexChangesOnce(s, postT, lensT,
                "doc_id", "text", batch.toDF(), "bm25idx", batchId)
              ()
          }
          .start()
        q.awaitTermination()
      }
      try run(boomAt = 1L)
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
        if e.getMessage.contains("injected") => () }
      run(boomAt = -1L)
      Bm25Index.bm25TopKFromIndex(s, postT, lensT, "doc_id",
        CorpusQueries.bm25Probes(s), k = CorpusQueries.Bm25TopK)
    },

    // ── Streaming POSITIONAL phrase retrieval: the same standard
    // streaming consumer maintains the positions-bearing postings
    // exactly-once (crash injected mid-apply as above; a source DELETE
    // retracts the deleted docs' position lists row-for-row), then the
    // phrase probe ranks anchor-complete occurrences over the pruned
    // scan — the oracle replays positions over the post-DELETE corpus. ─
    Q(
      "stream_bm25_phrase",
      CorpusQueries.phraseOracleSqlFor("NOT (doc_id % 7 = 3)")) { (s, dir) =>
      import graft.operators.Bm25Index
      import graft.store.CommitLog
      val base = "/tmp/graft_state/bm25_stream_phrase"
      val (srcT, postT, lensT) =
        (s"$base/src", s"$base/postings", s"$base/doclens")
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val d = graft.Tables.load(s, dir, "documents").select("doc_id", "text")
      CommitLog.append(d.filter(col("doc_id") % 2 === 0), srcT)
      CommitLog.append(d.filter(col("doc_id") % 2 === 1), srcT)
      CommitLog.deleteWhere(s, srcT, d.schema, col("doc_id") % 7 === 3)
      val ckpt = Files.createTempDirectory("graft_ckpt_bm25p").toString
      def run(boomAt: Long): Unit = {
        val q = s.readStream.format("graftlog")
          .schema(d.schema)
          .option("maxVersionsPerTrigger", 1L)
          .load(srcT)
          .writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             batchId: Long) =>
              if (batchId == boomAt) {
                graft.store.CdcStream.applyChangesOnce(s, postT,
                  Bm25Index.postingsSchema("doc_id"), Seq("doc_id"),
                  batch.toDF(), "bm25phr", batchId,
                  Bm25Index.postingsTransform("doc_id", "text"))
                throw new RuntimeException("injected mid-apply crash")
              }
              Bm25Index.applyIndexChangesOnce(s, postT, lensT,
                "doc_id", "text", batch.toDF(), "bm25phr", batchId)
              ()
          }
          .start()
        q.awaitTermination()
      }
      try run(boomAt = 1L)
      catch { case e: org.apache.spark.sql.streaming.StreamingQueryException
        if e.getMessage.contains("injected") => () }
      run(boomAt = -1L)
      Bm25Index.phraseTopKFromIndex(s, postT, "doc_id",
        CorpusQueries.phraseProbes(s), k = 10)
    },

    // ── Streaming deterministic HLL: registers as running state (max
    // merges monotonically — bounded at 2^b registers per group
    // forever), drained estimate ≡ the batch estimate BIT-FOR-BIT
    // (shared oracle SQL; the exact-harmonic-sum argument). ────────────
    Q("stream_approx_distinct_det", EventQueries.hllOracleSql) { (s, dir) =>
      StreamingJobs.streamingApproxDistinct(s, dir)
    },

    // ── Stream-stream interval join: two live streams, matches emitted
    // as both sides arrive; drained result must equal the BATCH range
    // join (same oracle SQL object — they cannot drift). ───────────────
    Q("stream_range_join", JoinQueries.rangeJoinSql) { (s, dir) =>
      StreamingJobs.streamRangeJoin(s, dir)
    },

    // ── Arbitrary stateful streaming: flatMapGroupsWithState totals ────
    Q(
      "stream_stateful_totals",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      StreamingJobs.statefulUserTotals(s, dir)
        .withColumn("total_value", round(col("total_value"), 4))
    },

    // ── Batch execute job e2e: ingest → plan → execute, constant counts ─
    // 4 .mov resources × (mov+thumb) = 8 tasks, all succeed with the
    // stub commands; queue drains; re-plan after completion adds 0 (D3).
    Q(
      "pipeline_execute",
      """SELECT CAST(8 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS n_dlq,
        |       CAST(0 AS BIGINT) AS n_queue_left, CAST(0 AS BIGINT) AS n_replan""".stripMargin) { (s, _) =>
      FixtureTree.ensure()
      val store = Store("/tmp/graft_state/exec_e2e")
      Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
        .foreach(Store.delete(s, _))
      val obj = Files.createTempDirectory("graft_obj_q").toString
      Ingest.run(s, FixtureTree.root, "ext/mov", 4, store)
      Plan.run(s, store)
      val (done, failed) = Execute.run(s, store, obj)
      val queueLeft = Store.count(s, store.taskQueue)
      val replan = Plan.run(s, store)
      import s.implicits._
      Seq((done, failed, queueLeft, replan))
        .toDF("n_done", "n_dlq", "n_queue_left", "n_replan")
    },

    // ── Streaming execute job e2e: queue file-source + checkpoint ──────
    // Same pipeline driven as a streaming query (S2/S3 semantics): drain
    // with AvailableNow, then restart from the checkpoint — the second
    // run must process nothing new (T6 resume).
    Q(
      "pipeline_execute_stream",
      """SELECT CAST(8 AS BIGINT) AS n_done, CAST(0 AS BIGINT) AS n_dlq,
        |       CAST(8 AS BIGINT) AS n_done_after_resume""".stripMargin) { (s, _) =>
      FixtureTree.ensure()
      val store = Store("/tmp/graft_state/exec_stream_e2e")
      Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
        .foreach(Store.delete(s, _))
      val obj = Files.createTempDirectory("graft_obj_qs").toString
      val ckpt = Files.createTempDirectory("graft_ckpt_q").toString
      Ingest.run(s, FixtureTree.root, "ext/mov", 4, store)
      Plan.run(s, store)
      val q1 = StreamingJobs.executeStream(s, store, obj, ckpt)
      q1.awaitTermination()
      val done1 = Store.count(s, store.taskDone)
      val dlq1 = Store.count(s, store.dlq)
      val q2 = StreamingJobs.executeStream(s, store, obj, ckpt) // resume: no new files
      q2.awaitTermination()
      val done2 = Store.count(s, store.taskDone)
      import s.implicits._
      Seq((done1, dlq1, done2)).toDF("n_done", "n_dlq", "n_done_after_resume")
    })
}
