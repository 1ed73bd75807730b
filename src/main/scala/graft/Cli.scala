package graft

import graft.exec.Execute
import graft.ingest.Ingest
import graft.plan.Plan
import graft.store.Store
import graft.streaming.StreamingJobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** S7 — the engine's command-line entry point (the Spark analog of the
  * reference's three services behind one CLI, SURVEY.md §7.1: `chyme
  * indexer ingest s3://bucket/prefix --filter ext/mov --recursion 3`,
  * cmd/ingest.go:17-25 / tasker.go / worker.go). No HTTP hop, no
  * long-running daemons: each subcommand is one Spark job over the
  * table layer, so the whole pipeline is `graft ingest && graft plan &&
  * graft execute` (or `execute-stream` for the continuous worker).
  *
  * Prints exactly one JSON result line on stdout per invocation.
  */
object Cli {

  private val usage =
    """usage: graft <command> [args]
      |  ingest <rootDir> <filterSpec> <depth> [storeDir]   scan + filter + dedup into resource_index
      |  plan [storeDir]                                    template fan-out into task_queue
      |  plan-stream [storeDir] [ckptDir] [--continuous]    streaming tasker over resource_index
      |  execute [storeDir] [objectRoot] [batchSize]        drain task_queue (batch)
      |  execute-stream [storeDir] [objectRoot] [ckptDir] [--continuous]
      |                                                     streaming worker; --continuous = 30 s trigger
      |  stats [storeDir]                                   index/queue/done/dlq counts (A1/A4)
      |  compact <table> [storeDir] [targetMB] [clusterCol] rewrite a store table into evenly-sized files
      |                                                     (clusterCol → range-clustered, file-skippable;
      |                                                      "a,b" → two-column z-order)
      |  query <name> <sfDir>                               run a declared query, print row count
      |  sql <statement> [sfDir]                            run one SQL statement (fixture tables registered
      |                                                      when sfDir is given; MERGE INTO / DELETE FROM on
      |                                                      graftlog.`path` targets run through the commit log)
      |  list-queries                                       all declared query names
      |  log-history <tablePath>                            commit-log DESCRIBE HISTORY (one row per commit)
      |  log-schema <tablePath> [asOf]                      table schema (ledger-first; historical with asOf)
      |  log-delete <tablePath> <sqlPredicate> [--mor]      row-level DELETE WHERE through the commit log (--mor = deletion vectors)
      |  log-rename-column <tablePath> <from> <to>          metadata-only rename (stable physical names, zero rewrites)
      |  log-drop-column <tablePath> <name>                 metadata-only drop (physical name burned — no resurrection)
      |  log-optimize <tablePath> [targetMB] [where]        selective OPTIMIZE: bin-pack small files + absorb deletion vectors
      |  log-constraints <tablePath>                        list active CHECK constraints (SQL: ALTER TABLE … ADD CONSTRAINT)
      |  log-detail <tablePath>                             DESCRIBE DETAIL: version, file census, vector state, constraints
      |  log-restore <tablePath> <toVersion>                rollback: one commit re-using historical files, zero data movement
      |  log-clone <sourcePath> <destPath> [asOfVersion]    SHALLOW CLONE: zero-copy snapshot referencing the source's files
      |  log-convert <parquetDir>                           adopt a plain-parquet directory as a logged table (CONVERT TO GRAFT)
      |  log-vacuum <tablePath> <minAgeHours>               reclaim unreferenced data files (retention-gated)
      |  log-prune <tablePath> [keepSince]                  drop commit files behind the newest checkpoint
      |  log-merge <tablePath> <sourceParquet> <keyCols>    keyed MERGE upsert (comma-separated key columns)
      |  log-replace-where <tablePath> <sqlPredicate> <sourceParquet>  atomic predicate-scoped overwrite (backfill)
      |  log-changes <tablePath> <sinceVersion> [asOf]      change-feed summary: rows per version × change type
      |  log-drain <srcTable> <sinkTable> <keyCols> [maxPerBatch]
      |                                                     exactly-once incremental replication: drain the
      |                                                     source's change feed into the sink in micro-batches""".stripMargin

  private val defaultStore = "/tmp/graft_store"

  /** 0 only for a genuinely-missing table; a corrupt table must FAIL,
    * not read as empty (an operator would mistake damage for a clean
    * drained store — ParquetFileReader.open throws on damage).
    *
    * METADATA-ONLY: sums the row counts out of each file's parquet
    * footer, driver-side — no Spark job (CliSpec pins zero jobs per
    * stats call). The reference's counters are O(1) metadata reads
    * (Redis SCARD / queue-depth attributes, README.md:112-116); a full
    * count() scan matched the VALUE but not the COST — on a 100 TB
    * table `stats` would be a cluster job, and operational counters
    * get polled. Footer reads are O(files), the same census compact's
    * file listing already does. */
  private def tableCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) 0L
    else {
      val entries = fs.listStatus(p)
      // engine store tables are flat parquet dirs; a nested (hive-
      // partitioned) layout would be invisible to this census and read
      // as UNDERCOUNTED — refuse loudly, exactly like Store.compact's
      // file census (`_`/`.`-prefixed dirs exempt: in-flight appends
      // keep a live _temporary here)
      require(!entries.exists(st => st.isDirectory &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".")),
        s"stats does not support nested/partitioned layouts: $path")
      entries
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map { st =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.sum
    }
  }

  /** Schema of a logged table — CommitLog reads are schema-explicit:
    * the schema LEDGER when an evolving writer stamped it, else
    * inferred from the table's newest live file
    * ([[graft.store.CommitLog.tableSchema]]). */
  private def loggedSchema(spark: SparkSession, table: String) =
    graft.store.CommitLog.tableSchema(spark, table)

  def run(spark: SparkSession, args: Array[String]): String = args.toList match {
    case "ingest" :: root :: filter :: depth :: rest =>
      val n = Ingest.run(spark, root, filter, depth.toInt,
        Store(rest.headOption.getOrElse(defaultStore)))
      s"""{"cmd":"ingest","resources":$n}"""

    case "plan" :: rest =>
      val n = Plan.run(spark, Store(rest.headOption.getOrElse(defaultStore)))
      s"""{"cmd":"plan","tasks":$n}"""

    case "plan-stream" :: rest =>
      // the reference's tasker service as a stream (T1): each ingest
      // append becomes a micro-batch fanned out into task_queue —
      // together with execute-stream this gives all three continuous
      // services a streaming analog (ingest is inherently a batch scan)
      val positional = rest.filterNot(_.startsWith("--"))
      val store = Store(positional.headOption.getOrElse(defaultStore))
      val ckpt = positional.drop(1).headOption.getOrElse(s"${store.root}/checkpoint_plan")
      val continuous = rest.contains("--continuous")
      val trigger =
        if (continuous) StreamingJobs.PollTrigger
        else Trigger.AvailableNow()
      val q = StreamingJobs.planStream(spark, store, ckpt, trigger)
      val hook = sys.addShutdownHook { if (q.isActive) q.stop() }
      q.awaitTermination()
      // remove() throws IllegalStateException if the JVM is ALREADY shutting
      // down (i.e. the hook itself stopped the query) — that path is fine
      scala.util.Try(hook.remove())
      val queued = tableCount(spark, store.taskQueue)
      s"""{"cmd":"plan-stream","continuous":$continuous,"task_queue":$queued}"""

    case "execute" :: rest =>
      val store = Store(rest.headOption.getOrElse(defaultStore))
      val objects = rest.drop(1).headOption.getOrElse(s"${store.root}/objects")
      val batch = rest.drop(2).headOption.map(_.toInt).getOrElse(Int.MaxValue)
      val (done, failed) = Execute.run(spark, store, objects, batch)
      s"""{"cmd":"execute","done":$done,"failed":$failed}"""

    case "execute-stream" :: rest =>
      val positional = rest.filterNot(_.startsWith("--"))
      val store = Store(positional.headOption.getOrElse(defaultStore))
      val objects = positional.drop(1).headOption.getOrElse(s"${store.root}/objects")
      val ckpt = positional.drop(2).headOption.getOrElse(s"${store.root}/checkpoint")
      val continuous = rest.contains("--continuous")
      val trigger =
        if (continuous) StreamingJobs.PollTrigger // T1: 30 s micro-batches
        else Trigger.AvailableNow()               // S3: drain and stop
      val q = StreamingJobs.executeStream(spark, store, objects, ckpt, trigger)
      // T7 — graceful shutdown: SIGINT/SIGTERM stops the query at a
      // batch boundary; the checkpoint resumes it next run
      // (cmd/util.go:110-115's done-channel, Spark-shaped).
      val hook = sys.addShutdownHook { if (q.isActive) q.stop() }
      q.awaitTermination()
      // remove() throws IllegalStateException if the JVM is ALREADY shutting
      // down (i.e. the hook itself stopped the query) — that path is fine
      scala.util.Try(hook.remove())
      val done = tableCount(spark, store.taskDone)
      s"""{"cmd":"execute-stream","continuous":$continuous,"task_done":$done}"""

    case "stats" :: rest =>
      // A1/A4 — the operational counters (the reference's SCARD /
      // ApproximateNumberOfMessages inspections, README.md:112-116)
      val store = Store(rest.headOption.getOrElse(defaultStore))
      def n(path: String): Long = tableCount(spark, path)
      s"""{"cmd":"stats","resource_index":${n(store.resourceIndex)},""" +
        s""""task_queue":${n(store.taskQueue)},"task_done":${n(store.taskDone)},""" +
        s""""dlq":${n(store.dlq)}}"""

    case "compact" :: table :: rest =>
      // operational table maintenance: micro-batch appends accumulate
      // small files; compaction rewrites to scan-efficient sizes under
      // the table lock (see Store.compact for the 100 TB rationale)
      val store = Store(rest.headOption.getOrElse(defaultStore))
      val targetMB = rest.drop(1).headOption.map(_.toLong).getOrElse(128L)
      val clusterBy = rest.drop(2).headOption
      val ((fb, bb), (fa, ba)) =
        Store.compact(spark, store, table, targetMB * 1024 * 1024, clusterBy)
      s"""{"cmd":"compact","table":"$table","files_before":$fb,"bytes_before":$bb,""" +
        s""""files_after":$fa,"bytes_after":$ba}"""

    case "query" :: name :: sfDir :: Nil =>
      SparkEntry.queries.get(name) match {
        case Some(fn) => s"""{"cmd":"query","name":"$name","rows":${fn(spark, sfDir).count()}}"""
        case None => throw new IllegalArgumentException(
          s"unknown query '$name' — see list-queries")
      }

    case "sql" :: statement :: rest if rest.size <= 1 =>
      rest.headOption.foreach(sfDir => Tables.registerAll(spark, sfDir))
      val out = graft.store.GraftSql.execute(spark, statement)
      // storage statements return their 1-row (table, version) receipt;
      // queries print a row count — the CLI is an operator surface, not
      // a result pager (declared queries own result inspection)
      s"""{"cmd":"sql","rows":${out.count()}}"""

    case "list-queries" :: Nil =>
      SparkEntry.allQueries.map(q => "\"" + q.name + "\"")
        .mkString("""{"cmd":"list-queries","queries":[""", ",", "]}")

    // ── logged-table operations (K9's commit-log layer, operable) ────
    case "log-history" :: table :: Nil =>
      val rows = graft.store.CommitLog.history(spark, table)
        .collect() // log-sized by construction (one row per commit file)
        .map { r =>
          val ts = if (r.isNullAt(4)) "null" else r.getLong(4).toString
          s"""{"version":${r.getLong(0)},"operation":"${r.getString(1)}",""" +
            s""""n_added":${r.getLong(2)},"n_removed":${r.getLong(3)},""" +
            s""""commit_ts_ms":$ts}"""
        }
      s"""{"cmd":"log-history","table":"$table","commits":[${rows.mkString(",")}]}"""

    case "log-schema" :: table :: rest if rest.size <= 1 =>
      val asOf = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue)
      // no ledger entry at this version: inferred from the files live
      // AT that snapshot, not today's (a clone's absolute references
      // resolve like the table's own files)
      val snap = graft.store.CommitLog.snapshot(spark, table, asOf)
      val schema = graft.store.CommitLog.tableSchema(spark, table, snap)
      val fields = schema.fields.map(f =>
        s"""{"name":"${f.name}","type":"${f.dataType.simpleString}"}""")
      s"""{"cmd":"log-schema","table":"$table","from_ledger":${snap.schemaJson.isDefined},""" +
        s""""fields":[${fields.mkString(",")}]}"""

    case "log-delete" :: table :: predicate :: rest if rest.isEmpty ||
        rest == List("--mor") =>
      // --mor: merge-on-read (deletion vectors) — one small position
      // vector instead of rewriting every touched file; absorb with
      // log-compact (OPTIMIZE)
      val v = graft.store.CommitLog.deleteWhere(spark, table,
        loggedSchema(spark, table), org.apache.spark.sql.functions.expr(predicate),
        deletionVectors = rest.nonEmpty)
      s"""{"cmd":"log-delete","table":"$table","version":$v,"mor":${rest.nonEmpty}}"""

    case "log-rename-column" :: table :: from :: to :: Nil =>
      val v = graft.store.CommitLog.renameColumn(spark, table, from, to)
      s"""{"cmd":"log-rename-column","table":"$table","version":$v}"""

    case "log-drop-column" :: table :: name :: Nil =>
      val v = graft.store.CommitLog.dropColumn(spark, table, name)
      s"""{"cmd":"log-drop-column","table":"$table","version":$v}"""

    case "log-restore" :: table :: version :: Nil =>
      val v = graft.store.CommitLog.restore(spark, table, version.toLong)
      s"""{"cmd":"log-restore","table":"$table","version":$v}"""

    case "log-convert" :: dir :: Nil =>
      val v = graft.store.CommitLog.convertParquet(spark, dir)
      s"""{"cmd":"log-convert","table":"$dir","version":$v}"""

    case "log-clone" :: source :: dest :: rest if rest.size <= 1 =>
      val asOf = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue)
      val v = graft.store.CommitLog.shallowClone(spark, source, dest, asOf)
      s"""{"cmd":"log-clone","source":"$source","dest":"$dest","version":$v}"""

    case "log-detail" :: table :: Nil =>
      val row = graft.store.CommitLog.detail(spark, table).collect().head
      val fields = row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
        def js(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
        val v = row.get(i) match {
          case s: String => s""""${js(s)}""""
          case m: scala.collection.Map[_, _] => m.toSeq
            .sortBy(_._1.toString)
            .map { case (k, mv) => s""""${js(k.toString)}":"${js(mv.toString)}"""" }
            .mkString("{", ",", "}")
          case Some(x) => x.toString
          case None | null => "null"
          case x => x.toString
        }
        s""""$n":$v"""
      }
      s"""{"cmd":"log-detail",${fields.mkString(",")}}"""

    case "log-constraints" :: table :: Nil =>
      val cs = graft.store.CommitLog.constraintsAt(spark, table)
        .toSeq.sortBy(_._1)
        .map { case (n, c) => s"""{"name":"$n","check":"${c.replace("\"", "\\\"")}"}""" }
      s"""{"cmd":"log-constraints","table":"$table","constraints":[${cs.mkString(",")}]}"""

    case "log-optimize" :: table :: rest if rest.size <= 2 =>
      // selective maintenance: bin-pack small files + absorb deletion
      // vectors; optional [targetMB] and/or [where] — a first arg that
      // doesn't parse as a number IS the predicate (so
      // `log-optimize t "id < 5"` works without a target)
      val (targetMB, where) = rest match {
        case Nil => (128L, None)
        case first :: more => first.toLongOption match {
          case Some(mb) =>
            (mb, more.headOption.map(org.apache.spark.sql.functions.expr))
          case None =>
            require(more.isEmpty,
              s"log-optimize: unexpected trailing arg(s) ${more.mkString(" ")} " +
                "after a predicate")
            (128L, Some(org.apache.spark.sql.functions.expr(first)))
        }
      }
      val v = graft.store.CommitLog.optimize(spark, table,
        targetMB * 1024 * 1024, where = where)
      s"""{"cmd":"log-optimize","table":"$table","version":$v}"""

    case "log-vacuum" :: table :: hours :: Nil =>
      val swept = graft.store.CommitLog.vacuum(spark, table,
        minAgeMs = hours.toLong * 3600 * 1000)
      s"""{"cmd":"log-vacuum","table":"$table","swept":${swept.size}}"""

    case "log-prune" :: table :: rest if rest.size <= 1 =>
      val keep = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue)
      val pruned = graft.store.CommitLog.pruneLog(spark, table, keep)
      s"""{"cmd":"log-prune","table":"$table","pruned":${pruned.size}}"""

    case "log-merge" :: table :: sourcePath :: keyCols :: Nil =>
      // keyed MERGE upsert from a parquet increment — the CDC-apply
      // verb, operable without Scala (the clause builder stays API
      // surface; full-row upsert is the CLI-shaped 90% case)
      val keys = keyCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val v = graft.store.CommitLog.merge(spark, table,
        loggedSchema(spark, table), spark.read.parquet(sourcePath), keys)
      s"""{"cmd":"log-merge","table":"$table","version":$v}"""

    case "log-replace-where" :: table :: predicate :: sourcePath :: Nil =>
      // predicate-scoped atomic overwrite from a parquet slice — the
      // backfill verb (re-land one day of a clustered table), operable
      // without Scala; incoming rows are fenced to the predicate
      val v = graft.store.CommitLog.replaceWhere(
        spark.read.parquet(sourcePath), table,
        org.apache.spark.sql.functions.expr(predicate))
      s"""{"cmd":"log-replace-where","table":"$table","version":$v}"""

    case "log-changes" :: table :: since :: rest if rest.size <= 1 =>
      // change-feed inspection: per (version, change type) row counts —
      // a bounded summary (the feed itself is data-sized; an operator
      // asking "what landed since v?" wants the shape, not a dump)
      val asOf = rest.headOption.map(_.toLong).getOrElse(Long.MaxValue)
      val feed = graft.store.CommitLog.changesSince(spark, table,
        since.toLong, loggedSchema(spark, table), asOf)
      val rows = feed.groupBy("_commit_version", "_change_type")
        .count().orderBy("_commit_version", "_change_type")
        .collect() // commit-range × {insert,delete}-sized, never data-sized
        .map(r => s"""{"version":${r.getLong(0)},"change_type":"${r.getString(1)}",""" +
          s""""n_rows":${r.getLong(2)}}""")
      s"""{"cmd":"log-changes","table":"$table","since":${since.toLong},""" +
        s""""changes":[${rows.mkString(",")}]}"""

    case "log-drain" :: src :: sink :: keyCols :: rest if rest.size <= 1 =>
      // exactly-once incremental replication (identity transform): the
      // consumer checkpoint rides the sink's own commits, so rerunning
      // this verb only ever applies what landed since — a cron-able
      // table mirror with no side checkpoint to manage
      val keys = keyCols.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val maxPerBatch = rest.headOption.map(_.toLong).getOrElse(10L)
      val d = graft.store.CdcStream.drainWithBootstrap(spark, src,
        loggedSchema(spark, src), sink, identity,
        keyCols = Some(keys), maxVersionsPerBatch = maxPerBatch)
      s"""{"cmd":"log-drain","src":"$src","sink":"$sink",""" +
        s""""consumed_through":${d.consumedThrough},"batches":${d.nBatches}}"""

    case other =>
      throw new IllegalArgumentException(s"bad args: ${other.mkString(" ")}\n$usage")
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try println(run(spark, args))
    catch {
      case e: IllegalArgumentException =>
        System.err.println(e.getMessage); spark.stop(); sys.exit(2)
    }
    spark.stop()
  }
}
