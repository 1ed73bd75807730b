package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The pipeline's four state tables under one work root (SURVEY.md
  * §7.1, K9 analog).
  *
  * The reference keeps pipeline state in external systems — a Redis SET as
  * the resource index (resource.go:77-87), SQS as the task queue, a Redis
  * SET of task hashes as the done-registry (task.go:157-179), and an SQS
  * DLQ (task.go:132-147). Here each is a LOGGED table ([[CommitLog]]):
  * every job is a pure DataFrame transform between tables, so Spark's
  * planner sees the whole pipeline, and every write is one atomic commit
  * that concurrent writers fence through the log (Delta Lake's design,
  * Armbrust et al., VLDB 2020) — no lock file, no directory swap.
  *
  *  - Ingest, plan and execute append through CommitLog's append core
  *    ([[Store.commit]]); every engine read goes through
  *    [[CommitLog.read]] ([[Store.read]]).
  *  - A batch drain consumes the queue with ONE commit tagged
  *    `#op=drain` whose removes are exactly the files it read
  *    ([[Store.drain]]): a planner append landing after that read is not
  *    among them and survives.
  *  - A dead letter is terminal: planners and drains anti-join
  *    `task_done ∪ dlq` ([[Store.finished]]), so a drain retried after a
  *    crash at any point neither runs nor records a task twice.
  *  - Counts ([[Store.count]]) are ledger folds of the log-carried
  *    `rows.count` stats — no Spark job.
  *  - `task_done` and `dlq` are append-only (no auto-compaction). A
  *    reader that lists a table's directory instead of reading its log
  *    also sees, until vacuum, the data files a crashed writer landed
  *    but never committed, and a queue file a drain has consumed; only
  *    [[read]] and [[count]] give exactly the committed rows.
  *
  * Scale: appends are partitioned by Spark's natural output partitioning
  * (no driver materialization); the dedup/claim anti-joins are
  * key-partitioned shuffles or broadcasts, AQE's call. The API is
  * path-based, so s3a:// roots change nothing but the log publisher.
  */
final case class Store(root: String) {
  val resourceIndex: String = s"$root/resource_index"
  val taskQueue: String = s"$root/task_queue"
  val taskDone: String = s"$root/task_done"
  val dlq: String = s"$root/dlq"
}

/** A store table directory that holds parquet files but no commit log:
  * written before the pipeline tables moved onto [[CommitLog]]. Reading
  * it as empty would silently drop its rows, so every pipeline read
  * refuses it until it is adopted in place. */
final class UnloggedStoreTableException(val path: String) extends IllegalStateException(
  s"$path holds parquet files but no _graft_log: a store table written before " +
    "the pipeline tables moved onto the commit log. Adopt it in place with " +
    s"CONVERT TO GRAFT graftlog.`$path` (CommitLog.convertParquet; CLI " +
    "log-convert) and rerun")

/** Bucketed (pre-partitioned, pre-sorted) table copies — Spark's
  * at-rest co-location primitive. A join between two tables bucketed
  * by the join key into the same bucket count needs NO exchange on
  * either side: each bucket pair joins locally, which at 100 TB is the
  * difference between a full-corpus shuffle per join and none. The
  * same layout serves every future join on that key (the write is
  * amortized across reads — exactly how fact tables are laid out in
  * production warehouses). `sortBy` additionally lets SortMergeJoin
  * skip its per-bucket sort.
  *
  * Bucket metadata lives in the session catalog (this build has no
  * Hive metastore), so the physical files persist in the warehouse but
  * each new session re-registers by rewriting — the operator's plan
  * effect (PlanAuditSpec pins zero pre-join exchanges) is identical to
  * a metastore deployment. */
object Bucketing {
  def ensureBucketed(spark: SparkSession, sfDir: String, table: String,
      bucketCol: String, buckets: Int): String = {
    // content-fingerprinted key (same contract as Staging.contentKeyed):
    // regenerating the fixture in place yields a NEW table name, so a
    // long-lived session can never serve a stale bucketed copy while
    // the oracle reads the live parquet (round-5 review)
    val fp = Staging.fingerprintOf(spark, s"$sfDir/$table.parquet")
    val key = graft.core.Hashing.sha256Hex(s"$sfDir|$bucketCol|$buckets|$fp").take(12)
    val name = s"graft_bkt_${table}_$key"
    if (spark.catalog.tableExists(name)) return name
    val conf = spark.sparkContext.hadoopConfiguration
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, name.toLowerCase)
    val fs = loc.getFileSystem(conf)
    if (!fs.exists(loc)) {
      // write through a pid-unique throwaway MANAGED table, then
      // publish its files at the content-keyed location by rename —
      // never delete-then-rewrite a shared path another JVM may be
      // scanning (first completed publish wins; losers discard).
      // Bucket ids are encoded in the part filenames, so the files
      // stay a valid bucketed layout wherever the directory lands.
      val tmpName = s"${name}_w${ProcessHandle.current().pid()}_${System.nanoTime()}"
      graft.Tables.load(spark, sfDir, table)
        .write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, bucketCol)
        .sortBy(bucketCol)
        .saveAsTable(tmpName)
      val tmpLoc = new org.apache.hadoop.fs.Path(warehouse, tmpName.toLowerCase)
      Store.publishDir(spark, tmpLoc.toString, loc.toString)
      // the files have moved; dropping the throwaway entry only clears
      // catalog metadata (its managed location no longer exists)
      spark.sql(s"DROP TABLE IF EXISTS $tmpName")
      // prune SUPERSEDED versions (older fingerprints) of this table's
      // bucketed copies — never tmp writer dirs (their names carry the
      // _w<pid> marker), mirroring Staging's bounded-growth contract
      val prefix = s"graft_bkt_${table}_"
      fs.listStatus(new org.apache.hadoop.fs.Path(warehouse)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(prefix) && n != name.toLowerCase && n.matches(s"$prefix[0-9a-f]{12}")) {
          fs.delete(st.getPath, true); ()
        }
      }
    }
    // register the content-keyed location as an EXTERNAL bucketed table
    // (explicit schema + CLUSTERED BY DDL — catalog API has no bucket
    // spec); external, so dropping/re-registering never touches files
    val schemaDdl = graft.Tables.load(spark, sfDir, table).schema.toDDL
    spark.sql(
      s"""CREATE TABLE $name ($schemaDdl) USING parquet
         |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
         |LOCATION '$loc'""".stripMargin)
    name
  }
}


/** Content-keyed staged copies of source tables (stream staging, the
  * at-rest IVF index): the stage path folds in a FINGERPRINT of the
  * source files (name/length/mtime per file), so regenerating a fixture
  * in place can never silently reuse a stale copy — which would change
  * query results (round-4 advice; round-5 review generalized it from
  * the IVF call site to every stager). Layout is
  * `<root>/<srcKey>/<versionKey>`: all versions of one source share a
  * parent, so publishing a fresh version prunes the stale siblings and
  * tmp growth stays bounded at one live copy per source. */
object Staging {

  /** Per-file name/length/mtime digest of a source table/dir — the
    * "has this fixture been regenerated in place?" signal every
    * content-keyed copy (stage, IVF index, bucketed table) keys on. */
  def fingerprintOf(spark: SparkSession, src: String): String = {
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val srcFs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    srcFs.listStatus(srcPath)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }

  def contentKeyed(spark: SparkSession, src: String, stageRoot: String,
      salt: String = "")(write: String => Unit): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fingerprint = fingerprintOf(spark, src)
    // salt belongs in the PARENT key, not the version key: consumers
    // staging different derivations of one source (different salt) get
    // separate parents, so one consumer's publish-and-prune can never
    // delete another's live stage — pruning only ever supersedes
    // versions of the SAME derivation
    val srcKey = graft.core.Hashing.sha256Hex(s"$src|$salt").take(16)
    val verKey = graft.core.Hashing.sha256Hex(fingerprint).take(16)
    val parent = new org.apache.hadoop.fs.Path(s"$stageRoot/$srcKey")
    val stage = new org.apache.hadoop.fs.Path(parent, verKey)
    val fs = stage.getFileSystem(conf)
    if (!fs.exists(stage)) {
      // write-then-rename so a crashed half-write can never satisfy the
      // exists() check on a later run; writer-unique tmp path so
      // concurrent JVMs staging the same version can't publish each
      // other's half-written copies (first COMPLETED rename wins)
      val tmp = s"${stage}__staging_${ProcessHandle.current().pid()}_${System.nanoTime()}"
      write(tmp)
      Store.publishDir(spark, tmp, stage.toString)
      // prune STALE versions of this source — only completed version
      // dirs (16-hex names), never a concurrent writer's live
      // `__staging_` tmp, whose publish must be allowed to lose the
      // race on its own terms
      fs.listStatus(parent).foreach { st =>
        val n = st.getPath.getName
        if (n != verKey && n.matches("[0-9a-f]{16}")) { fs.delete(st.getPath, true); () }
      }
      // one-time migration sweep: the pre-versioned layout wrote flat
      // `<name>_<hash16>` dirs (stream stages), bare 16-hex dirs
      // holding files DIRECTLY (old IVF indexes), and root-level
      // `__staging_` tmps — none visible to the per-parent prune
      // above, so without this they'd hold full table copies in tmp
      // forever (round-5 review). New-scheme parents are pure 16-hex
      // dirs containing only subdirs, so the patterns can't collide.
      fs.listStatus(new org.apache.hadoop.fs.Path(stageRoot)).foreach { st =>
        val n = st.getPath.getName
        val legacyFlat = n.matches(".+_[0-9a-f]{16}") || n.contains("__staging_")
        val legacyBare = n.matches("[0-9a-f]{16}") && st.isDirectory &&
          fs.listStatus(st.getPath).exists(_.isFile)
        if (legacyFlat || legacyBare) { fs.delete(st.getPath, true); () }
      }
    }
    stage.toString
  }
}

/** Z-order (Morton) clustering for two-column compaction layouts.
  * Single-column range clustering gives disjoint per-file ranges on ONE
  * column; scans filtering the other column still read every file. The
  * z-value interleaves the bit patterns of both columns' normalized
  * bucket indices, so sorting by it co-locates rows that are close in
  * BOTH dimensions — each output file covers a rectangle of the value
  * space and parquet min/max footers prune scans on EITHER column (the
  * standard lakehouse multi-dimension layout; at 100 TB, data layout is
  * the cheapest index there is).
  *
  * Buckets are min/max-normalized `bits`-bit indices (one tiny agg job
  * over the snapshot — negligible next to the rewrite it feeds); the
  * interleave is plain integer arithmetic inside codegen. */
object ZOrder {
  def zValue(df: DataFrame, c1: String, c2: String, bits: Int = 8): org.apache.spark.sql.Column =
    zValueN(df, Seq(c1, c2), bits)

  /** N-column Morton value: bit `i` of column `j`'s bucket index lands
    * at z-bit `i*n + j` (round-robin interleave — the direct
    * generalization of the 2-column form; at n=2 the bit layout is
    * identical to the original). `n*bits` must fit a signed Long, so
    * the default 8-bit buckets cluster up to 7 columns; trade bucket
    * resolution for dimensions past that (4 bits × 15 columns). Each
    * output file then covers an n-dimensional hyper-rectangle and
    * parquet min/max footers prune scans filtering ANY clustered
    * column. */
  def zValueN(df: DataFrame, cols: Seq[String], bits: Int = 8): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val n = cols.length
    require(n >= 2, s"z-order needs at least two columns, got $cols")
    require(n * bits <= 63,
      s"$n columns × $bits bits = ${n * bits} z-bits exceeds a signed Long (63) — lower `bits`")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // fail with a NAMED error, not a mid-compaction NPE: an all-null,
    // non-numeric (cast → null), or zero-row snapshot has no value
    // range to normalize
    cols.zipWithIndex.foreach { case (c, j) =>
      require(!r.isNullAt(2 * j) && !r.isNullAt(2 * j + 1),
        s"z-order column '$c' has no numeric values to cluster on " +
          "(non-numeric, all-null, or empty snapshot)")
    }
    def bucket(c: String, mn: Double, mx: Double): org.apache.spark.sql.Column =
      if (!(mx > mn)) lit(0L)
      // per-row nulls cluster at the origin corner (bucket 0), the
      // conventional nulls-first layout — least() alone would silently
      // send them to the MAX corner because it skips null operands
      else coalesce(
        least(lit((1L << bits) - 1),
          floor((col(c).cast("double") - mn) / (mx - mn) * (1L << bits)).cast("long")),
        lit(0L))
    val buckets = cols.zipWithIndex.map { case (c, j) =>
      bucket(c, r.getDouble(2 * j), r.getDouble(2 * j + 1))
    }
    (0 until bits).flatMap { i =>
      buckets.zipWithIndex.map { case (b, j) =>
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (i * n + j))
      }
    }.reduce(_ + _)
  }

  /** Lay a compaction rewrite out into `nOut` files: plain repartition
    * (None), single-column range clustering ("c" — disjoint per-file
    * ranges, min/max footers prune on c), or multi-column Z-order
    * ("a,b[,c,…]" — each file covers a hyper-rectangle of the value
    * space, prunes on any listed column; up to 7 columns at the
    * default 8-bit buckets). The layout of CommitLog's compact and
    * optimize rewrites. */
  def layout(df: DataFrame, nOut: Int, clusterBy: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    clusterBy match {
      case Some(spec) if spec.contains(',') =>
        val cols = spec.split(',').map(_.trim).toSeq
        // writer-unique scratch column name — withColumn would
        // silently OVERWRITE (and drop would then delete) a real
        // table column that happened to share the name
        val zc = s"__z_${System.nanoTime()}"
        df.withColumn(zc, zValueN(df, cols))
          .repartitionByRange(nOut, col(zc))
          .sortWithinPartitions(zc)
          .drop(zc)
      case Some(c) =>
        df.repartitionByRange(nOut, col(c)).sortWithinPartitions(col(c))
      case None => df.repartition(nOut)
    }
  }
}

object Store {

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** The latest snapshot of a logged store table (version 0 when
    * nothing is committed). A directory with no commit yet is listed
    * once more: parquet files there that no writer of the log landed
    * make it a pre-log table, refused with
    * [[UnloggedStoreTableException]] — never read as empty. (A writer's
    * landed-but-uncommitted files carry its stamp and are not data.) */
  def snapshot(spark: SparkSession, table: String): CommitLog.Snapshot = {
    val snap = CommitLog.snapshot(spark, table)
    if (snap.version == 0) {
      val p = new org.apache.hadoop.fs.Path(table)
      val entries =
        try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      val names = entries.map(_.getPath.getName)
      if (!names.contains("_graft_log") && entries.exists(st => st.isFile &&
          !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith(".") &&
          CommitLog.writerStampMs(st.getPath.getName).isEmpty))
        throw new UnloggedStoreTableException(table)
    }
    snap
  }

  /** The committed rows of a store table under `schema` (an empty frame
    * before its first commit), through [[CommitLog.read]]. */
  def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
    CommitLog.read(spark, table, schema, snapshot(spark, table))

  def commit(df: DataFrame, table: String): Long =
    commit(df, table, snapshot(df.sparkSession, table))

  /** Append `df` to a store table in one commit — the append core of
    * [[CommitLog.append]] without its auto-compaction, so `task_done`
    * and `dlq` stay append-only whatever the table's properties say.
    * Returns the rows it added, from the commit's ledger stats. `read`
    * is the [[snapshot]] the verb read the table through, which is what
    * refuses a pre-log directory; the append takes its schema,
    * constraints and properties from it, and the commit's fences still
    * judge a fresh listing on every publish attempt. */
  def commit(df: DataFrame, table: String, read: CommitLog.Snapshot): Long = {
    val spark = df.sparkSession
    CommitLog.appendOrAbort(df, table, read, RenameOrLinkPublisher,
      opTag = None, abortOnLostRace = _ => false)
      .fold(0L)(CommitLog.addedRows(spark, table, _))
  }

  /** Consume the queue files a drain read, in ONE commit tagged
    * `#op=drain`: its removes are exactly `read`'s live files, so an
    * append landing after the read survives. `rest` — only a limited
    * batch has one — is restaged as that same commit's adds. No commit
    * when the drain read no files. A concurrent rewrite that removed
    * one of them first fails this commit loudly (the log's remove
    * validation); the drain's results are recorded by then, and the
    * next drain consumes the files. */
  def drain(spark: SparkSession, queue: String, read: CommitLog.Snapshot,
      rest: Option[DataFrame]): Unit = {
    val files = read.live.map(_.name)
    if (files.nonEmpty) rest match {
      case None =>
        CommitLog.commit(spark, queue, adds = Seq.empty, removes = files,
          opTag = Some(DrainOp))
        ()
      case Some(df) =>
        CommitLog.appendOrAbort(df, queue, read, RenameOrLinkPublisher,
          Some(DrainOp), abortOnLostRace = _ => false, removes = files)
        ()
    }
  }

  /** The op tag of a drain's queue commit (`history()`'s operation). */
  val DrainOp = "drain"

  /** `task_hash` of every task recorded done or dead-lettered — what
    * planners and drains anti-join, so a dead letter is terminal and a
    * retried drain never runs or records a task twice. */
  def finished(spark: SparkSession, store: Store): DataFrame = {
    val hash = StructType(Seq(StructField("task_hash", StringType)))
    read(spark, store.taskDone, hash).union(read(spark, store.dlq, hash))
  }

  /** Committed rows of a store table from the ledger alone: each live
    * file's `rows.count` stat minus its deletion-vector rows. No Spark
    * job, no footer read. */
  def count(spark: SparkSession, table: String): Long =
    snapshot(spark, table).live.map(e => CommitLog.metadataVisibleCount(e)
      .getOrElse(throw new IllegalStateException(
        s"live file ${e.name} of $table carries no ledger row count"))).sum

  /** (live files, bytes) of a store table — `Cli compact`'s
    * before/after census ([[CommitLog.liveBytes]]); refuses a pre-log
    * directory. */
  def census(spark: SparkSession, table: String): (Int, Long) = {
    val snap = snapshot(spark, table)
    (snap.live.size, CommitLog.liveBytes(spark, table, snap))
  }

  /** Publish a freshly-written `tmp` directory at `dst` via rename,
    * staging semantics: losing the publish race is fine (tmp is
    * discarded, the winner's complete dst is used). Handles the two
    * Hadoop local-FS rename traps:
    *  - `rename` returns false when dst exists as a file / reappeared;
    *  - `rename` "succeeds" against a dst DIRECTORY that appeared
    *    concurrently by falling back to FileUtil.copy — it copies tmp
    *    INTO dst (a nested non-partition subdir that breaks parquet
    *    discovery), detected via the tmp-basename child and deleted. */
  def publishDir(spark: SparkSession, tmp: String, dst: String): Unit = {
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = tmpPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.rename(tmpPath, dstPath)) {
      fs.delete(tmpPath, true)
      if (!fs.exists(dstPath))
        throw new IllegalStateException(s"publish rename failed and no table at $dst")
    } else {
      val nested = new org.apache.hadoop.fs.Path(dstPath, tmpPath.getName)
      if (fs.exists(nested)) { fs.delete(nested, true); () }
    }
  }
}
