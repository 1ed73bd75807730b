package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.store.CommitLog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, count, lit, sum, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The logged-table part of the `table_log` workload: a logged table
  * fed like a micro-batch sink. A stream of appendOnce batches (fixed
  * query id, rising batch id) with current and time-travel reads and
  * row-level DML (merge-on-read deleteWhere, keyed merge) interleaved at
  * fixed ratios, all on one growing log that crosses a checkpoint every
  * 10 versions. Loads store.CommitLog and its read path; bypasses
  * ingest, plan, exec and the query kernels. */
object TableLog {
  val BatchRows = 1000
  val DeleteRows = 40
  val MergeUpdates = 50
  val MergeInserts = 50
  val RecentBatches = 3
  val QueryId = "perfbench-sink"
  /** One cycle of the closed loop: A = appendOnce, R = current read,
    * T = time-travel read, D = deleteWhere, M = merge. The delete opens
    * the cycle and leaves a deletion vector that every current read pays
    * for; the merge closes it by correcting rows around the deleted ones,
    * which rewrites their file and retires the vector, so every cycle
    * starts from the same kind of state. A cycle writes ten versions, so
    * the log's checkpoint (every 10 versions) falls on the same commit of
    * every cycle. */
  val Cycle = "DAAAARAAAARTM"
  /** The set-up operations, on the same table, warm the JIT. They write
    * versions 1-5, so every cycle's fourth commit writes a checkpoint. */
  val WarmUp = "AADARTM"

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType), StructField("p", StringType)))

  /** Row count and key checksums of a table state. */
  final case class Summary(rows: Long, idSum: Long, idVSum: Long)

  /** The reference model: rows by id plus the summary of every version. */
  final class Model {
    val rows = mutable.HashMap.empty[Long, Long]
    val history = mutable.LinkedHashMap.empty[Long, Summary]
    def summary: Summary = Summary(rows.size.toLong, rows.keys.sum, rows.iterator.map { case (k, v) => k * v }.sum)
    def commit(version: Long): Unit = history(version) = summary
  }

  private def summaryOf(df: DataFrame): Summary = {
    val row = df.agg(count(lit(1)), sum(col("id")), sum(col("id") * col("v"))).head()
    if (row.getLong(0) == 0) Summary(0, 0, 0) else Summary(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** What one operation of the loop did, for the metrics. */
  final case class Op(kind: Char, cycle: Int, traced: Boolean, span: Span, version: Long,
      extra: Map[String, Double])

  def prepare(spark: SparkSession, args: Main.Args, r: Report): Prepared = {
    val wrong = if (args.wrongExpectation) 1L else 0L

    /** The closed-loop client: drives one table through the op cycle,
      * checks every read against the model and records the operations
      * that succeeded. */
    final class Client(table: String, seed: Long) {
      private val rnd = new java.util.SplittableRandom(seed)
      val model = new Model
      private var batchId = 0L
      private var nextInsert = 1000000000L
      var cycle = 0
      val ops = mutable.ArrayBuffer.empty[Op]

      private def expect(s: Summary) = s.copy(rows = s.rows + wrong)

      /** The first id the last delete removed. */
      private var deletedFrom = 0L

      /** A start id for `n` consecutive ids within the last RecentBatches
        * batches: deletes land on recent data, as a daily correction
        * does, so their cost does not grow with the table. */
      private def recent(n: Int): Long = {
        val lo = math.max(0L, (batchId - RecentBatches) * BatchRows)
        lo + rnd.nextLong(batchId * BatchRows - n - lo + 1)
      }

      private def live(): Int = CommitLog.liveFiles(spark, table)._2.size
      private def vectored(): Long = CommitLog.detail(spark, table).select("num_vectored_files").head().getLong(0)

      def step(kind: Char, traced: Boolean): Unit = {
        val name = kind match {
          case 'A' => "commit"; case 'R' => "read"; case 'T' => "travel"
          case 'D' => "delete"; case 'M' => "merge"
        }
        r.op(s"$name on $table") {
          val (version, extra, span) = kind match {
            case 'A' =>
              batchId += 1
              val lo = (batchId - 1) * BatchRows
              val salt = rnd.nextInt(10007).toLong
              val df = spark.range(lo, lo + BatchRows, 1, 4).select(col("id"),
                ((col("id") * 7919 + salt) % 10007).as("v"), concat(lit("r"), col("id")).as("p"))
              val (won, s) = Trace.span(name)(CommitLog.appendOnce(df, table, QueryId, batchId))
              val v = won.getOrElse(throw new IllegalStateException(s"batch $batchId was not committed"))
              (lo until lo + BatchRows).foreach(id => model.rows(id) = (id * 7919 + salt) % 10007)
              val folds = if (!traced) Map.empty[String, Double] else Seq[(String, () => Any)](
                "latestVersion" -> (() => CommitLog.latestVersion(spark, table)),
                "liveFiles" -> (() => CommitLog.liveFiles(spark, table)),
                "lastTxnBatch" -> (() => CommitLog.lastTxnBatch(spark, table, QueryId)),
                "schemaAt" -> (() => CommitLog.schemaAt(spark, table)),
                "constraintsAt" -> (() => CommitLog.constraintsAt(spark, table)),
                "propertiesAt" -> (() => CommitLog.propertiesAt(spark, table))
              ).map { case (f, call) => f -> Trace.span(s"fold.$f")(call())._2.ms }.toMap
              (v, folds, s)
            case 'R' =>
              // the table a traced read pays for, counted before it
              val before = if (traced) counts() else Map.empty[String, Double]
              val (got, s) = Trace.span(name) {
                val (df, plan) = Trace.span("read_plan")(CommitLog.read(spark, table, schema))
                (summaryOf(df), plan.ms)
              }
              val v = CommitLog.latestVersion(spark, table)
              r.check(got._1 == expect(model.summary), s"read at version $v: table ${got._1}, model ${expect(model.summary)}")
              (v, before + ("plan_ms" -> got._2), s)
            case 'T' =>
              val versions = model.history.keys.toVector
              val asOf = versions(rnd.nextInt(versions.size))
              val (got, s) = Trace.span(name)(summaryOf(CommitLog.read(spark, table, schema, asOf)))
              r.check(got == expect(model.history(asOf)),
                s"time travel to version $asOf: table $got, model ${expect(model.history(asOf))}")
              (asOf, Map.empty[String, Double], s)
            case 'D' =>
              val lo = recent(DeleteRows)
              deletedFrom = lo
              val before = if (traced) vectored() else 0L
              val (v, s) = Trace.span(name)(CommitLog.deleteWhere(spark, table, schema,
                col("id").between(lo, lo + DeleteRows - 1), deletionVectors = true))
              (lo until lo + DeleteRows).foreach(model.rows.remove)
              (v, if (traced) Map("dv_files" -> (vectored() - before).toDouble) else Map.empty[String, Double], s)
            case 'M' =>
              // corrections around the deleted rows, which share their file
              val near = math.max(0L, deletedFrom - 100)
              val span = math.min(DeleteRows + 200L, batchId * BatchRows - near)
              val updates = Iterator.continually(near + rnd.nextLong(span))
                .distinct.take(MergeUpdates).toSeq
              val inserts = (0 until MergeInserts).map(_ => { nextInsert += 1; nextInsert })
              val rows = (updates ++ inserts).map(id => id -> (rnd.nextInt(10007).toLong))
              val source = spark.createDataFrame(
                rows.map { case (id, v) => Row(id, v, s"m$id") }.asJava, schema)
              val liveBefore = if (traced) CommitLog.liveFiles(spark, table)._2.toSet else Set.empty[String]
              val (v, s) = Trace.span(name)(CommitLog.merge(spark, table, schema, source, Seq("id")))
              rows.foreach { case (id, value) => model.rows(id) = value }
              val rewritten = if (traced) (liveBefore -- CommitLog.liveFiles(spark, table)._2).size else 0
              (v, Map("files_rewritten" -> rewritten.toDouble), s)
          }
          if (kind != 'R' && kind != 'T') model.commit(version)
          ops += Op(kind, cycle, traced, span, version, extra)
        }
        ()
      }

      /** Every committed version, checked in one scan of the change feed:
        * the rows each write added and removed, folded in version order,
        * must sum to the model's summary of that version. (Reads check
        * the snapshots themselves.) */
      def verifyHistory(): Unit = {
        val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
        val deltas = scala.util.Try(CommitLog.changesSince(spark, table, 0L, schema)
          .groupBy("_commit_version")
          .agg(sum(sign), sum(sign * col("id")), sum(sign * col("id") * col("v")))
          .collect().map(row => row.getLong(0) -> Summary(row.getLong(1), row.getLong(2), row.getLong(3)))
          .toMap)
        var state = Summary(0, 0, 0)
        for ((v, want) <- model.history) {
          val d = deltas.toOption.flatMap(_.get(v)).getOrElse(Summary(0, 0, 0))
          state = Summary(state.rows + d.rows, state.idSum + d.idSum, state.idVSum + d.idVSum)
          r.check(deltas.isSuccess && state == expect(want),
            s"version $v changes sum to $state, model ${expect(want)} (${deltas.failed.map(_.getMessage).getOrElse("")})")
        }
      }

      def counts(): Map[String, Double] = Map(
        "live_files" -> live().toDouble,
        "dv_files" -> vectored().toDouble,
        "log_files" -> Files.list(Paths.get(table, "_graft_log")).iterator().asScala.size.toDouble)
    }

    // set-up: the warm-up operations, kept out of the samples
    val t0 = System.nanoTime()
    val d = new Client(Paths.get(args.work, "table").toString, args.seed)
    d.cycle = -1
    WarmUp.foreach(d.step(_, traced = false))
    d.ops.clear()
    d.cycle = 0
    val setupS = (System.nanoTime() - t0) / 1e9

    Prepared(setupS, Seq { (deadline: Long) =>
      // measurement: whole cycles while the next one should end by the
      // deadline, at least one (two in a traced run), so a run's samples do
      // not depend on where the deadline falls. A traced run traces cycles
      // in the order untraced, traced, traced, untraced, ... so drift falls
      // on both alike.
      var last = 0L
      while (d.cycle < (if (args.trace) 2 else 1) || System.nanoTime() + last < deadline) {
        val traced = args.trace && (d.cycle % 4 == 1 || d.cycle % 4 == 2)
        val t0 = System.nanoTime()
        Trace.enable(traced)
        try Cycle.foreach(d.step(_, traced)) finally Trace.enable(false)
        last = System.nanoTime() - t0
        d.cycle += 1
      }
      val tv = System.nanoTime()
      d.verifyHistory()
      System.err.println(f"[perfbench] verified ${d.model.history.size} versions in ${(System.nanoTime() - tv) / 1e6}%.0f ms")

      // the cycle unit: the calls of one whole cycle, the client's checks
      // and model excluded
      for ((_, ops) <- d.ops.groupBy(_.cycle).toSeq.sortBy(_._1) if ops.size == Cycle.length)
        r.sample("cycle", ops.head.traced, ops.map(_.span.ms).sum / 1e3,
          ops.flatMap(_.span.counters).groupMapReduce(_._1)(_._2)(_ + _))

      def of(kind: Char, traced: Boolean) = d.ops.filter(o => o.kind == kind && o.traced == traced).toSeq
      def p50(kind: Char) = {
        val xs = of(kind, false).map(_.span.ms)
        if (xs.isEmpty) None else Some(Stats.median(xs))
      }
      // each cycle's slowest commit (one of its commits writes the
      // checkpoint), median over the cycles
      val maxima = of('A', false).groupBy(_.cycle).values.map(_.map(_.span.ms).max).toSeq
      r.detail("commit_p50_ms", p50('A'), "ms")
      r.detail("commit_max_ms", if (maxima.isEmpty) None else Some(Stats.median(maxima)), "ms")
      r.detail("read_p50_ms", p50('R'), "ms")
      r.detail("travel_p50_ms", p50('T'), "ms")
      r.detail("delete_p50_ms", p50('D'), "ms")
      r.detail("merge_p50_ms", p50('M'), "ms")
      val checkpoints = d.ops.filter(o => o.kind == 'A' && o.version % 10 == 0).toSeq
      r.notes += s"${of('A', false).size} commits in ${d.cycle} cycles of $Cycle; " +
        s"checkpoints at versions ${checkpoints.map(_.version).mkString(", ")}"

      if (args.trace) {
        // counts come from the first traced cycle, the same in every run
        def firstCycle(kind: Char) = d.ops.filter(o => o.kind == kind && o.cycle == 1)
        val commits = firstCycle('A')
        def perCommit(k: String) = commits.map(_.span(k)).sum.toDouble / commits.size
        r.detail("commitlog.fs_lists_per_commit", perCommit("fs.lists"), "count")
        r.detail("commitlog.fs_opens_per_commit", perCommit("fs.opens"), "count")
        r.detail("commitlog.fs_creates_per_commit", perCommit("fs.creates"), "count")
        r.detail("commitlog.jobs_per_commit", perCommit("spark.jobs"), "count")
        r.detail("commitlog.stages_per_commit", perCommit("spark.stages"), "count")
        val tracedCommits = of('A', true)
        for (f <- Seq("latestVersion", "liveFiles", "lastTxnBatch", "schemaAt", "constraintsAt", "propertiesAt"))
          r.detail(s"commitlog.fold_ms.$f", Stats.median(tracedCommits.map(_.extra(f))), "ms")
        val cp = checkpoints.filter(_.traced)
        if (cp.nonEmpty) r.detail("commitlog.checkpoint_commit_ms", Stats.median(cp.map(_.span.ms)), "ms")
        val merge = firstCycle('M').head
        r.detail("commitlog.merge_jobs", merge.span("spark.jobs").toDouble, "count")
        r.detail("commitlog.merge_files_rewritten", merge.extra("files_rewritten"), "count")
        val delete = firstCycle('D').head
        r.detail("commitlog.delete_jobs", delete.span("spark.jobs").toDouble, "count")
        r.detail("commitlog.delete_dv_files", delete.extra("dv_files"), "count")
        val read = firstCycle('R').head
        r.detail("sources.read_plan_ms", Stats.median(of('R', true).map(_.extra("plan_ms"))), "ms")
        for (k <- Seq("live_files", "dv_files", "log_files")) r.detail(s"table.$k", read.extra(k), "count")
        r.detail("sources.read_files", read.extra("live_files"), "count")
        r.detail("sources.read_jobs", read.span("spark.jobs").toDouble, "count")
        r.detail("sources.travel_ms", Stats.median(of('T', true).map(_.span.ms)), "ms")
      }
    })
  }
}
