package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.exec.Execute
import graft.ingest.Ingest
import graft.plan.Plan
import graft.store.Store
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `pipeline`: the paper's own job. A bulk backfill of a seeded bucket
  * tree (ingest -> plan once, then execute -> stats on copies of the
  * planned store), then incremental rounds that each add a fixed
  * batch of objects and run the same four verbs. Loads ingest, plan, exec
  * and the unlogged Store; bypasses CommitLog and the query kernels. */
object Pipeline {
  val BackfillObjects = 400
  /** Copies of the planned store the backfill executes after the
    * original; the bulk metric is the median of the untraced ones. */
  val Backfills = 3
  val RoundObjects = 30
  val WarmObjects = 100
  val Filter = "ext/mov/mp4"
  /** Listing depth: prefixes are 3-4 levels deep and objects sit below them. */
  val Depth = 5

  private val MediaExts = Vector("mov", "MOV", "Mov", "mp4", "MP4", "mP4")
  private val OtherExts = Vector(".txt", ".json", ".jpg", ".mov.bak", "")

  /** A seeded bucket tree and its model: the media keys ingest must
    * index, each of which plans exactly two tasks (its container
    * template plus thumb). */
  final class Bucket(val root: Path, seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var next = 0
    val media = mutable.ArrayBuffer.empty[String]

    /** Write `n` new objects, 60% of them media at seeded positions;
      * returns the media keys. Every seed gives the same amount of work. */
    def add(n: Int): Seq[String] = {
      val media = n * 6 / 10
      val flags = Array.tabulate(n)(_ < media)
      for (i <- n - 1 to 1 by -1) { // Fisher-Yates
        val j = rnd.nextInt(i + 1)
        val t = flags(i); flags(i) = flags(j); flags(j) = t
      }
      flags.toSeq.flatMap(write)
    }

    private def write(isMedia: Boolean): Option[String] = {
      next += 1
      val prefix = Seq(f"cam${rnd.nextInt(6)}%02d", s"20${20 + rnd.nextInt(5)}",
        f"d${rnd.nextInt(1, 29)}%02d") ++
        (if (rnd.nextBoolean()) Seq(s"take${rnd.nextInt(3)}") else Nil)
      val name = f"clip_$next%06d" +
        (if (isMedia) "." + MediaExts(rnd.nextInt(MediaExts.size)) else OtherExts(rnd.nextInt(OtherExts.size)))
      val key = (prefix :+ name).mkString("/")
      val p = root.resolve(key)
      Files.createDirectories(p.getParent)
      val body = new Array[Byte](256 + rnd.nextInt(1792))
      rnd.nextBytes(body)
      Files.write(p, body)
      if (isMedia) { media += key; Some(key) } else None
    }

    def url(key: String): String = s"file://${root.toAbsolutePath.normalize}/$key"
  }

  final case class Counts(resources: Long, queue: Long, done: Long, dlq: Long)

  private def parseStats(json: String): Counts = {
    def n(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"stats output lacks $k: $json"))
    Counts(n("resource_index"), n("task_queue"), n("task_done"), n("dlq"))
  }

  /** The spans of one pass of the four verbs. */
  final case class Round(total: Span, ingest: Span, plan: Span, exec: Span, stats: Span)

  /** The tasks the plan verb queued, and the spans of ingest and plan. */
  final case class Planned(tasks: Long, ingest: Span, plan: Span)

  private def copyTree(from: Path, to: Path): Unit = {
    val paths = Files.walk(from)
    try paths.iterator().asScala.foreach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally paths.close()
  }

  /** Every done task of the fresh media objects: two per object (its
    * container template and thumb), and each container task's uploaded
    * manifest reads `MPD:<task_hash>`. */
  private def checkUploads(spark: SparkSession, r: Report, name: String, bucket: Bucket,
      store: Store, objects: String, fresh: Seq[String], wrong: Boolean): Unit = {
    val urls = fresh.map(k => bucket.url(k) -> k).toMap
    val mine = spark.read.parquet(store.taskDone)
      .select(col("task_hash"), col("hooks"), col("output.url"), col("input.url"))
      .collect().filter(row => urls.contains(row.getString(3)))
    val hooksOk = mine.groupBy(_.getString(3)).map { case (in, rows) =>
      rows.map(_.getString(1)).sorted.toSeq == Seq(in.split('.').last.toLowerCase, "thumb").sorted
    }
    r.check(hooksOk.size == fresh.size + (if (wrong) 1 else 0) && hooksOk.forall(identity),
      s"$name: done tasks do not match two per media object (${mine.length} for ${fresh.size})")
    val badManifests = mine.count { row =>
      row.getString(1) != "thumb" && {
        val p = Paths.get(objects, row.getString(2).replaceFirst("^[a-z0-9]+://", ""), "manifest.mpd")
        val want = s"MPD:${if (wrong) "0" else row.getString(0)}\n"
        !Files.exists(p) || new String(Files.readAllBytes(p), UTF_8) != want
      }
    }
    r.check(badManifests == 0, s"$name: $badManifests manifests do not read MPD:<task_hash>")
  }

  def prepare(spark: SparkSession, args: Main.Args, r: Report): Prepared = {
    val work = Paths.get(args.work)
    val wrong = if (args.wrongExpectation) 1 else 0

    def ingestPlan(bucket: Bucket, store: Store): Planned = {
      val (_, ingest) = Trace.span("ingest")(Ingest.run(spark, bucket.root.toString, Filter, Depth, store))
      val (added, plan) = Trace.span("plan")(Plan.run(spark, store))
      Planned(added, ingest, plan)
    }

    // one pass of the four verbs (the first two done already when
    // `planned` is given), then its checks against the model; None when a
    // verb threw
    def pass(name: String, bucket: Bucket, store: Store, fresh: Seq[String],
        planned: Option[Planned] = None): Option[Round] = {
      val objects = s"${store.root}_objects"
      r.op(name) {
        val ((added, done, stats, ingest, plan, exec, st), total) = Trace.span(name) {
          val Planned(added, ingest, plan) = planned.getOrElse(ingestPlan(bucket, store))
          val ((done, _), exec) = Trace.span("exec")(Execute.run(spark, store, objects))
          val (stats, st) = Trace.span("stats")(graft.Cli.run(spark, Array("stats", store.root)))
          (added, done, parseStats(stats), ingest, plan, exec, st)
        }
        val media = bucket.media.size.toLong
        val model = Counts(media + wrong, 0, 2 * media, 0)
        val tasks = 2L * fresh.size + wrong
        r.check(added == tasks && done == tasks,
          s"$name planned $added and executed $done tasks for ${fresh.size} new media objects")
        r.check(stats == model, s"$name: stats $stats, model $model")
        checkUploads(spark, r, name, bucket, store, objects, fresh, wrong == 1)
        Round(total, ingest, plan, exec, st)
      }
    }

    def describe(what: String, rd: Round): Unit =
      r.notes += f"$what: ingest ${rd.ingest.ms / 1e3}%.2f s, plan ${rd.plan.ms / 1e3}%.2f s, " +
        f"exec ${rd.exec.ms / 1e3}%.2f s, stats ${rd.stats.ms / 1e3}%.2f s"

    // set-up: the seeded tree and a JIT warm-up backfill on a tree and
    // store of its own. Then the tree is ingested and planned once and the
    // planned store copied, so that every backfill executes the same queue
    // on a fresh store; executing the original warms that verb up, which
    // otherwise still got faster over the next two copies.
    val t0 = System.nanoTime()
    val bucket = new Bucket(work.resolve("bucket"), args.seed)
    val initial = bucket.add(BackfillObjects)
    val warm = new Bucket(work.resolve("warm_bucket"), args.seed ^ 0x5eedL)
    pass("warm-up backfill", warm, Store(work.resolve("warm_store").toString), warm.add(WarmObjects))
      .foreach(describe("warm-up backfill", _))
    val stores = (0 to Backfills).map(k => Store(work.resolve(s"store$k").toString))
    val planned = r.op("backfill ingest and plan") {
      val p = ingestPlan(bucket, stores.head)
      stores.tail.foreach(st => copyTree(Paths.get(stores.head.root), Paths.get(st.root)))
      p
    }
    for (p <- planned) pass("warm-up execute", bucket, stores.head, initial, Some(p))
      .foreach(describe("warm-up execute", _))
    val setupS = (System.nanoTime() - t0) / 1e9

    // measurement, in two parts. First the execute and stats verbs on each
    // copy, whatever the window. A traced run traces the middle
    // one, so that warm-up drift falls on both alike.
    val tasks = 2.0 * initial.size
    var backfills = Seq.empty[(Boolean, Option[Round])]
    def backfill(deadline: Long): Unit = {
      backfills = for (p <- planned.toSeq; (st, k) <- stores.tail.zipWithIndex) yield {
        val traced = args.trace && k == 1
        Trace.enable(traced)
        try traced -> pass(s"backfill ${k + 1}", bucket, st, initial, Some(p)) finally Trace.enable(false)
      }
      // the bulk unit: the backfill's execute verb, about half of it
      // per-task process spawn and copy
      for ((traced, Some(b)) <- backfills) r.sample("bulk", traced, b.exec.ms / 1e3, b.exec.counters)
      val untraced = backfills.collect { case (false, Some(b)) => tasks / (b.exec.ms / 1e3) }
      r.detail("backfill_tasks_per_s", if (untraced.isEmpty) None else Some(Stats.median(untraced)), "1/s")
      for ((traced, Some(b)) <- backfills) describe(if (traced) "traced backfill" else "backfill", b)
    }

    // Then rounds on the first measured copy while the next one should end
    // by the deadline (at least one; two in a traced run). A traced run
    // traces rounds in the order untraced, traced, traced, untraced, ...
    // so that drift falls on both alike.
    def rounds(deadline: Long): Unit = {
      val store = stores(1)
      val rounds = mutable.ArrayBuffer.empty[(Boolean, Round)]
      var i = 0
      var last = 0L
      while (i < (if (args.trace) 2 else 1) || System.nanoTime() + last < deadline) {
        val traced = args.trace && (i % 4 == 1 || i % 4 == 2)
        val fresh = bucket.add(RoundObjects)
        val t0 = System.nanoTime()
        Trace.enable(traced)
        try pass(s"round ${i + 1}", bucket, store, fresh).foreach(rd => rounds += traced -> rd)
        finally Trace.enable(false)
        last = System.nanoTime() - t0
        i += 1
      }
      // the cycle unit: one round of the four verbs
      for ((traced, rd) <- rounds) r.sample("cycle", traced, rd.total.ms / 1e3, rd.total.counters)
      val untraced = rounds.collect { case (false, rd) => rd.total.ms / 1e3 }.toSeq
      r.detail("round_p50_s", if (untraced.isEmpty) None else Some(Stats.median(untraced)), "s")
      r.notes += s"${rounds.size} rounds of $RoundObjects objects after ${backfills.size} backfills of " +
        s"$BackfillObjects objects (${tasks.toInt} tasks each)"

      if (args.trace) {
        val traced = rounds.collect { case (true, rd) => rd }.toSeq
        val first = traced.head // counts: the first traced round, the same in every run
        def p50(f: Round => Double) = Stats.median(traced.map(f))
        r.detail("ingest.run_ms", p50(_.ingest.ms), "ms")
        r.detail("ingest.jobs", first.ingest("spark.jobs").toDouble, "count")
        r.detail("plan.run_ms", p50(_.plan.ms), "ms")
        r.detail("plan.jobs", first.plan("spark.jobs").toDouble, "count")
        r.detail("plan.shuffle_mb", first.plan("spark.shuffle_bytes") / 1048576.0, "MB")
        r.detail("exec.run_ms", p50(_.exec.ms), "ms")
        r.detail("exec.jobs", first.exec("spark.jobs").toDouble, "count")
        backfills.collectFirst { case (true, Some(b)) => b }.foreach { b =>
          // whole-millisecond samples: quantiles interpolate within the tick
          val elapsed = spark.read.parquet(stores(2).taskDone).select("elapsed_ms")
            .collect().map(_.getLong(0).toDouble).toSeq
          r.detail("exec.task_p50_ms", Stats.tickQuantile(elapsed, 0.5), "ms")
          r.detail("exec.task_tail_ms", Stats.tickQuantile(elapsed, 0.99), "ms")
          r.detail("exec.task_cpu_ms", b.exec("spark.task_ms").toDouble, "ms")
        }
        r.detail("store.stats_ms", p50(_.stats.ms), "ms")
        for (k <- Seq("lists", "opens", "creates", "renames", "deletes"))
          r.detail(s"store.fs_$k", first.total(s"fs.$k").toDouble, "count")
      }
    }

    Prepared(setupS, Seq(backfill, rounds))
  }
}
