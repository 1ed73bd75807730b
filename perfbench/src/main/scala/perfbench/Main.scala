package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one benchmark run hands back to the harness: its metrics, the
  * operations it attempted, and those that threw or failed a check.
  *
  * Every workload reports the same metrics (see [[Report.finish]]), from
  * the samples of its two measured units: `bulk`, its one large job, and
  * `cycle`, one pass of its repeating loop. What a workload does beyond
  * that, layer by layer, goes to `details`, which the harness prints but
  * does not report. */
final class Report(trace: Boolean) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val details = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  import Report.Sample
  private val samples = mutable.ArrayBuffer.empty[Sample]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def detail(name: String, value: Double, unit: String): Unit = details(name) = (value, unit)
  /** A workload's own figure of its untraced operations, if it has one. */
  def detail(name: String, value: Option[Double], unit: String): Unit =
    if (!trace) value.foreach(detail(name, _, unit))

  def sample(role: String, traced: Boolean, seconds: Double, counters: Map[String, Long]): Unit =
    samples += Sample(role, traced, seconds, counters.map { case (k, v) => k -> v.toDouble })
  def sample(s: Sample): Unit = samples += s

  /** The metrics every workload reports. Untraced: `setup_s`, `bulk_s`
    * (the median bulk unit) and `cycle_p50_s` (the median cycle). Traced,
    * for each role: counts from its first traced sample, so they repeat
    * exactly for a seed, and times as medians over its traced samples;
    * and how much slower its traced samples ran than its untraced ones. */
  def finish(setupS: Double): Unit =
    if (!trace) {
      metric("setup_s", setupS, "s")
      for ((role, name) <- Report.Roles) of(role, false).foreach(xs => metric(name, Stats.median(xs.map(_.seconds)), "s"))
    } else for ((role, name) <- Report.Roles; t <- of(role, true); u <- of(role, false)) {
      def count(k: String) = t.head.counters.getOrElse(k, 0.0)
      def time(k: String) = Stats.median(t.map(_.counters.getOrElse(k, 0.0)))
      for ((k, m) <- Report.Counts) metric(s"$role.$m", count(k), "count")
      metric(s"$role.shuffle_mb", count("spark.shuffle_bytes") / 1048576.0, "MB")
      metric(s"$role.task_ms", time("spark.task_ms"), "ms")
      metric(s"$role.catalyst_ms", time("catalyst.plan_us") / 1e3, "ms")
      val (ts, us) = (Stats.median(t.map(_.seconds)), Stats.median(u.map(_.seconds)))
      metric(s"trace.overhead_pct.$name", 100 * (ts / us - 1), "%")
    }

  private def of(role: String, traced: Boolean): Option[Seq[Sample]] = {
    val xs = samples.filter(s => s.role == role && s.traced == traced).toSeq
    if (xs.isEmpty) None else Some(xs)
  }

  /** One operation of the closed loop. A throw counts as a failure and
    * the loop goes on; the result is None. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        notes += s"FAILED $what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    } finally System.err.println(f"[perfbench] $what%s ${(System.nanoTime() - t0) / 1e6}%.0f ms")
  }

  /** An output check; it counts as attempted, and a mismatch as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      notes += s"CHECK $what"
    }
  }

  def json: String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ")
    def ms(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    val ns = notes.map(n => "\"" + esc(n) + "\"").mkString(",")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${ms(metrics)}},"details":{${ms(details)}},"notes":[$ns]}"""
  }
}

object Report {
  /** One measured unit: its time, and in a traced run the counter deltas
    * of its traced calls (see [[Trace]] for the keys). */
  final case class Sample(role: String, traced: Boolean, seconds: Double, counters: Map[String, Double])

  /** Each measured unit and the end-to-end metric of its median. */
  val Roles = Seq("bulk" -> "bulk_s", "cycle" -> "cycle_p50_s")
  /** Counters reported per role as counts, by metric name. */
  val Counts = Seq("spark.jobs" -> "spark_jobs", "spark.stages" -> "spark_stages",
    "fs.lists" -> "fs_lists", "fs.opens" -> "fs_opens", "fs.creates" -> "fs_creates",
    "fs.renames" -> "fs_renames", "fs.deletes" -> "fs_deletes")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The `q`-quantile of samples counted in whole ticks (integer
    * milliseconds), read as values spread evenly over each tick
    * [k - 0.5, k + 0.5): the quantile of grouped data. */
  def tickQuantile(xs: Seq[Double], q: Double): Double = {
    val rank = q * xs.size
    val counts = xs.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
    val below = counts.scanLeft(0)(_ + _._2)
    val i = counts.indices.find(i => below(i + 1) > rank).getOrElse(counts.size - 1)
    counts(i)._1 - 0.5 + (rank - below(i)) / counts(i)._2
  }
}

/** One part of a workload whose set-up has run: its set-up time in
  * seconds, and its measurements, each of which is handed the end of its
  * measurement window and reports its metrics. */
final case class Prepared(setupS: Double, measures: Seq[Long => Unit])

/** Entry point: `perfbench.Main --workload <pipeline|table_log>
  * --seed N --seconds S --trace 0|1 --work DIR --out FILE [--data DIR
  * --gen-seconds S] [--cpus N] [--wrong-expectation]`. Runs one workload in this JVM and
  * writes its report as JSON to FILE; the spans of a traced run go to
  * FILE's directory as spans.jsonl. A workload is one or more parts:
  * every part's set-up runs first, then every part's measurements, and
  * each measurement gets an equal share of the S seconds. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, data: String, genS: Double, cpus: Int, wrongExpectation: Boolean)

  type Part = (SparkSession, Args, Report) => Prepared

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("out"), kv.getOrElse("data", ""),
      kv.get("gen-seconds").map(_.toDouble).getOrElse(0.0),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      argv.contains("--wrong-expectation"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val parts: Seq[Part] = args.workload match {
      case "pipeline" => Seq(Pipeline.prepare)
      case "table_log" => Seq(TableLog.prepare, Queries.prepare)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val report = new Report(args.trace)
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(s"perfbench-${args.workload}", args.cpus.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    Trace.bind(spark)
    try {
      val prepared = parts.map(_(spark, args, report))
      val measures = prepared.flatMap(_.measures)
      val windowNs = args.seconds * 1000000000L / measures.size
      measures.foreach { m => Jvm.settle(); m(System.nanoTime() + windowNs) }
      report.finish(sessionS + args.genS + prepared.map(_.setupS).sum)
      if (args.trace) {
        Jvm.report(report)
        Trace.writeSpans(new java.io.File(new java.io.File(args.out).getParentFile, "spans.jsonl").getPath)
      }
    } finally spark.stop()
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(report.json) finally w.close()
  }
}

/** The JVM around the measurements: settling before each, and heap and
  * collector totals for the whole run. */
object Jvm {
  import scala.jdk.CollectionConverters._
  import java.lang.management.{ManagementFactory, MemoryType}

  /** A wait (at most 5 s) until the JIT has finished nothing for half a
    * second, so that the compilation the set-up triggered does not run
    * into the timed operations. */
  def settle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val start = System.nanoTime()
    val giveUp = start + 5000000000L
    var compiled = jit.getTotalCompilationTime
    var quietSince = System.nanoTime()
    while (System.nanoTime() - quietSince < 500000000L && System.nanoTime() < giveUp) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != compiled) { compiled = now; quietSince = System.nanoTime() }
    }
    System.err.println(f"[perfbench] settled in ${(System.nanoTime() - start) / 1e6}%.0f ms")
  }

  def report(r: Report): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val peak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    r.metric("jvm.gc_ms", gcMs.toDouble, "ms")
    r.metric("jvm.heap_peak_mb", peak / 1048576.0, "MB")
  }
}
