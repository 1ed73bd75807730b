package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into one layer, or a group of such calls.
  * `counters` are the deltas of [[Trace.counters]] across the interval. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    counters: Map[String, Long]) {
  def ms: Double = (endNs - startNs) / 1e6
  def apply(counter: String): Long = counters.getOrElse(counter, 0L)
}

/** The traced run's span recorder and counters.
  *
  * Counters are process-wide and only move while tracing is on; the
  * benchmark runs one closed-loop client on the main thread, and every
  * span boundary drains the listener bus, so the delta between two
  * boundaries is exactly the work of the calls between them. With
  * tracing off a span is a bare timer: no drain, no counter reads. */
object Trace {
  @volatile private[perfbench] var on = false
  @volatile private var spark: SparkSession = _

  private val adders = new ConcurrentHashMap[String, LongAdder]()
  def add(key: String, v: Long): Unit =
    if (on) adders.computeIfAbsent(key, _ => new LongAdder).add(v)

  /** Each trigger's triggerExecution time, in arrival order. */
  private[perfbench] val triggerMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()

  val runId: String = f"${System.currentTimeMillis()}%x-${ProcessHandle.current().pid()}"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()

  def bind(s: SparkSession): Unit = spark = s

  private def drain(): Unit =
    if (spark != null) org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

  private def counters(): Map[String, Long] = {
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    adders.asScala.map { case (k, a) => k -> a.sum() }.toMap + ("jvm.gc_ms" -> gcMs)
  }

  /** Switch tracing on or off between operations (never inside a span). */
  def enable(flag: Boolean): Unit = if (flag != on) {
    drain() // events of the previous interval land before the switch
    on = flag
  }

  /** Time `body`; with tracing on, also record it as a span. */
  def span[T](name: String)(body: => T): (T, Span) = {
    if (!on) {
      val t0 = System.nanoTime()
      val r = body
      (r, Span(-1, name, -1, t0, System.nanoTime(), Map.empty))
    } else {
      drain()
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the span closes
      stack.push(id)
      val before = counters()
      val t0 = System.nanoTime()
      try {
        val r = body
        val t1 = System.nanoTime()
        drain()
        val after = counters()
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) }
        val s = Span(id, name, parent, t0, t1, delta)
        spans(id) = s
        (r, s)
      } finally { stack.pop(); () }
    }
  }

  /** Write every closed span as one JSON line. */
  def writeSpans(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.filter(_ != null).foreach { s =>
      val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
      out.println(s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":{$cs}}""")
    } finally out.close()
  }
}

/** Spark jobs, stages, task time and shuffle bytes (spark.extraListeners). */
class JobCounter extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.add("spark.jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    Trace.add("spark.stages", 1)
    if (m != null) {
      Trace.add("spark.task_ms", m.executorRunTime)
      Trace.add("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** Catalyst time per query execution, from its planning tracker: the
  * analyzer and optimizer rule time (recorded in ns) plus the physical
  * planning phase (spark.sql.queryExecutionListeners). */
class PlanCounter extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    Trace.add("catalyst.plan_us", t.rules.values.map(_.totalTimeNs).sum / 1000 +
      t.phases.get("planning").map(_.durationMs * 1000).getOrElse(0L))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Micro-batch triggers and where their time went
  * (spark.sql.streaming.streamingQueryListeners). */
class TriggerCounter extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Trace.on) {
    val d = e.progress.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    Trace.add("stream.triggers", 1)
    Trace.triggerMs.add(ms("triggerExecution"))
    Trace.add("stream.add_batch_ms", ms("addBatch"))
    Trace.add("stream.wal_ms", ms("walCommit") + ms("commitOffsets"))
    Trace.add("stream.state_commit_ms", e.progress.stateOperators.map(_.commitTimeMs).sum)
  }
}

/** The local filesystem, counting the Hadoop calls made through it
  * (spark.hadoop.fs.file.impl). */
class CountingFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = {
    Trace.add("fs.lists", 1); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Trace.add("fs.opens", 1); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    Trace.add("fs.creates", 1)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Trace.add("fs.renames", 1); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Trace.add("fs.deletes", 1); super.delete(f, recursive)
  }
}
