package graft.plan

import graft.ingest.Ingest
import graft.store.{CommitLog, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The plan (tasker) job — SURVEY.md §2.3 P1/P2, §2.4 D3.
  *
  * Reference: the tasker pops a resource batch from the Redis set, fans
  * each resource out through the template registry, enqueues tasks to
  * SQS and SADDs their hashes (internal/tasker/service.go:85-132). Its
  * intended-but-commented task dedup (service.go:104-112) is implemented
  * here for real: a left-anti join of the fanned-out tasks against the
  * pending `task_queue` and against `task_done ∪ dlq` on task_hash, so
  * re-planning is idempotent and finished work — a dead letter included
  * — is never re-enqueued.
  *
  * Scale: fan-out is a narrow Generate (no shuffle); the anti-joins
  * hash-partition on task_hash — or broadcast when the done/pending sets
  * are small, AQE's call. The resource set is never collected.
  */
object Plan {

  /** The planning core shared by the batch job and the streaming tasker
    * (StreamingJobs.planStream): fan the given resources out through
    * the templates and drop anything already queued, done or
    * dead-lettered — ONE implementation, so batch and streaming planners
    * can never derive different task identities for the same resources.
    * The queue is read through `queue`, the snapshot the planner's
    * queue commit then shares, BEFORE `task_done ∪ dlq`: a drain records
    * its results before it removes their queue files, so a task missing
    * from the queue read is in the later read of its results. */
  private[graft] def freshTasks(spark: SparkSession, resources: DataFrame, store: Store,
      templates: Seq[TemplateDef], cfg: Templates.PlanConfig,
      queue: CommitLog.Snapshot): DataFrame = {
    val tasks = Templates.fanOut(resources, templates, cfg)
      .dropDuplicates("task_hash")
    val queued = CommitLog.read(spark, store.taskQueue,
      StructType(Seq(StructField("task_hash", StringType))), queue)
    tasks
      .join(Store.finished(spark, store), Seq("task_hash"), "left_anti")
      .join(queued, Seq("task_hash"), "left_anti")
      .select(tasks.columns.map(col): _*) // stable column order across appends
  }

  /** Fan out un-planned resources into task_queue in one logged append;
    * returns the tasks it added, from that commit's ledger stats (no
    * count job). No lock: a concurrent drain's queue commit removes only
    * the files it read, never this append's. */
  def run(spark: SparkSession, store: Store,
      templates: Seq[TemplateDef] = Templates.registry,
      cfg: Templates.PlanConfig = Templates.PlanConfig()): Long = {
    val resources = Store.read(spark, store.resourceIndex, Ingest.resourceSchema)
    val queue = Store.snapshot(spark, store.taskQueue)
    Store.commit(freshTasks(spark, resources, store, templates, cfg, queue), store.taskQueue, queue)
  }
}
