package graft.exec

import graft.SparkSpec
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.{Plan, TemplateDef, Templates}
import graft.store.Store

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

/** The local filesystem under its own scheme, crashing once at the
  * publish of a commit into one table's log: before the rename (the
  * commit never lands) or right after it (the commit is durable, the
  * writer dies). */
class CrashingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = CrashingFileSystem.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean =
    CrashingFileSystem.armed.get match {
      case Some((table, afterPublish)) if dst.getName.endsWith(".commit") &&
          dst.getParent.toUri.getPath.endsWith(s"/$table/_graft_log") =>
        CrashingFileSystem.armed.set(None)
        if (afterPublish) super.rename(src, dst)
        throw new java.io.IOException(
          s"injected crash ${if (afterPublish) "after" else "before"} the $table commit")
      case _ => super.rename(src, dst)
    }
}

object CrashingFileSystem {
  val Scheme = "graftcrash"
  /** (table directory name, crash after the publish?) — one shot. */
  val armed = new AtomicReference[Option[(String, Boolean)]](None)
}

/** A batch drain on the commit log is safe to retry after a crash at any
  * phase — after execute, after the done commit, after the dlq commit,
  * just before and just after the queue commit — and needs no lock
  * against a concurrent planner. A task the queue holds twice (racing
  * planners, or a file beside its restaged copy) runs and lands once. */
class DrainCrashSpec extends SparkSpec {

  /** Each .mov resource plans a dead-lettering container task and a
    * succeeding thumb task. */
  private val failing = Seq(
    TemplateDef("mov", Seq("mov"), "img", "fail_stub", 60),
    TemplateDef("thumb", Seq("mov"), "img", "process_thumb", 60))

  private val hashSchema = org.apache.spark.sql.types.StructType.fromDDL("task_hash string")

  private def hashes(table: String): Seq[String] =
    Store.read(spark, table, hashSchema).select("task_hash")
      .collect().map(_.getString(0)).toSeq

  /** A drain crashing at the publish of `table`'s commit, then a rerun:
    * returns what the rerun drained. Every planned task ends in done or
    * dlq exactly once, and the queue empty. */
  private def crashThenRerun(table: String, afterPublish: Boolean): (Long, Long) = {
    FixtureTree.ensure()
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${CrashingFileSystem.Scheme}.impl", classOf[CrashingFileSystem].getName)
    val root = Files.createTempDirectory("graft_drain_crash").toString
    val store = Store(s"${CrashingFileSystem.Scheme}://$root/store")
    val obj = Files.createTempDirectory("graft_drain_obj").toString
    Ingest.run(spark, FixtureTree.root, "ext/mov", 2, store) // 2 resources
    assert(Plan.run(spark, store, failing) == 4)
    val planned = hashes(store.taskQueue).toSet
    CrashingFileSystem.armed.set(Some((table, afterPublish)))
    try {
      val e = intercept[Exception](Execute.run(spark, store, obj))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage.contains("injected crash")), e)
    } finally CrashingFileSystem.armed.set(None)
    val rerun = Execute.run(spark, store, obj)
    val (done, dlq) = (hashes(store.taskDone), hashes(store.dlq))
    assert(done.size == 2 && done.distinct == done, s"task_done rows: $done")
    assert(dlq.size == 2 && dlq.distinct == dlq, s"dlq rows: $dlq")
    assert((done ++ dlq).toSet == planned, "a planned task was lost")
    assert(Store.count(spark, store.taskQueue) == 0)
    assert(Execute.run(spark, store, obj) == ((0L, 0L)))
    rerun
  }

  test("crash after execute, before the done commit: the rerun runs every task once") {
    assert(crashThenRerun("task_done", afterPublish = false) == ((2L, 2L)))
  }

  test("crash after the done commit: the rerun runs only the unrecorded failures") {
    assert(crashThenRerun("task_done", afterPublish = true) == ((0L, 2L)))
  }

  test("crash after the dlq commit: the rerun runs nothing and consumes the queue") {
    assert(crashThenRerun("dlq", afterPublish = true) == ((0L, 0L)))
  }

  test("crash just before the queue commit: the rerun runs nothing and consumes the queue") {
    assert(crashThenRerun("task_queue", afterPublish = false) == ((0L, 0L)))
  }

  test("crash just after the queue commit: the rerun finds nothing to do") {
    assert(crashThenRerun("task_queue", afterPublish = true) == ((0L, 0L)))
  }

  test("a concurrent Plan.run and Execute.run on one store lose no task") {
    FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_drain_race").toString)
    val obj = Files.createTempDirectory("graft_drain_race_obj").toString
    Ingest.run(spark, FixtureTree.root, "ext/mov", 2, store)
    assert(Plan.run(spark, store) == 4)
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store) // +2 resources
    val planned = new AtomicReference[Either[Throwable, Long]](Left(new IllegalStateException))
    val planner = new Thread(() =>
      planned.set(try Right(Plan.run(spark, store)) catch { case t: Throwable => Left(t) }))
    planner.start()
    val first = Execute.run(spark, store, obj)
    planner.join(120000)
    assert(planned.get == Right(4L), s"planner: ${planned.get}")
    val second = Execute.run(spark, store, obj)
    assert(first._1 + second._1 == 8 && first._2 + second._2 == 0, s"$first then $second")
    val done = hashes(store.taskDone)
    assert(done.size == 8 && done.distinct.size == 8, s"task_done rows: $done")
    assert(Store.count(spark, store.taskQueue) == 0)
  }

  test("two planners that read one queue snapshot both land; the drain runs each task once") {
    FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_plan_race").toString)
    val obj = Files.createTempDirectory("graft_plan_race_obj").toString
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    // both planners anti-join the same (empty) queue before either commits
    val resources = Store.read(spark, store.resourceIndex, Ingest.resourceSchema)
    val planners = Seq.fill(2)(Plan.freshTasks(spark, resources, store,
      Templates.registry, Templates.PlanConfig(), Store.snapshot(spark, store.taskQueue)))
    assert(planners.map(Store.commit(_, store.taskQueue)) == Seq(8L, 8L))
    assert(Execute.run(spark, store, obj) == ((8L, 0L)))
    val done = hashes(store.taskDone)
    assert(done.size == 8 && done.distinct.size == 8, s"task_done rows: $done")
    assert(Store.count(spark, store.taskQueue) == 0)
  }

  test("a stream that reads a drained queue file beside its restaged copy runs each task once") {
    FixtureTree.ensure()
    val root = Files.createTempDirectory("graft_restage_stream").toString
    val store = Store(s"$root/store")
    val obj = Files.createTempDirectory("graft_restage_stream_obj").toString
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    assert(Plan.run(spark, store) == 8)
    // the limited drain restages 5 tasks; the file it consumed stays on
    // disk until vacuum, so a fresh file source reads those 5 twice
    assert(Execute.run(spark, store, obj, batchSize = 3) == ((3L, 0L)))
    graft.streaming.StreamingJobs.executeStream(spark, store, obj, s"$root/ckpt",
      maxFilesPerTrigger = 1000).awaitTermination()
    // done rows per task = results per task = runs per task
    val done = hashes(store.taskDone)
    assert(done.size == 8 && done.distinct.size == 8, s"task_done rows: $done")
    assert(Store.count(spark, store.dlq) == 0)
  }
}
