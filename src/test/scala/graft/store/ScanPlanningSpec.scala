package graft.store

import graft.SparkSpec

import java.util.concurrent.ConcurrentLinkedQueue

/** The local filesystem under its own scheme, recording every listing
  * and every status probe made through it (the probes the local
  * listing makes of its own entries excluded). */
class ScanCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import ScanCountingFileSystem._
  override def getScheme: String = Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    lists.add(f.toUri.getPath)
    listing.set(true)
    try super.listStatus(f) finally listing.set(false)
  }
  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!listing.get) {
      probes.add(f.toUri.getPath)
      probeThreads.add(Thread.currentThread.getId -> f.toUri.getPath)
    }
    super.getFileStatus(f)
  }
}

object ScanCountingFileSystem {
  val Scheme = "graftscan"
  val lists = new ConcurrentLinkedQueue[String]
  val probes = new ConcurrentLinkedQueue[String]
  /** (thread id, path) of each probe: a caller's own probes apart from
    * the ones its Spark job's tasks make. */
  val probeThreads = new ConcurrentLinkedQueue[(Long, String)]
  private val listing = ThreadLocal.withInitial[Boolean](() => false)
}

/** What PLANNING a logged-table read costs: every read is a relation
  * over the Snapshot's file index, so building the frame and its
  * executed plan runs no Spark job, lists the table directory once and
  * touches no data or vector file on its own. */
class ScanPlanningSpec extends SparkSpec {
  import org.apache.spark.sql.functions.col
  import spark.implicits._

  private val schema = Seq.empty[Long].toDF("id").schema

  /** 40 one-partition files in one commit (version 1), then a
    * merge-on-read delete attaching a vector to the file holding id 3
    * (version 2). */
  private lazy val table: String = {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${ScanCountingFileSystem.Scheme}.impl", classOf[ScanCountingFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_scanplan")
    val t = s"${ScanCountingFileSystem.Scheme}://$dir/t"
    CommitLog.append(spark.range(0, 400, 1, 40).toDF("id"), t)
    CommitLog.deleteWhere(spark, t, schema, col("id") === 3L, deletionVectors = true)
    val live = CommitLog.snapshot(spark, t).live
    assert(live.size == 40 && live.count(_.dv.isDefined) == 1)
    t
  }

  private final case class Cost(jobs: Int, tableLists: Int, fileCalls: Seq[String])

  /** Spark jobs started ([[graft.SparkJobs]]), listings of the table
    * directory, and listings or status probes of parquet files while
    * `body` runs. */
  private def costOf(body: => Any): Cost = {
    val root = new org.apache.hadoop.fs.Path(table).toUri.getPath
    ScanCountingFileSystem.lists.clear()
    ScanCountingFileSystem.probes.clear()
    val ((lists, probes), jobs) = graft.SparkJobs.during(spark) {
      body
      (ScanCountingFileSystem.lists.toArray(Array.empty[String]).toSeq,
        ScanCountingFileSystem.probes.toArray(Array.empty[String]).toSeq)
    }
    Cost(jobs, lists.count(_ == root), (lists ++ probes).filter(_.endsWith(".parquet")))
  }

  private def assertPlannedFromTheIndex(what: String)(frame: => org.apache.spark.sql.DataFrame) = {
    var df: org.apache.spark.sql.DataFrame = null
    val cost = costOf { df = frame; df.queryExecution.executedPlan }
    assert(cost.jobs == 0, s"$what ran ${cost.jobs} Spark job(s) while planning")
    assert(cost.tableLists == 1, s"$what listed the table directory ${cost.tableLists} times")
    assert(cost.fileCalls.isEmpty,
      s"$what listed or probed ${cost.fileCalls.size} file(s): ${cost.fileCalls.take(3)}")
    df
  }

  test("read at the latest version (one vector attached) plans from one listing, no job") {
    val df = assertPlannedFromTheIndex("read")(CommitLog.read(spark, table, schema))
    assert(df.as[Long].collect().sorted.toSeq == (0L until 400L).filterNot(_ == 3L))
  }

  test("read(asOf) plans from one listing, no job") {
    val df = assertPlannedFromTheIndex("read(asOf = 1)")(
      CommitLog.read(spark, table, schema, asOf = 1L))
    assert(df.as[Long].collect().sorted.toSeq == (0L until 400L))
  }

  test("changesSince plans its data and change-file scans from one listing, no job") {
    val df = assertPlannedFromTheIndex("changesSince")(
      CommitLog.changesSince(spark, table, 0L, schema))
    val feed = df.select(col("id"), col(CommitLog.ChangeTypeCol), col("_commit_version"))
      .as[(Long, String, Long)].collect().toSeq
    assert(feed.count(_._2 == "insert") == 400 && feed.forall(r => r._2 != "insert" || r._3 == 1L))
    assert(feed.filter(_._2 == "delete") == Seq((3L, "delete", 2L)))
  }

  test("compact sizes its inputs from one listing, no per-file status probe") {
    val t = table.stripSuffix("/t") + "/c" // the counting scheme, a fresh table
    // a schema ledger, so no footer is read to infer the schema
    CommitLog.append(spark.range(0, 400, 1, 40).toDF("id"), t, mergeSchema = true)
    val inputs = CommitLog.liveFiles(spark, t)._2.toSet
    assert(inputs.size == 40)
    ScanCountingFileSystem.probeThreads.clear()
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue)
    // the rewrite's scan tasks open every input; the driver sizes them
    val me = Thread.currentThread.getId
    val probed = ScanCountingFileSystem.probeThreads.toArray(Array.empty[(Long, String)])
      .toSeq.collect { case (`me`, p) if inputs(p.substring(p.lastIndexOf('/') + 1)) => p }
    assert(probed.isEmpty, s"compact probed ${probed.size} input file(s): ${probed.take(3)}")
    assert(CommitLog.read(spark, t, schema).count() == 400)
  }

  test("a live file deleted by hand fails the read loudly, even with spark.sql.files.ignoreMissingFiles on") {
    val t = java.nio.file.Files.createTempDirectory("graft_scanmissing").toString + "/t"
    CommitLog.append(spark.range(0, 100, 1, 4).toDF("id"), t)
    val victim = new org.apache.hadoop.fs.Path(t, CommitLog.liveFiles(spark, t)._2.head)
    val key = "spark.sql.files.ignoreMissingFiles"
    spark.conf.set(key, "true")
    try {
      val built = CommitLog.read(spark, t, schema)
      assert(victim.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(victim, false))
      // planned before the deletion: the scan fails instead of skipping the file
      intercept[Exception](built.collect())
      // planned after it: the listing finds the file missing
      val e = intercept[IllegalStateException](CommitLog.read(spark, t, schema).count())
      assert(e.getMessage.contains("vacuumed"))
    } finally spark.conf.unset(key)
  }
}
