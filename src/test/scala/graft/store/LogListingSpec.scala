package graft.store

import graft.SparkSpec

import java.util.concurrent.atomic.AtomicInteger

/** The local filesystem under its own scheme, counting the listings of
  * `_graft_log` directories made through it. */
class LogCountingFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = LogCountingFileSystem.Scheme
  override def getUri: java.net.URI = java.net.URI.create(s"$getScheme:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_graft_log") LogCountingFileSystem.logLists.incrementAndGet()
    super.listStatus(f)
  }
}

object LogCountingFileSystem {
  val Scheme = "graftcount"
  val logLists = new AtomicInteger
}

/** How often the commit path lists the log: one Snapshot up front, one
  * per publish attempt, one more when the commit writes a checkpoint.
  * Every verb plans, stages and fences on the Snapshot it took, so no
  * verb lists the log in between. */
class LogListingSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, lit}
  import spark.implicits._

  private def countingTable(): String = {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${LogCountingFileSystem.Scheme}.impl", classOf[LogCountingFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_loglist")
    s"${LogCountingFileSystem.Scheme}://$dir/t"
  }

  private def logListsDuring(body: => Any): Int = {
    val before = LogCountingFileSystem.logLists.get
    body
    LogCountingFileSystem.logLists.get - before
  }

  test("a winning appendOnce lists _graft_log once up front, once per attempt, once per checkpoint") {
    val t = countingTable()
    def listingsOf(batch: Long): Int = logListsDuring {
      val won = CommitLog.appendOnce(spark.range(batch * 10, batch * 10 + 10).toDF("id"),
        t, "q", batch)
      assert(won.contains(batch + 1), s"batch $batch won $won")
    }
    // versions 1..9 commit without a checkpoint, version 10 writes one
    (0L until 9L).foreach(b => assert(listingsOf(b) == 2, s"batch $b"))
    assert(listingsOf(9L) == 3, "checkpoint commit")
    assert(CommitLog.liveFiles(spark, t)._2.nonEmpty)
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 9L)
  }

  private val schema = Seq.empty[(Long, String)].toDF("id", "v").schema
  private def rows(ids: Long*) = ids.map(i => (i, s"v$i")).toDF("id", "v")
  private def clauses(t: String) = MergeClauses.into(spark, t, schema,
    Seq((3L, "m"), (30L, "m")).toDF("id", "v"), Seq("id"))
    .whenMatchedUpdate(Seq("v")).whenNotMatchedInsert()

  // each verb matches id 3 of a table two appends built (version 2),
  // rewrites (or vectors) the file holding it and wins version 3 — no
  // checkpoint
  private val verbs: Seq[(String, String => Any)] = Seq(
    "deleteWhere, copy-on-write" -> (t =>
      CommitLog.deleteWhere(spark, t, schema, col("id") === 3L)),
    "deleteWhere, deletion vectors" -> (t =>
      CommitLog.deleteWhere(spark, t, schema, col("id") === 3L, deletionVectors = true)),
    "updateWhere" -> (t =>
      CommitLog.updateWhere(spark, t, schema, col("id") === 3L, Map("v" -> lit("u")))),
    "replaceWhere" -> (t =>
      CommitLog.replaceWhere(rows(3L), t, col("id") === 3L)),
    "replaceWhereOnce" -> (t =>
      CommitLog.replaceWhereOnce(rows(3L), t, col("id") === 3L, "q", 0L)),
    "merge, copy-on-write" -> (t =>
      CommitLog.merge(spark, t, schema, rows(3L, 30L), Seq("id"))),
    "merge, deletion vectors" -> (t =>
      CommitLog.merge(spark, t, schema, rows(3L, 30L), Seq("id"), deletionVectors = true)),
    "upsertOnce" -> (t =>
      CommitLog.upsertOnce(rows(3L, 30L), t, Seq("id"), "q", 0L)),
    "MergeClauses, copy-on-write" -> (t => clauses(t).execute()),
    "MergeClauses, deletion vectors" -> (t => clauses(t).withDeletionVectors().execute()))

  test("changesSince lists _graft_log once: the mapping comes from the same listing") {
    val t = countingTable()
    CommitLog.append(rows(0L until 10L: _*), t)
    CommitLog.append(rows(10L until 20L: _*), t)
    var feed = 0L
    assert(logListsDuring { feed = CommitLog.changesSince(spark, t, 0L, schema).count() } == 1)
    assert(feed == 20L)
  }

  test("an insert-only MergeClauses lists _graft_log once up front and once per attempt") {
    val t = countingTable()
    CommitLog.append(rows(0L until 10L: _*), t)
    CommitLog.append(rows(10L until 20L: _*), t)
    val insertOnly = MergeClauses.into(spark, t, schema, rows(30L, 31L), Seq("id"))
      .whenMatchedUpdate(Seq("v")).whenNotMatchedInsert()
    assert(logListsDuring(insertOnly.execute()) == 2)
    assert(CommitLog.latestVersion(spark, t) == 3L)
    assert(CommitLog.read(spark, t, schema).count() == 22L)
  }

  verbs.foreach { case (verb, run) =>
    test(s"a winning $verb lists _graft_log once up front and once per attempt") {
      val t = countingTable()
      CommitLog.append(rows(0L until 10L: _*), t)
      CommitLog.append(rows(10L until 20L: _*), t)
      assert(logListsDuring(run(t)) == 2, verb)
      assert(CommitLog.latestVersion(spark, t) == 3L, s"$verb must win version 3")
    }
  }
}
