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
  * per publish attempt, one more when the commit writes a checkpoint. */
class LogListingSpec extends SparkSpec {

  test("a winning appendOnce lists _graft_log once up front, once per attempt, once per checkpoint") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${LogCountingFileSystem.Scheme}.impl", classOf[LogCountingFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_loglist")
    val t = s"${LogCountingFileSystem.Scheme}://$dir/t"
    def listingsOf(batch: Long): Int = {
      val before = LogCountingFileSystem.logLists.get
      val won = CommitLog.appendOnce(spark.range(batch * 10, batch * 10 + 10).toDF("id"),
        t, "q", batch)
      assert(won.contains(batch + 1), s"batch $batch won $won")
      LogCountingFileSystem.logLists.get - before
    }
    // versions 1..9 commit without a checkpoint, version 10 writes one
    (0L until 9L).foreach(b => assert(listingsOf(b) == 2, s"batch $b"))
    assert(listingsOf(9L) == 3, "checkpoint commit")
    assert(CommitLog.liveFiles(spark, t)._2.nonEmpty)
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 9L)
  }
}
