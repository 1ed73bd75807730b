package graft.store

import graft.SparkSpec
import org.apache.hadoop.fs.Path

import java.nio.file.Files

/** The `_graft_log` line codec ([[LogLine]]): every line shape parses
  * to its typed value and renders back to the same bytes, and the
  * legacy and edge shapes no writer of this engine emits any more —
  * an add without stats, a countless or detaching deletion-vector
  * line, a commit without a timestamp, an unknown header, a corrupt
  * line — read as they always did, on hand-written logs. */
class LogLineSpec extends SparkSpec {
  import LogLine._

  test("every line shape round-trips through parse and render") {
    val lines = Seq(
      Add("a.parquet", None),
      Add("b.parquet", Some("""{"rows.count":[5,5],"id":[0,4]}""")),
      Add("/abs/src/c.parquet", Some("{}")),
      Remove("a.parquet"),
      Change("_change_1.parquet"),
      Dv("b.parquet", "dv_1.bin", None),
      Dv("b.parquet", "dv_2.bin", Some(3L)),
      Dv("b.parquet", Detach, None),
      Ts(1700000000000L),
      Op("txn=q1:7"),
      Op("drain"),
      Schema("""{"type":"struct","fields":[]}"""),
      Constraint(setTag("pos", "id >= 0")),
      Constraint(unsetTag("pos")),
      Property(setTag("owner", "a:b")),
      Property(unsetTag("owner")),
      Ledger("txn=q1:7"),
      Ledger("consumed=12"))
    lines.foreach(l => assert(parse(render(l)).contains(l), render(l)))
    assert(render(lines) == lines.map(render).mkString("\n"))
  }

  test("unknown headers read as nothing; malformed lines are Corrupt") {
    assert(parse("#future=x").isEmpty)
    assert(parse("#metrics").isEmpty)
    assert(parse("#ts=soon").isEmpty)
    Seq("?x", "*b.parquet", "*b.parquet|dv|many", "=x").foreach(l =>
      assert(parse(l).contains(Corrupt(l)), l))
  }

  test("keyed tags set and unset; malformed tags change nothing") {
    val m = Seq(setTag("a", "1:2"), setTag("b", "2"), unsetTag("b"), "+:x", "+nocolon", "a")
      .foldLeft(Map.empty[String, String])(keyed)
    assert(m == Map("a" -> "1:2"))
  }

  private def logWith(commits: String*): (String, org.apache.hadoop.fs.FileSystem) = {
    val t = Files.createTempDirectory("graft_logline").toString + "/t"
    val log = new Path(t, "_graft_log")
    val fs = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(log)
    commits.zipWithIndex.foreach { case (c, i) =>
      val out = fs.create(new Path(log, f"${i + 1}%020d.commit"), false)
      try out.write(c.getBytes("UTF-8")) finally out.close()
    }
    (t, fs)
  }

  test("legacy and edge shapes on a hand-written log read as before") {
    val stats = """{"rows.count":[5,5],"bytes.size":[800,800]}"""
    val (t, fs) = logWith(
      // an add without stats beside one with stats
      s"#ts=1000\n#op=txn=q:3\n#property=+owner:ops\n+a.parquet\n+b.parquet|$stats",
      // a deletion vector without its position count
      "#ts=2000\n*b.parquet|dv_1.bin",
      // no timestamp, an unknown header, a detach
      "#future=x\n*b.parquet|-")
    val a = CommitLog.LiveEntry("a.parquet", None, None)
    val b = CommitLog.LiveEntry("b.parquet", Some(stats), None)
    assert(CommitLog.liveFilesFull(spark, t, 1L) == ((1L, Seq(a, b))))
    assert(CommitLog.liveFilesFull(spark, t, 2L) ==
      ((2L, Seq(a, b.copy(dv = Some("dv_1.bin"))))))
    assert(CommitLog.liveFilesFull(spark, t) == ((3L, Seq(a, b))))
    // a countless vector leaves the metadata count to abstain
    assert(CommitLog.metadataVisibleCount(b).contains(5L))
    assert(CommitLog.metadataVisibleCount(b.copy(dv = Some("dv_1.bin"))).isEmpty)
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 3L)
    assert(CommitLog.propertiesAt(spark, t) == Map("owner" -> "ops"))
    val history = CommitLog.history(spark, t).orderBy("version").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSeq
    assert(history == Seq((1L, "txn=q:3", 2L, 0L, Some(1000L)),
      (2L, "append", 0L, 0L, Some(2000L)), (3L, "append", 0L, 0L, None)))
    // the untimestamped commit is invisible to timestamp travel
    assert(CommitLog.versionAtTimestamp(spark, t, 1500L) == 1L)
    assert(CommitLog.versionAtTimestamp(spark, t, 9999L) == 2L)
    // the codec re-renders each file byte for byte, less the unknown header
    val log = new Path(t, "_graft_log")
    Seq(1, 2, 3).foreach { v =>
      val name = f"$v%020d.commit"
      val bytes = new String(Files.readAllBytes(java.nio.file.Paths.get(t, "_graft_log", name)), "UTF-8")
      assert(render(read(fs, new Path(log, name))) ==
        bytes.split("\n").filterNot(_ == "#future=x").mkString("\n"))
    }
  }

  test("a corrupt line fails live-set reads only, naming the file and the line") {
    val (t, _) = logWith(
      "#ts=1000\n#op=txn=q:3\n+a.parquet",
      "#ts=2000\n#property=+tier:gold\n?garbage\n+b.parquet")
    val e = intercept[IllegalStateException](CommitLog.liveFiles(spark, t))
    assert(e.getMessage.contains(f"${2}%020d.commit") && e.getMessage.contains("?garbage"),
      e.getMessage)
    assert(CommitLog.liveFiles(spark, t, 1L) == ((1L, Seq("a.parquet"))))
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 3L)
    assert(CommitLog.propertiesAt(spark, t) == Map("tier" -> "gold"))
    assert(CommitLog.history(spark, t).count() == 2)
  }
}
