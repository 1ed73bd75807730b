package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Merge-on-read deletes (DELETION VECTORS): `deleteWhere(…,
  * deletionVectors = true)` must delete rows WITHOUT rewriting any
  * data file, every reader and row-level operation must subtract the
  * vectored positions, vectors must accumulate, survive checkpoints,
  * fail loudly under conflicting writers, feed CDC, and be absorbed
  * by compaction. Publisher-parameterized like the rest of the ACID
  * suite — the protocol must hold on rename AND conditional-PUT
  * stores. */
abstract class DeletionVectorBehavior(publisher: AtomicPublisher) extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_dv").toString + "/t"

  private val schema = spark.range(0).toDF("id").schema

  private def ids(t: String, asOf: Long = Long.MaxValue): Set[Long] =
    CommitLog.read(spark, t, schema, asOf).as[Long].collect().toSet

  private def dataFiles(t: String): Set[String] =
    CommitLog.liveFiles(spark, t)._2.toSet

  test("DV delete removes rows without touching any data file") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.append(spark.range(100, 200).toDF("id"), t, publisher)
    val before = dataFiles(t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizesBefore = before.map(f =>
      f -> fs.getFileStatus(new org.apache.hadoop.fs.Path(t, f)).getModificationTime).toMap
    val v = CommitLog.deleteWhere(spark, t, schema, col("id") % 10 === 3,
      publisher, deletionVectors = true)
    assert(v == 3L)
    // the LIVE FILE SET is unchanged — no rewrite happened
    assert(dataFiles(t) == before, "DV delete rewrote the live set")
    before.foreach { f =>
      assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(t, f))
        .getModificationTime == sizesBefore(f), s"data file $f was modified")
    }
    // but the rows are gone, from read() and from time travel forward
    assert(ids(t) == (0L until 200L).filterNot(_ % 10 == 3).toSet)
    // pre-delete snapshot still serves them
    assert(ids(t, asOf = 2) == (0L until 200L).toSet)
  }

  test("vectors accumulate: a second DV delete keeps the first's rows dead") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") < 10, publisher,
      deletionVectors = true)
    CommitLog.deleteWhere(spark, t, schema, col("id") >= 90, publisher,
      deletionVectors = true)
    assert(ids(t) == (10L until 90L).toSet)
    // the file is still the original one
    assert(dataFiles(t).size == CommitLog.liveFiles(spark, t, asOf = 1)._2.size)
    // a third delete whose predicate matches ONLY already-dead rows is
    // a no-op (dead rows are not visible matches) — no new version
    val v3 = CommitLog.liveFiles(spark, t)._1
    assert(CommitLog.deleteWhere(spark, t, schema, col("id") < 5, publisher,
      deletionVectors = true) == v3)
  }

  test("COW operations over a vectored table never resurrect dead rows") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") % 2 === 0, publisher,
      deletionVectors = true)
    // a copy-on-write delete that rewrites the SAME file must carry the
    // vectored deletions into the rewrite
    CommitLog.deleteWhere(spark, t, schema, col("id") === 1, publisher)
    assert(ids(t) == (3L until 100L by 2).toSet)
    // merge updating a surviving row: the rewrite again must not
    // resurrect (the affected file was just rewritten clean, so vector
    // a fresh kill first)
    CommitLog.deleteWhere(spark, t, schema, col("id") === 3, publisher,
      deletionVectors = true)
    CommitLog.merge(spark, t, schema,
      Seq(5L, 999L).toDF("id"), Seq("id"), publisher)
    assert(ids(t) == ((5L until 100L by 2).toSet - 3L) + 999L)
  }

  test("updateWhere over a vectored table neither updates nor revives dead rows") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 50).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") >= 40, publisher,
      deletionVectors = true)
    CommitLog.updateWhere(spark, t, schema, col("id") >= 30,
      Map("id" -> (col("id") + 1000)), publisher)
    assert(ids(t) == ((0L until 30L) ++ (1030L until 1040L)).toSet)
  }

  test("compaction absorbs vectors; the vector parquet becomes vacuum-eligible") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") % 5 === 0, publisher,
      deletionVectors = true)
    val survivors = ids(t)
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    assert(ids(t) == survivors)
    // post-compaction snapshot carries no attachments
    val (_, entries) = CommitLog.liveFilesFull(spark, t)
    assert(entries.forall(_.dv.isEmpty), "compaction left a vector attached")
    // the old data files AND the now-unreferenced vector parquet sweep
    val swept = CommitLog.vacuum(spark, t, minAgeMs = 0)
    assert(swept.nonEmpty)
    assert(ids(t) == survivors)
    // while attached, vacuum must NOT touch the vector: rebuild the
    // situation and check protection
    CommitLog.deleteWhere(spark, t, schema, col("id") === 1, publisher,
      deletionVectors = true)
    assert(CommitLog.vacuum(spark, t, minAgeMs = 0).isEmpty,
      "vacuum ate an attached deletion vector or a live file")
    assert(ids(t) == survivors - 1L)
  }

  test("vectors survive checkpoints and log pruning") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") < 20, publisher,
      deletionVectors = true)
    // drive past a checkpoint boundary (interval 10)
    (0 until 9).foreach(i =>
      CommitLog.append(Seq(1000L + i).toDF("id"), t, publisher))
    assert(CommitLog.liveFiles(spark, t)._1 >= 11L)
    CommitLog.pruneLog(spark, t)
    // replay now starts from the checkpoint: the attachment must have
    // ridden it
    assert(ids(t) == ((20L until 100L) ++ (1000L until 1009L)).toSet)
  }

  test("concurrent re-vectoring of the same file fails one side loudly") {
    val t = freshTable()
    // one data file, so the competitor's attachment provably lands on
    // the same file this planner read
    CommitLog.append(spark.range(0, 100).toDF("id").coalesce(1), t, publisher)
    val (_, entries) = CommitLog.liveFilesFull(spark, t)
    assert(entries.size == 1)
    val file = entries.head.name
    // plan a DV attach against the CURRENT attachment state, then let a
    // competitor land first — the commit must see the moved attachment
    // and refuse (lost-delete prevention)
    CommitLog.deleteWhere(spark, t, schema, col("id") === 7, publisher,
      deletionVectors = true)
    val stale = intercept[java.util.ConcurrentModificationException] {
      CommitLog.commitOrAbort(spark, t, adds = Seq.empty, removes = Seq.empty,
        publisher = publisher, opTag = Some("delete"),
        abortOnLostRace = _ => false,
        dvAttach = Map(file -> "bogus-dv.parquet"),
        dvExpect = Map(file -> None)) // planned before the competitor won
    }
    assert(stale.getMessage.contains("deletion-vector conflict"))
    // and against a file that is no longer live at all
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    val gone = intercept[java.util.ConcurrentModificationException] {
      CommitLog.commitOrAbort(spark, t, adds = Seq.empty, removes = Seq.empty,
        publisher = publisher, opTag = Some("delete"),
        abortOnLostRace = _ => false,
        dvAttach = Map(file -> "bogus-dv.parquet"),
        dvExpect = Map(file -> None))
    }
    assert(gone.getMessage.contains("deletion-vector conflict"))
  }

  test("a rewrite planned before a concurrent DV delete fails instead of resurrecting") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id").coalesce(1), t, publisher)
    // a compaction-shaped rewrite plans against the CURRENT live state
    // (one vector-free file) and stages its restatement of those rows
    val (_, planned) = CommitLog.liveFilesFull(spark, t)
    assert(planned.size == 1 && planned.head.dv.isEmpty)
    val names = CommitLog.stage(spark.range(0, 100).toDF("id").coalesce(1), t,
      Map.empty, writer = "c")
    // a MOR delete lands BETWEEN the rewrite's planning read and its
    // commit: the planned file is still live, but now carries a vector
    CommitLog.deleteWhere(spark, t, schema, col("id") === 7, publisher,
      deletionVectors = true)
    // "still live" used to be enough evidence — the stale rewrite would
    // commit, and its restated rows would resurrect id=7. The
    // remove-side DV fence refuses it.
    val e = intercept[java.util.ConcurrentModificationException] {
      CommitLog.commitOrAbort(spark, t, adds = names,
        removes = planned.map(_.name), publisher = publisher, opTag = None,
        abortOnLostRace = _ => false,
        removeDvExpect = planned.map(p => p.name -> p.dv).toMap)
    }
    assert(e.getMessage.contains("re-vectored"))
    // the concurrent delete's effect survives, and a FRESH rewrite
    // (optimize absorbing the vector) preserves it
    assert(ids(t) == (0L until 100L).toSet - 7L)
    CommitLog.optimize(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    assert(ids(t) == (0L until 100L).toSet - 7L)
    assert(CommitLog.liveFilesFull(spark, t)._2.forall(_.dv.isEmpty))
  }

  test("merge-on-read UPDATE: post-images append, no file rewrites, CDC pairs") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    val before = dataFiles(t)
    val v = CommitLog.updateWhere(spark, t, schema, col("id") < 5,
      Map("id" -> (col("id") + 500)), publisher, deletionVectors = true)
    // every pre-update file is STILL live (vectored, not rewritten);
    // the post-images landed as new files
    assert(before.subsetOf(dataFiles(t)), "MOR update removed a file")
    assert(dataFiles(t).size > before.size, "MOR update appended nothing")
    assert(ids(t) == ((5L until 100L) ++ (500L until 505L)).toSet)
    // CDC: delete pre-image + insert post-image per updated row
    val feed = CommitLog.changesSince(spark, t, sinceVersion = v - 1, schema)
      .select("id", CommitLog.ChangeTypeCol).as[(Long, String)].collect().toSet
    assert(feed == ((0L until 5L).map((_, "delete")) ++
      (500L until 505L).map((_, "insert"))).toSet)
    // a second MOR update touching rows in the SAME vectored files
    // accumulates correctly
    CommitLog.updateWhere(spark, t, schema, col("id") === 7,
      Map("id" -> lit(700L)), publisher, deletionVectors = true)
    assert(ids(t) == (((5L until 100L).toSet - 7L) ++ (500L until 505L) + 700L))
  }

  test("merge-on-read MERGE: upsert without rewriting matched files") {
    val cow = freshTable()
    val mor = freshTable()
    val src = Seq(3L, 7L, 999L).toDF("id")
    Seq(cow, mor).foreach { t =>
      CommitLog.append(spark.range(0, 50).toDF("id"), t, publisher)
      CommitLog.append(spark.range(50, 100).toDF("id"), t, publisher)
    }
    val morBefore = dataFiles(mor)
    CommitLog.merge(spark, cow, schema, src, Seq("id"), publisher)
    CommitLog.merge(spark, mor, schema, src, Seq("id"), publisher,
      deletionVectors = true)
    // identical result, but the MOR table kept every pre-merge file
    assert(ids(mor) == ids(cow))
    assert(morBefore.subsetOf(dataFiles(mor)), "MOR merge rewrote a file")
    // CDC shape identical: matched pre-images as deletes, full source as inserts
    def feed(t: String) = CommitLog.changesSince(spark, t, sinceVersion = 2, schema)
      .select("id", CommitLog.ChangeTypeCol).as[(Long, String)].collect()
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(feed(mor) == feed(cow))
  }

  test("merge-on-read clause MERGE matches the copy-on-write clause result") {
    val cow = freshTable()
    val mor = freshTable()
    val data = spark.range(0, 100).toDF("id")
      .withColumn("v", (col("id") * 2).cast("long"))
    val schema2 = data.schema
    val src = Seq((3L, -1L), (7L, -1L), (200L, 9L)).toDF("id", "v")
    Seq(cow, mor).foreach(t => CommitLog.append(data, t, publisher))
    def run(t: String, dv: Boolean): Long = {
      var m = MergeClauses.into(spark, t, schema2, src, Seq("id"))
        .withPublisher(publisher)
        .whenMatchedDelete(Some(col("_src_v") < 0 && col("id") === 3))
        .whenMatchedUpdate(Seq("v"))
        .whenNotMatchedInsert()
        .whenNotMatchedBySourceDelete(Some(col("id") >= 98))
      if (dv) m = m.withDeletionVectors()
      m.execute()
    }
    val cowBefore = dataFiles(mor)
    run(cow, dv = false)
    run(mor, dv = true)
    def rows(t: String): Set[(Long, Long)] =
      CommitLog.read(spark, t, schema2).as[(Long, Long)].collect().toSet
    assert(rows(mor) == rows(cow))
    assert(cowBefore.subsetOf(dataFiles(mor)), "MOR clause merge rewrote a file")
    // change feeds agree row-for-row
    def feed(t: String) = CommitLog.changesSince(spark, t, sinceVersion = 1, schema2)
      .select("id", "v", CommitLog.ChangeTypeCol)
      .as[(Long, Long, String)].collect().groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(feed(mor) == feed(cow))
  }

  test("oversized vectors drop the broadcast hint but stay correct") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") % 3 === 0, publisher,
      deletionVectors = true)
    val (_, entries) = CommitLog.liveFilesFull(spark, t)
    // a 1-byte cap forces the degraded (no-hint) join; result identical
    val noHint = CommitLog.visibleRows(spark, t, schema, entries,
      mapping = Map.empty, dvBroadcastMaxBytes = 1L)
    assert(noHint.as[Long].collect().toSet ==
      (0L until 100L).filterNot(_ % 3 == 0).toSet)
    // the default path result agrees
    assert(ids(t) == (0L until 100L).filterNot(_ % 3 == 0).toSet)
  }

  test("DESCRIBE DETAIL reports vector state, census, constraints") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id").coalesce(1), t, publisher)
    CommitLog.append(spark.range(100, 200).toDF("id").coalesce(1), t, publisher)
    CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0", publisher)
    CommitLog.deleteWhere(spark, t, schema, col("id") < 7, publisher,
      deletionVectors = true)
    val d = CommitLog.detail(spark, t).collect().head
    assert(d.getAs[Long]("version") == 4L)
    assert(d.getAs[Long]("num_files") == 2L)
    assert(d.getAs[Long]("num_vectored_files") == 1L)
    assert(d.getAs[Long]("num_vectored_positions") == 7L)
    assert(d.getAs[Long]("num_constraints") == 1L)
    assert(d.getAs[String]("schema_source") == "inferred")
    assert(d.getAs[Long]("size_bytes") > 0L)
    // SQL route answers the same row
    val viaSql = GraftSql.execute(spark, s"DESCRIBE DETAIL graftlog.`$t`")
      .collect().head
    assert(viaSql.getAs[Long]("num_vectored_positions") == 7L)
    // after OPTIMIZE the vector state zeroes out
    CommitLog.optimize(spark, t, targetBytes = 128L * 1024 * 1024,
      publisher = publisher)
    val d2 = CommitLog.detail(spark, t).collect().head
    assert(d2.getAs[Long]("num_vectored_files") == 0L &&
      d2.getAs[Long]("num_vectored_positions") == 0L)
  }

  test("DV deletes feed the change feed exactly like copy-on-write deletes") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 50).toDF("id"), t, publisher)
    val v = CommitLog.deleteWhere(spark, t, schema, col("id") < 5, publisher,
      deletionVectors = true)
    val feed = CommitLog.changesSince(spark, t, sinceVersion = 1, schema)
    val deletes = feed.filter(col(CommitLog.ChangeTypeCol) === "delete")
      .select("id", "_commit_version").as[(Long, Long)].collect().toSet
    assert(deletes == (0L until 5L).map((_, v)).toSet)
  }

  test("the graft.deletionVectors TABLE PROPERTY defaults DML to merge-on-read") {
    val t = freshTable()
    CommitLog.append(spark.range(0, 100).toDF("id"), t, publisher)
    CommitLog.setProperties(spark, t,
      Map("graft.deletionVectors" -> "true"), publisher)
    val hadConf = spark.conf.getOption("spark.graft.deletionVectors")
    spark.conf.unset("spark.graft.deletionVectors")
    try {
      // conf UNSET → the table property drives the default: SQL DML
      // vectors instead of rewriting
      assert(CommitLog.morDefault(spark, t))
      val before = dataFiles(t)
      GraftSql.execute(spark, s"DELETE FROM graftlog.`$t` WHERE id < 10")
      assert(dataFiles(t) == before,
        "property-defaulted DELETE rewrote files instead of vectoring")
      assert(ids(t) == (10L until 100L).toSet)
      // an explicitly-SET session conf wins over the property — an
      // explicit false opts the session back into copy-on-write
      spark.conf.set("spark.graft.deletionVectors", "false")
      assert(!CommitLog.morDefault(spark, t))
      GraftSql.execute(spark, s"DELETE FROM graftlog.`$t` WHERE id >= 90")
      assert(dataFiles(t) != before,
        "conf=false should force the copy-on-write rewrite")
      assert(ids(t) == (10L until 90L).toSet)
    } finally {
      spark.conf.unset("spark.graft.deletionVectors")
      hadConf.foreach(spark.conf.set("spark.graft.deletionVectors", _))
    }
  }

  test("the graftlog batch relation subtracts vectors (and only then)") {
    val t = freshTable()
    spark.range(0, 100).toDF("id").write.format("graftlog").save(t)
    CommitLog.deleteWhere(spark, t, schema, col("id") % 10 === 0,
      publisher, deletionVectors = true)
    val df = spark.read.format("graftlog").load(t)
    assert(df.as[Long].collect().toSet ==
      (0L until 100L).filterNot(_ % 10 == 0).toSet)
    // pushed filter + projection still correct through the DV bridge
    assert(df.filter(col("id") < 20).count() == 18)
    assert(df.filter(col("id") === 10).count() == 0)
    // time travel below the delete uses the native file relation
    assert(spark.read.format("graftlog").option("versionAsOf", 1)
      .load(t).count() == 100)
    // after OPTIMIZE the native path serves the same rows
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    assert(spark.read.format("graftlog").load(t).as[Long].collect().toSet ==
      (0L until 100L).filterNot(_ % 10 == 0).toSet)
  }
}

/** HDFS/local semantics: exclusive rename / hard link. */
class DeletionVectorSpec extends DeletionVectorBehavior(RenameOrLinkPublisher)

/** S3-class semantics: conditional PUT over the local emulation. */
class DeletionVectorS3Spec extends DeletionVectorBehavior(
  new ConditionalPutPublisher(new LocalConditionalPutStore))
