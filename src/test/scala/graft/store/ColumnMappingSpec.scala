package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Column rename/drop via name-mode COLUMN MAPPING: rename is a
  * metadata-only commit (stable physical names, zero file rewrites),
  * drop hides a column without touching a file and BURNS its physical
  * name, time travel reads historical names, row-level operations and
  * the change feed work by the NEW names, and a re-added column never
  * resurrects dropped data. Publisher-parameterized like the rest of
  * the ACID suite. */
abstract class ColumnMappingBehavior(publisher: AtomicPublisher) extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_colmap").toString + "/t"

  private def seed(t: String): Unit =
    CommitLog.append(
      (0L until 50L).map(i => (i, s"s${i % 3}", s"text$i")).toDF("id", "src", "text"),
      t, publisher, mergeSchema = true)

  private def schemaOf(t: String) = CommitLog.schemaAt(spark, t).get

  test("rename is metadata-only: zero rewrites, reads by the new name, asOf by the old") {
    val t = freshTable()
    seed(t)
    val filesBefore = CommitLog.liveFiles(spark, t)._2.toSet
    val v = CommitLog.renameColumn(spark, t, "src", "origin", publisher)
    assert(CommitLog.liveFiles(spark, t)._2.toSet == filesBefore,
      "rename rewrote data files")
    val sch = schemaOf(t)
    assert(sch.fieldNames.toSeq == Seq("id", "origin", "text"))
    // reads by the NEW name serve the old files' data
    val got = CommitLog.read(spark, t, sch)
      .groupBy("origin").count().as[(String, Long)].collect().toMap
    assert(got == Map("s0" -> 17L, "s1" -> 17L, "s2" -> 16L))
    // time travel BEFORE the rename reads the historical name
    val histSchema = CommitLog.schemaAt(spark, t, asOf = v - 1).get
    assert(histSchema.fieldNames.toSeq == Seq("id", "src", "text"))
    assert(CommitLog.read(spark, t, histSchema, asOf = v - 1)
      .filter(col("src") === "s1").count() == 17)
  }

  test("writes after a rename land under the stable physical name; merge by new name") {
    val t = freshTable()
    seed(t)
    CommitLog.renameColumn(spark, t, "src", "origin", publisher)
    val sch = schemaOf(t)
    // an append by the NEW names mixes generations transparently
    CommitLog.append(Seq((100L, "s9", "new")).toDF("id", "origin", "text"),
      t, publisher)
    assert(CommitLog.read(spark, t, sch).filter(col("origin") === "s9")
      .count() == 1)
    // merge keyed on id, updating by the NEW name — pre- and
    // post-rename files both rewrite correctly
    CommitLog.merge(spark, t, sch,
      Seq((7L, "merged", "t7"), (100L, "merged", "t100"))
        .toDF("id", "origin", "text"), Seq("id"), publisher)
    val merged = CommitLog.read(spark, t, sch)
      .filter(col("origin") === "merged").as[(Long, String, String)]
      .collect().map(_._1).toSet
    assert(merged == Set(7L, 100L))
    // the change feed speaks the new names too
    val latest = CommitLog.liveFiles(spark, t)._1
    val feed = CommitLog.changesSince(spark, t, latest - 1, sch)
    assert(feed.columns.contains("origin"))
    assert(feed.filter(col(CommitLog.ChangeTypeCol) === "insert")
      .select("id").as[Long].collect().toSet == Set(7L, 100L))
  }

  test("drop hides without rewrites; a re-added same-name column never resurrects") {
    val t = freshTable()
    seed(t)
    val filesBefore = CommitLog.liveFiles(spark, t)._2.toSet
    CommitLog.dropColumn(spark, t, "src", publisher)
    assert(CommitLog.liveFiles(spark, t)._2.toSet == filesBefore,
      "drop rewrote data files")
    assert(schemaOf(t).fieldNames.toSeq == Seq("id", "text"))
    // the physical name is burned
    assert(CommitLog.burnedAt(spark, t) == Set("src"))
    // re-add a column under the SAME logical name: fresh physical, so
    // the hidden bytes in old files must NOT come back
    CommitLog.append(Seq((200L, "t200", "fresh")).toDF("id", "text", "src"),
      t, publisher, mergeSchema = true)
    val sch = schemaOf(t)
    assert(sch.fieldNames.toSeq == Seq("id", "text", "src"))
    val re = CommitLog.read(spark, t, sch).select("id", "src")
      .as[(Long, String)].collect().toMap
    assert(re(200L) == "fresh")
    assert((0L until 50L).forall(re(_) == null),
      "dropped column's data resurrected into the re-added column")
    // and the physical name recorded for the new column is fresh
    val f = sch.fields.find(_.name == "src").get
    assert(CommitLog.physicalName(f) != "src")
    // the same re-add through an evolving MERGE (one update, one
    // insert): its commit declares the fresh physical, and the change
    // feed's insert images must carry the source values the table does
    CommitLog.dropColumn(spark, t, "src", publisher)
    val beforeMerge = CommitLog.latestVersion(spark, t)
    CommitLog.merge(spark, t, schemaOf(t),
      Seq((3L, "t3", "upd"), (300L, "t300", "ins")).toDF("id", "text", "src"),
      Seq("id"), publisher, mergeSchema = true)
    val merged = schemaOf(t)
    def bySrc(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "src").as[(Long, String)].collect().toMap
    assert(bySrc(CommitLog.read(spark, t, merged).filter(col("id").isin(3L, 300L))) ==
      Map(3L -> "upd", 300L -> "ins"))
    val inserts = bySrc(CommitLog.changesSince(spark, t, beforeMerge, merged)
      .filter(col(CommitLog.ChangeTypeCol) === "insert"))
    assert(inserts == Map(3L -> "upd", 300L -> "ins"),
      s"change feed insert images lost the re-added column: $inserts")
  }

  test("a re-added same-name column: filtered read and deleteWhere agree with an unfiltered read") {
    val t = freshTable()
    seed(t)
    CommitLog.dropColumn(spark, t, "src", publisher)
    // the dropped generation held "s1" in rows 1, 4, 7, …; the
    // re-added column holds it only in row 201
    CommitLog.append(Seq((200L, "t200", "s0"), (201L, "t201", "s1"))
      .toDF("id", "text", "src"), t, publisher, mergeSchema = true)
    val sch = schemaOf(t)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] = df.select("id").as[Long].collect().toSet
    val unfiltered = CommitLog.read(spark, t, sch).select("id", "src")
      .as[(Long, String)].collect().toSeq
    val matching = unfiltered.collect { case (i, "s1") => i }.toSet
    assert(matching == Set(201L))
    assert(ids(CommitLog.read(spark, t, sch).filter(col("src") === "s1")) == matching)
    assert(ids(spark.read.format("graftlog").load(t).filter(col("src") === "s1")) == matching)
    CommitLog.deleteWhere(spark, t, sch, col("src") === "s1", publisher)
    assert(ids(CommitLog.read(spark, t, sch)) == unfiltered.map(_._1).toSet -- matching)
  }

  test("rename/drop refuse while constraints or bloom properties reference the column") {
    val t = freshTable()
    seed(t)
    CommitLog.addConstraint(spark, t, "src_nonempty", "length(src) > 0", publisher)
    val e1 = intercept[IllegalArgumentException](
      CommitLog.renameColumn(spark, t, "src", "origin", publisher))
    assert(e1.getMessage.contains("constraint"))
    val e2 = intercept[IllegalArgumentException](
      CommitLog.dropColumn(spark, t, "src", publisher))
    assert(e2.getMessage.contains("constraint"))
    CommitLog.dropConstraint(spark, t, "src_nonempty", publisher)
    CommitLog.setProperties(spark, t, Map("bloom.columns" -> "src"), publisher)
    val e3 = intercept[IllegalArgumentException](
      CommitLog.renameColumn(spark, t, "src", "origin", publisher))
    assert(e3.getMessage.contains("bloom"))
    CommitLog.unsetProperties(spark, t, Seq("bloom.columns"), publisher)
    CommitLog.renameColumn(spark, t, "src", "origin", publisher)
    assert(schemaOf(t).fieldNames.contains("origin"))
    // drop of the only column refuses
    val one = freshTable()
    CommitLog.append(Seq(1L).toDF("id"), one, publisher, mergeSchema = true)
    intercept[IllegalArgumentException](
      CommitLog.dropColumn(spark, one, "id", publisher))
  }

  test("mapped tables: DV delete, stats-pruned merge, optimize, restore all by new names") {
    val t = freshTable()
    seed(t)
    CommitLog.renameColumn(spark, t, "id", "doc_id", publisher)
    val sch = schemaOf(t)
    // merge-on-read delete by the new name
    CommitLog.deleteWhere(spark, t, sch, col("doc_id") % 10 === 3, publisher,
      deletionVectors = true)
    def ids() = CommitLog.read(spark, t, sch).select("doc_id").as[Long].collect().toSet
    assert(ids() == (0L until 50L).filterNot(_ % 10 == 3).toSet)
    // optimize absorbs; rows keep their (renamed) meaning
    CommitLog.optimize(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    assert(ids() == (0L until 50L).filterNot(_ % 10 == 3).toSet)
    assert(CommitLog.liveFilesFull(spark, t)._2.forall(_.dv.isEmpty))
    // restore to the pre-delete version revives rows AND that
    // version's schema still reads (mapping restored with the ledger)
    CommitLog.restore(spark, t, toVersion = 2, publisher)
    assert(ids() == (0L until 50L).toSet)
  }

  test("clause merges write physical names on mapped tables (no silent null-out)") {
    val t = freshTable()
    seed(t)
    CommitLog.renameColumn(spark, t, "src", "origin", publisher)
    val sch = schemaOf(t)
    // a clause merge updating BY THE NEW NAME and inserting a new row:
    // written files must carry the PHYSICAL column name, or every
    // restated row reads back null for the renamed column
    MergeClauses.into(spark, t, sch,
      Seq((3L, "upd", "t3"), (900L, "ins", "t900")).toDF("id", "origin", "text"),
      Seq("id"))
      .whenMatchedUpdate(Seq("origin", "text"))
      .whenNotMatchedInsert()
      .withPublisher(publisher)
      .execute()
    val rows = CommitLog.read(spark, t, sch)
      .select("id", "origin").as[(Long, String)].collect().toMap
    assert(rows(3L) == "upd", s"updated row lost its renamed column: ${rows(3L)}")
    assert(rows(900L) == "ins")
    assert(rows(4L) == "s1", s"restated row lost its renamed column: ${rows(4L)}")
    assert(!rows.values.exists(_ == null), "mapped clause merge nulled a column")
    // MOR clause merge too
    MergeClauses.into(spark, t, sch,
      Seq((5L, "upd2", "t5")).toDF("id", "origin", "text"), Seq("id"))
      .withDeletionVectors()
      .whenMatchedUpdate(Seq("origin"))
      .withPublisher(publisher)
      .execute()
    val rows2 = CommitLog.read(spark, t, sch)
      .select("id", "origin").as[(Long, String)].collect().toMap
    assert(rows2(5L) == "upd2" && rows2(6L) == "s0")
  }

  test("schema fence: a stale evolution cannot revert a concurrent rename/drop") {
    val t = freshTable()
    seed(t)
    // a writer derives its evolved schema from the CURRENT ledger…
    val staleLedger = CommitLog.schemaAt(spark, t)
    val staleEvolved = org.apache.spark.sql.types.StructType(
      staleLedger.get.fields :+ org.apache.spark.sql.types.StructField(
        "extra", org.apache.spark.sql.types.StringType, nullable = true))
    // …then a rename lands first
    CommitLog.renameColumn(spark, t, "src", "origin", publisher)
    // the stale writer's schema-stamping commit must refuse — blindly
    // publishing would revert the rename (and a drop reverted this way
    // would re-expose a burned column)
    val e = intercept[java.util.ConcurrentModificationException] {
      CommitLog.commitOrAbort(spark, t, adds = Seq.empty, removes = Seq.empty,
        publisher = publisher, opTag = Some("evolve"),
        abortOnLostRace = _ => false,
        schemaJson = Some(staleEvolved.json),
        schemaExpect = Some(staleLedger.map(_.json)))
    }
    assert(e.getMessage.contains("schema ledger"))
    assert(schemaOf(t).fieldNames.contains("origin"),
      "the rename was reverted by a stale schema commit")
  }

  test("format(graftlog) and SQL surfaces read/write mapped tables") {
    val t = freshTable()
    seed(t)
    GraftSql.execute(spark,
      s"ALTER TABLE graftlog.`$t` RENAME COLUMN src TO origin")
    // batch relation: logical schema, correct rows, pruning intact
    val df = spark.read.format("graftlog").load(t)
    assert(df.columns.toSeq == Seq("id", "origin", "text"))
    assert(df.filter(col("origin") === "s1").count() == 17)
    // SQL DML by the new name
    GraftSql.execute(spark,
      s"UPDATE graftlog.`$t` SET origin = 'edited' WHERE id < 2")
    assert(spark.read.format("graftlog").load(t)
      .filter(col("origin") === "edited").count() == 2)
    GraftSql.execute(spark, s"ALTER TABLE graftlog.`$t` DROP COLUMN text")
    assert(spark.read.format("graftlog").load(t).columns.toSeq ==
      Seq("id", "origin"))
  }
}

/** HDFS/local semantics: exclusive rename / hard link. */
class ColumnMappingSpec extends ColumnMappingBehavior(RenameOrLinkPublisher)

/** S3-class semantics: conditional PUT over the local emulation. */
class ColumnMappingS3Spec extends ColumnMappingBehavior(
  new ConditionalPutPublisher(new LocalConditionalPutStore))
