package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SHALLOW CLONE ([[CommitLog.shallowClone]]): zero data movement,
  * full logical-state capture, independent evolution both ways, and
  * the retention contract (a vacuumed-from-under clone fails loudly).
  */
class CloneSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val p = s"/tmp/graft_test/clone_$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(hp, true)
    p
  }

  private def dataFilesUnder(dir: String): Seq[String] = {
    val hp = new org.apache.hadoop.fs.Path(dir)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq.collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }
  }

  private def rows(t: String): Set[(Long, String)] =
    spark.read.format("graftlog").load(t)
      .select("id", "s").collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("clone copies zero bytes, reads value-exact, carries schema/constraints/properties/stats") {
    import spark.implicits._
    val src = freshDir("basic_src"); val dst = freshDir("basic_dst")
    (1L to 400L).map(i => (i, s"doc$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    (401L to 600L).map(i => (i, s"doc$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(src)
    CommitLog.addConstraint(spark, src, "pos_ids", "id > 0")
    CommitLog.setProperties(spark, src, Map("graft.deletionVectors" -> "true"))

    val v = CommitLog.shallowClone(spark, src, dst)
    assert(v == 1L)
    // ZERO data files under the clone root — only the log directory
    assert(dataFilesUnder(dst).isEmpty, s"clone copied: ${dataFilesUnder(dst)}")
    assert(rows(dst) == rows(src))
    // full logical state at the pinned version
    assert(CommitLog.tableSchema(spark, dst).fieldNames.toSeq == Seq("id", "s"))
    assert(CommitLog.constraintsAt(spark, dst) == Map("pos_ids" -> "id > 0"))
    val props = CommitLog.propertiesAt(spark, dst)
    assert(props.get("graft.deletionVectors").contains("true"))
    assert(props("graft.cloneSource") == s"$src@4")
    // stats ride the references: COUNT/MIN/MAX answer metadata-only
    val agg = spark.read.format("graftlog").load(dst)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), max("id").as("hi"))
    assert(agg.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
    }.isEmpty, "cloned stats should feed the metadata aggregate")
    val r = agg.collect()(0)
    assert(r.getLong(0) == 600L && r.getLong(1) == 1L && r.getLong(2) == 600L)
    // the carried constraint ENFORCES on the clone
    intercept[Exception] {
      Seq((-5L, "bad")).toDF("id", "s")
        .write.format("graftlog").mode("append").save(dst)
    }
  }

  test("clone and source evolve independently") {
    import spark.implicits._
    val src = freshDir("indep_src"); val dst = freshDir("indep_dst")
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    CommitLog.shallowClone(spark, src, dst)

    // mutate the CLONE: delete + append — the SOURCE must not move
    val sch = CommitLog.tableSchema(spark, dst)
    CommitLog.deleteWhere(spark, dst, sch, col("id") <= 10)
    Seq((1000L, "clone-only")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(dst)
    assert(rows(src) == (1L to 100L).map(i => (i, s"v$i")).toSet)
    assert(rows(dst) == (11L to 100L).map(i => (i, s"v$i")).toSet + ((1000L, "clone-only")))

    // mutate the SOURCE: the clone's pinned references must not move
    Seq((2000L, "src-only")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(src)
    assert(!rows(dst).contains((2000L, "src-only")))

    // the clone's copy-on-write delete wrote LOCAL files; the source's
    // original files are untouched on disk
    assert(dataFilesUnder(dst).nonEmpty)
  }

  test("clone of a DV-carrying, column-mapped source serves the mapped visible rows") {
    import spark.implicits._
    val src = freshDir("dv_src"); val dst = freshDir("dv_dst")
    (1L to 100L).map(i => (i, s"t$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    CommitLog.deleteWhere(spark, src, CommitLog.tableSchema(spark, src),
      col("id") % 10 === 0, deletionVectors = true)
    CommitLog.renameColumn(spark, src, "s", "body")

    CommitLog.shallowClone(spark, src, dst)
    assert(dataFilesUnder(dst).isEmpty)
    val got = spark.read.format("graftlog").load(dst)
      .select("id", "body").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == (1L to 100L).filterNot(_ % 10 == 0).map(i => (i, s"t$i")).toSet)
  }

  test("OPTIMIZE localizes the foreign references; clone-of-clone chains") {
    import spark.implicits._
    val src = freshDir("opt_src"); val dst = freshDir("opt_dst")
    val dst2 = freshDir("opt_dst2")
    // two appends → two files, so compaction has real work to do
    (1L to 100L).map(i => (i, s"x$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    (101L to 200L).map(i => (i, s"x$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(src)
    CommitLog.shallowClone(spark, src, dst)
    // clone-of-clone: absolute references pass through unchanged
    CommitLog.shallowClone(spark, dst, dst2)
    assert(rows(dst2) == rows(src))
    assert(dataFilesUnder(dst2).isEmpty)

    CommitLog.compact(spark, dst, targetBytes = 1024L * 1024 * 1024)
    val live = CommitLog.liveFiles(spark, dst)._2
    assert(live.nonEmpty && live.forall(!_.contains("/")),
      s"compaction left foreign references: $live")
    assert(rows(dst) == rows(src))
    // the source's files survive the clone's localization + vacuum
    val before = dataFilesUnder(src)
    CommitLog.vacuum(spark, dst, minAgeMs = 0L)
    assert(dataFilesUnder(src) == before)
    assert(rows(src) == (1L to 200L).map(i => (i, s"x$i")).toSet)
  }

  test("the change feed bootstraps a clone as version-1 inserts (basename-keyed)") {
    import spark.implicits._
    val src = freshDir("cdc_src"); val dst = freshDir("cdc_dst")
    (1L to 50L).map(i => (i, s"c$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    CommitLog.shallowClone(spark, src, dst)
    val feed = CommitLog.changesSince(spark, dst, 0L,
      CommitLog.tableSchema(spark, dst))
    val got = feed.select("id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == 50 && got.forall { case (_, t, v) => t == "insert" && v == 1L })
  }

  /** A 100-row source and its shallow clone; returns the clone's path. */
  private def clonedTable(name: String): String = {
    import spark.implicits._
    val src = freshDir(s"${name}_src"); val dst = freshDir(s"${name}_dst")
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    CommitLog.shallowClone(spark, src, dst)
    dst
  }

  /** The clone after updating ids 1..10 to `s = "m"`. */
  private val mergedRows: Set[(Long, String)] =
    (1L to 100L).map(i => (i, if (i <= 10L) "m" else s"v$i")).toSet

  Seq(false, true).foreach { dv =>
    val mode = if (dv) "merge-on-read" else "copy-on-write"
    test(s"a clause merge ($mode) rewrites a clone's referenced files") {
      import spark.implicits._
      val t = clonedTable(s"clause_${if (dv) "mor" else "cow"}")
      val merge = MergeClauses.into(spark, t, CommitLog.tableSchema(spark, t),
        (1L to 10L).map(i => (i, "m")).toDF("id", "s"), Seq("id"))
        .whenMatchedUpdate(Seq("s"))
      val v = (if (dv) merge.withDeletionVectors() else merge).execute()
      assert(v == 2L)
      assert(rows(t) == mergedRows)
      val feed = CommitLog.changesSince(spark, t, 1L, CommitLog.tableSchema(spark, t))
        .select(col("id"), col(CommitLog.ChangeTypeCol)).as[(Long, String)].collect()
      assert(feed.sorted.toSeq == (1L to 10L).flatMap(i => Seq((i, "delete"), (i, "insert"))))
    }
  }

  test("SQL MERGE INTO a clone updates its referenced files") {
    import spark.implicits._
    val t = clonedTable("sql_merge")
    (1L to 10L).map(i => (i, "m")).toDF("id", "s").createOrReplaceTempView("graft_clone_src")
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t
         |USING graft_clone_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET s = s.s""".stripMargin)
    assert(rows(t) == mergedRows)
  }

  test("graft_log_changes on a clone returns CommitLog.changesSince's rows, with and without asOf") {
    import spark.implicits._
    val t = clonedTable("tvf")
    CommitLog.deleteWhere(spark, t, CommitLog.tableSchema(spark, t), col("id") <= 5L) // v2
    CommitLog.append((101L to 103L).map(i => (i, s"v$i")).toDF("id", "s"), t) // v3
    def sorted(df: DataFrame): Seq[String] =
      df.select("id", "s", CommitLog.ChangeTypeCol, "_commit_version")
        .collect().map(_.toString).sorted.toSeq
    val schema = CommitLog.tableSchema(spark, t)
    val latest = sorted(spark.sql(s"SELECT * FROM graft_log_changes('$t', 0)"))
    assert(latest.size == 100 + 5 + 3)
    assert(latest == sorted(CommitLog.changesSince(spark, t, 0L, schema)))
    val pinned = sorted(spark.sql(s"SELECT * FROM graft_log_changes('$t', 0, 2)"))
    assert(pinned.size == 100 + 5)
    assert(pinned == sorted(CommitLog.changesSince(spark, t, 0L, schema, asOf = 2L)))
  }

  test("a clone whose source was vacuumed from under it fails loudly at read") {
    import spark.implicits._
    val src = freshDir("vac_src"); val dst = freshDir("vac_dst")
    (1L to 50L).map(i => (i, s"g$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").option("mergeSchema", "true").save(src)
    CommitLog.shallowClone(spark, src, dst)
    // source rewrites everything, then reclaims the files the clone pinned
    CommitLog.deleteWhere(spark, src, CommitLog.tableSchema(spark, src),
      col("id") <= 25)
    CommitLog.vacuum(spark, src, minAgeMs = 0L)
    val e = intercept[IllegalStateException] {
      spark.read.format("graftlog").load(dst).count()
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("reference-publishing commits refuse basename collisions in the live set") {
    // `_metadata.file_name` probes key on BASENAMES; a live set holding
    // /a/dup.parquet and /b/dup.parquet would silently mis-join DV
    // attachments / change-feed / stats lookups. Engine-landed files
    // can't collide (writer-stamped uuids in one directory), but
    // convertParquet adopts arbitrary user names, so clone/restore —
    // the paths that PUBLISH absolute references — enforce distinctness
    // instead of assuming it.
    def e(n: String) = CommitLog.LiveEntry(n, None, None)
    CommitLog.requireDistinctBasenames(
      Seq(e("/a/part-1.parquet"), e("/b/part-2.parquet"), e("bare.parquet")),
      "ok") // distinct: passes
    val ex = intercept[IllegalArgumentException] {
      CommitLog.requireDistinctBasenames(
        Seq(e("/a/dup.parquet"), e("/b/dup.parquet")), "clone of /a")
    }
    assert(ex.getMessage.contains("dup.parquet") &&
      ex.getMessage.contains("basename collision"))
  }

  test("a LEGACY ledger with colliding basenames fails basename-keyed rewrites loudly") {
    import spark.implicits._
    // the commit-time fence only covers clone/restore commits published
    // after it landed — forge the pre-fence shape directly (two absolute
    // references sharing a basename) and verify the basename-keyed
    // PROBES refuse it instead of merging two files' match counts under
    // one key and silently leaving the loser's rows live
    val t = freshDir("legacy")
    def land(sub: String, ids: Seq[Long]): String = {
      val d = freshDir(s"legacy_$sub")
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(d)
      val hp = new org.apache.hadoop.fs.Path(d)
      val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(hp).map(_.getPath)
        .find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(d, "dup.parquet"))
      s"$d/dup.parquet"
    }
    val f1 = land("a", Seq(1L, 2L))
    val f2 = land("b", Seq(3L, 4L))
    CommitLog.commitOrAbort(spark, t, adds = Seq(f1, f2),
      removes = Seq.empty, publisher = RenameOrLinkPublisher,
      opTag = Some("forged-legacy"), abortOnLostRace = _ => false)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // reads are reference-keyed and stay sound
    assert(spark.read.format("graftlog").load(t).count() == 4)
    // the predicate-rewrite probe (deleteWhere → rewriteRows) refuses
    val ex = intercept[IllegalArgumentException] {
      CommitLog.deleteWhere(spark, t, schema, col("id") === 1L)
    }
    assert(ex.getMessage.contains("basename collision"), ex.getMessage)
    // the keyed-rewrite probe (merge/stream upsert path) refuses too
    val ex2 = intercept[IllegalArgumentException] {
      CommitLog.keyedRewrite(spark, t, CommitLog.snapshot(spark, t), schema, Seq("id"),
        deleteKeys = Seq(1L).toDF("id"), appendDf = Seq(9L).toDF("id"),
        opTag = None, publisher = RenameOrLinkPublisher)
    }
    assert(ex2.getMessage.contains("basename collision"), ex2.getMessage)
    // ...as do the other two basename-keyed probes: the merge-on-read
    // delete (positions keyed by _metadata basename would attach the
    // loser's rows to the winner's vector) and the keyed update
    val ex3 = intercept[IllegalArgumentException] {
      CommitLog.deleteWhere(spark, t, schema, col("id") === 1L,
        deletionVectors = true)
    }
    assert(ex3.getMessage.contains("basename collision"), ex3.getMessage)
    val ex4 = intercept[IllegalArgumentException] {
      CommitLog.updateWhere(spark, t, schema, col("id") === 1L,
        Map("id" -> (col("id") + 100L)))
    }
    assert(ex4.getMessage.contains("basename collision"), ex4.getMessage)
    // ...and the clause merge, in both landings
    Seq(false, true).foreach { dv =>
      val merge = MergeClauses.into(spark, t, schema, Seq(1L, 9L).toDF("id"), Seq("id"))
        .whenMatchedDelete().whenNotMatchedInsert()
      val ex5 = intercept[IllegalArgumentException] {
        (if (dv) merge.withDeletionVectors() else merge).execute()
      }
      assert(ex5.getMessage.contains("basename collision"), ex5.getMessage)
    }
  }

  test("clone refuses a non-absolute source, a self-clone, and an occupied destination") {
    import spark.implicits._
    val src = freshDir("guard_src"); val dst = freshDir("guard_dst")
    (1L to 10L).map(i => (i, s"z$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(src)
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(spark, "relative/path", dst)
    }
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(spark, src, src + "/")
    }
    (1L to 3L).map(i => (i, s"w$i")).toDF("id", "s")
      .write.format("graftlog").mode("append").save(dst)
    intercept[IllegalArgumentException] {
      CommitLog.shallowClone(spark, src, dst)
    }
  }
}
