package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The commit-log table layer's ACID claims, exercised concretely:
  * atomic visibility, multi-writer serialization without a lock, the
  * no-lost-update property under append-during-compact, orphan
  * reclamation, and a racing-writers stress run across 100+ versions.
  *
  * The suite is publisher-parameterized and runs TWICE: once against
  * the default rename/hard-link publisher (HDFS/local semantics) and
  * once against the conditional-PUT publisher over the local S3-class
  * emulation (no atomic rename, last-writer-wins PUT, server-side
  * create-if-absent) — the protocol must hold identically on both.
  */
abstract class LoggedStoreBehavior(publisher: AtomicPublisher) extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_logged").toString + "/t"

  private val schema = spark.range(0).toDF("id").schema

  private def append(df: org.apache.spark.sql.DataFrame, t: String): Long =
    CommitLog.append(df, t, publisher)
  private def commit(t: String, adds: Seq[String], removes: Seq[String] = Seq.empty): Long =
    CommitLog.commit(spark, t, adds, removes, publisher)

  test("append/read round trip; files without a commit are invisible") {
    val t = freshTable()
    assert(CommitLog.read(spark, t, schema).count() == 0)
    val v1 = append(spark.range(0, 100).toDF("id"), t)
    assert(v1 == 1L)
    assert(CommitLog.read(spark, t, schema).count() == 100)
    // a writer that crashed after landing a data file but before its
    // commit: the file sits in the directory but is NOT in the log
    spark.range(500, 600).toDF("id").coalesce(1)
      .write.parquet(t + "/_staging_crashed")
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(t + "/_staging_crashed"))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(t, "crashed-orphan.parquet"))
    assert(CommitLog.read(spark, t, schema).count() == 100,
      "an uncommitted data file leaked into the read")
    // vacuum(0) reclaims both the orphan and the staging dir
    val swept = CommitLog.vacuum(spark, t, minAgeMs = 0)
    assert(swept.contains("crashed-orphan.parquet") &&
      swept.exists(_.startsWith("_staging_")))
    assert(CommitLog.read(spark, t, schema).count() == 100)
  }

  test("clone, convert, and the claim-once property hold under this publisher") {
    // SHALLOW CLONE: zero-copy snapshot through THIS publisher
    val src = freshTable(); val dst = freshTable()
    append(spark.range(0, 120).toDF("id"), src)
    CommitLog.shallowClone(spark, src, dst, publisher = publisher)
    assert(CommitLog.read(spark, dst, schema).count() == 120)
    CommitLog.deleteWhere(spark, dst, schema, col("id") < 20, publisher)
    assert(CommitLog.read(spark, src, schema).count() == 120,
      "clone mutation leaked into the source")
    assert(CommitLog.read(spark, dst, schema).count() == 100)
    // CONVERT: in-place adoption commits through THIS publisher
    val plain = freshTable()
    spark.range(0, 50).toDF("id").write.parquet(plain)
    assert(CommitLog.convertParquet(spark, plain, publisher) == 1L)
    assert(CommitLog.read(spark, plain, schema).count() == 50)
    // claim-once: exactly one of two same-key claims lands
    val t = freshTable()
    append(spark.range(0, 5).toDF("id"), t)
    assert(CommitLog.setPropertiesIfAbsent(spark, t, Map("k.once" -> "a"), publisher))
    assert(!CommitLog.setPropertiesIfAbsent(spark, t, Map("k.once" -> "b"), publisher))
    assert(CommitLog.propertiesAt(spark, t)("k.once") == "a")
  }

  test("vacuum honors the writer-id staging stamp, not just storage mod times") {
    val t = freshTable()
    append(spark.range(0, 10).toDF("id"), t)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an in-flight writer's landed-but-uncommitted file whose STORAGE
    // mod time reads far in the past (skewed object-store clock) — the
    // wall-clock stamp in its name says it just started, so a
    // retention window must protect it
    val now = System.currentTimeMillis()
    val inflight = s"w99999_${now}_1-part-00000.parquet"
    val p = new org.apache.hadoop.fs.Path(t, inflight)
    fs.create(p, true).close()
    fs.setTimes(p, now - 48L * 3600 * 1000, -1)
    val swept = CommitLog.vacuum(spark, t, minAgeMs = 3600 * 1000)
    assert(!swept.contains(inflight),
      "vacuum trusted a skewed mod time over the writer's own stamp")
    // with age 0 (test mode) it is reclaimable as before
    assert(CommitLog.vacuum(spark, t, minAgeMs = 0).contains(inflight))
    intercept[IllegalArgumentException] { CommitLog.vacuum(spark, t, minAgeMs = -1) }
  }

  test("add-column schema evolution: old files read as null under the evolved schema") {
    val t = freshTable()
    append(spark.range(0, 10).toDF("id"), t)                        // v1: (id)
    append(spark.range(10, 20).toDF("id")
      .withColumn("tag", org.apache.spark.sql.functions.lit("new")), t) // v2: (id, tag)
    val evolved = org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField("tag",
        org.apache.spark.sql.types.StringType))
    val rows = CommitLog.read(spark, t, evolved)
    assert(rows.count() == 20)
    assert(rows.filter("tag IS NULL").count() == 10, "pre-evolution rows must read as null")
    assert(rows.filter("tag = 'new'").count() == 10)
    // readers pinned to the old schema still project cleanly
    assert(CommitLog.read(spark, t, schema).count() == 20)
    // and time travel applies the evolved schema to historical files
    assert(CommitLog.read(spark, t, evolved, asOf = 1L).filter("tag IS NULL").count() == 10)
  }

  test("in-commit timestamps: monotone history, timestamp travel resolves versions") {
    import spark.implicits._
    val t = freshTable()
    val v1 = append(spark.range(0, 10).toDF("id"), t)
    val v2 = append(spark.range(10, 20).toDF("id"), t)
    val v3 = append(spark.range(20, 30).toDF("id"), t)
    val ts = CommitLog.history(spark, t)
      .filter(col("operation") =!= "checkpoint")
      .select("version", "commit_ts_ms")
      .as[(Long, Long)].collect().toMap
    // strictly increasing regardless of writer clock resolution (the
    // predecessor clamp) — what makes timestamp travel well-defined
    assert(ts(v1) < ts(v2) && ts(v2) < ts(v3), s"non-monotone: $ts")
    assert(CommitLog.versionAtTimestamp(spark, t, ts(v2)) == v2)
    assert(CommitLog.versionAtTimestamp(spark, t, ts(v2) - 1) == v1)
    assert(CommitLog.versionAtTimestamp(spark, t, System.currentTimeMillis() + 60000) == v3)
    // the wall-clock form of version travel reads the same snapshot
    assert(CommitLog.read(spark, t, schema,
      asOf = CommitLog.versionAtTimestamp(spark, t, ts(v2))).count() == 20)
    // before recorded history: loud refusal, not a silent empty read
    val e = intercept[IllegalStateException] {
      CommitLog.versionAtTimestamp(spark, t, ts(v1) - 1)
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
    // pruning eats the early range: its timestamps refuse loudly too
    (3 until 12).foreach(i => append(spark.range(i * 10L, i * 10L + 10).toDF("id"), t))
    CommitLog.pruneLog(spark, t)
    val e2 = intercept[IllegalStateException] {
      CommitLog.versionAtTimestamp(spark, t, ts(v1))
    }
    assert(e2.getMessage.contains("pruned"), e2.getMessage)
  }

  test("type-widening schema evolution: int→long / float→double across file generations") {
    import spark.implicits._
    val t = freshTable()
    // v1 lands NARROW physical types (int32 / float); later appends
    // write the widened types — the Delta type-widening shape
    append(Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score"), t)           // int, float
    append(Seq((3L, 3.5d), (4L, 9e40)).toDF("id", "score"), t)         // long, double
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("score",
        org.apache.spark.sql.types.DoubleType)))
    val rows = CommitLog.read(spark, t, widened)
      .as[(Long, Double)].collect().toMap
    assert(rows == Map(1L -> 1.5d, 2L -> 2.5d, 3L -> 3.5d, 4L -> 9e40),
      "pre-widening files must read value-exact under the widened schema")
    // aggregation over the mixed generations is exact (a lossy read
    // would show up here)
    assert(CommitLog.read(spark, t, widened).agg(sum("id")).head.getLong(0) == 10L)
    // time travel applies the widened schema to the narrow history
    assert(CommitLog.read(spark, t, widened, asOf = 1L)
      .as[(Long, Double)].collect().toSet == Set((1L, 1.5d), (2L, 2.5d)))
    // row-level operations run through the widened schema over mixed
    // files: a keyed merge matching a NARROW-file row rewrites it
    CommitLog.merge(spark, t, widened,
      Seq((2L, 20.0d), (5L, 50.0d)).toDF("id", "score"), Seq("id"), publisher)
    val merged = CommitLog.read(spark, t, widened).as[(Long, Double)].collect().toMap
    assert(merged == Map(1L -> 1.5d, 2L -> 20.0d, 3L -> 3.5d, 4L -> 9e40, 5L -> 50.0d))
  }

  test("write-path schema evolution: mergeSchema append/merge evolve the logged schema ledger") {
    import org.apache.spark.sql.types._
    val t = freshTable()
    // bootstrap: the first evolving append stamps the table's schema
    val v1 = CommitLog.append(Seq((1, 1.5f)).toDF("id", "score"), t, publisher,
      mergeSchema = true)
    val s1 = CommitLog.schemaAt(spark, t).get
    assert(s1.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", IntegerType), ("score", FloatType)))
    // widen + add-column in one evolving append
    val v2 = CommitLog.append(Seq((2L, 2.5d, "x")).toDF("id", "score", "note"),
      t, publisher, mergeSchema = true)
    val s2 = CommitLog.schemaAt(spark, t).get
    assert(s2.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("id", LongType), ("score", DoubleType), ("note", StringType)))
    // old files read value-exact under the evolved schema; the added
    // column null-fills for pre-evolution rows
    val rows = CommitLog.read(spark, t, s2)
      .as[(Long, Double, Option[String])].collect().toSet
    assert(rows == Set((1L, 1.5d, None), (2L, 2.5d, Some("x"))))
    // TIME TRAVEL shows the pre-evolution schema historically
    assert(CommitLog.schemaAt(spark, t, asOf = v1).get
      .fields.map(_.dataType).toSeq == Seq(IntegerType, FloatType))
    assert(CommitLog.schemaAt(spark, t, asOf = v2).contains(s2))
    // evolve-on-MERGE: a new column arrives with an upsert; the header
    // rides the same commit as the rewrite
    CommitLog.merge(spark, t, s2,
      Seq((1L, 10.0d, "upd", true), (3L, 3.5d, "new", false))
        .toDF("id", "score", "note", "flag"),
      Seq("id"), publisher, mergeSchema = true)
    val s3 = CommitLog.schemaAt(spark, t).get
    assert(s3.fieldNames.toSeq == Seq("id", "score", "note", "flag"))
    val merged = CommitLog.read(spark, t, s3)
      .as[(Long, Double, Option[String], Option[Boolean])].collect().toSet
    assert(merged == Set(
      (1L, 10.0d, Some("upd"), Some(true)),
      (2L, 2.5d, Some("x"), None),
      (3L, 3.5d, Some("new"), Some(false))), s"merged: $merged")
    // a non-evolving append leaves the ledger untouched
    CommitLog.append(Seq((9, 9.5f)).toDF("id", "score"), t, publisher)
    assert(CommitLog.schemaAt(spark, t).contains(s3))
    // an incompatible type change refuses loudly
    val e = intercept[IllegalArgumentException] {
      CommitLog.append(Seq(("oops", 1.0f)).toDF("id", "score"), t, publisher,
        mergeSchema = true)
    }
    assert(e.getMessage.contains("cannot evolve"), e.getMessage)
    // the ledger survives checkpointing + log pruning (it rides
    // checkpoints like txn=/consumed=)
    (0 until 12).foreach(i =>
      CommitLog.append(Seq((100L + i, 1.0d, "p", true))
        .toDF("id", "score", "note", "flag"), t, publisher))
    CommitLog.pruneLog(spark, t)
    assert(CommitLog.schemaAt(spark, t).contains(s3),
      "schema ledger lost to pruneLog — checkpoints must carry it")
  }

  test("change feed: per-commit inserts tagged with version; rewrites feed nothing") {
    val t = freshTable()
    // bootstrap from zero: the feed from 0 IS the table
    val v1 = append(spark.range(0, 50).toDF("id"), t)
    val boot = CommitLog.changesSince(spark, t, 0L, schema)
    assert(boot.count() == 50 &&
      boot.filter(col("_commit_version") === v1).count() == 50)
    // two appends + an interleaved compaction rewrite
    val v2 = append(spark.range(50, 80).toDF("id"), t)
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue, publisher = publisher)
    val v4 = append(spark.range(80, 100).toDF("id"), t)
    val feed = CommitLog.changesSince(spark, t, sinceVersion = v1, schema)
    // versions: only the appends; the rewrite is row-preserving
    assert(feed.select("_commit_version").distinct().as[Long].collect().sorted
      .sameElements(Array(v2, v4)))
    // rows: exactly the appended ids, each tagged with its own commit
    assert(feed.filter(col("_commit_version") === v2)
      .select("id").as[Long].collect().sorted.sameElements(50L until 80L))
    assert(feed.filter(col("_commit_version") === v4)
      .select("id").as[Long].collect().sorted.sameElements(80L until 100L))
    // caught-up consumer: empty feed, with the version column present
    val caughtUp = CommitLog.changesSince(spark, t, v4, schema)
    assert(caughtUp.count() == 0 &&
      caughtUp.columns.contains("_commit_version"))
    // a consumer past the log is a caller bug, not an empty feed
    intercept[IllegalArgumentException] {
      CommitLog.changesSince(spark, t, v4 + 10, schema)
    }
  }

  test("deleteWhere: matching rows go atomically; unaffected files keep their identity") {
    val t = freshTable()
    val v1 = append(spark.range(0, 100).toDF("id"), t)      // file A
    val v2 = append(spark.range(100, 200).toDF("id"), t)    // file B
    assert(v1 == 1L && v2 == 2L)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    // delete hits only file B's range
    val v3 = CommitLog.deleteWhere(spark, t, schema,
      col("id") >= 150, publisher = publisher)
    assert(v3 == 3L)
    val ids = CommitLog.read(spark, t, schema).as[Long].collect().sorted
    assert(ids.sameElements(0L until 150L), s"wrong survivors: ${ids.length}")
    // file A (untouched range) keeps its identity — caches stay valid
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert((before intersect after).nonEmpty,
      "delete rewrote files with no matching rows")
    // the delete boundary is PART-ALIGNED here (range parts), so the
    // matching parts drop as pure metadata and nothing rewrites — the
    // file-drop fast path (ReplaceWhereSpec pins the straggler case)
    assert((before diff after).nonEmpty && (after diff before).isEmpty)
    // time travel still reads the pre-delete snapshot
    assert(CommitLog.read(spark, t, schema, asOf = v2).count() == 200)
    // history names the operation explicitly, not as a generic rewrite
    assert(CommitLog.history(spark, t)
      .filter(col("version") === v3 && col("operation") === "delete").count() == 1)
    // a no-match delete is a no-op, not an empty commit
    assert(CommitLog.deleteWhere(spark, t, schema,
      col("id") > 10000, publisher = publisher) == v3)
  }

  test("updateWhere: copy-on-write of affected files only; pre-update columns feed SET") {
    val t = freshTable()
    val df1 = spark.range(0, 100).select(col("id"), (col("id") * 2).as("b"))
    val df2 = spark.range(100, 200).select(col("id"), (col("id") * 2).as("b"))
    CommitLog.append(df1, t, publisher)
    CommitLog.append(df2, t, publisher)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    // simultaneous-SET: a = b, b = a must SWAP (both read pre-update)
    val v = CommitLog.updateWhere(spark, t, df1.schema, col("id") >= 150,
      Map("id" -> col("b"), "b" -> col("id")), publisher = publisher)
    assert(v == 3L)
    val rows = CommitLog.read(spark, t, df1.schema)
      .as[(Long, Long)].collect().toSet
    assert(rows == ((0L until 150L).map(i => (i, i * 2)) ++
      (150L until 200L).map(i => (i * 2, i))).toSet)
    // the un-matching file keeps its identity
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert((before intersect after).nonEmpty,
      "update rewrote files with no matching rows")
    // null-predicate rows stay un-updated (SQL UPDATE semantics)
    val t2 = freshTable()
    val df3 = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L))).toDF("id", "score")
    CommitLog.append(df3, t2, publisher)
    CommitLog.updateWhere(spark, t2, df3.schema, col("score") > 10,
      Map("id" -> (col("id") + 100)), publisher = publisher)
    assert(CommitLog.read(spark, t2, df3.schema)
      .select("id").as[Long].collect().sorted.sameElements(Array(1L, 2L, 103L)))
    // a no-match update is a no-op; history names the operation
    assert(CommitLog.updateWhere(spark, t, df1.schema, col("id") > 100000,
      Map("b" -> lit(0L)), publisher = publisher) == v)
    assert(CommitLog.history(spark, t)
      .filter(col("version") === v && col("operation") === "update").count() == 1)
    // time travel still reads the pre-update snapshot
    assert(CommitLog.read(spark, t, df1.schema, asOf = 2L)
      .as[(Long, Long)].collect().toSet ==
      (0L until 200L).map(i => (i, i * 2)).toSet)
  }

  test("deleteWhere keeps rows where the predicate is null (SQL DELETE semantics)") {
    val t = freshTable()
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "score")
    CommitLog.append(df, t, publisher)
    CommitLog.deleteWhere(spark, t, df.schema, col("score") > 10, publisher)
    val left = CommitLog.read(spark, t, df.schema)
      .select("id").as[Long].collect().sorted
    assert(left.sameElements(Array(1L, 2L)),
      "a NULL predicate row must survive a DELETE")
  }

  test("change feed across a delete: pre-images fed as delete rows, inserts keep flowing") {
    val t = freshTable()
    val v1 = append(spark.range(0, 50).toDF("id"), t)
    val v2 = CommitLog.deleteWhere(spark, t, schema, col("id") < 10, publisher)
    val v3 = append(spark.range(50, 60).toDF("id"), t)
    val feed = CommitLog.changesSince(spark, t, v1, schema)
    // the delete commit feeds its pre-images tagged 'delete'
    assert(feed.filter(col("_commit_version") === v2 &&
        col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted.sameElements(0L until 10L),
      "deleted pre-images missing from the feed")
    // the later append feeds normally
    assert(feed.filter(col("_commit_version") === v3 &&
        col("_change_type") === "insert")
      .select("id").as[Long].collect().sorted.sameElements(50L until 60L))
    assert(feed.count() == 20)
    // replaying the typed feed onto the since-snapshot reproduces the table
    val snapshot = CommitLog.read(spark, t, schema, asOf = v1)
    val replayed = snapshot
      .join(feed.filter(col("_change_type") === "delete").select("id"),
        Seq("id"), "left_anti")
      .unionByName(feed.filter(col("_change_type") === "insert").select("id"))
      .as[Long].collect().sorted
    assert(replayed.sameElements(
      CommitLog.read(spark, t, schema).as[Long].collect().sorted),
      "feed replay diverged from the live table")
    // a rebuild-style TAGGED rewrite WITHOUT change files still stops
    // loudly — rows changed unwitnessed
    val t2 = freshTable()
    append(spark.range(0, 5).toDF("id"), t2)
    val old = CommitLog.liveFiles(spark, t2)._2
    CommitLog.commit(spark, t2, adds = Seq("rebuilt.parquet"), removes = old,
      publisher = publisher, opTag = Some("consumed=1"))
    val e2 = intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t2, 0L, schema)
    }
    assert(e2.getMessage.contains("no change"), e2.getMessage)
  }

  test("merge: matched rows replaced, unmatched inserted, one atomic tagged commit") {
    import spark.implicits._
    val t = freshTable()
    val s2 = Seq((0L, "old")).toDF("id", "v").schema
    append((0L until 50L).map(i => (i, "old")).toDF("id", "v"), t)   // file(s) A
    append((50L until 100L).map(i => (i, "old")).toDF("id", "v"), t) // file(s) B
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    val source = ((60L until 70L).map(i => (i, "upd")) ++
      (200L until 205L).map(i => (i, "new"))).toDF("id", "v")
    val v3 = CommitLog.merge(spark, t, s2, source, Seq("id"), publisher)
    val rows = CommitLog.read(spark, t, s2).as[(Long, String)].collect().toMap
    assert(rows.size == 105)
    assert((60L until 70L).forall(rows(_) == "upd"), "matched rows not replaced")
    assert((200L until 205L).forall(rows(_) == "new"), "unmatched rows not inserted")
    assert((0L until 60L).forall(rows(_) == "old") &&
      (70L until 100L).forall(rows(_) == "old"), "untouched rows changed")
    // only the file(s) holding matched keys were rewritten
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert((before intersect after).nonEmpty, "merge rewrote unaffected files")
    // time travel reads the pre-merge snapshot; history names the op
    assert(CommitLog.read(spark, t, s2, asOf = v3 - 1)
      .filter(col("v") =!= "old").count() == 0)
    assert(CommitLog.history(spark, t)
      .filter(col("version") === v3 && col("operation") === "merge").count() == 1)
    // the merge feeds delete pre-images + insert post-images
    val feed = CommitLog.changesSince(spark, t, v3 - 1, s2)
    assert(feed.filter(col("_change_type") === "delete").count() == 10)
    assert(feed.filter(col("_change_type") === "insert").count() == 15)
    // duplicate source keys are rejected
    intercept[IllegalArgumentException] {
      CommitLog.merge(spark, t, s2,
        Seq((1L, "a"), (1L, "b")).toDF("id", "v"), Seq("id"), publisher)
    }
    // merge into an empty table = plain insert
    val t2 = freshTable()
    CommitLog.merge(spark, t2, s2, source, Seq("id"), publisher)
    assert(CommitLog.read(spark, t2, s2).count() == 15)
  }

  test("merge races: an interleaved append survives; a conflicting rewrite fails loudly") {
    import spark.implicits._
    val t = freshTable()
    val s2 = Seq((0L, "old")).toDF("id", "v").schema
    append((0L until 20L).map(i => (i, "old")).toDF("id", "v"), t)
    // an appender wins the version the merge first tries for: the
    // merge must retry at the next number and BOTH outcomes survive
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // land a real data file for the racing append to reference
    val racerStaging = t + "/_staging_racer"
    (500L until 505L).map(i => (i, "raced")).toDF("id", "v")
      .coalesce(1).write.parquet(racerStaging)
    val racerPart = fs.listStatus(new org.apache.hadoop.fs.Path(racerStaging))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.rename(racerPart, new org.apache.hadoop.fs.Path(t, "racer.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(racerStaging), true)
    var injected = false
    val racy = new AtomicPublisher {
      def publish(pfs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Boolean = {
        if (!injected && dst.getName.endsWith(".commit")) {
          injected = true
          assert(publisher.publish(pfs, logDir, dst, "+racer.parquet"))
        }
        publisher.publish(pfs, logDir, dst, content)
      }
    }
    CommitLog.merge(spark, t, s2,
      (0L until 5L).map(i => (i, "upd")).toDF("id", "v"), Seq("id"), racy)
    val rows = CommitLog.read(spark, t, s2).as[(Long, String)].collect().toMap
    assert(rows.size == 25, s"lost rows across the race: ${rows.size}")
    assert((0L until 5L).forall(rows(_) == "upd") &&
      (500L until 505L).forall(rows(_) == "raced"),
      "merge retry lost the interleaved append or its own update")
    // a conflicting REWRITE of the merge's input files: remove-
    // validation must throw, never resurrect replaced rows
    var injected2 = false
    val live = CommitLog.liveFiles(spark, t)._2
    val conflicting = new AtomicPublisher {
      def publish(pfs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Boolean = {
        if (!injected2 && dst.getName.endsWith(".commit")) {
          injected2 = true
          assert(publisher.publish(pfs, logDir, dst,
            (Seq("+compacted-race.parquet") ++ live.map("-" + _)).mkString("\n")))
        }
        publisher.publish(pfs, logDir, dst, content)
      }
    }
    intercept[java.util.ConcurrentModificationException] {
      CommitLog.merge(spark, t, s2,
        (0L until 5L).map(i => (i, "upd2")).toDF("id", "v"), Seq("id"), conflicting)
    }
  }

  test("merge crash before its commit publishes leaves the table unchanged") {
    import spark.implicits._
    val t = freshTable()
    val s2 = Seq((0L, "old")).toDF("id", "v").schema
    append((0L until 20L).map(i => (i, "old")).toDF("id", "v"), t)
    val crashing = new AtomicPublisher {
      def publish(pfs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Boolean =
        throw new java.io.IOException("injected crash at publish time")
    }
    intercept[java.io.IOException] {
      CommitLog.merge(spark, t, s2,
        (0L until 5L).map(i => (i, "upd")).toDF("id", "v"), Seq("id"), crashing)
    }
    // data + CDC files landed but the commit never published: invisible
    assert(CommitLog.read(spark, t, s2).filter(col("v") =!= "old").count() == 0)
    assert(CommitLog.liveFiles(spark, t)._1 == 1L)
    // and vacuum reclaims the orphans
    assert(CommitLog.vacuum(spark, t, minAgeMs = 0).nonEmpty)
    assert(CommitLog.read(spark, t, s2).count() == 20)
  }

  test("CDC files survive vacuum while their commit survives; pruning releases them") {
    val t = freshTable()
    append(spark.range(0, 30).toDF("id"), t)                            // v1
    CommitLog.deleteWhere(spark, t, schema, col("id") < 10, publisher)  // v2 + CDC
    // vacuum reclaims the delete's superseded input file but NOT the
    // CDC change files — the feed must stay consumable as long as the
    // commit range is replayable
    CommitLog.vacuum(spark, t, minAgeMs = 0)
    val feed = CommitLog.changesSince(spark, t, 1L, schema)
    assert(feed.filter(col("_change_type") === "delete").count() == 10,
      "vacuum ate the CDC files while their commit still survived")
    // push past a checkpoint, prune the log: the delete commit is gone,
    // so its CDC files become unreferenced and vacuum may reclaim them
    (0 until 9).foreach(i => append(spark.range(100L + i, 101L + i).toDF("id"), t))
    assert(CommitLog.pruneLog(spark, t).nonEmpty)
    val swept = CommitLog.vacuum(spark, t, minAgeMs = 0)
    assert(swept.nonEmpty, "pruning must release the CDC files to vacuum")
    intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t, 1L, schema)
    }
  }

  test("incremental view with keys: deletes, updates, and inserts apply incrementally") {
    import spark.implicits._
    val src = freshTable()
    val view = freshTable()
    val s2 = Seq((0L, "x")).toDF("id", "v").schema
    // transform: keep even ids, derive a column; id (the key) passes through
    val tf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("id") % 2 === 0)
        .withColumn("tag", concat(lit("t-"), col("v")))
    def batchRecompute = tf(CommitLog.read(spark, src, s2))
      .as[(Long, String, String)].collect().sorted
    def viewRows = {
      val vs = tf(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s2)).schema
      CommitLog.read(spark, view, vs).as[(Long, String, String)].collect().sorted
    }
    val keys = Some(Seq("id"))
    append((0L until 20L).map(i => (i, "a")).toDF("id", "v"), src)
    assert(IncrementalView.refresh(spark, src, s2, view, tf, publisher, keys).isDefined)
    assert(viewRows.sameElements(batchRecompute))
    // source DELETE: the view must retract without a rebuild
    CommitLog.deleteWhere(spark, src, s2, col("id") < 6, publisher)
    append((20L until 24L).map(i => (i, "b")).toDF("id", "v"), src)
    assert(IncrementalView.refresh(spark, src, s2, view, tf, publisher, keys).isDefined)
    assert(viewRows.sameElements(batchRecompute),
      "view diverged from batch recompute after a source delete")
    // source MERGE (update + insert): the view applies the net change
    CommitLog.merge(spark, src, s2,
      ((8L until 12L).map(i => (i, "upd")) ++ Seq((900L, "ins"))).toDF("id", "v"),
      Seq("id"), publisher)
    assert(IncrementalView.refresh(spark, src, s2, view, tf, publisher, keys).isDefined)
    assert(viewRows.sameElements(batchRecompute),
      "view diverged from batch recompute after a source merge")
    // caught up: no-op
    assert(IncrementalView.refresh(spark, src, s2, view, tf, publisher, keys).isEmpty)
    // WITHOUT keys a delete-bearing increment still stops loudly
    // (bootstrap WITH keys — the source history already holds deletes,
    // which the keyed net-last bootstrap handles)
    val view2 = freshTable()
    IncrementalView.refresh(spark, src, s2, view2, tf, publisher, keys)
    CommitLog.deleteWhere(spark, src, s2, col("id") === 14L, publisher)
    val e = intercept[IllegalStateException] {
      IncrementalView.refresh(spark, src, s2, view2, tf, publisher)
    }
    assert(e.getMessage.contains("keyCols"), e.getMessage)
    // ... and catches up incrementally once keys are supplied
    assert(IncrementalView.refresh(spark, src, s2, view2, tf, publisher, keys).isDefined)
  }

  test("pruneLog: reads stay exact from the checkpoint; pre-checkpoint history fails loudly") {
    val t = freshTable()
    (0 until 25).foreach(i => append(spark.range(i * 10L, i * 10L + 10).toDF("id"), t))
    // checkpoints at v10 and v20; prune everything v20 and below
    val pruned = CommitLog.pruneLog(spark, t)
    assert(pruned == (1L to 20L), s"pruned $pruned")
    // current reads replay checkpoint(20) + commits 21..25: still exact
    assert(CommitLog.read(spark, t, schema).count() == 250)
    assert(CommitLog.read(spark, t, schema, asOf = 22L).count() == 220)
    // history below the pruned checkpoint is GONE, and says so
    intercept[IllegalStateException] { CommitLog.read(spark, t, schema, asOf = 15L) }
    val e = intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t, 5L, schema).count()
    }
    assert(e.getMessage.contains("pruned"), e.getMessage)
    // feed ranges starting at/after the checkpoint still work
    assert(CommitLog.changesSince(spark, t, 20L, schema).count() == 50)
    // a table with no checkpoint prunes nothing
    val t2 = freshTable()
    append(spark.range(0, 5).toDF("id"), t2)
    assert(CommitLog.pruneLog(spark, t2).isEmpty)
  }

  test("incremental views chain: a view can consume another view's change feed") {
    val src = freshTable()
    val v1 = freshTable() // doubles even ids
    val v2 = freshTable() // keeps multiples of 4 from v1
    val t1: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("id") % 2 === 0).withColumn("id", col("id") * 2)
    val t2: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("id") % 4 === 0)
    append(spark.range(0, 10).toDF("id"), src)
    IncrementalView.refresh(spark, src, schema, v1, t1, publisher)
    IncrementalView.refresh(spark, v1, schema, v2, t2, publisher)
    append(spark.range(10, 20).toDF("id"), src)
    IncrementalView.refresh(spark, src, schema, v1, t1, publisher)
    IncrementalView.refresh(spark, v1, schema, v2, t2, publisher)
    // end of chain ≡ composed full recompute (tagged APPEND commits
    // feed downstream; only tagged REMOVING commits stop a feed)
    val expect = t2(t1(CommitLog.read(spark, src, schema)))
      .as[Long].collect().sorted
    val got = CommitLog.read(spark, v2, schema).as[Long].collect().sorted
    assert(got.sameElements(expect), s"chain diverged: ${got.mkString(",")}")
  }

  test("change feed: a pruned commit range fails loudly, never skips versions") {
    val t = freshTable()
    append(spark.range(0, 10).toDF("id"), t)
    append(spark.range(10, 20).toDF("id"), t)
    append(spark.range(20, 30).toDF("id"), t)
    // simulate the prune-commits-behind-a-checkpoint cleanup eating v2
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(t, f"_graft_log/${2L}%020d.commit"), false))
    val e = intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t, 0L, schema).count()
    }
    assert(e.getMessage.contains("pruned"), e.getMessage)
    // versions after the gap are still consumable
    assert(CommitLog.changesSince(spark, t, 2L, schema).count() == 10)
  }

  test("appendOnce: replayed and stale batch ids skip; distinct query ids are independent") {
    val t = freshTable()
    assert(CommitLog.appendOnce(spark.range(0, 10).toDF("id"), t, "q", 0L, publisher).isDefined)
    assert(CommitLog.appendOnce(spark.range(10, 20).toDF("id"), t, "q", 1L, publisher).isDefined)
    // replayed batch (failed after its commit): skipped, not doubled
    assert(CommitLog.appendOnce(spark.range(10, 20).toDF("id"), t, "q", 1L, publisher).isEmpty)
    // stale lower id from a zombie attempt: skipped too (monotone ledger)
    assert(CommitLog.appendOnce(spark.range(0, 10).toDF("id"), t, "q", 0L, publisher).isEmpty)
    assert(CommitLog.read(spark, t, schema).count() == 20)
    // another query id keeps its own ledger on the same table
    assert(CommitLog.appendOnce(spark.range(20, 25).toDF("id"), t, "q2", 0L, publisher).isDefined)
    assert(CommitLog.read(spark, t, schema).count() == 25)
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 1L &&
      CommitLog.lastTxnBatch(spark, t, "q2") == 0L &&
      CommitLog.lastTxnBatch(spark, t, "nope") == -1L)
    intercept[IllegalArgumentException] {
      CommitLog.appendOnce(spark.range(0, 1).toDF("id"), t, "bad:id", 9L, publisher)
    }
  }

  test("pruneLog cannot regress the txn/consumed ledgers: checkpoints carry the tags") {
    // txn ledger: ten tagged commits land versions 1..10, so the
    // checkpoint at v10 subsumes ALL of them — a prune then deletes
    // every tagged commit FILE, and before the tag-carry fix the
    // ledger read would fall back to -1 and a replayed batch would
    // silently double-append
    val tt = freshTable()
    (0L until 10L).foreach(i =>
      CommitLog.commit(spark, tt, adds = Seq(s"f$i.parquet"),
        publisher = publisher, opTag = Some(s"txn=q:$i")))
    assert(CommitLog.lastTxnBatch(spark, tt, "q") == 9L)
    assert(CommitLog.pruneLog(spark, tt) == (1L to 10L))
    assert(CommitLog.lastTxnBatch(spark, tt, "q") == 9L,
      "prune regressed the txn ledger — exactly-once is broken")
    // a replayed batch still skips, a fresh one still lands
    assert(CommitLog.appendOnce(spark.range(0, 5).toDF("id"), tt, "q", 9L, publisher).isEmpty)
    assert(CommitLog.appendOnce(spark.range(0, 5).toDF("id"), tt, "q", 10L, publisher).isDefined)
    // consumed ledger: same shape through the view-checkpoint tag
    val tv = freshTable()
    (1L to 10L).foreach(i =>
      CommitLog.commit(spark, tv, adds = Seq(s"g$i.parquet"),
        publisher = publisher, opTag = Some(s"consumed=$i")))
    CommitLog.pruneLog(spark, tv)
    assert(CommitLog.lastConsumed(spark, tv) == 10L,
      "prune regressed the view checkpoint — a refresh would double-apply")
    assert(IncrementalView.lastConsumed(spark, tv) == 10L)
  }

  test("appendOnce: a zombie's tag landing mid-race fences the successor") {
    // Both a zombie driver and its successor pass the up-front replay
    // check for (q, 5); the zombie wins the version race. The
    // successor must re-read the ledger after LOSING the publish and
    // abort — before the in-loop re-check it would retry at the next
    // version and double-commit the batch.
    val t = freshTable()
    append(spark.range(0, 10).toDF("id"), t) // v1
    var injected = false
    val racy = new AtomicPublisher {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path, content: String): Boolean = {
        if (!injected) {
          injected = true
          assert(publisher.publish(fs, logDir, dst,
            "#op=txn=q:5\n+zombie-batch5.parquet"), "zombie must win its version")
        }
        publisher.publish(fs, logDir, dst, content)
      }
    }
    assert(CommitLog.appendOnce(
      spark.range(10, 20).toDF("id"), t, "q", 5L, racy).isEmpty,
      "the racing successor double-committed batch 5")
    // exactly one commit carries the batch-5 tag; the successor's
    // landed-but-uncommitted file is a vacuum-eligible orphan
    val (version, live) = CommitLog.liveFiles(spark, t)
    assert(version == 2L && live.contains("zombie-batch5.parquet"))
    assert(CommitLog.lastTxnBatch(spark, t, "q") == 5L)
    assert(CommitLog.vacuum(spark, t, minAgeMs = 0)
      .exists(_.endsWith(".parquet")), "aborted append left no orphan to sweep?")
  }

  test("change feed names vacuumed data files instead of failing at job time") {
    val t = freshTable()
    append(spark.range(0, 10).toDF("id"), t)   // v1
    append(spark.range(10, 20).toDF("id"), t)  // v2
    CommitLog.compact(spark, t, targetBytes = 1L << 30, publisher = publisher) // v3
    // pre-vacuum: the feed over (0, 2] still reads the superseded files
    assert(CommitLog.changesSince(spark, t, 0L, schema, asOf = 2L).count() == 20)
    CommitLog.vacuum(spark, t, minAgeMs = 0)
    val e = intercept[IllegalStateException] {
      CommitLog.changesSince(spark, t, 0L, schema, asOf = 2L)
    }
    assert(e.getMessage.contains("re-bootstrap") &&
      e.getMessage.contains("vacuumed"), e.getMessage)
  }

  test("expectations: clean rows commit, violators quarantine with their rule names") {
    import Expectations.Rule
    val t = freshTable()
    val quarantine = freshTable()
    val df = Seq((1L, Some(5L)), (2L, None), (-3L, Some(7L)), (-4L, None))
      .toDF("id", "score")
    val rules = Seq(
      Rule("id_nonneg", col("id") >= 0),
      Rule("score_pos", col("score") > 0)) // NULL score ⇒ violation
    assert(Expectations.validatedAppend(df, rules, t, quarantine, publisher).isDefined)
    // clean: only (1, 5)
    assert(CommitLog.read(spark, t, df.schema)
      .select("id").as[Long].collect().sameElements(Array(1L)))
    // quarantined rows carry exactly the rules they broke
    val qSchema = df.withColumn("violated",
      Expectations.violations(rules)).schema
    val q = CommitLog.read(spark, quarantine, qSchema)
      .select(col("id"), col("violated"))
      .as[(Long, Seq[String])].collect().toMap
    assert(q(2L) == Seq("score_pos"), "null score must violate")
    assert(q(-3L) == Seq("id_nonneg"))
    assert(q(-4L) == Seq("id_nonneg", "score_pos"))
    // an all-violating batch commits nothing to the table
    val before = CommitLog.liveFiles(spark, t)._1
    assert(Expectations.validatedAppend(
      Seq((-9L, Option.empty[Long])).toDF("id", "score"),
      rules, t, quarantine, publisher).isEmpty)
    assert(CommitLog.liveFiles(spark, t)._1 == before)
    // malformed rule names are rejected at construction
    intercept[IllegalArgumentException] { Rule("bad name", lit(true)) }
  }

  test("incremental view: refresh processes only the increment; result ≡ full recompute") {
    val src = freshTable()
    val view = freshTable()
    val double: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => df.filter(col("id") % 2 === 0).withColumn("id", col("id") * 2)
    def viewIds: Array[Long] =
      CommitLog.read(spark, view, schema).as[Long].collect().sorted
    // bootstrap
    append(spark.range(0, 10).toDF("id"), src)
    assert(IncrementalView.refresh(spark, src, schema, view, double, publisher)
      .contains(1L))
    assert(viewIds.sameElements(Array(0L, 4L, 8L, 12L, 16L)))
    // caught up: no-op, no new view version
    val vBefore = CommitLog.liveFiles(spark, view)._1
    assert(IncrementalView.refresh(spark, src, schema, view, double, publisher).isEmpty)
    assert(CommitLog.liveFiles(spark, view)._1 == vBefore)
    // two more source commits, one refresh: increment-only, and the
    // materialized-view invariant holds — view ≡ transform(full source)
    append(spark.range(10, 20).toDF("id"), src)
    append(spark.range(20, 30).toDF("id"), src)
    assert(IncrementalView.refresh(spark, src, schema, view, double, publisher)
      .contains(3L))
    val expect = double(CommitLog.read(spark, src, schema))
      .as[Long].collect().sorted
    assert(viewIds.sameElements(expect), "view diverged from a full recompute")
    assert(IncrementalView.lastConsumed(spark, view) == 3L)
  }

  test("incremental view: an all-filtered increment still advances the checkpoint") {
    val src = freshTable()
    val view = freshTable()
    val keepNone: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.filter(lit(false))
    append(spark.range(0, 5).toDF("id"), src)
    assert(IncrementalView.refresh(spark, src, schema, view, keepNone, publisher)
      .contains(1L))
    assert(IncrementalView.lastConsumed(spark, view) == 1L,
      "checkpoint must advance even when the transform keeps nothing")
    assert(IncrementalView.refresh(spark, src, schema, view, keepNone, publisher).isEmpty)
  }

  test("incremental view: source delete stops the feed; rebuild recovers and re-bases") {
    val src = freshTable()
    val view = freshTable()
    val ident: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity
    append(spark.range(0, 20).toDF("id"), src)
    IncrementalView.refresh(spark, src, schema, view, ident, publisher)
    CommitLog.deleteWhere(spark, src, schema, col("id") < 5, publisher)
    append(spark.range(20, 25).toDF("id"), src)
    intercept[IllegalStateException] {
      IncrementalView.refresh(spark, src, schema, view, ident, publisher)
    }
    // recovery: one atomic rebuild from the snapshot, checkpoint re-based
    IncrementalView.rebuild(spark, src, schema, view, ident, publisher)
    val ids = CommitLog.read(spark, view, schema).as[Long].collect().sorted
    assert(ids.sameElements((5L until 25L).toArray[Long]),
      s"rebuilt view wrong: ${ids.mkString(",")}")
    // and incremental consumption resumes cleanly from the new base
    append(spark.range(25, 30).toDF("id"), src)
    assert(IncrementalView.refresh(spark, src, schema, view, ident, publisher).isDefined)
    assert(CommitLog.read(spark, view, schema).count() == 25)
  }

  test("incremental view: rebuild lands under the view's column mapping") {
    val src = freshTable()
    val view = freshTable()
    val withV: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      _.withColumn("v", col("id") * 2)
    append(spark.range(0, 10).toDF("id"), src)
    IncrementalView.refresh(spark, src, schema, view, withV, publisher)
    CommitLog.renameColumn(spark, view, "v", "w", publisher)
    IncrementalView.rebuild(spark, src, schema, view,
      withV.andThen(_.withColumnRenamed("v", "w")), publisher)
    val sch = CommitLog.schemaAt(spark, view).get
    assert(sch.fieldNames.toSeq == Seq("id", "w"))
    val rows = CommitLog.read(spark, view, sch)
    assert(rows.filter(col("w").isNull).count() == 0,
      "rebuilt rows ignored the view's column mapping: the renamed column reads NULL")
    assert(rows.as[(Long, Long)].collect().sorted
      .sameElements((0L until 10L).map(i => (i, i * 2))))
  }

  test("incremental view: a rebuild violating the view's CHECK fails and publishes nothing") {
    val src = freshTable()
    val view = freshTable()
    val ident: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      identity
    append(spark.range(3, 5).toDF("id"), src)
    IncrementalView.refresh(spark, src, schema, view, ident, publisher)
    CommitLog.addConstraint(spark, view, "id_pos", "id > 0", publisher)
    val before = CommitLog.latestVersion(spark, view)
    val e = intercept[Exception] {
      IncrementalView.rebuild(spark, src, schema, view,
        _.select((col("id") - 7).as("id")), publisher) // -4, -3
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("CHECK constraint")), s"expected a CHECK violation, got: $e")
    assert(CommitLog.latestVersion(spark, view) == before, "a refused rebuild published")
    assert(CommitLog.read(spark, view, schema).as[Long].collect().sorted.sameElements(Seq(3L, 4L)))
  }

  test("eight lockless concurrent writers: every row survives, versions serialize") {
    val t = freshTable()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        append(spark.range(i * 100, (i + 1) * 100).toDF("id"), t); ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (version, files) = CommitLog.liveFiles(spark, t)
    assert(version == 8L, s"8 appends must win 8 distinct versions, got $version")
    assert(files.nonEmpty)
    val ids = CommitLog.read(spark, t, schema).as[Long].collect().sorted
    assert(ids.sameElements(0L until 800L), s"lost update: ${ids.length} of 800 rows")
  }

  test("compact: one atomic commit, contents identical, old files reclaimed by vacuum") {
    val t = freshTable()
    (0 until 5).foreach(i =>
      append(spark.range(i * 10, (i + 1) * 10).repartition(3).toDF("id"), t))
    val before = CommitLog.liveFiles(spark, t)._2
    assert(before.size >= 10, s"fixture should be fragmented: ${before.size}")
    CommitLog.compact(spark, t, targetBytes = 1L << 30, publisher = publisher)
    val (_, after) = CommitLog.liveFiles(spark, t)
    assert(after.size == 1, s"expected 1 compacted file, got ${after.size}")
    assert(CommitLog.read(spark, t, schema).as[Long].collect().sorted
      .sameElements(0L until 50L))
    // the superseded files still exist on disk until vacuum
    val swept = CommitLog.vacuum(spark, t, minAgeMs = 0)
    assert(before.forall(swept.contains), "vacuum missed superseded files")
    assert(CommitLog.read(spark, t, schema).count() == 50)
  }

  test("history: appends, rewrites, and checkpoint summaries with exact counts") {
    val t = freshTable()
    append(spark.range(0, 10).repartition(2).toDF("id"), t)      // v1: 2 adds
    append(spark.range(10, 20).repartition(3).toDF("id"), t)     // v2: 3 adds
    CommitLog.compact(spark, t, targetBytes = 1L << 30, publisher = publisher) // v3
    val h = CommitLog.history(spark, t)
      .select("version", "operation", "n_added", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toList
    assert(h == List(
      (1L, "append", 2L, 0L),
      (2L, "append", 3L, 0L),
      (3L, "rewrite", 1L, 5L)), s"history: $h")
    assert(CommitLog.history(spark, freshTable()).count() == 0)
  }

  test("clustered logged compaction: contents identical, per-file id ranges disjoint") {
    val t = freshTable()
    // shuffled appends so the pre-compact layout interleaves ids
    Seq(0L -> 40L, 40L -> 80L, 80L -> 120L).foreach { case (a, b) =>
      append(spark.range(a, b)
        .select((col("id") * 7919 % 120).as("id")).repartition(3), t)
    }
    CommitLog.compact(spark, t, targetBytes = 2048, clusterBy = Some("id"),
      publisher = publisher)
    val (_, files) = CommitLog.liveFiles(spark, t)
    assert(files.size >= 2, s"fixture too small to check range disjointness: $files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(s"$t/$f")
        .agg(org.apache.spark.sql.functions.min("id"),
          org.apache.spark.sql.functions.max("id")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap after range clustering: $ranges")
      case _ =>
    }
    // contents survive the clustered rewrite exactly
    val ids = CommitLog.read(spark, t, schema).as[Long].collect().sorted
    assert(ids.length == 120)
  }

  test("checkpoints bound replay: reads survive deletion of all pre-checkpoint commits") {
    val t = freshTable()
    (0 until 25).foreach(i =>
      append(spark.range(i, i + 1).repartition(1).toDF("id"), t))
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(t, "_graft_log")
    val ckpts = fs.listStatus(log).map(_.getPath.getName)
      .filter(_.endsWith(".checkpoint")).sorted
    assert(ckpts.length == 2 && ckpts.last.startsWith("0" * 18 + "20"),
      s"expected checkpoints at v10 and v20, got ${ckpts.mkString(", ")}")
    // time travel across a checkpoint boundary: ckpt10 + commits 11..15
    assert(CommitLog.read(spark, t, schema, asOf = 15L).count() == 15)
    // the load-bearing property: replay does NOT need the commits a
    // checkpoint subsumes — delete every commit file <= v20 and the
    // current read must be unchanged (ckpt20 + commits 21..25)
    fs.listStatus(log).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".commit") && n.stripSuffix(".commit").toLong <= 20)
        fs.delete(st.getPath, false)
    }
    val ids = CommitLog.read(spark, t, schema).as[Long].collect().sorted
    assert(ids.sameElements(0L until 25L),
      s"replay depended on checkpointed commits: ${ids.length} rows")
    // a time-travel read whose commits were pruned must THROW, not
    // silently answer with the older checkpoint's snapshot
    intercept[IllegalStateException] {
      CommitLog.liveFiles(spark, t, asOf = 15L)
    }
    // and new commits must number PAST the checkpoint base even though
    // the pre-checkpoint commit files are gone — a commits-only version
    // counter would restart at 1 and make every new append invisible
    val v = append(spark.range(1000, 1001).repartition(1).toDF("id"), t)
    assert(v == 26L, s"post-prune append won version $v, expected 26")
    assert(CommitLog.read(spark, t, schema).count() == 26)
  }

  test("time travel: asOf reads reproduce each committed snapshot until vacuumed") {
    val t = freshTable()
    append(spark.range(0, 100).toDF("id"), t)                            // v1
    append(spark.range(100, 150).toDF("id"), t)                          // v2
    CommitLog.compact(spark, t, targetBytes = 1L << 30, publisher = publisher) // v3
    assert(CommitLog.read(spark, t, schema, asOf = 1L).count() == 100)
    assert(CommitLog.read(spark, t, schema, asOf = 2L).count() == 150)
    assert(CommitLog.read(spark, t, schema).count() == 150)
    // vacuum reclaims the pre-compaction files — old snapshots are gone
    // (the standard retention trade), the current one is untouched
    CommitLog.vacuum(spark, t, minAgeMs = 0)
    assert(CommitLog.read(spark, t, schema).count() == 150)
    intercept[Exception] { CommitLog.read(spark, t, schema, asOf = 1L).count() }
  }

  test("two rewrites of the same live set: the second fails loudly, never doubles the table") {
    val t = freshTable()
    append(spark.range(0, 100).toDF("id"), t)
    val (_, oldFiles) = CommitLog.liveFiles(spark, t)
    // both "compactors" read the same live set; the first rewrite wins
    CommitLog.compact(spark, t, targetBytes = 1L << 30, publisher = publisher)
    // the second tries to commit a rewrite whose inputs are gone — a
    // blind retry here would ADD its rewrite on top of the winner's,
    // doubling every row
    intercept[java.util.ConcurrentModificationException] {
      commit(t, adds = Seq("stale-rewrite.parquet"), removes = oldFiles)
    }
    assert(CommitLog.read(spark, t, schema).count() == 100,
      "the conflicting rewrite changed the table")
  }

  test("an append committing in the middle of a compaction is never lost") {
    val t = freshTable()
    (0 until 3).foreach(i =>
      append(spark.range(i * 10, (i + 1) * 10).toDF("id"), t))
    // replay compact's protocol by hand so an append can interleave at
    // the worst point — between the rewrite's read and its commit
    // (with the unlogged layout this exact window was the lost-update
    // the advisory lock file existed to prevent)
    val (_, oldFiles) = CommitLog.liveFiles(spark, t)
    val staging = t + "/_staging_test"
    spark.read.parquet(oldFiles.map(f => s"$t/$f"): _*)
      .repartition(1).write.parquet(staging)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    fs.rename(part, new org.apache.hadoop.fs.Path(t, "compacted-0.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    // the interleaved append wins the next version FIRST
    append(spark.range(1000, 1010).toDF("id"), t)
    // the compaction commits after — removing only ITS input files
    commit(t, adds = Seq("compacted-0.parquet"), removes = oldFiles)
    val ids = CommitLog.read(spark, t, schema).as[Long].collect().sorted
    assert(ids.sameElements((0L until 30L) ++ (1000L until 1010L)),
      s"append lost across compaction: ${ids.length} rows")
  }

  test("stress: racing appenders + a compactor across 100+ versions stay exactly serialized") {
    // Log-level race (synthetic file names, no Spark jobs per commit,
    // so the loop reaches 120+ versions fast): 4 appender threads × 30
    // commits each race a compactor rewriting the whole live set in a
    // loop. Checkpoint publication (every 10 versions) happens MID-RACE
    // ~12 times, so replay-from-checkpoint is exercised under
    // contention, not just in the quiet suites above.
    val t = freshTable()
    val nThreads = 4
    val perThread = 30
    val wonAppends = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val wonRewrites = new java.util.concurrent.ConcurrentHashMap[Long, (String, Set[String])]()
    val conflicts = new java.util.concurrent.atomic.AtomicInteger
    val errors = new java.util.concurrent.CopyOnWriteArrayList[Throwable]()
    val appenders = (0 until nThreads).map { i =>
      new Thread(() => {
        try {
          for (j <- 0 until perThread) {
            val f = s"f_${i}_$j.parquet"
            val v = commit(t, adds = Seq(f))
            wonAppends.put(v, f); ()
          }
        } catch { case e: Throwable => errors.add(e); () }
      })
    }
    val compactor = new Thread(() => {
      var i = 0
      while (appenders.exists(_.isAlive)) {
        try {
          val live = CommitLog.liveFiles(spark, t)._2
          if (live.nonEmpty) {
            val out = s"rw_$i.parquet"
            val v = commit(t, adds = Seq(out), removes = live)
            wonRewrites.put(v, (out, live.toSet)); ()
          }
          i += 1
        } catch {
          // a concurrent rewrite/append invalidated the inputs — the
          // REQUIRED loud failure; anything else is a real bug
          case _: java.util.ConcurrentModificationException =>
            conflicts.incrementAndGet(); ()
          case e: Throwable => errors.add(e); ()
        }
        Thread.sleep(2)
      }
    })
    appenders.foreach(_.start()); compactor.start()
    appenders.foreach(_.join()); compactor.join()

    assert(errors.isEmpty,
      s"non-conflict failures under race: ${errors.toArray.mkString("; ")}")
    assert(wonAppends.size == nThreads * perThread,
      s"lost appends: ${wonAppends.size} of ${nThreads * perThread}")

    // versions are gap-free and uniquely owned: every version from 1
    // to max was won by exactly one commit
    import scala.jdk.CollectionConverters._
    val versions = (wonAppends.keySet.asScala ++ wonRewrites.keySet.asScala).toSeq
    val vMax = versions.max
    assert(vMax >= 100L, s"stress run too short to exercise checkpoints: $vMax")
    assert(versions.size == versions.distinct.size, "two commits share a version")
    assert(versions.sorted == (1L to vMax),
      s"version sequence has gaps: ${versions.sorted.take(20)}…")

    // ground truth by replaying the win history in version order
    def replayTo(v: Long): Set[String] =
      (1L to v).foldLeft(Set.empty[String]) { (live, ver) =>
        wonRewrites.asScala.get(ver) match {
          case Some((out, removed)) => live -- removed + out
          case None => live + wonAppends.get(ver)
        }
      }
    val (vFinal, liveFinal) = CommitLog.liveFiles(spark, t)
    assert(vFinal == vMax)
    assert(liveFinal.toSet == replayTo(vMax),
      s"final live set diverged from the serialized history")
    // historical reads stay exact across checkpoint boundaries
    for (v <- Seq(1L, 7L, 10L, 35L, 50L, vMax / 2, vMax - 1)) {
      assert(CommitLog.liveFiles(spark, t, asOf = v)._2.toSet == replayTo(v),
        s"asOf($v) diverged from the serialized history")
    }
    // checkpoints were written mid-race
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nCkpt = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_graft_log"))
      .count(_.getPath.getName.endsWith(".checkpoint"))
    assert(nCkpt >= vMax / CommitLog.CheckpointInterval / 2,
      s"too few checkpoints landed under race: $nCkpt for $vMax versions")
    // every rewrite the compactor BELIEVES it won is consistent with
    // what the log serialized (no silently-dropped remove)
    wonRewrites.asScala.foreach { case (v, (_, removed)) =>
      assert(removed.subsetOf(replayTo(v - 1)),
        s"rewrite at v$v removed files that were not live at v${v - 1}")
    }
  }
}

/** HDFS/local semantics: exclusive rename / hard link. */
class LoggedStoreSpec extends LoggedStoreBehavior(RenameOrLinkPublisher)

/** S3-class semantics: conditional PUT over the local emulation — no
  * atomic rename exists; the server-side create-if-absent is the only
  * atomicity primitive, and the whole ACID suite must hold on it. */
class LoggedStoreS3Spec extends LoggedStoreBehavior(
  new ConditionalPutPublisher(new LocalConditionalPutStore))
