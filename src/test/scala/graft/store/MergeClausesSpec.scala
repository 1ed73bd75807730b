package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The MERGE clause grammar (MergeClauses) + the footer-stats file
  * pruning the match probe rides (CommitLog.pruneByFooterStats) + the
  * single-evaluation contract of the merge source. Publisher-
  * parameterized like LoggedStoreSpec: the clause semantics must hold
  * identically under rename/link and conditional-PUT publication. */
abstract class MergeClausesBehavior(publisher: AtomicPublisher) extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_mergecl").toString + "/t"

  private val schema = Seq((0L, "c", "v", 0L)).toDF("id", "cat", "v", "w").schema

  private def baseRows(lo: Long, hi: Long) =
    (lo until hi).map(i => (i, s"c${i % 5}", "old", i * 2))

  test("clause grammar: partial update, conditional delete, insert, by-source delete") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 50).toDF("id", "cat", "v", "w"), t, publisher)
    CommitLog.append(baseRows(50, 100).toDF("id", "cat", "v", "w"), t, publisher)
    CommitLog.append(baseRows(300, 350).toDF("id", "cat", "v", "w"), t, publisher)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    // source: 40..44 flagged for delete, 45..59 updates, 200..204 new;
    // src.w = -1 everywhere — the update clause lists ONLY v, so w must
    // keep its target value on updated rows
    val source = ((40L until 60L).map(i =>
      (i, "src", if (i < 45) "drop" else "upd", -1L)) ++
      (200L until 205L).map(i => (i, "src", "new", -1L)))
      .toDF("id", "cat", "v", "w")
    val v = MergeClauses.into(spark, t, schema, source, Seq("id"))
      .whenMatchedDelete(Some(col(s"${MergeClauses.SrcPrefix}v") === "drop"))
      .whenMatchedUpdate(Seq("v"))
      .whenNotMatchedInsert()
      .whenNotMatchedBySourceDelete(Some(col("id") >= 90 && col("id") < 100))
      .withPublisher(publisher).execute()
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String, Long)].collect()
      .map { case (id, cat, vv, w) => id -> ((cat, vv, w)) }.toMap
    assert(rows.size == 150 - 5 - 10 + 5) // base - matched dels - bySource + inserts
    assert((40L until 45L).forall(!rows.contains(_)), "matched-delete rows survived")
    assert((90L until 100L).forall(!rows.contains(_)), "by-source-delete rows survived")
    assert((45L until 60L).forall(i => rows(i) == ((s"c${i % 5}", "upd", i * 2))),
      "update must write ONLY the listed column and keep cat/w from the target")
    assert((200L until 205L).forall(i => rows(i) == (("src", "new", -1L))),
      "unmatched source rows not inserted")
    assert((0L until 40L).forall(i => rows(i) == ((s"c${i % 5}", "old", i * 2))))
    assert((300L until 350L).forall(i => rows(i) == ((s"c${i % 5}", "old", i * 2))),
      "by-source delete leaked outside its condition")
    // the 300..349 file holds no matched and no qualifying row — but a
    // by-source clause must still SCAN it, and having found nothing to
    // change there, must not rewrite it
    assert(CommitLog.history(spark, t)
      .filter(col("version") === v && col("operation") === "merge").count() == 1)
    // CDC: 5 matched-delete + 10 by-source + 15 update pre-images = 30
    // deletes; 15 update post-images + 5 inserts = 20 inserts
    val feed = CommitLog.changesSince(spark, t, v - 1, schema)
    assert(feed.filter(col("_change_type") === "delete").count() == 30)
    assert(feed.filter(col("_change_type") === "insert").count() == 20)
    // update = delete pre-image + insert post-image for the same key
    val upd = feed.filter(col("id") === 50L)
      .select("_change_type", "v").as[(String, String)].collect().toSet
    assert(upd == Set(("delete", "old"), ("insert", "upd")))
    // time travel still reads the pre-merge snapshot
    assert(CommitLog.read(spark, t, schema, asOf = v - 1).count() == 150)
    assert(before.nonEmpty && CommitLog.liveFiles(spark, t)._2.nonEmpty)
  }

  test("matched clauses fire in builder order — first match wins") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 10).toDF("id", "cat", "v", "w"), t, publisher)
    val source = (0L until 10L).map(i => (i, "src", "upd", -1L))
      .toDF("id", "cat", "v", "w")
    // delete-first: every matched row satisfies both clauses; delete wins
    MergeClauses.into(spark, t, schema, source, Seq("id"))
      .whenMatchedDelete()
      .whenMatchedUpdate(Seq("v"))
      .withPublisher(publisher).execute()
    assert(CommitLog.read(spark, t, schema).count() == 0,
      "delete listed first must claim every matched row")
    // update-first on a fresh table: update wins, nothing deleted
    val t2 = freshTable()
    CommitLog.append(baseRows(0, 10).toDF("id", "cat", "v", "w"), t2, publisher)
    MergeClauses.into(spark, t2, schema, source, Seq("id"))
      .whenMatchedUpdate(Seq("v"))
      .whenMatchedDelete()
      .withPublisher(publisher).execute()
    val rows = CommitLog.read(spark, t2, schema).as[(Long, String, String, Long)].collect()
    assert(rows.length == 10 && rows.forall(_._3 == "upd"),
      "update listed first must claim every matched row")
    // a CONDITIONAL first clause falls through to the second
    val t3 = freshTable()
    CommitLog.append(baseRows(0, 10).toDF("id", "cat", "v", "w"), t3, publisher)
    MergeClauses.into(spark, t3, schema, source, Seq("id"))
      .whenMatchedDelete(Some(col("id") < 3))
      .whenMatchedUpdate(Seq("v"), Some(col("id") < 6))
      .withPublisher(publisher).execute()
    val m3 = CommitLog.read(spark, t3, schema)
      .as[(Long, String, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(m3.size == 7 && (0L until 3L).forall(!m3.contains(_)))
    assert((3L until 6L).forall(m3(_) == "upd"))
    assert((6L until 10L).forall(m3(_) == "old"),
      "a matched row no clause claims must stay untouched")
  }

  test("insert-only merge appends without rewriting any live file") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 50).toDF("id", "cat", "v", "w"), t, publisher)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    // source overlaps the table, but with no matched clause the overlap
    // must be IGNORED (not replaced) and only unmatched rows inserted
    val source = (40L until 60L).map(i => (i, "src", "new", -1L))
      .toDF("id", "cat", "v", "w")
    MergeClauses.into(spark, t, schema, source, Seq("id"))
      .whenNotMatchedInsert()
      .withPublisher(publisher).execute()
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert(before.subsetOf(after), "insert-only merge rewrote live files")
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(rows.size == 60)
    assert((40L until 50L).forall(rows(_) == "old"), "matched rows were replaced")
    assert((50L until 60L).forall(rows(_) == "new"))
  }

  test("guards: key update, duplicate source, clauseless merge, proven no-op") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 10).toDF("id", "cat", "v", "w"), t, publisher)
    val v0 = CommitLog.liveFiles(spark, t)._1
    intercept[IllegalArgumentException] {
      MergeClauses.into(spark, t, schema,
        baseRows(0, 1).toDF("id", "cat", "v", "w"), Seq("id"))
        .whenMatchedUpdate(Seq("id"))
    }
    intercept[IllegalArgumentException] {
      MergeClauses.into(spark, t, schema,
        Seq((1L, "a", "x", 0L), (1L, "b", "y", 1L)).toDF("id", "cat", "v", "w"),
        Seq("id"))
        .whenMatchedUpdate(Seq("v")).withPublisher(publisher).execute()
    }
    intercept[IllegalArgumentException] {
      MergeClauses.into(spark, t, schema,
        baseRows(0, 1).toDF("id", "cat", "v", "w"), Seq("id"))
        .withPublisher(publisher).execute()
    }
    // nothing matches, no insert clause: no new version, table unchanged
    val v1 = MergeClauses.into(spark, t, schema,
      (500L until 510L).map(i => (i, "s", "x", 0L)).toDF("id", "cat", "v", "w"),
      Seq("id"))
      .whenMatchedUpdate(Seq("v")).withPublisher(publisher).execute()
    assert(v1 == v0, "a proven no-op merge must not commit")
    assert(CommitLog.read(spark, t, schema).count() == 10)
  }

  test("the merge source is evaluated exactly once (both merge and clause surface)") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 100).toDF("id", "cat", "v", "w"), t, publisher)
    val acc = spark.sparkContext.longAccumulator("src-evals")
    val source = spark.range(50, 60).as[Long]
      .map { i => acc.add(1); (i, "src", "upd", -1L) }
      .toDF("id", "cat", "v", "w")
    CommitLog.merge(spark, t, schema, source, Seq("id"), publisher)
    assert(acc.value == 10L,
      s"merge evaluated its source ${acc.value / 10.0}× — the localCheckpoint contract broke")
    val acc2 = spark.sparkContext.longAccumulator("src-evals-2")
    val source2 = spark.range(60, 70).as[Long]
      .map { i => acc2.add(1); (i, "src", "upd2", -1L) }
      .toDF("id", "cat", "v", "w")
    MergeClauses.into(spark, t, schema, source2, Seq("id"))
      .whenMatchedUpdate(Seq("v")).whenNotMatchedInsert()
      .withPublisher(publisher).execute()
    assert(acc2.value == 10L,
      s"clause merge evaluated its source ${acc2.value / 10.0}×")
  }
  test("nondeterministic clause conditions are refused in every namespace") {
    val t = freshTable()
    CommitLog.append(baseRows(0, 10).toDF("id", "cat", "v", "w"), t, publisher)
    val source = Seq((1L, "src", "upd", -1L)).toDF("id", "cat", "v", "w")
    // each clause's condition evaluates for the rewrite AND both CDC
    // image filters — rand() would publish a feed disagreeing with the
    // table, so the fence refuses up front, per namespace
    def refused(build: MergeClauses => MergeClauses): Unit = {
      val ex = intercept[IllegalArgumentException] {
        build(MergeClauses.into(spark, t, schema, source, Seq("id")))
          .withPublisher(publisher).execute()
      }
      assert(ex.getMessage.contains("deterministic"), ex.getMessage)
    }
    refused(_.whenMatchedDelete(Some(rand() < 0.5)))
    refused(_.whenMatchedUpdate(Seq("v"), Some(rand() < 0.5)))
    refused(_.whenMatchedUpdate(Seq("v")).whenNotMatchedInsert(Some(rand() < 0.5)))
    refused(_.whenMatchedUpdate(Seq("v"))
      .whenNotMatchedBySourceDelete(Some(rand() < 0.5)))
    assert(CommitLog.read(spark, t, schema).count() == 10,
      "a refused merge must not change the table")
  }
}

/** HDFS/local semantics. */
class MergeClausesSpec extends MergeClausesBehavior(RenameOrLinkPublisher)

/** S3-class conditional-PUT semantics. */
class MergeClausesS3Spec extends MergeClausesBehavior(
  new ConditionalPutPublisher(new LocalConditionalPutStore))

/** Footer-stats file pruning for the keyed match probe: range overlap
  * on clustered layouts, bloom probing for small point-lookup key
  * sets, and keep-on-uncertainty safety. Not publisher-parameterized —
  * pruning is a read-side concern. */
class MergePruneSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_mergeprune").toString + "/t"

  private val schema = Seq((0L, "v")).toDF("id", "v").schema

  test("range-clustered table: a ranged merge probes only the files its keys land in") {
    val t = freshTable()
    // three range-disjoint files — the shape compact(clusterBy) maintains
    Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)).foreach { case (lo, hi) =>
      CommitLog.append(
        (lo until hi).map(i => (i, "old")).toDF("id", "v").coalesce(1), t)
    }
    val live = CommitLog.liveFiles(spark, t)._2
    assert(live.size == 3)
    val src = (1100L until 1150L).map(i => (i, "upd")).toDF("id", "v")
    val candidates = CommitLog.pruneByFooterStats(
      spark, t, live, Seq("id"), src.select("id"), Map.empty)
    assert(candidates.size == 1,
      s"expected 1 candidate file from footer min/max, got ${candidates.size}")
    // the merge result is IDENTICAL to unpruned semantics, and the two
    // out-of-range files keep their identity
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    CommitLog.merge(spark, t, schema, src, Seq("id"))
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert((before intersect after).size == 2,
      "a pruned merge must leave out-of-range files untouched")
    val rows = CommitLog.read(spark, t, schema).as[(Long, String)].collect().toMap
    assert(rows.size == 3000)
    assert((1100L until 1150L).forall(rows(_) == "upd"))
    assert(rows(0L) == "old" && rows(2999L) == "old" && rows(1099L) == "old")
  }

  test("bloom filters prune point lookups where min/max cannot") {
    val t = freshTable()
    val ndv = Map("id" -> 1000L)
    val bloomOpts = ndv.flatMap { case (c, n) =>
      Seq(s"parquet.bloom.filter.enabled#$c" -> "true",
        s"parquet.bloom.filter.expected.ndv#$c" -> n.toString)
    }
    // evens and odds: [min,max] of both files straddles every probe, so
    // range overlap keeps both — only the bloom can rule the odd file out
    CommitLog.append((0L until 2000L by 2).map(i => (i, "even")).toDF("id", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    CommitLog.append((1L until 2000L by 2).map(i => (i, "odd")).toDF("id", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    val live = CommitLog.liveFiles(spark, t)._2
    assert(live.size == 2)
    assert(Bloom.bloomColumns(spark, t).size == 2, "bloom filters missing from appends")
    val src = Seq((500L, "upd")).toDF("id", "v")
    val candidates = CommitLog.pruneByFooterStats(
      spark, t, live, Seq("id"), src.select("id"), Map.empty)
    assert(candidates.size == 1,
      s"bloom probe should exclude the odd-only file, got ${candidates.size} candidates")
    // and the surviving candidate really is the even file (never a
    // false negative — 500 is present there)
    val rows = spark.read.parquet(s"$t/${candidates.head}")
      .filter(col("id") === 500L).count()
    assert(rows == 1L, "pruning kept the wrong file")
  }

  test("add lines carry column stats; stats survive checkpoints and log pruning") {
    val t = freshTable()
    // cross a checkpoint boundary (interval 10) so stats must ride the
    // snapshot, then prune the commits they were born in
    (0 until 12).foreach { i =>
      CommitLog.append(
        (i * 100L until (i + 1) * 100L).map(j => (j, "x")).toDF("id", "v")
          .coalesce(1), t)
    }
    CommitLog.pruneLog(spark, t)
    val withStats = CommitLog.liveFilesWithStats(spark, t)._2
    assert(withStats.nonEmpty && withStats.forall(_._2.isDefined),
      s"live files lost their log-carried stats after prune: $withStats")
    // the stats parse back to the id range each file actually holds
    val first = withStats.map { case (n, s) =>
      CommitLog.parseStatsJson(s.get)("id") }.minBy(_._1.toString.toLong)
    assert(first == ((0L, 99L)), s"parsed stats: $first")
  }

  test("the probe decides from log stats alone — corrupt file bytes are never read") {
    val t = freshTable()
    Seq((0L, 1000L), (1000L, 2000L), (2000L, 3000L)).foreach { case (lo, hi) =>
      CommitLog.append(
        (lo until hi).map(i => (i, "old")).toDF("id", "v").coalesce(1), t)
    }
    val (_, withStats) = CommitLog.liveFilesWithStats(spark, t)
    assert(withStats.forall(_._2.isDefined))
    val live = withStats.map(_._1)
    // DESTROY the two out-of-range files' bytes: a footer-based prune
    // would now KEEP them (unreadable ⇒ keep-on-uncertainty); the
    // log-stats path must still rule them out without a read
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = (1100L until 1150L).map(i => (i, "upd")).toDF("id", "v")
    val inRange = CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      src.select("id"), Map.empty,
      logStats = withStats.collect { case (n, Some(s)) => n -> s }.toMap)
    assert(inRange.size == 1)
    live.filterNot(inRange.contains).foreach { n =>
      fs.create(new org.apache.hadoop.fs.Path(t, n), true).close() // truncate to 0
    }
    val again = CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      src.select("id"), Map.empty,
      logStats = withStats.collect { case (n, Some(s)) => n -> s }.toMap)
    assert(again == inRange,
      "pruning consulted file bytes despite complete log stats")
    // WITHOUT log stats the same call keeps the unreadable files —
    // proving the fast path above really was footer-free
    val fallback = CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      src.select("id"), Map.empty)
    assert(fallback.size == 3, s"expected keep-on-unreadable, got $fallback")
  }

  test("compaction carries bloom filters through the rewrite") {
    val t = freshTable()
    val bloomOpts = Map(
      "parquet.bloom.filter.enabled#id" -> "true",
      "parquet.bloom.filter.expected.ndv#id" -> "1000")
    CommitLog.append((0L until 1000L).map(i => (i, "x")).toDF("id", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    CommitLog.append((1000L until 2000L).map(i => (i, "x")).toDF("id", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    CommitLog.compact(spark, t, targetBytes = Long.MaxValue,
      clusterBy = Some("id"), writeOptions = bloomOpts)
    val live = CommitLog.liveFiles(spark, t)._2
    val withBloom = Bloom.bloomColumns(spark, t)
      .collect { case (f, "id") if live.contains(f) => f }.toSet
    assert(live.toSet == withBloom,
      s"compaction dropped bloom filters: live=$live bloomed=$withBloom")
  }

  test("uncertainty keeps files: no stats column, empty source, multi-column keys") {
    val t = freshTable()
    CommitLog.append((0L until 100L).map(i => (i, "x")).toDF("id", "v").coalesce(1), t)
    val live = CommitLog.liveFiles(spark, t)._2
    // empty source: no envelope evidence — keep everything
    assert(CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      Seq.empty[(Long, String)].toDF("id", "v").select("id"), Map.empty) == live)
    // multi-column key where each column's range overlaps: kept
    val t2 = freshTable()
    CommitLog.append((0L until 100L).map(i => (i, i % 7, "x")).toDF("a", "b", "v")
      .coalesce(1), t2)
    val live2 = CommitLog.liveFiles(spark, t2)._2
    val src2 = Seq((50L, 3L)).toDF("a", "b")
    assert(CommitLog.pruneByFooterStats(spark, t2, live2, Seq("a", "b"), src2, Map.empty) == live2)
    // disjoint on one column of a multi-column key: skipped
    val src3 = Seq((5000L, 3L)).toDF("a", "b")
    assert(CommitLog.pruneByFooterStats(spark, t2, live2, Seq("a", "b"), src3, Map.empty).isEmpty)
  }

  test("compound-key bloom: per-column probes intersect and beat range pruning alone") {
    val t = freshTable()
    val bloomOpts = Map(
      "parquet.bloom.filter.enabled#a" -> "true",
      "parquet.bloom.filter.expected.ndv#a" -> "1000",
      "parquet.bloom.filter.enabled#b" -> "true",
      "parquet.bloom.filter.expected.ndv#b" -> "1000")
    // both files straddle the full [0, 2000) range on BOTH key columns
    // (range pruning keeps both); they are disjoint only in b's VALUE
    // set (evens vs odds) — only a bloom probe on b can tell them apart
    CommitLog.append((0L until 2000L by 2).map(i => (i, i, "even")).toDF("a", "b", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    CommitLog.append((1L until 2000L by 2).map(i => (i, i, "odd")).toDF("a", "b", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    val live = CommitLog.liveFiles(spark, t)._2
    assert(live.size == 2)
    // range-only baseline: a no-bloom table with the same shape keeps
    // both files for the same probe
    val t2 = freshTable()
    CommitLog.append((0L until 2000L by 2).map(i => (i, i, "even")).toDF("a", "b", "v")
      .coalesce(1), t2)
    CommitLog.append((1L until 2000L by 2).map(i => (i, i, "odd")).toDF("a", "b", "v")
      .coalesce(1), t2)
    val src = Seq((500L, 500L)).toDF("a", "b")
    assert(CommitLog.pruneByFooterStats(spark, t2,
      CommitLog.liveFiles(spark, t2)._2, Seq("a", "b"), src, Map.empty).size == 2,
      "range pruning alone cannot separate value-disjoint straddling files")
    // compound-key bloom probe: strictly fewer files than range alone
    val candidates = CommitLog.pruneByFooterStats(spark, t, live, Seq("a", "b"), src, Map.empty)
    assert(candidates.size == 1,
      s"compound-key bloom should exclude the odd-only file, got ${candidates.size}")
    assert(spark.read.parquet(s"$t/${candidates.head}")
      .filter(col("a") === 500L && col("b") === 500L).count() == 1L,
      "pruning kept the wrong file")
    // a merge on the compound key stays correct with the probe active
    val schema3 = Seq((0L, 0L, "x")).toDF("a", "b", "v").schema
    CommitLog.merge(spark, t, schema3,
      Seq((500L, 500L, "upd"), (2001L, 2001L, "new")).toDF("a", "b", "v"),
      Seq("a", "b"))
    val rows = CommitLog.read(spark, t, schema3)
      .filter(col("a").isin(500L, 2001L))
      .as[(Long, Long, String)].collect().toSet
    assert(rows == Set((500L, 500L, "upd"), (2001L, 2001L, "new")))
  }

  test("bloom probe hashes in the file's PHYSICAL type: widened Long keys vs INT32 files") {
    val t = freshTable()
    val bloomOpts = Map(
      "parquet.bloom.filter.enabled#id" -> "true",
      "parquet.bloom.filter.expected.ndv#id" -> "1000")
    // narrow generation: id lands as INT32 with a bloom filter built
    // from hash(int) entries
    CommitLog.append((0 until 100).map(i => (i, "old")).toDF("id", "v")
      .coalesce(1), t, writeOptions = bloomOpts)
    assert(Bloom.bloomColumns(spark, t).map(_._2) == Seq("id"),
      "fixture must carry a bloom filter on id")
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    // probe with LONG keys under the widened schema: hashing the Long
    // directly against int-hashed filter entries answers "absent" for
    // every present key and wrongly prunes the file — the merge would
    // then INSERT a duplicate instead of updating
    val live = CommitLog.liveFiles(spark, t)._2
    val kept = CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      Seq((50L, "upd")).toDF("id", "v").select("id"), Map.empty)
    assert(kept == live, "widened-key bloom probe pruned the matching INT32 file")
    CommitLog.merge(spark, t, widened,
      Seq((50L, "upd")).toDF("id", "v"), Seq("id"))
    val after = CommitLog.read(spark, t, widened)
      .groupBy("id").count().filter(col("count") > 1).count()
    assert(after == 0, "merge inserted a duplicate key instead of updating")
    assert(CommitLog.read(spark, t, widened).filter(col("id") === 50L)
      .select("v").as[String].collect().toSeq == Seq("upd"))
    // a widened key OUTSIDE the int range still prunes: an INT32 column
    // provably cannot hold it (range stats already say so; the bloom
    // path must agree, not throw)
    assert(CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      Seq((Int.MaxValue.toLong + 10L, "x")).toDF("id", "v").select("id"), Map.empty).isEmpty)
  }

  test("string stats compare as UNSIGNED UTF-8 bytes — supplementary-plane keys never skip a match") {
    val t = freshTable()
    // U+1F600 (😀) is ABOVE U+F8FF in UTF-8 unsigned byte order
    // (F0 9F 98 80 > EF A3 BF) but BELOW it in UTF-16 code-unit order
    // (surrogate D83D < F8FF) — a compareTo-based range check concludes
    // src.max < file.min and wrongly skips the file that holds the key
    val smiley = new String(Character.toChars(0x1F600))
    val privateUse = "\uF8FF"
    CommitLog.append(Seq((privateUse, "old"), (smiley, "old"))
      .toDF("id", "v").coalesce(1), t)
    val live = CommitLog.liveFiles(spark, t)._2
    val kept = CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      Seq(smiley).toDF("id"), Map.empty)
    assert(kept == live,
      "UTF-16 ordering skipped the file containing the supplementary-plane key")
    val schema2 = Seq(("a", "b")).toDF("id", "v").schema
    CommitLog.merge(spark, t, schema2,
      Seq((smiley, "upd")).toDF("id", "v"), Seq("id"))
    val rows = CommitLog.read(spark, t, schema2)
      .as[(String, String)].collect().toMap
    assert(rows == Map(privateUse -> "old", smiley -> "upd"),
      s"merge over non-BMP keys lost or duplicated rows: $rows")
    // and a genuinely-absent key still prunes the file (the unsigned
    // comparison keeps real skipping power, it does not blanket-keep)
    assert(CommitLog.pruneByFooterStats(spark, t, live, Seq("id"),
      Seq("A").toDF("id"), Map.empty).isEmpty)
  }
}
