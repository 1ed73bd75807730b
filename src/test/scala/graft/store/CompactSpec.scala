package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Small-file compaction of logged store tables — what `Cli compact`
  * runs (CommitLog.compact): content must survive byte-for-byte, the
  * live file count must actually shrink, and the op must be safe to
  * re-run and to point at a missing table. The layout cases call
  * CommitLog.compact with byte targets (the CLI takes whole MB, and
  * these tables are a few KB). */
class CompactSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): Store =
    Store(Files.createTempDirectory("graft_compact").toString)

  private def append(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    CommitLog.append(df, path); ()
  }

  /** The table's live data files (what a reader scans). */
  private def dataFiles(path: String): Seq[String] =
    CommitLog.liveFiles(spark, path)._2.map(n => s"$path/$n")

  private def totalBytes(path: String): Long = Store.census(spark, path)._2

  private def rows(path: String, ddl: String): org.apache.spark.sql.DataFrame =
    CommitLog.read(spark, path, org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** `Cli compact`'s before/after census. */
  private def compactCli(args: String*): ((Int, Long), (Int, Long)) = {
    val out = graft.Cli.run(spark, ("compact" +: args).toArray)
    def n(k: String) = s""""$k":(\\d+)""".r.findFirstMatchIn(out).get.group(1).toLong
    ((n("files_before").toInt, n("bytes_before")), (n("files_after").toInt, n("bytes_after")))
  }

  test("compact shrinks the file count and preserves every row") {
    val store = freshStore()
    val path = s"${store.root}/metadata"
    // 5 appends of 4 partitions each — the micro-batch small-file shape
    (0 until 5).foreach { i =>
      append(
        spark.range(i * 100, (i + 1) * 100).repartition(4)
          .select(col("id"), (col("id") * 2).as("v")),
        path)
    }
    val before = dataFiles(path)
    assert(before.length >= 20, s"fixture should be fragmented, got ${before.length} files")
    val expected = rows(path, "id bigint, v bigint").as[(Long, Long)].collect().sorted

    val ((fb, bb), (fa, ba)) = compactCli("metadata", store.root, "1024")
    assert(fb == before.length && fa == 1, s"expected 1 output file, got $fa of $fb")
    assert(bb > 0 && ba > 0)
    assert(dataFiles(path).length == 1)
    assert(rows(path, "id bigint, v bigint").as[(Long, Long)].collect().sorted
      .sameElements(expected), "compaction changed the table contents")
  }

  test("compact splits to ceil(bytes/target) evenly-sized files") {
    val store = freshStore()
    val path = s"${store.root}/metadata"
    append(spark.range(0, 5000).repartition(10).toDF("id"), path)
    val total = totalBytes(path)
    val target = total / 3 + 1 // → ceil < 4 output files, > 1
    CommitLog.compact(spark, path, target)
    val fa = dataFiles(path).length
    val nOut = ((total + target - 1) / target).toInt
    assert(fa == nOut, s"expected $nOut files, got $fa")
    assert(rows(path, "id bigint").count() == 5000)
  }

  test("compact of a missing table is a no-op; rerun is idempotent; lock is released") {
    val store = freshStore()
    assert(compactCli("metadata", store.root) == ((0, 0L), (0, 0L)))
    val path = s"${store.root}/metadata"
    append(spark.range(0, 10).toDF("id"), path)
    val r1 = compactCli("metadata", store.root)
    val r2 = compactCli("metadata", store.root)
    assert(r2._1._1 == 1 && r2._2._1 == 1, s"rerun not idempotent: $r2")
    assert(r1._2._2 == r2._2._2, "byte size drifted across reruns")
    // no lock file: the log fences concurrent writers
    val lock = new org.apache.hadoop.fs.Path(s"${store.root}/.lock_metadata")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(lock), "compaction leaked a table lock")
  }

  test("clusterBy compaction yields disjoint per-file value ranges") {
    val store = freshStore()
    val path = s"${store.root}/metadata"
    // shuffled ids across many appends — every file initially spans the
    // whole id domain, so nothing is file-skippable before compaction
    (0 until 4).foreach { i =>
      append(
        spark.range(0, 2000).filter(col("id") % 4 === i).repartition(3).toDF("id"),
        path)
    }
    CommitLog.compact(spark, path, totalBytes(path) / 3 + 1, clusterBy = Some("id"))
    val files = dataFiles(path)
    assert(files.length > 1, "need several files to prove disjointness")
    // each output file must cover a range disjoint from every other —
    // that is what lets parquet min/max footer stats skip whole files
    val ranges = files.map { f =>
      spark.read.parquet(f).agg(min("id"), max("id")).as[(Long, Long)].head()
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file ranges overlap: ${ranges.mkString(", ")}")
      case _ =>
    }
    assert(rows(path, "id bigint").as[Long].collect().sorted.sameElements(0L until 2000L),
      "cluster compaction changed the table contents")
  }

  test("z-order compaction bounds per-file ranges on BOTH columns") {
    val store = freshStore()
    val path = s"${store.root}/metadata"
    // a 64×64 grid in row-major id order: single-column clustering on
    // `a` would leave every file spanning the FULL b domain
    append(
      spark.range(0, 64 * 64).select(
        (col("id") % 64).as("a"), expr("id div 64").as("b")).repartition(8),
      path)
    CommitLog.compact(spark, path, totalBytes(path) / 4 + 1, clusterBy = Some("a,b"))
    val files = dataFiles(path)
    assert(files.length >= 4, s"need several files, got ${files.length}")
    // the property single-column clustering CANNOT give: min/max
    // footers prune files for predicates on EITHER column. Clustering
    // on `a` alone leaves every file spanning the full b domain, so a
    // b-filter skips nothing; z-order must leave some file entirely
    // outside a low-a window AND some file entirely outside a low-b
    // window. (Exact per-file rectangles depend on where the sampled
    // range partitioner cuts the curve, so this asserts prunability,
    // not cut positions.)
    val ranges = files.map { f =>
      spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b"))
        .as[(Long, Long, Long, Long)].head()
    }
    assert(ranges.exists(_._1 > 15),
      s"no file skippable for a <= 15: ${ranges.mkString(", ")}")
    assert(ranges.exists(_._3 > 15),
      s"no file skippable for b <= 15: ${ranges.mkString(", ")}")
    assert(rows(path, "a bigint, b bigint").count() == 64 * 64,
      "z-order compaction changed the table contents")
  }

  test("3-column z-order bounds per-file ranges on EVERY clustered column") {
    val store = freshStore()
    val path = s"${store.root}/metadata"
    // a 16×16×16 cube in row-major id order: clustering on any prefix
    // of the columns leaves files spanning the remaining dimensions
    append(
      spark.range(0, 16 * 16 * 16).select(
        (col("id") % 16).as("a"),
        expr("(id div 16) % 16").as("b"),
        expr("id div 256").as("c")).repartition(8),
      path)
    // 3 dimensions need ≥8 curve segments before the least-significant
    // interleaved column's top bit gets a cut — aim for ~12 files
    CommitLog.compact(spark, path, totalBytes(path) / 12 + 1, clusterBy = Some("a,b,c"))
    val files = dataFiles(path)
    assert(files.length >= 8, s"need at least 8 files, got ${files.length}")
    val ranges = files.map { f =>
      spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b"), min("c"), max("c"))
        .as[(Long, Long, Long, Long, Long, Long)].head()
    }
    // prunability in EVERY dimension: some file sits entirely outside
    // a low-window predicate on each of a, b, and c (exact rectangles
    // depend on the range partitioner's curve cuts)
    assert(ranges.exists(_._1 > 3),
      s"no file skippable for a <= 3: ${ranges.mkString(", ")}")
    assert(ranges.exists(_._3 > 3),
      s"no file skippable for b <= 3: ${ranges.mkString(", ")}")
    assert(ranges.exists(_._5 > 3),
      s"no file skippable for c <= 3: ${ranges.mkString(", ")}")
    assert(rows(path, "a bigint, b bigint, c bigint").count() == 16 * 16 * 16,
      "z-order compaction changed the table contents")
    // dimension overflow refuses loudly instead of silently wrapping
    val e = intercept[IllegalArgumentException] {
      ZOrder.zValueN(spark.range(2).select(
        col("id").as("a"), col("id").as("b"), col("id").as("c"),
        col("id").as("d"), col("id").as("e"), col("id").as("f"),
        col("id").as("g"), col("id").as("h")), Seq("a", "b", "c", "d", "e", "f", "g", "h"))
    }
    assert(e.getMessage.contains("z-bits"), e.getMessage)
  }

  test("compacting the queue under a checkpointed streaming worker stays idempotent") {
    graft.ingest.FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_compact_stream").toString)
    val obj = Files.createTempDirectory("graft_obj_cs").toString
    val ckpt = Files.createTempDirectory("graft_ckpt_cs").toString
    graft.ingest.Ingest.run(spark, graft.ingest.FixtureTree.root, "ext/mov", 4, store)
    graft.plan.Plan.run(spark, store)
    val q1 = graft.streaming.StreamingJobs.executeStream(spark, store, obj, ckpt)
    q1.awaitTermination()
    val done1 = Store.count(spark, store.taskDone)
    assert(done1 > 0)
    // compaction rewrites the queue into NEW file names; the
    // checkpointed file source treats them as unseen and replays every
    // task — the done anti-join must make that replay a no-op
    compactCli("task_queue", store.root)
    val q2 = graft.streaming.StreamingJobs.executeStream(spark, store, obj, ckpt)
    q2.awaitTermination()
    assert(Store.count(spark, store.taskDone) == done1,
      "replay after queue compaction re-executed completed tasks")
    assert(Store.count(spark, store.dlq) == 0, "queue compaction produced dead letters")
  }

  test("CLI compact subcommand reports the before/after census") {
    val store = freshStore()
    append(spark.range(0, 50).repartition(5).toDF("id"), s"${store.root}/dlq")
    val out = graft.Cli.run(spark, Array("compact", "dlq", store.root, "128"))
    assert(out.contains(""""cmd":"compact"""") && out.contains(""""table":"dlq""""))
    assert(out.contains(""""files_before":5""") && out.contains(""""files_after":1"""), out)
  }

  test("compact refuses a store table written before the commit log, naming the adoption verb") {
    val store = freshStore()
    spark.range(0, 20).toDF("id").write.parquet(s"${store.root}/dlq")
    val e = intercept[UnloggedStoreTableException](
      graft.Cli.run(spark, Array("compact", "dlq", store.root)))
    assert(e.getMessage.contains("CommitLog.convertParquet") &&
      e.getMessage.contains("CONVERT TO GRAFT"), e.getMessage)
    // adopted in place, the same directory compacts
    CommitLog.convertParquet(spark, s"${store.root}/dlq")
    assert(compactCli("dlq", store.root)._2._1 == 1)
  }
}
