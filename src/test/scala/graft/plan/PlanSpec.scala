package graft.plan

import graft.SparkSpec
import graft.core.Hashing
import graft.ingest.{FixtureTree, Ingest}
import graft.store.Store
import org.apache.spark.sql.functions._

/** SURVEY §5.1: fan-out multiplicity (0/1/N), URL rewrite, task-identity
  * order-insensitivity, replan idempotence. */
class PlanSpec extends SparkSpec {

  import Templates._

  private def resources(urls: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    urls.toSeq.toDF("url")
      .withColumn("scheme", lit("s3"))
      .withColumn("bucket", lit("data"))
      .withColumn("key", regexp_replace(col("url"), "^s3://data/", ""))
      .withColumn("size", lit(0L))
      .withColumn("phony", lit(false))
  }

  test("fan-out multiplicity: 0 for non-media, 2 for mov (mov+thumb), 2 for mp4") {
    val fan = fanOut(resources(
      "s3://data/a.mov", "s3://data/b.MP4", "s3://data/c.txt", "s3://data/noext"))
    val byUrl = fan.groupBy(col("input.url")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byUrl == Map("s3://data/a.mov" -> 2L, "s3://data/b.MP4" -> 2L))
    val hooks = fan.select("hooks").collect().map(_.getString(0)).sorted.toSeq
    assert(hooks == Seq("mov", "mp4", "thumb", "thumb"))
  }

  test("mirror-URL rewrite matches mov.go:28-30 shape") {
    val fan = fanOut(resources("s3://data/media/x/a.mov"), Seq(mov))
    val out = fan.select("output.url").head().getString(0)
    assert(out == "s3://mirror/chyme/mov/data/media/x/a.mov/")
    val metaKey = fan.select("metadata.key").head().getString(0)
    assert(metaKey == "meta/mov/data/media/x/a.mov/")
  }

  test("task_hash equals the order-insensitive collated hash of {in,out}") {
    val fan = fanOut(resources("s3://data/a.mov"), Seq(mov))
    val r = fan.select(col("input.url"), col("output.url"), col("task_hash")).head()
    assert(r.getString(2) == Hashing.taskHashStr(r.getString(0), r.getString(1)))
    assert(r.getString(2) == Hashing.taskHashStr(r.getString(1), r.getString(0)))
  }

  test("strategy config carries template image+command; timeout per template") {
    val fan = fanOut(resources("s3://data/a.mov"))
    val rows = fan.select(col("hooks"), col("strategy.executor"),
      element_at(col("strategy.config"), "image"), col("timeout_s"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(rows == Set(
      ("mov", "process", "graft/mov:1", 48 * 3600L),
      ("thumb", "process", "graft/thumb:1", 3600L)))
  }

  test("plan is idempotent and skips task_done (D3)") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/plan")
    Seq(store.resourceIndex, store.taskQueue, store.taskDone)
      .foreach(Store.delete(spark, _))
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    assert(Plan.run(spark, store) == 8) // 4 resources × (mov+thumb)
    assert(Plan.run(spark, store) == 0) // replan: everything pending

    // complete one task -> moving it to done keeps it excluded even if
    // the queue were rebuilt from scratch
    val one = Store.read(spark, store.taskQueue,
      org.apache.spark.sql.Encoders.product[graft.core.Task].schema).limit(1)
    graft.store.CommitLog.append(one, store.taskDone)
    Store.delete(spark, store.taskQueue)
    assert(Plan.run(spark, store) == 7)
  }
}
