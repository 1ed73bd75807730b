package graft.ingest

import graft.{SparkJobs, SparkSpec}
import graft.store.Store
import org.apache.spark.sql.functions._

/** SURVEY §5.1/§5.4: filter regex corners, recursion bounds, dedup
  * idempotence — over the FIXTURES.md §2 tree. */
class IngestSpec extends SparkSpec {

  private def keys(filterSpec: String, depth: Int): Set[String] = {
    FixtureTree.ensure()
    Ingest.scan(spark, FixtureTree.root, filterSpec, depth)
      .select("key").collect().map(_.getString(0)).toSet
  }

  test("ext filter matches case-insensitively on the full URL (util.go:39)") {
    assert(keys("ext/mov", 4) == Set(
      "video/a.MOV", "video/b.mov", "video/deep/d.mov", "video/deep/deeper/e.mov"))
  }

  test("multi-ext spec matches any listed extension") {
    assert(keys("ext/mov/mp4", 4) == Set(
      "video/a.MOV", "video/b.mov", "video/c.mp4",
      "video/deep/d.mov", "video/deep/deeper/e.mov"))
  }

  test("no-extension and wrong-extension files never match ext filter") {
    assert(!keys("ext/mov", 4).exists(k => k.endsWith("noext") || k.endsWith(".txt")))
    assert(keys("ext/txt", 4) == Set("docs/readme.txt"))
  }

  test("recursion depth bounds the scan (s3.go:317-321 semantics)") {
    assert(keys("identity", 1) == Set.empty) // root has only directories
    assert(keys("identity", 2) == Set(
      "video/a.MOV", "video/b.mov", "video/c.mp4", "video/noext", "docs/readme.txt"))
    assert(keys("identity", 3).contains("video/deep/d.mov"))
    assert(!keys("identity", 3).contains("video/deep/deeper/e.mov"))
    assert(keys("identity", 4).size == 7)
  }

  test("unknown filter name fails fast (util.go:57-59)") {
    val e = intercept[IllegalArgumentException](keys("bogus/x", 2))
    assert(e.getMessage.contains("bogus"))
  }

  test("re-ingest is idempotent; index carries hash column (D1/A1/K9)") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/ingest")
    Store.delete(spark, store.resourceIndex)
    val n1 = Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    val n2 = Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    assert(n1 == 4 && n2 == 4)
    val idx = Store.read(spark, store.resourceIndex, Ingest.resourceSchema)
    assert(idx.count() == 4)
    // hash column is the sha256 of the url — spot-check one row
    val row = idx.filter(col("key") === "video/b.mov")
      .select("url", "hash").head()
    assert(row.getString(1) == graft.core.Hashing.urlHashStr(row.getString(0)))
  }

  test("Ingest.run leaves no new persistent RDDs behind (listing caches released)") {
    FixtureTree.ensure()
    for ((root, tag) <- Seq(FixtureTree.root -> "narrow", wideTree() -> "wide")) {
      val store = Store(s"/tmp/graft_test_state/ingest_nopersist_$tag")
      Store.delete(spark, store.resourceIndex)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      Ingest.run(spark, root, "ext/mov", 4, store)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"ingest of the $tag tree leaked persistent RDD ids $leaked — the listing checkpoint survived")
    }
  }

  /** Directories on the wide tree's second level: more than Spark's
    * parallel-discovery threshold. */
  private def wideWidth: Int = spark.sessionState.conf.parallelPartitionDiscoveryThreshold + 8

  /** A tree with `wideWidth` directories `w<i>` under its root, holding
    * `w<i>/f.mov` and `w<i>/sub/g.mov`. */
  private def wideTree(): String = {
    val root = java.nio.file.Paths.get("/tmp/graft_test_state/wide_bucket")
    for (i <- 0 until wideWidth; key <- Seq(s"w$i/f.mov", s"w$i/sub/g.mov")) {
      val p = root.resolve(key)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, key.getBytes("UTF-8"))
    }
    root.toString
  }

  test("listing job budget: 0 Spark jobs on a narrow tree, 1 past the threshold") {
    FixtureTree.ensure()
    val (narrow, narrowJobs) = SparkJobs.during(spark)(
      Listing.listResourcesManaged(spark, FixtureTree.root, 4))
    narrow._2()
    assert(narrowJobs == 0)
    val root = wideTree()
    val ((wide, release), wideJobs) = SparkJobs.during(spark)(
      Listing.listResourcesManaged(spark, root, 3))
    try {
      assert(wideJobs == 1)
      assert(wide.count() == 2L * wideWidth)
    } finally release()
    val store = Store("/tmp/graft_test_state/ingest_jobs")
    Store.delete(spark, store.resourceIndex)
    val (_, ingestJobs) = SparkJobs.during(spark)(
      Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store))
    // the listing runs none of them on this narrow tree
    assert(ingestJobs <= 2, s"Ingest.run ran $ingestJobs Spark jobs")
  }

  test("ingest with a broader filter later adds only the new files") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/ingest_grow")
    Store.delete(spark, store.resourceIndex)
    assert(Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store) == 4)
    assert(Ingest.run(spark, FixtureTree.root, "identity", 4, store) == 7)
  }
}
