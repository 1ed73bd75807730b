package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** SURVEY §5.2 — randomized ingest-filter-dedup invariants, evaluated
  * in one batched Spark pass (per-sample Spark jobs would be minutes):
  * the compiled ext predicate must agree with the straightforward Scala
  * model on a seeded random URL corpus, and dedup must be idempotent.
  * The listing must agree with a depth-bounded `Files.walk` on seeded
  * random trees, on the driver-only, distributed and mixed paths. */
class IngestProps extends SparkSpec {

  private val rng = new scala.util.Random(42)
  private val exts = Seq(".mov", ".MOV", ".Mp4", ".txt", "", ".tar.gz", ".movx")
  private val urls: Seq[String] = (0 until 2000).map { i =>
    val depth = rng.nextInt(4)
    val segs = (0 to depth).map(_ => rng.alphanumeric.take(1 + rng.nextInt(8)).mkString)
    s"s3://bucket-${rng.nextInt(3)}/${segs.mkString("/")}${exts(rng.nextInt(exts.length))}"
  }

  test("compiled ext predicate ≡ Scala model over 2000 random URLs") {
    import spark.implicits._
    val df = urls.toDF("url")
    def model(u: String, es: Seq[String]): Boolean =
      es.exists(e => u.toLowerCase.matches(s"^(.+)\\.$e$$"))
    for (spec <- Seq(Seq("mov"), Seq("mov", "mp4"), Seq("gz"))) {
      val got = df.select(col("url"),
          Filters.compile("ext/" + spec.mkString("/"), col("url")).as("m"))
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      urls.foreach { u =>
        assert(got(u) == model(u, spec), s"mismatch for '$u' spec=$spec")
      }
    }
  }

  test("dedup invariant: count == distinct count after URL dedup, any duplication factor") {
    import spark.implicits._
    val dupes = urls ++ urls.take(500) ++ urls.take(100)
    val deduped = dupes.toDF("url").dropDuplicates("url")
    assert(deduped.count() == urls.distinct.length)
    // idempotent: deduping again changes nothing
    assert(deduped.dropDuplicates("url").count() == deduped.count())
  }

  private val names = Vector("a", "b c", "ünï", "日本語", "x y ß", "e.mov", "noext")

  /** A seeded tree up to 7 directory levels deep: 2–4 subdirectories
    * under the root, 0–5 under any other directory, 0–2 files of 0–4
    * bytes per directory, names with spaces and non-ASCII characters,
    * and an empty directory at the top. */
  private def randomTree(seed: Long, root: Path): Unit = {
    val rng = new scala.util.Random(seed)
    def name(kind: String, i: Int) = s"$kind$i ${names(rng.nextInt(names.size))}"
    Files.createDirectories(root.resolve("empty dir"))
    var level = Vector(root)
    for (_ <- 1 to 7) level = level.flatMap { d =>
      (0 until rng.nextInt(3)).foreach { i =>
        Files.write(d.resolve(name("f", i)), Array.fill(rng.nextInt(5))(1.toByte))
      }
      val subdirs = if (d == root) 2 + rng.nextInt(3) else rng.nextInt(6)
      (0 until subdirs).map(i => Files.createDirectories(d.resolve(name("d", i))))
    }
  }

  /** The files `Files.walk` finds at most `depth` levels under `root`,
    * as listing entries sorted by url; none for a missing or file root. */
  private def reference(root: Path, depth: Int): Seq[Listing.Entry] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.walk(root, depth)
      try s.iterator().asScala.filterNot(Files.isDirectory(_)).map(p =>
        Listing.Entry("file://" + p, "file", root.toString,
          root.relativize(p).toString, Files.size(p), is_dir = false)).toVector.sortBy(_.url)
      finally s.close()
    }

  private val thresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Listing.listResources ≡ reference for depths 1–6 under `threshold`
    * (None = Spark's default), failing with `clue`; the Spark jobs each
    * depth's listing ran. */
  private def checkListing(root: Path, threshold: Option[Int], clue: String): Seq[Int] = {
    import spark.implicits._
    threshold.foreach(t => spark.conf.set(thresholdKey, t.toLong))
    try for (depth <- 1 to 6) yield {
      val ((df, release), jobs) = graft.SparkJobs.during(spark)(
        Listing.listResourcesManaged(spark, root.toString, depth))
      try {
        val got = df.as[Listing.Entry].collect().toVector.sortBy(_.url)
        assert(got == reference(root, depth),
          s"$clue, threshold ${threshold.getOrElse("default")}, depth $depth")
        jobs
      } finally release()
    } finally spark.conf.unset(thresholdKey)
  }

  test("listing ≡ depth-bounded Files.walk on seeded random trees, every path") {
    val base = Files.createTempDirectory("graft_listing_props").toRealPath()
    try {
      // 0 distributes from the root; a large threshold stays on the driver
      val jobs = for (seed <- 1 to 5; threshold <- Seq(Some(0), Some(1 << 20), None)) yield {
        val root = base.resolve(s"tree $seed")
        if (!Files.exists(root)) randomTree(seed, root)
        threshold -> checkListing(root, threshold, s"seed $seed")
      }
      def ran(t: Option[Int]) = jobs.collect { case (`t`, js) => js }.flatten.toSet
      assert(ran(Some(0)) == Set(1) && ran(Some(1 << 20)) == Set(0))
      assert(ran(None) == Set(0, 1), "the default threshold should take both paths")
      val file = Files.write(base.resolve("root file"), Array[Byte](1, 2))
      for (threshold <- Seq(Some(0), None)) {
        checkListing(base.resolve("missing root"), threshold, "missing root")
        checkListing(file, threshold, "file root")
      }
    } finally {
      val s = Files.walk(base)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
