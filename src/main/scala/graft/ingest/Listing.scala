package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes

/** S1 — depth-bounded recursive prefix scan (SURVEY.md §2.1).
  *
  * The reference lists S3 one '/'-delimited level at a time, recursing
  * into CommonPrefixes with one goroutine per sub-prefix
  * (pkg/aws/s3.go:311-357). The BFS here follows Spark's
  * `InMemoryFileIndex` rule (`HadoopFSUtils.parallelListLeafFiles`): a
  * level is listed on the DRIVER, with no Spark job, while it holds at
  * most `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * directories; the first wider level goes to ONE Spark job whose tasks
  * each list their directories' subtrees to the depth bound. Millions of
  * prefixes still fan out across the cluster, like the reference's
  * errgroup; a narrow tree costs no job. Two reference bugs are fixed by
  * construction (SURVEY §7.5): the root prefix is honored (s3.go:72-79
  * ignores it), and listing streams every entry instead of stopping at
  * one page (s3.go:354 never follows the continuation token).
  *
  * Local filesystem directories stand in for bucket prefixes (the unit
  * tests' fixture trees, FIXTURES.md §2); at cluster scale the same BFS
  * runs over any Hadoop FileSystem by swapping the one listOneLevel
  * function.
  */
object Listing {

  /** One listed object: url splits into (scheme, bucket=root, key=relative
    * path); dirs carry a trailing-'/' key (F5 prefix convention). */
  final case class Entry(
      url: String, scheme: String, bucket: String, key: String,
      size: Long, is_dir: Boolean)

  /** `dir`'s entries, each stat'ed once (links followed); none when
    * `dir` is missing or not a directory. */
  private def listOneLevel(root: String)(dir: String): Vector[Entry] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) Vector.empty
    else {
      val stream = Files.list(d)
      import scala.jdk.CollectionConverters._
      try stream.iterator().asScala.map { p =>
        val attrs = Files.readAttributes(p, classOf[BasicFileAttributes])
        val isDir = attrs.isDirectory
        val slash = if (isDir) "/" else ""
        Entry(url = "file://" + p.toAbsolutePath.toString + slash, scheme = "file",
          bucket = root, key = Paths.get(root).relativize(p).toString + slash,
          size = if (isDir) 0L else attrs.size, is_dir = isDir)
      }.toVector
      finally stream.close()
    }
  }

  private def dirPath(e: Entry): String = e.url.stripPrefix("file://")

  /** The files of `dir`'s subtree down to `depth` levels below it. */
  private def walk(root: String, dir: String, depth: Int): Iterator[Entry] =
    listOneLevel(root)(dir).iterator.flatMap { e =>
      if (!e.is_dir) Iterator.single(e)
      else if (depth > 1) walk(root, dirPath(e), depth - 1) else Iterator.empty
    }

  /** List `root` down to `depth` directory levels (depth 1 = root's own
    * entries only — the reference's --recursion flag, cmd/ingest.go:18).
    * Returns a DataFrame of file entries (dirs are traversal-internal).
    * A distributed listing reads a checkpoint the ContextCleaner
    * releases on GC; callers that want deterministic release use
    * listResourcesManaged. */
  def listResources(spark: SparkSession, root: String, depth: Int): DataFrame =
    listResourcesManaged(spark, root, depth)._1

  /** listResources plus an explicit release hook for the checkpointed
    * listing storage (Dataset.unpersist can't reach it — it only clears
    * CacheManager entries, and the checkpoint is RDD-level). A listing
    * finished on the driver is a local frame, and its hook does nothing. */
  def listResourcesManaged(spark: SparkSession, root: String,
      depth: Int): (DataFrame, () => Unit) = {
    import spark.implicits._
    require(depth >= 1, "depth must be >= 1")
    // normalize once: deeper levels carry ABSOLUTE paths (from e.url),
    // and relativize() against a relative root would throw
    val absRoot = Paths.get(root).toAbsolutePath.normalize.toString
    val threshold = spark.sessionState.conf.parallelPartitionDiscoveryThreshold

    // Driver-side BFS while the level is narrow: no Spark job.
    var dirs = Vector(absRoot)
    var files = Vector.empty[Entry]
    var listed = 0
    while (listed < depth && dirs.nonEmpty && dirs.size <= threshold) {
      val (subdirs, found) = dirs.flatMap(listOneLevel(absRoot)).partition(_.is_dir)
      files ++= found
      dirs = subdirs.map(dirPath)
      listed += 1
    }
    if (listed == depth || dirs.isEmpty) (files.toDF(), () => ())
    else {
      // One job lists every remaining subtree, each directory exactly
      // once; the eager local checkpoint pins that result, so later
      // actions on the frame never list again.
      val remaining = depth - listed
      val parts = dirs.size.min(4 * spark.sparkContext.defaultParallelism)
      val walked = spark.sparkContext.parallelize(dirs, parts)
        .flatMap(walk(absRoot, _, remaining))
      val out = files.toDS().union(spark.createDataset(walked)).toDF()
        .localCheckpoint(true)
      (out, () => out.queryExecution.analyzed.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false); ()
        case _ => ()
      })
    }
  }
}
