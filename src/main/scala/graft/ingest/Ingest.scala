package graft.ingest

import graft.core.Hashing
import graft.store.{CommitLog, Store}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The ingest job (SURVEY.md §2.1 S1/S7, §2.2 F1–F5, §2.4 D1, §2.5 A1) —
  * the reference's primary entry point (`chyme indexer ingest <url>
  * --filter 'ext/mov' --recursion N`, internal/ingest/service.go:49-118).
  *
  * Pipeline: depth-bounded listing → compiled filter predicate →
  * resource rows (url/scheme/bucket/key/size/phony/hash) →
  * dropDuplicates(url) → anti-join against the existing index (the Redis
  * SADD set semantics, resource.go:77-87: re-ingesting the same URL is a
  * no-op) → one logged append to resource_index → SCARD-style count
  * from the ledger (service.go:114-118).
  *
  * Scale: the listing distributes per-prefix; filter + hash are
  * codegen'd Column expressions evaluated during the listing scan; dedup
  * and the idempotence anti-join are hash-partitioned on `url` (or
  * broadcast when the existing index is small — AQE decides). Nothing is
  * ever collected to the driver.
  */
object Ingest {

  val resourceSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("scheme", StringType),
    StructField("bucket", StringType),
    StructField("key", StringType),
    StructField("size", LongType),
    StructField("phony", BooleanType),
    StructField("hash", StringType)))

  /** Filter + hash over a listing frame: the resource rows an ingest
    * WOULD add, before index dedup (pure — no writes). */
  private def toResources(listed: DataFrame, filterSpec: String): DataFrame =
    listed
      .filter(Filters.compile(filterSpec, col("url")))
      .select(
        col("url"), col("scheme"), col("bucket"), col("key"), col("size"),
        lit(false).as("phony"),
        Hashing.urlHash(col("url")).as("hash"))

  /** List + filter + hash (pure — no writes). The returned frame reads
    * a checkpointed listing the ContextCleaner releases on GC; run()
    * below releases it deterministically instead. */
  def scan(spark: SparkSession, root: String, filterSpec: String, depth: Int): DataFrame =
    toResources(Listing.listResources(spark, root, depth), filterSpec)

  /** Full ingest: append new resources to the index, return its
    * cardinality (A1) — a ledger fold, no count job. Idempotent:
    * re-running with the same tree adds nothing; no cache entries
    * survive the call (the listing checkpoint is dropped once the
    * append lands). */
  def run(spark: SparkSession, root: String, filterSpec: String, depth: Int,
          store: Store): Long = {
    val (listed, release) = Listing.listResourcesManaged(spark, root, depth)
    try {
      val incoming = toResources(listed, filterSpec).dropDuplicates("url")
      val read = Store.snapshot(spark, store.resourceIndex)
      val existing = CommitLog.read(spark, store.resourceIndex, resourceSchema, read)
      val fresh = incoming.join(existing.select("url"), Seq("url"), "left_anti")
        .select(resourceSchema.fieldNames.map(col): _*)
      Store.commit(fresh, store.resourceIndex, read)
      Store.count(spark, store.resourceIndex)
    } finally release()
  }
}
