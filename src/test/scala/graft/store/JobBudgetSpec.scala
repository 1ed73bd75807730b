package graft.store

import graft.{SparkJobs, SparkSpec}

/** How many Spark jobs each row-level verb runs, in each landing mode,
  * on one fixed table: 8 one-partition files of 100 rows (`id` 0..799,
  * `s`). Every verb claims rows of one file (`id BETWEEN 10 AND 49`) or,
  * for the merges, of three (`id = 3i`, i < 100). The bounds are the
  * counts measured before the row-level verbs shared one landing core;
  * a verb that plans an extra pass over its files shows up here. */
class JobBudgetSpec extends SparkSpec {
  import org.apache.spark.sql.functions.{col, concat, lit}
  import spark.implicits._

  private val schema = Seq.empty[(Long, String)].toDF("id", "s").schema
  private val hit = col("id").between(10L, 49L)

  private def table(): String = {
    val t = java.nio.file.Files.createTempDirectory("graft_jobbudget").toString + "/t"
    CommitLog.append(spark.range(0, 800, 1, 8)
      .select(col("id"), concat(lit("v"), col("id").cast("string")).as("s")), t)
    assert(CommitLog.snapshot(spark, t).live.size == 8)
    t
  }
  private def source = (0L until 100L).map(i => (3 * i, "m")).toDF("id", "s")
  private def clauses(t: String) = MergeClauses.into(spark, t, schema, source, Seq("id"))
    .whenMatchedUpdate(Seq("s")).whenNotMatchedInsert()

  private val budgets: Seq[(String, Int, String => Any, Long => Boolean)] = Seq(
    ("deleteWhere, copy-on-write", 4,
      t => CommitLog.deleteWhere(spark, t, schema, hit), _ == 760L),
    ("deleteWhere, deletion vectors", 8,
      t => CommitLog.deleteWhere(spark, t, schema, hit, deletionVectors = true), _ == 760L),
    ("updateWhere, copy-on-write", 4,
      t => CommitLog.updateWhere(spark, t, schema, hit, Map("s" -> lit("u"))), _ == 800L),
    ("updateWhere, deletion vectors", 9,
      t => CommitLog.updateWhere(spark, t, schema, hit, Map("s" -> lit("u")),
        deletionVectors = true), _ == 800L),
    ("merge, copy-on-write", 17,
      t => CommitLog.merge(spark, t, schema, source, Seq("id")), _ == 800L),
    ("merge, deletion vectors", 20,
      t => CommitLog.merge(spark, t, schema, source, Seq("id"), deletionVectors = true),
      _ == 800L),
    ("MergeClauses, copy-on-write", 17, t => clauses(t).execute(), _ == 800L),
    ("MergeClauses, deletion vectors", 24,
      t => clauses(t).withDeletionVectors().execute(), _ == 800L),
    ("replaceWhere", 5,
      t => CommitLog.replaceWhere((10L until 50L).map(i => (i, "r")).toDF("id", "s"), t, hit),
      _ == 800L))

  budgets.foreach { case (verb, budget, run, rows) =>
    test(s"$verb runs at most $budget Spark jobs") {
      val t = table()
      val (_, jobs) = SparkJobs.during(spark)(run(t))
      assert(jobs <= budget, s"$verb ran $jobs Spark jobs (budget $budget)")
      assert(CommitLog.latestVersion(spark, t) == 2L, s"$verb must win version 2")
      val n = CommitLog.read(spark, t, schema).count()
      assert(rows(n), s"$verb left $n rows")
      info(s"$verb: $jobs jobs")
    }
  }
}
