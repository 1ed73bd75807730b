package graft.queries

import graft.{Q, Tables}
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.{Plan, Templates}
import graft.store.Store
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-checked queries for the plan job (SURVEY.md §2.3 P1/P2/P6,
  * §2.4 D3).
  *
  * The fan-out oracle re-derives every task row in DuckDB as a UNION ALL
  * of per-template branches (explode ≡ branch union), including the
  * mirror-URL rewrite and the order-insensitive task hash — so template
  * applicability, multiplicity (0/1/2 per resource), URL construction
  * and task identity are all independently recomputed. The end-to-end
  * pipeline query runs real Ingest→Plan against the fixture tree with
  * constant expected counts.
  */
object PlanOps {

  /** Resource rows synthesized from `part` (same URL shape as
    * PipelineOps/IngestOps: .mov/.MOV/.mp4/.txt/extension-less mix). */
  private def partResources(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "part")
      .withColumn("url",
        concat(lit("s3://data/media/"), col("p_brand"), lit("/"), col("p_partkey"),
          expr("CASE pmod(p_partkey, 5) WHEN 0 THEN '.mov' WHEN 1 THEN '.MOV' " +
            "WHEN 2 THEN '.mp4' WHEN 3 THEN '.txt' ELSE '' END")))
      .select(
        col("url"),
        lit("s3").as("scheme"),
        lit("data").as("bucket"),
        regexp_replace(col("url"), "^s3://data/", "").as("key"),
        lit(0L).as("size"),
        lit(false).as("phony"))

  private val urlSql =
    """concat('s3://data/media/', p_brand, '/', p_partkey,
      |  CASE (p_partkey % 5) WHEN 0 THEN '.mov' WHEN 1 THEN '.MOV'
      |       WHEN 2 THEN '.mp4' WHEN 3 THEN '.txt' ELSE '' END)""".stripMargin

  /** DuckDB CTE replicating the fan-out as per-template branch unions. */
  private val fanSql =
    s"""WITH u AS (SELECT $urlSql AS url FROM part),
       |r AS (SELECT url, regexp_replace(url, '^s3://data/', '') AS key FROM u),
       |fan AS (
       |  SELECT url, 'mov' AS hooks, 's3://mirror/chyme/mov/data/' || key || '/' AS output_url
       |  FROM r WHERE regexp_matches(lower(url), '^(.+)\\.mov$$')
       |  UNION ALL
       |  SELECT url, 'mp4', 's3://mirror/chyme/mp4/data/' || key || '/'
       |  FROM r WHERE regexp_matches(lower(url), '^(.+)\\.mp4$$')
       |  UNION ALL
       |  SELECT url, 'thumb', 's3://mirror/chyme/thumb/data/' || key || '/'
       |  FROM r WHERE regexp_matches(lower(url), '^(.+)\\.mov$$')
       |          OR regexp_matches(lower(url), '^(.+)\\.mp4$$')),
       |h AS (SELECT url, hooks, output_url,
       |        sha256(url) AS h_in, sha256(output_url) AS h_out FROM fan)
       |""".stripMargin

  val queries: Seq[Q] = Seq(

    // ── P1+P2+P4: full fan-out with rewrite + task identity ─────────────
    Q(
      "p2_template_fanout",
      fanSql +
        """SELECT url, hooks, output_url,
          |  sha256(least(h_in, h_out) || greatest(h_in, h_out)) AS task_hash
          |FROM h""".stripMargin) { (s, dir) =>
      Templates.fanOut(partResources(s, dir))
        .select(
          col("input.url").as("url"), col("hooks"),
          col("output.url").as("output_url"), col("task_hash"))
    },

    // ── D3: left-anti dedup vs a done-set (tasker/service.go:104-112) ───
    // Done-set = tasks whose hash starts with hex 0-3 (deterministic,
    // derivable on both engines) — the survivors per template prove the
    // anti-join semantics.
    Q(
      "d3_task_dedup",
      fanSql +
        """, t AS (SELECT hooks,
          |          sha256(least(h_in, h_out) || greatest(h_in, h_out)) AS task_hash
          |        FROM h)
          |SELECT hooks, count(*) AS n_remaining
          |FROM t WHERE NOT substring(task_hash, 1, 1) < '4'
          |GROUP BY hooks""".stripMargin) { (s, dir) =>
      val fan = Templates.fanOut(partResources(s, dir))
      val done = fan.filter(substring(col("task_hash"), 1, 1) < "4")
        .select("task_hash")
      fan.join(done, Seq("task_hash"), "left_anti")
        .groupBy(col("hooks"))
        .agg(count(lit(1)).as("n_remaining"))
    },

    // ── P6: task JSON wire round-trip (to_json/from_json, sqs.go:46) ────
    Q(
      "p6_task_json_roundtrip",
      fanSql +
        """SELECT url, hooks, CAST(TRUE AS BOOLEAN) AS roundtrip_ok FROM h""".stripMargin) { (s, dir) =>
      val taskWire = StructType(Seq(
        StructField("url", StringType), StructField("hooks", StringType),
        StructField("timeout_s", LongType)))
      Templates.fanOut(partResources(s, dir))
        .select(col("input.url").as("url"), col("hooks"),
          to_json(struct(col("input.url").as("url"), col("hooks"), col("timeout_s")))
            .as("wire"))
        .withColumn("decoded", from_json(col("wire"), taskWire))
        .select(col("url"), col("hooks"),
          (col("decoded.url") === col("url") && col("decoded.hooks") === col("hooks"))
            .as("roundtrip_ok"))
    },

    // ── E2E: ingest → plan over the fixture tree, constant counts ───────
    // 4 .mov resources × (mov + thumb) = 8 tasks; re-plan adds 0.
    Q(
      "pipeline_ingest_plan",
      """SELECT CAST(4 AS BIGINT) AS n_resources, CAST(8 AS BIGINT) AS n_tasks,
        |       CAST(0 AS BIGINT) AS n_replan""".stripMargin) { (s, _) =>
      FixtureTree.ensure()
      val store = Store("/tmp/graft_state/plan_e2e")
      Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
        .foreach(Store.delete(s, _))
      val nRes = Ingest.run(s, FixtureTree.root, "ext/mov", 4, store)
      val nTasks = Plan.run(s, store)
      val nReplan = Plan.run(s, store)
      import s.implicits._
      Seq((nRes, nTasks, nReplan)).toDF("n_resources", "n_tasks", "n_replan")
    })
}
