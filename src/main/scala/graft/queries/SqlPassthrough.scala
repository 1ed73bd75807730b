package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL-passthrough surface (SURVEY §7.2 step 6): the fixture tables
  * registered as views and queried with ONE ANSI SQL string that both
  * Catalyst and DuckDB execute verbatim — the literal "switch engines,
  * keep the query" guarantee. The oracle IS the Spark query text.
  */
object SqlPassthrough {

  private def run(s: SparkSession, dir: String, text: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(text)
  }

  /** Shared ANSI text — parsed by both engines unchanged. */
  val RegionRevenueSql: String =
    """SELECT r_name,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  val TopPartsSql: String =
    """SELECT p_brand, p_type,
      |  CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts,
      |  CAST(min(p_size) AS BIGINT) AS min_size,
      |  CAST(max(p_size) AS BIGINT) AS max_size
      |FROM part
      |WHERE p_size BETWEEN 10 AND 20
      |GROUP BY p_brand, p_type
      |HAVING count(*) > 1""".stripMargin

  /** Raw SQL reaching the REGISTERED graft kernels (injected by
    * GraftExtensions / GraftFunctions.register, which Tables.registerAll
    * performs) — the CLI `query` passthrough path: a user types this
    * SQL, the engine's native HLL expressions execute it. Not ANSI —
    * the oracle is the DuckDB replay of the published estimator
    * (EventQueries.hllOracleSql), the same oracle that binds the
    * DataFrame form (`events_approx_distinct_det`), so the SQL surface
    * is pinned bit-identical to both. */
  val HllDistinctSql: String =
    """SELECT event_type,
      |  graft_hll_est(sum(pow(2.0, -r)), count(*), 8) AS est_distinct
      |FROM (SELECT event_type,
      |        graft_hll_bucket(user_id, 8) AS bucket,
      |        max(graft_hll_rho(user_id, 8)) AS r
      |      FROM events GROUP BY 1, 2)
      |GROUP BY event_type""".stripMargin

  /** The whole MinHash-LSH near-dup pipeline from RAW SQL: the
    * registered `graft_minhash_bands` kernel fans each doc into
    * (band, band_hash) rows via LATERAL VIEW posexplode, the windowed
    * bucket-size cap guards skew exactly like Dedup.nearDupPairs, and
    * `graft_shingle_jaccard` verifies candidates — a user can run the
    * engine's dedup from a SQL prompt. The oracle is the SAME DuckDB
    * replay that binds the DataFrame form (`dedup_minhash_lsh`), so
    * the two surfaces are pinned pair-for-pair identical. */
  val MinhashPairsSql: String =
    s"""WITH corpus AS (
       |  ${DedupQueries.nearDupCorpusSql}),
       |bands AS (
       |  SELECT doc_id, band, bh
       |  FROM corpus
       |  LATERAL VIEW posexplode(graft_minhash_bands(text, 2, 12, 4)) t AS band, bh),
       |sized AS (
       |  SELECT doc_id, band, bh, count(*) OVER (PARTITION BY band, bh) AS bsz
       |  FROM bands),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sized a JOIN sized b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  WHERE a.bsz <= 64 AND b.bsz <= 64),
       |pairs AS (
       |  SELECT id_a, id_b, graft_shingle_jaccard(ca.text, cb.text, 2) AS jaccard
       |  FROM cand JOIN corpus ca ON ca.doc_id = cand.id_a
       |            JOIN corpus cb ON cb.doc_id = cand.id_b)
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin

  private val minhashPairsOracle: String =
    s"""WITH corpus AS (
       |  ${DedupQueries.nearDupCorpusSql}),
       |${OracleSnippets.minhashLshPairsCte}
       |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.6""".stripMargin

  /** TIME TRAVEL FROM RAW SQL via the `graft_log` table-valued
    * function: two snapshots of a logged documents mirror — version 2
    * (both appends, pre-delete) and latest (post-DELETE) — queried in
    * ONE SQL statement. The oracle replays both snapshots relationally
    * from the `documents` fixture; the digest pins row identity, not
    * just counts. Spark's md5/conv digest mirrors
    * OracleSnippets.rowDigestSql exactly (Hashing.rowDigest's SQL
    * spelling). */
  private val sparkRowDigest =
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', text)), 1, 15), 16, 10) AS BIGINT)"

  private val LogAsofTable = "/tmp/graft_state/sql_log_docs"

  val LogAsofSql: String =
    s"""SELECT snap, source, n_docs, content_digest FROM (
       |  SELECT 'pre_delete' AS snap, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |  FROM graft_log('$LogAsofTable', 2) GROUP BY source
       |  UNION ALL
       |  SELECT 'latest' AS snap, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |  FROM graft_log('$LogAsofTable') GROUP BY source)""".stripMargin

  private val logAsofOracle: String =
    s"""SELECT snap, source, n_docs, content_digest FROM (
       |  SELECT 'pre_delete' AS snap, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |      AS content_digest
       |  FROM documents GROUP BY snap, source
       |  UNION ALL
       |  SELECT 'latest' AS snap, source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |      AS content_digest
       |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY snap, source)""".stripMargin

  val queries: Seq[Q] = Seq(
    metaTablesQ,
    Q("sql_region_revenue", RegionRevenueSql)((s, dir) => run(s, dir, RegionRevenueSql)),
    Q("sql_part_stats", TopPartsSql)((s, dir) => run(s, dir, TopPartsSql)),
    Q("sql_hll_distinct", EventQueries.hllOracleSql)(
      (s, dir) => run(s, dir, HllDistinctSql)),
    Q("sql_minhash_pairs", minhashPairsOracle)(
      (s, dir) => run(s, dir, MinhashPairsSql)),
    Q("sql_log_asof", logAsofOracle) { (s, dir) =>
      import graft.store.CommitLog
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(LogAsofTable)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(LogAsofTable), true)
      CommitLog.append(docs.filter(col("doc_id") % 2 === 0), LogAsofTable,
        mergeSchema = true)
      CommitLog.append(docs.filter(col("doc_id") % 2 === 1), LogAsofTable)
      CommitLog.deleteWhere(s, LogAsofTable, docs.schema, col("doc_id") % 7 === 0)
      run(s, dir, LogAsofSql)
    },

    // ── MERGE INTO / the full clause grammar from RAW SQL
    // (GraftSql.execute): the statement Spark's parser produces runs
    // through GraftDmlRule onto MergeClauses — matched delete, partial update, conditional
    // insert, by-source delete, all in ONE statement — then the merged
    // snapshot is read back through the graft_log TVF. The oracle
    // replays the clause semantics relationally; the digest covers the
    // updated text, pinning value-level update behavior. ──────────────
    Q("sql_merge_into", mergeIntoOracle) { (s, dir) =>
      import graft.store.{CommitLog, GraftSql}
      import org.apache.spark.sql.functions.{col, concat, lit}
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(MergeIntoTable)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(MergeIntoTable), true)
      CommitLog.append(docs.filter(col("doc_id") % 3 =!= 2), MergeIntoTable,
        mergeSchema = true)
      docs.filter(col("doc_id") % 2 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
        .createOrReplaceTempView("merge_updates")
      GraftSql.execute(s,
        s"""MERGE INTO graftlog.`$MergeIntoTable` AS t
           |USING merge_updates AS s
           |ON t.doc_id = s.doc_id
           |WHEN MATCHED AND t.doc_id % 10 = 4 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET text = s.text
           |WHEN NOT MATCHED AND s.doc_id % 10 <> 8 THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.doc_id % 10 = 9 THEN DELETE""".stripMargin)
      run(s, dir, MergeIntoResultSql)
    },

    // ── INSERT INTO / INSERT OVERWRITE from RAW SQL (GraftSql): the
    // DML triad's last verb. Positional INSERT appends a third of the
    // docs through the commit log; a COLUMN-LIST insert omits `text`
    // (null-filled — n_null_text pins it); the digest runs over
    // coalesced text so the null-filled rows are value-checked too. ───
    Q("sql_insert_into", insertIntoOracle) { (s, dir) =>
      import graft.store.{CommitLog, GraftSql}
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(InsertIntoTable)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(InsertIntoTable), true)
      CommitLog.append(docs.filter(col("doc_id") % 3 === 0), InsertIntoTable,
        mergeSchema = true)
      docs.createOrReplaceTempView("insert_src")
      GraftSql.execute(s,
        s"""INSERT INTO graftlog.`$InsertIntoTable`
           |SELECT doc_id, source, text FROM insert_src
           |WHERE doc_id % 3 = 1""".stripMargin)
      GraftSql.execute(s,
        s"""INSERT INTO graftlog.`$InsertIntoTable` (doc_id, source)
           |SELECT doc_id, source FROM insert_src
           |WHERE doc_id % 3 = 2""".stripMargin)
      run(s, dir, InsertIntoResultSql)
    },

    // ── UPDATE … SET … WHERE from RAW SQL: the predicate-addressed
    // copy-on-write rewrite (files without a matching row keep their
    // identity; the oracle replays the SET expression relationally —
    // the digest pins value-level update semantics, including that
    // non-matching and null-predicate rows stay untouched). ───────────
    Q("sql_update_where", updateWhereOracle) { (s, dir) =>
      import graft.store.{CommitLog, GraftSql}
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(UpdateWhereTable)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(UpdateWhereTable), true)
      CommitLog.append(docs.filter(col("doc_id") % 2 === 0), UpdateWhereTable,
        mergeSchema = true)
      CommitLog.append(docs.filter(col("doc_id") % 2 === 1), UpdateWhereTable)
      GraftSql.execute(s,
        s"""UPDATE graftlog.`$UpdateWhereTable`
           |SET text = concat('edited: ', text)
           |WHERE doc_id % 6 = 1""".stripMargin)
      run(s, dir, UpdateWhereResultSql)
    },

    // ── The CDC change feed from RAW SQL (graft_log_changes TVF): the
    // logged mirror gains two thirds of the docs at v1/v2, a
    // COMPACTION rewrites at v3 (must feed nothing), the last third
    // lands at v4, a DELETE at v5 feeds its pre-images. A SQL-only
    // consumer audits "what changed since v1" — versions, change
    // types, and value-exact digests all from one SELECT. ─────────────
    Q("sql_log_changes", logChangesOracle) { (s, dir) =>
      import graft.store.CommitLog
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(LogChangesTable)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(LogChangesTable), true)
      CommitLog.append(docs.filter(col("doc_id") % 3 === 0), LogChangesTable,
        mergeSchema = true)
      CommitLog.append(docs.filter(col("doc_id") % 3 === 1), LogChangesTable)
      CommitLog.compact(s, LogChangesTable, targetBytes = Long.MaxValue)
      CommitLog.append(docs.filter(col("doc_id") % 3 === 2), LogChangesTable)
      CommitLog.deleteWhere(s, LogChangesTable, docs.schema, col("doc_id") % 10 === 7)
      run(s, dir, LogChangesSql)
    },

    // ── The DSv2 TableCatalog end-to-end: CREATE / INSERT / DELETE /
    // SELECT over `graft.<name>` identifiers through PLAIN spark.sql —
    // zero graft-specific entry points (no TVF, no GraftSql.execute,
    // no format string); the read analyzes onto the native
    // GraftLogFileIndex scan via the injected resolution rule. The
    // oracle replays the surviving rows relationally. ─────────────────
    Q("sql_catalog_select", catalogSelectOracle) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val fs = new org.apache.hadoop.fs.Path(CatalogWarehouse)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(CatalogWarehouse), true)
      s.conf.set("spark.graft.warehouse", CatalogWarehouse)
      docs.createOrReplaceTempView("cat_src")
      s.sql("CREATE TABLE graft.cat_docs (doc_id BIGINT, source STRING, text STRING)")
      s.sql("""INSERT INTO graft.cat_docs
              |SELECT doc_id, source, text FROM cat_src WHERE doc_id % 3 = 0""".stripMargin)
      s.sql("""INSERT INTO graft.cat_docs
              |SELECT doc_id, source, text FROM cat_src WHERE doc_id % 3 <> 0""".stripMargin)
      s.sql("DELETE FROM graft.cat_docs WHERE doc_id < 50")
      // UPDATE through plain spark.sql exercises the DML rule (the
      // verb a v2 table cannot express without row-level machinery)
      s.sql("""UPDATE graft.cat_docs SET text = concat(text, ' upd')
              |WHERE doc_id % 11 = 0""".stripMargin)
      run(s, dir, CatalogSelectSql)
    })

  // ── METADATA TABLES in plain SQL (graft.t.history / .files /
  // .detail — the Iceberg spelling): the engine builds a logged table
  // with a deterministic commit sequence, then answers everything from
  // the metadata tables ADDRESSED BY PATH (the `graft.`/abs/path``
  // fallback resolution): commit counts by operation from .history,
  // live rows as SUM(rows) over .files (zero data files opened), and
  // the same count through the scanning path — a wrong log fold flips
  // rows_meta against rows_scan. Oracle: the relational complement. ───
  private def metaTablesQ: Q =
    Q(
      "sql_metadata_tables",
      """SELECT CAST(2 AS BIGINT) AS n_appends, CAST(1 AS BIGINT) AS n_deletes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE NOT (doc_id % 5 = 1)) AS rows_meta,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE NOT (doc_id % 5 = 1)) AS rows_scan
        |""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.functions.col
      val docs = Tables.load(s, dir, "documents").select("doc_id", "source", "text")
      val table = "/tmp/graft_state/meta_tables_docs"
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(table), true)
      graft.store.CommitLog.append(docs.filter(col("doc_id") % 2 === 0), table)
      graft.store.CommitLog.append(docs.filter(col("doc_id") % 2 === 1), table)
      graft.store.CommitLog.deleteWhere(s, table, docs.schema,
        col("doc_id") % 5 === 1)
      s.sql(
        s"""SELECT
           |  (SELECT count(*) FROM graft.`$table`.history
           |   WHERE operation = 'append') AS n_appends,
           |  (SELECT count(*) FROM graft.`$table`.history
           |   WHERE operation = 'delete') AS n_deletes,
           |  (SELECT CAST(sum(rows) AS BIGINT) FROM graft.`$table`.files) AS rows_meta,
           |  (SELECT count(*) FROM graft.`$table`) AS rows_scan
           |""".stripMargin)
    }

  private val CatalogWarehouse = "/tmp/graft_state/catalog_wh"

  val CatalogSelectSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |FROM graft.cat_docs GROUP BY source""".stripMargin

  private def catalogSelectOracle: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |    AS content_digest
       |FROM (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 11 = 0 THEN text || ' upd' ELSE text END AS text
       |  FROM documents WHERE doc_id >= 50)
       |GROUP BY source""".stripMargin

  private val MergeIntoTable = "/tmp/graft_state/sql_merge_docs"

  val MergeIntoResultSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |FROM graft_log('$MergeIntoTable') GROUP BY source""".stripMargin

  private def mergeIntoOracle: String =
    s"""WITH target0 AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 <> 2),
       |src AS (
       |  SELECT doc_id, source, text || ' v2' AS text
       |  FROM documents WHERE doc_id % 2 = 0),
       |kept AS (
       |  SELECT t.doc_id, t.source,
       |    CASE WHEN s.doc_id IS NOT NULL THEN s.text ELSE t.text END AS text
       |  FROM target0 t LEFT JOIN src s ON t.doc_id = s.doc_id
       |  WHERE NOT (s.doc_id IS NOT NULL AND t.doc_id % 10 = 4)
       |    AND NOT (s.doc_id IS NULL AND t.doc_id % 10 = 9)),
       |ins AS (
       |  SELECT s.doc_id, s.source, s.text FROM src s
       |  LEFT JOIN target0 t ON t.doc_id = s.doc_id
       |  WHERE t.doc_id IS NULL AND s.doc_id % 10 <> 8),
       |merged AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |    AS content_digest
       |FROM merged GROUP BY source""".stripMargin

  private val InsertIntoTable = "/tmp/graft_state/sql_insert_docs"

  private val sparkRowDigestNullSafe =
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '|', " +
      "coalesce(text, '~'))), 1, 15), 16, 10) AS BIGINT)"

  val InsertIntoResultSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS n_null_text,
       |  CAST(bit_xor($sparkRowDigestNullSafe) AS BIGINT) AS content_digest
       |FROM graft_log('$InsertIntoTable') GROUP BY source""".stripMargin

  private def insertIntoOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 3 <> 2
       |  UNION ALL
       |  SELECT doc_id, source, NULL AS text FROM documents WHERE doc_id % 3 = 2)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS n_null_text,
       |  CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "coalesce(text, '~')")})
       |    AS BIGINT) AS content_digest
       |FROM t GROUP BY source""".stripMargin

  private val UpdateWhereTable = "/tmp/graft_state/sql_update_docs"

  val UpdateWhereResultSql: String =
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |FROM graft_log('$UpdateWhereTable') GROUP BY source""".stripMargin

  private def updateWhereOracle: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 6 = 1 THEN 'edited: ' || text ELSE text END AS text
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |    AS content_digest
       |FROM t GROUP BY source""".stripMargin

  private val LogChangesTable = "/tmp/graft_state/sql_log_changes_docs"

  val LogChangesSql: String =
    s"""SELECT CAST(_commit_version AS BIGINT) AS commit_version,
       |  _change_type AS change_type, source,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor($sparkRowDigest) AS BIGINT) AS content_digest
       |FROM graft_log_changes('$LogChangesTable', 1)
       |GROUP BY commit_version, change_type, source""".stripMargin

  private def logChangesOracle: String =
    s"""WITH feed AS (
       |  SELECT 2 AS commit_version, 'insert' AS change_type, doc_id, source, text
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT 4, 'insert', doc_id, source, text
       |  FROM documents WHERE doc_id % 3 = 2
       |  UNION ALL
       |  SELECT 5, 'delete', doc_id, source, text
       |  FROM documents WHERE doc_id % 10 = 7)
       |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type, source,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(bit_xor(${OracleSnippets.rowDigestSql("doc_id", "text")}) AS BIGINT)
       |    AS content_digest
       |FROM feed GROUP BY commit_version, change_type, source""".stripMargin
}
