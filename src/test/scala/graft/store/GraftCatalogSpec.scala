package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The `graft` DSv2 TableCatalog: plain `spark.sql` over catalog
  * identifiers — SELECT / INSERT / INSERT OVERWRITE / DELETE / CREATE
  * / CTAS / DROP / DESCRIBE / time travel — with ZERO graft-specific
  * entry points, reads on the NATIVE scan path (the GraftV2ReadRule
  * upgrade), and the V1Scan fallback correct for rule-less sessions. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshWarehouse(): String = {
    val wh = Files.createTempDirectory("graft_catalog_wh").toString
    spark.conf.set("spark.graft.warehouse", wh)
    wh
  }

  test("CREATE / INSERT / SELECT / DESCRIBE / DROP through plain spark.sql") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.t1 (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.t1 VALUES (3, 'c')")
    val rows = spark.sql("SELECT id, v FROM graft.t1 ORDER BY id")
      .as[(Long, String)].collect().toSeq
    assert(rows == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // aggregates, joins — anything Spark SQL can say
    assert(spark.sql("SELECT count(*) FROM graft.t1 WHERE id > 1")
      .as[Long].head() == 2L)
    val desc = spark.sql("DESCRIBE TABLE graft.t1")
      .select("col_name").as[String].collect().toSet
    assert(Set("id", "v").subsetOf(desc), s"got $desc")
    spark.sql("DROP TABLE graft.t1")
    intercept[Exception](spark.sql("SELECT * FROM graft.t1").collect())
  }

  test("catalog reads run the NATIVE scan path (no row-conversion seam)") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.native (id BIGINT)")
    spark.sql("INSERT INTO graft.native SELECT id FROM range(100)")
    val df = spark.sql("SELECT id FROM graft.native WHERE id > 90")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftLogFileIndex"),
      s"catalog read did not use the log file index:\n$plan")
    assert(!plan.contains("RowDataSourceScan"),
      s"catalog read fell back to the V1Scan row bridge:\n$plan")
    assert(df.as[Long].collect().toSet == (91L to 99L).toSet)
  }

  test("INSERT OVERWRITE is the atomic replace; time travel reaches both states") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.tt (id BIGINT)")
    spark.sql("INSERT INTO graft.tt VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE graft.tt VALUES (10)")
    assert(spark.sql("SELECT * FROM graft.tt").as[Long].collect().toSet == Set(10L))
    // native SQL time travel through the catalog's versioned loadTable
    assert(spark.sql("SELECT * FROM graft.tt VERSION AS OF 2")
      .as[Long].collect().toSet == Set(1L, 2L))
    // a time-travel snapshot is read-only
    intercept[Exception](
      spark.sql("INSERT INTO graft.tt VERSION AS OF 2 VALUES (5)"))
  }

  test("metadata tables: graft.t.history / .files / .detail compose in SQL") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.meta (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.meta VALUES (1, 'a'), (2, NULL)")
    spark.sql("INSERT INTO graft.meta VALUES (3, 'c')")
    spark.sql("DELETE FROM graft.meta WHERE id = 3")
    // history composes in plain SQL (filter + aggregate over commits)
    val ops = spark.sql(
      "SELECT operation, count(*) AS n FROM graft.meta.history " +
        "WHERE operation <> 'checkpoint' GROUP BY 1")
      .as[(String, Long)].collect().toMap
    assert(ops.get("append").contains(2L) && ops.get("delete").contains(1L))
    // files: the live set with log-carried sizes/rows — zero FS calls;
    // SUM(rows) equals the table's count
    val files = spark.sql(
      "SELECT CAST(sum(rows) AS BIGINT), CAST(sum(bytes) AS BIGINT), count(*) " +
        "FROM graft.meta.files").as[(Long, Long, Long)].head()
    assert(files._1 == 2L && files._2 > 0L && files._3 >= 1L)
    // the raw stats envelope is queryable: per-file id bounds via
    // get_json_object — "which files would a predicate touch" in SQL
    val loEnvelope = spark.sql(
      "SELECT count(*) FROM graft.meta.files " +
        "WHERE CAST(get_json_object(stats, '$.id[0]') AS BIGINT) <= 1")
      .as[Long].head()
    assert(loEnvelope >= 1L)
    // detail: the one-row summary, joinable
    assert(spark.sql("SELECT count(*) FROM graft.meta.detail")
      .as[Long].head() == 1L)
    // ...and it carries the PROPERTY MAP — the SQL audit path for
    // property-driven behavior (clustering, bloom, MOR, generated)
    spark.sql("ALTER TABLE graft.meta SET TBLPROPERTIES " +
      "('graft.clusterBy' = 'id', 'team' = 'pipeline')")
    val props = spark.sql(
      "SELECT properties['graft.clusterBy'], properties['team'] " +
        "FROM graft.meta.detail").as[(String, String)].head()
    assert(props == (("id", "pipeline")), s"got $props")
    // stats envelopes expose LOGICAL names: pre-rename files' stats
    // answer under the renamed column (the statsToLogical remap)
    spark.sql("ALTER TABLE graft.meta RENAME COLUMN v TO w")
    assert(spark.sql("SELECT count(*) FROM graft.meta.files " +
        "WHERE get_json_object(stats, '$.w') IS NOT NULL")
      .as[Long].head() >= 1L,
      "stats envelopes must remap physical keys to logical names")
    // a real table always shadows the metadata spelling
    spark.sql("CREATE TABLE graft.meta.history (id BIGINT)")
    spark.sql("INSERT INTO graft.meta.history VALUES (7)")
    assert(spark.sql("SELECT id FROM graft.meta.history")
      .as[Long].collect().toSeq == Seq(7L))
    spark.sql("DROP TABLE graft.meta.history")
    assert(spark.sql("SELECT count(*) FROM graft.meta.history WHERE operation = 'delete'")
      .as[Long].head() == 1L)
    // metadata tables are read-only
    intercept[Exception](
      spark.sql("INSERT INTO graft.meta.files VALUES ('x', 1, 1, NULL, NULL)"))
    spark.sql("DROP TABLE graft.meta")
  }

  test("TRUNCATE TABLE is a metadata-only truncate with time travel intact") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.trunc (id BIGINT)")
    spark.sql("INSERT INTO graft.trunc SELECT id FROM range(100)")
    val path = spark.conf.get("spark.graft.warehouse") + "/trunc"
    val before = CommitLog.liveFiles(spark, path)
    spark.sql("TRUNCATE TABLE graft.trunc")
    val (v, live) = CommitLog.liveFiles(spark, path)
    assert(live.isEmpty && v == before._1 + 1)
    assert(spark.sql("SELECT count(*) FROM graft.trunc").as[Long].head() == 0L)
    // metadata-only: the old files are removed, nothing was rewritten,
    // and the pre-truncate snapshot still serves until vacuum
    assert(spark.sql(s"SELECT count(*) FROM graft.trunc VERSION AS OF ${before._1}")
      .as[Long].head() == 100L)
    spark.sql("DROP TABLE graft.trunc")
  }

  test("DML with a subquery predicate is refused by name and commits nothing") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE graft.sq (id BIGINT)")
    spark.sql("INSERT INTO graft.sq SELECT id FROM range(10)")
    spark.sql("CREATE TABLE graft.sq_keys (id BIGINT)")
    spark.sql("INSERT INTO graft.sq_keys VALUES (1), (2)")
    val before = CommitLog.latestVersion(spark, s"$wh/sq")
    Seq(s"DELETE FROM graft.`$wh/sq` WHERE id IN (SELECT id FROM graft.sq_keys)",
      "UPDATE graft.sq SET id = 0 WHERE EXISTS (SELECT 1 FROM graft.sq_keys k WHERE k.id = sq.id)"
    ).foreach { sql =>
      val e = intercept[IllegalArgumentException](spark.sql(sql))
      assert(e.getMessage.contains("subquery"), s"$sql: ${e.getMessage}")
    }
    assert(CommitLog.latestVersion(spark, s"$wh/sq") == before)
  }

  test("DELETE FROM through the catalog honors the deletion-vector switch") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.del (id BIGINT)")
    spark.sql("INSERT INTO graft.del SELECT id FROM range(20)")
    spark.sql("DELETE FROM graft.del WHERE id >= 15")
    assert(spark.sql("SELECT * FROM graft.del").as[Long].collect().toSet
      == (0L until 15L).toSet)
    // merge-on-read: the same statement vectors instead of rewriting
    val wh = spark.conf.get("spark.graft.warehouse")
    val before = CommitLog.liveFiles(spark, s"$wh/del")._2.toSet
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      spark.sql("DELETE FROM graft.del WHERE id = 3")
      assert(CommitLog.liveFiles(spark, s"$wh/del")._2.toSet == before,
        "MOR catalog delete rewrote files")
      assert(spark.sql("SELECT * FROM graft.del").as[Long].collect().toSet
        == (0L until 15L).toSet - 3L)
    } finally spark.conf.unset("spark.graft.deletionVectors")
  }

  test("a multi-change ALTER TABLE validates every change before applying any") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE graft.atomic (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.atomic VALUES (1, 'a')")
    // declare a bloom index over v so renaming v is refused
    spark.sql("ALTER TABLE graft.atomic SET TBLPROPERTIES ('bloom.columns' = 'v')")
    val versionBefore = CommitLog.latestVersion(spark, s"$wh/atomic")
    // property set + blocked rename in ONE statement-equivalent: the
    // catalog applies changes as separate commits, so without up-front
    // validation the property would land and the rename abort midway
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog]
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.setProperty("k1", "v1"),
        TableChange.renameColumn(Array("v"), "v2"))
    }
    // NOTHING applied — no partial commit
    assert(CommitLog.latestVersion(spark, s"$wh/atomic") == versionBefore)
    assert(!CommitLog.propertiesAt(spark, s"$wh/atomic").contains("k1"))
    // conflicting changes WITHIN one statement are caught by the
    // simulated-schema pass — each would validate fine against the
    // pre-alter snapshot alone, then partially apply
    intercept[IllegalArgumentException] { // two renames to one target
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.renameColumn(Array("id"), "x"),
        TableChange.renameColumn(Array("v"), "x"))
    }
    intercept[IllegalArgumentException] { // rename of a just-dropped column
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.deleteColumn(Array("id"), false),
        TableChange.renameColumn(Array("id"), "id9"))
    }
    intercept[IllegalArgumentException] { // dropping down to zero columns
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.deleteColumn(Array("id"), false),
        TableChange.deleteColumn(Array("v"), false))
    }
    // a bloom declaration must index columns of the POST-statement
    // schema — SET bloom + rename/drop of that column in one statement
    // would otherwise land a dangling index property
    intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.setProperty("bloom.columns", "id"),
        TableChange.renameColumn(Array("id"), "id8"))
    }
    intercept[IllegalArgumentException] {
      cat.alterTable(Identifier.of(Array.empty, "atomic"),
        TableChange.setProperty("bloom.columns", "ghost"))
    }
    assert(CommitLog.latestVersion(spark, s"$wh/atomic") == versionBefore,
      "a conflicting multi-change ALTER partially applied")
    // the same changes with a legal rename apply fully
    cat.alterTable(Identifier.of(Array.empty, "atomic"),
      TableChange.setProperty("k1", "v1"),
      TableChange.renameColumn(Array("id"), "id2"))
    assert(CommitLog.propertiesAt(spark, s"$wh/atomic")("k1") == "v1")
    assert(spark.sql("SELECT id2 FROM graft.atomic").count() == 1)
  }

  test("warehouse-resolved identifiers reject path-escaping segments") {
    val base = Files.createTempDirectory("graft_escape").toString
    val victim = s"$base/victim"
    CommitLog.append(spark.range(3).toDF("id"), victim)
    // warehouse NESTED INSIDE the victim table's directory: a bare
    // `..` identifier would resolve to the victim itself, and DROP
    // would recursively delete an out-of-warehouse directory
    spark.conf.set("spark.graft.warehouse", s"$victim/wh")
    def guarded(thunk: => Unit): Unit = {
      val ex = intercept[Exception](thunk)
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(msgs.contains("invalid") || msgs.contains("absolute"),
        s"expected the segment guard, got: $msgs")
    }
    try {
      guarded(spark.sql("DROP TABLE graft.`..`"))
      guarded(spark.sql("SELECT * FROM graft.`..`").collect())
      // relative path-addressing is refused too (undefined resolution root)
      guarded(spark.sql("SELECT * FROM graft.`../victim`").collect())
      // the out-of-warehouse table is untouched
      assert(CommitLog.read(spark, victim,
        CommitLog.tableSchema(spark, victim)).count() == 3)
      // explicit ABSOLUTE path addressing still works...
      assert(spark.sql(s"SELECT count(*) FROM graft.`$victim`")
        .as[Long].head() == 3L)
      // ...and so do scheme-qualified Hadoop URIs (absolute by
      // construction — rejecting them would break every non-local-FS
      // path-addressed deployment)
      assert(spark.sql(s"SELECT count(*) FROM graft.`file:$victim`")
        .as[Long].head() == 3L)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("SHOW TBLPROPERTIES and DESCRIBE HISTORY through catalog identifiers") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE graft.props (id BIGINT) " +
      "TBLPROPERTIES ('team' = 'pipeline', 'graft.deletionVectors' = 'true')")
    spark.sql("INSERT INTO graft.props VALUES (1), (2)")
    // SHOW TBLPROPERTIES goes through Spark's NATIVE v2 command and the
    // table's properties() — the ledger-backed map, by `graft.` name
    val shown = spark.sql("SHOW TBLPROPERTIES graft.props")
      .as[(String, String)].collect().toMap
    assert(shown.get("team").contains("pipeline") &&
      shown.get("graft.deletionVectors").contains("true"), s"got $shown")
    // a single property lookup works too
    assert(spark.sql("SHOW TBLPROPERTIES graft.props ('team')")
      .as[(String, String)].head() == (("team", "pipeline")))
    // DESCRIBE HISTORY is an extension verb (Spark's parser lacks it)
    // — the GraftSql router accepts the SAME `graft.` spelling, so one
    // identifier form works across the whole SQL surface
    val hist = GraftSql.execute(spark, "DESCRIBE HISTORY graft.props")
    assert(hist.count() >= 2, "expected the CREATE and INSERT commits")
    assert(hist.columns.contains("version"))
    // ...and DESCRIBE DETAIL likewise
    val detail = GraftSql.execute(spark, "DESCRIBE DETAIL graft.props")
    assert(detail.count() == 1)
    // name resolution matches the catalog's: same table, same files
    assert(CommitLog.latestVersion(spark, s"$wh/props") >= 1)
  }

  test("CTAS, path-addressed identifiers, and SHOW TABLES") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE graft.src (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.src VALUES (1, 'x'), (2, 'y')")
    spark.sql("CREATE TABLE graft.copy AS SELECT * FROM graft.src WHERE id = 2")
    assert(spark.sql("SELECT v FROM graft.copy").as[String].collect().toSeq
      == Seq("y"))
    // a name containing '/' addresses the table directory directly
    val byPath = spark.sql(s"SELECT count(*) FROM graft.`$wh/src`")
      .as[Long].head()
    assert(byPath == 2L)
    val listed = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[GraftCatalog].listTables(Array.empty).map(_.name).toSet
    assert(listed == Set("src", "copy"), s"got $listed")
  }

  test("catalog writes enforce constraints and keep table properties") {
    freshWarehouse()
    val wh = spark.conf.get("spark.graft.warehouse")
    spark.sql("CREATE TABLE graft.gov (id BIGINT)")
    spark.sql("INSERT INTO graft.gov VALUES (1)")
    CommitLog.addConstraint(spark, s"$wh/gov", "id_pos", "id > 0")
    val e = intercept[Exception](
      spark.sql("INSERT INTO graft.gov VALUES (-5)"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("CHECK constraint")), s"got $e")
    assert(spark.sql("SELECT count(*) FROM graft.gov").as[Long].head() == 1L)
    // ALTER TABLE SET/UNSET TBLPROPERTIES through the catalog
    spark.sql("ALTER TABLE graft.gov SET TBLPROPERTIES ('bloom.columns' = 'id')")
    assert(CommitLog.propertiesAt(spark, s"$wh/gov") == Map("bloom.columns" -> "id"))
    spark.sql("ALTER TABLE graft.gov UNSET TBLPROPERTIES ('bloom.columns')")
    assert(CommitLog.propertiesAt(spark, s"$wh/gov").isEmpty)
    // ALTER TABLE ADD COLUMNS = metadata-only evolution
    spark.sql("ALTER TABLE graft.gov ADD COLUMNS (note STRING)")
    val out = spark.sql("SELECT id, note FROM graft.gov").collect()
    assert(out.length == 1 && out.head.isNullAt(1), "old rows must null-fill")
    // CREATE … TBLPROPERTIES: the properties ride the create commit
    // itself (ONE commit — a crash cannot leave the table undeclared)
    spark.sql("CREATE TABLE graft.props (id BIGINT) " +
      "TBLPROPERTIES ('bloom.columns' = 'id')")
    assert(CommitLog.propertiesAt(spark, s"$wh/props")
      == Map("bloom.columns" -> "id"))
    assert(CommitLog.latestVersion(spark, s"$wh/props") == 1L,
      "CREATE with properties took more than one commit")
  }

  test("DV-carrying snapshots read correctly through the catalog") {
    freshWarehouse()
    val wh = spark.conf.get("spark.graft.warehouse")
    spark.sql("CREATE TABLE graft.dvt (id BIGINT)")
    spark.sql("INSERT INTO graft.dvt SELECT id FROM range(50)")
    CommitLog.deleteWhere(spark, s"$wh/dvt", spark.range(0).toDF("id").schema,
      col("id") % 7 === 0, deletionVectors = true)
    assert(spark.sql("SELECT * FROM graft.dvt").as[Long].collect().toSet
      == (0L until 50L).filterNot(_ % 7 == 0).toSet)
  }

  test("rename/drop columns, unconditional DELETE, and table rename via catalog") {
    freshWarehouse()
    val wh = spark.conf.get("spark.graft.warehouse")
    spark.sql("CREATE TABLE graft.rn (id BIGINT, src STRING)")
    spark.sql("INSERT INTO graft.rn VALUES (1, 'a'), (2, 'b')")
    // RENAME/DROP COLUMN through plain ALTER TABLE (catalog alterTable)
    spark.sql("ALTER TABLE graft.rn RENAME COLUMN src TO origin")
    assert(spark.sql("SELECT origin FROM graft.rn WHERE id = 1")
      .as[String].head() == "a")
    spark.sql("ALTER TABLE graft.rn DROP COLUMN origin")
    assert(spark.sql("SELECT * FROM graft.rn").columns.toSeq == Seq("id"))
    // re-adding the dropped name through the CATALOG must honor the
    // burn ledger: old bytes never resurrect
    spark.sql("ALTER TABLE graft.rn ADD COLUMNS (origin STRING)")
    val re = spark.sql("SELECT id, origin FROM graft.rn").collect()
    assert(re.forall(_.isNullAt(1)),
      "dropped column's data resurrected through catalog ADD COLUMNS")
    // unconditional DELETE (AlwaysTrue translation)
    spark.sql("DELETE FROM graft.rn")
    assert(spark.sql("SELECT count(*) FROM graft.rn").as[Long].head() == 0L)
    // table rename: moves the directory; renaming ONTO an existing
    // destination refuses instead of silently nesting the table
    spark.sql("INSERT INTO graft.rn VALUES (9, 'z')")
    spark.sql("ALTER TABLE graft.rn RENAME TO rn2")
    assert(spark.sql("SELECT count(*) FROM graft.rn2").as[Long].head() == 1L)
    assert(CommitLog.latestVersion(spark, s"$wh/rn") == 0)
    spark.sql("CREATE TABLE graft.rn3 (id BIGINT)")
    intercept[Exception](spark.sql("ALTER TABLE graft.rn2 RENAME TO rn3"))
    assert(spark.sql("SELECT count(*) FROM graft.rn2").as[Long].head() == 1L,
      "failed rename moved the table anyway")
  }

  test("UPDATE, MERGE, and arbitrary-predicate DELETE via plain spark.sql") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.dml VALUES (1, 'a'), (2, 'b'), (3, 'c'), (6, 'f')")
    // UPDATE with an arbitrary target-row expression — the verb a
    // plain v2 table cannot express without row-level-operation
    // machinery; the DML rule routes it through updateWhere
    val u = spark.sql("UPDATE graft.dml SET v = concat(v, '!') WHERE id % 2 = 1")
    assert(u.columns.toSeq == Seq("table", "committed_version"))
    def rows(): Map[Long, String] = spark.sql("SELECT id, v FROM graft.dml")
      .as[(Long, String)].collect().toMap
    assert(rows() == Map(1L -> "a!", 2L -> "b", 3L -> "c!", 6L -> "f"))
    // DELETE with an ARITHMETIC predicate — beyond what SupportsDelete
    // filter translation can express; the rule handles it anyway
    spark.sql("DELETE FROM graft.dml WHERE id % 3 = 0")
    assert(rows() == Map(1L -> "a!", 2L -> "b"))
    // MERGE: matched update, conditional insert, by-source delete —
    // the full clause grammar through Spark's own parser + analyzer
    Seq((2L, "B"), (10L, "j"), (11L, "k")).toDF("id", "v")
      .createOrReplaceTempView("dml_src")
    spark.sql("""MERGE INTO graft.dml AS t USING dml_src AS s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED AND s.id < 11 THEN INSERT *
                |WHEN NOT MATCHED BY SOURCE AND t.id = 1 THEN DELETE""".stripMargin)
    assert(rows() == Map(2L -> "B", 10L -> "j"))
    // the deletion-vector session switch rides catalog DML too
    val wh = spark.conf.get("spark.graft.warehouse")
    val before = CommitLog.liveFiles(spark, s"$wh/dml")._2.toSet
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      spark.sql("UPDATE graft.dml SET v = 'MOR' WHERE id = 2")
      assert(before.subsetOf(CommitLog.liveFiles(spark, s"$wh/dml")._2.toSet),
        "MOR catalog UPDATE rewrote files")
      assert(rows() == Map(2L -> "MOR", 10L -> "j"))
    } finally spark.conf.unset("spark.graft.deletionVectors")
    // unsupported grammar refuses loudly at spark.sql time
    intercept[Exception](spark.sql(
      "MERGE INTO graft.dml AS t USING dml_src AS s ON t.id < s.id " +
        "WHEN MATCHED THEN DELETE"))
  }

  test("MERGE corner shapes: source-key conditions, implicit casts, key-only SET") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.mc (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.mc VALUES (1, 'a'), (2, 'b'), (7, 'g')")
    // a matched condition referencing the SOURCE key column — must
    // resolve through the shared plain-named key, not `_src_id`
    Seq((1, "A"), (7, "G")).toDF("id", "v").createOrReplaceTempView("mc_src")
    spark.sql("""MERGE INTO graft.mc AS t USING mc_src AS s ON t.id = s.id
                |WHEN MATCHED AND s.id > 5 THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    def rows(): Map[Long, String] = spark.sql("SELECT id, v FROM graft.mc")
      .as[(Long, String)].collect().toMap
    assert(rows() == Map(1L -> "A", 2L -> "b"))
    // the source above was INT-keyed against a BIGINT table — the
    // analyzer's implicit casts must not break key/assignment
    // recognition (already exercised); a key-only SET (reducing to an
    // empty update list) still CLAIMS matched rows under
    // first-match-wins, shielding them from later clauses
    Seq((2, "ZZZ")).toDF("id", "v").createOrReplaceTempView("mc_src2")
    spark.sql("""MERGE INTO graft.mc AS t USING mc_src2 AS s ON t.id = s.id
                |WHEN MATCHED AND s.id = 2 THEN UPDATE SET id = s.id
                |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows() == Map(1L -> "A", 2L -> "b"),
      "the claiming no-op update let a later clause fire")
  }

  test("a MERGE INSERT column list must name every table column") {
    val wh = freshWarehouse()
    spark.sql("CREATE TABLE graft.ins (id BIGINT, cat STRING, v STRING)")
    spark.sql("INSERT INTO graft.ins VALUES (1, 'a', 'old')")
    Seq((500L, "src", "new")).toDF("id", "cat", "v")
      .createOrReplaceTempView("ins_src")
    val v0 = CommitLog.latestVersion(spark, s"$wh/ins")
    val e = intercept[IllegalArgumentException](spark.sql(
      """MERGE INTO graft.ins AS t USING ins_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, cat) VALUES (s.id, s.cat)""".stripMargin))
    assert(e.getMessage.contains("every table column"), s"message was: ${e.getMessage}")
    assert(CommitLog.latestVersion(spark, s"$wh/ins") == v0)
  }

  test("spark.readStream.table streams a catalog table's change feed") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.st (id BIGINT)")
    spark.sql("INSERT INTO graft.st SELECT id FROM range(10)")
    spark.sql("INSERT INTO graft.st SELECT id FROM range(10, 20)")
    // plain readStream.table — no format string, no path: the catalog
    // table's V1 fallback descriptor builds the graftlog change-feed
    // source (version offsets, AvailableNow drain)
    val q = spark.readStream.table("graft.st")
      .writeStream.format("memory").queryName("graft_cat_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT id FROM graft_cat_stream").as[Long].collect().toSet
    assert(got == (0L until 20L).toSet)
    // the feed columns ride along like the format() surface
    assert(spark.table("graft_cat_stream").columns.toSet ==
      Set("id", "_change_type", "_commit_version"))
  }

  test("writeStream.toTable lands micro-batches in a catalog table exactly-once") {
    freshWarehouse()
    val wh = spark.conf.get("spark.graft.warehouse")
    spark.sql("CREATE TABLE graft.src2 (id BIGINT)")
    spark.sql(
      "CREATE TABLE graft.snk (id BIGINT, _change_type STRING, _commit_version BIGINT)")
    spark.sql("INSERT INTO graft.src2 SELECT id FROM range(5)")
    // Spark's v1-table check requires the writer's format to match
    // the table's provider; the path still resolves from the catalog
    val q = spark.readStream.table("graft.src2")
      .writeStream.format("graftlog")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$wh/_ckpt_totable")
      .toTable("graft.snk")
    q.awaitTermination(60000)
    assert(spark.sql("SELECT id FROM graft.snk").as[Long].collect().toSet ==
      (0L until 5L).toSet)
    // a second drain with nothing new lands nothing (exactly-once
    // through the sink's txn ledger + the source's version offsets)
    val q2 = spark.readStream.table("graft.src2")
      .writeStream.format("graftlog")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$wh/_ckpt_totable")
      .toTable("graft.snk")
    q2.awaitTermination(60000)
    assert(spark.sql("SELECT count(*) FROM graft.snk").as[Long].head() == 5L)
  }

  test("the V1Scan fallback reads the same rows for rule-less sessions") {
    freshWarehouse()
    val wh = spark.conf.get("spark.graft.warehouse")
    spark.sql("CREATE TABLE graft.fb (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.fb VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val schema = GraftTable(s"$wh/fb", Long.MaxValue, "graft.fb").schema
    val sb = new GraftV1ScanBuilder(spark, s"$wh/fb", Long.MaxValue, schema)
    sb.pushFilters(Array(org.apache.spark.sql.sources.GreaterThan("id", 1L)))
    sb.pruneColumns(org.apache.spark.sql.types.StructType(schema.filter(_.name == "v")))
    val scan = sb.build().asInstanceOf[org.apache.spark.sql.connector.read.V1Scan]
    val rel = scan.toV1TableScan[org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](spark.sqlContext)
    val got = rel.buildScan().collect().map(_.getString(0)).toSet
    assert(got == Set("b", "c"), s"got $got")
  }
}
