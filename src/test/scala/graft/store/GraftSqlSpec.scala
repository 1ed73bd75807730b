package graft.store

import graft.SparkSpec
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The SQL statement router (GraftSql): MERGE INTO / UPDATE / DELETE
  * FROM over ``graftlog.`path` `` targets execute through GraftDmlRule
  * with the exact clause semantics of the builder API, every
  * other statement passes through to spark.sql, and each unsupported
  * corner of the grammar refuses loudly instead of mistranslating. */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_sql").toString + "/t"

  private val schema = Seq((0L, "c", "v")).toDF("id", "cat", "v").schema

  private def seed(t: String): Unit =
    CommitLog.append(
      (0L until 100L).map(i => (i, s"c${i % 5}", "old")).toDF("id", "cat", "v"), t)

  test("full clause grammar from one MERGE statement ≡ the builder API") {
    val t = freshTable()
    seed(t)
    ((40L until 60L).map(i => (i, "src", if (i < 45) "drop" else "upd")) ++
      (200L until 205L).map(i => (i, "src", "new")))
      .toDF("id", "cat", "v").createOrReplaceTempView("graft_sql_src")
    val out = GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t
         |USING graft_sql_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.v = 'drop' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED AND s.id < 203 THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 90 THEN DELETE""".stripMargin)
    assert(out.as[(String, Long)].collect().toSeq == Seq((t, 2L)))
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect()
      .map { case (id, cat, v) => id -> ((cat, v)) }.toMap
    assert(rows.size == 100 - 5 - 10 + 3)
    assert((40L until 45L).forall(!rows.contains(_)), "matched-delete rows survived")
    assert((90L until 100L).forall(!rows.contains(_)), "by-source-delete rows survived")
    assert((45L until 60L).forall(i => rows(i) == ((s"c${i % 5}", "upd"))),
      "UPDATE SET v must write only v and keep cat from the target")
    assert((200L until 203L).forall(i => rows(i) == (("src", "new"))))
    assert(!rows.contains(203L) && !rows.contains(204L),
      "conditional INSERT leaked past its condition")
    assert((0L until 40L).forall(i => rows(i) == ((s"c${i % 5}", "old"))))
  }

  test("UPDATE SET * copies every non-key column; matched condition sees both namespaces") {
    val t = freshTable()
    seed(t)
    (45L until 55L).map(i => (i, "SRC", "upd")).toDF("id", "cat", "v")
      .createOrReplaceTempView("graft_sql_src_star")
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t
         |USING graft_sql_src_star AS s
         |ON t.id = s.id
         |WHEN MATCHED AND t.v = 'old' AND s.cat = 'SRC' THEN UPDATE SET *""".stripMargin)
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect()
      .map { case (id, cat, v) => id -> ((cat, v)) }.toMap
    assert(rows.size == 100)
    assert((45L until 55L).forall(i => rows(i) == (("SRC", "upd"))))
    assert((0L until 45L).forall(i => rows(i) == ((s"c${i % 5}", "old"))))
  }

  test("a logged table can be the USING source") {
    val t = freshTable(); val src = freshTable()
    seed(t)
    CommitLog.append((95L until 105L).map(i => (i, "logged", "upd"))
      .toDF("id", "cat", "v"), src)
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t
         |USING graftlog.`$src` AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect()
      .map { case (id, cat, v) => id -> ((cat, v)) }.toMap
    assert(rows.size == 105)
    assert((95L until 105L).forall(i => rows(i) == (("logged", "upd"))))
  }

  test("DELETE FROM with a target-column predicate; version returned") {
    val t = freshTable()
    seed(t)
    val out = GraftSql.execute(spark,
      s"DELETE FROM graftlog.`$t` AS t WHERE t.id % 7 = 0 AND t.cat <> 'c3'")
    assert(out.as[(String, Long)].collect().toSeq == Seq((t, 2L)))
    val ids = CommitLog.read(spark, t, schema).as[(Long, String, String)]
      .collect().map(_._1).toSet
    assert((0L until 100L).forall(i =>
      ids.contains(i) != (i % 7 == 0 && i % 5 != 3)))
  }

  test("explicit INSERT column list: full same-name mapping accepted, partial refused") {
    val t = freshTable()
    seed(t)
    Seq((500L, "src", "new")).toDF("id", "cat", "v")
      .createOrReplaceTempView("graft_sql_src_ins")
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_src_ins AS s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, cat, v) VALUES (s.id, s.cat, s.v)""".stripMargin)
    assert(CommitLog.read(spark, t, schema).count() == 101)
    val e = intercept[IllegalArgumentException](GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_src_ins AS s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT (id, cat) VALUES (s.id, s.cat)""".stripMargin))
    assert(e.getMessage.contains("every table column"))
  }

  test("a subquery predicate in DML is refused by name and commits nothing") {
    val t = freshTable()
    seed(t)
    val u = freshTable()
    CommitLog.append(Seq(1L, 2L).toDF("id"), u)
    val before = CommitLog.latestVersion(spark, t)
    val e = intercept[IllegalArgumentException](GraftSql.execute(spark,
      s"DELETE FROM graftlog.`$t` WHERE id IN (SELECT id FROM graftlog.`$u`)"))
    assert(e.getMessage.contains("subquery"), e.getMessage)
    assert(CommitLog.latestVersion(spark, t) == before)
  }

  test("INSERT INTO: positional, column-list null-fill, OVERWRITE, VALUES") {
    val t = freshTable()
    seed(t)
    // positional insert through the log — arity-checked, cast to the
    // table's types
    val out = GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` VALUES (500, 'c9', 'new'), (501, 'c9', 'new')")
    assert(out.as[(String, Long)].collect().toSeq == Seq((t, 2L)))
    assert(CommitLog.read(spark, t, schema).count() == 102)
    // column list: omitted nullable column null-fills
    GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` (id, cat) VALUES (600, 'c8')")
    val row600 = CommitLog.read(spark, t, schema)
      .where(col("id") === 600).as[(Long, String, String)].collect()
    assert(row600.toSeq == Seq((600L, "c8", null)))
    // a SELECT source reading ANOTHER logged table
    val t2 = freshTable()
    GraftSql.execute(spark,
      s"""INSERT OVERWRITE graftlog.`$t2`
         |SELECT id, cat, v FROM graftlog.`$t` WHERE id >= 500""".stripMargin)
    assert(CommitLog.read(spark, t2, schema).count() == 3)
    // OVERWRITE replaces atomically
    GraftSql.execute(spark, s"INSERT OVERWRITE graftlog.`$t2` VALUES (1, 'a', 'b')")
    assert(CommitLog.read(spark, t2, schema).count() == 1)
    // arity mismatch and unknown columns refuse loudly
    val e1 = intercept[IllegalArgumentException](GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` VALUES (1, 'x')"))
    assert(e1.getMessage.contains("column"))
    val e2 = intercept[IllegalArgumentException](GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` (id, nope) VALUES (1, 'x')"))
    assert(e2.getMessage.contains("nope"))
  }

  test("INSERT INTO … REPLACE WHERE on a path-spelled table; violations refuse") {
    val t = freshTable()
    seed(t)
    // re-land the c2 slice atomically; positional columns, cast
    val out = GraftSql.execute(spark,
      s"""INSERT INTO graftlog.`$t` REPLACE WHERE cat = 'c2'
         |SELECT id, 'c2', 'relanded' FROM graftlog.`$t` WHERE cat = 'c2'""".stripMargin)
    assert(out.columns.contains("committed_version"))
    val rows = CommitLog.read(spark, t, schema)
      .select("cat", "v").as[(String, String)].collect()
    assert(rows.count(r => r._1 == "c2" && r._2 == "relanded") == 20)
    assert(rows.count(_._2 == "old") == 80)
    // an incoming row OUTSIDE the predicate refuses loudly, pre-publish
    val v0 = CommitLog.liveFiles(spark, t)._1
    intercept[Exception] {
      GraftSql.execute(spark,
        s"INSERT INTO graftlog.`$t` REPLACE WHERE cat = 'c2' " +
          "VALUES (9999, 'c3', 'outside')")
    }
    assert(CommitLog.liveFiles(spark, t)._1 == v0)
    // arity mismatch names the (positional) fix
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark,
        s"INSERT INTO graftlog.`$t` REPLACE WHERE cat = 'c2' SELECT 1")
    }
    assert(e.getMessage.contains("positional"))
  }

  test("UPDATE SET with target-row expressions; simultaneous-SET rule; CDC images") {
    val t = freshTable()
    seed(t)
    val out = GraftSql.execute(spark,
      s"""UPDATE graftlog.`$t` AS t
         |SET v = concat(t.v, '!'), cat = upper(cat)
         |WHERE t.id % 10 = 3""".stripMargin)
    assert(out.as[(String, Long)].collect().toSeq == Seq((t, 2L)))
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect()
      .map { case (i, c, v) => i -> ((c, v)) }.toMap
    assert(rows.size == 100)
    (0L until 100L).foreach { i =>
      if (i % 10 == 3) assert(rows(i) == ((s"C${i % 5}", "old!")))
      else assert(rows(i) == ((s"c${i % 5}", "old")))
    }
    // the change feed carries delete pre-images + insert post-images
    val feed = CommitLog.changesSince(spark, t, 1L, schema)
      .groupBy(CommitLog.ChangeTypeCol).count()
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 10L, "insert" -> 10L))
    // WHERE-less UPDATE touches every row
    GraftSql.execute(spark, s"UPDATE graftlog.`$t` SET v = 'all'")
    assert(CommitLog.read(spark, t, schema)
      .where(col("v") === "all").count() == 100)
  }

  test("OPTIMIZE and VACUUM verbs: clustered compaction + reclamation from SQL") {
    val t = freshTable()
    seed(t)
    CommitLog.append(
      (100L until 200L).map(i => (i, s"c${i % 5}", "old")).toDF("id", "cat", "v"), t)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    val out = GraftSql.execute(spark,
      s"OPTIMIZE graftlog.`$t` TARGET ${512L * 1024} ZORDER BY (id)")
    assert(out.columns.toSeq == Seq("table", "committed_version"))
    val after = CommitLog.liveFiles(spark, t)._2.toSet
    assert(after.intersect(before).isEmpty, "compaction rewrote the live set")
    assert(CommitLog.read(spark, t, schema).count() == 200)
    // DRY RUN reports without touching anything
    val dry = GraftSql.execute(spark, s"VACUUM graftlog.`$t` RETAIN 0 HOURS DRY RUN")
    assert(dry.columns.toSeq == Seq("table", "n_reclaimed", "dry_run"))
    val (dryCount, wasDry) = dry.as[(String, Long, Boolean)].collect().head match {
      case (_, n, d) => (n, d)
    }
    assert(wasDry && dryCount >= before.size)
    assert(CommitLog.read(spark, t, schema, asOf = 2).count() == 200,
      "DRY RUN deleted something")
    // the replaced inputs survive until VACUUM's retention window says go
    val swept = GraftSql.execute(spark, s"VACUUM graftlog.`$t` RETAIN 0 HOURS")
    assert(swept.as[(String, Long, Boolean)].collect().head._2 == dryCount)
    assert(CommitLog.read(spark, t, schema).count() == 200)
  }

  test("spark.graft.deletionVectors routes SQL DML merge-on-read") {
    val t = freshTable()
    seed(t)
    val before = CommitLog.liveFiles(spark, t)._2.toSet
    spark.conf.set("spark.graft.deletionVectors", "true")
    try {
      GraftSql.execute(spark, s"DELETE FROM graftlog.`$t` WHERE id % 10 = 0")
      GraftSql.execute(spark,
        s"UPDATE graftlog.`$t` SET v = 'bumped' WHERE id = 1")
      Seq((2L, "src", "merged")).toDF("id", "cat", "v")
        .createOrReplaceTempView("graft_sql_dv_src")
      GraftSql.execute(spark,
        s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_dv_src AS s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      // none of the three statements rewrote a pre-existing file
      assert(before.subsetOf(CommitLog.liveFiles(spark, t)._2.toSet),
        "a MOR SQL statement rewrote a data file")
      val rows = CommitLog.read(spark, t, schema)
        .select("id", "v").as[(Long, String)].collect().toMap
      assert(!rows.keySet.exists(_ % 10 == 0))
      assert(rows(1L) == "bumped" && rows(2L) == "merged" && rows(3L) == "old")
    } finally spark.conf.unset("spark.graft.deletionVectors")
    // with the switch off, DML is copy-on-write again (file set changes)
    GraftSql.execute(spark, s"DELETE FROM graftlog.`$t` WHERE id = 5")
    assert(!before.subsetOf(CommitLog.liveFiles(spark, t)._2.toSet))
  }

  test("CREATE TABLE … SHALLOW CLONE routes, including VERSION AS OF") {
    val t = freshTable(); val c1 = freshTable(); val c2 = freshTable()
    seed(t) // version 1
    CommitLog.append(Seq((500L, "c9", "extra")).toDF("id", "cat", "v"), t) // v2
    val out = GraftSql.execute(spark,
      s"CREATE TABLE graftlog.`$c1` SHALLOW CLONE graftlog.`$t`")
    assert(out.as[(String, Long)].collect().toSeq == Seq((c1, 1L)))
    assert(CommitLog.read(spark, c1, schema).count() == 101L)
    // pinned AT version 1: the second append is not part of the clone
    GraftSql.execute(spark,
      s"CREATE TABLE graftlog.`$c2` SHALLOW CLONE graftlog.`$t` VERSION AS OF 1")
    assert(CommitLog.read(spark, c2, schema).count() == 100L)
    assert(CommitLog.propertiesAt(spark, c2)("graft.cloneSource") == s"$t@1")
  }

  test("SHALLOW CLONE accepts warehouse-resolved names, either catalog spelling") {
    val wh = Files.createTempDirectory("graft_sql_clone_wh").toString
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      seed(s"$wh/src_t")
      GraftSql.execute(spark, "CREATE TABLE graft.dst_t SHALLOW CLONE graftlog.src_t")
      assert(CommitLog.read(spark, s"$wh/dst_t", schema).count() == 100L)
      assert(CommitLog.propertiesAt(spark, s"$wh/dst_t")("graft.cloneSource") ==
        s"$wh/src_t@1")
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("resolvePath rejects path-escaping names before DROP can delete anything") {
    val base = Files.createTempDirectory("graft_sql_escape").toString
    val victim = s"$base/victim"
    CommitLog.append(spark.range(3).toDF("id"), victim)
    // warehouse nested INSIDE the victim: a bare `..` would resolve to
    // the victim itself and DROP TABLE deletes recursively
    spark.conf.set("spark.graft.warehouse", s"$victim/wh")
    try {
      intercept[IllegalArgumentException](
        GraftSql.execute(spark, "DROP TABLE graftlog.`..`"))
      // relative path-addressing is refused too (undefined root)
      intercept[IllegalArgumentException](
        GraftSql.execute(spark, "DESCRIBE HISTORY graftlog.`../victim`"))
      assert(CommitLog.read(spark, victim,
        CommitLog.tableSchema(spark, victim)).count() == 3)
      // explicit absolute paths still work, scheme-qualified too
      assert(GraftSql.execute(spark,
        s"DESCRIBE HISTORY graftlog.`$victim`").count() >= 1)
      assert(GraftSql.execute(spark,
        s"DESCRIBE HISTORY graftlog.`file:$victim`").count() >= 1)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("named tables: warehouse lifecycle CREATE/CTAS/DML/DROP by name") {
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      // CREATE TABLE (cols): schema-only bootstrap commit
      GraftSql.execute(spark,
        "CREATE TABLE graftlog.`corpus` (id BIGINT, v STRING)")
      assert(CommitLog.schemaAt(spark, s"$wh/corpus").isDefined)
      // positional INSERT works against the declared arity, by name
      GraftSql.execute(spark,
        "INSERT INTO graftlog.`corpus` VALUES (1, 'a'), (2, 'b')")
      // every verb addresses the table by bare name
      GraftSql.execute(spark, "UPDATE graftlog.`corpus` SET v = 'z' WHERE id = 2")
      GraftSql.execute(spark, "DELETE FROM graftlog.`corpus` WHERE id = 1")
      GraftSql.execute(spark, "OPTIMIZE graftlog.`corpus`")
      val d = GraftSql.execute(spark, "DESCRIBE DETAIL graftlog.`corpus`")
        .collect().head
      assert(d.getAs[String]("table") == s"$wh/corpus")
      // DESCRIBE HISTORY by name: create + insert + update + delete +
      // optimize commits visible with their op tags
      val ops = GraftSql.execute(spark, "DESCRIBE HISTORY graftlog.`corpus`")
        .select("operation").as[String].collect().toSet
      assert(Set("create", "update", "delete").subsetOf(ops), s"got $ops")
      // the TVF and the format readers resolve the same name
      graft.functions.GraftFunctions.register(spark)
      assert(spark.sql("SELECT * FROM graft_log('corpus')")
        .as[(Long, String)].collect().toSet == Set((2L, "z")))
      assert(spark.read.format("graftlog").load("corpus")
        .as[(Long, String)].collect().toSet == Set((2L, "z")))
      // CTAS from the named table
      GraftSql.execute(spark,
        "CREATE TABLE graftlog.`corpus2` AS SELECT * FROM graft_log('corpus')")
      assert(spark.read.format("graftlog").load("corpus2").count() == 1)
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, "CREATE TABLE graftlog.`corpus` (id BIGINT)")
      }
      // DROP refuses non-logged dirs, drops real tables
      val notATable = Files.createTempDirectory("graft_wh_not").toString
      intercept[IllegalArgumentException] {
        GraftSql.execute(spark, s"DROP TABLE graftlog.`$notATable`")
      }
      GraftSql.execute(spark, "DROP TABLE graftlog.`corpus2`")
      assert(CommitLog.latestVersion(spark, s"$wh/corpus2") == 0)
    } finally spark.conf.unset("spark.graft.warehouse")
    // without the conf, bare names refuse loudly
    val e = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, "DELETE FROM graftlog.`corpus` WHERE id = 1")
    }
    assert(e.getMessage.contains("warehouse"))
  }

  test("DML and extension verbs accept `graft.` catalog identifiers") {
    val t = freshTable()
    seed(t)
    // UPDATE and MERGE under the registered catalog's name run through
    // the same DML rule as the graftlog spelling
    GraftSql.execute(spark,
      s"UPDATE graft.`$t` SET v = 'edited' WHERE id < 3")
    assert(CommitLog.read(spark, t, schema).filter(col("v") === "edited")
      .count() == 3)
    Seq((500L, "src", "merged")).toDF("id", "cat", "v")
      .createOrReplaceTempView("graft_cat_src")
    GraftSql.execute(spark,
      s"""MERGE INTO graft.`$t` AS t USING graft_cat_src AS s
         |ON t.id = s.id WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(CommitLog.read(spark, t, schema).filter(col("id") === 500).count() == 1)
    // extension verbs too (no Spark grammar for these)
    val opt = GraftSql.execute(spark, s"OPTIMIZE graft.`$t`")
    assert(opt.columns.toSeq == Seq("table", "committed_version"))
    assert(GraftSql.execute(spark, s"DESCRIBE HISTORY graft.`$t`").count() > 0)
    // bare-name spelling resolves through the warehouse for both forms
    val wh = Files.createTempDirectory("graft_sql_wh").toString
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      GraftSql.execute(spark, "CREATE TABLE graft.cat_bare (id BIGINT)")
      GraftSql.execute(spark, "INSERT INTO graft.cat_bare VALUES (1), (2)")
      val d = GraftSql.execute(spark, "DESCRIBE DETAIL graft.cat_bare")
      assert(d.select("num_files").as[Long].head() > 0)
    } finally spark.conf.unset("spark.graft.warehouse")
  }

  test("matched-clause conditions may reference SOURCE key columns") {
    val t = freshTable()
    seed(t)
    Seq((10L, "s", "del"), (20L, "s", "upd")).toDF("id", "cat", "v")
      .createOrReplaceTempView("graft_srckey_src")
    // `s.id` in a matched condition resolves through the shared
    // plain-named key (the clause join carries keys once) — this used
    // to die with UNRESOLVED_COLUMN `_src_id`
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_srckey_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND s.id < 15 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    assert(!rows.contains(10L), "s.id-conditioned delete did not fire")
    assert(rows(20L) == "upd")
  }

  test("comments, semicolons, and verb keywords inside literals route correctly") {
    val t = freshTable()
    seed(t)
    // leading comments + trailing semicolon on an extension verb: must
    // reach the optimizer, not Spark's parser error
    val out = GraftSql.execute(spark,
      s"-- nightly maintenance\n/* scoped */ OPTIMIZE graftlog.`$t` ;")
    assert(out.columns.toSeq == Seq("table", "committed_version"))
    // a verb keyword INSIDE a string literal of a real statement must
    // not hijack routing: this is an INSERT, and lands as one
    GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` VALUES (999, 'OPTIMIZE graftlog.x', 'VACUUM t')")
    val got = CommitLog.read(spark, t, schema).filter(col("id") === 999)
      .as[(Long, String, String)].collect().toSeq
    assert(got == Seq((999L, "OPTIMIZE graftlog.x", "VACUUM t")))
    // a comment INSIDE a statement is the parser's business, untouched
    GraftSql.execute(spark,
      s"DELETE FROM graftlog.`$t` -- keyword VACUUM in a comment\nWHERE id = 999")
    assert(CommitLog.read(spark, t, schema).filter(col("id") === 999).count() == 0)
  }

  test("unsupported grammar refuses loudly instead of mistranslating") {
    val t = freshTable()
    seed(t)
    Seq((1L, "x", "y")).toDF("id", "cat", "v").createOrReplaceTempView("graft_sql_bad")
    def rejects(sql: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](GraftSql.execute(spark, sql))
      assert(e.getMessage.contains(needle), s"message was: ${e.getMessage}")
    }
    rejects( // non-equi ON
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_bad AS s ON t.id > s.id
         |WHEN MATCHED THEN DELETE""".stripMargin, "conjunction")
    rejects( // cross-name ON
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_bad AS s ON t.id = s.cat
         |WHEN MATCHED THEN DELETE""".stripMargin, "SAME column name")
    rejects( // expression update value
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_bad AS s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = concat(s.v, '!')""".stripMargin,
      "same-name source-column")
    rejects( // by-source UPDATE is not in the logged grammar
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_bad AS s ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'x'""".stripMargin,
      "only DELETE")
    // source column in a target-only namespace: the analyzer cannot
    // resolve it there, so it refuses before any commit
    val v0 = CommitLog.latestVersion(spark, t)
    val e = intercept[AnalysisException](GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_bad AS s ON t.id = s.id
         |WHEN NOT MATCHED BY SOURCE AND s.cat = 'x' THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("`s`.`cat`"), s"message was: ${e.getMessage}")
    assert(CommitLog.latestVersion(spark, t) == v0)
  }

  test("MERGE WITH SCHEMA EVOLUTION is refused and publishes nothing") {
    val t = freshTable()
    seed(t)
    Seq((500L, "src", "new", "x")).toDF("id", "cat", "v", "extra")
      .createOrReplaceTempView("graft_sql_evo_src")
    val v0 = CommitLog.latestVersion(spark, t)
    val e = intercept[IllegalArgumentException](GraftSql.execute(spark,
      s"""MERGE WITH SCHEMA EVOLUTION INTO graftlog.`$t` AS t
         |USING graft_sql_evo_src AS s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e.getMessage.contains("SCHEMA EVOLUTION"), s"message was: ${e.getMessage}")
    assert(CommitLog.latestVersion(spark, t) == v0)
    assert(CommitLog.tableSchema(spark, t).fieldNames.toSeq == Seq("id", "cat", "v"))
  }

  test("UPDATE SET * from a source with an extra column updates the target's columns") {
    val t = freshTable()
    seed(t)
    (45L until 50L).map(i => (i, "SRC", "upd", "x")).toDF("id", "cat", "v", "extra")
      .createOrReplaceTempView("graft_sql_wide_src")
    GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_wide_src AS s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(CommitLog.tableSchema(spark, t).fieldNames.toSeq == Seq("id", "cat", "v"))
    val rows = CommitLog.read(spark, t, schema)
      .as[(Long, String, String)].collect()
      .map { case (id, cat, v) => id -> ((cat, v)) }.toMap
    assert(rows.size == 100)
    assert((45L until 50L).forall(i => rows(i) == (("SRC", "upd"))))
    assert((0L until 45L).forall(i => rows(i) == ((s"c${i % 5}", "old"))))
  }

  test("an unqualified column both sides carry is refused as ambiguous") {
    val t = freshTable()
    seed(t)
    Seq((7L, "src", "old")).toDF("id", "cat", "v")
      .createOrReplaceTempView("graft_sql_amb_src")
    val v0 = CommitLog.latestVersion(spark, t)
    val e = intercept[AnalysisException](GraftSql.execute(spark,
      s"""MERGE INTO graftlog.`$t` AS t USING graft_sql_amb_src AS s
         |ON t.id = s.id
         |WHEN MATCHED AND v = 'old' THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("AMBIGUOUS_REFERENCE"), s"message was: ${e.getMessage}")
    assert(CommitLog.latestVersion(spark, t) == v0)
  }

  test("non-storage statements pass through to spark.sql") {
    Seq((1, "a"), (2, "b")).toDF("k", "s").createOrReplaceTempView("graft_sql_pt")
    val out = GraftSql.execute(spark,
      "SELECT k, upper(s) AS u FROM graft_sql_pt ORDER BY k")
    assert(out.as[(Int, String)].collect().toSeq == Seq((1, "A"), (2, "B")))
    // MERGE over a non-graftlog target is NOT intercepted: Spark's own
    // analyzer owns the (unsupported-for-v1) error
    intercept[Exception](GraftSql.execute(spark,
      """MERGE INTO graft_sql_pt AS t USING graft_sql_pt AS s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin))
  }
}
