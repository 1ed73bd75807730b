package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, OverwriteByExpression, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.StreamingShim
import org.apache.spark.sql.types.StructType

/** SQL STATEMENTS for logged-table maintenance — the last piece of the
  * "a SQL-only user can operate the storage layer" surface. Reads were
  * already SQL-reachable (`graft_log` / `graft_log_changes` TVFs); this
  * routes the WRITE statements:
  *
  * {{{
  * GraftSql.execute(spark, """
  *   MERGE INTO graftlog.`/tables/docs` AS t
  *   USING updates AS s
  *   ON t.doc_id = s.doc_id
  *   WHEN MATCHED AND t.doc_id % 10 = 4 THEN DELETE
  *   WHEN MATCHED THEN UPDATE SET text = s.text
  *   WHEN NOT MATCHED THEN INSERT *
  *   WHEN NOT MATCHED BY SOURCE AND t.stale THEN DELETE""")
  * GraftSql.execute(spark, "DELETE FROM graftlog.`/tables/docs` WHERE doc_id % 7 = 0")
  * }}}
  *
  * Design: Spark's OWN parser produces `MergeIntoTable` /
  * `UpdateTable` / `DeleteFromTable` plans for these statements. This
  * router parses with `sessionState.sqlParser`, renames every
  * ``graftlog.`x` `` relation in the plan to the registered `graft`
  * catalog ([[GraftCatalog]]), and analyzes the result through the
  * session — so DML runs through [[GraftDmlRule]], the one DML
  * translator, with the same resolved-plan semantics as a plain
  * `spark.sql` over `graft.` identifiers. INSERT / INSERT OVERWRITE /
  * REPLACE WHERE on a path spelling land here through the commit log
  * (INSERT bootstraps an empty table); their query side resolves
  * `graftlog.` sources through the same rename. EVERY other statement
  * goes to `spark.sql` untouched.
  *
  * DML therefore requires the session to carry the `graft` catalog
  * (`spark.sql.catalog.graft = graft.store.GraftCatalog`) and
  * [[graft.functions.GraftExtensions]]; `graft.Sessions.local` sets
  * both. Supported subset (loud `IllegalArgumentException` otherwise;
  * see [[GraftDmlRule]]):
  *  - `ON` must be a conjunction of `t.key = s.key` same-name
  *    equalities — [[MergeClauses]] merges are keyed (that is what
  *    makes the probe prunable at 100 TB).
  *  - `UPDATE SET col = s.col` assigns same-name source columns
  *    (or `UPDATE SET *`, which updates the target's columns by name);
  *    arbitrary update expressions are not representable as a
  *    column-copy rewrite.
  *  - `INSERT *` or a same-name column list covering every table
  *    column.
  *  - a column both sides carry must be qualified (`t.v` / `s.v`);
  *    an unqualified one is refused as ambiguous by the analyzer.
  *  - no `WITH SCHEMA EVOLUTION`.
  *
  * A DML or INSERT statement returns a 1-row frame
  * `(table, committed_version)` — the caller can thread it into a
  * `graft_log(path, version)` read for read-your-writes.
  *
  * Provenance: extension scope — the reference (a Go media-ETL
  * pipeline, `internal/ingest/transport.go` CRUD over DynamoDB) has no
  * SQL surface at all; statement semantics follow the published
  * Delta MERGE/DELETE grammar.
  */
object GraftSql {

  /** The pseudo-catalog name marking a logged-table path in SQL. */
  val Catalog = "graftlog"

  /** The REGISTERED DSv2 catalog name ([[GraftCatalog]]) — `graft.t`
    * identifiers are first-class through Spark's analyzer for
    * SELECT/INSERT/UPDATE/DELETE/MERGE/CREATE/DROP/DESCRIBE; this
    * router accepts the same spelling for the extension verbs below,
    * so one identifier form works across the whole SQL surface, and
    * renames `graftlog.` DML relations to it. */
  val CatalogV2 = "graft"

  private def isGraftCatalog(name: String): Boolean =
    name.equalsIgnoreCase(Catalog) || name.equalsIgnoreCase(CatalogV2)

  /** Run `sql`: storage statements against ``graftlog.`path` `` targets
    * execute through the commit log; everything else is `spark.sql`.
    * Two MAINTENANCE verbs Spark's grammar lacks are recognized up
    * front (the Delta OPTIMIZE/VACUUM shapes):
    * ``OPTIMIZE graftlog.`p` [TARGET <bytes>] [ZORDER BY (a, b, …)]``
    * and ``VACUUM graftlog.`p` [RETAIN <n> HOURS]``.
    *
    * The extension-verb patterns match against the statement with
    * LEADING COMMENTS and a trailing `;` stripped (so a commented
    * `-- nightly\nOPTIMIZE …` routes to the optimizer, not to Spark's
    * parser error); the verb patterns themselves are anchored
    * full-statement matches, so a verb keyword INSIDE a string
    * literal of a real SQL statement can never hijack routing — the
    * statement starts with its own verb and falls through to the
    * parser. Parser-bound statements keep their ORIGINAL text. */
  def execute(spark: SparkSession, sql: String): DataFrame = stripDecorations(sql) match {
    case OptimizeRe(qp, bp, full, target, whereStr, zcols) =>
      val path = resolvePath(spark, ident(qp, bp))
      val bytes = Option(target).map(_.toLong).getOrElse(DefaultOptimizeBytes)
      val cluster = Option(zcols).map(_.split(',').map(_.trim)
        .filter(_.nonEmpty).mkString(","))
      // default is the SELECTIVE optimizer (bin-pack small files +
      // absorb deletion vectors; ZORDER/WHERE scope re-clustering);
      // FULL forces the whole-live-set rewrite regardless of file sizes
      val v =
        if (full != null) {
          require(whereStr == null,
            "OPTIMIZE FULL rewrites the whole table — WHERE scoping " +
              "applies to the selective form only")
          CommitLog.compact(spark, path, bytes, clusterBy = cluster)
        } else CommitLog.optimize(spark, path, bytes, clusterBy = cluster,
          where = Option(whereStr).map(org.apache.spark.sql.functions.expr))
      result(spark, path, v)
    case DescribeDetailRe(qp, bp) =>
      CommitLog.detail(spark, resolvePath(spark, ident(qp, bp)))
    case DescribeHistoryRe(qp, bp) =>
      CommitLog.history(spark, resolvePath(spark, ident(qp, bp)))
    case RestoreRe(qp, bp, version, ts) =>
      val path = resolvePath(spark, ident(qp, bp))
      val v = Option(version).map(_.toLong).getOrElse(
        CommitLog.versionAtTimestamp(spark, path,
          graft.sources.GraftLogBatch.parseTsMs(ts.trim.stripPrefix("'").stripSuffix("'"))))
      result(spark, path, CommitLog.restore(spark, path, v))
    case ConvertRe(qp, bp) =>
      // Delta's `CONVERT TO DELTA`: adopt a plain-parquet directory as
      // a logged table in place — one metadata commit, zero rewrites
      val path = resolvePath(spark, ident(qp, bp))
      result(spark, path, CommitLog.convertParquet(spark, path))
    case CloneRe(dq, db, sq, sb, ver) =>
      // Delta's `CREATE TABLE t SHALLOW CLONE s [VERSION AS OF n]`:
      // one metadata commit referencing the source's files — zero copy
      val dst = resolvePath(spark, ident(dq, db))
      val src = resolvePath(spark, ident(sq, sb))
      val asOf = Option(ver).map(_.toLong).getOrElse(Long.MaxValue)
      result(spark, dst, CommitLog.shallowClone(spark, src, dst, asOf))
    case CreateTableRe(qp, bp, colsDdl) =>
      val path = resolvePath(spark, ident(qp, bp))
      require(CommitLog.latestVersion(spark, path) == 0,
        s"logged table $path already exists")
      // an empty table IS its schema ledger: one schema-only commit
      // bootstraps it, and the first INSERT/append fills it; the
      // schema fence makes a concurrent-CREATE loser fail loudly
      // instead of restamping the winner's ledger
      val schema = StructType.fromDDL(colsDdl)
      val v = CommitLog.commit(spark, path, adds = Seq.empty,
        opTag = Some("create"), schemaJson = Some(schema.json),
        schemaExpect = Some(None))
      result(spark, path, v)
    case CtasRe(qp, bp, select) =>
      val path = resolvePath(spark, ident(qp, bp))
      require(CommitLog.latestVersion(spark, path) == 0,
        s"logged table $path already exists")
      // CTAS ≡ INSERT INTO an empty table: the bootstrap path stamps
      // the query's shape into the schema ledger in the same commit
      execute(spark, s"INSERT INTO graftlog.`$path` $select")
    case DropTableRe(qp, bp) =>
      val path = resolvePath(spark, ident(qp, bp))
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // refuse to recursively delete anything that is not a logged
      // table — a mistyped path must not vaporize an arbitrary tree
      require(fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_log")),
        s"$path is not a logged table (no _graft_log) — refusing DROP")
      fs.delete(dir, true)
      import spark.implicits._
      Seq((path, true)).toDF("table", "dropped")
    case SetPropsRe(qp, bp, pairs) =>
      val path = resolvePath(spark, ident(qp, bp))
      val props = PropPairRe.findAllMatchIn(pairs)
        .map(m => m.group(1) -> m.group(2)).toMap
      require(props.nonEmpty, s"no 'key'='value' pairs in: $pairs")
      result(spark, path, CommitLog.setProperties(spark, path, props))
    case UnsetPropsRe(qp, bp, keys) =>
      val path = resolvePath(spark, ident(qp, bp))
      val ks = PropKeyRe.findAllMatchIn(keys).map(_.group(1)).toSeq
      require(ks.nonEmpty, s"no 'key' entries in: $keys")
      result(spark, path, CommitLog.unsetProperties(spark, path, ks))
    case RenameColumnRe(qp, bp, from, to) =>
      val path = resolvePath(spark, ident(qp, bp))
      result(spark, path, CommitLog.renameColumn(spark, path, from, to))
    case DropColumnRe(qp, bp, name) =>
      val path = resolvePath(spark, ident(qp, bp))
      result(spark, path, CommitLog.dropColumn(spark, path, name))
    case AddConstraintRe(qp, bp, name, check) =>
      val path = resolvePath(spark, ident(qp, bp))
      result(spark, path, CommitLog.addConstraint(spark, path, name, check.trim))
    case DropConstraintRe(qp, bp, name) =>
      val path = resolvePath(spark, ident(qp, bp))
      result(spark, path, CommitLog.dropConstraint(spark, path, name))
    case VacuumRe(qp, bp, hours, dry) =>
      val path = resolvePath(spark, ident(qp, bp))
      val ageMs = Option(hours).map(_.toLong * 3600000L)
        .getOrElse(DefaultVacuumRetainMs)
      // DRY RUN: report what WOULD be reclaimed, touch nothing —
      // the operator's pre-flight for a destructive retention pass
      val swept = CommitLog.vacuum(spark, path, minAgeMs = ageMs,
        dryRun = dry != null)
      import spark.implicits._
      Seq((path, swept.size.toLong, dry != null))
        .toDF("table", "n_reclaimed", "dry_run")
    case _ => executeParsed(spark, sql)
  }

  /** The statically-known RESULT SCHEMA of an extension-verb statement
    * this router would execute; None when the statement is not an
    * extension verb. What [[GraftSqlParser]] consults at PARSE time —
    * schema without execution, because a parser must never run the
    * command it is parsing. Kept in the router so the verb grammar and
    * its result shape live in ONE place (a verb added here without a
    * schema row is caught by GraftSqlParserSpec's round-trip). */
  private[store] def routedSchema(sql: String): Option[StructType] =
    stripDecorations(sql) match {
      case OptimizeRe(_*) | RestoreRe(_*) | CloneRe(_*) | ConvertRe(_*) |
           CreateTableRe(_*) |
           CtasRe(_*) | SetPropsRe(_*) | UnsetPropsRe(_*) |
           RenameColumnRe(_*) | DropColumnRe(_*) | AddConstraintRe(_*) |
           DropConstraintRe(_*) => Some(VersionResultSchema)
      case DescribeDetailRe(_*) => Some(DetailResultSchema)
      case DescribeHistoryRe(_*) => Some(HistoryResultSchema)
      case DropTableRe(_*) => Some(DropResultSchema)
      case VacuumRe(_*) => Some(VacuumResultSchema)
      case _ => None
    }

  /** DESCRIBE HISTORY/DETAIL are the two extension verbs Spark's
    * grammar does not REJECT — it MIS-PARSES them as `DESCRIBE <table>
    * <column>` and fails later at analysis — so [[GraftSqlParser]]
    * must claim them BEFORE delegating. Unambiguous in practice: the
    * pattern requires the graft/graftlog catalog spelling, which a
    * genuine DESCRIBE-column statement on a table literally named
    * HISTORY/DETAIL would not carry in that position. */
  private[store] def describeVerbSchema(sql: String): Option[StructType] =
    stripDecorations(sql) match {
      case DescribeDetailRe(_*) => Some(DetailResultSchema)
      case DescribeHistoryRe(_*) => Some(HistoryResultSchema)
      case _ => None
    }

  import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField}
  private val VersionResultSchema = StructType(Seq(
    StructField("table", StringType), StructField("committed_version", LongType)))
  private val DetailResultSchema = StructType(Seq(
    StructField("table", StringType), StructField("version", LongType),
    StructField("num_files", LongType), StructField("size_bytes", LongType),
    StructField("num_vectored_files", LongType),
    StructField("num_vectored_positions", LongType),
    StructField("num_constraints", LongType),
    StructField("schema_source", StringType),
    StructField("last_commit_ts_ms", LongType),
    StructField("properties",
      org.apache.spark.sql.types.MapType(StringType, StringType))))
  private val HistoryResultSchema = StructType(Seq(
    StructField("version", LongType), StructField("operation", StringType),
    StructField("n_added", LongType), StructField("n_removed", LongType),
    StructField("commit_ts_ms", LongType)))
  private val DropResultSchema = StructType(Seq(
    StructField("table", StringType), StructField("dropped", BooleanType)))
  private val VacuumResultSchema = StructType(Seq(
    StructField("table", StringType), StructField("n_reclaimed", LongType),
    StructField("dry_run", BooleanType)))

  /** Leading `--` line comments / `/* */` block comments and one
    * trailing `;` stripped — ONLY at the statement's edges, never
    * inside it (a `--` inside a string literal mid-statement is
    * content, not a comment, and the edge-only rule cannot touch
    * it). */
  private[store] def stripDecorations(sql: String): String = {
    var s = sql
    var changed = true
    while (changed) {
      changed = false
      val t = s.dropWhile(_.isWhitespace)
      if (t.startsWith("--")) { s = t.dropWhile(_ != '\n'); changed = true }
      else if (t.startsWith("/*") && t.contains("*/")) {
        s = t.substring(t.indexOf("*/") + 2); changed = true
      } else s = t
    }
    val out = s.reverse.dropWhile(_.isWhitespace).reverse
    if (out.endsWith(";"))
      out.dropRight(1).reverse.dropWhile(_.isWhitespace).reverse
    else out
  }

  // Table identifier after either catalog name: a backquoted path
  // (``graft.`/abs/path` ``) or a bare warehouse-resolved name
  // (`graft.docs`) — two capture groups per identifier, folded back
  // together by `ident` at the match sites.
  private val TableId = """(?:graftlog|graft)\s*\.\s*(?:`([^`]+)`|(\w+))"""
  private def ident(quoted: String, bare: String): String =
    Option(quoted).getOrElse(bare)

  private val OptimizeRe =
    (s"""(?is)\\s*OPTIMIZE\\s+$TableId""" +
      """(\s+FULL)?(?:\s+TARGET\s+(\d+))?(?:\s+WHERE\s+(.+?))?""" +
      """(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*""").r
  private val VacuumRe =
    (s"""(?is)\\s*VACUUM\\s+$TableId""" +
      """(?:\s+RETAIN\s+(\d+)\s+HOURS?)?(\s+DRY\s+RUN)?\s*""").r
  private val DescribeDetailRe =
    s"""(?is)\\s*DESCRIBE\\s+DETAIL\\s+$TableId\\s*""".r
  private val DescribeHistoryRe =
    s"""(?is)\\s*DESCRIBE\\s+HISTORY\\s+$TableId\\s*""".r
  // RESTORE … TO VERSION AS OF n | TO TIMESTAMP AS OF '…' (Delta verb)
  private val RestoreRe =
    (s"""(?is)\\s*RESTORE\\s+(?:TABLE\\s+)?$TableId\\s+TO\\s+""" +
      """(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+(.+?))\s*""").r
  // CREATE/DROP: the named-table lifecycle (bare names resolve through
  // spark.graft.warehouse; paths work too). With the `graft` catalog
  // registered these verbs ALSO work through plain spark.sql — this
  // route keeps them available for `graftlog.` path spellings.
  private val CreateTableRe =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+$TableId\\s*\\((.+)\\)\\s*""".r
  private val CtasRe =
    s"""(?is)\\s*CREATE\\s+TABLE\\s+$TableId\\s+AS\\s+(.+?)\\s*""".r
  // adopt-in-place (Delta's CONVERT TO DELTA verb)
  private val ConvertRe =
    s"""(?is)\\s*CONVERT\\s+TO\\s+GRAFT\\s+$TableId\\s*""".r
  // zero-copy snapshot (Delta's SHALLOW CLONE verb)
  private val CloneRe =
    (s"""(?is)\\s*CREATE\\s+TABLE\\s+$TableId\\s+SHALLOW\\s+CLONE\\s+""" +
      s"""$TableId(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+))?\\s*""").r
  private val DropTableRe =
    s"""(?is)\\s*DROP\\s+TABLE\\s+$TableId\\s*""".r
  // TBLPROPERTIES (bloom.columns/bloom.ndv drive write-time bloom
  // filters through every maintenance path)
  private val SetPropsRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+SET\\s+""" +
      """TBLPROPERTIES\s*\((.+)\)\s*""").r
  private val UnsetPropsRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+UNSET\\s+""" +
      """TBLPROPERTIES\s*\((.+)\)\s*""").r
  private val PropPairRe = """'([^']+)'\s*=\s*'([^']*)'""".r
  private val PropKeyRe = """'([^']+)'""".r
  // column-mapping evolution: rename is metadata-only (stable physical
  // names), drop hides without rewrites (physical name burned)
  private val RenameColumnRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+RENAME\\s+COLUMN\\s+""" +
      """(\w+)\s+TO\s+(\w+)\s*""").r
  private val DropColumnRe =
    s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+DROP\\s+COLUMN\\s+(\\w+)\\s*""".r
  // CHECK constraints (the Delta ALTER TABLE … ADD CONSTRAINT shape)
  private val AddConstraintRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+ADD\\s+CONSTRAINT\\s+""" +
      """(\w+)\s+CHECK\s*\((.+)\)\s*""").r
  private val DropConstraintRe =
    (s"""(?is)\\s*ALTER\\s+TABLE\\s+$TableId\\s+DROP\\s+CONSTRAINT\\s+""" +
      """(\w+)\s*""").r
  private val DefaultOptimizeBytes = 128L * 1024 * 1024
  private val DefaultVacuumRetainMs = 7L * 24 * 3600000L // Delta's default

  private def executeParsed(spark: SparkSession, sql: String): DataFrame =
    spark.sessionState.sqlParser.parsePlan(sql) match {
      // DML analyzes through the session: with the `graftlog.` names
      // renamed to the `graft` catalog, GraftDmlRule turns the RESOLVED
      // command into the commit-log operation and returns its
      // (table, committed_version) row
      case dml @ (_: DeleteFromTable | _: UpdateTable | _: MergeIntoTable) =>
        StreamingShim.ofRows(spark, toCatalog(spark, dml))
      case i: InsertIntoStatement =>
        pathOf(i.table) match {
          case Some(path) => runInsert(spark, i, resolvePath(spark, path))
          case None => spark.sql(sql)
        }
      // `INSERT INTO graftlog.`p` REPLACE WHERE cond SELECT …` parses
      // to OverwriteByExpression (the v2 write plan), not an
      // InsertIntoStatement — route the path spelling to replaceWhere
      case o: OverwriteByExpression =>
        pathOf(o.table) match {
          case Some(path) => runReplaceWhere(spark, o, resolvePath(spark, path))
          case None => spark.sql(sql)
        }
      case _ => spark.sql(sql)
    }

  // ── target recognition ────────────────────────────────────────────

  /** Absolute local path or scheme-qualified Hadoop URI (hdfs://,
    * s3a://, file:/ …) — the shapes path-addressed identifiers accept;
    * anything relative would resolve against an undefined working
    * directory with DROP TABLE deleting recursively. */
  private[graft] def isAbsolutePath(p: String): Boolean =
    p.startsWith("/") || p.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")

  /** Resolve a graftlog table identifier: a PATH (contains '/')
    * passes through; a bare NAME resolves against the session's
    * `spark.graft.warehouse` root — the SQL-only user's named-table
    * surface (`CREATE TABLE graftlog.`corpus` …`, then every verb by
    * name). */
  private[graft] def resolvePath(spark: SparkSession, ident: String): String =
    if (ident.contains('/')) {
      // path-addressed: explicit and absolute only — a RELATIVE path
      // would resolve against an undefined working directory, and
      // DROP TABLE deletes recursively (same guard as GraftCatalog)
      require(isAbsolutePath(ident),
        s"path-addressed graftlog table `$ident` must be an absolute " +
          "path or a scheme-qualified URI")
      ident
    } else {
      // warehouse-resolved names must stay UNDER the warehouse: `..`
      // would resolve outside it and DROP could then delete an
      // out-of-warehouse directory that contains a _graft_log
      require(ident.nonEmpty && ident != "." && ident != "..",
        s"invalid graftlog table name `$ident`")
      spark.conf.getOption("spark.graft.warehouse") match {
        case Some(wh) => s"${wh.stripSuffix("/")}/$ident"
        case None => throw new IllegalArgumentException(
          s"graftlog table `$ident` is a bare name — set spark.graft.warehouse " +
            "to resolve names against a root, or address the table by path")
      }
    }

  /** ``[alias ->] graftlog.`/path` `` → the identifier after the
    * catalog name. */
  private def pathOf(plan: LogicalPlan): Option[String] = plan match {
    case SubqueryAlias(_, child) => pathOf(child)
    case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
        isGraftCatalog(u.multipartIdentifier.head) =>
      Some(u.multipartIdentifier(1))
    case _ => None
  }

  /** Rename every ``graftlog.`x` `` relation in a parsed plan to the
    * registered catalog, ``graft.`<resolved path>` ``: the one way a
    * `graftlog.` name resolves inside a statement — through
    * [[GraftCatalog]] (and, in read positions, [[GraftV2ReadRule]]'s
    * native relation). */
  private def toCatalog(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase(Catalog) =>
        u.copy(multipartIdentifier =
          Seq(CatalogV2, resolvePath(spark, u.multipartIdentifier(1))))
    }

  private def result(spark: SparkSession, path: String, version: Long): DataFrame = {
    import spark.implicits._
    Seq((path, version)).toDF("table", "committed_version")
  }

  // ── INSERT ────────────────────────────────────────────────────────

  /** `INSERT INTO` appends through the commit log; `INSERT OVERWRITE`
    * is the atomic full replace. Column matching follows SQL INSERT:
    * an explicit column list (or `BY NAME`) matches by name — columns
    * left out null-fill; otherwise positional, requiring the table's
    * arity, cast to the table's types. The query side resolves through
    * the session with `graftlog` relations renamed to the catalog, so
    * `INSERT INTO graftlog.`/a` SELECT * FROM graftlog.`/b`` works. */
  private def runInsert(spark: SparkSession, i: InsertIntoStatement,
      path: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(i.partitionSpec.isEmpty && !i.ifPartitionNotExists,
      "logged tables have no partition dirs — cluster with compaction " +
        "(Z-order); stats pruning replaces partition pruning")
    val q = StreamingShim.ofRows(spark, toCatalog(spark, i.query))
    // INSERT into a table with no commits yet BOOTSTRAPS it: the query's
    // shape becomes the table's, stamped into the schema ledger (the
    // CTAS-flavored path — there is no separate CREATE TABLE verb)
    if (CommitLog.latestVersion(spark, path) == 0) {
      require(i.userSpecifiedCols.isEmpty,
        s"INSERT column list into EMPTY logged table $path — the table has " +
          "no schema to null-fill against; insert the full row shape first")
      val v = if (i.overwrite) CommitLog.overwrite(q, path)
        else CommitLog.append(q, path, mergeSchema = true)
      return result(spark, path, v)
    }
    val schema = CommitLog.tableSchema(spark, path)
    val byName = i.byName || i.userSpecifiedCols.nonEmpty
    val aligned =
      if (byName) {
        val given: Seq[String] =
          if (i.userSpecifiedCols.nonEmpty) i.userSpecifiedCols
          else q.schema.fieldNames.toSeq
        val unknown = given.filterNot(schema.fieldNames.contains)
        require(unknown.isEmpty,
          s"INSERT column(s) ${unknown.mkString(", ")} not in $path " +
            s"(${schema.fieldNames.mkString(", ")})")
        require(given.distinct.size == given.size,
          s"duplicate INSERT column in ${given.mkString(", ")}")
        require(q.schema.size == given.size,
          s"INSERT column list has ${given.size} column(s) but the query " +
            s"produces ${q.schema.size}")
        val renamed = q.toDF(given: _*)
        val missing = schema.filterNot(f => given.contains(f.name))
        missing.foreach(f => require(f.nullable,
          s"INSERT omits non-nullable column ${f.name} of $path"))
        renamed.select(schema.fields.map(f =>
          (if (given.contains(f.name)) col(f.name)
           else lit(null)).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      } else {
        require(q.schema.size == schema.size,
          s"INSERT query produces ${q.schema.size} column(s); $path has " +
            s"${schema.size} — name them with INSERT INTO ... (cols)")
        q.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      }
    val v = if (i.overwrite) CommitLog.overwrite(aligned, path)
      else CommitLog.append(aligned, path)
    result(spark, path, v)
  }

  /** `INSERT INTO graftlog.`p` REPLACE WHERE cond SELECT …` — the
    * predicate-scoped atomic overwrite ([[CommitLog.replaceWhere]]) on
    * a path-spelled table; the catalog spelling routes through
    * [[GraftWriteBuilder]]. Column matching is POSITIONAL (Spark's
    * REPLACE WHERE grammar admits no BY NAME or column list): table
    * arity, cast to the table's types. The WHERE condition names
    * TARGET columns only. Requires an existing table — a replace
    * swaps rows inside a declared shape; bootstrap with INSERT INTO
    * first. */
  private def runReplaceWhere(spark: SparkSession, o: OverwriteByExpression,
      path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(CommitLog.latestVersion(spark, path) > 0,
      s"REPLACE WHERE requires an existing logged table at $path — " +
        "bootstrap with INSERT INTO first")
    // the by-name flavor of OverwriteByExpression exists only on the
    // writeTo()/catalog path, which never reaches this seam
    require(!o.isByName,
      "by-name REPLACE WHERE is not reachable through raw SQL — use " +
        "df.writeTo(\"graft.t\").overwrite(cond) for by-name semantics")
    val schema = CommitLog.tableSchema(spark, path)
    val q = StreamingShim.ofRows(spark, toCatalog(spark, o.query))
    require(q.schema.size == schema.size,
      s"REPLACE WHERE query produces ${q.schema.size} column(s); $path " +
        s"has ${schema.size} — matching is positional, so the SELECT must " +
        "produce the table's full arity in order")
    val aligned = q.toDF(schema.fieldNames.toIndexedSeq: _*)
      .select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
    // the condition names TARGET columns, unqualified: it renders as
    // a predicate over the table's own rows
    val qualified = o.deleteExpr.collect {
      case a: UnresolvedAttribute if a.nameParts.length > 1 => a.name
    }
    require(qualified.isEmpty, "REPLACE WHERE condition sees only TARGET " +
      s"columns, unqualified; got ${qualified.mkString(", ")}")
    val predicate = expr(o.deleteExpr.sql)
    result(spark, path, CommitLog.replaceWhere(aligned, path, predicate))
  }
}
