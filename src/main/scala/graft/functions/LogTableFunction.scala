package graft.functions

import graft.store.CommitLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_log('/path/to/table'[, version])` — the logged table (and its
  * history) as a TABLE-VALUED FUNCTION, so a SQL-only user can time
  * travel without touching the Scala API:
  *
  * {{{
  *   SELECT * FROM graft_log('/data/corpus')            -- latest
  *   SELECT * FROM graft_log('/data/corpus', 3)         -- VERSION AS OF 3
  * }}}
  *
  * The schema comes from the log's schema ledger AT the requested
  * version (a pre-evolution snapshot reads under its historical
  * schema), falling back to newest-live-file inference for tables no
  * evolving writer has stamped. The plan returned is exactly
  * `CommitLog.read`'s — a pruned parquet scan of the live set at that
  * version, with every pushdown Catalyst gives any other scan. Both
  * arguments must be literals: the log replay that resolves the file
  * list is driver-side planning work, not a row-dependent expression.
  *
  * Registered by [[GraftFunctions.register]] (session) and
  * [[GraftExtensions]] (spark.sql.extensions), alongside the scalar
  * kernels. Write-side statements (MERGE INTO, UPDATE, DELETE) run
  * through the `graft` catalog and [[graft.store.GraftDmlRule]] — a
  * table function cannot mutate. */
object LogTableFunction {

  val descriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_log"),
    new ExpressionInfo(LogTableFunction.getClass.getName, "graft_log"),
    (args: Seq[Expression]) => build(args))

  /** `graft_log_changes('/path', since[, asOf])` — the CDC change feed
    * as a table-valued function: every row the table gained or lost in
    * versions (since, asOf], tagged `_change_type` / `_commit_version`
    * (the `CommitLog.changesSince` contract — compactions feed
    * nothing, delete/merge commits feed their pre/post-images, pruned
    * or vacuumed ranges raise the typed FeedGapException). The SQL
    * complement of the `graftlog` streaming source: an analyst audits
    * "what changed since version N" from a prompt, no Scala. */
  val changesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) = (
    FunctionIdentifier("graft_log_changes"),
    new ExpressionInfo(LogTableFunction.getClass.getName, "graft_log_changes"),
    (args: Seq[Expression]) => buildChanges(args))

  private def build(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 1 || args.length == 2,
      s"graft_log expects (path[, version]), got ${args.length} args")
    val rawPath = args.head match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_log path must be a string literal, got $other")
    }
    val asOf = if (args.length < 2) Long.MaxValue
    else args(1) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"graft_log version must be an integer literal, got $other")
    }
    val spark = SparkSession.active
    val path = graft.store.GraftSql.resolvePath(spark, rawPath)
    CommitLog.read(spark, path, CommitLog.tableSchema(spark, path, asOf), asOf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.logical
  }

  private def buildChanges(args: Seq[Expression]): LogicalPlan = {
    require(args.length == 2 || args.length == 3,
      s"graft_log_changes expects (path, since[, asOf]), got ${args.length} args")
    val rawPath = args.head match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"graft_log_changes path must be a string literal, got $other")
    }
    def longArg(e: Expression, what: String): Long = e match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"graft_log_changes $what must be an integer literal, got $other")
    }
    val since = longArg(args(1), "since")
    val asOf = if (args.length == 3) longArg(args(2), "asOf") else Long.MaxValue
    val spark = SparkSession.active
    val path = graft.store.GraftSql.resolvePath(spark, rawPath)
    CommitLog.changesSince(spark, path, since,
      CommitLog.tableSchema(spark, path, asOf), asOf)
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.logical
  }
}
