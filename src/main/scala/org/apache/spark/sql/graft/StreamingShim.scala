package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The one `private[sql]` bridge a V1 streaming Source built outside
  * Spark's own tree needs: `MicroBatchExecution` asserts that the
  * DataFrame a `Source.getBatch` returns carries `isStreaming = true`,
  * and the only way to mint such a frame is
  * `SparkSession.internalCreateDataFrame(rdd, schema, isStreaming)`,
  * which is `private[sql]`. Every out-of-tree V1 connector (the
  * pre-merge Delta source among them) ships exactly this shim: a tiny
  * object in an `org.apache.spark.sql` subpackage whose ONLY job is to
  * re-expose that constructor. Nothing else in this repo lives outside
  * the `graft` namespace, and nothing here touches any other internal.
  */
object StreamingShim {

  /** Re-wrap a batch DataFrame as a streaming one: same rows, same
    * schema, `isStreaming = true` — what `getBatch` must hand back to
    * the micro-batch executor. The RDD is the batch plan's execution,
    * so evaluation stays lazy and whole-stage-codegen'd; this adds a
    * plan node, not a materialization. */
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val rdd = df.asInstanceOf[ClassicDataset[Row]].queryExecution.toRdd
    spark.internalCreateDataFrame(rdd, df.schema, isStreaming = true)
  }

  /** Analyze a (possibly unresolved) logical plan into a DataFrame —
    * what `spark.sql` does after parsing. The GraftSql statement
    * router needs it to run a parsed statement after renaming its
    * relations, and GraftDmlRule to turn a MERGE's `USING` subplan into
    * the source frame; `Dataset.ofRows` is `private[sql]` for no deeper
    * reason than the streaming constructor above. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** The inverse bridge for a V1 streaming SINK: the DataFrame
    * `Sink.addBatch` receives carries the incremental streaming plan,
    * and re-planning it through a batch writer (`df.write...`) trips
    * the "streaming sources must be executed with writeStream" check.
    * Re-wrap its already-planned RDD as a plain batch frame — same
    * rows, lazy, codegen intact — exactly what the pre-merge Delta
    * sink did. */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[ClassicSession]
    val rdd = df.asInstanceOf[ClassicDataset[Row]].queryExecution.toRdd
    spark.internalCreateDataFrame(rdd, df.schema, isStreaming = false)
  }

  /** Catalyst predicate → public `sources.Filter`, Spark's own
    * translation (`protected[sql]` on DataSourceStrategy for no deeper
    * reason than the constructors above). The GraftLogFileIndex prunes
    * files against exactly what a FileSourceScan would push down. */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)
}

/** Re-exposes the `private[sql]` V1-fallback table trait: a catalog
  * table mixing this in tells Spark's streaming resolution to build
  * the V1 streaming Source described by `v1Table` (provider +
  * options) when the table itself has no DSv2 streaming scan — the
  * shape the pre-merge Delta connector used for
  * `spark.readStream.table(...)`. Same justification as the rest of
  * this shim: one access modifier, no other internals touched. */
trait V1FallbackTable
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
