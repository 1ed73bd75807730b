package graft.sources

import graft.store.CommitLog
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The logged table as a STANDARD Spark batch relation:
  * `read.format("graftlog").load(tablePath)` — the batch
  * counterpart of [[GraftLogStreamProvider]], completing the "any
  * Spark API consumes the log" surface.
  *
  * One Snapshot feeds the schema, the live set and the mapping. A
  * DV-free, unmapped snapshot is served by the one scan path
  * ([[CommitLog.scanRelation]]): a [[GraftLogFileIndex]] over the live
  * set, so Catalyst's pushed data predicates skip files from
  * LOG-CARRIED min/max stats before any file opens, and everything
  * downstream is Spark's native vectorized parquet path (row-group
  * filters, column pruning, whole-stage codegen). `sizeInBytes` comes from the
  * same listing, so a dimension-sized logged table auto-broadcasts in
  * joins. A snapshot carrying deletion vectors or a column mapping
  * reads through [[GraftLogDvRelation]], whose scan is
  * [[CommitLog.visibleRows]] over the same scan path.
  *
  * Time travel rides options: `versionAsOf` (commit version) or
  * `timestampAsOf` (epoch millis or ISO instant/`yyyy-MM-dd
  * HH:mm:ss`, resolved through the clamped in-commit timestamps).
  *
  * Writes: `df.write.format("graftlog").mode(...)` — Append lands a
  * logged append, Overwrite an atomic full replace
  * ([[CommitLog.overwrite]]), ErrorIfExists/Ignore consult the log's
  * existence. `mergeSchema` evolves the schema ledger on append;
  * unrecognized options pass through to the parquet writer (the
  * `parquet.bloom.filter.*` knobs keep point-lookup indexes alive
  * through this path too). */
private[graft] object GraftLogBatch {

  /** Option keys the relation itself consumes; everything else is
    * forwarded to the parquet writer on the write path. */
  private val Reserved =
    Set("path", "versionasof", "timestampasof", "mergeschema")

  def relation(spark: SparkSession,
      parameters: Map[String, String],
      user: Option[StructType]): BaseRelation = {
    val path = graft.store.GraftSql.resolvePath(spark,
      GraftLogStreamProvider.pathOf(parameters))
    val snap = CommitLog.snapshot(spark, path, asOfVersion(spark, path, parameters))
    val schema = user.getOrElse(CommitLog.tableSchema(spark, path, snap))
    // a bare file relation would resurrect vectored positions and has
    // no projection hook to alias physical names back to logical ones
    val entries = snap.live
    if (entries.exists(_.dv.isDefined) || snap.mapping.nonEmpty)
      new GraftLogDvRelation(spark, path, nullify(schema), entries, snap.mapping)
    else CommitLog.scanRelation(spark, path, entries, schema)
  }

  def write(spark: SparkSession, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): Unit = {
    val path = graft.store.GraftSql.resolvePath(spark,
      GraftLogStreamProvider.pathOf(parameters))
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    require(!opts.contains("versionasof") && !opts.contains("timestampasof"),
      "time travel options are read-only — cannot write AS OF a version")
    val mergeSchema = opts.get("mergeschema").exists(_.toBoolean)
    val passThrough = parameters.filter { case (k, _) =>
      !Reserved(k.toLowerCase) }
    val exists = CommitLog.latestVersion(spark, path) > 0
    mode match {
      case SaveMode.Append =>
        CommitLog.append(data, path, writeOptions = passThrough,
          mergeSchema = mergeSchema)
      case SaveMode.Overwrite =>
        CommitLog.overwrite(data, path, writeOptions = passThrough)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"logged table $path already exists (SaveMode.ErrorIfExists) — " +
            "use mode(\"append\") or mode(\"overwrite\")")
        CommitLog.append(data, path, writeOptions = passThrough,
          mergeSchema = mergeSchema)
      case SaveMode.Ignore =>
        if (!exists)
          CommitLog.append(data, path, writeOptions = passThrough,
            mergeSchema = mergeSchema)
    }
  }

  /** Resolve the read snapshot: explicit version, wall-clock
    * timestamp through the in-commit-timestamp index, else latest. */
  private def asOfVersion(spark: SparkSession, path: String,
      parameters: Map[String, String]): Long = {
    val opts = parameters.map { case (k, v) => k.toLowerCase -> v }
    require(!(opts.contains("versionasof") && opts.contains("timestampasof")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    opts.get("versionasof").map(_.toLong)
      .orElse(opts.get("timestampasof").map(ts =>
        CommitLog.versionAtTimestamp(spark, path, parseTsMs(ts))))
      .getOrElse(Long.MaxValue)
  }

  private[graft] def parseTsMs(s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else scala.util.Try(java.time.Instant.parse(s).toEpochMilli).getOrElse(
      java.sql.Timestamp.valueOf(s).getTime)

  private def nullify(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nullify(a.elementType))
      case m: MapType => m.copy(valueType = nullify(m.valueType))
      case other => other
    }
  }
  private[graft] def nullify(s: StructType): StructType =
    nullify(s: org.apache.spark.sql.types.DataType).asInstanceOf[StructType]
}

/** The file index of every logged-table scan, built only by
  * [[CommitLog.scanRelation]]: an explicit list of log entries (a
  * snapshot's live set or a subset of it, vector files, change files),
  * each paired with its FileStatus and its log-carried column stats.
  *
  *  - Statuses come from ONE directory listing per distinct parent
  *    ([[CommitLog.statusFor]]) taken when the index is built, never a
  *    per-file call; a listed entry that is missing fails the planning
  *    loudly ("… vacuumed …").
  *  - `listFiles` keeps only the files no pushed data predicate
  *    refutes. Stats are keyed by the names files carry (physical
  *    names on a column-mapped table), which are the names of the
  *    relation's dataSchema. Files without stats, or with stats a
  *    predicate can't be compared against, are always kept — pruning
  *    is an optimization, never a correctness input.
  *  - `refresh()` re-lists the SAME entries. It never widens to a newer
  *    or fuller snapshot: the CacheManager refreshes indexes by root
  *    path, and a subset index (visibleRows' vector-free part) must
  *    not pick up the files a deletion vector guards.
  *  - Two indexes are equal when they cover the same files under the
  *    same root (the InMemoryFileIndex contract), so exchange reuse and
  *    cache lookups see through separately built scans of one set. */
final class GraftLogFileIndex private[graft] (spark: SparkSession,
    tablePath: String, entries: Seq[CommitLog.LiveEntry],
    listed: Option[Map[String, FileStatus]])
    extends FileIndex {

  /** The live set at `asOf` (latest by default). */
  def this(spark: SparkSession, tablePath: String, asOf: Long = Long.MaxValue) =
    this(spark, tablePath, CommitLog.snapshot(spark, tablePath, asOf).live, None)

  private val root = new Path(tablePath)

  private val paths = entries.map(e => CommitLog.resolveDataPath(tablePath, e.name))

  private lazy val key = (tablePath, paths.toSet)

  @volatile private var statuses: Seq[FileStatus] = resolve(listed.getOrElse(list()))

  private def list(): Map[String, FileStatus] = CommitLog.statusFor(
    root.getFileSystem(spark.sparkContext.hadoopConfiguration), tablePath,
    entries.map(_.name))

  private def resolve(status: Map[String, FileStatus]): Seq[FileStatus] =
    entries.zip(paths).map { case (e, abs) =>
      status.getOrElse(abs, throw new IllegalStateException(
        s"live data file ${e.name} of $tablePath is missing — the snapshot " +
          "predates the retention window (vacuumed), the table is corrupt, " +
          "or a clone source was vacuumed from under this clone"))
    }

  /** Per-file column stats (None = the file was committed without a
    * stats suffix), keyed by the names the files carry — the metadata
    * [[graft.store.GraftStatsAggRule]] folds to answer unfiltered
    * COUNT/MIN/MAX without opening a single data file. */
  private[graft] lazy val fileStats: Seq[Option[Map[String, (Any, Any)]]] =
    entries.map(_.stats.map(CommitLog.parseStatsJson))

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType = StructType(Nil)

  override def refresh(): Unit = statuses = resolve(list())

  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray

  override def sizeInBytes: Long = statuses.map(_.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val translated = dataFilters.flatMap(e =>
      org.apache.spark.sql.graft.StreamingShim.translateFilter(e))
    val kept =
      if (translated.isEmpty) statuses
      else statuses.zip(fileStats).collect { case (st, stats)
        if stats.forall(m => translated.forall(f => StatsPruning.possible(m, f))) => st
      }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def equals(other: Any): Boolean = other match {
    case o: GraftLogFileIndex => key == o.key
    case _ => false
  }

  override def hashCode: Int = key.hashCode

  override def toString: String = s"GraftLogFileIndex[$tablePath, ${paths.size} files]"
}

/** Snapshot reads of a logged table carrying DELETION VECTORS or a
  * COLUMN MAPPING through the DSv1 scan seam: a `HadoopFsRelation` has
  * no hook to subtract vectored positions or to alias physical names
  * back to logical ones, so this relation's scan is
  * [[CommitLog.visibleRows]] — [[CommitLog.scan]] relations under
  * the mapping's aliases and the vectors' anti-join. The pushed
  * filters and the required-column projection are re-applied INSIDE
  * that plan: Catalyst pushes the filters below the aliases into the
  * [[GraftLogFileIndex]] scans (log-stats file skipping, parquet
  * row-group filters) and prunes columns there. A vector only removes
  * rows, so the add-time stats stay a sound envelope. The `df.rdd`
  * bridge adds one external-row conversion — the cost of reading an
  * unabsorbed vectored snapshot; OPTIMIZE restores the native path.
  * Spark re-evaluates every filter above this relation
  * (`unhandledFilters` default), so the inner re-application is purely
  * an optimization. */
private[graft] final class GraftLogDvRelation(spark: SparkSession,
    tablePath: String, dataSchema: StructType,
    entries: Seq[CommitLog.LiveEntry], mapping: Map[String, String])
    extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext

  override def schema: StructType = dataSchema

  /** Per-live-file LOGICAL column stats at this snapshot (remapped on
    * a column-mapped table) — the metadata aggregate
    * ([[graft.store.GraftStatsAggRule]]) folds these the same way it
    * folds [[GraftLogFileIndex.fileStats]]. */
  private[graft] def fileStats: Seq[Option[Map[String, (Any, Any)]]] =
    entries.map(_.stats.map(j =>
      CommitLog.statsToLogical(CommitLog.parseStatsJson(j), mapping)))

  /** Per-live-file deletion-vector state: None = no vector (every
    * physical row visible); Some(Some(n)) = a vector deleting n of
    * the file's rows; Some(None) = a vector whose position count the
    * attaching commit did not record (consumers must abstain). */
  private[graft] def dvState: Seq[Option[Option[Long]]] =
    entries.map(e => e.dv.map(_ => e.dvRows))

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val base = CommitLog.visibleRows(spark, tablePath, dataSchema, entries, mapping)
    val filtered = filters.flatMap(FilterColumns.toColumn).foldLeft(base)(_.filter(_))
    val projected =
      if (requiredColumns.isEmpty)
        // COUNT(*)-shaped scan: no columns needed, only row multiplicity
        filtered.select()
      else filtered.select(requiredColumns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*)
    projected.rdd
  }

  override def toString: String = s"GraftLogDvRelation[$tablePath]"
}

/** Best-effort `sources.Filter` → Column translation, shared by the
  * DV relation's inner pushdown and the V2 catalog's delete/scan
  * bridges; None (un-translatable) is safe wherever it is used —
  * Spark re-applies everything above a scan, and the delete path
  * refuses up front via canDeleteWhere. */
private[graft] object FilterColumns {
  def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) if vs != null => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, p) => Some(col(a).startsWith(p))
      case StringEndsWith(a, p) => Some(col(a).endsWith(p))
      case StringContains(a, p) => Some(col(a).contains(p))
      case And(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
      case Or(l, r) =>
        for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
      case Not(c) => toColumn(c).map(not)
      case _ => None
    }
  }
}

/** Evaluates a pushed-down `sources.Filter` against one file's
  * log-carried (min, max) envelope. `possible = false` means the file
  * PROVABLY holds no matching row; every uncertain branch answers
  * true. String bounds may be truncate-and-successor encoded
  * (CommitLog.statsLowerBound/statsUpperBound), which only widens the
  * envelope — every test here stays sound against widened bounds. */
private[graft] object StatsPruning {

  def possible(stats: Map[String, (Any, Any)], f: Filter): Boolean = f match {
    case EqualTo(a, v) => overlaps(stats, a, v)
    case EqualNullSafe(a, null) => nullPossible(stats, a) // `a <=> NULL` ≡ IS NULL
    case EqualNullSafe(a, v) => overlaps(stats, a, v)
    case In(a, vs) =>
      vs == null || vs.exists(v => v == null || overlaps(stats, a, v))
    case LessThan(a, v) => minBelow(stats, a, v, orEq = false)
    case LessThanOrEqual(a, v) => minBelow(stats, a, v, orEq = true)
    case GreaterThan(a, v) => maxAbove(stats, a, v, orEq = false)
    case GreaterThanOrEqual(a, v) => maxAbove(stats, a, v, orEq = true)
    case StringStartsWith(a, p) => prefixPossible(stats, a, p)
    // null-count pruning: a recorded `<col>.nulls` of 0 refutes
    // IS NULL; nulls == rows.count (all-null file) refutes IS NOT
    // NULL. Sound under deletion vectors — a DV only removes rows, so
    // "no row in the file matches" still covers every visible row.
    case IsNull(a) => nullPossible(stats, a)
    case IsNotNull(a) =>
      (for { n <- nullsOf(stats, a)
             rc <- reservedLong(stats, CommitLog.RowCountKey) }
        yield rc > n).getOrElse(true)
    case And(l, r) => possible(stats, l) && possible(stats, r)
    case Or(l, r) => possible(stats, l) || possible(stats, r)
    // Not(...): refuting a negation needs exact bounds, not an
    // envelope.
    case _ => true
  }

  /** Can a row of this file be NULL in `a`? false only when the file
    * recorded zero nulls. */
  private def nullPossible(stats: Map[String, (Any, Any)], col: String): Boolean =
    nullsOf(stats, col).forall(_ > 0L)

  /** The column's log-carried null count — None (abstain) for dotted
    * attribute names: the emitter never records stats for them, so a
    * dotted lookup could only ever hit the engine's reserved keys. */
  private def nullsOf(stats: Map[String, (Any, Any)], col: String): Option[Long] =
    if (col.contains('.')) None
    else reservedLong(stats, col + CommitLog.NullCountSuffix)

  private def reservedLong(stats: Map[String, (Any, Any)], key: String): Option[Long] =
    stats.get(key).collect { case (n: Long, _) => n }

  /** Normalize a pushed filter value into the stats domain (Long /
    * Double / String — dates as epoch days, timestamps as micros,
    * matching what `footerStatsJson` records). None = this type is
    * not prunable (decimals, binary, booleans). */
  private def coerce(v: Any): Option[Any] = v match {
    case null => None
    case b: java.lang.Byte => Some(b.longValue)
    case s: java.lang.Short => Some(s.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long => Some(l.longValue)
    case f: java.lang.Float => Some(f.doubleValue) // exact widening
    case d: java.lang.Double => Some(d.doubleValue)
    case s: String => Some(s)
    case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(DateTimeUtils.localDateToDays(d).toLong)
    case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t))
    case _ => None
  }

  private def bounds(stats: Map[String, (Any, Any)], col: String,
      v: Any): Option[((Any, Any), Any)] =
    // dotted attribute names abstain: the emitter never records bounds
    // for them, so a lookup could only hit the engine's reserved keys
    // (rows.count / bytes.size / <col>.nulls) and prune wrongly
    if (col.contains('.')) None
    else for { b <- stats.get(col); c <- coerce(v) } yield (b, c)

  /** Can a row equal `v`? lo ≤ v ≤ hi (conservative on widened
    * bounds; incomparable → true). */
  private def overlaps(stats: Map[String, (Any, Any)], col: String,
      v: Any): Boolean =
    bounds(stats, col, v).forall { case ((lo, hi), c) =>
      (CommitLog.statCmp(lo, c), CommitLog.statCmp(hi, c)) match {
        case (Some(a), Some(b)) => a <= 0 && b >= 0
        case _ => true
      }
    }

  /** Can a row be < v (or ≤)? true unless the file's MIN already
    * refutes it. */
  private def minBelow(stats: Map[String, (Any, Any)], col: String,
      v: Any, orEq: Boolean): Boolean =
    bounds(stats, col, v).forall { case ((lo, _), c) =>
      CommitLog.statCmp(lo, c).forall(d => if (orEq) d <= 0 else d < 0)
    }

  private def maxAbove(stats: Map[String, (Any, Any)], col: String,
      v: Any, orEq: Boolean): Boolean =
    bounds(stats, col, v).forall { case ((_, hi), c) =>
      CommitLog.statCmp(hi, c).forall(d => if (orEq) d >= 0 else d > 0)
    }

  /** Can a row start with `p`? Impossible only when p sorts above the
    * whole file (p > max) or below it at prefix length
    * (min truncated to |p| bytes > p) — both in parquet's unsigned
    * UTF-8 order, both sound against truncated bounds. */
  private def prefixPossible(stats: Map[String, (Any, Any)], col: String,
      p: String): Boolean =
    (if (col.contains('.')) None else stats.get(col)) match {
      case Some((lo: String, hi: String)) if p != null =>
        val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val lb = lo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        !(CommitLog.utf8UnsignedCmp(p, hi) > 0 ||
          java.util.Arrays.compareUnsigned(lb.take(pb.length), pb) > 0)
      case _ => true
    }
}
