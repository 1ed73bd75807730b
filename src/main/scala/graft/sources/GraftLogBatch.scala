package graft.sources

import graft.store.CommitLog
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** The logged table as a STANDARD Spark batch relation:
  * `spark.read.format("graftlog").load(tablePath)` — the batch
  * counterpart of [[GraftLogStreamProvider]], completing the "any
  * Spark API consumes the log" surface.
  *
  * The scale feature is the [[GraftLogFileIndex]]: Catalyst hands the
  * index the query's data predicates (the same seam Delta's
  * TahoeLogFileIndex rides), and files whose LOG-CARRIED min/max
  * stats refute them never enter the scan — the decision is made on
  * the driver from commit-log metadata with ZERO file I/O. Everything
  * downstream is Spark's native vectorized parquet path: pushed
  * row-group filters, column pruning, whole-stage codegen — the index
  * only shrinks the file list, it never touches row decoding.
  *
  * At 100 TB this is the difference between "scan 100k files and let
  * row-group stats save you" and "open only the files a clustered
  * key range can live in": a Z-ordered table answers a point/range
  * query from increment-sized I/O regardless of table size, and
  * `sizeInBytes` comes from the same snapshot so a dimension-sized
  * logged table auto-broadcasts in joins.
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
    val asOf = asOfVersion(spark, path, parameters)
    // one snapshot feeds the schema, the live set and the mapping, so
    // they describe one version even across a concurrent rename
    val snap = CommitLog.snapshot(spark, path, asOf)
    val schema = user.getOrElse(CommitLog.tableSchema(spark, path, snap))
    // A snapshot carrying DELETION VECTORS cannot be served as a bare
    // file relation — the vectored positions would resurrect. Until
    // OPTIMIZE absorbs the vectors, such a snapshot reads through the
    // DV-aware bridge relation (log-stats file skipping kept, pushed
    // filters re-translated into the inner Catalyst plan); a vector-
    // free snapshot keeps the zero-overhead HadoopFsRelation path.
    // A COLUMN-MAPPED snapshot (renamed/dropped columns — files carry
    // physical names) routes through the same bridge: a bare file
    // relation has no projection hook to alias physical → logical.
    val entries = snap.live
    if (entries.exists(_.dv.isDefined) || snap.mapping.nonEmpty)
      return new GraftLogDvRelation(spark, path, nullify(schema), entries,
        snap.mapping)
    HadoopFsRelation(
      location = new GraftLogFileIndex(spark, path, asOf, Some(snap)),
      partitionSchema = StructType(Nil),
      // nullable like Spark's own DataSource.resolveRelation makes
      // user schemas for file sources: a column absent from an older
      // file generation null-fills instead of tripping the vectorized
      // reader's required-column check
      dataSchema = nullify(schema),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = parameters)(spark)
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

  /** Schema at the snapshot — delegates to the ONE bootstrap rule
    * ([[CommitLog.tableSchema]]: ledger first, newest-live-file
    * inference otherwise). */
  private[graft] def schemaFor(spark: SparkSession, path: String,
      asOf: Long): StructType = CommitLog.tableSchema(spark, path, asOf)
}

/** Driver-side file skipping from commit-log metadata: the live file
  * snapshot (taken once per relation, `asOf`-pinned for time travel)
  * pairs each file with its log-carried column stats, and
  * `listFiles` keeps only files no pushed data predicate refutes.
  * Files committed without stats (or with stats a predicate can't be
  * compared against) are always kept — pruning is an optimization,
  * never a correctness input. */
final class GraftLogFileIndex private[graft] (spark: SparkSession,
    tablePath: String, asOf: Long, initial: Option[CommitLog.Snapshot])
    extends FileIndex {

  def this(spark: SparkSession, tablePath: String, asOf: Long = Long.MaxValue) =
    this(spark, tablePath, asOf, None)

  private val root = new Path(tablePath)

  @volatile private var snapshot: Seq[(FileStatus, Option[Map[String, (Any, Any)]])] =
    load(initial.getOrElse(CommitLog.snapshot(spark, tablePath, asOf)))

  private def load(snap: CommitLog.Snapshot)
      : Seq[(FileStatus, Option[Map[String, (Any, Any)]])] = {
    val withStats = snap.live.map(e => (e.name, e.stats))
    if (withStats.isEmpty) Seq.empty
    else {
      // ONE directory listing PER DISTINCT PARENT (the table root,
      // plus one per shallow-clone source holding absolute refs), not
      // a getFileStatus per live file — at 100k files that is the
      // difference between a few object-store LIST page walks and
      // 100k HEAD round trips on the driver. Shared protocol
      // (CommitLog.statusFor): only a MISSING parent is tolerated;
      // transient listing failures propagate instead of mis-reporting
      // every file as vacuumed.
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val resolved = withStats.map { case (name, j) =>
        (CommitLog.resolveDataPath(tablePath, name), name, j) }
      val statusOf: Map[String, FileStatus] =
        CommitLog.statusFor(fs, tablePath, withStats.map(_._1))
      // stats are keyed by PHYSICAL name; pushed filters are logical
      val mapping = snap.mapping
      resolved.map { case (abs, name, statsJson) =>
        val st = statusOf.getOrElse(abs, throw new IllegalStateException(
          s"live data file $name of $tablePath is missing — the snapshot " +
            "predates the retention window (vacuumed), the table is corrupt, " +
            "or a clone source was vacuumed from under this clone"))
        (st, statsJson.map(j =>
          CommitLog.statsToLogical(CommitLog.parseStatsJson(j), mapping)))
      }
    }
  }

  /** Per-live-file LOGICAL column stats at this index's snapshot
    * (None = the file was committed without a stats suffix) — the
    * metadata [[graft.store.GraftStatsAggRule]] folds to answer
    * unfiltered COUNT/MIN/MAX without opening a single data file. */
  private[graft] def fileStats: Seq[Option[Map[String, (Any, Any)]]] =
    snapshot.map(_._2)

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSchema: StructType = StructType(Nil)

  override def refresh(): Unit =
    snapshot = load(CommitLog.snapshot(spark, tablePath, asOf))

  override def inputFiles: Array[String] =
    snapshot.map(_._1.getPath.toString).toArray

  /** Live bytes at the snapshot — feeds the optimizer's size estimate
    * (broadcast-join decisions) from the same metadata pass. */
  override def sizeInBytes: Long = snapshot.map(_._1.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val translated = dataFilters.flatMap(e =>
      org.apache.spark.sql.graft.StreamingShim.translateFilter(e))
    val kept =
      if (translated.isEmpty) snapshot
      else snapshot.filter { case (_, stats) =>
        stats.forall(m => translated.forall(f => StatsPruning.possible(m, f)))
      }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(_._1).toArray))
  }

  override def toString: String = s"GraftLogFileIndex[$tablePath, asOf=$asOf]"
}

/** Snapshot reads of a DELETION-VECTOR-carrying logged table through
  * the DSv1 scan seam: the vectored positions must be subtracted, and
  * a `HadoopFsRelation` has no row-filtering hook, so this relation
  * builds the DV-aware Catalyst plan ([[CommitLog.visibleRows]]) per
  * scan instead. Efficiency is preserved on both axes that matter:
  * (1) FILE SKIPPING — pushed filters prune the live set from
  * log-carried stats exactly like [[GraftLogFileIndex]]; (2) PUSHDOWN —
  * pushed filters and the required-column projection are re-applied
  * INSIDE the inner plan, so Catalyst drives them into the vectorized
  * parquet scans (the anti-join only guards DV'd files; vector-free
  * files scan clean). The `df.rdd` bridge adds one external-row
  * conversion — the documented cost of reading an unabsorbed vectored
  * snapshot; OPTIMIZE restores the native path. Spark re-evaluates
  * every filter above this relation (`unhandledFilters` default), so
  * the inner re-translation is purely an optimization. */
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
    // log-stats file skipping, same contract as GraftLogFileIndex:
    // a DV only removes rows, so the add-time stats remain a sound
    // superset envelope; stats keys remap physical → logical on a
    // column-mapped snapshot
    val kept = entries.filter { e =>
      e.stats.map(j => CommitLog.statsToLogical(
        CommitLog.parseStatsJson(j), mapping)) match {
        case Some(m) => filters.forall(f => StatsPruning.possible(m, f))
        case None => true
      }
    }
    val base = CommitLog.visibleRows(spark, tablePath, dataSchema, kept,
      mapping = Some(mapping))
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
          unsignedCmp(lb.take(pb.length), pb) > 0)
      case _ => true
    }

  private def unsignedCmp(x: Array[Byte], y: Array[Byte]): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }
}
