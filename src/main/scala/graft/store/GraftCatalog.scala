package graft.store

import java.util

import graft.sources.{FilterColumns, GraftLogBatch}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** DSv2 `TableCatalog` exposing logged tables as FIRST-CLASS Spark SQL
  * tables — the composability layer over [[CommitLog]]: register it
  * once
  *
  * {{{ spark.sql.catalog.graft = graft.store.GraftCatalog }}}
  *
  * and every Spark entry point sees logged tables with zero
  * graft-specific syntax: `SELECT * FROM graft.t`, `INSERT INTO
  * graft.t`, `INSERT OVERWRITE`, `DELETE` / `UPDATE` / `MERGE INTO`
  * (executed by [[GraftDmlRule]]), `CREATE TABLE graft.t (…)`, CTAS,
  * `DROP TABLE`, `DESCRIBE TABLE`, `SHOW TABLES IN graft`, and native
  * time travel (`SELECT … FROM graft.t VERSION AS OF 3` / `TIMESTAMP
  * AS OF …`) all route through Spark's own analyzer to the commit
  * log — this is the Delta `DeltaCatalog` shape. [[GraftSql.execute]]
  * resolves its `graftlog.` DML spellings through this catalog too;
  * the extension verbs Spark has no grammar for — OPTIMIZE, VACUUM,
  * RESTORE, constraints — remain on its regex routes.
  *
  * Identifier resolution: `graft.name` (and `graft.ns.name`) resolve
  * against the `spark.graft.warehouse` root as `wh/ns/name` — the
  * same named-table convention as GraftSql; ``graft.`/abs/path` ``
  * (a name containing '/') addresses a table by path directly.
  *
  * Read path: sessions carrying [[graft.functions.GraftExtensions]]
  * analyze a catalog read into the NATIVE v1 relation
  * ([[GraftLogBatch.relation]] — log-stats file pruning, vectorized
  * parquet scan, broadcast sizing) via [[GraftV2ReadRule]]; sessions
  * without the extensions fall back to [[GraftV1ScanBuilder]]'s
  * `V1Scan` bridge (same pruning and pushdown through the same inner
  * relation, plus one row-conversion seam — the JDBC-connector
  * pattern). Writes always run the commit-log protocol via the
  * `V1Write` fallback (`V1_BATCH_WRITE`), so constraints, bloom
  * properties, and schema evolution ride every catalog write
  * unchanged.
  *
  * Provenance: extension scope — the reference has no catalog/SQL
  * surface; the architecture follows the published Delta/Iceberg
  * TableCatalog integrations.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Identifier → table path: path-addressed names pass through;
    * bare names (with optional namespace parts as subdirectories)
    * resolve under `spark.graft.warehouse`. */
  private[store] def pathOf(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.contains('/')) {
      // path-addressed: explicit and absolute only — a RELATIVE path
      // (`../x`) would resolve against an undefined working directory
      // and could land dropTable outside any directory the user named.
      // Scheme-qualified Hadoop URIs (hdfs://, s3a://, file:/) are
      // absolute by construction and pass.
      require(GraftSql.isAbsolutePath(ident.name),
        s"path-addressed $catalogName table `${ident.name}` must be " +
          "an absolute path or a scheme-qualified URI")
      ident.name
    } else {
      val wh = spark.conf.getOption("spark.graft.warehouse").getOrElse(
        throw new IllegalArgumentException(
          s"cannot resolve $catalogName.${ident.toString}: set " +
            "spark.graft.warehouse to a root directory, or address the " +
            s"table by path ($catalogName.`/abs/path`)"))
      // warehouse-resolved segments must stay UNDER the warehouse: a
      // `..` (or slash-bearing) segment would resolve outside it, and
      // dropTable would then recursively delete an out-of-warehouse
      // directory that happens to contain a _graft_log
      val segs = ident.namespace.toSeq :+ ident.name
      segs.foreach(s => require(
        s.nonEmpty && s != "." && s != ".." && !s.contains('/'),
        s"invalid $catalogName identifier segment `$s` in " +
          s"${ident.toString}: warehouse-resolved names cannot contain " +
          "'/' or be '.'/'..'"))
      (wh.stripSuffix("/") +: segs).mkString("/")
    }

  override def tableExists(ident: Identifier): Boolean =
    CommitLog.latestVersion(spark, pathOf(ident)) > 0

  override def loadTable(ident: Identifier): Table = {
    val path =
      try pathOf(ident)
      catch {
        // an identifier pathOf refuses (path-escaping segment, no
        // warehouse) can still be a METADATA spelling on a
        // path-addressed base (graft.`/abs/path`.history); anything
        // else keeps the loud refusal
        case e: IllegalArgumentException =>
          return metaTableOf(ident).getOrElse(throw e)
      }
    if (CommitLog.latestVersion(spark, path) > 0)
      GraftTable(path, asOf = Long.MaxValue, ident.toString, catalogName)
    else metaTableOf(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** METADATA-TABLE spelling (the Iceberg shape): `graft.t.history` /
    * `.files` / `.detail` — one extra identifier segment on a real
    * logged table. Resolved only when the full identifier is NOT
    * itself a table (a genuine logged table named `t/history` shadows
    * the metadata view), so adding this costs no name. */
  private def metaTableOf(ident: Identifier): Option[Table] = {
    val kind = ident.name.toLowerCase(java.util.Locale.ROOT)
    if (ident.namespace.isEmpty || !GraftMetaTable.Kinds(kind)) return None
    val base = Identifier.of(ident.namespace.init, ident.namespace.last)
    scala.util.Try(pathOf(base)).toOption
      .filter(p => CommitLog.latestVersion(spark, p) > 0)
      .map(p => GraftMetaTable(p, kind, ident.toString))
  }

  /** `VERSION AS OF <v>` — a version-pinned, read-only table. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = pathOf(ident)
    if (CommitLog.latestVersion(spark, path) == 0)
      throw new NoSuchTableException(ident)
    GraftTable(path, asOf = version.toLong, ident.toString, catalogName)
  }

  /** `TIMESTAMP AS OF <ts>` (Spark hands MICROseconds) — resolved
    * through the clamped in-commit timestamps. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val path = pathOf(ident)
    if (CommitLog.latestVersion(spark, path) == 0)
      throw new NoSuchTableException(ident)
    GraftTable(path,
      asOf = CommitLog.versionAtTimestamp(spark, path, timestampMicros / 1000L),
      ident.toString, catalogName)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val path = pathOf(ident)
    // `CREATE TABLE … CLUSTER BY (a, b)` — the liquid-clustering
    // spelling: the transform becomes the graft.clusterBy property
    // (writer-side range/Z-order layout + stats pruning), exactly what
    // the Delta clustered-table shape means on a flat layout. Anything
    // else (PARTITIONED BY, bucketing) keeps the loud refusal.
    val (clusterT, otherT) = partitions.partition(t =>
      org.apache.spark.sql.connector.expressions.ClusterByTransform
        .unapply(t).isDefined)
    require(otherT.isEmpty,
      "logged tables have no partition dirs — declare CLUSTER BY (…) " +
        "for writer-side clustering, or re-cluster with OPTIMIZE " +
        "ZORDER; stats pruning replaces partition pruning")
    val clusterProp = clusterT.headOption.map(t =>
      "graft.clusterBy" -> GraftCatalog.clusterSpec(
        org.apache.spark.sql.connector.expressions.ClusterByTransform
          .unapply(t).get))
    require(clusterProp.isEmpty || !properties.containsKey("graft.clusterBy"),
      "declare clustering once: CLUSTER BY (…) or the graft.clusterBy " +
        "property, not both")
    // validate clustering columns against the declared schema NOW —
    // a typo'd spec would otherwise land and brick every later write
    // (clusteredForWrite refuses the first INSERT). Covers both
    // spellings (the transform and a TBLPROPERTIES declaration).
    (clusterProp.map(_._2) ++
      Option(properties.get("graft.clusterBy"))).foreach(spec =>
      GraftCatalog.validateClusterSpec(spec, schema.fieldNames,
        "the declared schema"))
    if (CommitLog.latestVersion(spark, path) > 0)
      throw new TableAlreadyExistsException(Seq(catalogName, ident.toString))
    // Spark stamps reserved bookkeeping keys (provider/owner/…) into
    // every CREATE — only user-declared properties enter the ledger,
    // and they ride the SAME commit as the schema (a crash between
    // two commits must not leave a table without its declared
    // properties). schemaExpect(None): two concurrent CREATEs both
    // pass the exists-check; the loser's re-publish would restamp the
    // winner's ledger — the schema fence aborts it loudly instead.
    val user = properties.asScala.filterNot { case (k, _) => ReservedProps(k) } ++
      clusterProp
    user.foreach { case (k, v) => CommitLog.validateProperty(spark, k, v) }
    CommitLog.commitOrAbort(spark, path, adds = Seq.empty, removes = Seq.empty,
      publisher = RenameOrLinkPublisher, opTag = Some("create"),
      abortOnLostRace = _ => false, schemaJson = Some(schema.json),
      schemaExpect = Some(None),
      propertyTags = LogLine.setTags(user))
      .getOrElse(throw new IllegalStateException("unreachable: unfenced create"))
    GraftTable(path, asOf = Long.MaxValue, ident.toString, catalogName)
  }

  private val ReservedProps: Set[String] = Set(
    TableCatalog.PROP_PROVIDER, TableCatalog.PROP_OWNER,
    TableCatalog.PROP_LOCATION, TableCatalog.PROP_COMMENT,
    TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
    TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    // `ALTER TABLE t CLUSTER BY (a, b)` sets the clustering property;
    // `CLUSTER BY NONE` drops it (a no-op on an unclustered table, the
    // Delta semantics — not a loud missing-property unset)
    val clusterBys = changes.collect { case c: TableChange.ClusterBy => c }
    val clusterSets = clusterBys.filter(_.clusteringColumns.nonEmpty)
      .map(c => "graft.clusterBy" -> GraftCatalog.clusterSpec(
        c.clusteringColumns.toIndexedSeq))
    val clusterUnsets =
      if (clusterBys.exists(_.clusteringColumns.isEmpty) &&
          CommitLog.propertiesAt(spark, path).contains("graft.clusterBy"))
        Seq("graft.clusterBy")
      else Seq.empty
    val sets = changes.collect { case s: TableChange.SetProperty =>
      s.property -> s.value } ++ clusterSets
    val unsets = changes.collect { case r: TableChange.RemoveProperty =>
      r.property } ++ clusterUnsets
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val unsupported = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.ClusterBy])
    require(unsupported.isEmpty,
      s"unsupported ALTER TABLE change(s) for a logged table: " +
        unsupported.mkString(", "))
    // validate EVERY change up front before committing any: each
    // change lands as its own commit, so without this pass a refused
    // later change (rename blocked by a constraint/bloom reference,
    // duplicate add, absent unset key) would leave a multi-change
    // ALTER partially applied with no rollback. Column changes are
    // validated against a SIMULATED schema evolved in application
    // order — two renames to the same target, a rename of a
    // just-dropped column, dropping down to zero columns, etc. would
    // each pass against the pre-alter snapshot alone and still
    // partially apply.
    sets.foreach { case (k, v) => CommitLog.validateProperty(spark, k, v) }
    if (unsets.nonEmpty) {
      val cur = CommitLog.propertiesAt(spark, path)
      val missing = unsets.filterNot(cur.contains)
      require(missing.isEmpty,
        s"no such propert${if (missing.size == 1) "y" else "ies"} on " +
          s"$path: ${missing.mkString(", ")}")
    }
    (renames ++ drops ++ adds).foreach { c =>
      val names = c match {
        case r: TableChange.RenameColumn => r.fieldNames
        case d: TableChange.DeleteColumn => d.fieldNames
        case a: TableChange.AddColumn => a.fieldNames
      }
      require(names.length == 1,
        s"nested column changes are not supported: ${names.mkString(".")}")
    }
    val addFields = adds.map(a => org.apache.spark.sql.types.StructField(
      a.fieldNames.head, a.dataType, nullable = true))
    val hasColumnChanges =
      renames.nonEmpty || drops.nonEmpty || addFields.nonEmpty
    val bloomSet = sets.collectFirst { case ("bloom.columns", v) => v }
    val clusterSet = sets.collectFirst { case ("graft.clusterBy", v) => v }
    // the schema loads only when a change needs it — a property-only
    // ALTER on a ledger-less table must not pay (or fail) a footer read
    var sim: org.apache.spark.sql.types.StructType = null
    if (hasColumnChanges || bloomSet.isDefined || clusterSet.isDefined)
      sim = CommitLog.schemaAt(spark, path)
        .getOrElse(CommitLog.tableSchema(spark, path))
    renames.foreach { r =>
      CommitLog.validateRenameColumn(spark, path, sim, r.fieldNames.head, r.newName)
      sim = org.apache.spark.sql.types.StructType(sim.fields.map(f =>
        if (f.name == r.fieldNames.head) f.copy(name = r.newName) else f))
    }
    drops.foreach { d =>
      CommitLog.validateDropColumn(spark, path, sim, d.fieldNames.head)
      sim = org.apache.spark.sql.types.StructType(
        sim.fields.filterNot(_.name == d.fieldNames.head))
    }
    if (addFields.nonEmpty) {
      CommitLog.validateAddColumns(spark, path, sim, addFields)
      sim = org.apache.spark.sql.types.StructType(sim.fields ++ addFields)
    }
    // a bloom declaration arriving in the SAME statement must index
    // columns of the POST-column-change schema — without this, SET
    // bloom.columns + rename/drop of that column would land a dangling
    // index property (the guardColumnReferences invariant, applied to
    // the statement's own future)
    bloomSet.foreach { cols =>
      val missing = cols.split(',').map(_.trim).filter(_.nonEmpty)
        .filterNot(c => sim.fieldNames.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"bloom.columns names ${missing.mkString(", ")} — not columns of " +
          s"$path after this statement's changes")
    }
    // same invariant for clustering: a dangling graft.clusterBy would
    // brick EVERY subsequent write (clusteredForWrite refuses loudly)
    clusterSet.foreach(spec => GraftCatalog.validateClusterSpec(spec,
      sim.fieldNames, s"$path after this statement's changes"))
    // apply COLUMN changes before PROPERTY changes, in validation
    // order — so a statement whose sets would make a later rename/drop
    // refusable (e.g. a bloom declaration over the renamed column)
    // cannot strand the table mid-statement
    renames.foreach(r =>
      CommitLog.renameColumn(spark, path, r.fieldNames.head, r.newName))
    drops.foreach(d => CommitLog.dropColumn(spark, path, d.fieldNames.head))
    if (addFields.nonEmpty) {
      // ADD COLUMNS = the mergeSchema add-column evolution as a
      // metadata-only commit: old files null-fill the new columns;
      // CommitLog.addColumns honors the BURNED ledger (a re-added
      // dropped name gets fresh storage) and the schema fence
      CommitLog.addColumns(spark, path, addFields)
      ()
    }
    if (sets.nonEmpty) CommitLog.setProperties(spark, path, sets.toMap)
    if (unsets.nonEmpty) CommitLog.unsetProperties(spark, path, unsets)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_log")))
      return false // not a logged table — never recursively delete it
    fs.delete(dir, true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val (src, dst) = (pathOf(from), pathOf(to))
    if (CommitLog.latestVersion(spark, src) == 0)
      throw new NoSuchTableException(from)
    if (CommitLog.latestVersion(spark, dst) > 0)
      throw new TableAlreadyExistsException(Seq(catalogName, to.toString))
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    // Hadoop rename into an EXISTING directory moves the source INSIDE
    // it (dst/<srcName>) and reports success — the table would vanish
    // from the catalog view; any existing destination refuses
    if (fs.exists(dstPath))
      throw new IllegalStateException(
        s"cannot rename $src to $dst: destination already exists")
    fs.mkdirs(dstPath.getParent)
    val srcPath = new org.apache.hadoop.fs.Path(src)
    val nested = new org.apache.hadoop.fs.Path(dstPath, srcPath.getName)
    // the exists-check → rename window is a TOCTOU race: a destination
    // directory created concurrently makes Hadoop rename move the
    // source INSIDE it (dst/<srcName>) and report success. Neither
    // "dst has a log" nor "dst/<srcName> has a log" is decisive on its
    // own (the concurrent creation may itself be a logged table, and a
    // source may legitimately contain a self-named child table) — so
    // the check compares the LOG'S IDENTITY: the rename is only
    // correct if dst's log is byte-for-name the log that sat at src.
    def logIdentity(p: org.apache.hadoop.fs.Path): Option[Seq[String]] = {
      val log = new org.apache.hadoop.fs.Path(p, "_graft_log")
      if (!fs.exists(log)) None
      else Some(fs.listStatus(log)
        .map(st => s"${st.getPath.getName}:${st.getLen}").sorted.toSeq)
    }
    val srcIdentity = logIdentity(srcPath).getOrElse(
      throw new NoSuchTableException(from))
    if (!fs.rename(srcPath, dstPath))
      throw new IllegalStateException(s"could not rename $src to $dst")
    // nested shape: dst/<srcName> carries OUR log (identity match) —
    // a self-named child table under dst matches its own identity,
    // never the parent's, so a clean rename cannot false-positive here
    val movedInside = logIdentity(nested).contains(srcIdentity)
    if (movedInside || logIdentity(dstPath).isEmpty) {
      val movedBack = movedInside && fs.rename(nested, srcPath)
      throw new IllegalStateException(
        s"rename $src -> $dst raced a concurrent create: the table " +
          s"landed nested at $nested" +
          (if (movedBack) s" and was moved back to $src"
           else s" and COULD NOT be restored — recover it manually"))
    }
  }

  /** Tables = direct children of `wh/<namespace…>` carrying a
    * `_graft_log` dir — one listing, no content reads. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val wh = spark.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new IllegalArgumentException(
        "set spark.graft.warehouse to list named graft tables"))
    val root = new org.apache.hadoop.fs.Path(
      (wh.stripSuffix("/") +: namespace.toSeq).mkString("/"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).collect {
      case st if st.isDirectory &&
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_graft_log")) =>
        Identifier.of(namespace, st.getPath.getName)
    }
  }
}

private[store] object GraftCatalog {
  /** `CLUSTER BY` column references → the graft.clusterBy spec string
    * ("c" = range clustering, "a,b" = Z-order — ZOrder.layout's
    * contract). Top-level columns only: the writer layout and the
    * stats pruning it feeds both key on top-level names. */
  def clusterSpec(
      refs: Seq[org.apache.spark.sql.connector.expressions.NamedReference])
      : String = {
    require(refs.nonEmpty, "CLUSTER BY needs at least one column")
    refs.map { r =>
      require(r.fieldNames.length == 1,
        s"CLUSTER BY supports top-level columns only, got " +
          r.fieldNames.mkString("."))
      r.fieldNames.head
    }.mkString(",")
  }

  /** DDL-time validation of a clustering spec, with EXACTLY the
    * acceptance rule the write path applies
    * (CommitLog.clusteredForWrite: case-SENSITIVE name match, at
    * least one non-empty column) — a spec this passes can never brick
    * a write, and a spec the write path would refuse fails HERE, at
    * declaration time. */
  def validateClusterSpec(spec: String, fields: Seq[String],
      where: String): Unit = {
    val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
    require(cols.nonEmpty, s"graft.clusterBy is empty: '$spec'")
    val missing = cols.filterNot(fields.contains)
    require(missing.isEmpty,
      s"CLUSTER BY / graft.clusterBy names ${missing.mkString(", ")} — " +
        s"not columns of $where (name match is case-sensitive, like the " +
        "write path)")
  }
}

/** One logged table as a DSv2 `Table`: readable (V1Scan fallback;
  * [[GraftV2ReadRule]] upgrades to the native relation), writable
  * (V1Write → the commit-log append/overwrite protocol), and
  * row-level-deletable (`DELETE FROM` with translatable predicates →
  * [[CommitLog.deleteWhere]], honoring the session's deletion-vector
  * switch). `asOf != Long.MaxValue` pins a time-travel snapshot,
  * which is read-only. */
private[graft] case class GraftTable(path: String, asOf: Long,
    identString: String, catalog: String = "graft") extends Table
    with SupportsRead with SupportsWrite with SupportsDelete
    with org.apache.spark.sql.graft.V1FallbackTable {

  private def spark: SparkSession = SparkSession.active

  /** STREAMING reads (`spark.readStream.table("graft.t")`): the table
    * has a V1 streaming Source (GraftLogSource — the change-feed
    * micro-batch source), and this fallback hands Spark the v1
    * descriptor to build it from (provider `graftlog` + the table
    * path), the pre-DSv2-streaming Delta shape. */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog._
    CatalogTable(
      // the REGISTERED catalog name and the table's real identifier —
      // identifier-keyed consumers (cache refresh, UI, checkpoint
      // logs) must see the name the user addressed, not the path
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        identString, Some(catalog)),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(path).toUri),
        properties = Map("path" -> path)),
      schema = schema,
      provider = Some("graftlog"))
  }

  override def name(): String = identString

  override lazy val schema: StructType =
    GraftLogBatch.nullify(CommitLog.tableSchema(spark, path, asOf))

  /** Declared clustering reports back as the CLUSTER BY transform, so
    * DESCRIBE and catalog introspection show what the writer layout
    * actually does. Logged tables never have partition transforms.
    * Lazy like `schema`: Spark calls partitioning() repeatedly during
    * analysis/canonicalization, and each call must not replay the
    * log's property ledger. */
  override lazy val partitioning: Array[Transform] =
    CommitLog.propertiesAt(spark, path).get("graft.clusterBy") match {
      case Some(spec) =>
        val cols = spec.split(',').map(_.trim).filter(_.nonEmpty)
        if (cols.isEmpty) Array.empty
        else Array(org.apache.spark.sql.connector.expressions.ClusterByTransform(
          cols.toIndexedSeq.map(c =>
            org.apache.spark.sql.connector.expressions.Expressions.column(c))))
      case None => Array.empty
    }

  override def properties(): util.Map[String, String] =
    CommitLog.propertiesAt(spark, path).asJava

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftV1ScanBuilder(spark, path, asOf, schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOf == Long.MaxValue,
      s"cannot write to a time-travel snapshot of $path (AS OF $asOf)")
    new GraftWriteBuilder(path)
  }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOf == Long.MaxValue &&
      filters.forall(f => FilterColumns.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    import org.apache.spark.sql.functions.lit
    val predicate = filters.flatMap(FilterColumns.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    CommitLog.deleteWhere(spark, path,
      CommitLog.tableSchema(spark, path, Long.MaxValue), predicate,
      deletionVectors = CommitLog.morDefault(spark, path))
    ()
  }

  override def toString: String = s"GraftTable($identString)"
}

/** The rule-less read fallback: a `V1Scan` whose relation evaluates
  * the SAME inner machinery the native path uses — log-stats file
  * pruning and pushed filters through [[GraftLogBatch.relation]] —
  * behind one RDD[Row] seam (the JDBC-connector shape). Column
  * pruning and filters are applied INSIDE the wrapped plan, so the
  * vectorized parquet scans still read only what the query needs.
  *
  * PUSHDOWN LIMITS of this fallback (vs the [[GraftV2ReadRule]]
  * native path — why extension-carrying sessions get the upgrade):
  *
  *  - Only predicates [[graft.sources.FilterColumns.toColumn]] can
  *    translate push down (comparison/IN/null-test/StringStartsWith
  *    etc. on TOP-LEVEL columns); everything else — nested fields,
  *    expressions, UDF-wrapped predicates — evaluates above the scan.
  *    Spark re-applies ALL filters above the seam regardless, so this
  *    costs I/O, never correctness.
  *  - Column pruning is top-level only (`pruneColumns` receives a
  *    flat StructType); a query touching one field of a struct still
  *    reads the whole struct through the seam.
  *  - The RDD[Row] bridge breaks whole-stage codegen and columnar
  *    transfer at the scan boundary: rows materialize once per scan
  *    (the documented V1 row-conversion seam, visible in plans as
  *    `RowDataSourceScan`), and runtime filters / DPP from joins
  *    cannot reach the file index.
  *
  * GraftCatalogSpec's "V1Scan fallback" case pins result equality
  * with the native path; the limits above are the PERFORMANCE
  * contract a rule-less session accepts. */
private[store] final class GraftV1ScanBuilder(spark: SparkSession,
    path: String, asOf: Long, tableSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => FilterColumns.toColumn(f).isDefined)
    filters // Spark re-evaluates everything above the scan — safe
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new GraftV1TableScan(context, path, asOf, required, pushed)
        .asInstanceOf[T]

    override def description(): String =
      s"GraftV1Scan[$path, asOf=$asOf, pushed=${pushed.mkString(",")}]"
  }
}

private[store] final class GraftV1TableScan(context: SQLContext,
    path: String, asOf: Long, required: StructType, pushed: Array[Filter])
    extends BaseRelation with TableScan {

  override def sqlContext: SQLContext = context

  override def schema: StructType = required

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val spark = context.sparkSession
    val params = Map("path" -> path) ++
      (if (asOf == Long.MaxValue) Map.empty
       else Map("versionAsOf" -> asOf.toString))
    val full = CommitLog.tableSchema(spark, path, asOf)
    val base = context.baseRelationToDataFrame(
      GraftLogBatch.relation(spark, params, Some(full)))
    val filtered = pushed.flatMap(FilterColumns.toColumn).foldLeft(base)(_.filter(_))
    val projected =
      if (required.isEmpty) filtered.select() // COUNT(*)-shaped
      else filtered.select(required.fieldNames
        .map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    projected.rdd
  }
}

/** Catalog writes through the commit-log protocol: `INSERT INTO` →
  * [[CommitLog.append]], `INSERT OVERWRITE`/truncate → the atomic
  * [[CommitLog.overwrite]], and a PREDICATE overwrite
  * (`df.writeTo("graft.t").overwrite(cond)` / `INSERT INTO graft.t
  * REPLACE WHERE cond SELECT …`) → the atomic
  * [[CommitLog.replaceWhere]] — fully-matching old files drop as
  * metadata, boundary files rewrite, new rows must satisfy the
  * predicate (in-plan, loud). A predicate Spark pushes that the
  * filter bridge cannot translate is refused loudly rather than
  * silently widened to a full overwrite. */
private[store] final class GraftWriteBuilder(path: String)
    extends WriteBuilder with SupportsOverwrite {

  private var replace = false
  private var replaceCond: Option[org.apache.spark.sql.Column] = None

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      replace = true
    else {
      val cols = filters.toSeq.map(f => f -> FilterColumns.toColumn(f))
      val missing = cols.collect { case (f, None) => f }
      require(missing.isEmpty,
        "replaceWhere predicate not translatable for a logged table: " +
          s"${missing.mkString(", ")} — rewrite it with comparison/IN/" +
          "null/string-prefix terms, or use the CommitLog.replaceWhere " +
          "API with an arbitrary Column")
      replaceCond = Some(cols.flatMap(_._2).reduce(_ && _))
    }
    this
  }

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwriteIgnored: Boolean): Unit = {
          replaceCond match {
            case Some(cond) => CommitLog.replaceWhere(data, path, cond)
            case None if replace => CommitLog.overwrite(data, path)
            case None => CommitLog.append(data, path)
          }
          ()
        }
      }
  }
}

/** Read-only METADATA TABLES addressed as an extra identifier segment
  * — the Iceberg spelling, composable in plain SQL where the DESCRIBE
  * verbs are not:
  *
  *  - `graft.t.history`: one row per surviving commit (version,
  *    operation, add/remove counts, in-commit timestamp) — join it,
  *    filter it, chart write cadence.
  *  - `graft.t.files`: the LIVE SET with log-carried byte sizes, row
  *    counts, and deletion-vector state — the SHOW PARTITIONS analog
  *    of a flat-layout table (per-file envelopes live in the same
  *    stats the scanner prunes with); `SUM(bytes)` is table size with
  *    zero file-system calls.
  *  - `graft.t.detail`: the one-row operational summary, including the
  *    table-property map (`detail.properties['graft.clusterBy']`) —
  *    the SQL audit path for the property-driven behaviors
  *    (clustering, bloom, MOR default, generated columns).
  *
  * Driver-built metadata frames (log-sized, never data-sized) served
  * through the V1Scan seam; no pushdown — there is nothing to push
  * into. Read-only by construction: no SupportsWrite, and DROP/ALTER
  * resolve the segment as a (nonexistent) real table. */
private[store] final case class GraftMetaTable(path: String, kind: String,
    identString: String) extends Table with SupportsRead {

  /** ONE frame per table resolution (loadTable hands out a fresh
    * instance per statement): schema resolution and the scan share a
    * single log replay and see one consistent snapshot — `.detail` in
    * particular pays its listing/DV accounting once, not once for the
    * analyzer and again at execution. */
  private lazy val frame0: DataFrame =
    GraftMetaTable.frame(SparkSession.active, path, kind)

  override def name(): String = identString

  override lazy val schema: StructType = frame0.schema

  override def partitioning(): Array[Transform] = Array.empty

  override def properties(): util.Map[String, String] =
    java.util.Collections.emptyMap()

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = GraftMetaTable.this.schema

        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T =
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = GraftMetaTable.this.schema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
              frame0.rdd
          }.asInstanceOf[T]

        override def description(): String = s"GraftMetaScan[$path, $kind]"
      }
    }
}

private[store] object GraftMetaTable {
  val Kinds: Set[String] = Set("history", "files", "detail")

  def frame(spark: SparkSession, path: String, kind: String): DataFrame =
    kind match {
      case "history" => CommitLog.history(spark, path)
      case "detail" => CommitLog.detail(spark, path)
      case "files" => filesFrame(spark, path)
    }

  /** The live set as data: file reference, log-carried size and row
    * count (null for pre-stats generations), the attached
    * deletion-vector reference + its recorded deleted-position count,
    * and the raw per-column stats envelope (the `{"col":[min,max],…}`
    * JSON the scanner prunes with — `get_json_object(stats, '$.ts')`
    * answers "which files would OPTIMIZE WHERE touch" in SQL).
    * Everything comes from the log replay — zero file-system calls,
    * zero data files opened. */
  private def filesFrame(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    // stats are stored under PHYSICAL column names; expose LOGICAL
    // names (the remap every other stats consumer goes through) — raw
    // physical keys would under-report renamed columns and serve a
    // burned generation's bounds as a re-added column's. One snapshot
    // feeds both, so they cannot straddle a concurrent rename.
    val snap = CommitLog.snapshot(spark, path)
    val mapping = snap.mapping
    snap.live.map { e =>
      val st = e.stats.map(j =>
        CommitLog.statsToLogical(CommitLog.parseStatsJson(j), mapping))
      def key(k: String): Option[Long] =
        st.flatMap(_.get(k)).collect { case (n: Long, _) => n }
      (e.name, key(CommitLog.BytesSizeKey), key(CommitLog.RowCountKey),
        e.dv, e.dvRows, st.map(CommitLog.statsJsonOf))
    }.toDF("file", "bytes", "rows", "dv_file", "dv_rows", "stats")
  }
}
