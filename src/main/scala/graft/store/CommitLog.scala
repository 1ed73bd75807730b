package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.immutable.SortedMap

import LogLine.{Add, Change, Constraint, Dv, Ledger, Op, Property, Remove, Schema, Ts}

/** The change feed's "this range is gone" failure, as a TYPE: raised by
  * [[CommitLog.changesSince]] when the requested version range cannot
  * be replayed — commits pruned past a checkpoint, fed data files
  * vacuumed, or an unwitnessed rewrite (a tagged removing commit with
  * no change files) inside the range. Consumers that can recover
  * (a fresh mirror re-bootstrapping from a snapshot read — see
  * [[CdcStream.drainWithBootstrap]]) catch THIS type; matching message
  * text would silently decouple on a rewording. Extends
  * IllegalStateException so callers with no recovery path keep the
  * loud-failure contract unchanged. */
final class FeedGapException(msg: String) extends IllegalStateException(msg)

/** Minimal Delta-style transaction log — the ACID layer under every
  * engine table, the pipeline's four [[Store]] tables included:
  * multi-writer safety without a lock file, on any store with one
  * publish-if-absent primitive.
  *
  * Protocol (the published Delta/Iceberg core, stripped to appends +
  * rewrites over one flat parquet table):
  *
  *  - The table directory carries `_graft_log/` holding numbered
  *    commit files `%020d.commit`; each commit lists data-file names
  *    ADDED (`+name`) and REMOVED (`-name`). The LIVE file set is the
  *    log replayed in version order — readers never list data files.
  *  - Writers first land data files under writer-unique names (via an
  *    `_`-prefixed staging dir, invisible to any parquet scan), then
  *    try to publish commit N+1. Publication is atomic-rename-if-
  *    absent, so exactly ONE writer wins each version; losers re-read
  *    the log and retry at the next number. Uncommitted data files are
  *    invisible, so a crash at ANY point loses nothing and corrupts
  *    nothing — vacuum() reclaims the orphans later.
  *  - ONE REPLAY: every read of the log's state — the live set, the
  *    txn/consumed idempotence ledgers, the schema ledger and its
  *    column mapping, constraints, properties — is a projection of one
  *    immutable [[Snapshot]], built from one `_graft_log` listing and
  *    one checkpoint-then-fold pass. A caller reading several ledgers
  *    of one table takes one Snapshot, so they all describe one
  *    version. Each publish attempt takes one Snapshot too: `next` is
  *    its version + 1, and the remove/DV validation, the constraint
  *    and schema fences and the caller's `abortOnLostRace` all judge
  *    that same Snapshot, AFTER `next` was derived from it — a
  *    competitor landing later collides at `next` and loops the
  *    attempt back through every fence.
  *  - A rewrite (compaction) commits `adds ++ removes` as ONE version:
  *    readers see the old files or the new files, never both, never
  *    neither. A concurrent append simply wins an earlier or later
  *    version — its files are not in the rewrite's remove set, so
  *    nothing is lost (no lost-update window, so no lock).
  *
  * Publish-if-absent is the ONE primitive the protocol needs, and it
  * is pluggable ([[AtomicPublisher]]): [[RenameOrLinkPublisher]] (the
  * default) covers HDFS (namenode-side exclusive rename) and file://
  * (hard link — POSIX rename would clobber); S3-class stores plug in
  * [[ConditionalPutPublisher]], which PUTs the commit file whole under
  * a server-side create-if-absent condition (`If-None-Match: *`) —
  * no rename, no coordination service. The PROTOCOL is identical under
  * both; LoggedStoreSpec drives the full suite against each.
  */
object CommitLog {

  private val LogDir = "_graft_log"
  private val CommitRe = "([0-9]{20})\\.commit".r
  private val CheckpointRe = "([0-9]{20})\\.checkpoint".r

  /** A checkpoint (full live set snapshot) is written every this many
    * versions, so a read replays at most this many commit files past
    * the newest checkpoint instead of the whole history — the Delta
    * checkpoint mechanism, which bounds read cost on a micro-batch
    * table that accumulates thousands of commits. */
  private[store] val CheckpointInterval = 10L

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A log-carried file reference is normally a BARE NAME resolved
    * under the table root; a SHALLOW CLONE ([[shallowClone]]) records
    * ABSOLUTE references to the source table's files instead (Delta's
    * absolute-path add actions). Every data/DV read resolves through
    * here so both spellings serve identically. */
  private[graft] def resolveDataPath(tablePath: String, name: String): String =
    if (name.startsWith("/") || name.contains("://")) name
    else s"$tablePath/$name"

  /** Last path segment — file basenames within one live set must be
    * pairwise distinct for cross-table joins on parquet
    * `_metadata.file_name` to stay sound for absolute (cloned)
    * references. Writer-stamped uuid names make that true for files
    * this engine lands, but convertParquet adopts arbitrary
    * user-named files, so the clone/restore paths that PUBLISH
    * absolute references enforce it ([[requireDistinctBasenames]])
    * rather than assuming it. */
  private[graft] def baseNameOf(name: String): String =
    name.substring(name.lastIndexOf('/') + 1)

  /** Refuse (loudly, driver-side, O(live set)) to publish a live set
    * whose basenames collide — a silent wrong-join in every
    * `_metadata.file_name` lookup otherwise (DV attachment, change
    * feed, stats). Reachable only via reference-publishing paths
    * (shallowClone of a converted-then-cloned chain; restore of such
    * a snapshot); plain appends can't collide (uuid-stamped names in
    * one directory). */
  private[graft] def requireDistinctBasenames(entries: Seq[LiveEntry],
      context: String): Unit = {
    val dup = entries.map(e => baseNameOf(e.name))
      .groupBy(identity).collectFirst { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty,
      s"$context: live-set basename collision on '${dup.get}' — " +
        "file-metadata joins (deletion vectors, change feed, stats) key " +
        "on basenames and would silently mis-join; rewrite one source " +
        "(OPTIMIZE re-lands files under fresh writer-stamped names) " +
        "before cloning/restoring")
  }

  /** The commit-time fence ([[requireDistinctBasenames]]) covers
    * clone/restore commits published AFTER it landed; a LEGACY ledger
    * that already carries colliding basenames (a converted-then-cloned
    * chain) would replay unchecked into the basename-keyed probes
    * (the row-level core, [[rewriteRows]]), where two colliding files' match
    * counts merge under one key and only the entriesByName winner gets
    * removed/rewritten — matching rows of the loser silently stay
    * live. So the probe consumers re-check: any MULTI-SEGMENT
    * reference (absolute, URI, or table-dir-relative subdirectory
    * path — name resolution treats all three as paths) can alias
    * another entry's basename; bare names share one directory — the
    * filesystem dedups — so the O(live set) driver check runs only
    * when a path-like reference is present. */
  private def requireBasenameSoundness(entries: Seq[LiveEntry],
      context: String): Unit =
    if (entries.exists(e => e.name.contains("/")))
      requireDistinctBasenames(entries, s"$context (legacy cloned ledger)")

  /** Live entries keyed by BOTH their ledger name and its basename —
    * `_metadata.file_name` probes hand back basenames while a cloned
    * snapshot's ledger records absolute references, so file-metadata
    * lookups and ledger-name replays must land on the same entry
    * (collision-free: reference-publishing commits enforce pairwise
    * distinct basenames via [[requireDistinctBasenames]], and an
    * absolute name can never equal another entry's basename). */
  private def entriesByName(entries: Seq[LiveEntry]): Map[String, LiveEntry] =
    entries.flatMap(e => Seq(e.name -> e, baseNameOf(e.name) -> e)).toMap

  /** FileStatus of the given file references (bare or absolute), keyed
    * by ABSOLUTE path — ONE directory listing per DISTINCT parent (the
    * table root plus one per clone source), never a HEAD round trip
    * per file. This is the listing behind every scan ([[scanRelation]]:
    * a read lists the table directory once for its data files and
    * vectors together, changesSince once for its check and both
    * scans) and behind optimize's sizing. A MISSING parent directory
    * contributes nothing: its members are legitimately absent (a
    * vacuumed clone source, an uncreated table) and every caller has
    * its own absent-file contract (the scan's "vacuumed" failure, the
    * feed's FeedGapException). Any OTHER listing failure PROPAGATES —
    * swallowing a throttle or permission error here would mis-diagnose
    * transient IO as "vacuumed" or treat every file as undersized and
    * escalate a bounded compaction into a full rewrite (optimize). */
  private[graft] def statusFor(fs: FileSystem, tablePath: String,
      names: Seq[String]): Map[String, FileStatus] =
    names.map(n => resolveDataPath(tablePath, n))
      .map(abs => abs.substring(0, abs.lastIndexOf('/')))
      .distinct.flatMap { parent =>
        try fs.listStatus(new Path(parent)).toSeq.collect {
          case st if st.isFile => s"$parent/${st.getPath.getName}" -> st
        } catch { case _: java.io.FileNotFoundException => Seq.empty[(String, FileStatus)] }
      }.toMap

  /** Sizes of the given file references (bare or absolute), keyed by
    * the caller's reference — [[statusFor]]'s listing discipline. */
  private[store] def sizesFor(fs: FileSystem, tablePath: String,
      names: Seq[String]): Map[String, Long] = {
    val st = statusFor(fs, tablePath, names)
    names.flatMap(n =>
      st.get(resolveDataPath(tablePath, n)).map(n -> _.getLen)).toMap
  }

  /** One-line projections of [[Snapshot]] — each is one listing and one
    * replay. `asOf` is TIME TRAVEL: the log replayed up to an earlier
    * version IS that snapshot, for free, as long as vacuum hasn't
    * reclaimed its files (same retention contract as Delta). Callers
    * that read several ledgers of one table take one [[snapshot]]
    * instead of calling several of these. */
  def liveFiles(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): (Long, Seq[String]) =
    liveFilesFull(spark, tablePath, asOf) match { case (v, es) => (v, es.map(_.name)) }

  /** Latest committed version of the table (0 = no commits yet) — one
    * log-directory listing, no content read; what a streaming source
    * polls per trigger to see whether anything new landed. A publish
    * attempt derives `next` the same listing-only way, from the
    * version of the [[Snapshot]] its fences then judge. */
  def latestVersion(spark: SparkSession, tablePath: String): Long =
    listLog(spark, tablePath).latest

  /** [[liveFiles]] plus each live file's LOG-CARRIED column statistics
    * (recorded by its add at write time — Delta's stats-in-add-action
    * pattern): file name → raw
    * stats JSON, None for files committed without stats. Consumers:
    * the merge/delete match probe skips files from the LOG instead of
    * paying one footer read per live file. */
  private[graft] def liveFilesWithStats(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): (Long, Seq[(String, Option[String])]) =
    liveFilesFull(spark, tablePath, asOf) match { case (v, es) => (v, es.map(e => (e.name, e.stats))) }

  /** One live-set entry of the replay: the data file, its log-carried
    * stats JSON, the DELETION VECTOR file currently attached to it
    * (None = every physical row is live), and — when the attaching
    * commit recorded it — the vector's POSITION COUNT (how many of the
    * file's rows it deletes; cumulative, like the vector itself). The
    * count is what lets COUNT(*) stay a ledger fold on a merge-on-read
    * table (GraftStatsAggRule). */
  private[graft] final case class LiveEntry(name: String,
      stats: Option[String], dv: Option[String],
      dvRows: Option[Long] = None)

  /** The complete live set at `asOf`: [[liveFilesWithStats]] plus each
    * file's deletion-vector attachment. */
  private[graft] def liveFilesFull(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): (Long, Seq[LiveEntry]) = {
    val s = snapshot(spark, tablePath, asOf)
    (s.version, s.live)
  }

  /** One listing of `_graft_log`, parsed — the ONLY place a log file
    * name is matched against [[CommitRe]] / [[CheckpointRe]]. A missing
    * log directory lists as empty (`exists` false). */
  private final class LogListing(val tablePath: String, val fs: FileSystem,
      val exists: Boolean, val commits: SortedMap[Long, Path],
      val checkpoints: SortedMap[Long, Path]) {

    /** Latest version from the names alone. CHECKPOINT versions count
      * too: after the supported prune-commits-behind-a-checkpoint
      * cleanup, a commits-only max would restart numbering below the
      * checkpoint base and every new commit would be invisible to
      * replay. */
    def latest: Long =
      math.max(commits.lastOption.fold(0L)(_._1), checkpoints.lastOption.fold(0L)(_._1))

    def snapshot(asOf: Long = Long.MaxValue): Snapshot = new Snapshot(this, asOf)
  }

  private def listLog(spark: SparkSession, tablePath: String): LogListing = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    val files =
      try Some(fs.listStatus(log).toSeq.map(st => st.getPath.getName -> st.getPath))
      catch { case _: java.io.FileNotFoundException => None }
    def parsed(re: scala.util.matching.Regex) = SortedMap.from(
      files.getOrElse(Seq.empty).collect { case (re(v), p) => v.toLong -> p })
    new LogListing(tablePath, fs, files.isDefined, parsed(CommitRe),
      parsed(CheckpointRe))
  }

  /** The table at `asOf` (latest by default): one listing, no content
    * read until a ledger is asked for. */
  private[graft] def snapshot(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): Snapshot =
    listLog(spark, tablePath).snapshot(asOf)

  /** THE log replay: one listing, then the newest checkpoint ≤ `asOf`
    * (if any) and every later commit up to `asOf`, folded in version
    * order. Every checkpoint carries the full state through its own
    * version (induction from the first), so pruning the commits it
    * subsumes moves no ledger backwards. `version` comes from the
    * listing alone; the files are read once, when a ledger is first
    * asked for — a commit attempt that needs no ledger reads none.
    * Content becomes visible atomically with the publish rename, so
    * incomplete files cannot exist. The fold ([[LogLine]] has the line
    * format) holds:
    *  - the LIVE SET, in first-add order, with each file's stats and
    *    deletion-vector attachment;
    *  - the IDEMPOTENCE ledgers: per-query max batch (`txn=<q>:<b>` op
    *    tags) and max consumed source version (`consumed=<v>` op tags);
    *  - the SCHEMA ledger (newest schema header ≤ `asOf`) and the
    *    column mapping and burned names derived from it;
    *  - the CHECK-constraint and TABLE-PROPERTIES ledgers (keyed tags).
    * Only live-set reads ([[live]]) refuse an explicit `asOf` the
    * replay cannot reach exactly — versions are contiguous, so reaching
    * a lower one means the requested version never existed or was
    * pruned past a checkpoint, and answering with another snapshot
    * would be a wrong historical read (Delta throws VersionNotFound
    * too). The ledger reads fold whatever survives at or below `asOf`. */
  private[graft] final class Snapshot private[CommitLog] (listing: LogListing,
      asOf: Long) {
    private val base = listing.checkpoints.rangeTo(asOf).lastOption
    private val commits = listing.commits
      .rangeFrom(base.fold(0L)(_._1) + 1).rangeTo(asOf)

    /** The version reached (0 for a table with no commits yet). */
    val version: Long = commits.lastOption.orElse(base).fold(0L)(_._1)

    private lazy val state: ReplayState = {
      val live = scala.collection.mutable.LinkedHashMap.empty[String, LiveEntry]
      var txn = Map.empty[String, Long]
      var consumed = 0L
      var schema = Option.empty[(Long, String)]
      var constraints = Map.empty[String, String]
      var properties = Map.empty[String, String]
      // a corrupt line fails the live-set reads only; the ledgers fold on
      var corrupt = Option.empty[String]
      def fail(msg: String): Unit = if (corrupt.isEmpty) corrupt = Some(msg)
      def ledgerTag(tag: String): Unit = tag match {
        case TxnTagRe(q, b) =>
          txn = txn.updated(q, math.max(b.toLong, txn.getOrElse(q, -1L)))
        case ConsumedTagRe(v) => consumed = math.max(consumed, v.toLong)
        case _ => ()
      }
      def fold(v: Long, p: Path, checkpoint: Boolean): Unit =
        LogLine.read(listing.fs, p).foreach {
          // a re-added file starts vector-free
          case Add(name, stats) => live(name) = LiveEntry(name, stats, None)
          case Remove(name) if !checkpoint => live -= name
          case Change(_) if !checkpoint => () // never live
          // a later attachment REPLACES the vector (vectors are
          // cumulative); a countless one (committed before counts were
          // recorded) leaves consumers to abstain
          case Dv(file, dv, rows) => live.get(file) match {
            case Some(e) => live(file) =
              if (dv == LogLine.Detach) e.copy(dv = None, dvRows = None)
              else e.copy(dv = Some(dv), dvRows = rows)
            case None =>
              fail(s"corrupt commit in $p: DV attached to non-live file $file")
          }
          // the newest `#schema=` version wins (a checkpoint's carried
          // header is outranked by any later evolution)
          case Schema(json) => if (schema.forall(_._1 < v)) schema = Some(v -> json)
          case Constraint(tag) => constraints = LogLine.keyed(constraints, tag)
          case Property(tag) => properties = LogLine.keyed(properties, tag)
          // a checkpoint carries the idempotence tags bare; a commit
          // carries them as its op tag (`#op=txn=q:b`)
          case Ledger(tag) if checkpoint => ledgerTag(tag)
          case Op(tag) if !checkpoint => ledgerTag(tag)
          case Ts(_) | Ledger(_) | Op(_) => ()
          case l => fail(s"corrupt ${if (checkpoint) "checkpoint" else "commit"} " +
            s"line in $p: ${LogLine.render(l)}")
        }
      base.foreach { case (v, p) => fold(v, p, checkpoint = true) }
      commits.foreach { case (v, p) => fold(v, p, checkpoint = false) }
      ReplayState(live.values.toSeq, txn, consumed, schema.map(_._2),
        constraints, properties, corrupt)
    }

    /** The live entries at `asOf`; throws on a corrupt log or on an
      * explicit `asOf` the replay cannot reach (see above). */
    def live: Seq[LiveEntry] = {
      state.corrupt.foreach(m => throw new IllegalStateException(m))
      if (listing.exists && asOf != Long.MaxValue && version != asOf)
        throw new IllegalStateException(
          s"version $asOf of ${listing.tablePath} unavailable (latest reachable: " +
            s"$version — nonexistent, or its commits were pruned past a checkpoint)")
      state.live
    }

    /** Highest batch id `queryId` committed; -1 when it never did. */
    def lastTxnBatch(queryId: String): Long = state.txn.getOrElse(queryId, -1L)
    def consumed: Long = state.consumed
    def schemaJson: Option[String] = state.schemaJson
    lazy val schema: Option[StructType] = schemaJson.map(
      org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])
    /** logical → physical (empty for an unmapped table). */
    lazy val mapping: Map[String, String] =
      schema.map(columnMapping).getOrElse(Map.empty)
    def constraints: Map[String, String] = state.constraints
    def properties: Map[String, String] = state.properties
    def burned: Set[String] = properties.get(BurnedProp)
      .map(_.split(',').filter(_.nonEmpty).toSet).getOrElse(Set.empty)

    /** The checkpoint file for this snapshot — the inverse of the fold
      * above: the ledgers as bare header tags, then every live file
      * with its stats suffix, then its deletion-vector attachment, so
      * none survives only in prunable commit files (Delta's
      * txn-action-in-checkpoint pattern). Deterministic (max per
      * ledger, sorted), so a version-tie loser writes identical bytes. */
    def checkpoint: String = {
      val entries = live
      LogLine.render(state.txn.toSeq.sortBy(_._1).map { case (q, b) => Ledger(s"txn=$q:$b") } ++
        (if (consumed > 0L) Seq(Ledger(s"consumed=$consumed")) else Seq.empty) ++
        schemaJson.map(Schema).toSeq ++
        LogLine.setTags(constraints).map(Constraint) ++ LogLine.setTags(properties).map(Property) ++
        entries.map(e => Add(e.name, e.stats)) ++
        entries.collect { case LiveEntry(n, _, Some(dv), rows) => Dv(n, dv, rows) })
    }
  }

  /** What one [[Snapshot]] replay folded. */
  private final case class ReplayState(live: Seq[LiveEntry],
      txn: Map[String, Long], consumed: Long, schemaJson: Option[String],
      constraints: Map[String, String], properties: Map[String, String],
      corrupt: Option[String])

  private val TxnTagRe = "txn=([^:\\s]+):(-?[0-9]+)".r
  private val ConsumedTagRe = "consumed=([0-9]+)".r

  /** Publish a commit adding/removing the given data-file names.
    * Optimistic: races for the next version number; on losing,
    * re-lists and retries. Appends (no removes) never conflict
    * semantically. A commit WITH removes is a rewrite, and blind
    * retry would be a data-duplication hazard: two concurrent
    * compactors reading the same live set would each add their own
    * rewrite while removing the same inputs — the second to land
    * doubles the table. So before every attempt a removing commit
    * re-validates its removes against the CURRENT live set and
    * FAILS LOUDLY on conflict (the Delta-style conflict check; the
    * loser's rewrite files stay invisible and vacuum reclaims them).
    * Returns the version won. */
  def commit(spark: SparkSession, tablePath: String,
      adds: Seq[String], removes: Seq[String] = Seq.empty,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      opTag: Option[String] = None,
      changeAdds: Seq[String] = Seq.empty,
      addStats: Map[String, String] = Map.empty,
      schemaJson: Option[String] = None,
      removeDvExpect: Map[String, Option[String]] = Map.empty,
      constraintsExpect: Option[Map[String, String]] = None,
      schemaExpect: Option[Option[String]] = None): Long =
    commitOrAbort(spark, tablePath, adds, removes, publisher, opTag,
      abortOnLostRace = _ => false, changeAdds = changeAdds,
      addStats = addStats, schemaJson = schemaJson,
      removeDvExpect = removeDvExpect, constraintsExpect = constraintsExpect,
      schemaExpect = schemaExpect)
      .getOrElse(throw new IllegalStateException("unreachable: non-aborting commit"))

  /** commit() with a fencing hook: `abortOnLostRace` is evaluated on
    * EVERY publish attempt — including the first — and a true answer
    * abandons the commit (None; the caller's staged files become
    * vacuum-eligible orphans). This closes the zombie-writer window an
    * up-front idempotence check leaves open: two drivers running the
    * same logical operation can BOTH pass a check taken before the
    * race. The hook receives the attempt's [[Snapshot]] (no second
    * replay). A loser of the publish race re-checks here and sees the
    * winner's claim — the Delta pattern of re-validating txn versions
    * inside the optimistic-commit conflict path, generalized to any
    * caller-supplied predicate. The first attempt must fence too: a
    * competitor that fully committed BEFORE this writer's first
    * publish leaves no race to lose (the publish lands cleanly at
    * latest + 1), so an attempts>0-only fence would double-apply.
    * Ordering makes this airtight: `next` is derived from the
    * attempt's Snapshot BEFORE the fence judges that same Snapshot, so
    * a competitor landing after the attempt's listing collides at
    * `next` and forces a losing publish, which loops back through the
    * fence. */
  private[store] def commitOrAbort(spark: SparkSession, tablePath: String,
      adds: Seq[String], removes: Seq[String],
      publisher: AtomicPublisher, opTag: Option[String],
      abortOnLostRace: Snapshot => Boolean,
      changeAdds: Seq[String] = Seq.empty,
      addStats: Map[String, String] = Map.empty,
      schemaJson: Option[String] = None,
      dvAttach: Map[String, String] = Map.empty,
      dvExpect: Map[String, Option[String]] = Map.empty,
      dvRowCounts: Map[String, Long] = Map.empty,
      constraintTags: Seq[String] = Seq.empty,
      propertyTags: Seq[String] = Seq.empty,
      removeDvExpect: Map[String, Option[String]] = Map.empty,
      constraintsExpect: Option[Map[String, String]] = None,
      schemaExpect: Option[Option[String]] = None): Option[Long] = {
    require(adds.nonEmpty || removes.nonEmpty || dvAttach.nonEmpty ||
      constraintTags.nonEmpty || propertyTags.nonEmpty ||
      schemaJson.nonEmpty, "empty commit")
    require(dvAttach.keySet.forall(dvExpect.contains),
      "every DV attachment needs its expected prior attachment (conflict check input)")
    require(dvRowCounts.keySet.subsetOf(dvAttach.keySet),
      "DV row counts must describe this commit's own attachments")
    require(removeDvExpect.keySet.subsetOf(removes.toSet),
      "removeDvExpect keys must be removed files (remove-side DV fence input)")
    require(opTag.forall(t => t.nonEmpty && !t.exists(_.isWhitespace)),
      s"malformed opTag: $opTag")
    // rendered once, before anything is written ([[LogLine]] has the
    // format and refuses a payload holding a newline). A rewrite that is
    // NOT row-preserving (deleteWhere/merge) must carry an op tag, or
    // change-feed consumers would skip it as a compaction; change files
    // are never live, read only by changesSince, and vacuum-protected
    // while this commit file survives. The IN-COMMIT timestamp is added
    // per attempt (below).
    val body = LogLine.render(opTag.map(Op).toSeq ++
      schemaJson.map(Schema).toSeq ++
      constraintTags.map(Constraint) ++
      propertyTags.map(Property) ++
      changeAdds.map(Change) ++
      adds.map(a => Add(a, addStats.get(a))) ++
      removes.map(Remove) ++
      dvAttach.toSeq.sortBy(_._1).map { case (f, dv) => Dv(f, dv, dvRowCounts.get(f)) })
    def contentFor(tsMs: Long): String = LogLine.render(Ts(tsMs)) + "\n" + body
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    fs.mkdirs(log)
    var attempts = 0
    while (attempts < 10000) {
      // ONE snapshot per attempt feeds `next` and every check below. A
      // removing commit must publish at EXACTLY validated-version + 1:
      // validating against one listing and racing a number from a
      // SECOND listing is a TOCTOU hole — a rewrite landing between the
      // two would make this commit's first publish attempt land on a
      // version number past the conflict, skipping re-validation and
      // doubling the table. `next` needs the listing alone; file
      // contents are read only when a check asks for a ledger.
      val snap = listLog(spark, tablePath).snapshot()
      val next = snap.version + 1
      if (removes.nonEmpty || dvAttach.nonEmpty) {
        val liveSeq = snap.live
        val live = liveSeq.map(_.name).toSet
        val gone = removes.filterNot(live)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"rewrite conflict on $tablePath: inputs already removed by a " +
              s"concurrent commit (${gone.take(3).mkString(", ")}…) — " +
              "re-read the live set and rerun the rewrite")
        // DV-attaching commits validate under the same discipline: the
        // attached file must still be live AND still carry the
        // attachment the planner read (dvExpect) — a concurrent
        // compaction that absorbed the file, or a concurrent delete that
        // replaced its DV, planned against state this commit would
        // clobber (the second attacher's vector was built from the FIRST
        // attacher's pre-state, so publishing it would resurrect the
        // first delete's rows).
        val dvByName = liveSeq.map(e => e.name -> e.dv).toMap
        // attachments to files ADDED by this same commit (restore
        // re-adding a historical file with its vector) have no
        // current state to conflict with
        val dvConflicts = dvAttach.keys.filterNot(adds.contains).filter { f =>
          dvByName.get(f) match {
            case None => true // attachment target no longer live
            case Some(cur) => cur != dvExpect(f) // attachment moved under us
          }
        }
        if (dvConflicts.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"deletion-vector conflict on $tablePath: file(s) " +
              s"${dvConflicts.take(3).mkString(", ")}… were rewritten or " +
              "re-vectored by a concurrent commit — re-read the live set " +
              "and rerun the delete")
        // the REMOVE side of the DV fence: a rewrite (optimize /
        // copy-on-write delete/update/merge) was planned from the
        // VISIBLE rows of its inputs, so a deletion vector attached
        // (or replaced) on a removed file AFTER planning means the
        // rewrite's restated rows would resurrect a concurrent
        // delete — "still live" alone is not enough evidence. Every
        // remove-carrying planner passes the per-file attachment it
        // planned against; any drift fails loudly here (the ordering
        // the dvExpect fence above covers only the attaching side).
        val rmDrift = removeDvExpect.collect {
          case (f, planned) if live(f) && dvByName.get(f).flatten !=
            planned => f
        }
        if (rmDrift.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"rewrite conflict on $tablePath: removed file(s) " +
              s"${rmDrift.take(3).mkString(", ")}… were re-vectored by a " +
              "concurrent delete after this rewrite was planned — " +
              "re-read the live set and rerun the rewrite")
      }
      // CONSTRAINT fence: a writer whose rows were validated under the
      // constraint set read at plan time must not land them after a
      // DDL commit grew that set — the landed rows would be
      // unvalidated against the new constraint and the "green ledger
      // means the whole table satisfies every active constraint"
      // invariant would break silently. Judged on the attempt snapshot,
      // AFTER `next` was derived from it (like the zombie fence): a
      // constraint commit landing after this listing occupies `next` or
      // later, so this writer either loses the publish and loops back
      // through the check, or commits BELOW the constraint version —
      // whose addConstraint re-validates against it (the add-side
      // fence). Dropped constraints never invalidate validated rows, so
      // only additions and changed checks conflict.
      constraintsExpect.foreach { expected =>
        val grew = snap.constraints.filter { case (n, c) =>
          !expected.get(n).contains(c)
        }
        if (grew.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"constraint(s) ${grew.keys.mkString(", ")} were added to " +
              s"$tablePath after this write's rows were validated — rerun " +
              "the write so the new constraint rides its plan")
      }
      // SCHEMA fence: every commit that STAMPS the schema ledger
      // derived its new schema from a ledger state it observed at plan
      // time — publishing it after the ledger moved (a concurrent
      // rename/drop/evolution) would silently REVERT that movement (a
      // version-race loser republishes its stale evolution at the next
      // number; a drop reverted this way re-exposes a burned column).
      // Same ordering as the other fences: a ledger move after this
      // listing collides at `next` and loops back here.
      schemaExpect.foreach { expected =>
        if (snap.schemaJson != expected)
          throw new java.util.ConcurrentModificationException(
            s"the schema ledger of $tablePath moved after this commit's " +
              "schema was derived (a concurrent rename/drop/evolution) — " +
              "re-read the schema and rerun the operation")
      }
      // the caller's fence judges the same snapshot (see the contract
      // above): a competitor committing before this attempt's listing
      // is visible to it; one committing after collides at `next` and
      // sends us back around the loop
      if (abortOnLostRace(snap)) return None
      // IN-COMMIT timestamp, clamped monotone against the predecessor
      // commit (Delta's inCommitTimestamp rule: max(parent + 1, now)) —
      // storage mod times are one skewed object-store clock away from a
      // non-monotone history, which would make timestamp travel
      // ill-defined. The predecessor read is one small content read; a
      // pruned/absent predecessor clamps against 0 (timestamp travel
      // below a pruned checkpoint is already refused).
      val prevTs = commitTsOf(fs, new Path(log, f"${next - 1}%020d.commit"))
        .getOrElse(0L)
      val ts = math.max(prevTs + 1, System.currentTimeMillis())
      val dst = new Path(log, f"$next%020d.commit")
      if (publisher.publish(fs, log, dst, contentFor(ts))) {
        // periodic checkpoint so readers replay a bounded commit
        // suffix: the Snapshot at `next`, serialized — the live set
        // with stats and DV attachments plus every ledger, so pruning
        // the commits it subsumes cannot regress lastTxnBatch /
        // lastConsumed and silently re-open the exactly-once window.
        // WHOLLY best-effort — the commit is already durable, so no
        // failure here (snapshot replay included) may surface to the
        // caller: a thrown "append failed" after a landed commit would
        // drive an at-least-once caller to double-commit. A version-tie
        // loser wrote identical content; a skipped checkpoint only costs
        // replay length, never correctness.
        if (next % CheckpointInterval == 0) {
          try {
            publisher.publish(fs, log, new Path(log, f"$next%020d.checkpoint"),
              listLog(spark, tablePath).snapshot(next).checkpoint)
            ()
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        return Some(next)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not win a commit version for $tablePath after $attempts attempts")
  }

  /** CHECK-constraint ledger at `asOf`, name → SQL check expression
    * (see [[Snapshot]]). */
  def constraintsAt(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): Map[String, String] =
    snapshot(spark, tablePath, asOf).constraints

  /** TABLE-PROPERTIES ledger at `asOf` (Delta's TBLPROPERTIES; see
    * [[Snapshot]]). The `bloom.columns` / `bloom.ndv[.col]` properties
    * are consumed by EVERY data-file write ([[tableWriteOptions]]),
    * which is what keeps a declared point-lookup index alive through
    * maintenance a caller didn't hand-feed writer options — SQL
    * OPTIMIZE, CLI verbs, and every copy-on-write rewrite included. */
  def propertiesAt(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): Map[String, String] =
    snapshot(spark, tablePath, asOf).properties

  /** Effective merge-on-read default for SQL/catalog DML over this
    * table — the `delta.enableDeletionVectors` shape as a TABLE
    * property: a session conf that is SET wins (either value — an
    * explicit `false` opts a session out of a table's MOR default),
    * else the table's `graft.deletionVectors` property, else
    * copy-on-write. Scala API callers pass the switch explicitly and
    * bypass this resolution. */
  def morDefault(spark: SparkSession, tablePath: String): Boolean =
    spark.conf.getOption("spark.graft.deletionVectors") match {
      case Some(v) => v.toBoolean
      case None => propertiesAt(spark, tablePath)
        .get("graft.deletionVectors").exists(_.toBoolean)
    }

  /** SET table properties (one commit, multiple keys). Keys and values
    * must be newline/colon-free keys; values newline-free. */
  /** The ONE rendering of the property-encoding rule — every surface
    * that lands `#property=` tags (SET TBLPROPERTIES, catalog CREATE
    * … TBLPROPERTIES) validates through here. */
  private[store] def validateProperty(spark: SparkSession, k: String,
      v: String): Unit = {
    require(k.nonEmpty && !k.exists(c => c.isWhitespace || c == ':'),
      s"property key must be whitespace/colon-free: $k")
    require(!v.exists(c => c == '\n' || c == '\r'),
      s"property value must be newline-free: $k")
    // value-shape checks for properties that drive WRITE behavior: a
    // malformed value accepted here would brick every subsequent write
    // instead of failing the SET that introduced it
    if (k == "graft.clusterBy.files") clusterByFiles(v)
    if (k.startsWith(GeneratedPropPrefix)) {
      require(k.length > GeneratedPropPrefix.length,
        s"empty generated-column name: $k = $v")
      // the expression is parsed by every write AND by rename/drop
      // guards — an unparseable one would brick all of them. The
      // caller's session supplies the parser: SparkSession.active
      // would fail with an unrelated "no active session" on a thread
      // that has one in scope but not activated (a catalog call off
      // the driver's main thread).
      try spark.sessionState.sqlParser.parseExpression(v)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          throw new IllegalArgumentException(
            s"$k is not a parseable SQL expression: '$v' (${e.getMessage})")
      }
    }
  }

  def setProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String],
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    require(props.nonEmpty, "no properties to set")
    props.foreach { case (k, v) => validateProperty(spark, k, v) }
    commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
      publisher = publisher, opTag = Some("properties"),
      abortOnLostRace = _ => false,
      constraintTags = Seq.empty,
      propertyTags = LogLine.setTags(props))
      .getOrElse(throw new IllegalStateException("unreachable: unfenced property set"))
  }

  /** SET properties only if NONE of the keys is already present,
    * FENCED against a concurrent claimer — the claim-once primitive
    * layout stamps need (a banded index's band count, any
    * write-once table invariant). Plain [[setProperties]] is
    * last-writer-wins: two bootstrapping writers would both land their
    * stamp and both believe their layout was recorded, silently mixing
    * layouts in one table. Here the loser's commit aborts on the
    * winner's claim (re-evaluated on every publish attempt, the
    * zombie-fencing contract) and the caller re-reads and validates.
    * Returns true when THIS call's commit landed, false when another
    * writer already holds any of the keys. */
  def setPropertiesIfAbsent(spark: SparkSession, tablePath: String,
      props: Map[String, String],
      publisher: AtomicPublisher = RenameOrLinkPublisher): Boolean = {
    require(props.nonEmpty, "no properties to set")
    props.foreach { case (k, v) => validateProperty(spark, k, v) }
    def taken(s: Snapshot) = s.properties.keySet.exists(props.contains)
    if (taken(snapshot(spark, tablePath))) return false
    commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
      publisher = publisher, opTag = Some("properties"),
      abortOnLostRace = taken,
      propertyTags = LogLine.setTags(props))
      .isDefined
  }

  /** UNSET table properties (loud when a key is absent). */
  def unsetProperties(spark: SparkSession, tablePath: String,
      keys: Seq[String],
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    require(keys.nonEmpty, "no properties to unset")
    val cur = propertiesAt(spark, tablePath)
    val missing = keys.filterNot(cur.contains)
    require(missing.isEmpty,
      s"no such propert${if (missing.size == 1) "y" else "ies"} on $tablePath: " +
        missing.mkString(", "))
    commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
      publisher = publisher, opTag = Some("properties"),
      abortOnLostRace = _ => false,
      propertyTags = keys.sorted.map(LogLine.unsetTag))
      .getOrElse(throw new IllegalStateException("unreachable: unfenced property unset"))
  }

  /** Effective parquet writer options for a data-file write into this
    * table, from its snapshot's properties and mapping: the
    * property-declared bloom-filter options (so a declared point-lookup
    * index survives EVERY rewrite — the probe path reads these
    * filters) overlaid by the caller's explicit options. */
  private[store] def tableWriteOptions(props: Map[String, String],
      mapping: Map[String, String],
      explicit: Map[String, String] = Map.empty): Map[String, String] =
    bloomOptions(props, mapping) ++ explicit

  /** `bloom.columns = "a,b"` (+ optional `bloom.ndv` / `bloom.ndv.col`
    * expected-cardinality overrides, default 100k) → the parquet
    * writer knobs Bloom.writeWithBloomFilters would pass by hand.
    * Property names are LOGICAL; the parquet knobs target the file's
    * PHYSICAL column (renameColumn refuses while a bloom property
    * references the column, so the mapping here covers only columns
    * added with fresh physicals). */
  private[store] def bloomOptions(props: Map[String, String],
      mapping: Map[String, String] = Map.empty): Map[String, String] =
    props.get("bloom.columns") match {
      case Some(cols) =>
        val ndv = props.getOrElse("bloom.ndv", "100000")
        cols.split(',').map(_.trim).filter(_.nonEmpty).flatMap { c =>
          val phys = mapping.getOrElse(c, c)
          Seq(s"parquet.bloom.filter.enabled#$phys" -> "true",
            s"parquet.bloom.filter.expected.ndv#$phys" ->
              props.getOrElse(s"bloom.ndv.$c", ndv))
        }.toMap
      case None => Map.empty
    }

  /** ADD a CHECK constraint — the ENFORCING sibling of the
    * Expectations quarantine report: from this commit on, every write
    * that introduces new row values (append, overwrite, merge/upsert
    * sources, UPDATE post-images, streaming sinks) evaluates the check
    * INSIDE its write plan and fails loudly on the first violating row
    * (no extra pass — a raise_error projection rides the staged
    * write). SQL CHECK semantics: NULL passes, only FALSE violates.
    * Existing rows are validated up front (one bounded scan) — a
    * constraint the current table already violates is refused, so a
    * green ledger always means the whole table satisfies every active
    * constraint — and the validation is FENCED against in-flight
    * writers: the constraint commit aborts and revalidates when any
    * commit landed since the scan, and data commits re-check the
    * active constraint set after deriving their version (see
    * commitOrAbort's constraint fence), so no ordering lands
    * unvalidated rows silently. The ledger rides the log (`#constraint=` headers,
    * checkpoint-carried), and `constraintsAt(…, asOf)` answers what
    * was enforced at any version. */
  def addConstraint(spark: SparkSession, tablePath: String, name: String,
      check: String, publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+: $name")
    require(!check.exists(c => c == '\n' || c == '\r'),
      "check expression must be newline-free")
    require(!constraintsAt(spark, tablePath).contains(name),
      s"constraint $name already exists on $tablePath — drop it first")
    // parse errors surface here, not at first write
    spark.sessionState.sqlParser.parseExpression(check)
    // Validate-then-publish is a race against in-flight writers: rows
    // committed AFTER the validation scan but BEFORE this constraint
    // commit were neither scanned here nor enforced by their writer
    // (whose constraintsAt read predates this commit). The two fences
    // close both orderings: a writer landing ABOVE the constraint
    // version re-checks constraintsAt after deriving its own version
    // (the commitOrAbort constraint fence); a writer landing BELOW it
    // moves the table version, which aborts THIS publish (the
    // `abortOnLostRace` below fires on any commit since the scan) and
    // loops back through a fresh validation scan. Bounded retries: a
    // write-heavy table fails loudly rather than spinning.
    var attempts = 0
    while (attempts < 20) {
      val snap = snapshot(spark, tablePath)
      val (scanVersion, entries) = (snap.version, snap.live)
      // no live file, no row to violate
      if (entries.nonEmpty) {
        val bad = visibleRows(spark, tablePath, tableSchema(spark, tablePath, snap),
          entries, snap.mapping)
          .filter(not(coalesce(expr(check).cast("boolean"), lit(true))))
          .limit(1).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot add CHECK constraint $name to $tablePath: existing row " +
              s"violates ($check), e.g. ${bad.head}")
      }
      commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
        publisher = publisher, opTag = Some("constraint"),
        abortOnLostRace = _.version != scanVersion,
        constraintTags = Seq(LogLine.setTag(name, check))) match {
        case Some(v) => return v
        case None => attempts += 1 // something landed since the scan: revalidate
      }
    }
    throw new IllegalStateException(
      s"could not add CHECK constraint $name to $tablePath after $attempts " +
        "validation attempts — concurrent writes kept landing; quiesce writers " +
        "and retry")
  }

  /** DROP a CHECK constraint (loud when absent — a silently-ignored
    * drop would leave the operator believing enforcement stopped). */
  def dropConstraint(spark: SparkSession, tablePath: String, name: String,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    require(constraintsAt(spark, tablePath).contains(name),
      s"no CHECK constraint $name on $tablePath")
    commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
      publisher = publisher, opTag = Some("constraint"),
      abortOnLostRace = _ => false, constraintTags = Seq(LogLine.unsetTag(name)))
      .getOrElse(throw new IllegalStateException("unreachable: unfenced constraint drop"))
  }

  /** Wrap a to-be-written frame with a CAPTURED set of the table's
    * CHECK constraints: each check rides the write plan as a
    * raise_error projection (evaluated per row inline — no second pass
    * over the data), so the first violating row fails the whole write
    * loudly, before its commit publishes. Write paths read the set
    * once, enforce with it, and pass the same map to their commit as
    * `constraintsExpect`, so the enforcement a plan carries and the
    * fence its commit validates can never disagree. */
  private[store] def enforcedWith(df: DataFrame,
      cs: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    cs.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, check)) =>
      val ok = coalesce(expr(check).cast("boolean"), lit(true)) // NULL passes
      val chk = s"__graft_chk_$name"
      d.withColumn(chk, when(!ok, raise_error(
          concat(lit(s"CHECK constraint `$name` violated: ($check); row="),
            to_json(struct(df.columns.map(col).toIndexedSeq: _*)))))
        .otherwise(lit(null).cast("string")))
        .filter(col(chk).isNull).drop(chk)
    }
  }

  /** The in-commit timestamp a commit file carries; None for a
    * missing file or a pre-timestamp commit. */
  private def commitTsOf(fs: FileSystem, p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else LogLine.read(fs, p).collectFirst { case Ts(ms) => ms }

  /** TIME TRAVEL BY TIMESTAMP: the latest version whose in-commit
    * timestamp is ≤ `tsMs` — `read(…, asOf = versionAtTimestamp(…))`
    * is the wall-clock form of version travel. In-commit timestamps
    * are written monotone (commit() clamps against the predecessor),
    * so the answer is well-defined even under clock skew between
    * writers. Fails loudly when `tsMs` predates the oldest SURVIVING
    * timestamped commit (the range lives behind a pruned checkpoint —
    * same refusal as version travel past pruning) or when the log has
    * no timestamped commits at all (a pre-timestamp table). Driver
    * cost: one listing + one small read per surviving commit. */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
      tsMs: Long): Long = {
    val listing = listLog(spark, tablePath)
    if (!listing.exists)
      throw new IllegalStateException(s"no commit log at $tablePath")
    val stamped = listing.commits.toSeq.flatMap { case (v, p) =>
      commitTsOf(listing.fs, p).map(v -> _)
    }
    if (stamped.isEmpty)
      throw new IllegalStateException(
        s"$tablePath has no timestamped commits — written before in-commit " +
          "timestamps; travel by version instead")
    if (tsMs < stamped.head._2)
      throw new IllegalStateException(
        s"timestamp $tsMs predates the oldest surviving commit of $tablePath " +
          s"(version ${stamped.head._1} at ${stamped.head._2}) — earlier " +
          "history was pruned past a checkpoint")
    stamped.takeWhile(_._2 <= tsMs).last._1
  }

  /** Visible rows of a live file from METADATA alone: the log-carried
    * [[RowCountKey]] row count minus the attached deletion vector's
    * recorded position count (0 when no vector). None when the file
    * has no log stats (adopted pre-stats files) or carries a
    * countless pre-count DV attachment — callers must then take their
    * conservative (rewrite/scan) path; the fast path never guesses. */
  private[store] def metadataVisibleCount(e: LiveEntry): Option[Long] = for {
    rc <- statsCount(e.stats, RowCountKey)
    deleted <- if (e.dv.isEmpty) Some(0L) else e.dvRows
  } yield rc - deleted

  /** A reserved count ([[RowCountKey]], [[BytesSizeKey]]) from a file's
    * log-carried stats JSON; None for a file without stats or the key. */
  private[graft] def statsCount(stats: Option[String], key: String): Option[Long] =
    stats.flatMap(parseStatsJson(_).get(key)).collect { case (n: Long, _) => n }

  /** Reserved stats key carrying the file's total ROW COUNT (summed
    * across row groups at write time). The dot makes collision with a
    * real column impossible: `footerStatsJson` refuses to emit any
    * column whose name contains '.', so the key space is disjoint by
    * construction. */
  private[graft] val RowCountKey = "rows.count"

  /** Reserved stats key SUFFIX carrying a column's per-file NULL
    * COUNT (`<col>.nulls`, summed across row groups at write time).
    * Collision-free like [[RowCountKey]]: the emitter never records
    * any dotted-named column, so dotted keys belong to the engine —
    * and every consumer abstains on a dotted ATTRIBUTE name, so a
    * real column literally named `x.nulls` simply always scans.
    * Consumers: IS NULL / IS NOT NULL file pruning (StatsPruning) and
    * the metadata-only COUNT(col) (GraftStatsAggRule). */
  private[graft] val NullCountSuffix = ".nulls"

  /** Table-property prefix declaring a generated column:
    * `graft.generated.<col> = '<sql expr>'` ([[withGenerated]]). */
  private[graft] val GeneratedPropPrefix = "graft.generated."

  /** Reserved stats key carrying the file's on-disk BYTE SIZE — what
    * lets the auto-compaction census ([[maybeAutoCompact]]) fold from
    * the ledger alone, no directory listing per append. Same disjoint
    * key space as [[RowCountKey]] (column names with '.' are never
    * emitted). */
  private[graft] val BytesSizeKey = "bytes.size"

  /** Column statistics of a just-landed parquet file as a one-line
    * JSON object `{"col":[min,max],…}` — numeric AND string top-level
    * columns (strings use the truncate-and-successor bound encoding,
    * so a long value costs bounded log bytes while the recorded pair
    * stays a valid envelope). Values are aggregated across row groups
    * from the footer the writer just produced — one footer read per
    * NEW file at WRITE time, so reads and probes never pay
    * per-live-file footer I/O (the Delta stats-in-add-action
    * pattern). Columns whose physical stats do not mean what a reader
    * would compare them as ABSTAIN rather than lie: decimals
    * (unscaled ints), non-micros timestamps, unsigned ints. None when
    * nothing is statable or the footer is unreadable (stats are an
    * optimization, never a correctness input). */
  private[store] def footerStatsJson(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Option[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        // col → (min, max) folded across every row group; a column is
        // dropped the moment ANY row group lacks usable stats
        var acc = Map.empty[String, (Any, Any)]
        var dead = Set.empty[String]
        // col → NULL COUNT summed across row groups, emitted under the
        // reserved `<col>.nulls` key — independent of bounds (a decimal
        // whose bounds abstain still records nulls); any row group
        // without a set count kills the column's entry
        var nullAcc = Map.empty[String, Long]
        var nullDead = Set.empty[String]
        def fold(name: String, mn: Any, mx: Any): Boolean = {
          acc.get(name) match {
            case None => acc += name -> ((mn, mx)); true
            case Some((m0, m1)) =>
              (statCmp(mn, m0), statCmp(mx, m1)) match {
                case (Some(a), Some(b)) =>
                  acc += name -> ((if (a < 0) mn else m0, if (b > 0) mx else m1))
                  true
                case _ => false // mixed/incomparable across row groups
              }
          }
        }
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            // names with '"' or '\' cannot round-trip the one-line
            // JSON; a '.' means NESTED (or reserved-key-shaped) — only
            // clean top-level columns ever emit, which is what makes
            // the dotted key space reserved
            val clean = !name.exists(ch => ch == '.' || ch == '"' || ch == '\\')
            if (clean && !nullDead(name)) {
              val stN = c.getStatistics
              if (stN != null && stN.isNumNullsSet)
                nullAcc += name -> (nullAcc.getOrElse(name, 0L) + stN.getNumNulls)
              else { nullDead += name; nullAcc -= name }
            }
            if (clean && !dead(name)) {
              val st = c.getStatistics
              val ok = st != null && st.hasNonNullValue
              val ann = c.getPrimitiveType.getLogicalTypeAnnotation
              val v: Option[(Any, Any)] =
                if (!ok) None
                else ann match {
                  // decimals: footer min/max are UNSCALED physical
                  // ints — emitting them would invite a scale-blind
                  // compare (see numCmp's BigDecimal guard)
                  case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
                    None
                  // readers interpret INT64 timestamp bounds as
                  // MICROS (Spark's write unit); a millis/nanos file
                  // must abstain, not lie by three orders of magnitude
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                      if t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS =>
                    None
                  case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation
                      if !i.isSigned => None // sign-blind Int box
                  case _ =>
                    (st.genericGetMin(), st.genericGetMax()) match {
                      case (mn: java.lang.Number, mx: java.lang.Number)
                          if statableNumber(mn) && statableNumber(mx) =>
                        Some((mn, mx))
                      case (mn: org.apache.parquet.io.api.Binary,
                            mx: org.apache.parquet.io.api.Binary)
                          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
                        statsUpperBound(mx.toStringUsingUTF8).map(hi =>
                          (statsLowerBound(mn.toStringUsingUTF8), hi))
                      case _ => None // raw binary/NaN: footer fallback
                    }
                }
              v match {
                case Some((mn, mx)) if fold(name, mn, mx) => ()
                case _ => dead += name; acc -= name
              }
            }
          }
        }
        // ROW COUNT and BYTE SIZE under the reserved dotted keys (a
        // real column with a '.' in its name can never be emitted —
        // see the name guard above), recorded even when every column
        // abstains or the file holds no row (a rewrite that kept
        // nothing records [0,0], so consumers skip it): the count lets
        // COUNT(*) answer from the log alone (GraftStatsAggRule); the
        // size lets the auto-compaction census run without a directory
        // listing (maybeAutoCompact)
        val rows = blocks.map(_.getRowCount).sum
        val entries = Seq(
          RowCountKey -> ((rows: Any, rows: Any)),
          BytesSizeKey -> ((in.getLength: Any, in.getLength: Any))) ++
          acc.toSeq.sortBy(_._1) ++
          nullAcc.toSeq.sortBy(_._1).map { case (n, k) =>
            s"$n$NullCountSuffix" -> ((k: Any, k: Any)) }
        Some(entries.map { case (n, (mn, mx)) =>
          "\"" + n + "\":[" + jsonValue(mn) + "," + jsonValue(mx) + "]"
        }.mkString("{", ",", "}"))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** String-stats bound encoding (Delta's truncate-and-successor): a
    * value at most [[StatsStringCap]] UTF-16 units records exactly;
    * a longer MIN truncates at a code-point boundary (a prefix is ≤
    * the full string in unsigned UTF-8 order, so still a lower
    * bound), and a longer MAX truncates then increments its last code
    * point to the next valid one (skipping the surrogate gap,
    * carrying past U+10FFFF), producing a string strictly above
    * EVERY value sharing the prefix. None = no finite successor
    * exists (all-maximal prefix) — the column abstains. */
  private[store] val StatsStringCap = 64
  private[store] def statsLowerBound(s: String): String =
    if (s.length <= StatsStringCap) s
    else {
      val n = if (Character.isHighSurrogate(s.charAt(StatsStringCap - 1)))
        StatsStringCap - 1 else StatsStringCap
      s.substring(0, n)
    }
  private[store] def statsUpperBound(s: String): Option[String] =
    if (s.length <= StatsStringCap) Some(s)
    else {
      val cps = statsLowerBound(s).codePoints().toArray
      var n = cps.length
      while (n > 0 && cps(n - 1) >= 0x10FFFF) n -= 1
      if (n == 0) None
      else {
        val c = cps(n - 1)
        cps(n - 1) = if (c == 0xD7FF) 0xE000 else c + 1
        Some(new String(cps, 0, n))
      }
    }

  /** Minimal JSON string escaping for the one-line stats object: the
    * quote, the backslash, and control characters (which covers the
    * commit layer's no-newline invariant). */
  private def jsonQuote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Serialize a parsed stats map back to the one-line JSON object —
    * the inverse of [[parseStatsJson]] up to numeric spelling (a
    * parsed Double re-renders via toString). Consumer: the `.files`
    * metadata table, which must expose envelopes under LOGICAL names
    * (statsToLogical) and so cannot hand out the raw physical-keyed
    * suffix. */
  private[store] def statsJsonOf(stats: Map[String, (Any, Any)]): String =
    stats.toSeq.sortBy(_._1).map { case (k, (lo, hi)) =>
      jsonQuote(k) + ":[" + jsonValue(lo) + "," + jsonValue(hi) + "]"
    }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case s: String => jsonQuote(s)
    case other => other.toString
  }

  private def jsonUnquote(q: String): String = {
    val s = q.substring(1, q.length - 1)
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case 'n' => b.append('\n'); i += 2
          case 'r' => b.append('\r'); i += 2
          case 't' => b.append('\t'); i += 2
          case other => b.append(other); i += 2 // covers \" and \\
        }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }

  /** Numeric, finite, and JSON-emittable (quote-free column name is
    * checked by the caller via toDotString's shape). */
  private def statableNumber(n: java.lang.Number): Boolean = n match {
    case d: java.lang.Double => !d.isNaN && !d.isInfinite
    case f: java.lang.Float => !f.isNaN && !f.isInfinite
    case _: java.lang.Long | _: java.lang.Integer => true
    case _ => false
  }

  /** Compare two strings by their UTF-8 encodings as UNSIGNED bytes —
    * the ordering parquet uses for BINARY(UTF8) column statistics.
    * `String.compareTo` (UTF-16 code-unit order) disagrees with it for
    * supplementary-plane code points (U+10000+ sort BELOW U+E000..FFFF
    * in UTF-16 but ABOVE them in UTF-8), so stats pruning must never
    * use it: a wrongly-skipped file is a silently lost merge row. */
  private[graft] def utf8UnsignedCmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Exact numeric comparison across Int/Long/Float/Double boxes —
    * BigDecimal of the decimal rendering, so 2^63-scale longs never
    * lose precision to a double round trip. None = not numbers. */
  private[store] def numCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    // a DecimalType envelope value is a java.math.BigDecimal — and a
    // java.lang.Number — while decimal FOOTER stats are UNSCALED
    // physical ints; a numeric compare across that pair is scale-blind
    // (1.00 vs unscaled 100) and would prune files that DO match,
    // turning a merge update into a silent duplicate insert. Decimals
    // are incomparable evidence here by construction.
    case (_: java.math.BigDecimal, _) | (_, _: java.math.BigDecimal) => None
    case (x: java.lang.Number, y: java.lang.Number) =>
      try Some(BigDecimal(x.toString).compare(BigDecimal(y.toString)))
      catch { case _: NumberFormatException => None } // NaN/Infinity boxes
    case _ => None
  }

  /** Ordering across log-carried stats values and source envelope
    * values: numbers exactly ([[numCmp]]), strings in parquet's
    * unsigned UTF-8 order. None = incomparable — never evidence. */
  private[graft] def statCmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(utf8UnsignedCmp(x, y))
    case _ => numCmp(a, b)
  }

  /** Parse a `footerStatsJson` line back to col → (min, max); numbers
    * come back as Long when integral, Double otherwise; quoted values
    * unescape to String. Malformed entries parse away to nothing
    * (keep-on-uncertainty). The key pattern rejects backslashes, so a
    * quote ESCAPED inside a string value (always emitted as `\"`) can
    * never frame a fake entry under a clean column name — the escape
    * backslash would be captured into the would-be key. */
  private[graft] def parseStatsJson(json: String): Map[String, (Any, Any)] =
    StatsEntryRe.findAllMatchIn(json).flatMap { m =>
      def v(s: String): Any =
        if (s.startsWith("\"")) jsonUnquote(s)
        else if (s.exists(c => c == '.' || c == 'e' || c == 'E')) s.toDouble
        else s.toLong
      scala.util.Try(m.group(1) -> ((v(m.group(2)), v(m.group(3))))).toOption
    }.toMap
  private val StatsValuePat = """"(?:[^"\\]|\\.)*"|[^,\]"]+"""
  private val StatsEntryRe =
    (""""([^"\\]+)":\[(""" + StatsValuePat + """),(""" +
      StatsValuePat + """)\]""").r

  /** THE write path of every file a logged-table verb lands (data,
    * change and deletion-vector files): `df` is written with `options`
    * under a fresh `_staging_<writerId>` dir, its columns renamed to
    * their PHYSICAL names under `mapping`, then landed in the table
    * directory. `mapping` and `options` come from the [[Snapshot]]
    * the verb already holds, or from the schema its commit will
    * declare — never from a second log read, so the files and the
    * commit that publishes them describe one table state. `writer` is
    * the id prefix: `w` for writes, `c` for maintenance rewrites. */
  private[store] def stage(df: DataFrame, tablePath: String,
      mapping: Map[String, String], options: Map[String, String] = Map.empty,
      writer: String = "w"): Seq[String] = {
    val dir = new Path(tablePath)
    val fs = fsOf(df.sparkSession, dir)
    val writerId = freshWriterId(writer)
    val staging = new Path(dir, s"_staging_$writerId")
    toPhysical(df, mapping).write.options(options).parquet(staging.toString)
    // land the part files in the table directory under writer-unique
    // names (still uncommitted — invisible until the caller's commit
    // references them); vacuum keys on the name scheme
    val names = fs.listStatus(staging).toSeq.filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .map { st =>
        val n = s"$writerId-${st.getPath.getName}"
        if (!fs.rename(st.getPath, new Path(dir, n)))
          throw new IllegalStateException(s"could not land data file $n in $dir")
        n
      }
    fs.delete(staging, true)
    names
  }

  /** Log-carried stats for freshly landed data files: one footer read
    * per NEW file, at the only moment that read is amortized (the
    * writer that just produced it). Every landing site feeds this to
    * its commit so the probe side never re-reads footers. */
  private[store] def statsFor(spark: SparkSession, tablePath: String,
      names: Seq[String]): Map[String, String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def one(n: String): Option[(String, String)] = footerStatsJson(conf,
      new Path(resolveDataPath(tablePath, n))).map(n -> _)
    // footer reads are independent metadata round trips; on an
    // object store each costs tens of ms, so a large landing (a big
    // rewrite, a CONVERT adopting 100k files) reads them 16-way —
    // hours serial becomes minutes. Small landings (the per-append
    // common case) stay on the calling thread: no pool churn.
    if (names.size <= 8) names.flatMap(one).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      try {
        names.map(n => pool.submit(
          new java.util.concurrent.Callable[Option[(String, String)]] {
            override def call(): Option[(String, String)] = one(n)
          }))
          .flatMap(_.get()).toMap
      } finally { pool.shutdown(); () }
    }
  }

  /** Bytes each commit version in (sinceVersion, untilVersion] costs
    * the CHANGE FEED, from the log alone — what byte-based streaming
    * admission ([[graft.sources.GraftLogSource]] `maxBytesPerTrigger`)
    * budgets against: one commit-file read per version, zero data I/O.
    * The accounting mirrors what [[changesSince]] actually DELIVERS
    * per commit shape:
    *
    *  - pure appends (and clone bootstraps) feed their ADD files →
    *    the sum of log-carried [[BytesSizeKey]] sizes; None when any
    *    add predates size recording (opaque, never undercounted);
    *  - row-changing commits with CDC files (`~` lines) feed THOSE,
    *    whose sizes the log does not carry → None (opaque — charging
    *    the never-fed rewrite adds instead would admit a huge CDC
    *    batch "free" and blow the budget the option exists to hold);
    *  - untagged rewrites (compaction/optimize) feed NOTHING →
    *    Some(0), never burning budget on an empty batch;
    *  - metadata-only commits (properties/constraints/create) →
    *    Some(0). */
  private[graft] def addedBytesByVersion(spark: SparkSession,
      tablePath: String, sinceVersion: Long,
      untilVersion: Long): Seq[(Long, Option[Long])] = {
    val listing = listLog(spark, tablePath)
    listing.commits.rangeFrom(sinceVersion + 1).rangeTo(untilVersion).toSeq
      .map { case (v, p) => v -> feedCostOf(listing.fs, p) }
  }

  /** What one commit file costs the change feed, per commit shape —
    * see [[addedBytesByVersion]] for the accounting. None = opaque. */
  private def feedCostOf(fs: FileSystem, commitFile: Path): Option[Long] = {
    val lines = LogLine.read(fs, commitFile).toSeq
    if (lines.exists(_.isInstanceOf[Change])) None // CDC-fed: sizes unknown
    else if (lines.exists(_.isInstanceOf[Remove]) &&
      !lines.exists(_.isInstanceOf[Op])) Some(0L) // rewrite: feeds nothing
    else {
      val sizes = lines.collect { case a: Add => statsCount(a.stats, BytesSizeKey) }
      if (sizes.exists(_.isEmpty)) None else Some(sizes.flatten.sum)
    }
  }

  /** Rows the commit at `version` added: its add lines' log-carried
    * [[RowCountKey]] counts — one commit-file read, no data I/O. */
  private[graft] def addedRows(spark: SparkSession, tablePath: String,
      version: Long): Long = {
    val p = new Path(new Path(tablePath, LogDir), f"$version%020d.commit")
    LogLine.read(fsOf(spark, p), p).collect { case a: Add =>
      statsCount(a.stats, RowCountKey).getOrElse(throw new IllegalStateException(
        s"commit $version of $tablePath adds a file without a row count: ${LogLine.render(a)}"))
    }.sum
  }

  /** Byte-budgeted streaming admission over (base, capped]: the end
    * version whose cumulative [[feedCostOf]] fits `budget`, walking
    * commit files BY DIRECT PATH from base+1 and stopping at the first
    * over-budget version — per-trigger log I/O is O(admitted + 1)
    * commit reads, never O(backlog), so draining an n-version backlog
    * under a small budget costs O(n) total reads instead of O(n²).
    * Admission never needs versions past the first one that doesn't
    * fit. Semantics match the soft-max contract: the first candidate
    * always admits (progress guarantee), an opaque version admits
    * alone. Returns None when a commit file in the walked prefix is
    * missing (pruned past a checkpoint) — the caller admits the whole
    * window UNBUDGETED so getBatch raises the loud FeedGapException
    * re-bootstrap contract; a gap hiding BEYOND the stop point is
    * simply hit (and raised) on a later trigger when the window
    * reaches it. */
  private[graft] def admitByBytes(spark: SparkSession, tablePath: String,
      base: Long, capped: Long, budget: Long): Option[Long] = {
    val log = new Path(tablePath, LogDir)
    val fs = fsOf(spark, log)
    var e = base
    var left = budget
    var v = base + 1
    while (v <= capped) {
      val p = new Path(log, f"$v%020d.commit")
      if (!fs.exists(p)) return None // gap in the walked prefix
      val cost = feedCostOf(fs, p).getOrElse(Long.MaxValue) // opaque: admits alone
      if (e == base || cost <= left) {
        e = v
        left = if (cost >= left) 0L else left - cost
        v += 1
      } else return Some(e) // first over-budget version: stop reading
    }
    Some(e)
  }

  /** Writer ids embed the WALL-CLOCK ms at staging start (plus pid and
    * nanos for uniqueness): vacuum parses the stamp back out of landed
    * file names and honors it alongside the filesystem mod time, so a
    * file is only reclaimed when BOTH say it predates the retention
    * window — mod times alone are one skewed NFS/object-store clock
    * away from eating an in-flight writer's files. */
  private def freshWriterId(prefix: String): String =
    s"$prefix${ProcessHandle.current().pid()}_${System.currentTimeMillis()}_${System.nanoTime()}"

  /** The staging-start ms embedded in a landed data file's or staging
    * dir's name, if the name carries one (`w<pid>_<ms>_<nanos>-part-…`
    * for landed files, `w<pid>_<ms>_<nanos>` for staging dirs). */
  private[store] def writerStampMs(name: String): Option[Long] =
    name match {
      case WriterStampRe(ms, _) => Some(ms.toLong)
      case _ => None
    }
  private val WriterStampRe = "^[wc][0-9]+_([0-9]+)_[0-9]+(-.*)?$".r

  /** Logged append: land the frame's part files under writer-unique
    * names, then publish them in one commit. Readers see all rows or
    * none. Safe under arbitrary concurrent writers — no lock.
    * `writeOptions`: parquet writer knobs per append — the bloom-filter
    * options (Bloom.writeWithBloomFilters' parquet.bloom.filter.*) are
    * the intended use, making logged files probe-able by
    * pruneByFooterStats' point-lookup path. */
  def append(df: DataFrame, tablePath: String,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      opTag: Option[String] = None,
      writeOptions: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): Long = {
    val snap = snapshot(df.sparkSession, tablePath) // one replay, every consumer
    val v = appendOrAbort(df, tablePath, snap, publisher, opTag,
      abortOnLostRace = _ => false, writeOptions = writeOptions,
      mergeSchema = mergeSchema)
      .getOrElse(snap.version) // nothing to publish
    maybeAutoCompact(df.sparkSession, tablePath, snap.properties)
    v
  }

  /** Logged full-table replace (SaveMode.Overwrite): land the frame's
    * files and publish them WITH the removal of every currently-live
    * file in ONE commit — readers switch atomically from the old table
    * to the new, and time travel still reaches the replaced versions.
    * The commit is op-tagged, so a change-feed consumer crossing it
    * stops LOUDLY (FeedGapException → re-bootstrap from a snapshot)
    * instead of replaying an insert-only fiction of a replaced table.
    * A concurrent append serializes before (its rows are replaced) or
    * after (its rows survive) this commit; a concurrent rewrite
    * conflicts and one side fails loudly (the remove-validation
    * contract). When a schema ledger exists and the new frame's shape
    * differs, the ledger is restamped in the same commit — after a
    * replace the table simply IS the new frame's shape. The append core
    * lands it ([[appendOrAbort]]). */
  def overwrite(df: DataFrame, tablePath: String,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      writeOptions: Map[String, String] = Map.empty): Long = {
    val snap = snapshot(df.sparkSession, tablePath)
    // a restamp sees the shape with generated columns, inherits
    // surviving columns' PHYSICAL identities and burns-aware fresh ones
    // for new names — an overwrite must not silently discard the
    // mapping a renamed table carries
    val shape = withGenerated(df, snap.properties).schema
    val restamp = snap.schema.collect {
      case c if !sameShape(c, shape) => inheritMapping(c, shape, snap.burned).json
    }
    // no removeDvExpect: an overwrite's adds derive from the NEW frame,
    // not the removed files' rows, so a concurrently attached vector on
    // a removed file cannot resurrect anything — the result equals the
    // delete-then-overwrite serial order either way
    appendOrAbort(df, tablePath, snap, publisher, Some("overwrite"),
      abortOnLostRace = _ => false, writeOptions, schemaJson = restamp,
      removes = snap.live.map(_.name))
      .getOrElse(snap.version) // nothing to publish
  }

  /** Predicate-scoped atomic overwrite — Delta's `replaceWhere`, the
    * backfill/re-land verb a periodically refreshed corpus needs: in
    * ONE commit the live rows matching `predicate` are deleted and
    * `df`'s rows land in their place. Re-landing one day of a
    * ts-clustered 100 TB table costs the new files plus a
    * metadata-sized remove (fully-matching old files DROP via
    * [[deleteWhere]]'s file-drop classification; only the boundary
    * stragglers rewrite) — never a full-table rewrite — and readers
    * see pre- or post-replace, never a mix.
    *
    * Contract (the Delta replaceWhere semantics):
    *  - every incoming row must satisfy `predicate`: enforced IN-PLAN
    *    during the single data write (raise_error projection — the
    *    CHECK-constraint pattern), so the first violating row fails
    *    the write loudly before anything publishes
    *  - old rows delete where the predicate is TRUE; false-or-NULL
    *    rows stay byte-identical in untouched files
    *  - CDC: delete pre-images AND insert post-images ride the commit
    *    (post-images are read back from the landed files — the exact
    *    bytes, never a second evaluation of a possibly
    *    nondeterministic input), so `changesSince` replays a replace
    *    exactly where a full [[overwrite]] is a feed gap by design
    *  - shape: when a schema ledger exists, `df` must match it — a
    *    replace swaps ROWS, never the table's shape ([[overwrite]]
    *    restamps)
    * Constraints, generated columns, and declared clustering apply to
    * the incoming rows exactly as on append. Serialization caveat
    * (the [[deleteWhere]] posture): a concurrent APPEND of
    * predicate-matching rows serializes after this replace and its
    * rows survive; a concurrent rewrite of an affected file conflicts
    * and one side fails loudly (remove-validation). Reachable from
    * SQL/API via `df.writeTo("graft.t").overwrite(cond)` and
    * `INSERT INTO graft.t REPLACE WHERE cond SELECT …`
    * ([[GraftWriteBuilder]]). */
  def replaceWhere(df: DataFrame, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      writeOptions: Map[String, String] = Map.empty): Long = {
    val snap = snapshot(df.sparkSession, tablePath)
    replaceWhereCore(df, tablePath, snap, predicate, publisher, writeOptions,
      opTag = "replaceWhere", abortOnLostRace = _ => false)
      .getOrElse(snap.version) // nets to nothing
  }

  /** EXACTLY-ONCE streaming replaceWhere — [[appendOnce]]'s txn-ledger
    * fence applied to the backfill verb: a `foreachBatch` loop that
    * re-lands predicate-scoped slices (e.g. the days present in each
    * micro-batch) commits each batch's replace with a
    * `txn=<queryId>:<batchId>` claim, so a crash-replayed or zombie
    * batch finds the ledger at or past its id and aborts instead of
    * double-deleting or double-inserting. Returns the version won,
    * None for a replay skip or a batch that nets to nothing (no new
    * rows AND no matching old rows — replaying such a batch is a
    * no-op, so not advancing the ledger is safe). A batch with an
    * empty frame but MATCHING old rows is a meaningful truncate of
    * the slice: it commits and claims its id. */
  def replaceWhereOnce(df: DataFrame, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      queryId: String, batchId: Long,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Option[Long] = {
    require(!queryId.exists(c => c.isWhitespace || c == ':'),
      s"queryId must be whitespace/colon-free: $queryId")
    val snap = snapshot(df.sparkSession, tablePath)
    if (batchId <= snap.lastTxnBatch(queryId)) return None
    replaceWhereCore(df, tablePath, snap, predicate, publisher,
      writeOptions = Map.empty, opTag = s"txn=$queryId:$batchId",
      abortOnLostRace = batchId <= _.lastTxnBatch(queryId))
  }

  /** Refuse a nondeterministic predicate for the row-level verbs that
    * evaluate it MORE THAN ONCE (match-count probe, then straggler
    * rewrite / CDC images): rand()-style sampling would silently
    * delete a different row set than was probed. Checked on the
    * ANALYZED condition (an empty frame with the table's shape), so
    * SQL-path predicates arriving as unresolved function calls are
    * caught too, not just pre-built Column trees. */
  private[store] def requireDeterministicPredicate(spark: SparkSession,
      schema: StructType, expr: org.apache.spark.sql.Column,
      verb: String): Unit = {
    // analyzed through a PROJECT, not a Filter comparison: the check
    // must accept any expression type (a map-valued SET assignment has
    // no ordering, so wrapping it in <=> would fail analysis on a
    // perfectly deterministic update)
    val exprs = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .select(expr.as("__graft_det_chk"))
      .queryExecution.analyzed.expressions
    require(exprs.forall(_.deterministic),
      s"$verb expression must be deterministic — row-level verbs evaluate " +
        s"it more than once (match probe then rewrite/CDC images), and a " +
        s"nondeterministic expression (e.g. rand()) yields a different " +
        s"result each time: $expr")
  }

  /** [[replaceWhere]]'s engine over the caller's `snap`,
    * fence-parameterized: the incoming rows land first (guarded — a row
    * outside the predicate fails the write before anything is probed or
    * published), then [[rewriteRows]] removes the live rows the
    * predicate claims and publishes both in one commit. None when the
    * operation nets to nothing (no incoming rows, no matching old rows)
    * or when a lost publish race re-evaluates `abortOnLostRace` to true
    * (the staged files become vacuum-eligible orphans). */
  private def replaceWhereCore(df: DataFrame, tablePath: String,
      snap: Snapshot,
      predicate: org.apache.spark.sql.Column,
      publisher: AtomicPublisher,
      writeOptions: Map[String, String],
      opTag: String,
      abortOnLostRace: Snapshot => Boolean): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, lit,
      raise_error, struct, to_json, when}
    val spark = df.sparkSession
    val props = snap.properties
    val dfG = withGenerated(df, props)
    // after withGenerated: the predicate may name a generated column
    // the caller's frame does not carry
    requireDeterministicPredicate(spark, dfG.schema, predicate, "replaceWhere")
    val cur = snap.schema
    cur.foreach { c =>
      require(sameShape(c, dfG.schema),
        s"replaceWhere input shape (${dfG.schema.simpleString}) does not " +
          s"match the table's declared schema (${c.simpleString}) — a " +
          "replace swaps rows, not the table's shape (overwrite() restamps)")
    }
    val mapping = snap.mapping
    // incoming rows must live inside the replaced region — in-plan,
    // loud, before anything publishes (NULL predicate = outside)
    val inside = coalesce(predicate, lit(false))
    val guard = "__graft_rw_guard"
    val guarded = dfG.withColumn(guard,
        when(!inside, raise_error(concat(
          lit("replaceWhere: input row outside the replace predicate; row="),
          to_json(struct(dfG.columns.map(col).toIndexedSeq: _*)))))
          .otherwise(lit(null).cast("string")))
      .filter(col(guard).isNull).drop(guard)
    val newNames = stage(enforcedWith(clusteredForWrite(guarded, props), snap.constraints),
      tablePath, mapping, tableWriteOptions(props, mapping, writeOptions))
    rewriteRows(spark, tablePath, snap, cur.getOrElse(dfG.schema), snap.live,
      claim = _.withColumn(Claimed, predicate), landed = Some(newNames),
      publisher = publisher, opTag = Some(opTag), abortOnLostRace = abortOnLostRace,
      stampEmptied = true)
  }

  /** THE append core — every verb that lands NEW rows without
    * restating old ones ([[append]], [[appendOnce]], a keyed rewrite
    * that matched nothing, IncrementalView's refresh and rebuild):
    * the new-row chain (generated columns → declared clustering →
    * CHECK constraints, in that order) staged under `snap`'s
    * properties and mapping, published in one commit fenced by
    * `abortOnLostRace`. None when a lost publish race re-evaluates the
    * fence to true (the staged files become vacuum-eligible orphans)
    * or when there is nothing to publish (no files landed, nothing
    * removed, no schema stamped). `removes` replaces those files in
    * the same commit (rebuild, overwrite). The constraint set enforced is the one
    * the commit fences on.
    *
    * WRITE-PATH schema evolution (Delta's mergeSchema): `mergeSchema`
    * widens/extends the schema LEDGER from the frame, or `schemaJson`
    * is a schema the caller already evolved; either way the evolved
    * `#schema=` header and the new files publish atomically, so a
    * reader consulting schemaAt never sees files the recorded schema
    * cannot describe, and the files are written under the mapping
    * that commit declares. Existing files are untouched: add-column
    * reads null-fill, widened reads upcast per file (the read
    * contract). */
  private[store] def appendOrAbort(df: DataFrame, tablePath: String,
      snap: Snapshot, publisher: AtomicPublisher, opTag: Option[String],
      abortOnLostRace: Snapshot => Boolean,
      writeOptions: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false,
      schemaJson: Option[String] = None,
      removes: Seq[String] = Seq.empty): Option[Long] = {
    val spark = df.sparkSession
    val props = snap.properties
    // generated columns land BEFORE schema evolution sees the frame:
    // a table-creating (or evolving) append that omits a generated
    // column must still record it in the schema ledger
    val dfG = withGenerated(df, props)
    val cur = snap.schema
    val evolved: Option[StructType] = schemaJson
      .map(org.apache.spark.sql.types.DataType.fromJson(_).asInstanceOf[StructType])
      .orElse(if (!mergeSchema) None else {
        val n = cur.fold(dfG.schema)(evolveSchema(_, dfG.schema, snap.burned))
        if (cur.exists(sameShape(_, n))) None else Some(n)
      })
    val mapping = evolved.orElse(cur).map(columnMapping).getOrElse(Map.empty)
    val cs = snap.constraints
    val names = stage(enforcedWith(clusteredForWrite(dfG, props), cs), tablePath,
      mapping, tableWriteOptions(props, mapping, writeOptions))
    val stamp = schemaJson.orElse(evolved.map(_.json))
    if (names.isEmpty && removes.isEmpty && stamp.isEmpty) return None
    commitOrAbort(spark, tablePath, adds = names, removes = removes,
      publisher = publisher, opTag = opTag, abortOnLostRace = abortOnLostRace,
      addStats = statsFor(spark, tablePath, names), schemaJson = stamp,
      constraintsExpect = Some(cs),
      schemaExpect = if (stamp.isDefined) Some(cur.map(_.json)) else None)
  }

  /** Snapshot read of the live file set (empty frame with `schema` for
    * a table with no commits); `asOf` reads the table as of an earlier
    * committed version — vacuumed versions are gone, matching every
    * log-structured table format's retention contract.
    *
    * SCHEMA EVOLUTION rides the requested `schema`: columns absent
    * from older files read as null (add-column), and files written
    * with NARROWER physical types read value-exact under a widened
    * request — int→long, float→double (Spark 4's parquet readers
    * perform the upcast per file; the Delta type-widening shape).
    * Row-level operations (deleteWhere/merge) run through the same
    * reads, so they operate uniformly over mixed file generations —
    * LoggedStoreSpec pins both evolutions under both publishers. */
  def read(spark: SparkSession, tablePath: String, schema: StructType,
      asOf: Long = Long.MaxValue): DataFrame =
    read(spark, tablePath, schema, snapshot(spark, tablePath, asOf))

  /** [[read]] of an already-taken snapshot. */
  private[graft] def read(spark: SparkSession, tablePath: String, schema: StructType,
      snap: Snapshot): DataFrame =
    visibleRows(spark, tablePath, schema, snap.live, snap.mapping)

  /** THE scan: the only code that turns log entries (live data
    * files, deletion vectors, change files) into a Spark relation. A
    * [[graft.sources.GraftLogFileIndex]] over exactly `entries` —
    * statuses from `status` when the caller already listed, else one
    * [[statusFor]] listing per distinct parent — as a parquet
    * `HadoopFsRelation` over the nullable `readSchema` (like Spark's own
    * file sources make user schemas: a column absent from an older file
    * generation null-fills). `ignoreMissingFiles` is pinned off, so a
    * file vanishing between planning and the scan fails the job rather
    * than dropping its rows whatever `spark.sql.files.ignoreMissingFiles`
    * says. */
  private[graft] def scanRelation(spark: SparkSession, tablePath: String,
      entries: Seq[LiveEntry], readSchema: StructType,
      status: Option[Map[String, FileStatus]] = None)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation =
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      location = new graft.sources.GraftLogFileIndex(spark, tablePath, entries, status),
      partitionSchema = StructType(Nil),
      dataSchema = graft.sources.GraftLogBatch.nullify(readSchema),
      bucketSpec = None,
      fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      options = Map(org.apache.spark.sql.catalyst.FileSourceOptions.IGNORE_MISSING_FILES ->
        "false"))(spark)

  /** [[scanRelation]] as a DataFrame. */
  private[graft] def scan(spark: SparkSession, tablePath: String,
      entries: Seq[LiveEntry], readSchema: StructType,
      status: Option[Map[String, FileStatus]] = None): DataFrame =
    org.apache.spark.sql.graft.StreamingShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.LogicalRelation(
        scanRelation(spark, tablePath, entries, readSchema, status)))

  /** Column names of a deletion-vector parquet: the data file each
    * position belongs to and the 0-based physical row position
    * (`_metadata.row_index`) deleted from it. */
  private val DvFileCol = "file_name"
  private val DvPosCol = "row_index"

  private val DvSchema = StructType.fromDDL(s"$DvFileCol string, $DvPosCol bigint")

  /** The given files (vectors, change files) as scan entries. */
  private def fileEntries(names: Seq[String]): Seq[LiveEntry] =
    names.map(LiveEntry(_, None, None))

  /** The deleted positions of the given DV-attached entries, honoring
    * PER-FILE attachment: a DV parquet may be shared by every file of
    * one delete commit and later superseded for SOME of them, so each
    * file contributes only the rows of the vector the log currently
    * attaches to IT (join on both the data-file name and the vector's
    * own identity). None when no entry carries a vector. */
  private[graft] def dvRows(spark: SparkSession, tablePath: String,
      entries: Seq[LiveEntry], status: Option[Map[String, FileStatus]] = None)
      : Option[DataFrame] = {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    val attached = entries.collect { case LiveEntry(n, _, Some(dv), _) => (n, dv) }
    if (attached.isEmpty) return None
    val raw = scan(spark, tablePath, fileEntries(attached.map(_._2).distinct),
        DvSchema, status)
      .select(col(DvFileCol), col(DvPosCol),
        col("_metadata.file_name").as("_dv_src"))
    // attachment pairs as (tiny) broadcast data, not a plan literal;
    // BASENAMES on both legs — `_metadata.file_name` and the DV
    // content's recorded data-file names are bare, while a cloned
    // snapshot's attachment strings are absolute (basenames are
    // globally unique — writer-stamped uuids)
    val pairs = broadcast(attached
      .map { case (f, dv) => (baseNameOf(f), baseNameOf(dv)) }
      .toDF("_at_file", "_at_dv"))
    Some(raw.join(pairs,
      raw(DvFileCol) === pairs("_at_file") && raw("_dv_src") === pairs("_at_dv"))
      .select(col(DvFileCol), col(DvPosCol)))
  }

  /** Attached vectors larger than this (total bytes, from the same
    * directory listing reads already take) anti-join WITHOUT a
    * broadcast hint — a table whose deletes outran OPTIMIZE must not
    * blow the driver on a forced broadcast; the shuffle anti-join is
    * the correct degraded mode and AQE still picks broadcast when the
    * runtime size allows. */
  private[store] val DvBroadcastMaxBytes: Long = 64L * 1024 * 1024

  /** Snapshot rows VISIBLE at the given live entries — the one read
    * primitive every consumer (read, probe scans, rewrites, compact,
    * the DV relation) goes through, so merge-on-read deletes can never
    * resurrect. One [[statusFor]] listing serves every data file and
    * every attached vector; the files become [[scan]] relations:
    *  - DV-free files scan straight through Spark's vectorized parquet
    *    path (zero overhead for a table with no vectors);
    *  - DV-carrying files subtract their vector's positions with one
    *    BROADCAST anti-join on (file, position) — vectors are
    *    increment-sized by design (OPTIMIZE absorbs them before they
    *    grow), so the join never shuffles the data side. Vectors past
    *    [[DvBroadcastMaxBytes]] (sized from the same listing) drop the
    *    broadcast hint.
    * `mapping` is the column mapping of the snapshot `entries` came
    * from: the scan reads PHYSICAL names and aliases them back to
    * logical ones in one plain Project, so filters push below the alias
    * onto the physical names the index's stats are keyed by (an
    * unmapped table keeps the exact unaliased plan). `meta` appends
    * `_metadata`-derived columns (alias → field name) for callers that
    * need file identity or position on the VISIBLE rows (the
    * merge/delete probes). */
  private[graft] def visibleRows(spark: SparkSession, tablePath: String,
      schema: StructType, entries: Seq[LiveEntry],
      mapping: Map[String, String],
      meta: Seq[(String, String)] = Seq.empty,
      dvBroadcastMaxBytes: Long = DvBroadcastMaxBytes): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val outSchema = StructType(schema.fields ++ meta.map { case (a, f) =>
      org.apache.spark.sql.types.StructField(a,
        if (f == "row_index") org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.StringType, nullable = false) })
    if (entries.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    def phys(n: String): String = mapping.getOrElse(n, n)
    val readSchema = StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
    val outCols = (if (mapping.isEmpty) schema.fieldNames.map(col).toSeq
      else schema.fieldNames.map(n => col(phys(n)).as(n)).toSeq) ++
      meta.map { case (a, f) => col(s"_metadata.$f").as(a) }
    val (dvd, plain) = entries.partition(_.dv.isDefined)
    val dvFiles = dvd.flatMap(_.dv).distinct
    val status = statusFor(fsOf(spark, new Path(tablePath)), tablePath,
      entries.map(_.name) ++ dvFiles)
    def rows(es: Seq[LiveEntry]) = scan(spark, tablePath, es, readSchema, Some(status))
    val parts =
      (if (plain.isEmpty) Seq.empty else Seq(rows(plain).select(outCols: _*))) ++
      (if (dvd.isEmpty) Seq.empty
       else {
         val dv = dvRows(spark, tablePath, dvd, Some(status)).get
         val dvBytes = dvFiles.map(f => status(resolveDataPath(tablePath, f)).getLen).sum
         val dvSide = if (dvBytes <= dvBroadcastMaxBytes) broadcast(dv) else dv
         Seq(rows(dvd)
           .select(outCols :+ col("_metadata.file_name").as("_vr_file")
             :+ col("_metadata.row_index").as("_vr_pos"): _*)
           .join(dvSide,
             col("_vr_file") === col(DvFileCol) && col("_vr_pos") === col(DvPosCol),
             "left_anti")
           .drop("_vr_file", "_vr_pos"))
       })
    parts.reduce(_.unionByName(_))
  }

  /** How many times a MAINTENANCE rewrite (compact/optimize) re-plans
    * after losing a conflict to a concurrent commit before giving up
    * loudly. Maintenance is re-plannable by nature — its output is
    * derived entirely from the current live set, so a loser simply
    * re-reads and rewrites whatever still needs it (the Delta
    * non-conflicting-commit retry); user DML (delete/update/merge)
    * never auto-retries — its predicate re-evaluating against changed
    * data is the USER's call, not the engine's. */
  private[store] val MaintenanceRetries = 5

  /** Run `body` (one full plan-stage-commit maintenance attempt),
    * re-planning on rewrite/DV conflicts up to [[MaintenanceRetries]]
    * times. Each failed attempt's staged files are invisible orphans
    * (vacuum reclaims them); the retry replays the WHOLE body, so the
    * fresh plan sees the competitor's output — on a busy table
    * maintenance converges instead of starving. */
  private def retryMaintenance(what: String, tablePath: String)(body: => Long): Long = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt >= MaintenanceRetries)
            throw new java.util.ConcurrentModificationException(
              s"$what on $tablePath lost $attempt consecutive conflicts to " +
                s"concurrent commits — table too contended for maintenance; " +
                s"last conflict: ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Logged compaction: rewrite the current live set into
    * ceil(bytes/target) files ([[rewriteFiles]], every live file an
    * input) and publish adds+removes as ONE commit —
    * readers switch atomically, and a concurrent append's files are
    * untouched (they are not in this rewrite's remove set). No parking,
    * no lock: a crash leaves only invisible orphans for vacuum().
    * Losing a conflict to a concurrent rewrite/delete RE-PLANS from
    * the fresh live set (bounded — see [[retryMaintenance]]). */
  def compact(spark: SparkSession, tablePath: String, targetBytes: Long,
      clusterBy: Option[String] = None,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      writeOptions: Map[String, String] = Map.empty): Long =
    retryMaintenance("compact", tablePath)(
      compactOnce(spark, tablePath, targetBytes, clusterBy, publisher,
        writeOptions))

  private def compactOnce(spark: SparkSession, tablePath: String, targetBytes: Long,
      clusterBy: Option[String],
      publisher: AtomicPublisher,
      writeOptions: Map[String, String]): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = snapshot(spark, tablePath)
    if (snap.live.isEmpty) return snap.version
    // one listing per distinct parent, like optimize — never a status
    // probe per file
    val totalBytes = sizesFor(fsOf(spark, new Path(tablePath)), tablePath,
      snap.live.map(_.name)).values.sum
    rewriteFiles(spark, tablePath, snap, tableSchema(spark, tablePath, snap), snap.live,
      math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt,
      clusterBy, publisher, writeOptions)
  }

  /** The maintenance rewrite [[compact]] and [[optimize]] share: the
    * visible rows of `inputs`, laid out by [[ZOrder.layout]] into `nOut`
    * files (plain, range-clustered, or "a,b" z-order — compaction
    * doubling as the table's clustered index), staged as maintenance
    * files and published with the removal of `inputs` as ONE untagged
    * version. DV ABSORPTION: the rewrite reads VISIBLE rows, so attached
    * deletion vectors fold into clean files and their attachments die
    * with the removed inputs — OPTIMIZE is how a vectored table returns
    * to the zero-overhead read path. The commit validates the inputs
    * against the live set and each one's DV attachment against what
    * this rewrite planned from, and throws on a concurrent rewrite or
    * delete — never a silent table doubling, never a resurrected
    * concurrent delete. `schema` is the LEDGER schema first
    * ([[tableSchema]]): on a column-mapped table the file-inferred shape
    * carries PHYSICAL names, which must not re-enter the logical read
    * path. `writeOptions` carries the parquet bloom-filter knobs
    * through: a bloom-indexed table must not LOSE its point-lookup index
    * to maintenance. */
  private def rewriteFiles(spark: SparkSession, tablePath: String, snap: Snapshot,
      schema: StructType, inputs: Seq[LiveEntry], nOut: Int,
      clusterBy: Option[String], publisher: AtomicPublisher,
      writeOptions: Map[String, String]): Long = {
    val names = stage(ZOrder.layout(visibleRows(spark, tablePath, schema, inputs,
        mapping = snap.mapping), nOut, clusterBy), tablePath, snap.mapping,
      tableWriteOptions(snap.properties, snap.mapping, writeOptions), writer = "c")
    commit(spark, tablePath, adds = names, removes = inputs.map(_.name),
      publisher = publisher, addStats = statsFor(spark, tablePath, names),
      removeDvExpect = inputs.map(e => e.name -> e.dv).toMap)
  }

  /** Selective OPTIMIZE — the maintenance verb a 100 TB table can
    * actually afford. [[compact]] rewrites the ENTIRE live set (right
    * for a small table or a deliberate full re-cluster); at scale the
    * optimizer must touch only the files that need it:
    *
    *  - WITHOUT `clusterBy` (bin-packing, Delta's plain OPTIMIZE):
    *    candidates are files SMALLER than `targetBytes` plus every
    *    file carrying a deletion vector (absorbed by the rewrite);
    *    right-sized vector-free files are left byte-identical. One
    *    candidate small file and nothing to absorb is a proven no-op.
    *  - WITH `clusterBy`: every in-scope file rewrites (clustering is
    *    a global property of the rewritten set) — scope with `where`
    *    to re-cluster a slice instead of the table.
    *  - `where` scopes BOTH modes by each file's LOG-carried stats
    *    envelope: files provably disjoint from the predicate are left
    *    alone, files without stats stay in scope (keep-on-uncertainty
    *    — more work, never a wrong result). The predicate resolves
    *    against the table's schema and translates through Spark's own
    *    filter translation, exactly like the batch relation's pruning.
    *
    * Untouched files keep their identity (incremental consumers and
    * caches over them stay valid); the rewrite commits as ONE
    * untagged adds+removes version — row-preserving by protocol, so
    * the change feed skips it. Losing a conflict to a concurrent
    * rewrite/delete RE-PLANS from the fresh live set (bounded — see
    * [[retryMaintenance]]). */
  def optimize(spark: SparkSession, tablePath: String, targetBytes: Long,
      clusterBy: Option[String] = None,
      where: Option[org.apache.spark.sql.Column] = None,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      writeOptions: Map[String, String] = Map.empty): Long =
    retryMaintenance("optimize", tablePath)(
      optimizeOnce(spark, tablePath, targetBytes, clusterBy, where, publisher,
        writeOptions))

  private def optimizeOnce(spark: SparkSession, tablePath: String, targetBytes: Long,
      clusterBy: Option[String],
      where: Option[org.apache.spark.sql.Column],
      publisher: AtomicPublisher,
      writeOptions: Map[String, String]): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = snapshot(spark, tablePath)
    val (version, entries) = (snap.version, snap.live)
    if (entries.isEmpty) return version
    val schema = tableSchema(spark, tablePath, snap)
    // predicate → pushed-filter list, resolved the way a real scan
    // would resolve it: the filters the optimizer pushes onto the scan
    // relation, which name the PHYSICAL columns below visibleRows'
    // aliases — the name space the files' own stats are keyed by (a
    // filter left above the aliases is not taken: wider scope, never
    // a wrong one)
    val filters: Seq[org.apache.spark.sql.sources.Filter] = where match {
      case None => Seq.empty
      case Some(cond) =>
        // the OPTIMIZED plan, not the analyzed one: constant folding
        // must run first or a literal wrapped in an implicit cast
        // (`id < 100` on a bigint column) translates to nothing and
        // the scope silently widens to the whole table
        val optimized = visibleRows(spark, tablePath, schema, entries,
            mapping = snap.mapping)
          .filter(cond).queryExecution.optimizedPlan
        optimized.collect {
          case org.apache.spark.sql.catalyst.plans.logical.Filter(c,
              _: org.apache.spark.sql.execution.datasources.LogicalRelation) => c
        }.flatMap(org.apache.spark.sql.graft.StreamingShim.translateFilter(_).toSeq)
    }
    def inScope(e: LiveEntry): Boolean =
      e.stats.map(parseStatsJson) match {
        case Some(m) if filters.nonEmpty =>
          filters.forall(f => graft.sources.StatsPruning.possible(m, f))
        case _ => true
      }
    // one directory listing PER DISTINCT PARENT (table root + clone
    // sources) for every size, not a HEAD per file
    val sizeByName = sizesFor(fsOf(spark, new Path(tablePath)), tablePath,
      entries.map(_.name))
    val scoped = entries.filter(inScope)
    val candidates =
      if (clusterBy.isDefined) scoped
      else scoped.filter(e => e.dv.isDefined ||
        sizeByName.get(e.name).forall(_ < targetBytes))
    val anyVector = candidates.exists(_.dv.isDefined)
    if (candidates.isEmpty || (candidates.size < 2 && !anyVector &&
        clusterBy.isEmpty)) return version // proven no-op
    val totalBytes = candidates.map(e => sizeByName.getOrElse(e.name, 0L)).sum
    // bounded fan-out: a maintenance pass must never EXPAND the file
    // count it was asked to shrink — cap outputs at the candidate count
    // (and at 10k as a mis-sized-target backstop)
    val nOut = math.max(1L, math.min(math.min(
      (totalBytes + targetBytes - 1) / targetBytes,
      candidates.size.toLong), 10000L)).toInt
    rewriteFiles(spark, tablePath, snap, schema, candidates, nOut, clusterBy,
      publisher, writeOptions)
  }

  // ── AUTO-COMPACTION (small-file self-healing) ──────────────────────

  /** Write-triggered compaction behind the `graft.autoCompact` table
    * property (Delta's `delta.autoOptimize.autoCompact` shape): after a
    * successful append-shaped commit ([[append]], [[appendOnce]],
    * [[upsertOnce]] — the writers a 30-second micro-batch sink drives),
    * when at least `graft.autoCompact.minFiles` (default 8) live files
    * are small, the writer runs a bounded OPTIMIZE toward
    * `graft.autoCompact.targetBytes` (default 128 MiB) as a follow-on
    * commit. A streaming sink that lands one small file per batch keeps
    * its own file census bounded without a scheduled maintenance job —
    * at 100 TB the alternative is scan fan-out growing with every batch.
    *
    * The TRIGGER is metadata-only: the census folds the ledger's
    * log-carried [[BytesSizeKey]] per-file sizes — no directory listing
    * per append. Files committed before sizes were recorded never count
    * toward the trigger (an explicit OPTIMIZE migrates them). "Small"
    * is `min(graft.autoCompact.smallFileBytes (default 64 MiB),
    * targetBytes / 2)` — the target/2 clamp guarantees convergence: a
    * triggered compaction's balanced outputs each exceed the small
    * threshold (or collapse to a single file), so the very next append
    * cannot re-trigger on the same bytes and a misconfigured
    * smallFileBytes > targetBytes cannot churn-rewrite forever.
    *
    * Failure is NON-FATAL by design: the data commit already published,
    * so a lost maintenance race (or anything else) logs a warning and
    * leaves compaction to the next trigger — a maintenance follow-on
    * must never turn a succeeded write into a caller-visible failure.
    * Rewrite-shaped DML (delete/update/merge) does not trigger here;
    * those paths already rewrite toward full files, and scheduled
    * OPTIMIZE covers their long tail. */
  private def maybeAutoCompact(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Unit = {
    if (!props.get("graft.autoCompact").contains("true")) return
    // EVERYTHING after the enable check is non-fatal — including the
    // knob parsing: a malformed numeric property ('128MB') must log,
    // not turn the caller's already-published write into a failure
    try {
      val target = props.get("graft.autoCompact.targetBytes")
        .map(_.toLong).getOrElse(128L << 20)
      val small = math.min(props.get("graft.autoCompact.smallFileBytes")
        .map(_.toLong).getOrElse(64L << 20), target / 2)
      val minFiles = props.get("graft.autoCompact.minFiles")
        .map(_.toInt).getOrElse(8)
      val (_, withStats) = liveFilesWithStats(spark, tablePath)
      val nSmall = withStats.count(f => statsCount(f._2, BytesSizeKey).exists(_ < small))
      if (nSmall >= minFiles) { optimize(spark, tablePath, targetBytes = target); () }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger("graft.store.CommitLog").warn(
          s"auto-compaction of $tablePath failed (the data commit already " +
            s"published; compaction retries at the next trigger): ${e.getMessage}")
    }
  }

  /** Generated columns behind `graft.generated.<col> = '<sql expr>'`
    * table properties (the Delta generated-columns shape): a write
    * whose frame LACKS the column gets it computed from the
    * expression (the ingest convenience — callers never hand-maintain
    * a derived key), and a write that CARRIES it has every row's
    * explicit value checked against the expression with null-safe
    * equality, failing loudly on the first divergent row — a derived
    * column that silently drifts from its definition poisons every
    * downstream consumer that assumes the invariant. Enforcement
    * rides the write plan as a raise_error projection (the CHECK
    * constraint mechanism), so it costs no second pass.
    *
    * Applied on EVERY row-writing path: the append core
    * [[appendOrAbort]] (append, appendOnce, a keyed rewrite that
    * matched nothing, view refresh and rebuild), overwrite,
    * replaceWhere, UPDATE post-images and merge writes (keyed and
    * clause) — each stages its rows through [[stage]] under its
    * Snapshot's mapping.
    * Consequence for UPDATE/MERGE: an assignment that changes an
    * input of the expression without restating the generated column
    * consistently FAILS rather than silently keeping the stale value
    * — stricter than Delta's silent regeneration, and the failure
    * message names the column so the caller can restate it.
    * Expressions must be deterministic (a rand()/uuid() generation
    * would break replay idempotency); parse errors surface loudly at
    * write time. Generation keys compose with `graft.clusterBy`
    * (generate-then-cluster: the derived key exists before layout).
    *
    * Enforcement is FORWARD-looking: setting the property on a table
    * that already holds non-conforming rows does not rewrite history —
    * like a CHECK constraint, the invariant binds rows as they are
    * (re)written, so set it at table creation (the intended shape) or
    * backfill first. */
  private[store] def withGenerated(df: DataFrame,
      props: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val gens = props.collect {
      case (k, v) if k.startsWith(GeneratedPropPrefix) =>
        k.stripPrefix(GeneratedPropPrefix) -> v
    }.toSeq.sortBy(_._1)
    // membership resolves with the SESSION resolver, not ==: withColumn
    // replaces case-insensitively under default analysis, so a frame
    // carrying the generated column as a case variant (BUCKET for
    // graft.generated.bucket) must take the VALIDATION branch — the
    // contains() path would silently overwrite its explicit values
    val resolver = df.sparkSession.sessionState.conf.resolver
    gens.foldLeft(df) { case (d, (c, e)) =>
      require(c.nonEmpty, s"empty generated-column name: $GeneratedPropPrefix = $e")
      val ex = expr(e)
      if (!d.columns.exists(resolver(_, c))) d.withColumn(c, ex)
      else {
        val chk = s"__graft_gen_$c"
        d.withColumn(chk, when(!(col(c) <=> ex), raise_error(
            concat(lit(s"generated column `$c` violated: explicit value " +
              s"differs from ($e); row="),
              to_json(struct(d.columns.map(col).toIndexedSeq: _*)))))
          .otherwise(lit(null).cast("string")))
          .filter(col(chk).isNull).drop(chk)
      }
    }
  }

  /** Writer-side clustering behind the `graft.clusterBy` table
    * property (the Delta liquid-clustering / `CLUSTER BY` shape,
    * applied at WRITE time): a table that carries `graft.clusterBy =
    * "c"` (range) or `"a,b[,…]"` (Z-order, [[ZOrder.layout]]) lays
    * every append/overwrite batch out along the declared key(s) before
    * landing it, so min/max footer + log-stats pruning works on
    * freshly-written data without waiting for a scheduled OPTIMIZE —
    * on a 100 TB ingest that is the difference between "pruning after
    * tonight's maintenance window" and "pruning now". Scheduled
    * `OPTIMIZE … ZORDER BY` remains the cross-batch re-cluster (this
    * orders WITHIN one write batch; batches still overlap each other).
    *
    * The incoming batch is materialized once (eager localCheckpoint —
    * batch-scale, spill-safe, ContextCleaner-collected with the frame;
    * the semanticDedup precedent): both the range/Z layout passes and
    * the write would otherwise each recompute the caller's plan.
    * Output file count defaults to the batch's own partition count
    * (the files the write would have produced anyway, re-cut by range)
    * — `graft.clusterBy.files` overrides.
    *
    * Unlike the auto-compact follow-on this is NOT failure-isolated: a
    * bad spec (missing column) fails the append loudly — silently
    * landing unclustered data would break the property's pruning
    * promise invisibly. An empty batch skips the layout (no range to
    * cluster on). */
  private def clusteredForWrite(df: DataFrame,
      props: Map[String, String]): DataFrame =
    props.get("graft.clusterBy") match {
      case None => df
      case Some(spec) =>
        val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        require(cols.nonEmpty, s"graft.clusterBy is empty: '$spec'")
        val missing = cols.filterNot(df.columns.contains)
        require(missing.isEmpty,
          s"graft.clusterBy names column(s) ${missing.mkString(", ")} " +
            s"absent from the written frame (${df.columns.mkString(", ")})")
        val ck = df.localCheckpoint(true)
        if (ck.isEmpty) ck
        else {
          val nOut = props.get("graft.clusterBy.files").map(clusterByFiles)
            .getOrElse(math.max(1, ck.rdd.getNumPartitions))
          ZOrder.layout(ck, nOut, Some(cols.mkString(",")))
        }
    }

  /** Parse + validate `graft.clusterBy.files` — shared by the write
    * site and declaration-time property validation, so a bad value is
    * refused when SET, not discovered as a NumberFormatException that
    * bricks every subsequent write. */
  private[store] def clusterByFiles(v: String): Int = {
    val n = try v.trim.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft.clusterBy.files must be a positive integer: '$v'")
    }
    require(n >= 1, s"graft.clusterBy.files must be >= 1: '$v'")
    n
  }

  /** Highest batch id a streaming query has committed into this table,
    * parsed from `txn=<queryId>:<batchId>` commit tags AND the tags
    * checkpoints carry for pruned commits (log-sized driver work);
    * -1 when the query never committed. Surviving a pruneLog() is the
    * point: the ledger read must not depend on the tagged commit FILE
    * still existing, or pruning would silently re-open the
    * exactly-once window. */
  def lastTxnBatch(spark: SparkSession, tablePath: String,
      queryId: String, asOf: Long = Long.MaxValue): Long =
    snapshot(spark, tablePath, asOf).lastTxnBatch(queryId)

  /** Highest source version a view table has consumed, parsed from
    * `consumed=<v>` commit tags and checkpoint-carried headers — the
    * IncrementalView checkpoint, prune-surviving for the same reason
    * as [[lastTxnBatch]]. 0 when never consumed. */
  def lastConsumed(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): Long =
    snapshot(spark, tablePath, asOf).consumed

  /** The LARGEST sink version (≤ `upTo`) whose consumed ledger is at
    * or below `srcVersion` — the inverse lookup a torn-window-free
    * probe needs to pin two independently-drained sibling tables to
    * the same SOURCE version (Bm25Index's postings/doclens pair).
    * Binary search over the monotone consumed fold: one listing, then
    * O(log V) [[Snapshot]] folds (one checkpoint read + the
    * post-checkpoint commit files each). The caller must verify the
    * version found carries EXACTLY the source version it wants: a
    * checkpoint that subsumed
    * the granular tags, or batch boundaries that never landed on it,
    * both surface as consumed < srcVersion — a loud mismatch, never a
    * silently-still-torn snapshot. */
  def versionAtConsumed(spark: SparkSession, tablePath: String,
      srcVersion: Long, upTo: Long): Long = {
    val listing = listLog(spark, tablePath)
    versionAtLedger(listing.snapshot(_).consumed, srcVersion, upTo)
  }

  /** [[versionAtConsumed]] on a `txn=<queryId>` ledger instead — the
    * streaming-consumer twin: the sink version at which the query's
    * committed batch id was ≤ `batchId`. */
  def versionAtTxnBatch(spark: SparkSession, tablePath: String,
      queryId: String, batchId: Long, upTo: Long): Long = {
    val listing = listLog(spark, tablePath)
    versionAtLedger(listing.snapshot(_).lastTxnBatch(queryId), batchId, upTo)
  }

  /** Largest version ≤ `upTo` whose monotone ledger fold is ≤
    * `target` — binary search, O(log V) Snapshot folds. The fold at
    * version 0 is its never-written sentinel (0 for consumed, −1 for
    * txn), both ≤ any valid target, so the invariant holds at lo=0. */
  private def versionAtLedger(foldAt: Long => Long, target: Long,
      upTo: Long): Long = {
    var lo = 0L
    var hi = upTo
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (foldAt(mid) <= target) lo = mid
      else hi = mid - 1
    }
    lo
  }

  /** The logged table schema effective at `asOf` (latest by default):
    * the newest `#schema=` commit header at or below that version,
    * checkpoint-carried like the idempotence ledgers so it survives
    * pruneLog. None for a table no evolving writer has stamped —
    * schema-on-read (the caller-supplied StructType) remains the base
    * contract; the schema LEDGER is what `mergeSchema` writers evolve
    * and historical readers consult ("what shape was this table at
    * version 7?"). */
  def schemaAt(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): Option[StructType] =
    snapshot(spark, tablePath, asOf).schema

  // ── COLUMN MAPPING (rename/drop evolution) ─────────────────────────
  //
  // Delta's name-mode column mapping, carried in the schema ledger:
  // each field MAY record the PHYSICAL column name its data lives
  // under in parquet files (`graft.physical` field metadata). Physical
  // names never change once assigned, so RENAME is a metadata-only
  // commit (new logical name, same physical) and DROP hides the column
  // without touching a file. Readers translate logical → physical at
  // the scan and alias back; writers translate before landing files.
  // A table that never renamed/dropped has an EMPTY mapping and every
  // path below short-circuits to the exact pre-mapping plan.
  //
  // Dropped physical names are BURNED (the `graft.burned` table
  // property, ledger-carried): a column re-added under a burned name
  // gets a FRESH physical name, so data hidden by the drop can never
  // resurrect into the new column — the one correctness hazard of
  // name-reuse, closed at assignment time.

  /** StructField metadata key carrying the column's physical name. */
  private[graft] val PhysicalKey = "graft.physical"

  /** Table property accumulating physical names no future column may
    * reuse (dropped columns' storage names). */
  private[graft] val BurnedProp = "graft.burned"

  private[graft] def physicalName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def withPhysical(m: org.apache.spark.sql.types.Metadata,
      phys: String): org.apache.spark.sql.types.Metadata =
    new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(m).putString(PhysicalKey, phys).build()

  /** logical → physical, only the pairs that DIFFER (empty for an
    * unmapped table — the fast-path test everywhere). */
  private[graft] def columnMapping(schema: StructType): Map[String, String] =
    schema.fields.collect {
      case f if physicalName(f) != f.name => f.name -> physicalName(f)
    }.toMap

  private[graft] def burnedAt(spark: SparkSession, tablePath: String): Set[String] =
    snapshot(spark, tablePath).burned

  /** Fresh physical name for a column whose logical name is taken or
    * burned — unique by construction, never colliding with a user
    * column (the uuid segment). */
  private def freshPhysical(name: String): String =
    s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  /** Rename `df`'s mapped columns to their physical names — the write
    * side of the mapping, applied to every staged data/CDC file. */
  private[store] def toPhysical(df: DataFrame, mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.columns.map(n =>
        col(n).as(mapping.getOrElse(n, n))).toIndexedSeq: _*)
    }

  /** Re-key a log-stats map from PHYSICAL to logical names so pushed
    * filters (logical) compare against the right bounds. A stats key
    * that IS some current logical name but belongs to a different
    * physical column (a burned generation) is dropped — exposing it
    * would prune with the wrong column's bounds. */
  private[graft] def statsToLogical(parsed: Map[String, (Any, Any)],
      mapping: Map[String, String]): Map[String, (Any, Any)] =
    if (mapping.isEmpty) parsed
    else {
      val inverse = mapping.map(_.swap)
      parsed.flatMap { case (k, v) =>
        if (k == RowCountKey || k == BytesSizeKey)
          Some(k -> v) // reserved keys, never columns
        else if (k.endsWith(NullCountSuffix)) {
          // per-column null counts remap on their BASE column name —
          // the suffix travels with whatever name readers resolve
          val base = k.dropRight(NullCountSuffix.length)
          inverse.get(base) match {
            case Some(logical) => Some(s"$logical$NullCountSuffix" -> v)
            case None =>
              if (mapping.contains(base)) None else Some(k -> v)
          }
        }
        else inverse.get(k) match {
          case Some(logical) => Some(logical -> v)
          case None => if (mapping.contains(k)) None else Some(k -> v)
        }
      }
    }

  /** Refuse rename/drop of a column some ACTIVE governance object
    * still references — a constraint whose expression names it, or a
    * declared bloom index over it; silently breaking either would
    * leave enforcement/pruning reading a column that no longer
    * exists. */
  private def guardColumnReferences(spark: SparkSession, tablePath: String,
      colName: String, verb: String): Unit = {
    constraintsAt(spark, tablePath).foreach { case (n, check) =>
      val refs = spark.sessionState.sqlParser.parseExpression(check).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }
      require(!refs.exists(_.equalsIgnoreCase(colName)),
        s"cannot $verb column $colName of $tablePath: CHECK constraint $n " +
          s"references it ($check) — drop the constraint first")
    }
    val props = propertiesAt(spark, tablePath)
    props.get("bloom.columns").foreach { cols =>
      require(!cols.split(',').map(_.trim).exists(_.equalsIgnoreCase(colName)),
        s"cannot $verb column $colName of $tablePath: the bloom.columns " +
          "property indexes it — unset/update the property first")
    }
    props.get("graft.clusterBy").foreach { cols =>
      require(!cols.split(',').map(_.trim).exists(_.equalsIgnoreCase(colName)),
        s"cannot $verb column $colName of $tablePath: the graft.clusterBy " +
          "property clusters on it (every write would fail) — re-point or " +
          "drop the clustering first (ALTER TABLE … CLUSTER BY …/NONE)")
    }
    // Generated columns brick writes two ways: dropping/renaming the
    // GENERATED column itself leaves a property targeting a column that
    // no longer exists, and touching a column its EXPRESSION reads
    // leaves the generation unresolvable — both fail every subsequent
    // write, the exact dangling-property mode clusterBy guards against.
    props.foreach { case (k, expr) if k.startsWith(GeneratedPropPrefix) =>
      val target = k.stripPrefix(GeneratedPropPrefix)
      require(!target.equalsIgnoreCase(colName),
        s"cannot $verb column $colName of $tablePath: it is a generated " +
          s"column ($k = $expr) — unset the property first")
      // same wrap as validateProperty: a legacy value stored before
      // SET-time validation landed must fail with the clear message,
      // not a raw ParseException mid-ALTER
      val parsed =
        try spark.sessionState.sqlParser.parseExpression(expr)
        catch {
          case e: org.apache.spark.sql.catalyst.parser.ParseException =>
            throw new IllegalArgumentException(
              s"$k is not a parseable SQL expression: '$expr' " +
                s"(${e.getMessage}) — unset the malformed property before " +
                s"altering $tablePath")
        }
      val refs = parsed.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      }
      require(!refs.exists(_.equalsIgnoreCase(colName)),
        s"cannot $verb column $colName of $tablePath: generated column " +
          s"$target's expression references it ($expr) — re-point or unset " +
          "the property first")
      case _ => ()
    }
  }

  /** The ONE schema-bootstrap rule, shared by every surface (the
    * batch and streaming sources, GraftSql, addConstraint, compact,
    * optimize): the evolution ledger when a writer stamped one, else
    * inferred from the newest file live at `asOf` (one footer read). */
  def tableSchema(spark: SparkSession, tablePath: String,
      asOf: Long = Long.MaxValue): StructType =
    tableSchema(spark, tablePath, snapshot(spark, tablePath, asOf))

  /** [[tableSchema]] of an already-taken snapshot. */
  private[graft] def tableSchema(spark: SparkSession, tablePath: String,
      snap: Snapshot): StructType =
    snap.schema.getOrElse {
      val files = snap.live
      require(files.nonEmpty,
        s"cannot infer the schema of empty logged table $tablePath — " +
          "no ledger and no live files; supply a schema")
      spark.read.parquet(resolveDataPath(tablePath, files.last.name)).schema
    }

  /** Rename preconditions only — no commit. `cur` is the schema the
    * change applies AGAINST: callers pass their already-loaded
    * snapshot (one log read, not two), and a multi-change ALTER passes
    * its SIMULATED schema so each change validates against the state
    * its predecessors in the same statement will have produced —
    * without the simulation, two renames to the same target (or a
    * rename of a just-dropped column) each pass against the pre-alter
    * snapshot and the statement partially applies. */
  private[store] def validateRenameColumn(spark: SparkSession,
      tablePath: String, cur: StructType, from: String, to: String): Unit = {
    require(cur.fieldNames.contains(from),
      s"no column $from in $tablePath (${cur.fieldNames.mkString(", ")})")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists in $tablePath")
    require(to.nonEmpty && !to.startsWith("_"),
      s"invalid column name: $to")
    guardColumnReferences(spark, tablePath, from, "rename")
  }

  /** RENAME COLUMN — metadata-only (one schema commit, zero file
    * rewrites): the field keeps its PHYSICAL name, so every existing
    * file serves the renamed column unchanged and time travel reads
    * historical names at historical versions. Refused while a
    * constraint or bloom property references the column. */
  def renameColumn(spark: SparkSession, tablePath: String, from: String,
      to: String, publisher: AtomicPublisher = RenameOrLinkPublisher): Long =
    alterSchema(spark, tablePath, publisher, "rename_column") { (_, cur) =>
      validateRenameColumn(spark, tablePath, cur, from, to)
      (StructType(cur.fields.map { f =>
        if (f.name == from)
          f.copy(name = to, metadata = withPhysical(f.metadata, physicalName(f)))
        else f
      }), Seq.empty)
    }

  /** One metadata-only schema commit: `change` derives the new schema
    * (and any property tags riding along) from the snapshot and its
    * current schema; the commit fences on that schema ledger. */
  private def alterSchema(spark: SparkSession, tablePath: String,
      publisher: AtomicPublisher, op: String)(
      change: (Snapshot, StructType) => (StructType, Seq[String])): Long = {
    val snap = snapshot(spark, tablePath)
    val ledger = snap.schema
    val (next, propertyTags) = change(snap, ledger.getOrElse(tableSchema(spark, tablePath, snap)))
    commitOrAbort(spark, tablePath, adds = Seq.empty, removes = Seq.empty,
      publisher = publisher, opTag = Some(op), abortOnLostRace = _ => false,
      schemaJson = Some(next.json), propertyTags = propertyTags,
      schemaExpect = Some(ledger.map(_.json)))
      .getOrElse(throw new IllegalStateException(s"unreachable: unfenced $op"))
  }

  /** Drop preconditions only — see [[validateRenameColumn]]. */
  private[store] def validateDropColumn(spark: SparkSession,
      tablePath: String, cur: StructType, name: String): Unit = {
    require(cur.fields.exists(_.name == name),
      s"no column $name in $tablePath (${cur.fieldNames.mkString(", ")})")
    require(cur.fields.length > 1,
      s"cannot drop the only column of $tablePath")
    guardColumnReferences(spark, tablePath, name, "drop")
  }

  /** DROP COLUMN — metadata-only: the field leaves the ledger schema
    * (one commit, zero file rewrites; the bytes linger in files until
    * rewrites retire them — run a full OPTIMIZE to purge physically),
    * and its physical name is BURNED so a later same-named column gets
    * fresh storage instead of resurrecting the hidden data. Time
    * travel before the drop still reads the column. */
  def dropColumn(spark: SparkSession, tablePath: String, name: String,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long =
    alterSchema(spark, tablePath, publisher, "drop_column") { (snap, cur) =>
      validateDropColumn(spark, tablePath, cur, name)
      val burned = snap.burned + physicalName(cur.fields.find(_.name == name).get)
      (StructType(cur.fields.filterNot(_.name == name)),
        Seq(LogLine.setTag(BurnedProp, burned.toSeq.sorted.mkString(","))))
    }

  /** Add-columns preconditions only — see [[validateRenameColumn]].
    * Duplicates WITHIN `fields` are refused too (two adds of the same
    * name in one statement). */
  private[store] def validateAddColumns(spark: SparkSession,
      tablePath: String, cur: StructType,
      fields: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    require(fields.nonEmpty, "no columns to add")
    val dup = fields.map(_.name)
      .filter(n => cur.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(dup.isEmpty,
      s"column(s) ${dup.mkString(", ")} already exist in $tablePath")
    val selfDup = fields.groupBy(_.name.toLowerCase).filter(_._2.size > 1).keys
    require(selfDup.isEmpty,
      s"column(s) ${selfDup.mkString(", ")} added more than once")
  }

  /** ADD COLUMNS — metadata-only evolution (one schema commit): new
    * fields append nullable (old files null-fill); a name colliding
    * with a live physical or BURNED name gets fresh storage. Fenced
    * like rename/drop against concurrent ledger movement. */
  def addColumns(spark: SparkSession, tablePath: String,
      fields: Seq[org.apache.spark.sql.types.StructField],
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long =
    alterSchema(spark, tablePath, publisher, "evolve") { (snap, cur) =>
      validateAddColumns(spark, tablePath, cur, fields)
      (evolveSchema(cur, StructType(cur.fields ++ fields.map(_.copy(nullable = true))),
        snap.burned), Seq.empty)
    }

  /** Widen/extend `current` with `incoming` — the `mergeSchema` rule:
    * new source columns append (nullable: old files read them as
    * null), int→long and float→double widen (old files read
    * value-exact under the wider type — the read path's type-widening
    * contract), a source column NARROWER than the table keeps the
    * table's type, and any other type change is refused loudly
    * (silent coercion is how a corpus loses data). Field order is the
    * table's, then additions in source order. An added column whose
    * name collides with a live PHYSICAL name or a BURNED one gets a
    * fresh physical identity (see the column-mapping block) — old
    * files' bytes under the colliding name must never serve the new
    * column. */
  private[store] def evolveSchema(current: StructType,
      incoming: StructType, burned: Set[String] = Set.empty): StructType = {
    import org.apache.spark.sql.types._
    val byName = incoming.fields.map(f => f.name -> f).toMap
    val updated = current.fields.map { f =>
      byName.get(f.name) match {
        case None => f
        case Some(src) => (f.dataType, src.dataType) match {
          case (a, b) if a == b => f
          case (IntegerType, LongType) => f.copy(dataType = LongType)
          case (FloatType, DoubleType) => f.copy(dataType = DoubleType)
          case (LongType, IntegerType) | (DoubleType, FloatType) => f
          case (a, b) => throw new IllegalArgumentException(
            s"cannot evolve column ${f.name}: $a -> $b is not a supported " +
              "widening (int->long, float->double, or add-column only)")
        }
      }
    }
    val have = current.fieldNames.toSet
    val taken = current.fields.map(physicalName).toSet ++ burned
    val added = incoming.fields.filterNot(f => have(f.name))
      .map(_.copy(nullable = true))
      .map(f => if (taken(f.name))
        f.copy(metadata = withPhysical(f.metadata, freshPhysical(f.name)))
      else f)
    StructType(updated ++ added)
  }

  /** Same (name, type) surface, ignoring nullability/metadata — the
    * "did the schema actually change" test the ledger writes key on. */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq

  /** An overwrite's restamped schema: same-named surviving columns
    * inherit their physical identity from the current ledger; NEW
    * names colliding with a burned or inherited physical name get
    * fresh storage (every replaced file is removed in the same
    * commit, so other reuse is harmless). */
  private def inheritMapping(cur: StructType, incoming: StructType,
      burned: Set[String]): StructType = {
    val byName = cur.fields.map(f => f.name -> f).toMap
    val inherited = incoming.fields
      .flatMap(f => byName.get(f.name).map(physicalName)).toSet
    StructType(incoming.fields.map { f =>
      byName.get(f.name) match {
        case Some(c) if physicalName(c) != f.name =>
          f.copy(metadata = withPhysical(f.metadata, physicalName(c)))
        case Some(_) => f
        case None if burned(f.name) || inherited(f.name) =>
          f.copy(metadata = withPhysical(f.metadata, freshPhysical(f.name)))
        case None => f
      }
    })
  }

  /** Exactly-once streaming sink append — the foreachBatch bridge from
    * Structured Streaming into a logged table: micro-batch delivery is
    * at-least-once (a batch that fails after side effects REPLAYS from
    * the checkpoint), so the sink must be idempotent, and here the
    * idempotence claim rides the commit itself as a
    * `txn=<queryId>:<batchId>` tag (the published Delta sink's
    * txnAppId/txnVersion mechanism). A replayed batch finds a tag at
    * or past its id and skips — no dedup table, no second lookup
    * structure, and the claim is ATOMIC with the data because it IS
    * the commit. Returns the version won, or None for a skip.
    *
    * `queryId` must be a stable identity across restarts (the
    * checkpoint's role on the source side) — NOT the run-scoped query
    * instance id; batch ids from one checkpoint are monotone, which is
    * what makes `<=` the replay test.
    *
    * Zombie fencing: the replay check runs once up front (the cheap
    * no-contention path) and is RE-RUN after every lost publish race —
    * a zombie driver and its successor running the same (queryId,
    * batchId) can both pass the up-front check, but whichever loses
    * the version race re-reads the ledger, finds the winner's tag, and
    * aborts with None instead of double-committing (its landed files
    * are vacuum-eligible orphans). */
  def appendOnce(df: DataFrame, tablePath: String, queryId: String,
      batchId: Long, publisher: AtomicPublisher = RenameOrLinkPublisher): Option[Long] = {
    require(!queryId.exists(c => c.isWhitespace || c == ':'),
      s"queryId must be whitespace/colon-free: $queryId")
    val spark = df.sparkSession
    val snap = snapshot(spark, tablePath)
    if (batchId <= snap.lastTxnBatch(queryId)) return None
    // a batch that lands no file publishes nothing and records nothing
    // (None from the core): the ledger not advancing is safe because
    // replaying an empty batch is a no-op, and "empty commit" is a
    // protocol violation
    val won = appendOrAbort(df, tablePath, snap, publisher,
      opTag = Some(s"txn=$queryId:$batchId"),
      abortOnLostRace = batchId <= _.lastTxnBatch(queryId))
    if (won.isDefined) maybeAutoCompact(spark, tablePath, snap.properties)
    won
  }

  /** Exactly-once KEYED streaming upsert — [[appendOnce]]'s argument
    * extended to Update-mode sinks: each micro-batch carries the
    * CHANGED rows (a streaming aggregation's updated keys), the
    * touched keys swap out via the keyed copy-on-write rewrite and the
    * batch appends alongside, with the `txn=<queryId>:<batchId>` claim
    * riding the same commit — a replayed or zombie batch finds the
    * ledger at or past its id and aborts (the same per-attempt fence
    * as appendOnce). Duplicate keys WITHIN one batch are rejected loud
    * (which duplicate wins is undefined — the merge contract); a
    * streaming state store emits one row per key, so this only fires
    * on misuse. Returns the version won, None for a replay skip or an
    * empty batch. */
  def upsertOnce(df: DataFrame, tablePath: String, keyCols: Seq[String],
      queryId: String, batchId: Long,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Option[Long] = {
    import org.apache.spark.sql.functions.col
    require(!queryId.exists(c => c.isWhitespace || c == ':'),
      s"queryId must be whitespace/colon-free: $queryId")
    require(keyCols.nonEmpty, "upsertOnce needs key columns")
    val spark = df.sparkSession
    val snap = snapshot(spark, tablePath)
    if (batchId <= snap.lastTxnBatch(queryId)) return None
    val src = df.localCheckpoint(true)
    if (src.isEmpty) return None // empty batch: replaying it is a no-op
    // the batch's shape drives the keyed rewrite, so a batch NARROWER
    // than the sink's declared schema would silently drop the missing
    // columns from every rewritten file — refuse loudly instead
    snap.schema.foreach { ledger =>
      require(ledger.fieldNames.sorted.sameElements(src.schema.fieldNames.sorted),
        s"upsert batch columns (${src.schema.fieldNames.mkString(", ")}) do not " +
          s"match the sink's declared schema (${ledger.fieldNames.mkString(", ")})")
    }
    requireUniqueKeys(src, keyCols, "upsert batch",
      "an Update-mode state store emits one row per key; dedupe the batch")
    val won = keyedRewrite(spark, tablePath, snap, src.schema, keyCols,
      deleteKeys = src, appendDf = src,
      opTag = Some(s"txn=$queryId:$batchId"), publisher = publisher,
      abortOnLostRace = batchId <= _.lastTxnBatch(queryId))
    if (won.isDefined) maybeAutoCompact(spark, tablePath, snap.properties)
    won
  }

  /** Row-level DELETE (DELETE WHERE) — the right-to-be-forgotten /
    * retention operation: the live rows matching `predicate` leave the
    * table in ONE `#op=delete`-tagged version, landed by the row-level
    * core [[rewriteRows]] — copy-on-write by default (fully matched
    * files drop as log lines, boundary stragglers restate their other
    * rows; a retention delete on a cluster-aligned boundary, the 100 TB
    * shape `ts < horizon` on a ts-clustered table, rewrites only the one
    * file the boundary cuts through), merge-on-read with
    * `deletionVectors` (the matched positions are vectored, no data file
    * is rewritten — best for SPARSE deletes; OPTIMIZE absorbs the
    * vectors). Readers see all deletions or none, and `asOf` still reads
    * the pre-delete snapshot until vacuum reclaims it (the retention
    * window IS the forget horizon — run vacuum after it to make the
    * purge physical). Untouched files keep their identity.
    *
    * SQL DELETE semantics: rows where the predicate is TRUE go; rows
    * where it is false OR NULL stay. A concurrent compaction of an
    * affected file (or a competing vector) surfaces as a conflict
    * exception — rerun the delete. An EMPTYING delete on an
    * un-ledgered table stamps the schema ledger in the same commit:
    * once the last data file drops there is no footer left to infer a
    * schema from, and a logged table must stay self-describing. */
  def deleteWhere(spark: SparkSession, tablePath: String, schema: StructType,
      predicate: org.apache.spark.sql.Column,
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      deletionVectors: Boolean = false): Long = {
    val snap = snapshot(spark, tablePath)
    if (snap.live.isEmpty) return snap.version
    requireDeterministicPredicate(spark, schema, predicate, "deleteWhere")
    rewriteRows(spark, tablePath, snap, schema, snap.live,
      claim = _.withColumn(Claimed, predicate),
      deletionVectors = deletionVectors, publisher = publisher,
      opTag = Some("delete"), stampEmptied = true)
      .getOrElse(snap.version) // nothing matched: no new version
  }

  /** Land ONE cumulative vector parquet covering `fresh` positions for
    * `affectedEntries` — prior vectors of those files are unioned in
    * (cumulative-replacement invariant) — and return the commit's
    * (dvAttach, dvExpect, dvRowCounts). One parquet per commit, shared by
    * every affected file (per-file attachment filtering keeps sharing
    * exact): vectors are increment-sized by design (~16 B/position;
    * massive hits belong on the copy-on-write path), so a single file
    * is the right shape. */
  private def landVector(spark: SparkSession, tablePath: String,
      affectedEntries: Seq[LiveEntry], fresh: DataFrame)
      : (Map[String, String], Map[String, Option[String]], Map[String, Long]) = {
    import org.apache.spark.sql.functions.col
    val cumulative = dvRows(spark, tablePath, affectedEntries.filter(_.dv.isDefined))
      .map(_.unionByName(fresh)).getOrElse(fresh)
    // vector columns are engine-owned, never mapped
    val dvName = stage(cumulative.repartition(1), tablePath, Map.empty) match {
      case Seq(one) => one
      case many => throw new IllegalStateException(
        s"deletion vector staged ${many.size} files, expected 1")
    }
    // per-file POSITION COUNTS for the commit line, read back from the
    // just-landed (small, positions-only) vector — one tiny job, and
    // the counts describe the exact bytes readers will subtract. DV
    // content records BASENAMES; attachment keys may be absolute
    // (cloned references)
    val counts = scan(spark, tablePath, fileEntries(Seq(dvName)), DvSchema)
      .groupBy(col(DvFileCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (affectedEntries.map(_.name -> dvName).toMap,
      affectedEntries.map(e => e.name -> e.dv).toMap,
      affectedEntries.map(e =>
        e.name -> counts.getOrElse(baseNameOf(e.name), 0L)).toMap)
  }

  /** Row-level UPDATE … SET … WHERE — the predicate-addressed sibling
    * of [[deleteWhere]] (an UPDATE is not a keyed merge: the rows it
    * touches are named by a condition, not by source keys): the
    * matching rows leave and their post-images enter, published by
    * [[rewriteRows]] as ONE `#op=update` commit — readers see pre- or
    * post-update, never a mix, and a keyed change-feed consumer replays
    * the update exactly. Copy-on-write restates the affected files in
    * one pass (`assignments` applied to matching rows, everything else
    * byte-value identical); `deletionVectors` vectors the matched
    * positions and appends the post-images instead. SQL semantics: rows
    * where the predicate is TRUE update; false or NULL stay. Assignment
    * expressions see the row's PRE-update columns (standard SQL UPDATE:
    * `SET a = b, b = a` swaps) and cast to the column's declared type;
    * they must be deterministic — they evaluate for the data write and
    * again for the change feed's post-images. */
  def updateWhere(spark: SparkSession, tablePath: String, schema: StructType,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      deletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    val unknown = assignments.keys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"UPDATE SET references unknown column(s) ${unknown.mkString(", ")} " +
        s"of $tablePath (${schema.fieldNames.mkString(", ")})")
    val snap = snapshot(spark, tablePath)
    if (snap.live.isEmpty) return snap.version
    // the predicate runs for the probe, the rewrite and the change
    // feed's images; a nondeterministic one would update rows that
    // were never probed. Assignments evaluate twice too (the data
    // write and the post-images).
    requireDeterministicPredicate(spark, schema, predicate, "updateWhere")
    assignments.foreach { case (c, a) =>
      requireDeterministicPredicate(spark, schema, a, s"updateWhere SET $c") }
    // post-image over the PRE-update row (all assignments read the
    // original columns — the SQL simultaneous-SET rule)
    val post = schema.fields.map(f =>
      assignments.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name))).toSeq
    rewriteRows(spark, tablePath, snap, schema, snap.live,
      claim = _.withColumn(Claimed, predicate),
      restate = Some(Restate(lit(true), post)),
      deletionVectors = deletionVectors, publisher = publisher,
      opTag = Some("update"))
      .getOrElse(snap.version) // nothing matched: no new version
  }

  /** Refuse a keyed source holding a key twice — one probe job, one
    * offending key collected into the message. */
  private[store] def requireUniqueKeys(src: DataFrame, keyCols: Seq[String],
      what: String, remedy: String): Unit = {
    import org.apache.spark.sql.functions.col
    val dup = src.groupBy(keyCols.map(col): _*)
      .count().filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"$what has duplicate key(s), e.g. ${dup.head.toSeq.init.mkString(",")} — $remedy")
  }

  /** Column name the change feed uses to label each fed row's kind
    * (`insert` | `delete`); an UPDATE surfaces as its delete pre-image
    * plus its insert post-image in one commit — the minimal vocabulary
    * a keyed consumer needs to stay exact. */
  val ChangeTypeCol = "_change_type"

  // ── THE ROW-LEVEL CORE ──────────────────────────────────────────────

  /** Columns of the visible-row frames [[rewriteRows]] hands a verb's
    * `claim`: the row's data-file basename (`_metadata.file_name`), its
    * 0-based position (`_metadata.row_index`, merge-on-read only), and
    * the one column `claim` adds — [[Claimed]], true for a row that
    * leaves the table (false or NULL: it stays). */
  private val RowFile = "_rl_file"
  private val RowPos = "_rl_pos"
  private[store] val Claimed = "_rl_claimed"

  /** Claimed rows that re-enter the table as post-images (UPDATE, a
    * merge's update clauses): those of them `when` holds on, projected
    * by `post` — one expression per table column, in schema order,
    * over the claimed frame. */
  private[store] final case class Restate(when: org.apache.spark.sql.Column,
      post: Seq[org.apache.spark.sql.Column])

  /** FILE-DROP classification: of the affected entries, keep only those
    * NOT proven fully claimed — whose claimed-row count (keyed by
    * `_metadata.file_name` basename) does not equal
    * [[metadataVisibleCount]]. A file absent here is droppable as a
    * pure log line: every visible row it holds leaves, so removing it
    * and restating nothing loses no row. */
  private[store] def partialMatches(affected: Seq[LiveEntry],
      matchedCounts: Map[String, Long]): Seq[LiveEntry] =
    affected.filterNot(e =>
      metadataVisibleCount(e).contains(matchedCounts(baseNameOf(e.name))))

  /** THE row-level landing — every verb that removes live rows
    * ([[deleteWhere]], [[updateWhere]], [[replaceWhere]],
    * [[keyedRewrite]] under merge/upsert/view refresh/CDC apply, and
    * [[MergeClauses]]) decides only WHICH rows leave and which enter,
    * and lands them here in one commit, planned and fenced on `snap`:
    *
    *  - `claim` marks the leaving rows ([[Claimed]]) on a frame of
    *    VISIBLE rows (DV-aware: a position an earlier merge-on-read
    *    delete vectored out never counts, never resurrects) of
    *    `candidates` — the live entries the verb could not rule out;
    *  - `restate` re-enters claimed rows as post-images; `adds` are
    *    rows entering from outside the table (merge sources, inserts),
    *    staged under the new-row chain (generated columns, CHECK
    *    constraints); `landed` are files the verb already staged
    *    (replaceWhere's guarded rows).
    *
    * Two landings:
    *  - COPY-ON-WRITE: one probe counts claimed rows per file; fully
    *    claimed files drop as log lines ([[partialMatches]]), the partly
    *    claimed ones restate their surviving rows — in the same single
    *    pass as the post-images and alongside `adds` — and the removes
    *    commit with the DV attachment each was planned from
    *    (`removeDvExpect`), so a concurrent vector fails the commit
    *    instead of being resurrected.
    *  - MERGE-ON-READ (`deletionVectors`): the claimed rows are
    *    evaluated once (eager localCheckpoint) and their positions
    *    vectored ([[landVector]]) under the DV fences; post-images and
    *    `adds` append. No data file is rewritten.
    *
    * THE CHANGE-FEED RULE, for every verb in both landings: the claimed
    * rows' pre-images feed as `delete`, and every row that enters
    * (post-images, `adds`, `landed`) as `insert`, in change files
    * committed atomically with the data.
    *
    * Nothing claimed: `unclaimed` answers (a keyed rewrite's tagged
    * append, a clause merge's insert-only path); without it the
    * entering rows land alone, and a verb with none gets None. None also
    * when a lost publish race re-evaluates `abortOnLostRace` to true.
    * `schemaJson` is the schema an evolving merge stamps (files land
    * under its mapping); `stampEmptied` stamps the operating schema
    * when the rewrite empties an un-ledgered table. CHECK constraints
    * fence the commit whenever the verb writes rows of its own. Keys
    * entries by name AND basename ([[entriesByName]]), after
    * [[requireBasenameSoundness]]. */
  private[store] def rewriteRows(spark: SparkSession, tablePath: String,
      snap: Snapshot, schema: StructType, candidates: Seq[LiveEntry],
      claim: DataFrame => DataFrame,
      restate: Option[Restate] = None,
      adds: Option[DataFrame] = None,
      landed: Option[Seq[String]] = None,
      deletionVectors: Boolean = false,
      publisher: AtomicPublisher, opTag: Option[String],
      abortOnLostRace: Snapshot => Boolean = _ => false,
      schemaJson: Option[String] = None,
      stampEmptied: Boolean = false,
      unclaimed: Option[() => Option[Long]] = None): Option[Long] = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    requireBasenameSoundness(snap.live, s"row-level rewrite on $tablePath")
    val byName = entriesByName(snap.live)
    val (mapping, props, cs) = (snap.mapping, snap.properties, snap.constraints)
    // data and change files land under the mapping the commit declares
    // (an evolving merge's schemaJson may assign fresh physicals)
    val writeMapping = schemaJson.map(j => columnMapping(
        org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType]))
      .getOrElse(mapping)
    val writeOptions = tableWriteOptions(props, writeMapping)
    val cols = schema.fieldNames.toSeq
    // Claimed may be NULL (a predicate's unknown): a filter on the column
    // itself pushes the verb's predicate down to the scan, its negation
    // keeps NULL rows
    val claimedCol = col(Claimed)
    val stays = !coalesce(claimedCol, lit(false))
    def claimedIn(es: Seq[LiveEntry], positions: Boolean): DataFrame =
      claim(visibleRows(spark, tablePath, schema, es, mapping,
        meta = (RowFile -> "file_name") +:
          (if (positions) Seq(RowPos -> "row_index") else Seq.empty)))
    // new values: generated columns and CHECK constraints ride their
    // write plan (survivor restatements are valid by induction)
    def fresh(df: DataFrame): DataFrame = enforcedWith(withGenerated(df, props), cs)
    val freshAdds = adds.map(fresh)
    def postImages(claimedRows: DataFrame): Option[DataFrame] = restate.map(r =>
      claimedRows.filter(claimedCol && r.when)
        .select(cols.zip(r.post).map { case (c, p) => p.as(c) }: _*))
    def stageAll(frames: Seq[DataFrame]): Seq[String] =
      landed.getOrElse(Seq.empty) ++ frames.reduceOption(_.unionByName(_))
        .map(stage(_, tablePath, writeMapping, writeOptions)).getOrElse(Seq.empty)
    // the change-feed rule: claimed pre-images as delete, entering rows
    // as insert (landed files read back — their exact bytes)
    def changeFiles(claimedRows: Option[DataFrame]): Seq[String] = {
      def tagged(df: DataFrame, kind: String) = df.withColumn(ChangeTypeCol, lit(kind))
      val images = claimedRows.toSeq.flatMap(g =>
          tagged(g.filter(claimedCol).select(cols.map(col): _*), "delete") +:
            postImages(g).toSeq.map(tagged(_, "insert"))) ++
        freshAdds.toSeq.map(tagged(_, "insert")) ++
        landed.filter(_.nonEmpty).toSeq.map(ns => tagged(visibleRows(spark, tablePath,
          schema, fileEntries(ns), writeMapping), "insert"))
      images.reduceOption(_.unionByName(_))
        .map(stage(_, tablePath, writeMapping)).getOrElse(Seq.empty)
    }
    val constraintsExpect =
      if (restate.isDefined || adds.isDefined || landed.isDefined) Some(cs) else None
    def publish(names: Seq[String], removed: Seq[LiveEntry], cdcNames: Seq[String],
        vectors: (Map[String, String], Map[String, Option[String]], Map[String, Long]) =
          (Map.empty, Map.empty, Map.empty),
        stamp: Option[String] = None): Option[Long] = {
      val stamped = schemaJson.orElse(stamp)
      commitOrAbort(spark, tablePath, adds = names, removes = removed.map(_.name),
        publisher = publisher, opTag = opTag, abortOnLostRace = abortOnLostRace,
        changeAdds = cdcNames, addStats = statsFor(spark, tablePath, names),
        schemaJson = stamped,
        dvAttach = vectors._1, dvExpect = vectors._2, dvRowCounts = vectors._3,
        removeDvExpect = removed.map(e => e.name -> e.dv).toMap,
        constraintsExpect = constraintsExpect,
        schemaExpect = stamped.map(_ => snap.schema.map(_.json)))
    }
    def nothingClaimed(): Option[Long] = unclaimed.map(_()).getOrElse {
      val names = stageAll(freshAdds.toSeq)
      if (names.isEmpty) None
      else publish(names, Seq.empty, changeFiles(None))
    }

    if (candidates.isEmpty) return nothingClaimed()
    if (deletionVectors) {
      // one evaluation feeds the vector, the post-images and the change
      // feed — a vectored position and its pre-image cannot disagree
      val claimedRows = claimedIn(candidates, positions = true).filter(claimedCol)
        .localCheckpoint(true)
      val affected = claimedRows.select(col(RowFile)).distinct()
        .collect().map(r => byName(r.getString(0))).toSeq
      if (affected.isEmpty) return nothingClaimed()
      val vectors = landVector(spark, tablePath, affected,
        claimedRows.select(col(RowFile).as(DvFileCol), col(RowPos).as(DvPosCol)))
      val names = stageAll(postImages(claimedRows).map(fresh).toSeq ++ freshAdds)
      return publish(names, Seq.empty, changeFiles(Some(claimedRows)), vectors)
    }
    val claimedCounts = claimedIn(candidates, positions = false).filter(claimedCol)
      .groupBy(col(RowFile)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    if (claimedCounts.isEmpty) return nothingClaimed()
    val affected = claimedCounts.keys.toSeq.sorted.map(byName)
    val partial = partialMatches(affected, claimedCounts)
    // survivors of the partly claimed files — with post-images, one
    // pass over every affected file restates both
    val restated: Option[DataFrame] = restate match {
      case None if partial.nonEmpty => Some(claimedIn(partial, positions = false)
        .filter(stays).select(cols.map(col): _*))
      case None => None
      case Some(r) =>
        val survives = stays && (if (partial.size == affected.size) lit(true)
          else col(RowFile).isin(partial.map(e => baseNameOf(e.name)): _*))
        Some(fresh(claimedIn(affected, positions = false)
          .filter(claimedCol && r.when || survives)
          .select(cols.zip(r.post).map { case (c, p) =>
            when(claimedCol, p).otherwise(col(c)).as(c) }: _*)))
    }
    val names = stageAll(restated.toSeq ++ freshAdds)
    val stamp =
      if (stampEmptied && names.isEmpty && affected.size == snap.live.size &&
          snap.schema.isEmpty) Some(schema.json)
      else None
    publish(names, affected, changeFiles(Some(claimedIn(affected, positions = false))),
      stamp = stamp)
  }

  /** Keyed upsert (MERGE): for every source row whose key matches a
    * live target row, the target row is REPLACED by the source row;
    * source rows matching nothing are inserted — `WHEN MATCHED THEN
    * UPDATE SET *, WHEN NOT MATCHED THEN INSERT *`, the most-used
    * operation on a log-structured table (CDC apply, dimension
    * updates, late corrections).
    *
    * A [[keyedRewrite]]: the matched target rows leave and the WHOLE
    * source enters, landed by [[rewriteRows]] as ONE `#op=merge` commit
    * (copy-on-write, or merge-on-read with `deletionVectors`) — readers
    * see pre-merge or post-merge, never a mix, and a concurrent rewrite
    * of an affected file fails loudly instead of resurrecting replaced
    * rows. Untouched files keep their identity.
    *
    * A source with duplicate keys is REJECTED (which duplicate wins is
    * undefined — same contract as Delta's multiple-source-rows-match
    * error). The projected source is materialized ONCE up front (eager
    * localCheckpoint, the quality-calibration pattern): the duplicate
    * probe, pruning scan, data write and CDC write all read the
    * checkpointed rows, so an expensive upstream query runs one time
    * and a non-deterministic source cannot write data and CDC that
    * disagree.
    *
    * Scale shape: the match probe and rewrite shuffle only the
    * affected files' rows against the source keys; at 100 TB a merge
    * of a daily increment against a keyed corpus is increment-sized
    * work plus the rewrite of matched files, never a table rescan. */
  def merge(spark: SparkSession, tablePath: String, schema: StructType,
      source: DataFrame, keyCols: Seq[String],
      publisher: AtomicPublisher = RenameOrLinkPublisher,
      mergeSchema: Boolean = false,
      deletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    // WRITE-PATH evolution on merge: the operating schema widens to
    // cover the source's new/widened columns, old files' matched rows
    // rewrite under it (absent columns null-fill, narrow columns
    // upcast), and the evolved `#schema=` header rides the SAME commit
    // as the rewrite. The source must still carry every table column —
    // merge is a full-row upsert; partial-column sources use the
    // clause surface (MergeClauses).
    val snap = snapshot(spark, tablePath)
    val ledger = snap.schema
    val opSchema =
      if (!mergeSchema) schema
      else evolveSchema(ledger.getOrElse(schema), source.schema, snap.burned)
    val schemaTag =
      if (!mergeSchema) None
      else if (ledger.exists(sameShape(_, opSchema))) None
      else Some(opSchema.json)
    keyCols.foreach(k => require(opSchema.fieldNames.contains(k),
      s"merge key $k not in table schema ${opSchema.fieldNames.mkString(",")}"))
    // One evaluation for the whole operation: merge reads the source
    // four times (duplicate probe, match scan, data write, CDC write) —
    // without this a caller handing an expensive or non-deterministic
    // frame re-runs it per consumer, and the non-deterministic case
    // could commit data and CDC that disagree.
    val src = source.select(opSchema.fieldNames.map(col).toSeq: _*)
      .localCheckpoint(true)
    requireUniqueKeys(src, keyCols, "merge source",
      "which duplicate wins is undefined; dedupe the source first")
    if (src.isEmpty) return snap.version // empty merge: no-op
    keyedRewrite(spark, tablePath, snap, opSchema, keyCols,
      deleteKeys = src, appendDf = src, opTag = Some("merge"),
      publisher = publisher, schemaJson = schemaTag,
      deletionVectors = deletionVectors)
      .getOrElse(throw new IllegalStateException("unreachable: unfenced merge"))
  }

  /** Footer-stats file skipping for the keyed match probe: return the
    * subset of `files` that COULD contain a key from `src` — every
    * other file is provably match-free and never even enters the probe
    * scan. Two tests, both safe-by-construction (a file is only
    * skipped on positive evidence of impossibility):
    *
    *  1. RANGE OVERLAP — the source's per-key-column [min, max]
    *     (one tiny aggregate over the checkpointed source) against
    *     each file's parquet footer min/max. On a Z-ordered /
    *     range-clustered table an increment-shaped merge prunes to the
    *     files its key range actually lands in — the point of
    *     maintaining the clustered layout (compact(clusterBy)).
    *  2. BLOOM PROBE — for each key COLUMN with a small distinct
    *     value set (≤ [[BloomProbeMaxKeys]], collected driver-side),
    *     each surviving file's per-row-group bloom filters (Bloom.
    *     writeWithBloomFilters wrote them) are probed with every
    *     value; a row group is ruled out when ANY probed column's
    *     filter answers "definitely not" for EVERY value of that
    *     column (a matching row needs all key columns to match, so one
    *     impossible column kills the conjunction), and a file whose
    *     every row group is ruled out is skipped — the point-lookup
    *     complement min/max cannot serve on an unclustered key.
    *     Compound keys probe each column independently and intersect
    *     the verdicts; a column with too many distinct values simply
    *     abstains.
    *
    * Missing stats, unsupported types, multi-column uncertainty, or
    * any footer read failure ⇒ the file is KEPT (pruning is an
    * optimization, never a correctness input; LoggedStoreSpec pins the
    * merge result identical with pruning on).
    *
    * `alwaysAll` short-circuits to the full set — callers whose
    * operation must visit unmatched rows too (a by-source delete
    * clause) cannot prune by source keys.
    *
    * `logStats` (file name → the `|{json}` stats its add line carried,
    * from [[liveFilesWithStats]]) is the ZERO-I/O fast path: a file
    * whose LOG stats cover every key column is ruled in or out from
    * the log alone — the footer is opened only for bloom probing of
    * range-surviving files, or for files committed without stats
    * (pre-stats tables). At 100k live files that is the difference
    * between a driver-side metadata pass and 100k footer opens per
    * merge. */
  private[store] val BloomProbeMaxKeys = 10000
  private[store] def pruneByFooterStats(spark: SparkSession, tablePath: String,
      files: Seq[String], keyCols: Seq[String], src: DataFrame,
      mapping: Map[String, String],
      alwaysAll: Boolean = false,
      logStats: Map[String, String] = Map.empty): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    if (alwaysAll || files.isEmpty) return files
    val conf = spark.sparkContext.hadoopConfiguration
    // column mapping (the snapshot's that `files` came from): log stats
    // and footers are keyed by PHYSICAL names; the probe's key columns
    // are logical
    def physK(k: String): String = mapping.getOrElse(k, k)
    // source key envelope: one row, 2×|keys| columns
    val aggs = keyCols.flatMap(k =>
      Seq(min(col(k)).as(s"_mn_$k"), max(col(k)).as(s"_mx_$k")))
    val env = src.agg(aggs.head, aggs.tail: _*).collect().head
    val srcMin = keyCols.map(k => env.getAs[Any](s"_mn_$k"))
    val srcMax = keyCols.map(k => env.getAs[Any](s"_mx_$k"))
    if (srcMin.exists(_ == null)) return files // empty/null-keyed source: no evidence
    // small per-column distinct sets additionally enable bloom
    // probing — each key column independently (compound keys
    // intersect verdicts); a column whose distinct set exceeds the
    // bound abstains rather than disabling the others
    val probeKeys: Map[String, Seq[Any]] = keyCols.flatMap { k =>
      val ks = src.select(col(k)).distinct()
        .limit(BloomProbeMaxKeys + 1).collect().map(_.get(0)).toSeq
      if (ks.size > BloomProbeMaxKeys) None else Some(k -> ks)
    }.toMap
    // parquet footer values arrive as Binary/primitives; compare in the
    // key's own ordering, bailing to "keep" on anything unexpected.
    // The Long/Int and Double/Float cross cases serve type-widened
    // tables whose narrow-generation files carry narrow footer stats.
    // Strings compare as UNSIGNED UTF-8 bytes — parquet's binary stats
    // ordering — NOT String.compareTo (UTF-16 code units), which
    // disagrees for supplementary-plane code points and would let a
    // non-BMP key wrongly rule out a file that contains a match.
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
      case (x: Int, y: Int) => Some(java.lang.Integer.compare(x, y))
      case (x: Long, y: Int) => Some(java.lang.Long.compare(x, y.toLong))
      case (x: Int, y: Long) => Some(java.lang.Long.compare(x.toLong, y))
      case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
      case (x: Float, y: Float) => Some(java.lang.Float.compare(x, y))
      case (x: Double, y: Float) => Some(java.lang.Double.compare(x, y.toDouble))
      case (x: Float, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
      case (x: String, y: String) => Some(utf8UnsignedCmp(x, y))
      case _ => None
    }
    def statValue(v: Any): Any = v match {
      case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
      case other => other
    }
    // footer-free decision from the log-carried stats: Some(false) =
    // provably match-free (skip), Some(true) = possible AND no bloom
    // probe wanted (keep), None = footer needed
    def fromLog(name: String): Option[Boolean] =
      logStats.get(name).map(parseStatsJson) match {
        case Some(stats) if keyCols.forall(k => stats.contains(physK(k))) =>
          val possible = keyCols.zipWithIndex.forall { case (k, i) =>
            val (lo, hi) = stats(physK(k))
            // statCmp: numeric keys exactly, string keys in unsigned
            // UTF-8 order against the log's truncate-and-successor
            // bounds (lo is a valid lower bound, hi a valid upper
            // bound, so the disjointness test stays conservative)
            (statCmp(srcMax(i), lo), statCmp(srcMin(i), hi)) match {
              case (Some(a), Some(b)) => a >= 0 && b <= 0
              case _ => true // incomparable: not evidence
            }
          }
          if (!possible) Some(false)
          else if (probeKeys.isEmpty) Some(true)
          else None // range passes but a bloom probe could still skip
        case _ => None
      }
    def footerCheck(name: String): Boolean = {
      val p = new Path(resolveDataPath(tablePath, name))
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = reader.getFooter.getBlocks.asScala.toSeq
          // keep unless EVERY row group proves it cannot match
          blocks.isEmpty || blocks.exists { block =>
            val byName = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c).toMap
            val rangePossible = keyCols.zipWithIndex.forall { case (k, i) =>
              byName.get(physK(k)) match {
                case Some(c) =>
                  val st = c.getStatistics
                  if (st == null || !st.hasNonNullValue) true
                  else {
                    val fMin = statValue(st.genericGetMin())
                    val fMax = statValue(st.genericGetMax())
                    (cmp(srcMax(i), fMin), cmp(srcMin(i), fMax)) match {
                      // disjoint iff src.max < file.min or src.min > file.max
                      case (Some(a), Some(b)) => a >= 0 && b <= 0
                      case _ => true // incomparable: keep
                    }
                  }
                case None => true // column not in footer: keep
              }
            }
            // bloom conjunction: a matching row needs EVERY key column
            // to match, so one column whose filter rules out every
            // source value rules out the row group
            if (!rangePossible) false
            else probeKeys.forall { case (keyCol, keys) =>
              val c = byName.get(physK(keyCol))
              val bloom = c.flatMap(cc =>
                Option(reader.getBloomFilterDataReader(block))
                  .flatMap(r => Option(r.readBloomFilter(cc))))
              bloom match {
                case Some(bf) =>
                  // hash in the column's PHYSICAL type, not the key's
                  // JVM runtime type: under type widening a Long key
                  // probes a narrow-generation INT32 column, and
                  // hash(long) vs the filter's hash(int) entries would
                  // answer "definitely not" for every present key —
                  // a wrongly-pruned file silently turns a merge
                  // update into a duplicate insert. A widened key
                  // OUTSIDE the narrow physical range provably cannot
                  // live in the file; any other mismatch keeps it.
                  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
                  val phys = c.get.getPrimitiveType.getPrimitiveTypeName
                  keys.exists { k => (k, phys) match {
                    case (v: Long, PrimitiveTypeName.INT64) =>
                      bf.findHash(bf.hash(v))
                    case (v: Long, PrimitiveTypeName.INT32) =>
                      v >= Int.MinValue && v <= Int.MaxValue &&
                        bf.findHash(bf.hash(v.toInt))
                    case (v: Int, PrimitiveTypeName.INT32) =>
                      bf.findHash(bf.hash(v))
                    case (v: Int, PrimitiveTypeName.INT64) =>
                      bf.findHash(bf.hash(v.toLong))
                    case (v: String, PrimitiveTypeName.BINARY) =>
                      bf.findHash(bf.hash(
                        org.apache.parquet.io.api.Binary.fromString(v)))
                    case _ => true // unprobeable type/physical pair: keep
                  }}
                case None => true // no filter on this row group: keep
              }
            }
          }
        } finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => true } // unreadable footer: keep
    }
    files.filter(name => fromLog(name).getOrElse(footerCheck(name)))
  }

  /** The live entries of `snap` that could hold a row whose key is in
    * `keys` — [[pruneByFooterStats]] over the snapshot's log stats. */
  private[store] def keyCandidates(spark: SparkSession, tablePath: String,
      snap: Snapshot, keyCols: Seq[String], keys: DataFrame,
      alwaysAll: Boolean = false): Seq[LiveEntry] = {
    val byName = snap.live.map(e => e.name -> e).toMap
    pruneByFooterStats(spark, tablePath, snap.live.map(_.name), keyCols, keys,
      snap.mapping, alwaysAll,
      logStats = snap.live.collect { case LiveEntry(n, Some(s), _, _) => n -> s }.toMap)
      .map(byName)
  }

  /** The keyed rewrite behind merge and keyed incremental maintenance
    * (upsertOnce, IncrementalView.refresh, CdcStream.applyChangesOnce):
    * every live row whose key appears in `deleteKeys` leaves and
    * `appendDf` enters, in one optionally-tagged commit landed by
    * [[rewriteRows]]. Files whose stats rule out every key never enter
    * the probe ([[pruneByFooterStats]]); a call that matches nothing is
    * a plain [[appendOrAbort]] (still tagged, still fenced — an EMPTY
    * append still commits, so a view refresh riding a consumed= tag
    * advances its checkpoint even when the increment nets to nothing).
    * Everything is planned, staged and fenced on the caller's `snap`;
    * data and change files land under the mapping the commit declares
    * (`schemaJson`'s, when an evolving merge stamps one). */
  private[store] def keyedRewrite(spark: SparkSession, tablePath: String,
      snap: Snapshot,
      schema: StructType, keyCols: Seq[String], deleteKeys: DataFrame,
      appendDf: DataFrame, opTag: Option[String],
      publisher: AtomicPublisher,
      abortOnLostRace: Snapshot => Boolean = _ => false,
      schemaJson: Option[String] = None,
      deletionVectors: Boolean = false): Option[Long] = {
    import org.apache.spark.sql.functions.{col, lit}
    // the key set drives the stats envelope, the bloom key collect, the
    // probe, the restatement and the change feed — materialize it once,
    // increment-sized (the merge-source single-evaluation discipline)
    val keyD = deleteKeys.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true)
    val appendRows = appendDf.select(schema.fieldNames.map(col).toSeq: _*)
    // stats-based skipping first: files whose LOG-carried min/max (or,
    // fallback, footer min/max + bloom filters) prove no key can match
    // never enter the probe scan (MergePruneSpec pins
    // fewer-files-than-live-set and the footer-free log path)
    val candidates = keyCandidates(spark, tablePath, snap, keyCols, keyD)
    val hit = keyD.withColumn(Claimed, lit(true))
    rewriteRows(spark, tablePath, snap, schema, candidates,
      claim = _.join(hit, keyCols, "left"),
      adds = Some(appendRows), deletionVectors = deletionVectors,
      publisher = publisher, opTag = opTag, abortOnLostRace = abortOnLostRace,
      schemaJson = schemaJson,
      unclaimed = Some(() => appendOrAbort(appendRows, tablePath, snap, publisher,
        opTag, abortOnLostRace, schemaJson = schemaJson)))
  }

  /** The table's commit history as a DataFrame — the DESCRIBE HISTORY
    * introspection surface: one row per surviving commit file with its
    * add/remove counts and an operation tag derived from the commit
    * shape (append = adds only; rewrite = adds+removes — compaction or
    * any atomic replace). Commits older than a pruned checkpoint are
    * summarized by the checkpoint row itself (`checkpoint`, its add
    * count = the live-set size it snapshots) — history is bounded by
    * the same replay window reads are. Driver cost is one log-dir
    * listing plus one small read per surviving commit file — log-sized,
    * never data-sized. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val listing = listLog(spark, tablePath)
    // version order; a checkpoint row precedes its version's commit row
    val files = (listing.checkpoints.toSeq.map { case (v, p) => (v, false, p) } ++
      listing.commits.toSeq.map { case (v, p) => (v, true, p) }).sortBy(f => (f._1, f._2))
    val rows: Seq[(Long, String, Long, Long, Option[Long])] =
      files.map { case (version, isCommit, p) =>
        if (isCommit) {
          val lines = LogLine.read(listing.fs, p).toSeq
          val removes = lines.count(_.isInstanceOf[Remove]).toLong
          // explicit header wins; otherwise derive from commit shape
          val op = lines.collectFirst { case Op(tag) => tag }
            .getOrElse(if (removes > 0) "rewrite" else "append")
          (version, op, lines.count(_.isInstanceOf[Add]).toLong, removes,
            lines.collectFirst { case Ts(ms) => ms })
        } else // streamed: a checkpoint holds the whole live set
          (version, "checkpoint",
            LogLine.read(listing.fs, p).count(_.isInstanceOf[Add]).toLong, 0L, None: Option[Long])
      }
    rows.toDF("version", "operation", "n_added", "n_removed", "commit_ts_ms")
  }

  /** Bytes of a snapshot's live files, LEDGER-FIRST: when every live
    * file carries its log-recorded byte size this is a driver-side fold
    * (zero listings — DESCRIBE DETAIL on a 100k-file table costs a log
    * read); any size-less file (pre-recording generations) falls back
    * to one listing per parent. The byte census of [[detail]] and of
    * `Cli compact`. */
  private[graft] def liveBytes(spark: SparkSession, tablePath: String,
      snap: Snapshot): Long = {
    val entries = snap.live
    val fromLedger = entries.map(e => statsCount(e.stats, BytesSizeKey))
    if (fromLedger.forall(_.isDefined)) fromLedger.flatten.sum
    else {
      val dir = new Path(tablePath)
      val fs = fsOf(spark, dir)
      val sizeByName: Map[String, Long] =
        if (!fs.exists(dir)) Map.empty
        else sizesFor(fs, tablePath, entries.map(_.name))
      entries.map(e => sizeByName.getOrElse(e.name, 0L)).sum
    }
  }

  /** DESCRIBE DETAIL — the one-row operational summary an operator
    * checks before touching a table: current version, live file
    * census (count + bytes from ONE directory listing), deletion-
    * vector state (attached-file count + total vectored-out positions,
    * EXACT: counted through the per-file attachment join — a vector
    * shared by several files and later superseded for a subset must
    * not carry the superseded files' positions into the metric), the
    * active constraint count, schema source, and the last in-commit
    * timestamp. Driver cost: one log replay + one dir listing, plus
    * one increment-sized Spark job over the attached vectors when any
    * exist (vectors are commit-count-bounded and OPTIMIZE absorbs
    * them); a vector-free table runs zero jobs. */
  def detail(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val listing = listLog(spark, tablePath)
    val snap = listing.snapshot()
    val (version, entries) = (snap.version, snap.live)
    val fs = fsOf(spark, new Path(tablePath))
    val sizeBytes = liveBytes(spark, tablePath, snap)
    // vectored positions: log-carried counts when every attachment
    // recorded one, else the vector-parquet count job
    val vectored = entries.filter(_.dv.isDefined)
    val dvPositions =
      if (vectored.forall(_.dvRows.isDefined)) vectored.flatMap(_.dvRows).sum
      else dvRows(spark, tablePath, vectored).map(_.count()).getOrElse(0L)
    val lastTs = listing.commits.get(version).flatMap(commitTsOf(fs, _))
    val schemaSource =
      if (snap.schemaJson.isDefined) "ledger"
      else if (entries.nonEmpty) "inferred" else "none"
    // the property map rides along: clustering, bloom, MOR default and
    // generated columns are all property-driven behavior — a table
    // cannot be audited from SQL without seeing them
    Seq((tablePath, version, entries.size.toLong, sizeBytes,
      entries.count(_.dv.isDefined).toLong, dvPositions,
      snap.constraints.size.toLong, schemaSource, lastTs, snap.properties))
      .toDF("table", "version", "num_files", "size_bytes",
        "num_vectored_files", "num_vectored_positions",
        "num_constraints", "schema_source", "last_commit_ts_ms",
        "properties")
  }

  /** CDC-style change feed: every row CHANGED by each commit in
    * (sinceVersion, asOf], tagged with `_change_type` (`insert` |
    * `delete`; an update is its delete pre-image + insert post-image)
    * and `_commit_version` — the incremental-consumption primitive
    * (Delta CDF): a downstream pipeline checkpoints the last version
    * it processed and asks only for what landed since, so consumption
    * cost scales with the INCREMENT, never with a table rescan — at
    * 100 TB the difference between a usable feed and none. Append
    * commits feed their data files as inserts; deleteWhere/merge
    * commits feed the CDC change files they materialized atomically
    * with the data swap.
    *
    * COMPACTION commits (untagged adds+removes) contribute NOTHING:
    * in this protocol an untagged removing commit is a row-preserving
    * rewrite by construction — the Delta `dataChange = false`
    * convention, derived from commit shape instead of a flag. A tagged
    * removing commit WITHOUT change files (rebuild()) still stops the
    * feed loudly.
    *
    * One log listing feeds the range and the column mapping; one
    * directory listing feeds the vacuum check and the two [[scan]]s
    * (data files, change files) — no per-commit job, and the version
    * tag is joined scan-side from a broadcast (file name → version)
    * table over `_metadata.file_name`. Throws when commits in the range were pruned past
    * a checkpoint: a consumer that fell behind the retention window
    * must re-bootstrap from a snapshot read (same contract as Delta —
    * silently skipping unseen versions would be data loss). */
  def changesSince(spark: SparkSession, tablePath: String, sinceVersion: Long,
      schema: StructType, asOf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val withVersion = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false))
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withVersion)
    require(sinceVersion >= 0, s"sinceVersion must be >= 0: $sinceVersion")
    val listing = listLog(spark, tablePath)
    if (!listing.exists) return empty
    val upper = if (asOf == Long.MaxValue) listing.latest else asOf
    require(sinceVersion <= upper,
      s"sinceVersion $sinceVersion past latest version $upper of $tablePath")
    val commits = listing.commits.rangeFrom(sinceVersion + 1).rangeTo(upper).toSeq
    val missing = ((sinceVersion + 1) to upper).toSet -- commits.map(_._1).toSet
    if (missing.nonEmpty)
      throw new FeedGapException(
        s"change feed for $tablePath cannot replay version(s) " +
          s"${missing.min}..${missing.max}: commits pruned past a checkpoint — " +
          "re-bootstrap from a snapshot read()")
    // Classify each commit: plain appends feed their DATA files as
    // `insert` rows; row-changing commits (delete/merge/keyed view
    // refresh) feed the CDC change files they materialized at write
    // time — never their rewrite outputs, which restate surviving rows.
    // An UNTAGGED removing commit is a compaction — row-preserving by
    // protocol, feeds nothing. A TAGGED removing commit WITHOUT change
    // files changed rows unwitnessed (the rebuild() path): refuse —
    // an insert-only feed silently skipping it would hand consumers
    // deleted rows as still-live; consumers re-bootstrap past it.
    val fed: Seq[(String, Long, Boolean)] = commits.toSeq.flatMap { case (v, p) =>
      val lines = LogLine.read(listing.fs, p).toSeq
      val removing = lines.exists(_.isInstanceOf[Remove])
      // a DV-attaching commit DELETES rows without removing files —
      // row-changing by definition, never a compaction
      val vectoring = lines.exists(_.isInstanceOf[Dv])
      val changeFiles = lines.collect { case Change(f) => f }
      val tag = lines.collectFirst { case Op(t) => t }
      if (changeFiles.nonEmpty) changeFiles.map(f => (f, v, true))
      else if (vectoring || (removing && tag.isDefined))
        throw new FeedGapException(
          s"change feed for $tablePath crosses a row-deleting/rewriting " +
            s"commit (version $v, op=${tag.getOrElse("dv-attach")}) that " +
            "carries no change files: re-bootstrap from a snapshot read() past it")
      else if (removing) Seq.empty
      else lines.collect { case Add(f, _) => (f, v, false) }
    }
    val fileToVersion: Seq[(String, Long)] = fed.map { case (f, v, _) => (f, v) }
    if (fileToVersion.isEmpty) return empty
    // The commit FILES surviving proves the range is replayable; the
    // fed DATA files are a separate lifetime — an in-range file later
    // removed by a compaction is vacuum-eligible, and a consumer
    // behind the retention window would otherwise get an opaque
    // "vacuumed" planning failure. One listing per parent serves this
    // check and both scans below, raising the same re-bootstrap
    // contract the pruned-commit path documents.
    val status = statusFor(fsOf(spark, new Path(tablePath)), tablePath,
      fileToVersion.map(_._1).distinct)
    val vacuumed = fileToVersion.collect {
      case (f, v) if !status.contains(resolveDataPath(tablePath, f)) => s"$f (version $v)" }
    if (vacuumed.nonEmpty)
      throw new FeedGapException(
        s"change feed for $tablePath references vacuumed data file(s) " +
          s"${vacuumed.take(3).mkString(", ")}… — the consumer fell behind " +
          "the retention window; re-bootstrap from a snapshot read()")
    // version tag via a BROADCAST join on the file name, not a map
    // literal: a long feed can span thousands of commits / files, and
    // a plan-embedded literal that size is a codegen/driver-plan
    // hazard — the lookup table is data, so ship it as (tiny) data.
    // Data files and CDC files are two scans (their schemas differ by
    // the change-type column) unioned into one plan — still no
    // per-commit jobs.
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // BASENAME keys: `_metadata.file_name` is bare, while a cloned
    // bootstrap commit feeds absolute references (basenames are
    // globally unique — writer-stamped uuids)
    val lookup = broadcast(fileToVersion
      .map { case (f, v) => (baseNameOf(f), v) }
      .toDF("_cf_name", "_commit_version"))
    // COLUMN MAPPING: fed files (data and CDC alike) carry physical
    // column names; scan physical, alias back to the caller's logical
    // names — one naming scheme across every file generation, since
    // physical names never change once assigned
    val mapping = listing.snapshot(upper).mapping
    def phys(n: String): String = mapping.getOrElse(n, n)
    val readSchema = StructType(schema.fields.map(f => f.copy(name = phys(f.name))))
    val outCols = (schema.fieldNames.toSeq.map(n =>
        if (mapping.isEmpty) col(n) else col(phys(n)).as(n)) :+
      col(ChangeTypeCol) :+ col("_commit_version"))
    def tagged(df: DataFrame): DataFrame =
      df.join(lookup, col("_metadata.file_name") === col("_cf_name"))
        .select(outCols: _*)
    def fedScan(cdc: Boolean, sch: StructType): Option[DataFrame] =
      Some(fed.collect { case (f, _, `cdc`) => f }).filter(_.nonEmpty)
        .map(fs => scan(spark, tablePath, fileEntries(fs), sch, Some(status)))
    val cdcSchema = StructType(readSchema.fields :+
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType, nullable = false))
    (fedScan(cdc = false, readSchema).map(_.withColumn(ChangeTypeCol, lit("insert"))) ++
      fedScan(cdc = true, cdcSchema)).map(tagged).reduce(_.unionByName(_))
  }

  /** RESTORE the table to an earlier version — the rollback verb
    * (Delta's RESTORE TABLE … TO VERSION AS OF): ONE commit whose
    * adds are the target version's live files (re-used byte-identical
    * — data files are immutable, so a restore moves ZERO data) and
    * whose removes are the current live set; deletion-vector
    * attachments, per-file stats, and the schema ledger are restored
    * to that version's state in the same commit. Time travel still
    * reaches the pre-restore versions (nothing is deleted), and the
    * restore itself appears in history as `#op=restore`. Files of the
    * target version must still exist (vacuum respects them again the
    * moment this commit lands; a vacuumed target fails loudly at the
    * validation read). A restore is a row-changing rewrite WITHOUT
    * change files, so a CDC consumer crossing it stops loudly and
    * re-bootstraps — the overwrite contract. Concurrent writers
    * serialize through the usual remove-validation.
    *
    * GOVERNANCE STATE IS NOT REWOUND: active CHECK constraints and
    * table properties stay CURRENT across a restore (deliberate — a
    * data rollback must not silently disable a retention constraint
    * or a declared index; the restored rows were validated when a
    * restore-blocking constraint was added, and a restore that
    * revives rows violating a LATER constraint is the operator's
    * explicit, introspectable situation, not a silent one). */
  def restore(spark: SparkSession, tablePath: String, toVersion: Long,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    // one listing: the current snapshot and the target one
    val listing = listLog(spark, tablePath)
    val now = listing.snapshot()
    val (cur, curEntries) = (now.version, now.live)
    require(toVersion <= cur,
      s"cannot restore $tablePath to version $toVersion — latest is $cur")
    if (toVersion == cur) return cur // proven no-op
    val past = listing.snapshot(toVersion)
    val target = past.live
    requireDistinctBasenames(target, s"restore of $tablePath to $toVersion")
    // every restored file (and attached vector) must still exist —
    // restoring to a vacuumed snapshot would publish dangling names
    val dir = new Path(tablePath)
    val fs = fsOf(spark, dir)
    val present: Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir)
        .collect { case st if st.isFile => st.getPath.getName }.toSet
    val needed = target.map(_.name) ++ target.flatMap(_.dv)
    val gone = needed.filterNot(present)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore $tablePath to version $toVersion: file(s) " +
          s"${gone.take(3).mkString(", ")}… were vacuumed — the snapshot is " +
          "behind the retention window")
    val schemaTag = (past.schema, now.schema) match {
      case (Some(old), Some(current)) if old.json != current.json => Some(old.json)
      case _ => None
    }
    val curNames = curEntries.map(_.name).toSet
    val targetNames = target.map(_.name).toSet
    val adds = target.map(_.name).filterNot(curNames)
    val removes = curEntries.map(_.name).filterNot(targetNames)
    val curDv = curEntries.map(e => e.name -> e.dv).toMap
    // restore each surviving file's attachment STATE: re-added files
    // attach their historical vector in the same commit; kept files
    // whose vector differs re-attach (or DETACH via the `-` marker
    // when the target state is vector-free)
    val addSet = adds.toSet
    val dvAttach: Map[String, String] = target.collect {
      case e if addSet(e.name) && e.dv.isDefined => e.name -> e.dv.get
      case e if !addSet(e.name) && curDv.getOrElse(e.name, None) != e.dv =>
        e.name -> e.dv.getOrElse(LogLine.Detach)
    }.toMap
    val dvExpect = dvAttach.keys.map { f =>
      f -> (if (addSet(f)) None else curDv.getOrElse(f, None))
    }.toMap
    // re-attached vectors keep their historical position counts
    val dvRowsByName = target.flatMap(e => e.dvRows.map(e.name -> _)).toMap
    val dvCounts = dvAttach.collect {
      case (f, dv) if dv != LogLine.Detach && dvRowsByName.contains(f) =>
        f -> dvRowsByName(f)
    }
    val statsByName = target.map(e => e.name -> e.stats).toMap
    if (adds.isEmpty && removes.isEmpty && dvAttach.isEmpty &&
      schemaTag.isEmpty) return cur // identical live state: no-op
    commitOrAbort(spark, tablePath, adds = adds, removes = removes,
      publisher = publisher, opTag = Some("restore"),
      abortOnLostRace = _ => false,
      addStats = adds.flatMap(n => statsByName.get(n).flatten.map(n -> _)).toMap,
      schemaJson = schemaTag, dvAttach = dvAttach, dvExpect = dvExpect,
      dvRowCounts = dvCounts)
      .getOrElse(throw new IllegalStateException("unreachable: unfenced restore"))
  }

  /** Prune commit files a checkpoint has made redundant for reads:
    * every commit at or below the newest checkpoint ≤ `keepSince` is
    * deleted (replay starts from that checkpoint, so current reads
    * never visit them). What pruning COSTS — stated, not hidden:
    * `asOf` below the pruned checkpoint and `changesSince` ranges that
    * start inside the pruned prefix both fail loudly afterwards (their
    * error messages already name pruning as the cause), and `history`
    * summarizes the pruned prefix as the checkpoint row. What pruning
    * does NOT cost: the txn=/consumed= idempotence ledgers — the
    * checkpoint carries them as header tags (see commit()), so
    * lastTxnBatch / lastConsumed never regress and a post-prune
    * streaming replay or view refresh still skips. `keepSince`
    * is the history-retention knob: commits above it always survive,
    * so "keep a week of versions" is `pruneLog(t, latest - weekOfVersions)`.
    * Log-sized driver work; data files are vacuum()'s job, not this. */
  def pruneLog(spark: SparkSession, tablePath: String,
      keepSince: Long = Long.MaxValue): Seq[Long] = {
    val listing = listLog(spark, tablePath)
    listing.checkpoints.rangeTo(keepSince).lastOption match {
      case None => Seq.empty // nothing to replay from — prune nothing
      case Some((base, _)) =>
        listing.commits.rangeTo(base).toSeq.map { case (v, p) =>
          listing.fs.delete(p, false); v
        }
    }
  }

  /** CONVERT an existing plain-parquet directory into a logged table
    * IN PLACE — Delta's `CONVERT TO DELTA`: one metadata commit
    * adopting EVERY non-hidden top-level data file as a version-1 add,
    * zero bytes rewritten. At 100 TB this is how the log is adopted at
    * all — a rewrite-to-adopt would cost a full copy of the dataset.
    * The commit stamps the schema ledger with the mergeSchema-unioned
    * shape (heterogeneous file generations adopt correctly and
    * null-fill on read, the same contract as evolving appends) and
    * records per-file stats + row counts + sizes, so stats pruning,
    * DESCRIBE DETAIL, auto-compaction, and the metadata COUNT(*) all
    * work from the first post-convert query.
    *
    * ADOPTION IS ALL-OR-NOTHING over the directory's visible files:
    * extension-less parquet (non-Spark writers) adopts like any other
    * file, and a file whose footer cannot be read — junk, corruption —
    * REFUSES the whole convert loudly. Skipping it instead would
    * silently undercount the table AND expose the skipped (live!) data
    * to vacuum, which deletes unreferenced files — the one unforgivable
    * failure mode of an adoption verb. Metadata cost: one distributed
    * footer pass for the union schema plus one driver-side 16-way
    * footer pass for stats/validation ([[statsFor]]); no data pages.
    *
    * FLAT layouts only: a hive-partitioned tree (`key=value/`
    * subdirectories) encodes column values in PATHS, which a flat
    * adoption would silently drop — refused loudly. Creation-racing
    * writers serialize on the version-1 fence (loser fails, the Delta
    * convert contract). */
  def convertParquet(spark: SparkSession, tablePath: String,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    val dir = new Path(tablePath)
    val fs = fsOf(spark, dir)
    require(fs.exists(dir), s"cannot convert $tablePath — no such directory")
    require(latestVersion(spark, tablePath) == 0,
      s"$tablePath is already a logged table")
    val entries = fs.listStatus(dir).toSeq
    val partDirs = entries.filter(st => st.isDirectory &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
    require(partDirs.isEmpty,
      s"cannot convert $tablePath: subdirectories " +
        s"(${partDirs.take(3).map(_.getPath.getName).mkString(", ")}" +
        s"${if (partDirs.size > 3) ", …" else ""}) look " +
        "like a partitioned layout, whose path-encoded column values a flat " +
        "adoption would silently drop — read and re-write through a logged append")
    val names = entries.collect {
      case st if st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith(".") => st.getPath.getName
    }
    require(names.nonEmpty, s"cannot convert $tablePath: no data files")
    // one 16-way footer pass serves BOTH validation (every adopted
    // file must BE parquet — footerStatsJson returns None only for an
    // unreadable footer, since readable files always carry at least
    // rows.count/bytes.size) and the commit's stats
    val stats = statsFor(spark, tablePath, names)
    val unreadable = names.filterNot(stats.contains)
    require(unreadable.isEmpty,
      s"cannot convert $tablePath: non-parquet or unreadable file(s) " +
        s"(${unreadable.take(3).mkString(", ")}" +
        s"${if (unreadable.size > 3) ", …" else ""}) — adopting around them " +
        "would silently undercount the table and expose them to vacuum; " +
        "move them aside and rerun")
    // union schema across generations — one ledger stamp describing
    // every adopted file (narrow generations null-fill at read)
    val schema = spark.read.option("mergeSchema", "true").parquet(tablePath).schema
    commitOrAbort(spark, tablePath, adds = names, removes = Seq.empty,
      publisher = publisher, opTag = Some("convert"),
      abortOnLostRace = _.version != 0,
      addStats = stats,
      schemaJson = Some(schema.json),
      schemaExpect = Some(None))
      .getOrElse(throw new IllegalStateException(
        s"$tablePath was converted (or created) concurrently"))
  }

  /** SHALLOW CLONE — a zero-copy logged table whose first commit
    * REFERENCES the source's live data files by absolute path instead
    * of copying a byte (Delta's `CREATE TABLE … SHALLOW CLONE` /
    * absolute-path add actions): at 100 TB a full dev/test/what-if
    * snapshot of a production table costs one metadata commit. The
    * clone captures the source's complete logical state at one pinned
    * version — schema ledger (column mapping included), CHECK
    * constraints, table properties (bloom declarations, MOR default,
    * burned names), per-file stats, and deletion-vector attachments —
    * then evolves INDEPENDENTLY: its appends/deletes/merges land under
    * its own root, its OPTIMIZE localizes foreign references as a side
    * effect of rewriting them, and its VACUUM only ever reclaims files
    * under its own root (foreign files are never listed there).
    *
    * Contracts (the Delta ones): the source must not be VACUUMed past
    * the clone's reference set — a clone is a retention-window
    * consumer like any time traveler, and a vacuumed-from-under-it
    * clone fails loudly at read ("clone source was vacuumed").
    * Mutating the CLONE never touches the SOURCE (removes of foreign
    * references drop the reference, never the file — vacuum scopes to
    * the clone root). `graft.cloneSource` records provenance.
    *
    * Returns the clone's first version (1). */
  def shallowClone(spark: SparkSession, sourcePath: String, clonePath: String,
      asOf: Long = Long.MaxValue,
      publisher: AtomicPublisher = RenameOrLinkPublisher): Long = {
    val src = sourcePath.stripSuffix("/")
    require(src.startsWith("/") || src.contains("://"),
      s"shallow clone needs an absolute source path (its references must " +
        s"resolve from the clone): $sourcePath")
    require(new Path(src) != new Path(clonePath.stripSuffix("/")),
      s"cannot clone $src onto itself")
    require(latestVersion(spark, clonePath) == 0,
      s"clone destination $clonePath already has commits")
    // pin ONE source version, then read every ledger AT that version —
    // a concurrent source commit cannot mix states into the clone
    val snap = snapshot(spark, src, asOf)
    val (srcV, entries) = (snap.version, snap.live)
    require(srcV > 0, s"cannot clone $src — no commits at version $asOf")
    requireDistinctBasenames(entries, s"shallow clone of $src@$srcV")
    val schemaJson = snap.schema.map(_.json)
    val constraints = snap.constraints
    val props = snap.properties + ("graft.cloneSource" -> s"$src@$srcV")
    val adds = entries.map(e => resolveDataPath(src, e.name))
    val addStats = entries.flatMap(e =>
      e.stats.map(resolveDataPath(src, e.name) -> _)).toMap
    val dvAttach = entries.flatMap(e => e.dv.map(d =>
      resolveDataPath(src, e.name) -> resolveDataPath(src, d))).toMap
    val dvCounts = entries.flatMap(e => for {
      _ <- e.dv; n <- e.dvRows
    } yield resolveDataPath(src, e.name) -> n).toMap
    commitOrAbort(spark, clonePath,
      adds = adds, removes = Seq.empty,
      publisher = publisher, opTag = Some("clone"),
      // a concurrent writer racing table creation at the same path
      // must not make this land as "version 2 of someone else's table"
      abortOnLostRace = _.version != 0,
      addStats = addStats,
      schemaJson = schemaJson,
      dvAttach = dvAttach,
      dvExpect = dvAttach.map { case (k, _) => k -> None },
      dvRowCounts = dvCounts,
      constraintTags = LogLine.setTags(constraints),
      propertyTags = LogLine.setTags(props))
      .getOrElse(throw new IllegalStateException(
        s"clone destination $clonePath was created concurrently — " +
          "pick an empty path"))
  }

  /** Reclaim data files no commit references — compaction leftovers
    * and crashed writers' orphans. `minAgeMs` protects in-flight
    * writers that landed files but have not committed yet (production
    * uses HOURS — comfortably past any staging-to-commit gap a live
    * writer can have, GC pauses included; tests pass 0). A file is
    * reclaimed only when BOTH its filesystem mod time AND the
    * staging-start stamp embedded in its writer-id name prefix (when
    * present) predate the window, so a skewed storage clock alone
    * cannot eat an in-flight writer's files. Staging dirs older than
    * the threshold are swept too. Never touches the log itself.
    * CDC change files are protected for exactly as long as their
    * commit file survives — the feed stays consumable over the same
    * window reads are replayable; pruneLog releases them. */
  def vacuum(spark: SparkSession, tablePath: String, minAgeMs: Long,
      dryRun: Boolean = false): Seq[String] = {
    require(minAgeMs >= 0, s"minAgeMs must be >= 0: $minAgeMs")
    val dir = new Path(tablePath)
    val fs = fsOf(spark, dir)
    if (!fs.exists(dir)) return Seq.empty
    val listing = listLog(spark, tablePath)
    val changeRefs: Set[String] = listing.commits.values.flatMap(p =>
      LogLine.read(fs, p).collect { case Change(f) => f }).toSet
    // keep-set: live data files, their ATTACHED deletion vectors, and
    // commit-referenced CDC files — a superseded vector (its file
    // re-vectored or compacted) drops out of the attachments and ages
    // out like any other unreferenced file
    val entries = listing.snapshot().live
    val live = entries.map(_.name).toSet ++ entries.flatMap(_.dv) ++ changeRefs
    val cutoff = System.currentTimeMillis() - minAgeMs
    fs.listStatus(dir).flatMap { st =>
      val n = st.getPath.getName
      val stale = st.getModificationTime <= cutoff &&
        writerStampMs(n.stripPrefix("_staging_")).forall(_ <= cutoff)
      if (st.isFile && !n.startsWith("_") && !n.startsWith(".") && !live(n) && stale) {
        if (!dryRun) fs.delete(st.getPath, false)
        Some(n)
      } else if (st.isDirectory && n.startsWith("_staging_") && stale) {
        if (!dryRun) fs.delete(st.getPath, true)
        Some(n)
      } else None
    }.toSeq
  }
}
