package graft.store

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** LEDGER EQUIVALENCE of the log replay: a fixed-seed op sequence on one
  * table, then every per-version read checked against the spec's own
  * model at every retained version. The ledgers (txn, consumed, schema
  * with column mapping, constraints, properties) are modelled from the
  * operations themselves; the live set is modelled by a naive replay of
  * EVERY commit file from version 1, mirrored aside before pruneLog
  * deletes them, so the checkpoint-then-fold replay must equal the full
  * history fold — entry order, stats, deletion vectors and their row
  * counts included. The sequence crosses three checkpoints and prunes
  * the log midway; reads at a pruned version and past the latest one are
  * pinned too (live-set reads refuse, ledger reads fold what survives). */
class SnapshotLedgerSpec extends SparkSpec {
  import SnapshotLedgerSpec._

  test("every retained version's ledgers and live set equal the model") {
    val root = Files.createTempDirectory("graft_snapledger")
    val t = root.resolve("t").toString
    val log = root.resolve("t").resolve("_graft_log")
    val mirror = Files.createDirectories(root.resolve("mirror"))
    val rnd = new scala.util.Random(Seed)

    var cur = Empty
    val model = scala.collection.mutable.Map(0L -> Empty)
    var version = 0L
    // original column → current logical name (absent once dropped)
    var names = Map("id" -> "id", "a" -> "a", "b" -> "b")
    var nextId = 0L
    var nextConsumed = 0L
    var nextProp = 0

    def rows(n: Int): DataFrame = {
      val lo = nextId
      nextId += n
      val all = Seq(
        "id" -> col("id"),
        "a" -> col("id") * 3,
        "b" -> concat(lit("v"), col("id")),
        "c" -> col("id") % 7)
      spark.range(lo, lo + n, 1, 1)
        .select(all.collect { case (o, e) if names.contains(o) => e.as(names(o)) }: _*)
    }

    /** Run one operation; it must publish exactly `versions` commits. */
    def step(what: String, versions: Int = 1)(op: => Any)(
        ledgers: Ledgers => Ledgers): Unit = withClue(s"seed=$Seed op=$what: ") {
      op
      val v = CommitLog.latestVersion(spark, t)
      assert(v == version + versions, s"$what published ${v - version} commits")
      (version + 1 to v).foreach { i =>
        val name = f"$i%020d.commit"
        Files.copy(log.resolve(name), mirror.resolve(name),
          StandardCopyOption.REPLACE_EXISTING)
      }
      cur = ledgers(cur)
      (version + 1 to v).foreach(model(_) = cur)
      version = v
    }

    def appendOnce(q: String): Unit = {
      val b = cur.txn.getOrElse(q, -1L) + 1 + rnd.nextInt(2)
      step(s"appendOnce $q:$b") {
        assert(CommitLog.appendOnce(rows(4), t, q, b).isDefined)
      }(l => l.copy(txn = l.txn.updated(q, b)))
    }
    def replay(): Unit = cur.txn.toSeq.sorted.headOption.foreach { case (q, b) =>
      step(s"replayed appendOnce $q:$b", versions = 0) {
        assert(CommitLog.appendOnce(rows(4), t, q, b).isEmpty)
      }(identity)
    }
    def consumedAppend(): Unit = {
      nextConsumed += 1 + rnd.nextInt(3)
      val c = nextConsumed
      step(s"consumed=$c") {
        CommitLog.append(rows(3), t, opTag = Some(s"consumed=$c"))
      }(l => l.copy(consumed = c))
    }
    def setProperty(): Unit = {
      nextProp += 1
      val (k, v) = (s"k${rnd.nextInt(3)}", s"v$nextProp")
      step(s"set $k") {
        CommitLog.setProperties(spark, t, Map(k -> v))
      }(l => l.copy(properties = l.properties + (k -> v)))
    }
    def addConstraint(name: String, check: String): Unit =
      step(s"add constraint $name") {
        CommitLog.addConstraint(spark, t, name, check)
      }(l => l.copy(constraints = l.constraints + (name -> check)))
    def dropConstraint(name: String): Unit =
      step(s"drop constraint $name") {
        CommitLog.dropConstraint(spark, t, name)
      }(l => l.copy(constraints = l.constraints - name))
    // metadata-only commits dominate, so the sequence stays cheap
    def filler(): Unit = rnd.nextInt(10) match {
      case 0 | 1 | 2 | 3 => setProperty()
      case 4 | 5 => appendOnce(if (rnd.nextBoolean()) "q1" else "q2")
      case 6 => consumedAppend()
      case 7 => replay()
      case _ =>
        if (cur.constraints.contains("small")) dropConstraint("small")
        else addConstraint("small", "id < 1000000")
    }
    def morDelete(): Unit = {
      val (lo, hi) = (nextId - 3, nextId - 2)
      step(s"mor delete $lo..$hi") {
        CommitLog.deleteWhere(spark, t, CommitLog.tableSchema(spark, t),
          col("id").between(lo, hi), deletionVectors = true)
      }(identity)
    }
    def optimize(): Unit =
      step("optimize")(CommitLog.optimize(spark, t, targetBytes = 1L << 30))(identity)

    // the spec's live-set model: every commit file from version 1, no
    // checkpoint, folded into an insertion-ordered map
    def liveModel(v: Long): Seq[(String, Option[String], Option[String], Option[Long])] = {
      val live = scala.collection.mutable.LinkedHashMap
        .empty[String, (Option[String], Option[String], Option[Long])]
      (1L to v).foreach { i =>
        Files.readAllLines(mirror.resolve(f"$i%020d.commit")).asScala.foreach { l =>
          val body = l.drop(1)
          l.headOption match {
            case Some('+') =>
              val bar = body.indexOf('|')
              if (bar < 0) live(body) = (None, None, None)
              else live(body.take(bar)) = (Some(body.drop(bar + 1)), None, None)
            case Some('-') => live -= body
            case Some('*') =>
              val parts = body.split('|')
              val stats = live(parts(0))._1
              live(parts(0)) =
                if (parts(1) == "-") (stats, None, None)
                else (stats, Some(parts(1)), parts.lift(2).map(_.toLong))
            case _ => ()
          }
        }
      }
      live.toSeq.map { case (n, (s, d, r)) => (n, s, d, r) }
    }

    def schemaOf(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.simpleString,
        CommitLog.physicalName(f))).toSeq

    def checkLedgers(asOf: Long, want: Ledgers): Unit = {
      Queries.foreach(q => assert(CommitLog.lastTxnBatch(spark, t, q, asOf) ==
        want.txn.getOrElse(q, -1L), s"lastTxnBatch($q)"))
      assert(CommitLog.lastConsumed(spark, t, asOf) == want.consumed, "lastConsumed")
      assert(CommitLog.schemaAt(spark, t, asOf).map(schemaOf) == want.schema, "schemaAt")
      assert(CommitLog.constraintsAt(spark, t, asOf) == want.constraints, "constraintsAt")
      assert(CommitLog.propertiesAt(spark, t, asOf) == want.properties, "propertiesAt")
    }

    def checkVersion(v: Long): Unit = withClue(s"seed=$Seed version=$v: ") {
      checkLedgers(v, model(v))
      val (reached, entries) = CommitLog.liveFilesFull(spark, t, v)
      assert(reached == v, "liveFilesFull version")
      assert(entries.map(e => (e.name, e.stats, e.dv, e.dvRows)) == liveModel(v),
        "liveFilesFull entries")
    }

    def unavailable(v: Long): Unit = withClue(s"seed=$Seed version=$v: ") {
      val e = intercept[IllegalStateException](CommitLog.liveFilesFull(spark, t, v))
      assert(e.getMessage.contains(s"version $v of $t unavailable"))
    }

    def versionsOf(suffix: String): Set[Long] =
      Files.list(log).iterator().asScala.map(_.getFileName.toString)
        .collect { case n if n.endsWith(suffix) => n.takeWhile(_ != '.').toLong }.toSet

    // ── the op sequence ────────────────────────────────────────────────
    step("bootstrap") {
      CommitLog.append(rows(6), t, mergeSchema = true)
    }(l => l.copy(schema = Some(Seq(("id", "bigint", "id"),
      ("a", "bigint", "a"), ("b", "string", "b")))))
    appendOnce("q1")
    appendOnce("q2")
    addConstraint("id_nonneg", "id >= 0")
    consumedAppend()
    step("set owner/tier") {
      CommitLog.setProperties(spark, t, Map("owner" -> "ops", "tier" -> "gold"))
    }(l => l.copy(properties = l.properties ++ Map("owner" -> "ops", "tier" -> "gold")))
    filler()
    step("mergeSchema append") {
      names += "c" -> "c"
      CommitLog.append(rows(5), t, mergeSchema = true)
    }(l => l.copy(schema = l.schema.map(_ :+ (("c", "bigint", "c")))))
    step("rename a to a2") {
      CommitLog.renameColumn(spark, t, "a", "a2")
      names += "a" -> "a2"
    }(l => l.copy(schema = l.schema.map(_.map {
      case ("a", ty, phys) => ("a2", ty, phys)
      case other => other
    })))
    appendOnce("q1")
    morDelete()
    filler()
    optimize()
    step("drop b") {
      CommitLog.dropColumn(spark, t, "b")
      names -= "b"
    }(l => l.copy(schema = l.schema.map(_.filterNot(_._1 == "b")),
      properties = l.properties + (CommitLog.BurnedProp -> "b")))
    step("unset owner") {
      CommitLog.unsetProperties(spark, t, Seq("owner"))
    }(l => l.copy(properties = l.properties - "owner"))
    dropConstraint("id_nonneg")
    while (version < 23) filler()

    // every version is retained before the prune
    (1L to version).foreach(checkVersion)

    val pruned = CommitLog.pruneLog(spark, t)
    assert(pruned == (1L to 20L), s"seed=$Seed: pruneLog removed $pruned")

    appendOnce("q2")
    morDelete()
    addConstraint("id_nonneg", "id >= 0")
    filler()
    optimize()
    while (version < 34) filler()
    assert(versionsOf(".checkpoint") == Set(10L, 20L, 30L),
      s"seed=$Seed: checkpoints ${versionsOf(".checkpoint")}")

    // ── checks at every version ────────────────────────────────────────
    val commits = versionsOf(".commit")
    val checkpoints = versionsOf(".checkpoint")
    (1L to version).foreach { v =>
      if (commits(v) || checkpoints(v)) checkVersion(v)
      else {
        // pruned: live-set reads refuse, ledger reads fold the newest
        // surviving checkpoint at or below v
        unavailable(v)
        val base = checkpoints.filter(_ <= v).maxOption.getOrElse(0L)
        withClue(s"seed=$Seed pruned version=$v: ")(checkLedgers(v, model(base)))
      }
    }
    // the default read is the latest version
    withClue(s"seed=$Seed latest: ") {
      checkLedgers(Long.MaxValue, cur)
      assert(CommitLog.liveFilesFull(spark, t)._1 == version)
    }
    // past the latest version: live-set reads refuse, ledgers fold all
    unavailable(version + 5)
    withClue(s"seed=$Seed version=${version + 5}: ")(checkLedgers(version + 5, cur))

    // ── the line codec re-renders every commit and checkpoint ─────────
    val local = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val files = (1L to version).map(v => mirror.resolve(f"$v%020d.commit")) ++
      checkpoints.toSeq.sorted.map(v => log.resolve(f"$v%020d.checkpoint"))
    files.foreach { f =>
      val bytes = new String(Files.readAllBytes(f), "UTF-8")
      assert(LogLine.render(LogLine.read(local, new org.apache.hadoop.fs.Path(f.toUri))) == bytes,
        s"seed=$Seed: ${f.getFileName} does not re-render byte-identically")
    }
  }
}

object SnapshotLedgerSpec {
  private val Seed = 20261017L

  /** What every ledger read should answer at one version. */
  private final case class Ledgers(txn: Map[String, Long], consumed: Long,
      schema: Option[Seq[(String, String, String)]],
      constraints: Map[String, String], properties: Map[String, String])

  private val Empty = Ledgers(Map.empty, 0L, None, Map.empty, Map.empty)
  private val Queries = Seq("q1", "q2", "never")
}
