package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Log-carried CHECK constraints — the ENFORCING sibling of the
  * Expectations quarantine: every write that introduces new row
  * values must evaluate the table's active checks inside its write
  * plan and fail loudly on the first violating row, with SQL CHECK
  * NULL semantics, retroactive validation at add time, a
  * prune-surviving ledger, and time-travel introspection. */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): String =
    Files.createTempDirectory("graft_constraint").toString + "/t"

  private val schema =
    Seq((0L, "x")).toDF("id", "v").schema

  private def rows(r: Range, v: String = "ok") =
    r.map(i => (i.toLong, v)).toDF("id", "v")

  private def violates(f: => Any): Unit = {
    val e = intercept[Exception](f)
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("CHECK constraint")),
      s"expected a CHECK violation, got: $e")
  }

  test("append/overwrite enforce; NULL passes; drop lifts enforcement") {
    val t = freshTable()
    CommitLog.append(rows(0 until 10), t)
    CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    CommitLog.addConstraint(spark, t, "v_nonempty", "length(v) > 0")
    // valid rows pass; a NULL check result passes (SQL CHECK semantics)
    CommitLog.append(Seq((20L, "fine"), (21L, null)).toDF("id", "v"), t)
    assert(CommitLog.read(spark, t, schema).count() == 12)
    // violating append fails LOUDLY and commits nothing
    val before = CommitLog.liveFiles(spark, t)._1
    violates(CommitLog.append(Seq((-5L, "bad")).toDF("id", "v"), t))
    assert(CommitLog.liveFiles(spark, t)._1 == before, "violating append committed")
    violates(CommitLog.overwrite(Seq((1L, "")).toDF("id", "v"), t))
    // drop → the same write passes
    CommitLog.dropConstraint(spark, t, "id_nonneg")
    CommitLog.append(Seq((-5L, "now fine")).toDF("id", "v"), t)
    assert(CommitLog.read(spark, t, schema).filter(col("id") < 0).count() == 1)
  }

  test("add is refused when existing rows violate; parse errors surface at add") {
    val t = freshTable()
    CommitLog.append(rows(0 until 5) unionByName Seq((-1L, "old")).toDF("id", "v"), t)
    val e = intercept[IllegalArgumentException] {
      CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    }
    assert(e.getMessage.contains("existing row"))
    intercept[Exception] {
      CommitLog.addConstraint(spark, t, "broken", "this is ( not sql")
    }
    intercept[IllegalArgumentException] {
      CommitLog.addConstraint(spark, t, "bad name!", "id >= 0")
    }
    assert(CommitLog.constraintsAt(spark, t).isEmpty)
  }

  test("merge, clause merge, update, and upsert post-images enforce") {
    val t = freshTable()
    CommitLog.append(rows(0 until 10), t)
    CommitLog.addConstraint(spark, t, "id_small", "id < 1000")
    // merge inserting a violating row
    violates(CommitLog.merge(spark, t, schema,
      Seq((5000L, "nope")).toDF("id", "v"), Seq("id")))
    // clause merge updating into violation is fine on v (id can't be
    // updated); insert clause violating fails
    violates(MergeClauses.into(spark, t, schema,
      Seq((7000L, "nope")).toDF("id", "v"), Seq("id"))
      .whenNotMatchedInsert().execute())
    // UPDATE post-image violating
    violates(CommitLog.updateWhere(spark, t, schema, col("id") === 3,
      Map("id" -> lit(99999L))))
    // MOR update post-image violating
    violates(CommitLog.updateWhere(spark, t, schema, col("id") === 3,
      Map("id" -> lit(99999L)), deletionVectors = true))
    // exactly-once upsert violating
    violates(CommitLog.upsertOnce(Seq((4242424L, "nope")).toDF("id", "v"),
      t, Seq("id"), "q1", 0L))
    // nothing landed
    assert(CommitLog.read(spark, t, schema).filter(col("id") >= 1000).count() == 0)
    // valid versions of all of the above pass
    CommitLog.merge(spark, t, schema, Seq((500L, "yes")).toDF("id", "v"), Seq("id"))
    CommitLog.upsertOnce(Seq((501L, "yes")).toDF("id", "v"), t, Seq("id"), "q1", 1L)
    assert(CommitLog.read(spark, t, schema).filter(col("id") >= 500).count() == 2)
  }

  test("ledger survives checkpoints and pruning; constraintsAt time travel") {
    val t = freshTable()
    CommitLog.append(rows(0 until 5), t)
    CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    val vAdd = CommitLog.liveFiles(spark, t)._1
    // cross a checkpoint boundary, then prune the constraint's commit
    (0 until 12).foreach(i => CommitLog.append(Seq((100L + i, "x")).toDF("id", "v"), t))
    CommitLog.pruneLog(spark, t)
    assert(CommitLog.constraintsAt(spark, t) == Map("id_nonneg" -> "id >= 0"),
      "constraint lost to log pruning — the checkpoint must carry it")
    violates(CommitLog.append(Seq((-1L, "bad")).toDF("id", "v"), t))
    // historical view: before the add, no constraint was active
    assert(CommitLog.constraintsAt(spark, t, asOf = vAdd - 1).isEmpty)
    intercept[IllegalArgumentException] {
      CommitLog.dropConstraint(spark, t, "nonexistent")
    }
  }

  test("a write validated before a concurrent ADD CONSTRAINT fails at commit") {
    val t = freshTable()
    CommitLog.append(rows(0 until 5), t)
    // an in-flight writer reads the (empty) active set, enforces with
    // it, and lands its staged files — but has not committed yet
    val readCs = CommitLog.constraintsAt(spark, t)
    assert(readCs.isEmpty)
    val names = CommitLog.stage(Seq((-9L, "unvalidated")).toDF("id", "v"), t, Map.empty)
    // DDL lands while the write is in flight
    CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0")
    // the writer's commit re-checks the active set after deriving its
    // version and refuses — without this the row would land
    // unvalidated under a green ledger
    val e = intercept[java.util.ConcurrentModificationException] {
      CommitLog.commitOrAbort(spark, t, adds = names, removes = Seq.empty,
        publisher = RenameOrLinkPublisher, opTag = None,
        abortOnLostRace = _ => false, constraintsExpect = Some(readCs))
    }
    assert(e.getMessage.contains("constraint"))
    assert(CommitLog.read(spark, t, schema).filter(col("id") < 0).count() == 0,
      "unvalidated row landed past an active constraint")
    // a DROPPED constraint never invalidates already-validated rows:
    // the same expectation including a since-dropped entry still lands
    CommitLog.dropConstraint(spark, t, "id_nonneg")
    val names2 = CommitLog.stage(Seq((7L, "fine")).toDF("id", "v"), t, Map.empty)
    assert(CommitLog.commitOrAbort(spark, t, adds = names2, removes = Seq.empty,
      publisher = RenameOrLinkPublisher, opTag = None,
      abortOnLostRace = _ => false,
      constraintsExpect = Some(Map("id_nonneg" -> "id >= 0"))).isDefined)
  }

  test("ADD CONSTRAINT revalidates when a write lands between scan and publish") {
    val t = freshTable()
    CommitLog.append(rows(0 until 5), t)
    // a publisher that sneaks a VIOLATING append in just before the
    // constraint commit publishes — the racing-writer interleaving the
    // up-front validation scan cannot see
    var sneaked = false
    val racy = new AtomicPublisher {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          logDir: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
          content: String): Boolean = {
        if (!sneaked) {
          sneaked = true
          // legal at this instant: the constraint is not committed yet
          CommitLog.append(Seq((-3L, "sneaky")).toDF("id", "v"), t)
        }
        RenameOrLinkPublisher.publish(fs, logDir, dst, content)
      }
    }
    // the sneaked append wins the version the constraint commit was
    // aiming at; the add-side fence aborts, revalidates, and finds the
    // violating row — refusing the constraint instead of publishing a
    // ledger the table already violates
    val e = intercept[IllegalArgumentException] {
      CommitLog.addConstraint(spark, t, "id_nonneg", "id >= 0", racy)
    }
    assert(e.getMessage.contains("existing row"))
    assert(CommitLog.constraintsAt(spark, t).isEmpty,
      "constraint published over an unvalidated concurrent row")
  }

  test("SQL surface: ALTER TABLE ADD/DROP CONSTRAINT; INSERT enforces") {
    val t = freshTable()
    CommitLog.append(rows(0 until 5), t)
    GraftSql.execute(spark,
      s"ALTER TABLE graftlog.`$t` ADD CONSTRAINT id_cap CHECK (id < 100)")
    assert(CommitLog.constraintsAt(spark, t) == Map("id_cap" -> "id < 100"))
    violates(GraftSql.execute(spark,
      s"INSERT INTO graftlog.`$t` VALUES (500, 'nope')"))
    GraftSql.execute(spark, s"INSERT INTO graftlog.`$t` VALUES (50, 'yes')")
    GraftSql.execute(spark,
      s"ALTER TABLE graftlog.`$t` DROP CONSTRAINT id_cap")
    GraftSql.execute(spark, s"INSERT INTO graftlog.`$t` VALUES (500, 'now ok')")
    assert(CommitLog.read(spark, t, schema).count() == 7)
  }
}
