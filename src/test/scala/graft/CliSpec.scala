package graft

import graft.ingest.FixtureTree
import graft.store.Store

import java.nio.file.Files

/** S7 — the CLI drives the whole pipeline end-to-end with the same
  * subcommand grammar a reference user would expect. */
class CliSpec extends SparkSpec {

  test("ingest → plan → execute → execute-stream resume, all via the CLI") {
    FixtureTree.ensure()
    val root = s"/tmp/graft_test_state/cli_${System.nanoTime()}"
    val store = Store(root)
    val obj = Files.createTempDirectory("graft_cli_obj").toString

    assert(Cli.run(spark, Array("ingest", FixtureTree.root, "ext/mov", "4", root))
      == """{"cmd":"ingest","resources":4}""")
    assert(Cli.run(spark, Array("plan", root))
      == """{"cmd":"plan","tasks":8}""")
    assert(Cli.run(spark, Array("execute", root, obj))
      == """{"cmd":"execute","done":8,"failed":0}""")
    // queue drained; a fresh streaming worker over the same store sees
    // nothing new (idempotent resume path)
    val out = Cli.run(spark, Array("execute-stream", root, obj))
    assert(out == """{"cmd":"execute-stream","continuous":false,"task_done":8}""")
    assert(spark.read.parquet(store.taskDone).count() == 8)
    // stats is METADATA-ONLY: counts come from parquet footers, so the
    // call must launch zero Spark jobs — on a 100 TB store a count()
    // scan would turn a polled operational counter into a cluster job
    // (the reference's counters are O(1) SCARD / queue-attribute reads)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Cli.run(spark, Array("stats", root))
        == """{"cmd":"stats","resource_index":4,"task_queue":0,"task_done":8,"dlq":0}""")
      // sentinel drain: the bus is FIFO, so once this single-job
      // action's start event arrives, any job stats ran is counted
      spark.sparkContext.parallelize(Seq(1)).count()
      val deadline = System.currentTimeMillis() + 30000
      while (jobs.get() < 1 && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.get() == 1, s"stats ran ${jobs.get() - 1} Spark job(s) — no longer metadata-only")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming pipeline: ingest → plan-stream → execute-stream, both drained via CLI") {
    FixtureTree.ensure()
    val root = s"/tmp/graft_test_state/cli_stream_${System.nanoTime()}"
    val store = Store(root)
    val obj = Files.createTempDirectory("graft_cli_sobj").toString

    assert(Cli.run(spark, Array("ingest", FixtureTree.root, "ext/mov", "4", root))
      == """{"cmd":"ingest","resources":4}""")
    // the streaming tasker fans the indexed resources out into tasks
    assert(Cli.run(spark, Array("plan-stream", root))
      == """{"cmd":"plan-stream","continuous":false,"task_queue":8}""")
    // the streaming worker drains them
    assert(Cli.run(spark, Array("execute-stream", root, obj))
      == """{"cmd":"execute-stream","continuous":false,"task_done":8}""")
    // a second ingest round with a broader filter flows through the SAME
    // checkpoints incrementally: only the new resource becomes new tasks
    assert(Cli.run(spark, Array("ingest", FixtureTree.root, "ext/mov/mp4", "4", root))
      == """{"cmd":"ingest","resources":5}""")
    assert(Cli.run(spark, Array("plan-stream", root))
      == """{"cmd":"plan-stream","continuous":false,"task_queue":10}""")
    assert(Cli.run(spark, Array("execute-stream", root, obj))
      == """{"cmd":"execute-stream","continuous":false,"task_done":10}""")
  }

  test("logged-table operations are operable from the CLI") {
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft_cli_logged").toString + "/t"
    graft.store.CommitLog.append(spark.range(0, 100).toDF("id"), t)
    graft.store.CommitLog.append(spark.range(100, 200).toDF("id"), t)
    // history: one row per commit, shape included in the JSON line
    val hist = Cli.run(spark, Array("log-history", t))
    assert(hist.contains(""""version":1,"operation":"append","n_added":"""), hist)
    // delete through the CLI; survivors verified through the log
    val del = Cli.run(spark, Array("log-delete", t, "id >= 150"))
    assert(del.contains(""""version":3"""), del)
    assert(graft.store.CommitLog.read(spark, t,
      spark.range(0).toDF("id").schema).count() == 150)
    // vacuum with 0-hour retention reclaims the delete's unreferenced files
    val vac = Cli.run(spark, Array("log-vacuum", t, "0"))
    assert(vac.contains(""""swept":"""), vac)
    // prune: no checkpoint yet (3 commits < interval) → prunes nothing
    assert(Cli.run(spark, Array("log-prune", t))
      == s"""{"cmd":"log-prune","table":"$t","pruned":0}""")
    // merge from a parquet increment: 20 updates land as version 4
    // (10 matched keys rewritten + 10 new inserted through ONE commit)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_cli_src").toString + "/inc"
    spark.range(140, 160).toDF("id").write.parquet(srcDir)
    val mrg = Cli.run(spark, Array("log-merge", t, srcDir, "id"))
    assert(mrg == s"""{"cmd":"log-merge","table":"$t","version":4}""", mrg)
    assert(graft.store.CommitLog.read(spark, t,
      spark.range(0).toDF("id").schema).count() == 160)
    // predicate-scoped backfill from a parquet slice: re-land ids
    // 150-159 atomically (delete-matching + insert in one commit)
    val rwDir = java.nio.file.Files.createTempDirectory("graft_cli_rw").toString + "/slice"
    spark.range(150, 160).toDF("id").write.parquet(rwDir)
    val rw = Cli.run(spark, Array("log-replace-where", t, "id >= 150", rwDir))
    assert(rw == s"""{"cmd":"log-replace-where","table":"$t","version":5}""", rw)
    assert(graft.store.CommitLog.read(spark, t,
      spark.range(0).toDF("id").schema).count() == 160)
    // change feed summary since the delete: the merge's retractions and
    // post-images, per (version × change type), never a data dump
    val chg = Cli.run(spark, Array("log-changes", t, "3"))
    assert(chg.contains(""""version":4,"change_type":"delete","n_rows":10"""), chg)
    assert(chg.contains(""""version":4,"change_type":"insert","n_rows":20"""), chg)
    // exactly-once incremental replication: the source's early feed
    // range was vacuumed above, so a FRESH mirror bootstraps from a
    // snapshot (one atomic commit re-basing the checkpoint), and a
    // rerun is a proven no-op (the checkpoint rides the sink)
    val mirror = java.nio.file.Files.createTempDirectory("graft_cli_mirror").toString + "/m"
    val d1 = Cli.run(spark, Array("log-drain", t, mirror, "id", "1"))
    assert(d1.contains(""""consumed_through":5,"batches":1"""), d1)
    assert(graft.store.CommitLog.read(spark, mirror,
      spark.range(0).toDF("id").schema).count() == 160)
    val d2 = Cli.run(spark, Array("log-drain", t, mirror, "id"))
    assert(d2.contains(""""batches":0"""), d2)
    // new source commits after the bootstrap drain incrementally
    graft.store.CommitLog.append(spark.range(500, 520).toDF("id"), t)
    val d3 = Cli.run(spark, Array("log-drain", t, mirror, "id"))
    assert(d3.contains(""""consumed_through":6,"batches":1"""), d3)
    assert(graft.store.CommitLog.read(spark, mirror,
      spark.range(0).toDF("id").schema).count() == 180)
    // log-optimize accepts [targetMB], [where], or BOTH — a first arg
    // that is not a number is the predicate (default 128 MB target)
    val opt1 = Cli.run(spark, Array("log-optimize", t, "id < 1000"))
    assert(opt1.contains(""""version":"""), opt1)
    val opt2 = Cli.run(spark, Array("log-optimize", t, "64", "id < 1000"))
    assert(opt2.contains(""""version":"""), opt2)
    intercept[IllegalArgumentException] {
      Cli.run(spark, Array("log-optimize", t, "id < 1000", "trailing"))
    }
    // column-mapping verbs: rename reads by the new name; drop burns
    val rn = Cli.run(spark, Array("log-rename-column", t, "id", "doc_id"))
    assert(rn.contains(""""version":"""), rn)
    assert(graft.store.CommitLog.schemaAt(spark, t).get.fieldNames.toSeq ==
      Seq("doc_id"))
    assert(graft.store.CommitLog.read(spark, t,
      graft.store.CommitLog.tableSchema(spark, t)).count() == 180)
    val t2 = java.nio.file.Files.createTempDirectory("graft_cli_drop").toString + "/t"
    graft.store.CommitLog.append(
      spark.range(0, 5).selectExpr("id", "concat('v', id) AS v"), t2,
      mergeSchema = true)
    val dc = Cli.run(spark, Array("log-drop-column", t2, "v"))
    assert(dc.contains(""""cmd":"log-drop-column""""), dc)
    assert(graft.store.CommitLog.schemaAt(spark, t2).get.fieldNames.toSeq ==
      Seq("id"))
    assert(graft.store.CommitLog.burnedAt(spark, t2) == Set("v"))
    assert(graft.store.CommitLog.read(spark, t,
      spark.range(0).toDF("id").schema).count() == 180)
  }

  test("query subcommand runs a declared query; unknown name is rejected") {
    val out = Cli.run(spark, Array("query", "q6_top_orders", sf("sf0.001")))
    assert(out == """{"cmd":"query","name":"q6_top_orders","rows":25}""")
    intercept[IllegalArgumentException] {
      Cli.run(spark, Array("query", "no_such", sf("sf0.001")))
    }
    intercept[IllegalArgumentException] { Cli.run(spark, Array("bogus")) }
    assert(Cli.run(spark, Array("list-queries")).contains("\"q1_pricing_summary\""))
  }

  test("log-schema: file-inferred before any evolving writer, ledger-first after, historical with asOf") {
    val t = java.nio.file.Files.createTempDirectory("graft_cli_schema").toString + "/t"
    graft.store.CommitLog.append(spark.range(0, 10).toDF("id"), t)
    val sch = Cli.run(spark, Array("log-schema", t))
    assert(sch.contains(""""from_ledger":false""") &&
      sch.contains("""{"name":"id","type":"bigint"}"""), sch)
    graft.store.CommitLog.append(
      spark.range(10, 11).selectExpr("id", "'x' AS note"), t, mergeSchema = true)
    val sch2 = Cli.run(spark, Array("log-schema", t))
    assert(sch2.contains(""""from_ledger":true""") &&
      sch2.contains(""""name":"note""""), sch2)
    // asOf reads the pre-evolution ledger state (none at v1 → inference)
    val sch1 = Cli.run(spark, Array("log-schema", t, "1"))
    assert(sch1.contains(""""from_ledger":false""") && !sch1.contains("note"), sch1)
    // a shallow clone of the ledger-less version references the
    // source's files by absolute path: inference must resolve them
    val c = t + "_clone"
    graft.store.CommitLog.shallowClone(spark, t, c, asOf = 1)
    val schC = Cli.run(spark, Array("log-schema", c))
    assert(schC.contains(""""from_ledger":false""") &&
      schC.contains("""{"name":"id","type":"bigint"}""") && !schC.contains("note"), schC)
  }
}
