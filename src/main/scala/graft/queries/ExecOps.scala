package graft.queries

import graft.Q
import graft.exec.Execute
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.Plan
import graft.store.Store
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Oracle-checked queries for the execute job's metric surface
  * (SURVEY.md §2.5 A3/A4). Both run the real ingest→plan→execute
  * pipeline against the fixture tree; the oracle pins the expected
  * values as constants derivable from the fixture by hand:
  *
  *  - inputs: the four .mov files (11+11+16+23 = 61 bytes), downloaded
  *    by both the mov and thumb task of each resource → bytes_in 122;
  *  - mov outputs: copied input + 69-byte manifest ("MPD:" + 64-hex +
  *    newline) → 61 + 4×69 = 337; thumb outputs: 70-byte "THUMB:"+hash
  *    → 4×70 = 280 → bytes_up 617.
  */
object ExecOps {

  val queries: Seq[Q] = Seq(

    // ── A3: byte-transfer totals over task_done ────────────────────────
    Q(
      "a3_transfer_totals",
      """SELECT CAST(8 AS BIGINT) AS n_tasks, CAST(122 AS BIGINT) AS bytes_in,
        |       CAST(617 AS BIGINT) AS bytes_up""".stripMargin) { (s, _) =>
      FixtureTree.ensure()
      val store = Store("/tmp/graft_state/a3_totals")
      Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
        .foreach(Store.delete(s, _))
      val obj = Files.createTempDirectory("graft_obj_a3").toString
      Ingest.run(s, FixtureTree.root, "ext/mov", 4, store)
      Plan.run(s, store)
      Execute.run(s, store, obj)
      Store.read(s, store.taskDone,
          org.apache.spark.sql.types.StructType.fromDDL("bytes_in bigint, bytes_up bigint"))
        .agg(count(lit(1)).as("n_tasks"),
          sum("bytes_in").as("bytes_in"), sum("bytes_up").as("bytes_up"))
    },

    // ── A4: queue-depth metric before and after the drain ──────────────
    Q(
      "a4_queue_depth",
      """SELECT CAST(8 AS BIGINT) AS depth_after_plan,
        |       CAST(0 AS BIGINT) AS depth_after_execute""".stripMargin) { (s, _) =>
      FixtureTree.ensure()
      val store = Store("/tmp/graft_state/a4_depth")
      Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
        .foreach(Store.delete(s, _))
      val obj = Files.createTempDirectory("graft_obj_a4").toString
      Ingest.run(s, FixtureTree.root, "ext/mov", 4, store)
      Plan.run(s, store)
      val afterPlan = Store.count(s, store.taskQueue)
      Execute.run(s, store, obj)
      val afterExec = Store.count(s, store.taskQueue)
      import s.implicits._
      Seq((afterPlan, afterExec)).toDF("depth_after_plan", "depth_after_execute")
    })
}
