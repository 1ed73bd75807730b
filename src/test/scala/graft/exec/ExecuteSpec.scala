package graft.exec

import graft.SparkSpec
import graft.core.{ExecutionStrategy, Resource, Task}
import graft.core.Hashing
import graft.ingest.{FixtureTree, Ingest}
import graft.plan.{Plan, Templates, TemplateDef}
import graft.store.Store
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** SURVEY §5.4: the execution stage with stub commands — success path,
  * non-zero exit → DLQ, timeout → kill → DLQ, unknown hook/executor →
  * DLQ, idempotent re-execution. */
class ExecuteSpec extends SparkSpec {

  private def mkTask(url: String, cmd: String, timeoutS: Long = 60,
      hooks: String = "mov", executor: String = "process"): Task = {
    val in = Resource(url, "file", "/tmp/graft_bucket", "x", 0L, phony = false,
      Hashing.urlHashStr(url))
    val slot = math.abs(cmd.hashCode).toString
    val outUrl = s"s3://mirror/test/$slot/x/"
    val out = Resource(outUrl, "s3", "mirror", s"test/$slot/x/", 0L, phony = false,
      Hashing.urlHashStr(outUrl))
    val meta = out.copy(url = outUrl + "meta/", key = out.key + "meta/", phony = true)
    Task(in, out, meta, hooks,
      ExecutionStrategy(executor, Map("cmd" -> cmd)),
      timeoutS, "test", Hashing.taskHashStr(url, outUrl))
  }

  private def freshDirs(): (String, String) = {
    val obj = Files.createTempDirectory("graft_obj").toString
    val work = Files.createTempDirectory("graft_work").toString
    (obj, work)
  }

  test("success path: output synced to deterministic path; workspace cleaned") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val t = mkTask(s"file://${FixtureTree.root}/video/b.mov",
      """printf 'OK:%s' "$TASK_HASH" > "$TASK_OUTPUT_DIR/result.txt"""")
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null && r.exit_code == 0 && r.output_files == 1)
    val resultFile = Paths.get(obj).resolve(s"mirror/${t.output.key}result.txt")
    assert(Files.exists(resultFile))
    assert(new String(Files.readAllBytes(resultFile)) == s"OK:${t.task_hash}")
    assert(!Files.exists(Paths.get(work, t.task_hash))) // X7 cleanup
  }

  test("input is downloaded into the workspace before the command runs (S5)") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val t = mkTask(s"file://${FixtureTree.root}/video/b.mov",
      """cat "$TASK_INPUT_DIR/b.mov" > "$TASK_OUTPUT_DIR/copy.txt"""")
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null)
    val copied = Paths.get(obj).resolve(s"mirror/${t.output.key}copy.txt")
    assert(new String(Files.readAllBytes(copied)) == "video/b.mov") // fixture content = key
  }

  test("non-zero exit routes to error (executor_docker.go:99-101)") {
    val (obj, work) = freshDirs()
    val r = Execute.executeOne(mkTask("file:///nonexistent", "exit 3").copy(
      input = Resource("file:///x", "file", "b", "x", 0L, phony = true, "h")), obj, work)
    assert(r.exit_code == 3 && r.error.contains("exited 3"))
  }

  test("timeout kills the process (executor_docker.go:83-88)") {
    val (obj, work) = freshDirs()
    val t0 = System.nanoTime()
    val r = Execute.executeOne(
      mkTask("file:///x", "sleep 30", timeoutS = 1).copy(
        input = Resource("file:///x", "file", "b", "x", 0L, phony = true, "h")),
      obj, work)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(r.error.contains("timeout"))
    assert(elapsedS < 10, s"kill took ${elapsedS}s — destroyForcibly not effective")
  }

  test("unknown hooks / executor / command are DLQ errors, not exceptions") {
    val (obj, work) = freshDirs()
    assert(Execute.executeOne(mkTask("file:///x", "true", hooks = "nope"), obj, work)
      .error.contains("unknown hooks"))
    assert(Execute.executeOne(mkTask("file:///x", "true", executor = "podman"), obj, work)
      .error.contains("unknown executor"))
    val noCmd = mkTask("file:///x", "true").copy(
      strategy = ExecutionStrategy("process", Map("command" -> "no_such")))
    assert(Execute.executeOne(noCmd, obj, work).error.contains("unknown command"))
    assert(Execute.executeOne(mkTask("file:///missing.mov", "true"), obj, work)
      .error.contains("input not found"))
  }

  test("re-execution is idempotent (K7: deterministic overwrite-safe paths)") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val t = mkTask(s"file://${FixtureTree.root}/video/b.mov",
      """printf 'X' > "$TASK_OUTPUT_DIR/f.txt"""")
    assert(Execute.executeOne(t, obj, work).error == null)
    assert(Execute.executeOne(t, obj, work).error == null)
    val dir = Paths.get(obj).resolve(s"mirror/${t.output.key}")
    val listed = Files.list(dir)
    import scala.jdk.CollectionConverters._
    assert(listed.iterator().asScala.size == 1) // no duplicate artifacts
    listed.close()
  }

  test("T8 hooks fire in stage order around the external process") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    // the command snapshots hooks.log mid-run: only the two pre-process
    // stages can have fired by then
    val t = mkTask(s"file://${FixtureTree.root}/video/b.mov",
      """cp "$(dirname "$TASK_INPUT_DIR")/internal/hooks.log" "$TASK_OUTPUT_DIR/"""")
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null)
    val log = Paths.get(obj).resolve(s"mirror/${t.output.key}hooks.log")
    assert(new String(Files.readAllBytes(log)) == "pre_download:mov\npre_execute:mov\n")
  }

  test("T8 hooks interface: all four edges, in order") {
    val dir = Files.createTempDirectory("graft_hooks")
    val ctx = Hooks.Ctx(mkTask("file:///x", "true"), dir, dir, dir)
    val h = Hooks.resolve("mp4").get
    h.preDownload(ctx); h.preExecute(ctx); h.preUpload(ctx); h.postUpload(ctx)
    val log = new String(Files.readAllBytes(dir.resolve("hooks.log")))
    assert(log == "pre_download:mp4\npre_execute:mp4\npre_upload:mp4\npost_upload:mp4\n")
    assert(Hooks.resolve("nope").isEmpty) // unknown tag → caller DLQs
  }

  test("A3 byte counters: bytes_in = input size, bytes_up = synced output bytes") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val t = mkTask(s"file://${FixtureTree.root}/video/deep/d.mov", // 16 bytes
      """cp -r "$TASK_INPUT_DIR/." "$TASK_OUTPUT_DIR/" &&
        |printf 'MPD:%s\n' "$TASK_HASH" > "$TASK_OUTPUT_DIR/manifest.mpd"""".stripMargin)
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null)
    assert(r.bytes_in == 16)
    assert(r.bytes_up == 16 + 69) // copied input + "MPD:"+64-hex+"\n"
  }

  test("S6 prefix input: depth-1 objects under the prefix land in the input dir") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val t = mkTask(s"file://${FixtureTree.root}/video/",
      """ls "$TASK_INPUT_DIR" | sort | tr '\n' ',' > "$TASK_OUTPUT_DIR/listing.txt"""")
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null)
    val listing = Paths.get(obj).resolve(s"mirror/${t.output.key}listing.txt")
    // depth 1 only: deep/ not descended (s3.go:164-205 semantics)
    assert(new String(Files.readAllBytes(listing)) == "a.MOV,b.mov,c.mp4,noext,")
    assert(r.bytes_in == 11 + 11 + 11 + 11) // the four depth-1 files
  }

  test("K3 dispatch: file→object exact-key upload; multi-file→object is a DLQ error") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    // single output + object (non-/) URL → exact key
    val single = {
      val base = mkTask(s"file://${FixtureTree.root}/video/b.mov",
        """printf 'X' > "$TASK_OUTPUT_DIR/artifact.bin"""")
      val outUrl = "s3://mirror/exact/artifact.bin"
      base.copy(
        output = base.output.copy(url = outUrl, key = "exact/artifact.bin"),
        task_hash = graft.core.Hashing.taskHashStr(base.input.url, outUrl))
    }
    assert(Execute.executeOne(single, obj, work).error == null)
    assert(Files.exists(Paths.get(obj).resolve("mirror/exact/artifact.bin")))
    // two outputs + object URL → the reference's unimplemented tar case
    val multi = {
      val base = mkTask(s"file://${FixtureTree.root}/video/b.mov",
        """printf 'X' > "$TASK_OUTPUT_DIR/a"; printf 'Y' > "$TASK_OUTPUT_DIR/b"""")
      val outUrl = "s3://mirror/exact/one.bin"
      base.copy(
        output = base.output.copy(url = outUrl, key = "exact/one.bin"),
        task_hash = graft.core.Hashing.taskHashStr(base.input.url, outUrl))
    }
    assert(Execute.executeOne(multi, obj, work).error.contains("archival"))
  }

  test("path traversal in output/metadata URLs is rejected to the DLQ") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val outside = Files.createTempDirectory("graft_outside")
    Files.write(outside.resolve("precious.txt"), "keep".getBytes("UTF-8"))
    val base = mkTask(s"file://${FixtureTree.root}/video/b.mov", "true")
    val evil = base.copy(output = base.output.copy(
      url = s"s3://mirror/../../..$outside/", key = s"../../..$outside/"))
    val r = Execute.executeOne(evil, obj, work)
    assert(r.error.contains("escapes object root"))
    assert(Files.exists(outside.resolve("precious.txt")), "outside tree was touched")
  }

  test("single-directory output to an object URL is the archival error, not silent loss") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val base = mkTask(s"file://${FixtureTree.root}/video/b.mov",
      """mkdir "$TASK_OUTPUT_DIR/dash" && printf seg > "$TASK_OUTPUT_DIR/dash/seg1.m4s"""")
    val t = base.copy(
      output = base.output.copy(url = "s3://mirror/exact/one.bin", key = "exact/one.bin"),
      task_hash = Hashing.taskHashStr(base.input.url, "s3://mirror/exact/one.bin"))
    assert(Execute.executeOne(t, obj, work).error.contains("archival"))
  }

  test("timeout kills the whole process tree, not just the shell") {
    val (obj, work) = freshDirs()
    val marker = s"graft_orphan_${System.nanoTime()}"
    val t = mkTask("file:///x", s"sleep 300 && echo $marker & wait", timeoutS = 1).copy(
      input = Resource("file:///x", "file", "b", "x", 0L, phony = true, "h"))
    val r = Execute.executeOne(t, obj, work)
    assert(r.error.contains("timeout"))
    Thread.sleep(500)
    // [g] bracket: the probe's own cmdline contains the marker text and
    // would otherwise match itself
    val survivors = new ProcessBuilder("/bin/sh", "-c",
      s"pgrep -f '[g]raft_orphan_${marker.stripPrefix("graft_orphan_")}' | wc -l")
      .start()
    survivors.waitFor()
    val n = new String(survivors.getInputStream.readAllBytes()).trim.toInt
    assert(n == 0, s"$n orphaned grandchildren survived the kill")
  }

  test("crash between done-append and queue swap does not re-execute (batch anti-join)") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/exec_crash")
    Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
      .foreach(Store.delete(spark, _))
    val (obj, _) = freshDirs()
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    Plan.run(spark, store) // 8 tasks
    val (done1, _) = Execute.run(spark, store, obj)
    assert(done1 == 8)
    // simulate the crash: done rows exist but the queue was never
    // consumed — re-plan the same tasks back into the queue
    Store.delete(spark, store.taskQueue)
    Plan.run(spark, store) // anti-joins task_done → adds 0, queue stays empty
    // but even with completed hashes forced into the queue...
    graft.store.CommitLog.append(
      Store.read(spark, store.taskDone, org.apache.spark.sql.Encoders.product[Task].schema)
        .select("input", "output", "metadata", "hooks", "strategy",
          "timeout_s", "version", "task_hash"), store.taskQueue)
    val (done2, failed2) = Execute.run(spark, store, obj)
    assert((done2, failed2) == (0L, 0L), "completed tasks were re-executed")
    assert(Store.count(spark, store.taskDone) == 8, "task_done duplicated")
    assert(Store.count(spark, store.taskQueue) == 0, "queue not drained of done hashes")
  }

  test("e2e ingest→plan→execute: done/dlq/queue bookkeeping (T5, K6)") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/exec_e2e")
    Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
      .foreach(Store.delete(spark, _))
    val (obj, _) = freshDirs()

    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    Plan.run(spark, store) // 4 × (mov+thumb) = 8 tasks

    val (done, failedN) = Execute.run(spark, store, obj)
    assert((done, failedN) == (8L, 0L))
    assert(Store.count(spark, store.taskDone) == 8)
    // queue fully drained
    assert(Store.count(spark, store.taskQueue) == 0)
    // mov outputs: manifest + copied input per task; metadata none for mov
    val manifests = graft.ingest.Listing.listResources(spark, obj, 12)
      .filter(col("key").endsWith("manifest.mpd"))
    assert(manifests.count() == 4)
    // replan after completion: nothing new (D3 against task_done)
    assert(Plan.run(spark, store) == 0)
  }

  /** A minimal `docker` CLI stand-in (the daemon isn't in this
    * container): parses the exact `docker run --rm --name N -v a:/in
    * -v b:/out [-e K]... IMAGE` line dockerCommand builds, "runs" the
    * known test image by copying /in to /out and writing a manifest,
    * and fails with docker's own exit 125 for unknown images. It also
    * mimics the daemon's NAME REGISTRY (a state dir next to the shim):
    * `run --name N` fails with docker's real "name already in use"
    * exit 125 when N is registered, and `rm -f N` deregisters — which
    * is what makes the executor's delete-first line load-bearing. */
  private def dockerShimPath(): String = {
    val dir = Files.createTempDirectory("graft_docker_shim")
    val script = dir.resolve("docker")
    Files.writeString(script,
      """#!/bin/sh
        |STATE="$(dirname "$0")/containers"
        |mkdir -p "$STATE"
        |case "$1" in
        |  rm) shift
        |      [ "$1" = "-f" ] && shift
        |      rm -f "$STATE/$1"
        |      exit 0 ;;
        |  run) ;;
        |  *) echo "unsupported subcommand: $1" >&2; exit 64 ;;
        |esac
        |shift
        |IN= OUT= IMG= NAME=
        |while [ $# -gt 0 ]; do
        |  case "$1" in
        |    --rm) ;;
        |    --name) shift; NAME=$1 ;;
        |    -v) shift
        |        case "$1" in
        |          *:/in) IN=${1%:/in} ;;
        |          *:/out) OUT=${1%:/out} ;;
        |        esac ;;
        |    -e) shift ;;
        |    *) IMG=$1 ;;
        |  esac
        |  shift
        |done
        |if [ -e "$STATE/$NAME" ]; then
        |  echo "docker: Error response from daemon: Conflict. The container name \"/$NAME\" is already in use" >&2
        |  exit 125
        |fi
        |touch "$STATE/$NAME"
        |case "$IMG" in
        |  graft/test-image)
        |    cp -r "$IN/." "$OUT/" &&
        |    printf 'MPD:%s\n' "$NAME" > "$OUT/manifest.mpd"
        |    RC=$?
        |    ;;
        |  *) echo "Unable to find image '$IMG' locally" >&2; RC=125 ;;
        |esac
        |rm -f "$STATE/$NAME"   # --rm reaper
        |exit $RC
        |""".stripMargin)
    script.toFile.setExecutable(true)
    dir.toString
  }

  private def dockerTask(image: String, pathDirs: String): graft.core.Task = {
    val t = mkTask(s"file://${FixtureTree.root}/video/b.mov", "unused")
    t.copy(strategy = ExecutionStrategy("docker",
      (if (image.isEmpty) Map.empty[String, String] else Map("image" -> image)) +
        ("env" -> s"PATH=$pathDirs")))
  }

  test("docker executor: container run via CLI, workspace bind semantics, named by task hash") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val shim = dockerShimPath()
    val t = dockerTask("graft/test-image", s"$shim:/usr/bin:/bin")
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null && r.exit_code == 0, s"docker run failed: ${r.error}")
    // /in → /out copy-through proves the bind-mount plumbing
    val copied = Paths.get(obj).resolve(s"mirror/${t.output.key}b.mov")
    assert(Files.exists(copied))
    // container name is the reference's task-hash identity key
    val manifest = Paths.get(obj).resolve(s"mirror/${t.output.key}manifest.mpd")
    assert(new String(Files.readAllBytes(manifest)).trim == s"MPD:graft_${t.task_hash}")
  }

  test("docker executor: stale same-name container from a raced retry is removed, not a DLQ") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val shim = dockerShimPath()
    val t = dockerTask("graft/test-image", s"$shim:/usr/bin:/bin")
    // a previous attempt's container still holds the task-hash name
    // (e.g. the async --rm reaper hasn't finished after a timeout
    // kill) — without the executor's delete-first line this run exits
    // 125 "name already in use" and the task is spuriously DLQ'd
    val state = Paths.get(shim).resolve("containers")
    Files.createDirectories(state)
    Files.createFile(state.resolve(s"graft_${t.task_hash}"))
    val r = Execute.executeOne(t, obj, work)
    assert(r.error == null && r.exit_code == 0,
      s"retry against a stale container name failed: ${r.error}")
  }

  test("docker executor: unknown image is a DLQ error (docker's own exit code)") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val shim = dockerShimPath()
    val r = Execute.executeOne(dockerTask("graft/no-such-image", s"$shim:/usr/bin:/bin"), obj, work)
    assert(r.exit_code == 125 && r.error.contains("exited 125"))
  }

  test("docker executor: missing image config and missing binary are DLQ errors") {
    FixtureTree.ensure()
    val (obj, work) = freshDirs()
    val noImage = Execute.executeOne(dockerTask("", "/usr/bin:/bin"), obj, work)
    assert(noImage.error == "invalid configuration: no image specified")
    // PATH without any docker → explicit binary-missing DLQ row
    val noBinary = Execute.executeOne(
      dockerTask("graft/test-image", "/var/empty"), obj, work)
    assert(noBinary.error.contains("docker binary not found"))
    // untrusted queue row: shell metacharacters in the image ref are
    // rejected before any command line is built
    val injected = Execute.executeOne(
      dockerTask("img; rm -rf /tmp/x", "/usr/bin:/bin"), obj, work)
    assert(injected.error.contains("invalid image reference"))
  }

  test("forced failure lands in dlq with error; successes unaffected (K6)") {
    FixtureTree.ensure()
    val store = Store("/tmp/graft_test_state/exec_dlq")
    Seq(store.resourceIndex, store.taskQueue, store.taskDone, store.dlq)
      .foreach(Store.delete(spark, _))
    val (obj, _) = freshDirs()

    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    val failing = Seq(
      TemplateDef("mov", Seq("mov"), "img", "fail_stub", 60),
      TemplateDef("thumb", Seq("mov"), "img", "process_thumb", 60))
    Plan.run(spark, store, failing)

    val (done, failedN) = Execute.run(spark, store, obj)
    assert((done, failedN) == (4L, 4L))
    val dlq = Store.read(spark, store.dlq,
      org.apache.spark.sql.types.StructType.fromDDL("error string, hooks string"))
    assert(dlq.count() == 4)
    assert(dlq.select("error").head().getString(0).contains("exited 3"))
    assert(dlq.select("hooks").distinct().head().getString(0) == "mov")
  }

  /** 4 .mov resources planned with a failing container template:
    * 4 thumb tasks succeed, 4 mov tasks dead-letter. */
  private val failing = Seq(
    TemplateDef("mov", Seq("mov"), "img", "fail_stub", 60),
    TemplateDef("thumb", Seq("mov"), "img", "process_thumb", 60))

  test("a dead letter is terminal: re-plan enqueues 0 tasks and a second drain runs 0") {
    FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_dlq_terminal").toString)
    val (obj, _) = freshDirs()
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    assert(Plan.run(spark, store, failing) == 8)
    assert(Execute.run(spark, store, obj) == ((4L, 4L)))
    assert(Plan.run(spark, store, failing) == 0, "re-plan re-enqueued dead letters")
    assert(Execute.run(spark, store, obj) == ((0L, 0L)))
    assert(Store.count(spark, store.dlq) == 4 && Store.count(spark, store.taskDone) == 4)
  }

  test("history of task_queue shows one drain commit per drain; a full drain adds no file") {
    FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_drain_history").toString)
    val (obj, _) = freshDirs()
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    Plan.run(spark, store) // 8 tasks
    assert(Execute.run(spark, store, obj, batchSize = 3) == ((3L, 0L)))
    assert(Store.count(spark, store.taskQueue) == 5)
    assert(Execute.run(spark, store, obj) == ((5L, 0L)))
    // an empty queue: nothing read, so nothing committed
    assert(Execute.run(spark, store, obj) == ((0L, 0L)))
    val drains = graft.store.CommitLog.history(spark, store.taskQueue)
      .filter(col("operation") === Store.DrainOp)
      .select("n_added", "n_removed").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(drains.size == 2, s"drain commits: $drains")
    assert(drains(0)._1 > 0 && drains(0)._2 > 0, "the limited batch restages its rest")
    assert(drains(1)._1 == 0 && drains(1)._2 > 0, "the full drain wrote data")
    assert(Store.count(spark, store.taskQueue) == 0 && Store.count(spark, store.taskDone) == 8)
  }

  test("pipeline verbs refuse a store table written before the commit log") {
    FixtureTree.ensure()
    val store = Store(Files.createTempDirectory("graft_prelog").toString)
    val (obj, _) = freshDirs()
    Ingest.run(spark, FixtureTree.root, "ext/mov", 4, store)
    // a task_done directory of plain parquet, as a pre-log drain left it
    spark.range(0, 3).selectExpr("cast(id as string) as task_hash").write.parquet(store.taskDone)
    def refused(body: => Any): Unit = {
      val e = intercept[graft.store.UnloggedStoreTableException](body)
      assert(e.path == store.taskDone && e.getMessage.contains("CommitLog.convertParquet"),
        e.getMessage)
    }
    refused(Plan.run(spark, store))
    refused(Execute.run(spark, store, obj))
    refused(graft.Cli.run(spark, Array("stats", store.root)))
    assert(Store.count(spark, store.taskQueue) == 0, "a refused plan enqueued tasks")
  }
}
