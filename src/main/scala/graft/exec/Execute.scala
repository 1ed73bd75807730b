package graft.exec

import graft.core.{ExecutionResult, Hashing, Task}
import graft.store.Store
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.TimeUnit

/** The execute (worker) job — SURVEY.md §2.6 X1–X7, §2.7 K1–K7, §2.8
  * T3–T5.
  *
  * Reference: each task runs in a Docker container with its workspace
  * bind-mounted (internal/core/executor_docker.go:36-221), driven by a
  * download→execute→upload state machine (worker/service.go:119-183),
  * failures to a DLQ (task.go:132-147). Spark-native shape:
  * `Dataset[Task].mapPartitions` running an external process per record,
  * entirely executor-side — the driver only sees result rows.
  *
  * - X7 workspace: `<tmp>/<task_hash>/{input,output,internal}` created
  *   0700-style and deleted in `finally` (task.go:205-224, 264-266).
  * - S5 download: input resource content copied into the input dir;
  *   `phony` resources skip it (resource.go:17, loader.go:83-85).
  * - X1 dispatch: `strategy.executor` looked up in a registry; unknown
  *   executor or hook tag → DLQ row, never an exception
  *   (executor.go:67-71, worker/service.go:86-89).
  * - X2 run: `/bin/sh -c <command>` with TASK_INPUT_DIR / TASK_OUTPUT_DIR
  *   / TASK_HASH (+ config "env" k=v lines) in the environment; timeout
  *   enforced with `waitFor(timeout)` + `destroyForcibly` — the SIGKILL
  *   path (executor_docker.go:83-88); non-zero exit is a task error
  *   (:99-101). Container reuse maps to executor-JVM reuse; Spark task
  *   retry replaces the visibility-timeout lease (T4).
  * - K1–K3/K5/K7 upload: the output dir syncs to the deterministic
  *   task-hash-keyed location under the object root, delete-first —
  *   overwrite-safe under Spark task retry, which is what makes
  *   at-least-once execution idempotent (the reference's own trick,
  *   task.go:206).
  * - K4 metadata: `metadata*.json` files also sync under the metadata
  *   resource keyed by task hash (task.go:248-261).
  * - X6 capacity: input size × scale factor must fit the workspace
  *   volume (loader.go:133-146) — failure is a DLQ row, not a crash.
  *
  * Scale: tasks are spread across partitions (T3 worker concurrency =
  * partition parallelism); all I/O is executor-local or object-store
  * writes from executors; result rows are the only thing that crosses
  * the shuffle boundary. 100 TB of media never touches the driver.
  */
object Execute {

  /** X3/X4-equivalent built-in commands. The real ffmpeg/Bento4/gopro
    * binaries aren't in this container (and aren't the point) — these
    * deterministic stand-ins produce the same OUTPUT SHAPE the reference
    * documents (DASH manifest + segments, process_mov.sh:3-8; telemetry
    * metadata.json, process_mp4.sh:5-7) via real external processes, so
    * the whole execution path is exercised for real. Swapping a value
    * for an actual ffmpeg invocation is a config change, not a code
    * change.
    */
  val commandRegistry: Map[String, String] = Map(
    "process_mov" ->
      """cp -r "$TASK_INPUT_DIR/." "$TASK_OUTPUT_DIR/" &&
        |printf 'MPD:%s\n' "$TASK_HASH" > "$TASK_OUTPUT_DIR/manifest.mpd"""".stripMargin,
    "process_mp4" ->
      """cp -r "$TASK_INPUT_DIR/." "$TASK_OUTPUT_DIR/" &&
        |printf 'MPD:%s\n' "$TASK_HASH" > "$TASK_OUTPUT_DIR/manifest.mpd" &&
        |printf '{"device":"gopro","samples":[1,2,3]}' > "$TASK_OUTPUT_DIR/metadata.json"""".stripMargin,
    "process_thumb" ->
      """printf 'THUMB:%s' "$TASK_HASH" > "$TASK_OUTPUT_DIR/thumb.jpg"""".stripMargin,
    // test stubs (FIXTURES.md §2): forced failure and timeout exercise
    "fail_stub" -> "exit 3",
    "sleep_stub" -> "sleep 30")


  /** X1's `docker` strategy — the reference's actual production
    * executor (executor_docker.go:36-221): image from
    * `config("image")` (missing → DLQ, :40-43), workspace bind-mounted
    * at /in and /out (:198-199), env forwarded (:201-204), container
    * named by the task hash — its identity/reuse key (:157-182, 216) —
    * non-zero status and timeout-SIGKILL handled by the shared process
    * path (:82-101). Implemented as a `docker run` CLI invocation from
    * the executor JVM: the daemon-API client is a dependency this
    * library can't take, and the CLI contract is public and stable;
    * `--rm` matches shouldRemove=true. Queue rows are untrusted, so the
    * image ref and env keys are validated instead of quoted into the
    * shell line. */
  private val ImageRef = "^[A-Za-z0-9][A-Za-z0-9._/:@-]*$"

  /** Is a `docker` executable reachable on the PATH the task will run
    * with (its config env overrides the inherited one)? Checked
    * JVM-side so a missing client is an unambiguous DLQ error — exit
    * codes can't distinguish it, since `docker run` also propagates the
    * CONTAINER's own 127 for a missing entrypoint. */
  private def dockerOnPath(task: Task): Boolean = {
    val path = Hashing.envStrToSeq(task.strategy.config.getOrElse("env", ""))
      .find(_.startsWith("PATH="))
      .map(_.stripPrefix("PATH="))
      .orElse(Option(System.getenv("PATH")))
      .getOrElse("")
    path.split(':').exists(d =>
      d.nonEmpty && Files.isExecutable(Paths.get(d, "docker")))
  }

  private[exec] def dockerCommand(task: Task): Either[String, String] =
    task.strategy.config.get("image").filter(_.nonEmpty) match {
      case None => Left("invalid configuration: no image specified")
      case Some(img) if !img.matches(ImageRef) =>
        Left(s"invalid image reference '$img'")
      case Some(img) =>
        val envKeys = Hashing.envStrToSeq(task.strategy.config.getOrElse("env", ""))
          .map(_.takeWhile(_ != '='))
        val badKey = envKeys.find(!_.matches("[A-Za-z_][A-Za-z0-9_]*"))
        if (badKey.isDefined)
          Left(s"invalid env key '${badKey.get}'") // DLQ, never silently dropped
        else if (!dockerOnPath(task))
          Left("docker binary not found on PATH")
        else {
          // -e KEY forwards the value from the process environment,
          // where the executor already exported every config env entry
          val envFlags = envKeys.map(k => s"-e $k ").mkString
          // rm -f first: a retried attempt of the same task (or a retry
          // racing the async --rm reaper after a timeout kill) would
          // otherwise hit "name already in use" (exit 125) and be
          // spuriously DLQ'd. The reference avoids the collision by
          // REUSING the found container (executor_docker.go:157-182);
          // here attempts are workspace-isolated, so a fresh container
          // per attempt with delete-first gives the same idempotence.
          Right(
            "docker rm -f \"graft_$TASK_HASH\" >/dev/null 2>&1; " +
              "docker run --rm --name \"graft_$TASK_HASH\" " +
              "-v \"$TASK_INPUT_DIR\":/in -v \"$TASK_OUTPUT_DIR\":/out " +
              envFlags + img)
        }
    }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toVector.foreach(deleteRecursively)
      s.close()
    }
    Files.deleteIfExists(p)
    ()
  }

  /** Sync a tree, returning (files, bytes) — the A3 upload counter. */
  private def copyTree(from: Path, to: Path): (Long, Long) = {
    var n = 0L
    var bytes = 0L
    Files.createDirectories(to)
    val s = Files.walk(from)
    import scala.jdk.CollectionConverters._
    s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else {
        Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
        n += 1; bytes += Files.size(p)
      }
    }
    s.close()
    (n, bytes)
  }

  /** Map an object URL (s3://bucket/key or file://path) to its local
    * stand-in under the object-store root. */
  private def localObjectPath(objectRoot: String, url: String): Path = {
    val noScheme = url.replaceFirst("^[a-z0-9]+://", "")
    Paths.get(objectRoot).resolve(noScheme.stripPrefix("/"))
  }

  /** Execute one task end-to-end on the executor. Never throws: every
    * failure mode becomes an error row (→ DLQ). */
  def executeOne(task: Task, objectRoot: String, workRoot: String): ExecutionResult = {
    val t0 = System.nanoTime()
    var bytesIn = 0L
    def result(exit: Int, err: String, files: Long, bytesUp: Long = 0L) = ExecutionResult(
      task.task_hash, task.input.url, task.output.url, task.hooks,
      exit, err, files, bytesIn, bytesUp, (System.nanoTime() - t0) / 1000000L)

    val ws = Paths.get(workRoot).resolve(task.task_hash)
    val inDir = ws.resolve("input")
    val outDir = ws.resolve("output")
    try {
      // T8/X1 guards first: unknown hook or executor → DLQ. (Plain
      // `return` only — a return inside a lambda/by-name arg would
      // throw NonLocalReturnControl into the catch-all below.)
      val hooksOpt = Hooks.resolve(task.hooks)
      if (hooksOpt.isEmpty)
        return result(-1, s"unknown hooks '${task.hooks}'", 0)
      val hooks = hooksOpt.get
      val isDocker = task.strategy.executor == "docker"
      val cmdOrErr: Either[String, String] = task.strategy.executor match {
        case "process" =>
          task.strategy.config.get("cmd")
            .orElse(task.strategy.config.get("command").flatMap(commandRegistry.get))
            .toRight(s"unknown command '${task.strategy.config.getOrElse("command", "")}'")
        case "docker" => dockerCommand(task)
        case other => Left(s"unknown executor '$other'")
      }
      if (cmdOrErr.isLeft)
        return result(-1, cmdOrErr.swap.toOption.get, 0)
      val cmd = cmdOrErr.toOption

      // X7 workspace (fresh per attempt — wipe any stale retry leftovers)
      deleteRecursively(ws)
      Seq(inDir, outDir, ws.resolve("internal")).foreach(Files.createDirectories(_))
      val hookCtx = Hooks.Ctx(task, inDir, outDir, ws.resolve("internal"))

      // S5/S6 download (skip phony inputs). An input URL ending in "/"
      // is a prefix (F5): its depth-1 objects are downloaded into the
      // input dir — matching DownloadPrefix, which supports depth 1
      // only (pkg/aws/s3.go:164-205, deeper returns "not implemented").
      hooks.preDownload(hookCtx)
      if (!task.input.phony) {
        if (task.input.scheme != "file")
          return result(-1, s"unsupported input scheme '${task.input.scheme}'", 0)
        val src = Paths.get(task.input.url.stripPrefix("file://"))
        if (!Files.exists(src))
          return result(-1, s"input not found: ${task.input.url}", 0)
        val isPrefix = task.input.url.endsWith("/")
        val srcFiles =
          if (!isPrefix) Seq(src)
          else {
            val ls = Files.list(src)
            import scala.jdk.CollectionConverters._
            val fs = ls.iterator().asScala.filter(Files.isRegularFile(_)).toVector
            ls.close()
            fs
          }
        // X6 capacity check (loader.go:133-146): input × 2 must fit
        val inputBytes = srcFiles.map(Files.size(_)).sum
        if (inputBytes * 2 > ws.toFile.getUsableSpace)
          return result(-1, s"insufficient workspace capacity", 0)
        srcFiles.foreach { f =>
          Files.copy(f, inDir.resolve(f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
          ()
        }
        bytesIn += inputBytes // A3 download counter (util.go:8-52)
      }

      // X2 external process with timeout + kill
      hooks.preExecute(hookCtx)
      val pb = new ProcessBuilder("/bin/sh", "-c", cmd.get)
      val env = pb.environment()
      env.put("TASK_INPUT_DIR", inDir.toString)
      env.put("TASK_OUTPUT_DIR", outDir.toString)
      env.put("TASK_HASH", task.task_hash)
      Hashing.envStrToSeq(task.strategy.config.getOrElse("env", ""))
        .foreach { kv =>
          val i = kv.indexOf('=')
          if (i > 0) env.put(kv.substring(0, i), kv.substring(i + 1))
        }
      pb.redirectErrorStream(true)
      pb.redirectOutput(ws.resolve("internal/process.log").toFile)
      val proc = pb.start()
      // SIGKILL path (executor_docker.go:83-88). The whole process TREE
      // dies, not just /bin/sh: a compound command's children (ffmpeg
      // et al.) would otherwise outlive the timeout, burn CPU, and hold
      // deleted-workspace inodes open. The reap wait is bounded so an
      // uninterruptible-sleep zombie can't hang the Spark task.
      def killTree(): Unit = {
        import scala.jdk.CollectionConverters._
        proc.descendants().iterator().asScala.foreach { h => h.destroyForcibly(); () }
        proc.destroyForcibly()
        proc.waitFor(10, TimeUnit.SECONDS)
        ()
      }
      val finished = proc.waitFor(task.timeout_s, TimeUnit.SECONDS)
      if (!finished) {
        killTree()
        // killing the CLI client does not stop the daemon-side
        // container — send the reference's SIGKILL through the daemon
        // too (executor_docker.go:84, 219-221), best-effort
        if (isDocker) {
          // container name comes from the ENVIRONMENT, never
          // interpolated into the shell line — task_hash is an
          // untrusted queue value
          val kill = new ProcessBuilder("/bin/sh", "-c",
            "docker kill \"graft_$TASK_HASH\" >/dev/null 2>&1 || true")
          kill.environment().putAll(env)
          kill.start().waitFor(10, TimeUnit.SECONDS)
        }
        return result(-1, s"timeout after ${task.timeout_s}s", 0)
      }
      val exit = proc.exitValue()
      killTree() // reap any daemonized leftovers even on normal exit
      if (exit != 0)
        return result(exit, s"process exited $exit", 0)

      // K1–K3/K5/K7 upload — the reference's 4-case (prefix|object) ×
      // (dir|file) dispatch (loader.go:199-286), delete-first:
      //  dir → prefix: tree sync (case 1);
      //  single file → object: exact-key upload (case 2);
      //  single file → prefix: keep filename under prefix (case 3, same
      //    as tree sync of a 1-file dir);
      //  multi-file dir → object: unimplemented tar archival in the
      //    reference (loader.go:275-283) — here an explicit DLQ error.
      hooks.preUpload(hookCtx)
      // Queue rows are untrusted input (unknown executor/hook/command
      // already DLQ): a '..' in the output URL must not let the
      // delete-first step reach outside the object root.
      val rootNorm = Paths.get(objectRoot).toAbsolutePath.normalize
      def escapesRoot(p: Path): Boolean =
        !p.toAbsolutePath.normalize.startsWith(rootNorm)
      val target = localObjectPath(objectRoot, task.output.url)
      if (escapesRoot(target))
        return result(-1, s"output path escapes object root: ${task.output.url}", 0)
      val outIsPrefix = task.output.url.endsWith("/")
      val outFiles = {
        val ls = Files.list(outDir)
        import scala.jdk.CollectionConverters._
        val fs = ls.iterator().asScala.toVector
        ls.close()
        fs
      }
      // object (non-/) targets take exactly one REGULAR file — a lone
      // directory entry would "upload" as an empty dir and silently
      // drop its contents (the reference's unimplemented tar case).
      if (!outIsPrefix && (outFiles.size != 1 || !Files.isRegularFile(outFiles.head)))
        return result(-1,
          s"dir->object upload needs archival (unimplemented in reference); ${outFiles.size} outputs", 0)
      deleteRecursively(target)
      val (uploaded, bytesUp) =
        if (outIsPrefix) copyTree(outDir, target)
        else {
          Files.createDirectories(target.getParent)
          Files.copy(outFiles.head, target, StandardCopyOption.REPLACE_EXISTING)
          (1L, Files.size(outFiles.head))
        }

      // K4 metadata sink: metadata*.json → <metadata>/<task_hash>/<name>
      val metaRoot = localObjectPath(objectRoot, task.metadata.url)
      if (escapesRoot(metaRoot))
        return result(-1, s"metadata path escapes object root: ${task.metadata.url}", 0)
      val metaFiles = Files.list(outDir)
      import scala.jdk.CollectionConverters._
      metaFiles.iterator().asScala
        .filter(p => p.getFileName.toString.matches("metadata.*\\.json"))
        .foreach { p =>
          val mt = metaRoot.resolve(task.task_hash).resolve(p.getFileName.toString)
          Files.createDirectories(mt.getParent)
          Files.copy(p, mt, StandardCopyOption.REPLACE_EXISTING)
        }
      metaFiles.close()
      hooks.postUpload(hookCtx)

      result(0, null, uploaded, bytesUp)
    } catch {
      case e: Throwable => result(-1, s"${e.getClass.getSimpleName}: ${e.getMessage}", 0)
    } finally {
      // X7 cleanup, always (task.go:264-266) — but never throw out of
      // the never-throws contract (an unreadable dir the command
      // chmod'ed would otherwise fail the whole Spark partition)
      try deleteRecursively(ws) catch { case _: Throwable => () }
    }
  }

  /** Run a typed task batch through executeOne, with the workspace root
    * isolated PER TASK ATTEMPT: under speculative execution or retry,
    * two attempts of the same task on one node must not wipe each
    * other's live workspaces (the wipe-on-start at the top of
    * executeOne is per-attempt, the uploads stay idempotent). */
  def executeBatch(batch: org.apache.spark.sql.Dataset[Task], objectRoot: String): DataFrame = {
    val workBase = System.getProperty("java.io.tmpdir") + "/graft_exec"
    batch.mapPartitions { it =>
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(_.taskAttemptId().toString).getOrElse("local")
      it.map(t => executeOne(t, objectRoot, s"$workBase/att_$attempt"))
    }(Encoders.product[ExecutionResult]).toDF()
  }

  /** Execute `batch` and record its results: successes → task_done,
    * failures → dlq (with error) — the ONE place the done/dlq row
    * shapes are defined, shared by the batch drain below and
    * StreamingJobs.executeStream. `source` holds the full task rows the
    * results join back to. Both hold one row per `task_hash`: a queue
    * may hold a task twice — two planners that read one queue snapshot
    * both land it, and a file source sees a queue file beside its
    * restaged or compacted copy until vacuum — so each caller
    * deduplicates the rows it read, and every task runs once and lands
    * one row. Byte totals and the ok/failed counts ride the one
    * forcing action as observe() metrics (no extra job); the done
    * commit lands before the dlq commit, and a side with no rows lands
    * no commit. Returns (done, failed). */
  def routeResults(source: DataFrame, batch: DataFrame, objectRoot: String,
      store: Store): (Long, Long) = {
    val results = executeBatch(batch.as[Task](Encoders.product[Task]), objectRoot).persist()
    try {
      val m = new org.apache.spark.sql.Observation("exec_metrics")
      results.observe(m,
        sum("bytes_in").as("bytes_in"), sum("bytes_up").as("bytes_up"),
        count(lit(1)).as("n_tasks"),
        sum(when(col("error").isNull, 1L).otherwise(0L)).as("n_ok"))
        .count() // force execution exactly once
      val metrics = m.get
      def metric(k: String): Long =
        Option(metrics(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
      val (nOk, nFailed) = (metric("n_ok"), metric("n_tasks") - metric("n_ok"))
      System.err.println(s"[execute] A3 transfer totals: $metrics")
      if (nOk > 0)
        Store.commit(source.join(results.filter(col("error").isNull)
          .select("task_hash", "exit_code", "elapsed_ms", "output_files", "bytes_in", "bytes_up"),
          Seq("task_hash")), store.taskDone)
      if (nFailed > 0)
        Store.commit(source.join(results.filter(col("error").isNotNull)
          .select("task_hash", "error", "exit_code"), Seq("task_hash")), store.dlq)
      (nOk, nFailed)
    } finally { results.unpersist(); () }
  }

  /** Drain up to `batchSize` tasks from task_queue: execute the tasks
    * not yet in `task_done ∪ dlq`, record them (routeResults), then
    * consume the queue with one `#op=drain` commit whose removes are
    * exactly the files this drain read (Store.drain). A full drain adds
    * no file — every row it read was run or already finished; a limited
    * batch restages its unconsumed tasks, once each, in that same
    * commit. No lock: a planner append landing after the read is not
    * removed, and a crash at any point is safe to retry — the rerun's
    * anti-join skips whatever was recorded, and its queue commit
    * consumes the rest. Returns (done, failed). */
  def run(spark: SparkSession, store: Store, objectRoot: String,
      batchSize: Int = Int.MaxValue): (Long, Long) = {
    val read = Store.snapshot(spark, store.taskQueue)
    val queue = graft.store.CommitLog.read(spark, store.taskQueue,
      Encoders.product[Task].schema, read).dropDuplicates("task_hash")
    val pending = queue.join(Store.finished(spark, store), Seq("task_hash"), "left_anti")
    val full = batchSize == Int.MaxValue
    val batchDf =
      if (full) pending
      else // limit() collapses to one partition — re-spread for T3 parallelism
        pending.limit(batchSize)
          .repartition(math.min(spark.sparkContext.defaultParallelism, 32))
    val counts = routeResults(queue, batchDf, objectRoot, store)
    // finished now includes this batch's results
    Store.drain(spark, store.taskQueue, read,
      if (full) None
      else Some(queue.join(Store.finished(spark, store), Seq("task_hash"), "left_anti")))
    counts
  }
}
