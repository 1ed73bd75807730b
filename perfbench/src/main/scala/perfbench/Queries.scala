package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The headline-query part of the `table_log` workload: the declared
  * headline queries over seeded tables, repeated after an untimed
  * warm-up. Loads Catalyst, the operator kernels and the Structured
  * Streaming state path (stream_window_agg); bypasses exec. The warm-up
  * results and those of the last timed pass go to the harness, which
  * checks both against the DuckDB oracle SQL. */
object Queries {
  val Relational = Seq("q1_pricing_summary", "q2_forecast_revenue", "q3_revenue_by_nation",
    "q7_top_customers_per_nation", "q21_brand_supplier_volume")
  val LlmOps = Seq("text_quality", "dedup_minhash_lsh", "ann_bruteforce_topk", "corpus_curation")
  val Stream = "stream_window_agg"

  final case class Timed(traced: Boolean, name: String, span: Span)

  def prepare(spark: SparkSession, args: Main.Args, r: Report): Prepared = {
    val qs = graft.SparkEntry.benchQueries
    require(qs.map(_.name).toSet == (Relational ++ LlmOps :+ Stream).toSet,
      s"the declared headline set changed: ${qs.map(_.name).mkString(", ")}")
    val out = Paths.get(args.work, "results")
    val oracles = qs.map { q =>
      val sql = q.oracle.getOrElse(throw new IllegalStateException(s"${q.name} has no oracle SQL"))
      s""""${q.name}":"${sql.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")}""""
    }
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"), oracles.mkString("{", ",", "}").getBytes("UTF-8"))
    def save(q: graft.Q, phase: String): Unit =
      q.fn(spark, args.data).write.mode("overwrite").parquet(out.resolve(phase).resolve(q.name).toString)

    // set-up: one warm-up pass, whose results the oracle checks
    val t0 = System.nanoTime()
    qs.foreach(q => r.op(s"${q.name} warm-up")(save(q, "warm")))
    val setupS = (System.nanoTime() - t0) / 1e9

    Prepared(setupS, Seq { (deadline: Long) =>
      // measurement: passes over the queries until the deadline, at least
      // one whole pass (two in a traced run); each query writes its results,
      // and its last are the final results the oracle checks. A traced run
      // traces every other query, alternating between passes, so that
      // warm-up drift falls on traced and untraced runs alike.
      val timed = scala.collection.mutable.ArrayBuffer.empty[Timed]
      var pass = 0
      def more = pass < (if (args.trace) 2 else 1) || System.nanoTime() < deadline
      while (more) {
        for ((q, i) <- qs.zipWithIndex if more) {
          val traced = args.trace && (pass + i) % 2 == 1
          Trace.enable(traced)
          try r.op(q.name)(Trace.span(q.name)(save(q, "final"))._2)
            .foreach(s => timed += Timed(traced, q.name, s))
          finally Trace.enable(false)
        }
        pass += 1
      }

      def p50(name: String, traced: Boolean): Option[Double] = {
        val xs = timed.filter(t => t.name == name && t.traced == traced).map(_.span.ms / 1e3).toSeq
        if (xs.isEmpty) None else Some(Stats.median(xs))
      }
      def family(names: Seq[String], traced: Boolean): Option[Double] = {
        val ms = names.map(p50(_, traced))
        if (ms.exists(_.isEmpty)) None else Some(ms.flatten.sum)
      }
      // the bulk unit: one pass over every query, as the sum of the
      // per-query medians; in a traced run its counts are those of each
      // query's first traced run, and its times sums of traced medians
      val all = qs.map(_.name)
      for (traced <- Seq(false, true); s <- family(all, traced)) {
        val counters = if (!traced) Map.empty[String, Double] else {
          val firsts = all.map(q => timed.find(t => t.traced && t.name == q).get.span.counters)
          val counts = firsts.flatten.groupMapReduce(_._1)(_._2.toDouble)(_ + _)
          def medianSum(k: String) = all.map(q => Stats.median(
            timed.filter(t => t.traced && t.name == q).map(_.span(k).toDouble).toSeq)).sum
          counts ++ Seq("spark.task_ms", "catalyst.plan_us").map(k => k -> medianSum(k))
        }
        r.sample(Report.Sample("bulk", traced, s, counters))
      }
      r.detail("relational_s", family(Relational, false), "s")
      r.detail("llm_ops_s", family(LlmOps, false), "s")
      r.detail("stream_window_s", p50(Stream, false), "s")
      r.notes += s"${timed.size} timed queries in $pass passes over ${qs.size} queries"

      if (args.trace) {
        // counts come from the first traced pass, the same in every run
        def first(name: String) = timed.find(t => t.traced && t.name == name).get.span
        def tracedP50(name: String, f: Span => Double) =
          Stats.median(timed.filter(t => t.traced && t.name == name).map(t => f(t.span)).toSeq)
        for (q <- qs.map(_.name)) {
          r.detail(s"q.$q.p50_s", tracedP50(q, _.ms / 1e3), "s")
          r.detail(s"catalyst.$q.plan_ms", tracedP50(q, _("catalyst.plan_us") / 1e3), "ms")
          r.detail(s"spark.$q.jobs", first(q)("spark.jobs").toDouble, "count")
          r.detail(s"spark.$q.stages", first(q)("spark.stages").toDouble, "count")
          r.detail(s"spark.$q.task_ms", tracedP50(q, _("spark.task_ms").toDouble), "ms")
          r.detail(s"spark.$q.shuffle_mb", first(q)("spark.shuffle_bytes") / 1048576.0, "MB")
        }
        r.detail("streaming.triggers", first(Stream)("stream.triggers").toDouble, "count")
        r.detail("streaming.trigger_p50_ms",
          Stats.tickQuantile(Trace.triggerMs.asScala.map(_.doubleValue).toSeq, 0.5), "ms")
        r.detail("streaming.add_batch_ms", tracedP50(Stream, _("stream.add_batch_ms").toDouble), "ms")
        r.detail("streaming.wal_ms", tracedP50(Stream, _("stream.wal_ms").toDouble), "ms")
        r.detail("streaming.state_commit_ms", tracedP50(Stream, _("stream.state_commit_ms").toDouble), "ms")
      }
    })
  }
}
