package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run. Each value is computed per unit of
  * work (one batch sequence, one query chain) and the run reports the
  * median over its traced units. Layers are named after the engine's
  * modules; `harness` is the time between the spanned calls. */
object Layers {
  private val MB = 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def layerOf(span: String): String =
    if (span.contains('.')) span.takeWhile(_ != '.') else "harness"

  private def ms(p: StreamingQueryProgress, keys: String*): Double =
    keys.map(k => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum

  def summarize(tr: Tracer, counters: SparkCounters,
                progress: Map[Int, Seq[StreamingQueryProgress]], cores: Int,
                untracedWalls: Seq[Double]): Map[String, Double] = {
    val units = tr.spans.map(_.unit).distinct.toSeq
    val owned = Tracer.owners(tr.spans.toSeq, counters.all)
    val perUnit = units.map { u =>
      val spans = tr.spans.filter(_.unit == u).toSeq
      def dur(s: Tracer.Span) = (s.t1 - s.t0) / 1e9
      def jobsOf(ss: Seq[Tracer.Span]) = ss.flatMap(s => owned.getOrElse(s.id, Nil))
      def named(n: String) = spans.filter(_.name == n)
      def time(n: String) = named(n).map(dur).sum
      def jobs(n: String) = jobsOf(named(n)).size.toDouble
      val root = spans.find(_.parent == -1).get
      val all = jobsOf(spans)
      def total(f: SparkCounters#Job => Long) = all.map(f).sum.toDouble
      val busy = total(_.runMs) / 1000
      // driver gap: the part of the unit when no job of it was running
      val intervals = all.map(j => (j.start.max(root.ms0), j.end.min(root.ms1)))
        .filter(i => i._2 > i._1)
        .sortBy(_._1)
      val covered = intervals.foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
        if (b <= end) (sum, end) else (sum + b - a.max(end), b)
      }._1
      val selfTimes = spans.groupBy(s => layerOf(s.name)).map { case (l, ss) =>
        s"$l.self_s" -> ss.map(s => dur(s) - spans.filter(_.parent == s.id).map(dur).sum).sum
      }
      val writes = tr.writes.filter(_._1 == u).toSeq
      val resid = tr.residuals.filter(_._1 == u).toSeq
      val prog = progress.getOrElse(u, Nil).filter(_.numInputRows > 0)
      val last = prog.lastOption
      Map(
        "pipelines.plan_s" -> time("pipelines.aqStage"),
        "pipelines.plan_jobs" -> jobs("pipelines.aqStage"),
        "analysis.plan_s" -> time("analysis.ensureDerived"),
        "analysis.plan_jobs" -> jobs("analysis.ensureDerived"),
        "sinks.upsert_s" -> time("sinks.upsertParquet"),
        "sinks.upsert_jobs" -> jobs("sinks.upsertParquet"),
        "sinks.bytes_written_mb" -> writes.map(_._2).sum / MB,
        "sinks.files_written" -> writes.map(_._3).sum.toDouble,
        "sinks.rewrite_frac" -> median(writes.filter(_._4 > 0).map(w => w._2.toDouble / w._4)),
        "sinks.report_s" -> time("sinks.reportCsv"),
        "sinks.report_jobs" -> jobs("sinks.reportCsv"),
        "queries.plan_s" -> time("queries.plan"),
        "queries.plan_jobs" -> jobs("queries.plan"),
        "queries.exec_s" -> time("queries.exec"),
        "queries.exec_jobs" -> jobs("queries.exec"),
        "streaming.triggers" -> prog.size.toDouble,
        "streaming.input_rows" -> prog.map(_.numInputRows.toDouble).sum,
        "streaming.trigger_p50_ms" -> median(prog.map(ms(_, "triggerExecution"))),
        "streaming.add_batch_ms" -> median(prog.map(ms(_, "addBatch"))),
        "streaming.plan_ms" -> median(prog.map(ms(_, "queryPlanning"))),
        "streaming.offsets_ms" -> median(prog.map(ms(_, "latestOffset", "getBatch"))),
        "streaming.commit_ms" -> median(prog.map(ms(_, "walCommit", "commitOffsets"))),
        "streaming.state_rows" -> last.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
        "streaming.state_mb" -> last.map(_.stateOperators.map(_.memoryUsedBytes).sum / MB).getOrElse(0.0),
        "spark.jobs" -> all.size.toDouble,
        "spark.stages" -> total(_.stages),
        "spark.tasks" -> total(_.tasks),
        "spark.task_busy_s" -> busy,
        "spark.task_cpu_s" -> total(_.cpuNs) / 1e9,
        "spark.sched_wait_s" -> total(_.schedMs) / 1000,
        "spark.driver_gap_s" -> ((root.ms1 - root.ms0) - covered) / 1000.0,
        "spark.core_util" -> busy / (cores * dur(root)),
        "spark.shuffle_write_mb" -> total(_.shufW) / MB,
        "spark.shuffle_read_mb" -> total(_.shufR) / MB,
        "spark.spill_mb" -> total(_.spill) / MB,
        "spark.failed_tasks" -> total(_.failed),
        "cache.peak_mb" -> tr.storage.filter(_._1 == u).map(_._2).maxOption.getOrElse(0.0),
        "cache.residual_mb" -> resid.map(_._2).sum,
        "cache.residual_rdds" -> resid.map(_._3.toDouble).sum,
        "jvm.gc_s" -> root.gc / 1000.0,
        "jvm.jit_s" -> root.jit / 1000.0,
        "trace.unit_wall_s" -> dur(root)
      ) ++ Seq("pipelines", "analysis", "sinks", "queries", "harness")
        .map(l => s"$l.self_s" -> selfTimes.getOrElse(s"$l.self_s", 0.0))
    }
    val keys = perUnit.head.keys
    val med = keys.map(k => k -> median(perUnit.map(_(k)))).toMap
    (med - "trace.unit_wall_s") +
      ("trace.overhead_s" -> (med("trace.unit_wall_s") - median(untracedWalls)))
  }
}
