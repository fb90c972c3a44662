package perfbench

import scala.collection.mutable

/** One operation the benchmark drove or observed: a query run or a
  * micro-batch (taken from the stream's own progress).
  * `parts` holds the operation's own sub-timings (build/exec for a
  * query, the progress duration map for a batch). */
final case class Op(id: String, kind: String, name: String, start: Long, end: Long,
    ok: Boolean, error: String = "", parts: Map[String, Double] = Map.empty) {
  def ms: Double = (end - start).toDouble
}

/** A traced span: workload -> query | batch -> SQL execution -> job -> stage. */
final case class Span(id: String, parent: String, kind: String, name: String,
    op: String, start: Long, end: Long)

/** Turns a [[Recorder]]'s raw events plus the phase's ops into spans
  * (with self time), the per-op ledger, and the per-layer metrics. */
final class Ledger(rec: Recorder, ops: Seq[Op], window: (Long, Long), slots: Int) {

  private val inWindow = rec.jobs.values.filter(j => j.start >= window._1 && j.start <= window._2)
    .toSeq.sortBy(_.id)
  private val opIds = ops.map(_.id).toSet
  private val sequential = ops.filter(o => o.kind == "query").sortBy(_.start)

  /** Op of a job, or "" when it belongs to none of this phase's ops. */
  def opOfJob(j: JobRec): String = rec.jobOp(j).filter(opIds).getOrElse("")

  /** Op of an execution; one that ran no job falls back to the query run
    * whose interval contains its start. */
  private def opOfExec(x: ExecRec): String =
    rec.execOp(x.id).filter(opIds).getOrElse(
      sequential.find(o => x.start >= o.start && x.start <= o.end).map(_.id).getOrElse(""))

  private def jobEnd(j: JobRec) = if (j.end >= 0) j.end else window._2
  private def stagesOf(j: JobRec) = j.stageIds.flatMap(rec.stages.get).filter(_.tasks > 0)

  lazy val spans: Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    out += Span("w", "", "workload", "workload", "", window._1, window._2)
    ops.foreach(o => out += Span(o.id, "w", o.kind, o.name, o.id, o.start, o.end))
    val execIds = inWindow.flatMap(_.props.get(Attribution.ExecKey)).map(_.toLong).toSet ++
      rec.execs.values.filter(x => x.start >= window._1 && x.start <= window._2).map(_.id)
    execIds.flatMap(rec.execs.get).foreach { x =>
      val op = opOfExec(x)
      out += Span(s"x${x.id}", if (op.isEmpty) "w" else op, "execution",
        if (x.plan.isEmpty) x.module else s"${x.module}: ${x.plan}", op,
        x.start, if (x.end >= 0) x.end else window._2)
    }
    inWindow.foreach { j =>
      val op = opOfJob(j)
      val parent = j.props.get(Attribution.ExecKey).filter(id => rec.execs.contains(id.toLong))
        .map(id => s"x$id").getOrElse(if (op.isEmpty) "w" else op)
      out += Span(s"j${j.id}", parent, "job", rec.jobModule(j), op, j.start, jobEnd(j))
      stagesOf(j).foreach(s =>
        out += Span(s"s${s.stageId}", s"j${j.id}", "stage", s.name, op, s.start, math.max(s.start, s.end)))
    }
    out.toSeq
  }

  /** Self time of every span: its duration minus what its children cover. */
  lazy val selfMs: Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> Stats.selfTime((s.start, s.end),
      kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).toMap
  }

  private def sumStages(js: Seq[JobRec])(f: StageAgg => Double): Double =
    js.flatMap(stagesOf).map(f).sum

  /** One ledger row per op: where its time and work went. */
  def rows(codegenByOp: Map[String, Long]): Seq[Map[String, Any]] = {
    val jobsByOp = inWindow.groupBy(opOfJob)
    val execsByOp = rec.execs.values.toSeq.groupBy(opOfExec)
    ops.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil)
      val plans = execsByOp.getOrElse(o.id, Nil).flatMap(x => rec.plans.get(x.id))
      Map[String, Any](
        "op" -> o.id, "kind" -> o.kind, "name" -> o.name, "ok" -> o.ok, "error" -> o.error,
        "wall_ms" -> o.ms, "self_ms" -> selfMs.getOrElse(o.id, 0L),
        "jobs" -> js.size, "stages" -> js.map(stagesOf(_).size).sum,
        "tasks" -> sumStages(js)(_.tasks), "cpu_ms" -> sumStages(js)(_.cpuNs / 1e6),
        "run_ms" -> sumStages(js)(_.runMs), "shuffle_read_bytes" -> sumStages(js)(_.shuffleRead),
        "shuffle_write_bytes" -> sumStages(js)(_.shuffleWrite),
        "analysis_ms" -> plans.map(_.analysisMs).sum,
        "optimization_ms" -> plans.map(_.optimizationMs).sum,
        "planning_ms" -> plans.map(_.planningMs).sum,
        "codegen_compiles" -> codegenByOp.getOrElse(o.id, -1L),
        "modules" -> js.groupBy(rec.jobModule).map { case (m, g) => m -> g.size }) ++
        o.parts.map { case (k, v) => s"part.$k" -> v }
    }
  }

  /** Per-layer metrics. Counts and times are per `unit` (one battery
    * pass for the query workloads, one timed micro-batch for the CDC
    * workloads); ratios and peaks are not divided. */
  def metrics(units: Double, codegenCompiles: Long, phase: Map[String, Double]): Map[String, Double] = {
    val wall = (window._2 - window._1).toDouble
    val ivs = inWindow.map(j => (j.start, jobEnd(j)))
    val st = inWindow.flatMap(stagesOf)
    def per(x: Double) = x / units
    val skew = st.filter(_.durations.size >= 2).map { s =>
      val med = Stats.median(s.durations.map(_.toDouble).toSeq)
      if (med > 0) s.durations.max / med else 1.0
    }
    val execs = rec.execs.values.filter(x => x.start >= window._1 && x.start <= window._2).toSeq
    val plans = execs.flatMap(x => rec.plans.get(x.id))
    val byModule = inWindow.groupBy(rec.jobModule)
    val modules = Seq("queries", "ops", "sources", "streaming", "cdc", "bench").flatMap { m =>
      val js = byModule.getOrElse(m, Nil)
      Seq(s"$m.jobs" -> per(js.size.toDouble),
        s"$m.job_ms" -> per(js.map(j => (jobEnd(j) - j.start).toDouble).sum))
    }
    val phaseJobs = inWindow.filter(_.props.get(Attribution.PhaseKey).contains("build"))
    val queryOps = ops.filter(_.kind == "query")
    Map(
      "spark.jobs" -> per(inWindow.size.toDouble),
      "spark.stages" -> per(st.size.toDouble),
      "spark.tasks" -> per(st.map(_.tasks).sum.toDouble),
      "spark.job_ms" -> per(ivs.map(i => (i._2 - i._1).toDouble).sum),
      "spark.no_job_ms" -> per(wall - Stats.coveredWithin(window, ivs)),
      "spark.task_run_ms" -> per(st.map(_.runMs).sum.toDouble),
      "spark.task_cpu_ms" -> per(st.map(_.cpuNs).sum / 1e6),
      "spark.gc_ms" -> per(st.map(_.gcMs).sum.toDouble),
      "spark.slot_busy" -> st.map(_.runMs).sum / (wall * slots),
      "spark.shuffle_write_bytes" -> per(st.map(_.shuffleWrite).sum.toDouble),
      "spark.shuffle_read_bytes" -> per(st.map(_.shuffleRead).sum.toDouble),
      "spark.shuffle_wait_ms" -> per(st.map(_.fetchWaitMs).sum.toDouble),
      "spark.spill_bytes" -> per(st.map(_.spill).sum.toDouble),
      "spark.stage_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.input_bytes" -> per(st.map(_.inputBytes).sum.toDouble),
      "spark.output_bytes" -> per(st.map(_.outputBytes).sum.toDouble),
      "spark.output_rows" -> per(st.map(_.outputRows).sum.toDouble),
      "spark.cache_bytes_peak" -> rec.cacheBytesPeak.toDouble,
      "plan.actions" -> per(execs.count(_.root).toDouble),
      "plan.analysis_ms" -> per(plans.map(_.analysisMs).sum.toDouble),
      "plan.optimization_ms" -> per(plans.map(_.optimizationMs).sum.toDouble),
      "plan.planning_ms" -> per(plans.map(_.planningMs).sum.toDouble),
      "plan.codegen_compiles" -> per(codegenCompiles.toDouble),
      "queries.build_ms" -> per(queryOps.map(_.parts.getOrElse("build_ms", 0.0)).sum),
      "queries.exec_ms" -> per(queryOps.map(_.parts.getOrElse("exec_ms", 0.0)).sum),
      "queries.build_jobs" -> per(phaseJobs.size.toDouble)
    ) ++ modules ++ streamingMetrics ++ sinkMetrics(phase)
  }

  /** Bytes and rows the micro-batches wrote, per byte and per row event
    * of change input. */
  private def sinkMetrics(phase: Map[String, Double]): Map[String, Double] = {
    val kinds = ops.map(o => o.id -> o.kind).toMap
    val st = inWindow.filter(j => kinds.get(opOfJob(j)).contains("batch")).flatMap(stagesOf)
    val inBytes = phase.getOrElse("sink.input_bytes", 0.0)
    val events = phase.getOrElse("sink.events", 0.0)
    Map(
      "sink.write_amp" -> (if (inBytes > 0) st.map(_.outputBytes).sum / inBytes else 0.0),
      "sink.rewrite_ratio" -> (if (events > 0) st.map(_.outputRows).sum / events else 0.0))
  }

  private def streamingMetrics: Map[String, Double] = {
    val batches = ops.filter(_.kind == "batch")
    val timed = batches.filter(_.parts.getOrElse("timed", 0.0) > 0)
    if (timed.isEmpty) return Seq("source_ms", "plan_ms", "handler_ms", "commit_ms",
      "first_batch_ms", "handler_jobs", "handler_no_job_ms").map(k => s"streaming.$k" -> 0.0).toMap
    def mean(f: Op => Double) = timed.map(f).sum / timed.size
    def p(o: Op, k: String) = o.parts.getOrElse(k, 0.0)
    val jobsByOp = inWindow.groupBy(opOfJob)
    val noJob = timed.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).map(j => (j.start, jobEnd(j)))
      math.max(0.0, p(o, "addBatch") - Stats.coveredWithin((o.start, o.end), js))
    }
    Map(
      "streaming.source_ms" -> mean(o => p(o, "latestOffset") + p(o, "getBatch")),
      "streaming.plan_ms" -> mean(o => p(o, "queryPlanning")),
      "streaming.handler_ms" -> mean(o => p(o, "addBatch")),
      "streaming.commit_ms" -> mean(o => p(o, "walCommit") + p(o, "commitOffsets")),
      "streaming.first_batch_ms" -> batches.filter(_.parts.getOrElse("timed", 0.0) == 0)
        .map(_.ms).headOption.getOrElse(0.0),
      "streaming.handler_jobs" -> mean(o => jobsByOp.getOrElse(o.id, Nil).size.toDouble),
      "streaming.handler_no_job_ms" -> noJob.sum / noJob.size)
  }
}
