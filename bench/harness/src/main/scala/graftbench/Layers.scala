package graftbench

import scala.collection.mutable.ArrayBuffer

/** Per-layer metrics of a traced run.
  *
  * Layers are named after the graft modules the benchmark calls into:
  * `sources` (reader calls: `Sources`, and the schema-inference and
  * listing jobs `Tables` runs inside a build), `operators` (the query or
  * `Etl` function building its DataFrame, eager build-time jobs
  * included), `plan` (Catalyst analysis, optimization and planning of the
  * action, from its `QueryExecution.tracker`), `exec` (the action less its
  * planning), `sinks` (the `Sinks` write calls) and `harness` (time in an
  * op outside every layer call). A span's self time is its time less the
  * time its child spans cover. The listener's and the planner's spans
  * come as millisecond timestamps, so each is clipped to its parent and to
  * the siblings before it: the self times then partition each op's root
  * span. Their sum, `trace.attributed_s`, is checked against the traced
  * pass's run time, measured around the root spans, in `bench/run.py`.
  *
  * Every metric comes from the pass whose traced run time is the (lower)
  * median over the run's passes, so counts and times describe one pass;
  * `run_s.traced` is that pass's traced time. The trace's overhead is the
  * mean traced pass time less the mean untraced one (`run_s.untraced`).
  */
object Layers {

  /** A job a reader call runs (parquet schema inference, parallel file
    * listing): its call site is a DataFrameReader method called from
    * outside the sinks.
    */
  private val ReaderJob = "^(parquet|json|csv|orc|text|load) at (?!Sinks\\.scala).*".r

  def isReader(j: JobRec): Boolean = ReaderJob.matches(j.name)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  def summarize(a: Main.Args, run: Main.Run, runs: Seq[Main.OpRun],
      trainingSpans: Seq[Int], sessionStart: Seq[Double], training: Double): Map[String, Double] = {
    val rec = run.recorder
    val tr = run.tracer
    val spans = tr.spans.toIndexedSeq
    def totals(traced: Boolean) =
      runs.filter(_.traced == traced).groupBy(_.pass).map { case (p, rs) => p -> rs.map(_.secs).sum }
    val tracedTotals = totals(true)
    val (pass, tracedRun) = tracedTotals.toSeq.sortBy(_._2).apply((tracedTotals.size - 1) / 2)
    // overhead over every pass: each op ran traced first in half of them
    val untracedMean = totals(false).values.sum / totals(false).size
    val overhead = tracedTotals.values.sum / tracedTotals.size - untracedMean
    val passRuns = runs.filter(r => r.traced && r.pass == pass)
    val opIds = passRuns.map(_.opId).toSet

    val allJobs = rec.synchronized(rec.jobs.toIndexedSeq)
    val allTasks = rec.synchronized(rec.tasks.toIndexedSeq)
    val stageJob = rec.synchronized(rec.stageJob.toMap)
    val stageSubmit = rec.synchronized(rec.stageSubmitMs.toMap)
    def spanOf(j: JobRec): Option[Span] =
      if (j.marker != null || j.span < 0 || j.span >= spans.size) None else Some(spans(j.span))
    val jobs = allJobs.filter(j => spanOf(j).exists(s => opIds(s.op)))
    val jobById = jobs.map(j => j.id -> j).toMap
    val tasks = allTasks.filter(t => stageJob.get(t.stage).exists(jobById.contains))
    def tasksOf(js: Seq[JobRec]) = {
      val ids = js.map(_.id).toSet
      tasks.filter(t => ids(stageJob(t.stage)))
    }

    // spans of the pass, plus the children only the listener and the
    // planner tracker can see: reader jobs inside other layers' calls and
    // the planning phases inside each action
    val passSpans = spans.filter(s => opIds(s.op))
    val extra = ArrayBuffer.empty[Span]
    for (j <- jobs if isReader(j) && j.endMs >= 0; s <- spanOf(j) if s.layer != "sources")
      extra += Span(-1, s.id, s.op, "read.job", "sources", tr.fromEpochMs(j.startMs), tr.fromEpochMs(j.endMs))
    // a phase belongs to the innermost span it ran in: analysis of the
    // returned DataFrame runs inside the operator's build call, the rest
    // inside the action
    val opSpans = passSpans.groupBy(_.op)
    for (p <- run.plans if p.span < spans.size && opIds(spans(p.span).op); (ph, s, e) <- p.phases) {
      val (from, to) = (tr.fromEpochMs(s), tr.fromEpochMs(e))
      val mid = (from + to) / 2
      val op = spans(p.span).op
      val parent = opSpans(op).filter(x => x.start <= mid && mid < x.end)
        .sortBy(-_.start).headOption.map(_.id).getOrElse(p.span)
      extra += Span(-1, parent, op, s"plan.$ph", "plan", from, to)
    }
    val self = Tracer.selfTimes(passSpans, extra.toSeq)
    def selfS(l: String) = self.getOrElse(l, 0L) / 1e9

    val readerJobs = jobs.filter(isReader)
    val buildJobs = jobs.filter(j => !isReader(j) && spanOf(j).exists(_.layer == "operators"))
    val execJobs = jobs.filter(j => !isReader(j) && spanOf(j).exists(s => s.layer == "exec" || s.layer == "sinks"))
    val sinkJobs = jobs.filter(j => spanOf(j).exists(_.layer == "sinks"))
    val execStages = execJobs.flatMap(_.stages).filter(stageSubmit.contains).distinct
    val execTasks = tasksOf(execJobs)
    val mb = 1024.0 * 1024.0
    val taskS = tasks.map(_.runMs).sum / 1e3
    val readMb = tasks.map(_.inBytes).sum / mb
    val writeMb = tasksOf(sinkJobs).map(_.outBytes).sum / mb
    val trainingIds = trainingSpans.toSet

    Map(
      "session.start_s" -> median(sessionStart),
      "training.s" -> training,
      "training.jobs" -> allJobs.count(j => trainingIds(j.span) && j.marker == null).toDouble,
      "read.s" -> selfS("sources"),
      "read.jobs" -> readerJobs.size.toDouble,
      "read.rows" -> tasks.map(_.inRecords).sum.toDouble,
      "read.mb" -> readMb,
      "build.s" -> selfS("operators"),
      "build.jobs" -> buildJobs.size.toDouble,
      "plan.s" -> selfS("plan"),
      "plan.exchanges" -> run.plans.filter(p => opIds(spans(p.span).op)).map(_.exchanges).sum.toDouble,
      "plan.rdd_scans" -> run.plans.filter(p => opIds(spans(p.span).op)).map(_.rddScans).sum.toDouble,
      "exec.s" -> selfS("exec"),
      "exec.jobs" -> execJobs.size.toDouble,
      "exec.stages" -> execStages.size.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.core_util" -> taskS / (tracedRun * a.cores),
      "exec.sched_wait_s" -> tasks.groupBy(_.stage).map { case (st, ts) =>
        (ts.map(_.launchMs).min - stageSubmit.getOrElse(st, Long.MaxValue)).max(0L) }.sum / 1e3,
      "exec.empty_task_ratio" -> (if (tasks.isEmpty) 0.0 else
        tasks.count(t => t.inRecords == 0 && t.shuffleRecords == 0).toDouble / tasks.size),
      "exec.shuffle_write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
      "exec.shuffle_read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
      "exec.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "exec.task_failures" -> tasks.count(_.failed).toDouble,
      "write.s" -> selfS("sinks"),
      "write.files" -> passRuns.map(_.files).sum.toDouble,
      "write.mb" -> writeMb,
      "write.amp" -> (if (readMb > 0) writeMb / readMb else 0.0),
      "harness.s" -> selfS("harness"),
      "jvm.gc_s" -> passRuns.map(_.gcMs).sum / 1e3,
      "cache.rdds_left" -> passRuns.map(_.rddsLeft).max.toDouble,
      "run_s.traced" -> tracedRun,
      "trace.attributed_s" -> self.values.sum / 1e9,
      "run_s.untraced" -> untracedMean,
      "trace.overhead_s" -> overhead)
  }
}
