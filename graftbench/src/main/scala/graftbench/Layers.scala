package graftbench

/** Turns a traced pass into the per-layer metrics named in
  * BENCHMARK.json and the per-query detail kept in the artifact. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Ancestor chain of a span, nearest first. */
  private def ancestors(tr: Trace, id: Int): Iterator[Span] =
    Iterator.iterate(if (id >= 0) Some(tr.spans(id)) else None)(
      _.flatMap(s => if (s.parent >= 0) Some(tr.spans(s.parent)) else None))
      .takeWhile(_.isDefined).map(_.get)

  /** Scheduler, shuffle and storage counters over a set of stages. */
  def scheduler(tr: Trace, accs: Seq[StageAcc], jobs: Long, wallMs: Double,
                cores: Int): Map[String, Double] = {
    val skews = accs.filter(_.taskRunMs.size >= 2).flatMap { a =>
      val med = median(a.taskRunMs.map(_.toDouble).toSeq)
      if (med > 0) Some(a.taskRunMs.max / med) else None
    }
    val cpuS = accs.map(_.cpuNs).sum / 1e9
    Map(
      "scheduler.jobs" -> jobs.toDouble,
      "scheduler.stages" -> accs.size.toDouble,
      "scheduler.tasks" -> accs.map(_.tasks).sum.toDouble,
      "scheduler.task_deser_s" -> accs.map(_.deserMs).sum / 1e3,
      "scheduler.task_run_s" -> accs.map(_.runMs).sum / 1e3,
      "scheduler.task_cpu_s" -> cpuS,
      "scheduler.cpu_busy_frac" -> (if (wallMs > 0) cpuS / (wallMs / 1e3 * cores) else 0.0),
      "scheduler.stage_skew" -> median(skews),
      "scheduler.task_failures" -> accs.map(_.failures).sum.toDouble,
      "shuffle.write_bytes" -> accs.map(_.shWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> accs.map(_.shReadBytes).sum.toDouble,
      "shuffle.write_records" -> accs.map(_.shWriteRecords).sum.toDouble,
      "shuffle.write_time_s" -> accs.map(_.shWriteNs).sum / 1e9,
      "shuffle.fetch_wait_s" -> accs.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mem_bytes" -> accs.map(_.spillMem).sum.toDouble,
      "shuffle.spill_disk_bytes" -> accs.map(_.spillDisk).sum.toDouble,
      "storage.cached_bytes_peak" -> tr.cachedBytesPeak.toDouble,
      "storage.blocks_cached" -> tr.blocksEver.size.toDouble)
  }

  def jvm(gcS: Double, jitS: Double, heapPeakMb: Double): Map[String, Double] =
    Map("jvm.gc_s" -> gcS, "jvm.jit_s" -> jitS, "jvm.heap_used_peak_mb" -> heapPeakMb)

  /** Catalyst phases of the actions whose analysis started inside a
    * span of `kind` (the final actions of a batch pass), or of every
    * action seen while attached. */
  def catalyst(tr: Trace, kind: Option[String]): Map[String, Double] = {
    val inSpan = tr.synchronized(tr.catalyst.toSeq).filter { case (t, _, _, _) =>
      kind.forall(tr.spanAt(_, t).isDefined) }
    Map("catalyst.analysis_s" -> inSpan.map(_._2).sum / 1e3,
      "catalyst.optimization_s" -> inSpan.map(_._3).sum / 1e3,
      "catalyst.planning_s" -> inSpan.map(_._4).sum / 1e3)
  }

  def batch(tr: Trace, runs: Seq[Main.QueryRun], wallMs: Double, cores: Int,
            gcS: Double, jitS: Double, heapPeakMb: Double,
            sessionBuildS: Double): Map[String, Double] = {
    val accs = tr.stageAccs
    val buildS = runs.map(_.buildS).sum
    val buildJobs = tr.synchronized(tr.jobSpan.values.toSeq)
      .count(id => ancestors(tr, id).exists(_.kind == "build")).toDouble
    Map(
      "api.session_build_s" -> sessionBuildS,
      "entry.build_s" -> buildS,
      "entry.build_jobs" -> buildJobs,
      "entry.build_share" -> buildS / math.max(1e-9, runs.map(_.wallS).sum),
      "sql.dialect_build_s" -> runs.filter(r => Main.dialectQueries(r.name)).map(_.buildS).sum,
      "sql.job_start_s" -> 0.0,
      "sql.job_stop_s" -> 0.0) ++
      catalyst(tr, Some("action")) ++ scheduler(tr, accs, tr.jobs, wallMs, cores) ++
      jvm(gcS, jitS, heapPeakMb)
  }

  /** Per-query split of the traced pass: build/action walls, jobs,
    * tasks, task time, shuffle and Catalyst phases. */
  def perQuery(tr: Trace): Map[String, Map[String, Double]] = {
    val accs = tr.stageAccs
    val qe = tr.synchronized(tr.catalyst.toSeq)
    val jobIds = tr.synchronized(tr.jobSpan.toSeq)
    tr.spans.filter(_.kind == "query").map { q =>
      def under(id: Int, kind: String) = ancestors(tr, id).exists(s => s.kind == kind && s.parent == q.id)
      def inQuery(id: Int) = ancestors(tr, id).exists(_.id == q.id)
      val qAccs = accs.filter(a => tr.jobSpan.get(a.jobId).exists(inQuery))
      val action = tr.spans.find(s => s.kind == "action" && s.parent == q.id)
      val qQe = qe.filter { case (t, _, _, _) => action.exists(a => a.startMs <= t && t <= a.endMs) }
      def dur(kind: String) = tr.spans.find(s => s.kind == kind && s.parent == q.id)
        .map(s => (s.endMs - s.startMs) / 1e3).getOrElse(0.0)
      q.name -> Map(
        "build_s" -> dur("build"), "action_s" -> dur("action"),
        "build_jobs" -> jobIds.count { case (_, id) => under(id, "build") }.toDouble,
        "action_jobs" -> jobIds.count { case (_, id) => under(id, "action") }.toDouble,
        "stages" -> qAccs.size.toDouble,
        "tasks" -> qAccs.map(_.tasks).sum.toDouble,
        "task_deser_s" -> qAccs.map(_.deserMs).sum / 1e3,
        "task_cpu_s" -> qAccs.map(_.cpuNs).sum / 1e9,
        "task_run_s" -> qAccs.map(_.runMs).sum / 1e3,
        "shuffle_write_bytes" -> qAccs.map(_.shWriteBytes).sum.toDouble,
        "shuffle_read_bytes" -> qAccs.map(_.shReadBytes).sum.toDouble,
        "spill_disk_bytes" -> qAccs.map(_.spillDisk).sum.toDouble,
        "analysis_s" -> qQe.map(_._2).sum / 1e3,
        "optimization_s" -> qQe.map(_._3).sum / 1e3,
        "planning_s" -> qQe.map(_._4).sum / 1e3)
    }.toMap
  }

  /** The stream job's spans, job › batch › phase, from its progress
    * reports. Progress carries phase durations, not start times, so the
    * phases are laid end to end in execution order. Spark jobs that
    * started inside a batch are re-parented under it. */
  def streamSpans(tr: Trace, query: String, startMs: Double, endMs: Double): Unit = tr.synchronized {
    val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    val job = Span(tr.spans.size, -1, "stream_job", query, startMs, endMs)
    tr.spans += job
    val sparkJobs = tr.spans.filter(s => s.kind == "job" && s.parent == -1).toSeq
    tr.progress.filter(_.name == query).foreach { p =>
      val b0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      val batch = Span(tr.spans.size, job.id, "batch", s"batch ${p.batchId}", b0, b0 + dur)
      tr.spans += batch
      var t = b0
      order.foreach { k =>
        Option(p.durationMs.get(k)).map(_.doubleValue).foreach { d =>
          tr.spans += Span(tr.spans.size, batch.id, "phase", k, t, t + d)
          t += d
        }
      }
      sparkJobs.filter(j => j.startMs >= b0 && j.startMs <= b0 + dur).foreach { j =>
        tr.spans(j.id) = j.copy(parent = batch.id)
      }
    }
  }

  /** Every span with its self time, for the artifact. */
  def spanRecords(tr: Trace): Seq[Map[String, Any]] = {
    val self = tr.selfMs()
    tr.synchronized(tr.spans.toSeq).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> self.getOrElse(s.id, 0.0)))
  }
}
