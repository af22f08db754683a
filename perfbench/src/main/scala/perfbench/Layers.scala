package perfbench

import scala.collection.mutable

/** Turns a traced run's spans and listener events into per-layer figures
  * (each a per-round mean over the traced rounds, so it compares with
  * `wall_s`) and into the span tree written to trace.json. */
object Layers {
  val families = Seq("text")
  val indexOps = Seq("save", "append", "delete", "upsert", "compact", "probe",
    "snapshot", "restore", "audit")
  /** Op kinds of the two workloads; driver share and jobs are also
    * reported per kind, so one workload's op groups compare. */
  val kinds = Seq("analytics", "iterative", "write", "probe", "audit", "batch")

  final case class Attributed(op: Long, jobs: Seq[Recorder#Job],
      stages: Seq[Recorder#Stage], tasks: Seq[Recorder#Task])

  private def attribute(rec: Recorder, ops: Map[Long, (Double, Double)])
      : (Map[Long, Attributed], Map[Int, Boolean]) = {
    def owner(job: Recorder#Job): Option[Long] =
      if (job.group.startsWith("op-"))
        job.group.stripPrefix("op-").takeWhile(_ != '.').toLongOption
          .filter(ops.contains)
      else if (job.group == "perfbench-drain") None
      else ops.collectFirst { case (id, (s, e)) if job.start >= s && job.start <= e => id }
    val jobOwner = rec.jobs.values.toSeq.flatMap(j => owner(j).map(j -> _))
    val build = jobOwner.map { case (j, _) => j.id -> j.group.endsWith(".build") }.toMap
    val stageJob = jobOwner.flatMap { case (j, op) => j.stages.map(_ -> op) }.toMap
    val byOp = ops.keys.map { op =>
      val js = jobOwner.collect { case (j, o) if o == op => j }
      val ss = rec.stages.toSeq.filter(s => stageJob.get(s.id).contains(op))
      val ts = rec.tasks.toSeq.filter(t => stageJob.get(t.stage).contains(op))
      op -> Attributed(op, js, ss, ts)
    }.toMap
    (byOp, build)
  }

  private def opIntervals(rec: Recorder): Map[Long, (Double, Double)] =
    rec.spans.filter(_.layer == "op").map(s => s.op -> (s.start, s.end)).toMap

  private def median(xs: Seq[Double]) = Workloads.percentile(xs, 0.5)

  def compute(rec: Recorder, samples: Seq[Sample],
      rounds: Seq[(Int, Double, Boolean)], cores: Int): Map[String, Double] = {
    val traced = samples.filter(_.traced)
    val nRounds = math.max(1, rounds.count(_._3)).toDouble
    val ops = opIntervals(rec)
    val (att, build) = attribute(rec, ops)
    val all = att.values.toSeq
    val tasks = all.flatMap(_.tasks)
    val wall = ops.values.map { case (s, e) => e - s }.sum
    def inOps(at: Double) = ops.values.exists { case (s, e) => at >= s && at <= e }
    val phases = rec.phases.toSeq.filter(p => inOps(p.at))
    val progress = rec.progress.toSeq.filter(p => inOps(p.at))
    def perRound(x: Double) = x / nRounds
    val kindOf = traced.map(s => s.op -> s.kind).toMap
    def driverOf(a: Attributed) = {
      val (s, e) = ops(a.op)
      (e - s) - Intervals.within(a.stages.map(st => (st.start, st.end)), s, e)
    }
    val driver = all.map(driverOf).sum
    val skews = all.flatMap { a =>
      a.stages.sortBy(s => s.start - s.end).headOption.flatMap { longest =>
        val ds = a.tasks.filter(_.stage == longest.id).map(_.dur)
        val med = median(ds)
        if (ds.isEmpty || med <= 0) None else Some(ds.max / med)
      }
    }
    val jobSum = all.map(_.jobs.map(j => j.end - j.start).sum).sum
    val jobUnion = all.map(a => Intervals.union(a.jobs.map(j => (j.start, j.end)))).sum
    def dur(k: String) = perRound(progress.map(_.durations.getOrElse(k, 0.0)).sum / 1e3)
    val kindTasks = (k: String) => all.filter(a =>
      traced.exists(s => s.op == a.op && s.kind == k)).flatMap(_.tasks)
    val probeInput = kindTasks("probe").map(_.inRecords).sum.toDouble
    val probeRows = traced.filter(_.kind == "probe").map(_.rows).sum.toDouble
    val tracedWalls = rounds.filter(_._3).map(_._2 / 1e3)
    val plainWalls = rounds.filterNot(_._3).map(_._2 / 1e3)

    val m = mutable.LinkedHashMap[String, Double](
      "queries.build_s" -> perRound(rec.spans.filter(_.layer == "queries")
        .map(_.dur).sum / 1e3),
      "queries.build_jobs" -> perRound(all.flatMap(_.jobs).count(j => build(j.id))),
      "plans.analysis_s" -> perRound(phases.map(_.analysis).sum / 1e3),
      "plans.optimization_s" -> perRound(phases.map(_.optimization).sum / 1e3),
      "plans.physical_s" -> perRound(phases.map(_.physical).sum / 1e3),
      "operators.jobs" -> perRound(all.map(_.jobs.size).sum),
      "operators.stages" -> perRound(all.map(_.stages.size).sum),
      "operators.tasks" -> perRound(tasks.size),
      "operators.driver_s" -> perRound(driver / 1e3),
      "operators.driver_share" -> (if (wall > 0) driver / wall else 0.0),
      "operators.task_s" -> perRound(tasks.map(_.dur).sum / 1e3),
      "operators.cpu_s" -> perRound(tasks.map(_.cpu).sum / 1e3),
      "operators.sched_delay_s" -> perRound(tasks.map(_.sched).sum / 1e3),
      "operators.busy_share" -> (if (wall > 0) tasks.map(_.run).sum / (wall * cores) else 0.0),
      "operators.skew" -> median(skews),
      "operators.shuffle_write_bytes" -> perRound(tasks.map(_.shWrite).sum),
      "operators.shuffle_read_bytes" -> perRound(tasks.map(_.shRead).sum),
      "operators.shuffle_records" -> perRound(tasks.map(_.shRecords).sum),
      "operators.spill_bytes" -> perRound(tasks.map(_.spill).sum),
      "operators.gc_s" -> perRound(tasks.map(_.gc).sum / 1e3),
      "sources.input_bytes" -> perRound(tasks.map(_.inBytes).sum),
      "sources.input_records" -> perRound(tasks.map(_.inRecords).sum),
      "sources.scan_tasks" -> perRound(tasks.count(_.inRecords > 0)),
      "core.job_overlap" -> (if (jobUnion > 0) jobSum / jobUnion else 0.0))
    for (k <- kinds) {
      val of = all.filter(a => kindOf.get(a.op).contains(k))
      val kWall = of.map { a => val (s, e) = ops(a.op); e - s }.sum
      m(s"operators.$k.driver_share") = if (kWall > 0) of.map(driverOf).sum / kWall else 0.0
      m(s"operators.$k.jobs") = perRound(of.map(_.jobs.size).sum)
    }
    for (f <- families; o <- indexOps)
      m(s"index.$f.${o}_s") = perRound(traced.filter(s => s.family == f &&
        s.name.stripPrefix(s"$f.").takeWhile(_ != '_') == o).map(_.sec).sum)
    m("index.bytes_written") = perRound(kindTasks("write").map(_.outBytes).sum)
    m("index.probe_rows_per_result") =
      if (probeRows > 0) probeInput / probeRows else 0.0
    m ++= Seq(
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.get_batch_s" -> dur("getBatch"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> (dur("walCommit") + dur("commitOffsets")),
      "streaming.input_rows" -> perRound(progress.map(_.inputRows).sum),
      "streaming.state_rows" -> progress.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_bytes" -> progress.map(_.stateBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.late_rows_dropped" -> perRound(progress.map(_.dropped).sum),
      "sinks.output_rows" -> perRound(kindTasks("batch").map(_.outRecords).sum),
      "sinks.output_bytes" -> perRound(kindTasks("batch").map(_.outBytes).sum),
      "trace.wall_s" -> median(tracedWalls),
      "trace.overhead_s" -> (if (plainWalls.isEmpty) 0.0
        else median(tracedWalls) - median(plainWalls)))
    m.toMap
  }

  /** The span tree: op -> build / plan / job -> stage, plus streaming
    * triggers, each with its self time (duration minus the part of it
    * its children cover). */
  def spansJson(rec: Recorder, samples: Seq[Sample]): Seq[Map[String, Any]] = {
    val traced = samples.filter(_.traced)
    val ops = opIntervals(rec)
    val (att, _) = attribute(rec, ops)
    val out = mutable.ArrayBuffer.empty[Span]
    var next = 1L << 40
    def add(parent: Long, op: Long, layer: String, name: String, s: Double,
        e: Double, attrs: Map[String, Double] = Map.empty): Long = {
      next += 1
      out += Span(next, parent, op, layer, name, s, e, attrs)
      next
    }
    for (opSpan <- rec.spans.filter(_.layer == "op")) {
      val (op, s, e) = (opSpan.op, opSpan.start, opSpan.end)
      val root = add(-1, op, "op", opSpan.name, s, e)
      val parts = traced.filter(_.op == op)
      if (parts.size > 1) parts.foreach(p => add(root, op, "streaming", p.name, p.start, p.end))
      rec.spans.filter(c => c.op == op && c.layer != "op")
        .foreach(c => add(root, op, c.layer, c.name, c.start, c.end))
      rec.phases.filter(p => p.at >= s && p.at <= e).foreach { p =>
        add(root, op, "plans", "plan", p.at, p.at + p.analysis + p.optimization +
          p.physical, Map("analysis_ms" -> p.analysis,
            "optimization_ms" -> p.optimization, "physical_ms" -> p.physical))
      }
      att.get(op).foreach { a =>
        a.jobs.foreach { j =>
          val jid = add(root, op, "core", s"job ${j.id}", j.start, j.end)
          a.stages.filter(st => j.stages.contains(st.id)).foreach { st =>
            val ts = a.tasks.filter(_.stage == st.id)
            add(jid, op, "operators", s"stage ${st.id}", st.start, st.end,
              Map("tasks" -> ts.size.toDouble, "task_ms" -> ts.map(_.dur).sum))
          }
        }
      }
    }
    val children = out.groupBy(_.parent)
    out.toSeq.map { sp =>
      val cover = Intervals.within(children.getOrElse(sp.id, Nil).toSeq
        .map(c => (c.start, c.end)), sp.start, sp.end)
      Map("id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op, "layer" -> sp.layer,
        "name" -> sp.name, "start_ms" -> sp.start, "end_ms" -> sp.end,
        "self_ms" -> (sp.dur - cover), "attrs" -> sp.attrs)
    }
  }
}
