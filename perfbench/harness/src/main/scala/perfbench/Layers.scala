package perfbench

/** Turns a traced pass into the per-layer rows: workload totals, one row
  * per catalog entry (or per request kind on qa_service), the tracing
  * overhead against the untraced pass, and the span tree with self times. */
object Layers {

  /** Counters summed over operations, in report order. */
  val Summed: Seq[String] = Seq(
    "core.build_jobs", "catalyst.analysis_s", "catalyst.optimization_s",
    "catalyst.planning_s", "plans.graft_rule_s", "plans.graft_rule_effective",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "driver.gap_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.deser_s",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records", "shuffle.write_s",
    "shuffle.fetch_wait_s", "spill.mem_bytes", "spill.disk_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.trigger_s",
    "streaming.add_batch_s", "streaming.query_planning_s", "streaming.offset_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.state_commit_s",
    "streaming.state_rows", "streaming.state_mem_mb", "core.build_job_s")

  def report(workload: String, ops: Seq[Op], trace: Trace, compiles: Long, cpus: Int,
      untracedWall: Double, heapPeakMb: Double, spansOut: Option[String]): Map[String, Any] = {
    val perOp = ops.map(o => o -> trace.countersFor(o.id, (o.start, o.end)))
    def total(k: String) = perOp.map(_._2.getOrElse(k, 0.0)).sum
    val tracedWall = ops.map(_.seconds).sum
    val buildS = ops.map(o => (o.split - o.start) / 1e6)
    val streamOps = perOp.filter(_._2.getOrElse("streaming.batches", 0.0) > 0)
    def p50(f: Op => Boolean) = {
      val xs = ops.filter(f).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def tag(o: Op, k: String) = o.tags.getOrElse(k, "")
    val parseS = ops.map(o => (tag(o, "parse_end"), tag(o, "parse_start")) match {
      case ("", _) | (_, "") => 0.0
      case (e, s) => (e.toLong - s.toLong) / 1e6
    })
    val layers = Summed.map(k => k -> total(k)).toMap ++ Map(
      "queries.build_s" -> buildS.sum,
      "queries.action_s" -> ops.map(o => (o.end - o.split) / 1e6).sum,
      "codegen.compiles" -> compiles.toDouble,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "executor.peak_mem_mb" -> perOp.map(_._2.getOrElse("executor.peak_mem_mb", 0.0))
        .foldLeft(0.0)(math.max),
      "executor.busy_ratio" -> total("executor.run_s") / (tracedWall * cpus),
      "streaming.lifecycle_s" -> streamOps.map { case (o, c) =>
        (o.split - o.start) / 1e6 - c.getOrElse("streaming.trigger_s", 0.0) }.sum,
      "sources.parse_s" -> parseS.sum,
      "service.ask_hit_p50_s" -> p50(o => tag(o, "hit") == "true"),
      "service.ask_miss_p50_s" -> p50(o => tag(o, "hit") == "false"),
      "service.mapreduce_p50_s" -> p50(o => tag(o, "pipeline") == "mapreduce"),
      "service.truncation_p50_s" -> p50(o => tag(o, "pipeline") == "truncation"),
      "trace.overhead_ratio" -> (tracedWall / untracedWall - 1.0),
      "trace.untraced_wall_s" -> untracedWall,
      "trace.traced_wall_s" -> tracedWall)

    // per-entry rows: catalog entries by name, requests by kind
    val rowKey: Op => String =
      if (workload == "qa_service") o => s"${tag(o, "pipeline")}/${
        if (tag(o, "hit") == "true") "hit" else "miss"}"
      else _.name
    val entries = perOp.groupBy { case (o, _) => rowKey(o) }.map { case (k, rows) =>
      val keys = rows.flatMap(_._2.keys).distinct.sorted
      k -> (Map("n" -> rows.size.toDouble,
        "s" -> rows.map(_._1.seconds).sum,
        "queries.build_s" -> rows.map { case (o, _) => (o.split - o.start) / 1e6 }.sum,
        "queries.action_s" -> rows.map { case (o, _) => (o.end - o.split) / 1e6 }.sum) ++
        keys.map(key => key -> rows.map(_._2.getOrElse(key, 0.0)).sum))
    }

    val spans = treeOf(ops, trace)
    spansOut.foreach { path =>
      val children = spans.groupBy(_.parent)
      Json.write(path, spans.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "start_us" -> s.start, "end_us" -> s.end,
          "self_us" -> Stats.selfTime(s.start, s.end, kids))
      })
    }
    Map("layers" -> scala.collection.immutable.TreeMap.from(layers),
      "overhead" -> Map("untraced_wall_s" -> untracedWall, "traced_wall_s" -> tracedWall,
        "ratio" -> (tracedWall / untracedWall - 1.0),
        "base" -> "wall_s of the untraced pass after the traced one"),
      "entries" -> scala.collection.immutable.TreeMap.from(entries))
  }

  /** run → operation → phase spans from the harness, joined with the
    * job, stage and batch spans the listeners recorded. */
  def treeOf(ops: Seq[Op], trace: Trace): Seq[Span] = {
    val run = Span("run", "", "run", "run", ops.map(_.start).min, ops.map(_.end).max)
    val own = ops.flatMap { o =>
      val op = Span(o.id, "run", "op", o.name, o.start, o.end)
      val phases =
        if (o.tags.contains("parse_start")) {
          val ask = Span(s"${o.id}/ask", o.id, "phase", "ask", o.start, o.end)
          val (ps, pe) = (o.tags("parse_start").toLong, o.tags("parse_end").toLong)
          Seq(ask) ++ (if (pe > ps) Seq(Span(s"${o.id}/parse", ask.id, "phase", "parse", ps, pe))
            else Nil)
        } else Seq(
          Span(s"${o.id}/build", o.id, "phase", "build", o.start, o.split),
          Span(s"${o.id}/action", o.id, "phase", "action", o.split, o.end))
      op +: phases
    }
    run +: own ++: trace.allSpans
  }
}
