package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run → operation → phase → job → stage, with
  * streaming batches under their operation. Times are epoch microseconds. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Long, end: Long)

/** The traced run's collectors, all attached from the benchmark's side:
  * a SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phases and rule times from the planning tracker), a
  * StreamingQueryListener (micro-batch progress) and the CodegenMetrics
  * compile counter. Jobs and stages are attributed to the operation and
  * phase through local properties the harness sets before each call;
  * planner and streaming events, which carry no properties, are
  * attributed by operation window and by query id. Everything stays in
  * memory until the run reads it. */
final class Trace(sc: org.apache.spark.SparkContext) {
  import Trace._

  private val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSpans = mutable.Map.empty[Int, Span]
  private val jobPhase = mutable.Map.empty[Int, String]
  private val stageOp = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val queryOp = mutable.Map.empty[java.util.UUID, String]
  private val plannerEvents = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  @volatile private var currentOp: String = null

  private def add(op: String, key: String, v: Double): Unit =
    if (op != null) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }
  private def max(op: String, key: String, v: Double): Unit =
    if (op != null) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = math.max(m.getOrElse(key, 0.0), v)
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
      val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
      if (op != null) {
        jobSpans(e.jobId) = Span(s"job-${e.jobId}", s"$op/$phase", "job",
          s"job ${e.jobId}", e.time * 1000, e.time * 1000)
        jobPhase(e.jobId) = phase
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        add(op, "scheduler.jobs", 1)
        if (phase == "build") add(op, "core.build_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpans.get(e.jobId).foreach { s =>
        val done = s.copy(end = e.time * 1000)
        jobSpans(e.jobId) = done
        spans += done
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val op = Option(e.properties).map(_.getProperty(OpKey)).orNull
      if (op != null) stageOp(e.stageInfo.stageId) = op
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val info = e.stageInfo
      stageOp.get(info.stageId).foreach { op =>
        add(op, "scheduler.stages", 1)
        for (a <- info.submissionTime; b <- info.completionTime)
          spans += Span(s"stage-${info.stageId}.${info.attemptNumber()}",
            stageJob.get(info.stageId).map(j => s"job-$j").getOrElse(op),
            "stage", s"stage ${info.stageId} (${info.numTasks} tasks)", a * 1000, b * 1000)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val op = stageOp.get(e.stageId).orNull
      val m = e.taskMetrics
      if (op != null && m != null) {
        add(op, "scheduler.tasks", 1)
        add(op, "executor.run_s", m.executorRunTime / 1e3)
        add(op, "executor.cpu_s", m.executorCpuTime / 1e9)
        add(op, "executor.gc_s", m.jvmGCTime / 1e3)
        add(op, "executor.deser_s", m.executorDeserializeTime / 1e3)
        max(op, "executor.peak_mem_mb", m.peakExecutionMemory / MB)
        add(op, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(op, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(op, "shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        add(op, "shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        add(op, "shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(op, "spill.mem_bytes", m.memoryBytesSpilled.toDouble)
        add(op, "spill.disk_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val phases = t.phases
      val graftRules = t.rules.filter(_._1.startsWith("graft.plans."))
      val start = if (phases.isEmpty) System.currentTimeMillis()
        else phases.values.map(_.startTimeMs).min
      val v = Map(
        "catalyst.analysis_s" -> phases.get("analysis").map(_.durationMs / 1e3).getOrElse(0.0),
        "catalyst.optimization_s" ->
          phases.get("optimization").map(_.durationMs / 1e3).getOrElse(0.0),
        "catalyst.planning_s" -> phases.get("planning").map(_.durationMs / 1e3).getOrElse(0.0),
        "plans.graft_rule_s" -> graftRules.values.map(_.totalTimeNs).sum / 1e9,
        "plans.graft_rule_effective" ->
          graftRules.values.map(_.numEffectiveInvocations).sum.toDouble)
      Trace.this.synchronized { plannerEvents += ((start * 1000, v)) }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized { queryOp(e.id) = currentOp }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val op = queryOp.get(p.id).orNull
        if (op != null) {
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
          val trigger = d.getOrElse("triggerExecution", 0.0)
          add(op, "streaming.batches", 1)
          add(op, "streaming.input_rows", p.numInputRows.toDouble)
          add(op, "streaming.trigger_s", trigger)
          add(op, "streaming.add_batch_s", d.getOrElse("addBatch", 0.0))
          add(op, "streaming.query_planning_s", d.getOrElse("queryPlanning", 0.0))
          add(op, "streaming.offset_s",
            Seq("latestOffset", "getOffset", "setOffsetRange", "getEndOffset", "getBatch")
              .map(d.getOrElse(_, 0.0)).sum)
          add(op, "streaming.wal_commit_s", d.getOrElse("walCommit", 0.0))
          add(op, "streaming.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
          val state = p.stateOperators.toSeq
          add(op, "streaming.state_commit_s", state.map(_.commitTimeMs).sum / 1e3)
          max(op, s"state_rows/${p.id}", state.map(_.numRowsTotal).sum.toDouble)
          max(op, s"state_mem_mb/${p.id}", state.map(_.memoryUsedBytes).sum / MB)
          val start = java.time.Instant.parse(p.timestamp)
          val startUs = start.getEpochSecond * 1000000L + start.getNano / 1000
          spans += Span(s"batch-${p.id}-${p.batchId}", op, "batch",
            s"batch ${p.batchId}", startUs, startUs + (trigger * 1e6).toLong)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sessions = mutable.ArrayBuffer.empty[SparkSession]

  /** Listens to the shared context and to `session`, whose planner and
    * streaming events are per session. */
  def attach(session: SparkSession): Unit = {
    if (sessions.isEmpty) sc.addSparkListener(sparkListener)
    session.listenerManager.register(planListener)
    session.streams.addListener(streamListener)
    sessions += session
  }

  /** Drains the listener bus, then detaches every listener. */
  def detach(): Unit = {
    org.apache.spark.perfbench.BusDrain(sc)
    sc.removeSparkListener(sparkListener)
    sessions.foreach { s =>
      s.listenerManager.unregister(planListener)
      s.streams.removeListener(streamListener)
    }
    sessions.clear()
  }

  /** Marks the operation the next events belong to (null between ops). */
  def enter(op: String): Unit = currentOp = op

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Per-operation counters after the bus has drained: planner events are
    * assigned to the operation whose window holds their start. */
  def countersFor(op: String, window: (Long, Long)): Map[String, Double] = synchronized {
    val base = counters.getOrElse(op, mutable.Map.empty).toMap
    val planner = plannerEvents.filter { case (t, _) => t >= window._1 && t <= window._2 }
      .map(_._2).foldLeft(Map.empty[String, Double]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0.0) + v) }
      }
    val opJobs = jobSpans.values.filter(_.parent.startsWith(op + "/")).toSeq
    val buildJobs = opJobs.filter(j => jobPhase.get(j.id.stripPrefix("job-").toInt)
      .contains("build")).map(j => (j.start, j.end))
    val stateRows = base.collect { case (k, v) if k.startsWith("state_rows/") => v }.sum
    val stateMem = base.collect { case (k, v) if k.startsWith("state_mem_mb/") => v }.sum
    base.filter { case (k, _) => !k.contains('/') } ++ planner ++ Map(
      "core.build_job_s" -> Stats.unionLength(buildJobs) / 1e6,
      "driver.gap_s" ->
        Stats.selfTime(window._1, window._2, opJobs.map(j => (j.start, j.end))) / 1e6,
      "streaming.state_rows" -> stateRows,
      "streaming.state_mem_mb" -> stateMem)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val MB: Double = 1024.0 * 1024.0
}
