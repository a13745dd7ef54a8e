package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.metrics.source.CodegenMetrics

/** The traced run's instruments, all observed from outside the program:
  * a `SparkListener` (jobs, stages, tasks, stored blocks), a
  * `QueryExecutionListener` (Catalyst's analysis / optimization /
  * planning phase times per executed query) and snapshots of Spark's
  * codegen counters, counted only between [[resume]] and [[pause]].
  * Events stay in memory; [[summary]] turns them into per-layer metrics
  * and [[writeSpans]] writes one span per operation with its jobs and
  * stages beneath it, all under one run id.
  */
final class Trace private (spark: SparkSession) {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[TaskMetricsRow]()
  private val phases = new ConcurrentLinkedQueue[(String, Long)]()
  @volatile private var blockBytes = 0L
  @volatile private var active = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L),
        i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (active) Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskMetricsRow(e.taskInfo.duration, m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (active) {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        synchronized { blockBytes += b.memSize + b.diskSize }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (active)
      qe.tracker.phases.foreach { case (p, s) => phases.add(p -> s.durationMs) }
  }

  private var compileNs = 0L
  private var compiles = 0L

  /** Starts observing, once every earlier event has been delivered. */
  def resume(): Unit = {
    drain()
    compileNs -= CodeGenerator.compileTime
    compiles -= CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    active = true
  }

  /** Stops observing, once every event so far has been delivered. */
  def pause(): Unit = {
    drain()
    active = false
    compileNs += CodeGenerator.compileTime
    compiles += CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  private def jobsOf(op: Main.Op): Seq[Job] = jobs.values.asScala.toSeq
    .filter(j => j.start >= op.startMs && j.start <= op.endMs)

  /** Operation wall time during which no job of it was running. */
  private def driverMs(op: Main.Op): Long = {
    val spans = jobsOf(op).map(j => (j.start, if (j.end < 0) op.endMs else j.end))
      .sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    spans.foreach { case (s, e) =>
      if (s > cur._2) { if (cur._2 > cur._1) covered += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, math.max(cur._2, e))
    }
    if (cur._2 > cur._1) covered += cur._2 - cur._1
    math.max(0L, op.endMs - op.startMs - covered)
  }

  /** Per-layer metrics, as totals per traced round. */
  def summary(ops: Seq[Main.Op], rounds: Int, cpus: Int): Map[String, Double] = {
    val n = rounds.toDouble
    val ts = tasks.asScala.toSeq
    def tsum(f: TaskMetricsRow => Long) = ts.map(f).sum.toDouble
    val opJobs = ops.map(op => op -> jobsOf(op)).toMap
    val jobIds = opJobs.values.flatten.map(_.id).toSet
    val wallMs = ops.map(o => o.seconds * 1000).sum
    def part(key: String) =
      ops.flatMap(_.parts.collect { case (`key`, v) => v }).sum
    def phase(p: String) = phases.asScala.filter(_._1 == p).map(_._2).sum.toDouble
    def family(members: Set[String]) = ops.filter(o => members(o.name))
    val fams = Trace.families.map { case (f, ms) =>
      s"family.${f}_s" -> family(ms).map(_.seconds).sum / n }
    Map(
      "SparkEntry.build_ms" -> part("build_s") * 1000 / n,
      "plan.analysis_ms" -> phase(QueryPlanningTracker.ANALYSIS) / n,
      "plan.optimization_ms" -> phase(QueryPlanningTracker.OPTIMIZATION) / n,
      "plan.planning_ms" -> phase(QueryPlanningTracker.PLANNING) / n,
      "codegen.compile_ms" -> compileNs / 1e6 / n,
      "codegen.compiles" -> compiles / n,
      "sched.jobs" -> jobIds.size / n,
      "sched.stages" -> stages.asScala.count(s => jobIds(s.job)) / n,
      "sched.tasks" -> ts.size / n,
      "sched.driver_ms" -> ops.map(driverMs).sum / n,
      "sched.task_overhead_ms" -> tsum(t => t.durationMs - t.runMs) / n,
      "exec.task_run_ms" -> tsum(_.runMs) / n,
      "exec.task_cpu_ms" -> tsum(_.cpuNs) / 1e6 / n,
      "exec.gc_ms" -> tsum(_.gcMs) / n,
      "exec.busy_ratio" -> (if (wallMs > 0) tsum(_.runMs) / (wallMs * cpus) else 0.0),
      "exec.input_bytes" -> tsum(_.inputBytes) / n,
      "exec.shuffle_write_bytes" -> tsum(_.shuffleWrite) / n,
      "exec.shuffle_read_bytes" -> tsum(_.shuffleRead) / n,
      "exec.shuffle_fetch_wait_ms" -> tsum(_.fetchWaitMs) / n,
      "exec.spill_bytes" -> tsum(_.spill) / n,
      "exec.peak_task_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
      "storage.block_bytes" -> blockBytes / n,
      "family.iterative_jobs" -> family(Trace.families("iterative"))
        .map(o => opJobs(o).size).sum / n,
      "cli.receive_s" -> part("receive_s") / n,
      "cli.etl_fhir_s" -> part("etl_fhir_s") / n,
      "io.output_bytes" -> tsum(_.outputBytes) / n,
      "io.output_records" -> tsum(_.outputRecords) / n) ++ fams
  }

  /** One span per operation, its jobs under it and their stages under
    * those; every span carries the run id. */
  def writeSpans(path: String, ops: Seq[Main.Op], runId: String): Unit = {
    val opSpans = ops.zipWithIndex.map { case (o, i) =>
      Map("run" -> runId, "span" -> s"op-$i", "parent" -> null,
        "name" -> o.name,
        "start_ms" -> o.startMs, "end_ms" -> o.endMs)
    }
    val jobSpans = ops.zipWithIndex.flatMap { case (o, i) =>
      jobsOf(o).map(j => Map("run" -> runId, "span" -> s"job-${j.id}",
        "parent" -> s"op-$i", "name" -> s"job ${j.id}",
        "start_ms" -> j.start, "end_ms" -> j.end))
    }
    val jobIds = jobSpans.map(_("span")).toSet
    val stageSpans = stages.asScala.toSeq
      .filter(s => jobIds(s"job-${s.job}"))
      .map(s => Map("run" -> runId, "span" -> s"stage-${s.id}",
        "parent" -> s"job-${s.job}", "name" -> s"stage ${s.id}",
        "tasks" -> s.tasks, "start_ms" -> s.start, "end_ms" -> s.end))
    Json.write(path, opSpans ++ jobSpans ++ stageSpans)
  }
}

object Trace {
  private final case class Job(id: Int, start: Long, var end: Long)
  private final case class Stage(id: Int, job: Int, start: Long, end: Long, tasks: Int)
  private final case class TaskMetricsRow(
      durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      inputBytes: Long, outputBytes: Long, outputRecords: Long,
      shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
      spill: Long, peakMem: Long)

  /** The execution-bound query families whose totals the trace reports. */
  val families: Map[String, Set[String]] = Map(
    "iterative" -> Set("q79_cc_chain", "q124_pagerank", "q129_clustering",
      "q131_kcore", "q167_incremental_cc"),
    "containment" -> Set("q20_jaccard", "q147_containment",
      "q175_prefix_filter_join", "q280_containment_recall",
      "q281_curation_neardup", "q282_stratified_containment",
      "q283_stratified_recall"),
    "etl" -> Set("q46_upsert_sample", "q55_fhir_encounters", "q56_fhir_pa",
      "q60_enrollments", "q64_consensus_genome"),
    "mint" -> Set("q34_mint"),
    "percentile" -> Set("q183_equi_depth", "q206_trimmed_mean",
      "q225_latency_stats", "q276_winsorized"))

  /** Registers the listeners, paused. */
  def attach(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t.listener)
    spark.listenerManager.register(t.qeListener)
    t
  }
}
