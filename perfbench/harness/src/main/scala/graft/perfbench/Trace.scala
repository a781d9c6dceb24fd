package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call as the harness saw it (epoch milliseconds). */
final case class CallSpan(id: String, pass: Int, name: String, module: String,
                          start: Double, built: Double, end: Double)

/** JVM counters read the same way with tracing on or off. */
object JvmBeans {
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)

  def gc: (Long, Long) = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foldLeft((0L, 0L)) { case ((n, t), b) =>
      (n + math.max(0L, b.getCollectionCount), t + math.max(0L, b.getCollectionTime)) }

  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap in use right after a full collection: the live set. */
  def liveHeapMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** The traced run's collectors: a SparkListener (jobs, stages, tasks, SQL
  * executions), a QueryExecutionListener (planning phases), Spark's
  * codegen counters and the JVM's MXBeans. Everything stays in memory;
  * `report` turns it into per-layer metrics and the span tree once the
  * timed region is over.
  */
final class Trace(spark: SparkSession, cores: Int) {
  import Trace._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val phases = mutable.ArrayBuffer[Phases]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      jobs += Job(e.jobId,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L),
        e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      stages((i.stageId, i.attemptNumber())) = Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(System.currentTimeMillis()), 0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate((i.stageId, i.attemptNumber()),
        Stage(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L), 0L))
      s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = Option(e.taskMetrics)
      def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        e.reason == Success,
        g(_.executorRunTime), g(_.executorCpuTime), g(_.jvmGCTime),
        g(_.shuffleWriteMetrics.bytesWritten), g(_.shuffleReadMetrics.totalBytesRead),
        g(_.shuffleReadMetrics.fetchWaitTime), g(_.memoryBytesSpilled),
        g(_.diskBytesSpilled), g(_.peakExecutionMemory),
        g(_.inputMetrics.bytesRead), g(_.inputMetrics.recordsRead),
        g(_.outputMetrics.bytesWritten), g(_.outputMetrics.recordsWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execs(s.executionId) = Exec(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.description, s.details,
            s.time, s.time)
        case s: SparkListenerSQLExecutionEnd =>
          execs.get(s.executionId).foreach(_.end = s.time)
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val at = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      Trace.this.synchronized {
        phases += Phases(at, d("analysis"), d("optimization"), d("planning"))
      }
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val hugeLimit = 8000
  private def hugeSamples: Long = CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE
    .getSnapshot.getValues.count(_ > hugeLimit).toLong
  private var passBase = Array.emptyDoubleArray
  private val counted = Array.fill(6)(0.0)
  private var codeCacheMb = 0.0

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** JIT ms, GC count, GC ms, codegen ns, codegen classes, huge methods. */
  private def counters: Array[Double] = {
    val (gcN, gcT) = JvmBeans.gc
    Array(JvmBeans.jitMs.toDouble, gcN.toDouble, gcT.toDouble,
      CodeGenerator.compileTime.toDouble,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, hugeSamples.toDouble)
  }

  /** The JVM and codegen counters are summed over the passes' calls only:
    * a reading before a pass's first call and one after its last.
    */
  def passStart(): Unit = passBase = counters

  def passEnd(): Unit = {
    val now = counters
    for (i <- counted.indices) counted(i) += math.max(0.0, now(i) - passBase(i))
    codeCacheMb = JvmBeans.codeCacheMb
  }

  /** Per-layer metrics and spans. `calls` are the timed calls; `batches`
    * the stream progress of every drain.
    */
  def report(calls: Seq[CallSpan], batches: Seq[Map[String, Any]])
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    val jvm = Map(
      "jvm.jit_compile_ms" -> counted(0),
      "jvm.code_cache_used_mb" -> codeCacheMb,
      "jvm.gc_count" -> counted(1),
      "jvm.gc_ms" -> counted(2),
      "codegen.compile_ms" -> counted(3) / 1e6,
      "codegen.classes" -> counted(4),
      "codegen.huge_methods" -> counted(5))
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { derive(calls, batches, jvm) }
  }

  private def within(c: CallSpan, t: Double) = t >= c.start - 1 && t <= c.end + 1
  private def callAt(calls: Seq[CallSpan], t: Double) = calls.find(within(_, t))

  private def derive(calls: Seq[CallSpan], batches: Seq[Map[String, Any]],
                     jvm: Map[String, Double])
      : (Map[String, Double], Seq[Map[String, Any]]) = {
    val ids = calls.map(_.id).toSet
    // a job belongs to the call whose job group it carries; jobs of the
    // stream execution thread carry the query's own group, so they fall
    // back to the call whose time window they started in
    val jobCall: Map[Int, CallSpan] = jobs.flatMap { j =>
      (if (ids(j.group)) calls.find(_.id == j.group) else callAt(calls, j.start.toDouble))
        .map(j.id -> _)
    }.toMap
    val ourJobs = jobs.filter(j => jobCall.contains(j.id))
    val stageCall: Map[Int, CallSpan] =
      ourJobs.flatMap(j => j.stages.map(_ -> jobCall(j.id))).toMap
    val ourTasks = tasks.filter(t => stageCall.contains(t.stage))
    val ourStages = stages.values.filter(s => stageCall.contains(s.id) && s.submitted > 0).toSeq
    val ourExecs = execs.values.filter(e => callAt(calls, e.start.toDouble).isDefined).toSeq
    val ourPhases = phases.filter(p => callAt(calls, p.at.toDouble).isDefined)
    val callMs = calls.map(c => c.end - c.start).sum
    val mb = 1048576.0
    def sum(f: Task => Long): Double = ourTasks.map(f).sum.toDouble

    val stageSubmit = stages.values.groupBy(_.id).map { case (k, v) => k -> v.map(_.submitted).min }
    val exec = Map(
      "exec.jobs" -> ourJobs.size.toDouble,
      "exec.stages" -> ourStages.size.toDouble,
      "exec.tasks" -> ourTasks.size.toDouble,
      "exec.task_run_ms" -> sum(_.run),
      "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
      "exec.task_gc_ms" -> sum(_.gc),
      "exec.sched_wait_ms" -> ourTasks.map(t =>
        math.max(0L, t.launch - stageSubmit.getOrElse(t.stage, t.launch))).sum.toDouble,
      "exec.slot_util" -> (if (callMs > 0) sum(_.run) / (callMs * cores) else 0.0),
      "exec.shuffle_write_mb" -> sum(_.shW) / mb,
      "exec.shuffle_read_mb" -> sum(_.shR) / mb,
      "exec.shuffle_fetch_wait_ms" -> sum(_.fetchWait),
      "exec.spill_mem_mb" -> sum(_.spillMem) / mb,
      "exec.spill_disk_mb" -> sum(_.spillDisk) / mb,
      "exec.peak_exec_mem_mb" -> (if (ourTasks.isEmpty) 0.0 else ourTasks.map(_.peakMem).max / mb),
      "exec.task_success_ratio" -> (if (ourTasks.isEmpty) 1.0
        else ourTasks.count(_.ok).toDouble / ourTasks.size),
      "exec.stage_retries" -> ourStages.count(_.attempt > 0).toDouble,
      "io.input_mb" -> sum(_.inB) / mb,
      "io.input_rows" -> sum(_.inRows),
      "io.output_mb" -> sum(_.outB) / mb,
      "io.output_rows" -> sum(_.outRows))

    val plan = Map(
      "plan.executions" -> ourPhases.size.toDouble,
      "plan.analysis_ms" -> ourPhases.map(_.analysis).sum.toDouble,
      "plan.optimization_ms" -> ourPhases.map(_.optimization).sum.toDouble,
      "plan.planning_ms" -> ourPhases.map(_.planning).sum.toDouble)

    val artifact = Map(
      "artifact.build_s" -> calls.map(c => c.built - c.start).sum / 1000.0,
      "artifact.build_jobs" -> ourJobs.count(j => jobCall.get(j.id).exists(c =>
        c.built > c.start && j.start >= c.start - 1 && j.start <= c.built + 1)).toDouble)

    // Each root SQL execution of an Etl.run call is named by the output it
    // writes, read from its call site: the silver zone (Sinks.overwriteByMonth),
    // the warehouse CTAS (Sinks.saveTable), and the two Sinks.exportCsv calls
    // (an empty-guard count and a CSV write each) — the first from Etl.run is
    // the warehouse export, the second the summary.
    val etl = mutable.LinkedHashMap[String, Double](Seq("etl.silver_write_s",
      "etl.warehouse_ctas_s", "etl.export_s", "etl.summary_s", "etl.driver_s").map(_ -> 0.0): _*)
    val etlLine = "Etl\\.scala:\\d+".r
    calls.filter(_.module == "Etl").foreach { c =>
      val roots = ourExecs.filter(e => e.id == e.root && within(c, e.start.toDouble))
        .sortBy(_.start)
      val exportSites = roots.filter(_.details.contains("Sinks$.exportCsv"))
        .flatMap(e => etlLine.findFirstIn(e.details)).distinct
      roots.foreach { e =>
        val name =
          if (e.details.contains("Sinks$.overwriteByMonth")) Some("etl.silver_write_s")
          else if (e.details.contains("Sinks$.saveTable")) Some("etl.warehouse_ctas_s")
          else if (e.details.contains("Sinks$.exportCsv"))
            etlLine.findFirstIn(e.details).map(l =>
              if (exportSites.indexOf(l) == 0) "etl.export_s" else "etl.summary_s")
          else None
        name.foreach(n => etl(n) += (e.end - e.start) / 1000.0)
      }
      etl("etl.driver_s") += (c.end - c.start -
        Trace.covered(c.start, c.end, roots.map(e => (e.start.toDouble, e.end.toDouble)))) / 1000.0
    }

    val modules = Seq("Resample", "Rolling", "Microstructure", "Joins", "Sessions",
      "Stats", "Similarity", "Ivf", "TextAnalysis", "Tokenizer", "Clustering", "Pipeline")
    val ops = modules.map(m => s"ops.${m}_s" ->
      calls.filter(_.module == m).map(c => c.end - c.start).sum / 1000.0).toMap

    def bsum(k: String): Double = batches.map(_(k).toString.toDouble).sum
    def bmax(k: String): Double = if (batches.isEmpty) 0.0 else batches.map(_(k).toString.toDouble).max
    val stream = Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.latest_offset_ms" -> bsum("latest_offset_ms"),
      "stream.get_batch_ms" -> bsum("get_batch_ms"),
      "stream.query_planning_ms" -> bsum("query_planning_ms"),
      "stream.add_batch_ms" -> bsum("add_batch_ms"),
      "stream.wal_commit_ms" -> bsum("wal_commit_ms"),
      "stream.commit_offsets_ms" -> bsum("commit_offsets_ms"),
      "stream.state_rows" -> bmax("state_rows"),
      "stream.state_mem_mb" -> bmax("state_mem_bytes") / mb,
      "stream.useful_batch_ratio" -> (if (batches.isEmpty) 0.0
        else batches.count(_("input_rows").toString.toLong > 0).toDouble / batches.size))

    // spans: pass → call → SQL execution → job → stage; self time of a
    // layer is its spans' time not covered by their children
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    def span(id: String, parent: String, kind: String, name: String, s: Double, e: Double) =
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e)
    val passes = calls.groupBy(_.pass).toSeq.sortBy(_._1)
    span("w", "", "workload", "workload", calls.map(_.start).min, calls.map(_.end).max)
    passes.foreach { case (p, cs) =>
      span(s"p$p", "w", "pass", s"pass $p", cs.map(_.start).min, cs.map(_.end).max) }
    calls.foreach(c => span(c.id, s"p${c.pass}", "call", c.name, c.start, c.end))
    ourExecs.foreach { e =>
      val parent = if (e.root != e.id && execs.contains(e.root)) s"sql${e.root}"
        else callAt(calls, e.start.toDouble).map(_.id).getOrElse("")
      span(s"sql${e.id}", parent, "sql", e.desc.take(80), e.start.toDouble, e.end.toDouble)
    }
    val execIds = ourExecs.map(_.id).toSet
    ourJobs.foreach { j =>
      val parent = if (execIds(j.execId)) s"sql${j.execId}" else jobCall(j.id).id
      span(s"job${j.id}", parent, "job", s"job ${j.id}", j.start.toDouble, j.end.toDouble)
    }
    val stageJob = ourJobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
    ourStages.foreach { s =>
      span(s"stage${s.id}.${s.attempt}", s"job${stageJob(s.id)}", "stage", s"stage ${s.id}",
        s.submitted.toDouble, math.max(s.submitted, s.completed).toDouble)
    }
    val children = spans.groupBy(_("parent").toString)
    def d(m: Map[String, Any], k: String) = m(k).asInstanceOf[Double]
    val selfMs = spans.groupBy(_("kind").toString).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = children.getOrElse(s("id").toString, mutable.ArrayBuffer.empty[Map[String, Any]]).toSeq
          .map(k => (d(k, "start_ms"), d(k, "end_ms")))
        d(s, "end_ms") - d(s, "start_ms") - Trace.covered(d(s, "start_ms"), d(s, "end_ms"), kids)
      }.sum
    }
    val self = Seq("pass", "call", "sql", "job", "stage")
      .map(k => s"self.${k}_s" -> selfMs.getOrElse(k, 0.0) / 1000.0).toMap

    (jvm ++ exec ++ plan ++ artifact ++ etl ++ ops ++ stream ++ self, spans.toSeq)
  }
}

object Trace {
  private[perfbench] final case class Job(id: Int, group: String, execId: Long, start: Long,
                               var end: Long, stages: Seq[Int])
  private[perfbench] final case class Stage(id: Int, attempt: Int, var submitted: Long,
                                 var completed: Long)
  private[perfbench] final case class Exec(id: Long, root: Long, desc: String,
                                           details: String, start: Long,
                                var end: Long)
  private[perfbench] final case class Task(stage: Int, launch: Long, finish: Long, ok: Boolean,
                                run: Long, cpuNs: Long, gc: Long, shW: Long,
                                shR: Long, fetchWait: Long, spillMem: Long,
                                spillDisk: Long, peakMem: Long, inB: Long,
                                inRows: Long, outB: Long, outRows: Long)
  private[perfbench] final case class Phases(at: Long, analysis: Long, optimization: Long,
                                  planning: Long)

  /** Length of the part of [s, e] covered by the union of `iv`. */
  def covered(s: Double, e: Double, iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur = s
    iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, cur)
        if (b > from) { total += b - from; cur = b }
      }
    total
  }
}
