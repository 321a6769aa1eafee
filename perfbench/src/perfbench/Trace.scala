package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` links spans into one tree per run:
  * workload > operation > build / action > spark.job > spark.stage,
  * with streaming.batch (and its phases) under the build of a stream
  * row. Times are epoch milliseconds as doubles, the clock every Spark
  * listener event uses. */
final case class Span(id: Long, parent: Long, layer: String,
    name: String, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Span recorder plus the Spark listeners that close spans from engine
  * events. The benchmark opens spans around each call it makes into a
  * layer (operation, build, action); Spark's listener buses deliver the
  * engine side (jobs, stages, tasks, query-execution phases, streaming
  * progress) asynchronously, and [[finish]] links those to the
  * benchmark spans by time containment once the buses have drained.
  *
  * Untraced runs never construct a Tracer: no listener is registered. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private def nowMs: Double = System.currentTimeMillis().toDouble +
    (System.nanoTime() % 1000000L) / 1e6

  def open(layer: String, name: String): Span = {
    val s = Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L),
      layer, name, nowMs, Double.NaN)
    spans += s; stack.push(s); s
  }

  def close(s: Span): Unit = {
    s.end = nowMs
    while (stack.nonEmpty && (stack.pop() ne s)) {}
  }

  def within[T](layer: String, name: String)(body: => T): T = {
    val s = open(layer, name)
    try body finally close(s)
  }

  // ---- engine events (listener threads) ----

  final case class JobEv(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class StageEv(id: Int, attempt: Int, submit: Long, done: Long)
  final case class TaskEv(stage: Int, attempt: Int, launch: Long,
      ok: Boolean, runMs: Long, cpuNs: Long, shRead: Long, shWrite: Long,
      spill: Long, peakMem: Long)
  /** one action: its Catalyst phases as (name, start, end) epoch ms */
  final case class QeEv(phases: Seq[(String, Double, Double)], graftNodes: Int) {
    def ms(k: String): Double =
      phases.filter(_._1 == k).map(p => p._3 - p._2).sum
  }
  final case class BatchEv(end: Double, rows: Long, phases: Map[String, Long],
      stateRows: Long, stateMem: Long, stateCommit: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val qes = new ConcurrentLinkedQueue[QeEv]()
  private val batches = new ConcurrentLinkedQueue[BatchEv]()
  private val stageSubmit =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, JobEv(e.jobId, e.time, -1L, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val sub = i.submissionTime.getOrElse(
        stageSubmit.getOrDefault((i.stageId, i.attemptNumber()), 0L))
      stages.add(StageEv(i.stageId, i.attemptNumber(), sub,
        i.completionTime.getOrElse(sub)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m == null) tasks.add(TaskEv(e.stageId, e.stageAttemptId,
        info.launchTime, info.successful, 0, 0, 0, 0, 0, 0))
      else tasks.add(TaskEv(e.stageId, e.stageAttemptId, info.launchTime,
        info.successful, m.executorRunTime,
        m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (k, p) =>
        (k, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val graft = try planNodes(qe.executedPlan)
        .count(_.getClass.getName.startsWith("graft.")) catch { case _: Throwable => 0 }
      qes.add(QeEv(phases, graft))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(BatchEv(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.durationMs.asScala.get("triggerExecution").map(_.toLong).getOrElse(0L),
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener buses, unregister, and turn the collected engine
    * events into spans linked under the benchmark's own spans. Returns
    * the aggregate engine counters for the per-layer metrics. */
  def finish(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)

    val ops = spans.filter(_.layer != "workload").sortBy(_.start)
    /** innermost benchmark span containing t */
    def enclosing(t: Double): Long = {
      val c = ops.filter(s => s.start <= t && t <= s.end)
      if (c.isEmpty) spans.headOption.map(_.id).getOrElse(0L)
      else c.maxBy(_.start).id
    }
    def add(layer: String, name: String, start: Double, end: Double,
        parent: Long): Span = {
      val s = Span(ids.incrementAndGet(), parent, layer, name, start, end)
      spans += s; s
    }
    // streaming batches and their phases sit under the stream row's build
    val batchSpans = batches.asScala.toSeq.map { b =>
      val trig = b.phases.getOrElse("triggerExecution", 0L).toDouble
      val bs = add("streaming", "streaming.batch", b.end - trig, b.end,
        enclosing(b.end - trig / 2))
      var t = bs.start
      Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
          "addBatch", "commitOffsets").foreach { k =>
        b.phases.get(k).filter(_ > 0).foreach { d =>
          add("streaming", s"streaming.$k", t, t + d, bs.id); t += d
        }
      }
      bs
    }
    // Catalyst phases of each action, from its planning tracker
    qes.asScala.foreach(_.phases.foreach { case (k, st, en) =>
      add("plans", s"plans.$k", st, en, enclosing((st + en) / 2))
    })
    // jobs under the innermost benchmark span (or streaming batch),
    // stages under their job
    val stageByJob = mutable.Map.empty[Int, Long]
    val jobList = jobs.values().asScala.toSeq.filter(_.end >= 0).sortBy(_.start)
    jobList.foreach { j =>
      val mid = (j.start + j.end) / 2.0
      val parent = batchSpans.find(b => b.start <= mid && mid <= b.end)
        .map(_.id).getOrElse(enclosing(mid))
      val js = add("spark", "spark.job", j.start.toDouble, j.end.toDouble, parent)
      j.stages.foreach(st => stageByJob.getOrElseUpdate(st, js.id))
    }
    val stageList = stages.asScala.toSeq
    stageList.foreach { st =>
      add("spark", "spark.stage", st.submit.toDouble, st.done.toDouble,
        stageByJob.getOrElse(st.id, enclosing(st.submit.toDouble)))
    }

    val ts = tasks.asScala.toSeq
    val qs = qes.asScala.toSeq
    val bs = batches.asScala.toSeq
    def bsum(k: String) = bs.map(_.phases.getOrElse(k, 0L)).sum.toDouble
    val waits = ts.map { t =>
      math.max(0L, t.launch - stageSubmit.getOrDefault((t.stage, t.attempt), t.launch))
    }
    Map(
      "spark.jobs" -> jobList.size.toDouble,
      "spark.stages" -> stageList.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "spark.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "spark.task_wait_ms" -> waits.sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> ts.map(_.shWrite).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.peak_exec_mem_bytes" ->
        (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble),
      "spark.task_failures" -> ts.count(!_.ok).toDouble,
      "spark.stage_retries" -> stageList.count(_.attempt > 0).toDouble,
      "plans.actions" -> qs.size.toDouble,
      "plans.analysis_ms" -> qs.map(_.ms("analysis")).sum,
      "plans.optimization_ms" -> qs.map(_.ms("optimization")).sum,
      "plans.planning_ms" -> qs.map(_.ms("planning")).sum,
      "plans.graft_exec_nodes" -> qs.map(_.graftNodes).sum.toDouble,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.input_rows" -> bs.map(_.rows).sum.toDouble,
      "streaming.add_batch_ms" -> bsum("addBatch"),
      "streaming.wal_commit_ms" -> bsum("walCommit"),
      "streaming.commit_offsets_ms" -> bsum("commitOffsets"),
      "streaming.query_planning_ms" -> bsum("queryPlanning"),
      "streaming.get_batch_ms" -> bsum("getBatch"),
      "streaming.latest_offset_ms" -> bsum("latestOffset"),
      "streaming.trigger_ms" -> bsum("triggerExecution"),
      "streaming.state_rows" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateRows).max.toDouble),
      "streaming.state_mem_bytes" -> (if (bs.isEmpty) 0.0 else bs.map(_.stateMem).max.toDouble),
      "streaming.state_commit_ms" -> bs.map(_.stateCommit).sum.toDouble)
  }

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0; var end = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Self time per layer: each span's duration minus the part of it
    * its child spans cover, summed over the layer's spans. */
  def selfTimeByLayer: Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)).toSeq,
          s.start, s.end)
      }.sum
    }.toSeq.sortBy(-_._2)
  }

  /** Time of an operation span covered by no Spark job: its driver-side
    * time. */
  def driverSelfMs(op: Span): Double = {
    val kids = spans.groupBy(_.parent)
    def jobsUnder(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).toSeq
      .flatMap(c => if (c.name == "spark.job") Seq(c) else jobsUnder(c))
    op.dur - covered(jobsUnder(op).map(j => (j.start, j.end)), op.start, op.end)
  }
}

/** JVM-level counters read from the platform MX beans. */
object JvmStats {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
  /** CPU time of the whole process (all threads, JIT and GC included) */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }
  def jitMs: Long = jit.getTotalCompilationTime
  def codeCacheMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0
  /** peak resident set of this process (VmHWM), in MB */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
