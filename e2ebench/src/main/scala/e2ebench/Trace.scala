package e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{E2eBenchBridge, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is 0 for a root span; `run` names
  * the setup step or timed iteration the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Summed task metrics. */
final class TaskTotals {
  var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, fetchWaitMs,
      spill, input, output = 0L

  def add(m: TaskMetrics): Unit = synchronized {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    input += m.inputMetrics.bytesRead
    output += m.outputMetrics.bytesWritten
  }

  def snapshot: TaskTotals = synchronized {
    val s = new TaskTotals
    s.tasks = tasks; s.runMs = runMs; s.cpuNs = cpuNs; s.gcMs = gcMs
    s.shuffleWrite = shuffleWrite; s.shuffleRead = shuffleRead
    s.fetchWaitMs = fetchWaitMs; s.spill = spill; s.input = input; s.output = output
    s
  }

  def minus(o: TaskTotals): TaskTotals = {
    val s = new TaskTotals
    s.tasks = tasks - o.tasks; s.runMs = runMs - o.runMs; s.cpuNs = cpuNs - o.cpuNs
    s.gcMs = gcMs - o.gcMs; s.shuffleWrite = shuffleWrite - o.shuffleWrite
    s.shuffleRead = shuffleRead - o.shuffleRead; s.fetchWaitMs = fetchWaitMs - o.fetchWaitMs
    s.spill = spill - o.spill; s.input = input - o.input; s.output = output - o.output
    s
  }
}

final case class JobRec(id: Int, span: Long, startMs: Long,
                        @volatile var endMs: Long = -1L)
final case class StageRec(id: Int, job: Int, submitMs: Long, endMs: Long, tasks: Int)
/** One finished query execution with its Catalyst phase intervals
  * (name, start ms, end ms). */
final case class ExecRec(endMs: Long, func: String,
                         phases: Seq[(String, Long, Long)], failed: Boolean) {
  def phaseMs(p: String): Long =
    phases.collect { case (`p`, s, e) => e - s }.sum
}

/** Spark-side recorder. Always counts tasks and their metrics (the
  * end-to-end `cpu_s` needs them) and keeps the latest `observe()`
  * values; with `traced` it also keeps jobs, stages and Catalyst phase
  * times. */
final class Probe(traced: Boolean) extends SparkListener with QueryExecutionListener {
  val started = new AtomicLong
  val ended = new AtomicLong
  val totals = new TaskTotals
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageJob = new ConcurrentHashMap[Integer, Integer]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()
  private val observed = new ConcurrentHashMap[String, Map[String, Long]]()

  /** Latest value of each named `observe()` metric set. */
  def observedMetrics: Map[String, Map[String, Long]] = observed.asScala.toMap
  def clearObserved(): Unit = observed.clear()

  override def onTaskStart(e: SparkListenerTaskStart): Unit = started.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) totals.add(m)
    ended.incrementAndGet()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val rec = JobRec(e.jobId, prop(Tracer.SpanProp).map(_.toLong).getOrElse(0L), e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (traced) {
    val si = e.stageInfo
    stages.add(StageRec(si.stageId, Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1),
      si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.numTasks))
  }

  private def record(func: String, qe: QueryExecution, failed: Boolean): Unit = {
    qe.observedMetrics.foreach { case (name, row) =>
      observed.put(name, row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) 0L else row.get(i).asInstanceOf[Number].longValue)
      }.toMap)
    }
    if (traced) {
      val ph = qe.tracker.phases.toSeq.map { case (p, s) => (p, s.startTimeMs, s.endTimeMs) }
      execs.add(ExecRec(System.currentTimeMillis, func, ph, failed))
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
    record(func, qe, failed = false)

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    record(func, qe, failed = true)
}

/** Benchmark-side spans around calls into the program. With tracing
  * off `span` only runs its body. A span id is set as a Spark local
  * property while the span is open, so a job started inside it can be
  * hung under it. Spans stay in memory until [[dump]]. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  /** Spans are recorded while this is set; a traced run clears it for
    * the untraced iterations it times for the overhead figure. */
  @volatile var enabledNow: Boolean = enabled
  private val nextId = new AtomicLong(1)
  private val recorded = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile var run: String = "setup"
  // epoch-ms → nanoTime conversion for listener timestamps
  private val epoch0Ms = System.currentTimeMillis
  private val nano0 = System.nanoTime
  def msToNs(ms: Long): Long = nano0 + (ms - epoch0Ms) * 1000000L

  val probe = new Probe(enabled)
  private val sc: SparkContext = spark.sparkContext
  sc.addSparkListener(probe)
  spark.listenerManager.register(probe)

  def span[A](name: String)(body: => A): A =
    if (!enabledNow) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = System.nanoTime
      try body
      finally {
        val t1 = System.nanoTime
        stack.set(stack.get.tail)
        sc.setLocalProperty(Tracer.SpanProp, prev)
        recorded.synchronized { recorded += Span(id, parent, name, run, t0, t1) }
      }
    }

  /** Run `body` with span recording off. */
  def off[A](body: => A): A = {
    val saved = enabledNow
    enabledNow = false
    try body finally enabledNow = saved
  }

  def spans: Seq[Span] = recorded.synchronized(recorded.toList)

  /** Wait for every posted listener event and every started task. */
  def drain(): Unit = {
    E2eBenchBridge.drainListeners(sc)
    val deadline = System.nanoTime + 2000000000L
    while (probe.started.get != probe.ended.get && System.nanoTime < deadline)
      Thread.sleep(2)
  }

  /** Benchmark spans plus one span per Spark job (under the benchmark
    * span that was open when it started) and per stage (under its
    * job), as JSON. */
  def dump(workload: String, seed: Long): String = {
    drain()
    val own = spans
    val ids = new AtomicLong(nextId.get + 1)
    val jobSpanIds = scala.collection.mutable.Map.empty[Int, Long]
    val runOf = own.map(s => s.id -> s.run).toMap
    val jobSpans = probe.jobs.values.asScala.toSeq.sortBy(_.id).flatMap { j =>
      if (j.endMs < 0) None
      else {
        val id = ids.getAndIncrement(); jobSpanIds(j.id) = id
        Some(Span(id, j.span, s"exec.job", runOf.getOrElse(j.span, "setup"),
          msToNs(j.startMs), msToNs(j.endMs)))
      }
    }
    val stageSpans = probe.stages.asScala.toSeq.flatMap { st =>
      jobSpanIds.get(st.job).filter(_ => st.submitMs >= 0 && st.endMs >= 0).map { p =>
        Span(ids.getAndIncrement(), p, "exec.stage",
          jobSpans.find(_.id == p).map(_.run).getOrElse("setup"),
          msToNs(st.submitMs), msToNs(st.endMs))
      }
    }
    val planSpans = probe.execs.asScala.toSeq.flatMap(_.phases).map { case (p, s, e) =>
      // phases carry no thread; hang each under the innermost
      // benchmark span whose interval holds the phase's start
      val startNs = msToNs(s)
      val holder = own.filter(o => o.startNs <= startNs && startNs <= o.endNs)
        .sortBy(o => o.endNs - o.startNs).headOption
      Span(ids.getAndIncrement(), holder.map(_.id).getOrElse(0L), s"plan.$p",
        holder.map(_.run).getOrElse("setup"), startNs, msToNs(e))
    }
    val all = (own ++ jobSpans ++ stageSpans ++ planSpans).sortBy(_.startNs)
    val rows = all.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "run" -> s.run,
      "start_s" -> (s.startNs - nano0) / 1e9, "end_s" -> (s.endNs - nano0) / 1e9))
    Harness.json(ListMap("workload" -> workload, "seed" -> seed, "spans" -> rows))
  }
}

object Tracer {
  val SpanProp = "e2ebench.span"
}
