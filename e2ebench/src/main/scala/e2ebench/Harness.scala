package e2ebench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Options every workload receives from the launcher. */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, work: String, data: String,
                      spawnEpochMs: Long)

/** Wall and executor CPU of one named part of an iteration: a stage
  * of the flow, or one query of the suite. */
final case class Part(name: String, wall: Double, cpu: Double)

/** Measurements of one timed iteration: wall and executor CPU, and the
  * same for each of its parts. `probes` are [[HostProbe.run]] taken
  * just before and just after the iteration. `layers` holds the traced
  * per-layer values of that iteration (empty when tracing is off). */
final case class Iter(wall: Double, cpu: Double, parts: Seq[Part],
                      layers: Map[String, Double] = Map.empty, probes: Seq[Double] = Nil)

/** A probe of how fast the host runs JVM work right now: a fixed
  * single-threaded kernel that calls no program or Spark code. It sorts
  * 2^18 seeded random longs and counts their low 20 bits, as base-36
  * strings, in a `java.util.HashMap`: allocation, hashing, branches and
  * cache misses, as in the workloads. */
object HostProbe {
  /** Untimed runs before the first timed one: the kernel's JIT warm-up. */
  val Warmups = 3

  private def kernel(): Unit = {
    val rnd = new java.util.SplittableRandom(42L)
    val a = Array.fill(1 << 18)(rnd.nextLong())
    java.util.Arrays.sort(a)
    val m = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i < a.length) {
      val k = java.lang.Long.toString(a(i) & 0xfffffL, 36)
      val v = m.get(k)
      m.put(k, if (v == null) 1L else v + 1L)
      i += 1
    }
    sink += m.size
  }

  // keeps the kernel's result live, so the JIT cannot drop the work
  @volatile private var sink = 0

  /** Seconds of the kernel, the better of two runs, so that a GC pause
    * landing in one does not count. */
  def run(): Double = (1 to 2).map { _ =>
    val t0 = System.nanoTime
    kernel()
    (System.nanoTime - t0) / 1e9
  }.min
}

/** What a workload hands back to [[Main]]; `heapMb` is
  * [[Harness.heapRetainedMb]] after the timed iterations. */
final case class Outcome(setupS: Double, cold: Iter, timed: Seq[Iter],
                         untraced: Seq[Iter], heapMb: Double,
                         items: Long, attempted: Long,
                         failed: Long, checks: Seq[String], diag: Map[String, Any])

object Harness {

  private val t0 = System.nanoTime

  /** Progress line on stderr, stamped with seconds since start. */
  def note(msg: String): Unit =
    System.err.println(f"[e2ebench +${(System.nanoTime - t0) / 1e9}%.1fs] $msg")

  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** `v` (Scala maps, sequences, strings and numbers) as JSON. */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"e2ebench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full collection, in MB: what the session
    * keeps alive (caches, primed artifacts, memo maps) between
    * iterations. A peak reading would depend on when G1 happens to
    * collect; this one does not. */
  def heapRetainedMb: Double = {
    // the second collection runs after Spark's ContextCleaner has
    // dropped the blocks the first one made unreachable
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Seconds the JVM has spent in garbage collection and in JIT
    * compilation so far. */
  def jvmTimes: (Double, Double) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wall and executor CPU of the timed iterations relative to the host
    * probe: the median of the probe's seconds over the run, and the
    * median over the timed iterations of their parts' wall and CPU,
    * each divided by it. The host is shared with other tenants and its
    * speed drifts by up to 1.5x over minutes; the probe slows with it,
    * so the ratio keeps what the program sets. */
  def relative(iters: Seq[Iter]): (Double, Double) = {
    val probe = median(iters.flatMap(_.probes))
    (median(iters.map(_.parts.map(_.wall).sum)) / probe,
      median(iters.map(_.parts.map(_.cpu).sum)) / probe)
  }

  /** Run `body` as the part `name` of an iteration: time its wall and
    * the executor CPU of the tasks it ran, and append both to `into`. */
  def part[A](tr: Tracer, into: scala.collection.mutable.Buffer[Part], name: String)(
      body: => A): A = {
    tr.drain()
    val c0 = tr.probe.totals.snapshot.cpuNs
    val t0 = System.nanoTime
    val r = body
    val wall = (System.nanoTime - t0) / 1e9
    tr.drain()
    into += Part(name, wall, (tr.probe.totals.snapshot.cpuNs - c0) / 1e9)
    r
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Host contention record: a fixed arithmetic loop timed on one
    * thread (best of three) and on `threads` threads at once (best of
    * two). The ratio is the host's current parallel-capacity penalty,
    * the same measure `graft.Bench` records; 1.0 means the threads ran
    * as fast together as alone. */
  def spinPenalty(threads: Int, iters: Long = 20000000L): Double = {
    def spin(n: Long): Long = { var i = 0L; var s = 0L; while (i < n) { s += i * i; i += 1 }; s }
    spin(iters / 10)
    val one = (1 to 3).map { _ =>
      val t = System.nanoTime; spin(iters); System.nanoTime - t
    }.min
    val many = (1 to 2).map { _ =>
      val ts = (1 to threads).map(_ => new Thread(() => { spin(iters); () }))
      val t = System.nanoTime
      ts.foreach(_.start()); ts.foreach(_.join())
      System.nanoTime - t
    }.min
    many.toDouble / one
  }

  /** Run `one` (given the iteration's label) until `seconds` have
    * passed and at least `minIters` timed iterations ran; return the
    * (untraced, timed) iterations. `between` runs untimed before every
    * iteration; the host probe runs before and after every timed one. In a
    * traced run an untraced iteration precedes each timed one, so the
    * tracing overhead compares iterations taken in turn instead of two
    * halves of a run the JIT is still warming. */
  def loop(tr: Tracer, seconds: Double, minIters: Int)(between: () => Unit)(
      one: String => Iter): (Seq[Iter], Seq[Iter]) = {
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Iter]
    val timed = scala.collection.mutable.ArrayBuffer.empty[Iter]
    (1 to HostProbe.Warmups).foreach(_ => HostProbe.run())
    val t0 = System.nanoTime
    while (timed.size < minIters || (System.nanoTime - t0) / 1e9 < seconds) {
      if (tr.enabled) { between(); untraced += tr.off(one(s"untraced-${untraced.size}")) }
      between()
      val before = HostProbe.run()
      val it = one(s"timed-${timed.size}")
      timed += it.copy(probes = Seq(before, HostProbe.run()))
    }
    (untraced.toList, timed.toList)
  }

  /** Time `body` as one iteration: wall and executor CPU of the tasks
    * it ran. */
  def measure(tr: Tracer)(body: => Unit): (Double, Double, TaskTotals) = {
    tr.drain()
    val c0 = tr.probe.totals.snapshot
    val t0 = System.nanoTime
    body
    val wall = (System.nanoTime - t0) / 1e9
    tr.drain()
    val d = tr.probe.totals.snapshot.minus(c0)
    (wall, d.cpuNs / 1e9, d)
  }

  /** The execution-layer values of one iteration, from the probe. */
  def execLayers(tr: Tracer, d: TaskTotals, wall: Double, cores: Int,
                 fromMs: Long, toMs: Long): Map[String, Double] = {
    val p = tr.probe
    val jobs = p.jobs.values.asScala.count(j => j.startMs >= fromMs && j.startMs <= toMs)
    val stages = p.stages.asScala.count(s => s.submitMs >= fromMs && s.submitMs <= toMs)
    val execs = p.execs.asScala.filter(e => e.endMs >= fromMs && e.endMs <= toMs + 1000)
    val mb = 1048576.0
    Map(
      "plan.analysis_s" -> execs.map(_.phaseMs("analysis")).sum / 1e3,
      "plan.optimization_s" -> execs.map(_.phaseMs("optimization")).sum / 1e3,
      "plan.planning_s" -> execs.map(_.phaseMs("planning")).sum / 1e3,
      "plan.executions" -> execs.size.toDouble,
      "exec.jobs" -> jobs.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> d.tasks.toDouble,
      "exec.core_busy_ratio" -> (if (wall > 0) d.runMs / 1e3 / (wall * cores) else 0.0),
      "exec.shuffle_write_mb" -> d.shuffleWrite / mb,
      "exec.shuffle_read_mb" -> d.shuffleRead / mb,
      "exec.shuffle_fetch_wait_s" -> d.fetchWaitMs / 1e3,
      "exec.spill_mb" -> d.spill / mb,
      "exec.task_gc_s" -> d.gcMs / 1e3,
      "exec.input_mb" -> d.input / mb,
      "exec.output_mb" -> d.output / mb)
  }

  /** Total seconds of the spans named `name` in run `run`. */
  def spanSeconds(tr: Tracer, run: String, name: String): Double =
    tr.spans.filter(s => s.run == run && s.name == name).map(_.seconds).sum

  /** Delete a local directory tree if it exists. */
  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
