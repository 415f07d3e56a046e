package e2ebench

import scala.collection.immutable.ListMap

/** Benchmark process: one workload, one seed. Prints one line starting
  * with `E2EBENCH ` and a JSON object of raw results, which the
  * launcher (`run.py`) turns into the benchmark's result line.
  *
  * Arguments: --workload alto_flow|query_suite --seed N --seconds S
  * --trace 0|1 --cores N --work DIR --data DIR --spawn-ms EPOCH_MS
  * [--spans FILE]
  */
object Main {
  def main(args: Array[String]): Unit = {
    // Spark leaves non-daemon threads behind: exit explicitly, with a
    // non-zero code when the workload threw
    val code = try { body(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def body(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val o = Opts(
      workload = kv("--workload"), seed = kv("--seed").toLong,
      seconds = kv("--seconds").toDouble, trace = kv("--trace") == "1",
      cores = kv("--cores").toInt, work = kv("--work"), data = kv.getOrElse("--data", ""),
      spawnEpochMs = kv("--spawn-ms").toLong)
    val c0 = System.nanoTime
    val penaltyStart = Harness.spinPenalty(o.cores)
    val calibrationS = (System.nanoTime - c0) / 1e9
    val spark = Harness.session(o)
    // process and session start, without the contention calibration
    val jvmStartS = (System.currentTimeMillis - o.spawnEpochMs) / 1e3 - calibrationS
    Harness.note(f"session up: $jvmStartS%.2f s after launch (calibration $calibrationS%.2f s)")
    val tr = new Tracer(spark, o.trace)
    val (out, nSpans) = try {
      val out = o.workload match {
        case "alto_flow" => AltoFlow.run(spark, o, tr)
        case "query_suite" => QuerySuite.run(spark, o, tr)
        case w => sys.error(s"unknown workload $w")
      }
      kv.get("--spans").filter(_ => o.trace).foreach { f =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(f), tr.dump(o.workload, o.seed))
      }
      (out, if (o.trace) tr.spans.size else 0)
    } finally spark.stop()
    val penaltyEnd = Harness.spinPenalty(o.cores)

    val layers: Map[String, Double] = if (!o.trace) Map.empty else {
      val names = out.timed.flatMap(_.layers.keys).distinct
      names.map(n => n -> Harness.median(out.timed.flatMap(_.layers.get(n)))).toMap ++ Map(
          "trace.overhead_s" ->
            (Harness.median(out.timed.map(_.wall)) - Harness.median(out.untraced.map(_.wall))),
          "trace.spans" -> nSpans.toDouble)
    }
    val (wallRel, cpuRel) = Harness.relative(out.timed)
    // setup_s leaves out JVM and session start: it is most of a fresh
    // process's first seconds and moves with the host, not the program
    val e2e = ListMap(
      "wall_rel" -> wallRel,
      "cpu_rel" -> cpuRel,
      "setup_s" -> out.setupS,
      "heap_retained_mb" -> out.heapMb)
    // the same iterations in seconds, as measured
    val wallS = Harness.median(out.timed.map(_.parts.map(_.wall).sum))
    val cpuS = Harness.median(out.timed.map(_.parts.map(_.cpu).sum))
    println("E2EBENCH " + Harness.json(ListMap(
      "e2e" -> e2e, "layers" -> layers, "items" -> out.items,
      "attempted" -> out.attempted, "failed" -> out.failed, "checks" -> out.checks,
      "cold_run_s" -> out.cold.wall,
      "timed_runs" -> out.timed.size, "timed_walls" -> out.timed.map(_.wall),
      "untraced_walls" -> out.untraced.map(_.wall),
      "jvm_start_s" -> jvmStartS,
      "wall_s" -> wallS, "cpu_s" -> cpuS,
      "probes" -> out.timed.flatMap(_.probes),
      "timed_parts" -> out.timed.map(_.parts.map(p => p.name -> p.wall).toMap),
      "spin_penalty_start" -> penaltyStart, "spin_penalty_end" -> penaltyEnd,
      "diag" -> out.diag)))
  }
}
