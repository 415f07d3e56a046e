package e2ebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryModule

/** The `query_suite` workload: a fixed list of `SparkEntry` queries,
  * each materialised in full (a `noop` write, final ORDER BY included)
  * in one session. The cold pass builds the index artifacts the
  * queries need into the session (the program's on-first-use path);
  * the timed passes are served from them. */
object QuerySuite {

  type Query = (SparkSession, String) => DataFrame

  /** The 14 query modules `graft.SparkEntry` aggregates. */
  val modules: Seq[(String, QueryModule)] = Seq(
    "CatalogModule" -> graft.operators.CatalogModule,
    "AltoModule" -> graft.alto.AltoModule,
    "RelationalModule" -> graft.operators.RelationalModule,
    "TextAnalysisModule" -> graft.operators.TextAnalysisModule,
    "DedupModule" -> graft.operators.DedupModule,
    "SimilarityModule" -> graft.operators.SimilarityModule,
    "PqModule" -> graft.operators.PqModule,
    "EventsModule" -> graft.operators.EventsModule,
    "LinkageModule" -> graft.operators.LinkageModule,
    "GraphModule" -> graft.operators.GraphModule,
    "MultimodalModule" -> graft.operators.MultimodalModule,
    "CorpusModule" -> graft.operators.CorpusModule,
    "CurationModule" -> graft.operators.CurationModule,
    "PipelineModule" -> graft.operators.PipelineModule)

  /** The timed queries in run order, one from each of 11 of the 14
    * modules, as (module, query). They run in the family groups of
    * `graft.Bench` (plain, then document corpus, then embedding
    * similarity), so queries sharing session-resident index state run
    * together. `q_graph_lpa_trace` starts Spark jobs while its plan is
    * built (on first use, so in the cold pass), the waste
    * `operators.construct_jobs_cold` shows. Changing this
    * list changes the benchmark's workload. */
  val Queries: Seq[(String, String)] = Seq(
    // plain
    "CatalogModule" -> "q_catalog_worklist",
    "RelationalModule" -> "q_revenue_by_region",
    "TextAnalysisModule" -> "q_text_token_count",
    "EventsModule" -> "q_events_tumbling",
    "LinkageModule" -> "q_name_match",
    "GraphModule" -> "q_graph_lpa_trace",
    "MultimodalModule" -> "q_media_dedup",
    // document corpus
    "DedupModule" -> "q_dedup_jaccard",
    "CorpusModule" -> "q_corpus_inventory",
    "CurationModule" -> "q_chunk_docs",
    // embedding similarity
    "SimilarityModule" -> "q_knn_ivf")

  /** (query, module, query function) in run order. */
  def plan: Seq[(String, String, Query)] = {
    val byName = modules.toMap
    Queries.map { case (m, n) =>
      (n, m, byName(m).queries.getOrElse(n, sys.error(s"$m has no query $n")))
    }
  }

  final case class QueryTime(name: String, module: String, wall: Double, cpu: Double,
                             construct: Double, constructJobs: Int)

  /** Timed passes per run, at least. */
  val MinPasses = 3

  def run(spark: SparkSession, o: Opts, tr: Tracer): Outcome = {
    val dir = o.data
    val queries = plan
    val failedQueries = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // the cold pass writes each output as parquet for the oracle
    // compare; timed passes materialise into the noop sink
    val verify = s"${o.work}/verify"
    def noop(name: String, df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$verify/$name")

    def pass(label: String, sink: (String, DataFrame) => Unit): (Iter, Seq[QueryTime]) = {
      tr.run = label
      val times = scala.collection.mutable.ArrayBuffer.empty[QueryTime]
      val traced = tr.enabledNow
      val from = System.currentTimeMillis
      val (wall, cpu, d) = Harness.measure(tr) {
        queries.foreach { case (name, module, q) =>
          // settle the previous query's task events outside the timing
          tr.drain()
          val c0 = tr.probe.totals.snapshot.cpuNs
          val q0 = System.nanoTime
          val cFrom = System.currentTimeMillis
          var construct = 0.0
          try tr.span("operators.query") {
            val df = tr.span("operators.construct")(q(spark, dir))
            construct = (System.nanoTime - q0) / 1e9
            tr.span("operators.materialize")(sink(name, df))
          } catch {
            case e: Throwable =>
              failedQueries.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          }
          val qWall = (System.nanoTime - q0) / 1e9
          tr.drain()
          val qCpu = (tr.probe.totals.snapshot.cpuNs - c0) / 1e9
          val cJobs = if (!traced) 0 else {
            val cTo = cFrom + (construct * 1000).toLong + 1
            tr.probe.jobs.values.asScala.count(j => j.startMs >= cFrom && j.startMs <= cTo)
          }
          times += QueryTime(name, module, qWall, qCpu, construct, cJobs)
        }
      }
      val layers = if (!traced) Map.empty[String, Double] else {
        val to = System.currentTimeMillis
        val perModule = Queries.map(_._1).distinct.flatMap { m =>
          val ts = times.filter(_.module == m)
          Seq(s"operators.module.$m.wall_s" -> ts.map(_.wall).sum,
            s"operators.module.$m.cpu_s" -> ts.map(_.cpu).sum)
        }.toMap
        perModule ++ Harness.execLayers(tr, d, wall, o.cores, from, to) ++ Map(
          "operators.construct_s" -> times.map(_.construct).sum,
          "operators.construct_jobs" -> times.map(_.constructJobs).sum.toDouble,
          "operators.query_p50_s" -> Harness.median(times.map(_.wall).toSeq),
          "operators.query_p90_s" -> Harness.percentile(times.map(_.wall).toSeq, 0.9))
      }
      Harness.note(f"pass $label: $wall%.2f s, cpu $cpu%.2f s")
      (Iter(wall, cpu, times.map(t => Part(t.name, t.wall, t.cpu)).toList, layers), times.toList)
    }

    val (cold, coldTimes) = pass("cold", dump)
    val perPass = scala.collection.mutable.ArrayBuffer.empty[Seq[QueryTime]]
    val (gc0, jit0) = Harness.jvmTimes
    // jobs started while plans were built in the cold pass: one-off
    // builds of the program's memoised state happen there
    val coldJobs = Map("operators.construct_jobs_cold" -> coldTimes.map(_.constructJobs).sum.toDouble)
    val (untraced, timed) = Harness.loop(tr, o.seconds, MinPasses)(() => ()) { label =>
      val (it, qs) = pass(label, noop)
      if (label.startsWith("timed")) perPass += qs
      if (it.layers.isEmpty) it else it.copy(layers = it.layers ++ coldJobs)
    }
    val (gc1, jit1) = Harness.jvmTimes
    val heapMb = Harness.heapRetainedMb

    // the launcher compares the cold pass's outputs with the DuckDB
    // oracles. A fitted oracle (SparkEntry.oracleSqlResolved) has no
    // static entry; resolving every module's fits costs ~17 s, so only
    // the modules of listed queries without a static oracle are resolved
    val o0 = System.nanoTime
    val names = queries.map(_._1).toSet
    val static = graft.SparkEntry.oracleSql
    val fitted = queries.filterNot(q => static.contains(q._1)).map(_._2).toSet
    val oracles = (static ++ modules.filter(m => fitted(m._1))
      .flatMap(_._2.dynamicOracles(spark, dir))).filter(kv => names(kv._1))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$verify/oracle_sql.json"),
      Harness.json(oracles))
    val oracleS = (System.nanoTime - o0) / 1e9
    Harness.note("oracles resolved")

    val all = perPass.flatten.map(_.wall).toSeq
    Outcome(setupS = 0.0, cold = cold, timed = timed, untraced = untraced,
      heapMb = heapMb,
      items = queries.size - failedQueries.size, attempted = queries.size,
      failed = failedQueries.size,
      checks = failedQueries.map { case (n, m) => s"$n failed: $m" }.toList,
      diag = Map("queries" -> queries.map(_._1),
        "query_p50_s" -> Harness.median(all),
        "query_p90_s" -> Harness.percentile(all, 0.9),
        "query_cold_s" -> coldTimes.map(t => t.name -> t.wall).toMap,
        "oracle_resolve_s" -> oracleS,
        "timed_gc_s" -> (gc1 - gc0), "timed_jit_s" -> (jit1 - jit0)))
  }
}
