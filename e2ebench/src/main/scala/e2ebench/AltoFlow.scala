package e2ebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.alto.{Alto, HttpFetcher}
import graft.functions.GraftFunctions
import graft.sinks.Sinks
import graft.sources.{JdbcSource, WatermarkStore}

/** The `alto_flow` workload: the reference ETL flow as one full sync
  * from a fixed start state (empty object directory, seeded catalog,
  * no watermark), composed from the program's public functions in the
  * reference's stage order. */
object AltoFlow {

  /** Catalog entries per sync. An assumption: the reference syncs
    * whatever its catalog query returns and publishes no sync sizes.
    * The size does not change the flow's shape: `JdbcSource.worklist`
    * reads the work-list with one JDBC query, so fetch, parse and both
    * sinks run as one task at any size. */
  val Docs = 120
  val SetupReps = 5
  /** Untimed syncs after the cold one. */
  val WarmSyncs = 1
  /** Timed syncs per run, at least. */
  val MinSyncs = 3

  /** Everything one sync needs; `counters` is set in traced runs. */
  final case class Env(spark: SparkSession, corpus: AltoCorpus, archive: LoopbackArchive,
                       catalog: DerbyCatalog, objDir: String, markPath: String,
                       counters: Option[CountingFetcher.Counters])

  def setup(spark: SparkSession, o: Opts, rep: Int, trace: Boolean): Env = {
    val corpus = AltoCorpus.generate(o.seed, Docs)
    val archive = new LoopbackArchive(corpus, o.cores)
    val catalog = new DerbyCatalog(s"${o.work}/catalog-$rep")
    catalog.create(corpus, archive.baseUrl)
    val counters = if (!trace) None else Some(CountingFetcher.Counters(
      spark.sparkContext.longAccumulator("fetch.calls"),
      spark.sparkContext.longAccumulator("fetch.failed"),
      spark.sparkContext.longAccumulator("fetch.busy_ns")))
    Env(spark, corpus, archive, catalog, s"${o.work}/objects", s"${o.work}/watermark", counters)
  }

  def teardown(e: Env): Unit = { e.archive.stop(); e.catalog.shutdown() }

  /** Back to the fixed start state. */
  def reset(e: Env): Unit = {
    Harness.rmrf(e.objDir)
    Files.createDirectories(Paths.get(e.objDir))
    Files.deleteIfExists(Paths.get(e.markPath))
    e.catalog.resetSinks()
    e.counters.foreach(c => { c.calls.reset(); c.failed.reset(); c.busyNs.reset() })
    CountingJdbc.reset()
  }

  /** One sync: watermark read → work-list → fetch → pipeline → object
    * sink → JDBC upsert → watermark write. Returns the wall and CPU of
    * each of these stages. */
  def sync(e: Env, tr: Tracer): Seq[Part] = {
    val url = e.catalog.url
    val counters = e.counters.filter(_ => tr.enabledNow)
    val connFactory: () => java.sql.Connection =
      if (counters.isDefined) () => CountingJdbc.wrap(java.sql.DriverManager.getConnection(url))
      else () => java.sql.DriverManager.getConnection(url)
    val fetcher = counters.fold(HttpFetcher.fetcher())(c =>
      CountingFetcher.wrap(HttpFetcher.fetcher(), c))
    val parts = scala.collection.mutable.ArrayBuffer.empty[Part]
    def stage[A](name: String)(body: => A): A = Harness.part(tr, parts, name)(body)
    val since = stage("watermark_read")(
      tr.span("sources.watermark_read")(WatermarkStore.read(e.markPath)))
    val worklist = stage("worklist")(tr.span("sources.worklist_construct")(
      JdbcSource.worklist(e.spark, url, "file", "includes", since))
      .withColumnRenamed("premis_stored_at", "url"))
    val fetched = stage("fetch")(tr.span("alto.fetch_construct")(
      Alto.fetchXml(worklist, fetcher, policy = Alto.FetchPolicy.NullOnError)))
    val docs = stage("pipeline")(tr.span("alto.pipeline_construct")(
      Alto.pipeline(fetched.filter(col("xml").isNotNull)))
      .withColumn("transcript_url", GraftFunctions.publicUrl(
        AltoCorpus.ObjectEndpoint, AltoCorpus.Bucket, col("s3_key"))))
    stage("objects")(tr.span("sinks.objects")(
      Sinks.writeObjectPerRow(docs, "s3_key", "json_pretty", s"file://${e.objDir}")))
    stage("upsert")(tr.span("sinks.upsert")(
      Sinks.jdbcUpsert(docs, AltoCorpus.derbyUpsertSpec, connFactory)))
    stage("watermark_write")(
      tr.span("sources.watermark_write")(WatermarkStore.write(e.markPath, e.corpus.asOf)))
    parts.toList
  }

  /** Compare the end state with what the generator derives: object
    * keys and token counts, transcripts, upserted rows, watermark and
    * the `observe()` counts. Returns (documents in their expected end
    * state, failure messages). */
  def check(e: Env, observed: Map[String, Map[String, Long]]): (Long, Seq[String]) = {
    val c = e.corpus
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    val objects: Map[String, java.nio.file.Path] = {
      val s = Files.list(Paths.get(e.objDir))
      try s.iterator.asScala.filter(p => !p.getFileName.toString.startsWith("."))
        .map(p => p.getFileName.toString -> p).toMap
      finally s.close()
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val transcripts = e.catalog.transcripts()
    val urls = e.catalog.transcriptUrls()
    val ok = c.docs.count { d =>
      val good = d.kind match {
        case "missing" =>
          !objects.contains(d.objectKey) && !urls.contains(d.representationId) &&
            transcripts.get(d.representationId).contains(None)
        case kind =>
          val obj = objects.get(d.objectKey)
          val objOk = obj.exists { p =>
            val tree = mapper.readTree(Files.readString(p))
            val text = tree.get("text")
            if (kind == "unsupported") text == null
            else text != null && text.size == d.tokens
          }
          objOk && transcripts.get(d.representationId).contains(d.transcript) &&
            urls.get(d.representationId).contains(c.transcriptUrl(d))
      }
      if (!good && msgs.size < 5) msgs += s"document ${d.representationId} (${d.kind}) not in its expected end state"
      good
    }
    val extra = objects.keySet -- c.served.map(_.objectKey)
    if (extra.nonEmpty) msgs += s"${extra.size} unexpected objects"
    val extraRows = urls.keySet -- c.served.map(_.representationId)
    if (extraRows.nonEmpty) msgs += s"${extraRows.size} unexpected upserted rows"
    val mark = WatermarkStore.read(e.markPath)
    if (!mark.contains(c.asOf)) msgs += s"watermark $mark, expected ${c.asOf}"
    val expectObs = Map(
      "fetch_xml" -> Map("urls" -> c.docs.size.toLong, "failed_fetches" -> c.missing.toLong),
      "alto_pipeline" -> Map("docs" -> c.served.size.toLong,
        "skipped_unsupported_docs" -> c.unsupported.toLong))
    expectObs.foreach { case (name, want) =>
      val got = observed.getOrElse(name, Map.empty)
      want.foreach { case (k, v) =>
        if (!got.get(k).contains(v)) msgs += s"observe $name.$k = ${got.get(k)}, expected $v"
      }
    }
    (ok.toLong, msgs.toList)
  }

  def run(spark: SparkSession, o: Opts, tr: Tracer): Outcome = {
    // set up SetupReps times from scratch and keep the last
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime
      val env = setup(spark, o, rep, o.trace)
      reset(env)
      val s = (System.nanoTime - t0) / 1e9
      if (rep < SetupReps - 1) teardown(env)
      (s, env)
    }
    val env = setups.last._2
    try {
      def once(label: String): Iter = {
        tr.run = label
        val from = System.currentTimeMillis
        var parts = Seq.empty[Part]
        val (wall, cpu, d) = Harness.measure(tr)(tr.span("flow.sync") { parts = sync(env, tr) })
        val layers = if (!tr.enabledNow) Map.empty[String, Double] else {
          val to = System.currentTimeMillis
          flowLayers(env, tr, label) ++ Harness.execLayers(tr, d, wall, o.cores, from, to)
        }
        Harness.note(f"sync $label: $wall%.2f s, cpu $cpu%.2f s")
        Iter(wall, cpu, parts, layers)
      }
      reset(env)
      val cold = once("cold")
      // the JIT is still compiling the flow's code for the first few
      // syncs after the cold one: run them untimed
      val warm = tr.off((1 to WarmSyncs).map { i => reset(env); once(s"warm-$i").wall })
      val (untraced, timed) = Harness.loop(tr, o.seconds, MinSyncs)(
        () => { reset(env); tr.probe.clearObserved() })(once)
      val heapMb = Harness.heapRetainedMb
      // untimed check of the last timed sync's end state
      tr.drain()
      val (okDocs, msgs) = check(env, tr.probe.observedMetrics)
      Outcome(
        setupS = Harness.median(setups.map(_._1)), cold = cold, timed = timed,
        untraced = untraced, heapMb = heapMb, items = okDocs, attempted = env.corpus.docs.size,
        failed = env.corpus.docs.size - okDocs, checks = msgs,
        diag = Map("docs" -> env.corpus.docs.size, "served" -> env.corpus.served.size,
          "unsupported" -> env.corpus.unsupported, "missing" -> env.corpus.missing,
          "archive_requests" -> env.archive.requests.get, "warm_walls_s" -> warm,
          "setup_reps_s" -> setups.map(_._1)))
    } finally teardown(env)
  }

  /** Per-layer values of one traced sync. */
  private def flowLayers(e: Env, tr: Tracer, run: String): Map[String, Double] = {
    tr.drain()
    val c = e.counters.get
    val docs = e.corpus.docs.size.toDouble
    val obs = tr.probe.observedMetrics
    def s(name: String) = Harness.spanSeconds(tr, run, name)
    val objects = Files.list(Paths.get(e.objDir))
    val (nObj, objBytes) = try {
      val ps = objects.iterator.asScala.filter(p => !p.getFileName.toString.startsWith(".")).toList
      (ps.size, ps.map(Files.size(_)).sum)
    } finally objects.close()
    Map(
      "sources.worklist_construct_s" -> s("sources.worklist_construct"),
      "sources.watermark_read_s" -> s("sources.watermark_read"),
      "sources.watermark_write_s" -> s("sources.watermark_write"),
      "alto.fetch.calls" -> c.calls.value.toDouble,
      "alto.fetch.per_doc" -> c.calls.value / docs,
      "alto.fetch.busy_s" -> c.busyNs.value / 1e9,
      "alto.fetch.failed" -> c.failed.value.toDouble,
      "alto.observe.docs" -> obs.get("alto_pipeline").flatMap(_.get("docs")).getOrElse(0L).toDouble,
      "alto.observe.skipped_unsupported" ->
        obs.get("alto_pipeline").flatMap(_.get("skipped_unsupported_docs")).getOrElse(0L).toDouble,
      "alto.observe.failed_fetches" ->
        obs.get("fetch_xml").flatMap(_.get("failed_fetches")).getOrElse(0L).toDouble,
      "sinks.objects_s" -> s("sinks.objects"),
      "sinks.objects_written" -> nObj.toDouble,
      "sinks.object_mb" -> objBytes / 1048576.0,
      "sinks.upsert_s" -> s("sinks.upsert"),
      "sinks.jdbc_busy_s" -> CountingJdbc.busyNs.get / 1e9,
      "sinks.jdbc_connections" -> CountingJdbc.connections.get.toDouble,
      "sinks.jdbc_commits" -> CountingJdbc.commits.get.toDouble,
      "sinks.rows_upserted" -> CountingJdbc.rowsUpserted.get.toDouble)
  }
}
