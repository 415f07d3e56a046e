package e2ebench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Sinks

class FlowSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work: Path = Files.createTempDirectory("e2ebench-flow")
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Harness.rmrf(work.toString)
  }

  private def opts(name: String) = Opts(workload = "alto_flow", seed = 5, seconds = 1,
    trace = false, cores = 2, work = work.resolve(name).toString, data = "",
    spawnEpochMs = 0L)

  private def objectSnapshot(dir: String): Map[String, String] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => !p.getFileName.toString.startsWith("."))
      .map(p => p.getFileName.toString -> Files.readString(p)).toMap
    finally s.close()
  }

  test("the Derby MERGE upsert leaves the same rows when replayed") {
    val o = opts("merge")
    val env = AltoFlow.setup(spark, o, 0, trace = false)
    try {
      AltoFlow.reset(env)
      import spark.implicits._
      val rows = env.corpus.served.map(d => (d.representationId, d.transcript.orNull,
        env.corpus.transcriptUrl(d))).toDF("representation_id", "transcript", "transcript_url")
      val url = env.catalog.url
      def upsert(): Unit = Sinks.jdbcUpsert(rows, AltoCorpus.derbyUpsertSpec,
        () => java.sql.DriverManager.getConnection(url))
      upsert()
      val (t1, u1) = (env.catalog.transcripts(), env.catalog.transcriptUrls())
      upsert()
      assert(env.catalog.transcripts() == t1)
      assert(env.catalog.transcriptUrls() == u1)
      assert(u1.size == env.corpus.served.size)
    } finally AltoFlow.teardown(env)
  }

  test("a re-run with the advanced watermark fetches nothing and changes nothing") {
    val o = opts("rerun")
    val env = AltoFlow.setup(spark, o, 0, trace = false)
    val tr = new Tracer(spark, enabled = false)
    try {
      AltoFlow.reset(env)
      AltoFlow.sync(env, tr)
      tr.drain()
      val (ok, msgs) = AltoFlow.check(env, tr.probe.observedMetrics)
      assert(msgs.isEmpty && ok == env.corpus.docs.size, msgs)
      val before = (objectSnapshot(env.objDir), env.catalog.transcripts(),
        env.catalog.transcriptUrls(), env.archive.requests.get)
      AltoFlow.sync(env, tr)
      val after = (objectSnapshot(env.objDir), env.catalog.transcripts(),
        env.catalog.transcriptUrls(), env.archive.requests.get)
      assert(after == before)
    } finally AltoFlow.teardown(env)
  }

  test("the fetcher wrapper counts exactly the calls and failures it wraps") {
    val c = CountingFetcher.Counters(new LongAccumulator, new LongAccumulator, new LongAccumulator)
    val f = CountingFetcher.wrap(u => if (u.startsWith("bad")) sys.error("404") else u.reverse, c)
    assert(f("abc") == "cba")
    (1 to 4).foreach(i => f(s"ok$i"))
    (1 to 3).foreach(i => assert(scala.util.Try(f(s"bad$i")).isFailure))
    assert(c.calls.value == 8 && c.failed.value == 3 && c.busyNs.value > 0)
  }

  test("the Connection proxy counts connections, commits and upserted rows") {
    val o = opts("proxy")
    val env = AltoFlow.setup(spark, o, 0, trace = false)
    try {
      AltoFlow.reset(env)
      val conn = CountingJdbc.wrap(env.catalog.connect())
      try {
        conn.setAutoCommit(false)
        val ps = conn.prepareStatement(AltoCorpus.derbyUpsertSpec.insertSql)
        (1 to 5).foreach { i =>
          Seq(1L * i, "u" + i, 1L * i, "u" + i).zipWithIndex.foreach { case (v, j) =>
            ps.setObject(j + 1, v) }
          ps.addBatch()
        }
        ps.executeBatch()
        conn.commit()
        val upd = conn.prepareStatement("UPDATE representation SET schema_transcript = 'x' WHERE id = ?")
        upd.setLong(1, env.corpus.docs.head.representationId); upd.addBatch(); upd.executeBatch()
        conn.commit()
      } finally conn.close()
      assert(CountingJdbc.connections.get == 1)
      assert(CountingJdbc.commits.get == 2)
      assert(CountingJdbc.executions.get == 2)
      assert(CountingJdbc.rowsUpserted.get == 5)
      assert(CountingJdbc.busyNs.get > 0)
      assert(env.catalog.transcriptUrls().size == 5)
    } finally AltoFlow.teardown(env)
  }
}
