package graft.sources

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo}
import java.util.Properties
import java.util.logging.Logger

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.alto.{Alto, AltoModule}
import graft.sinks.{JdbcRecorder, Sinks}

/** Records the SQL text of every statement prepared through it, then
  * hands the call to the real driver: `jdbc:graftrec:<rest>` opens
  * `jdbc:<rest>`. Logs are keyed by the URL. */
class RecordingJdbcDriver extends Driver {
  override def acceptsURL(url: String): Boolean = url.startsWith(RecordingJdbcDriver.Prefix)

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val real = DriverManager.getConnection("jdbc:" + url.stripPrefix(RecordingJdbcDriver.Prefix), info)
      Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
        new InvocationHandler {
          def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
            if (m.getName == "prepareStatement") RecordingJdbcDriver.add(url, args(0).toString)
            try m.invoke(real, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw e.getCause }
          }
        }).asInstanceOf[Connection]
    }

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getParentLogger: Logger = Logger.getGlobal
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def jdbcCompliant(): Boolean = false
}

object RecordingJdbcDriver {
  val Prefix = "jdbc:graftrec:"
  DriverManager.registerDriver(new RecordingJdbcDriver)

  private val logs = new java.util.concurrent.ConcurrentHashMap[String, mutable.Buffer[String]]()
  private def add(url: String, sql: String): Unit = {
    val b = logs.computeIfAbsent(url, _ => mutable.Buffer.empty[String])
    b.synchronized { b += sql }
  }
  def log(url: String): List[String] =
    Option(logs.get(url)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
  def clear(url: String): Unit = logs.remove(url)
  /** Statements that read rows, not only the result schema. */
  def dataQueries(url: String): List[String] = log(url).filterNot(_.contains("WHERE 1=0"))
}

/** `JdbcSource.worklist` against a real database, embedded Derby
  * (in memory): the joined subquery must return what joining the two
  * table scans in Spark returns, keep the watermark a bound value, take
  * the partitioning options, and leave the flow's first sink with one
  * exchange and two Spark jobs. */
class JdbcWorklistDerbySpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graft_worklist"
  private val recUrl = RecordingJdbcDriver.Prefix + url.stripPrefix("jdbc:")
  private val recOpts = Map("driver" -> classOf[RecordingJdbcDriver].getName)

  // (file id, mime, schema, premis_stored_at, updated_at)
  private val files = Seq(
    (1L, "application/xml", "mets_alto_page", "https://archive.test/a1.xml", "2024-01-01 00:00:00"),
    (2L, "application/xml", "alto_v3", "https://archive.test/a2.xml", "2024-01-02 00:00:00"),
    (3L, "image/tiff", "mets_alto_page", "https://archive.test/a3.tif", "2024-01-03 00:00:00"),
    (4L, "application/xml", "mets_mods", "https://archive.test/a4.xml", "2024-01-03 00:00:00"),
    (5L, null, "mets_alto_page", "https://archive.test/a5.xml", "2024-01-04 00:00:00"),
    (6L, "application/xml", "mets_alto_page", "https://archive.test/a6.xml", "2024-01-05 00:00:00"),
    (7L, "application/xml", "alto_v2", "https://archive.test/a7.xml", "2024-01-06 00:00:00"))
  // (file id, representation id): file 2 is in two representations,
  // file 6 in none
  private val includes = Seq((1L, 10L), (2L, 20L), (2L, 60L), (3L, 30L), (4L, 40L),
    (5L, 50L), (7L, 70L))

  private lazy val created: Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      val st = c.createStatement()
      try {
        st.execute("CREATE TABLE file (id BIGINT PRIMARY KEY, ebucore_has_mime_type VARCHAR(64), " +
          "schema_name VARCHAR(64), premis_stored_at VARCHAR(512), updated_at TIMESTAMP)")
        st.execute("CREATE TABLE includes (file_id BIGINT, representation_id BIGINT)")
      } finally st.close()
      val f = c.prepareStatement("INSERT INTO file VALUES (?, ?, ?, ?, ?)")
      files.foreach { case (id, mime, schema, at, upd) =>
        f.setLong(1, id); f.setString(2, mime); f.setString(3, schema); f.setString(4, at)
        f.setTimestamp(5, java.sql.Timestamp.valueOf(upd)); f.executeUpdate()
      }
      val i = c.prepareStatement("INSERT INTO includes VALUES (?, ?)")
      includes.foreach { case (fid, rid) => i.setLong(1, fid); i.setLong(2, rid); i.executeUpdate() }
    } finally c.close()
  }

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private def worklist(since: Option[String], u: String = url,
                       opts: Map[String, String] = Map.empty): DataFrame = {
    created
    JdbcSource.worklist(spark, u, "file", "includes", since, opts)
  }

  /** The work-list as two table scans joined in Spark. */
  private def twoScanJoin(since: Option[String]): Set[(Long, String)] = {
    created
    val file0 = JdbcSource.table(spark, url, "file")
      .filter(col("ebucore_has_mime_type") === lit("application/xml") &&
        col("schema_name").like("%alto%"))
    val file = since.fold(file0)(s => file0.filter(col("updated_at") >= lit(s)))
    val inc = JdbcSource.table(spark, url, "includes")
    rows(file.join(inc, file("id") === inc("file_id"))
      .select(col("representation_id"), col("premis_stored_at")))
  }

  test("the joined subquery returns the rows of the two-scan Spark join") {
    val all = rows(worklist(None))
    assert(all == Set(10L -> "https://archive.test/a1.xml", 20L -> "https://archive.test/a2.xml",
      60L -> "https://archive.test/a2.xml", 70L -> "https://archive.test/a7.xml"))
    assert(all == twoScanJoin(None))
  }

  test("the watermark bound is inclusive: a since on an updated_at value keeps that row") {
    val since = Some("2024-01-02 00:00:00")
    val incremental = rows(worklist(since))
    assert(incremental == Set(20L -> "https://archive.test/a2.xml",
      60L -> "https://archive.test/a2.xml", 70L -> "https://archive.test/a7.xml"))
    assert(incremental == twoScanJoin(since))
  }

  test("a since holding a quote fails with Spark's cast error before any data query is sent") {
    RecordingJdbcDriver.clear(recUrl)
    val bad = "2024-01-02' OR '1'='1"
    val e = intercept[Exception](worklist(Some(bad), recUrl, recOpts).collect())
    assert(e.getMessage.contains("CAST_INVALID_INPUT"), e.getMessage)
    assert(RecordingJdbcDriver.dataQueries(recUrl).isEmpty,
      RecordingJdbcDriver.log(recUrl).mkString("\n"))
    assert(!RecordingJdbcDriver.log(recUrl).exists(_.contains("'1'='1")))
  }

  test("partitioning options reach the joined relation: one strided query per partition") {
    RecordingJdbcDriver.clear(recUrl)
    val parted = worklist(None, recUrl, recOpts ++ Map("partitionColumn" -> "representation_id",
      "lowerBound" -> "0", "upperBound" -> "100", "numPartitions" -> "2"))
    assert(rows(parted) == rows(worklist(None)))
    val reads = RecordingJdbcDriver.dataQueries(recUrl)
    assert(reads.size == 2 && reads.forall(_.contains("JOIN")), reads.mkString("\n"))
    assert(reads.exists(_.contains("\"REPRESENTATION_ID\" < 50")), reads.mkString("\n"))
    assert(reads.exists(_.contains("\"REPRESENTATION_ID\" >= 50")), reads.mkString("\n"))
  }

  test("the flow's sinks run 2 + 1 Spark jobs over one exchange and no join") {
    // every work-list URL serves the first bundled ALTO fixture
    val xml = AltoModule.fixtureDf(spark).head().getString(2)
    val fetcher = (_: String) => xml
    val docs = Alto.pipeline(Alto.fetchXml(
        worklist(None).withColumnRenamed("premis_stored_at", "url"), fetcher,
        policy = Alto.FetchPolicy.NullOnError).filter(col("xml").isNotNull))
      .withColumn("transcript_url", concat(lit("https://objects.test/"), col("s3_key")))

    object Plan extends AdaptiveSparkPlanHelper
    val plan = docs.queryExecution.executedPlan
    assert(Plan.collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan.treeString)
    assert(Plan.collect(plan) { case x: Exchange => x }.size == 1, plan.treeString)

    val sc = spark.sparkContext
    // job-group ids of every job started, in start order; a sentinel
    // job run after the sinks marks the end of their events
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val objDir = java.nio.file.Files.createTempDirectory("graft-wl-objs").toString
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("wl-objects", "object sink")
      Sinks.writeObjectPerRow(docs, "s3_key", "json_pretty", objDir)
      sc.setJobGroup("wl-upsert", "upsert sink")
      Sinks.jdbcUpsert(docs, Sinks.transcriptUpsertSpec, () => JdbcRecorder.connection("wl-derby"))
      sc.setJobGroup("wl-sentinel", "end of the sinks")
      spark.range(1).count()
      sc.clearJobGroup()
      val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
      var g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      while (g != null && g != "wl-sentinel") {
        jobs(g) += 1
        g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(g != null, "the sentinel job never reached the listener")
      assert(jobs("wl-objects") == 2 && jobs("wl-upsert") == 1, jobs.toMap.toString)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // four work-list rows: the two representations of file 2 share
    // one URL, so one object key
    assert(new java.io.File(objDir).listFiles().count(!_.getName.startsWith(".")) == 3)
    assert(JdbcRecorder.calls("wl-derby").count(_.startsWith("addBatch:UPDATE")) == 4)
  }
}
