package graft.sinks

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.net.URI
import java.sql.{Connection, PreparedStatement}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** Records every JDBC call made by the upsert writer, keyed by runId —
  * suites run in parallel in one JVM, so each test records into its
  * own bucket. local[*] keeps executors in this JVM, so the shared
  * object buffer observes executor-side calls. */
object JdbcRecorder {
  private val buckets =
    new java.util.concurrent.ConcurrentHashMap[String, mutable.Buffer[String]]()
  def calls(runId: String): List[String] =
    Option(buckets.get(runId)) match {
      case Some(b) => b.synchronized { b.toList }
      case None => Nil
    }
  def add(runId: String, s: String): Unit = {
    val b = buckets.computeIfAbsent(runId, _ => mutable.Buffer.empty[String])
    b.synchronized { b += s }
  }

  private def statementProxy(runId: String, sql: String): PreparedStatement = {
    val params = mutable.Map.empty[Int, Any]
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "setObject" =>
              params(args(0).asInstanceOf[Int]) = args(1); null
            case "addBatch" =>
              add(runId, s"addBatch:$sql:" + params.toSeq.sortBy(_._1).map(_._2).mkString(","))
              null
            case "executeBatch" => add(runId, s"executeBatch:$sql"); Array.empty[Int]
            case "close" => null
            case _ => null
          }
      }).asInstanceOf[PreparedStatement]
  }

  def connection(runId: String): Connection = connectionImpl(runId, None)

  /** A connection whose INSERT statement fails at executeBatch —
    * exercises the rollback path. */
  def failingConnection(runId: String): Connection =
    connectionImpl(runId, Some(() => new java.sql.SQLException("constraint violation")))

  private val insertFailuresLeft =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicInteger]()

  /** The first `failures` connections opened under `runId` fail their
    * INSERT batch with `error`; later ones record normally. */
  def failingFirst(runId: String, failures: Int, error: () => java.sql.SQLException): Connection = {
    val left = insertFailuresLeft.computeIfAbsent(runId,
      _ => new java.util.concurrent.atomic.AtomicInteger(failures))
    connectionImpl(runId, if (left.getAndDecrement() > 0) Some(error) else None)
  }

  private def connectionImpl(runId: String,
                             failInserts: Option[() => java.sql.SQLException]): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]),
      new InvocationHandler {
        def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "setAutoCommit" => add(runId, s"setAutoCommit:${args(0)}"); null
            case "prepareStatement" =>
              val sql = args(0).asInstanceOf[String]
              failInserts.filter(_ => sql.startsWith("INSERT"))
                .fold(statementProxy(runId, sql))(failingStatement)
            case "commit" => add(runId, "commit"); null
            case "rollback" => add(runId, "rollback"); null
            case "close" => add(runId, "close"); null
            case "hashCode" => Int.box(System.identityHashCode(proxy))
            case "equals" => java.lang.Boolean.valueOf(proxy eq args(0))
            case "toString" => "recorder-connection"
            case _ => null
          }
      }).asInstanceOf[Connection]

  private def failingStatement(error: () => java.sql.SQLException): PreparedStatement =
    Proxy.newProxyInstance(getClass.getClassLoader,
      Array(classOf[PreparedStatement]),
      new InvocationHandler {
        def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          m.getName match {
            case "executeBatch" => throw error()
            case _ => null
          }
      }).asInstanceOf[PreparedStatement]
}

/** A filesystem that only the session's Hadoop settings know: scheme
  * [[SessionOnlyFs.Scheme]], serving the local disk through a
  * `FilterFileSystem` (so the object sink takes its generic
  * `FileSystem.create` path, not the local NIO one). A writer that
  * resolves paths with a fresh `Configuration` finds no such scheme. */
class SessionOnlyFs extends FilterFileSystem(new RawLocalFileSystem) {
  override def getScheme: String = SessionOnlyFs.Scheme
  override def getUri: URI = URI.create(s"${SessionOnlyFs.Scheme}:///")
  override def initialize(name: URI, conf: Configuration): Unit = {
    setConf(conf)
    fs.initialize(URI.create("file:///"), conf)
  }
  private def local(p: Path): Path = new Path("file", null, p.toUri.getPath)
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    fs.create(local(f), permission, overwrite, bufferSize, replication, blockSize, progress)
  override def getFileStatus(f: Path): FileStatus = fs.getFileStatus(local(f))
  override def exists(f: Path): Boolean = fs.exists(local(f))
  override def mkdirs(f: Path): Boolean = fs.mkdirs(local(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean = fs.mkdirs(local(f), permission)
}

object SessionOnlyFs {
  val Scheme = "graftsession"
}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  /** Every file under `dir`, dotfiles included, as relative path → content. */
  private def listing(dir: java.nio.file.Path): Map[String, String] = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => dir.relativize(f).toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      .toMap
    finally walk.close()
  }

  test("writeObjectPerRow: one named object per row, content intact, null rows skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-objs")
    val df = Seq(
      ("a.json", """{"v":1}"""),
      ("b.json", """{"v":2}"""),
      ("sub/c.json", """{"v":3}"""),
      (null.asInstanceOf[String], "dropped")
    ).toDF("s3_key", "payload")
    val expected = Map("a.json" -> """{"v":1}""", "b.json" -> """{"v":2}""",
      "sub/c.json" -> """{"v":3}""")
    Sinks.writeObjectPerRow(df, "s3_key", "payload", dir.toString)
    assert(listing(dir) == expected)
    // idempotent replay: same keys overwritten, not duplicated
    Sinks.writeObjectPerRow(df, "s3_key", "payload", dir.toString)
    assert(listing(dir) == expected)
  }

  test("writeObjectPerRow over a checksummed Hadoop write: the new bytes read back through Hadoop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-objs-crc")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val out = fs.create(new org.apache.hadoop.fs.Path(dir.toString, "a.json"), true)
    try out.write("""{"old":true}""".getBytes("UTF-8")) finally out.close()
    assert(listing(dir).keySet == Set("a.json", ".a.json.crc"))
    Sinks.writeObjectPerRow(Seq(("a.json", """{"v":1}""")).toDF("s3_key", "payload"),
      "s3_key", "payload", dir.toString)
    assert(listing(dir) == Map("a.json" -> """{"v":1}"""))
    val in = fs.open(new org.apache.hadoop.fs.Path(dir.toString, "a.json"))
    try assert(new String(in.readAllBytes(), "UTF-8") == """{"v":1}""") finally in.close()
  }

  test("filesystem sinks resolve paths with the session's Hadoop settings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-objs-session")
    val out = s"${SessionOnlyFs.Scheme}://$dir"
    val settings = Map(
      s"fs.${SessionOnlyFs.Scheme}.impl" -> classOf[SessionOnlyFs].getName,
      // keep the instance out of Hadoop's process-wide FileSystem cache
      s"fs.${SessionOnlyFs.Scheme}.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      Sinks.writeObjectPerRow(Seq(("a.json", "{}"), ("sub/b.json", "[]")).toDF("s3_key", "payload"),
        "s3_key", "payload", out)
      assert(listing(dir) == Map("a.json" -> "{}", "sub/b.json" -> "[]"))
    } finally settings.keys.foreach(spark.conf.unset)
  }

  test("writePartitioned lays out hive-style partition directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/out"
    val df = Seq((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"))
      .toDF("id", "lang", "text")
    Sinks.writePartitioned(df, Seq("lang"), dir)
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("lang="))
    assert(parts.toSet == Set("lang=en", "lang=de"))
    val back = spark.read.parquet(dir)
    assert(back.where($"lang" === "en").count() == 2)
  }

  test("hive partition layout prunes at scan time (PartitionFilters, not data filters)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString + "/out"
    val df = Seq((1L, "en", "x"), (2L, "de", "y"), (3L, "en", "z"), (4L, "fr", "w"))
      .toDF("id", "lang", "text")
    Sinks.writePartitioned(df, Seq("lang"), dir)
    val q = spark.read.parquet(dir).filter($"lang" === "en")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), scan.take(800))
    assert(scan.contains("lang"), scan.take(800))
    assert(q.count() == 2)
    // the pruned read touches only the lang=en directory's files
    val plan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!plan.contains("lang=de"))
  }

  test("end-to-end reference parity: ALTO pipeline lands one JSON object per document") {
    import org.apache.spark.sql.functions.{col, to_json}
    val dir = java.nio.file.Files.createTempDirectory("graft-alto-sink").toString
    val out = graft.alto.Alto.pipeline(graft.alto.AltoModule.fixtureDf(spark))
      .select(col("s3_key"), to_json(col("simplified")).as("payload"))
    Sinks.writeObjectPerRow(out, "s3_key", "payload", dir)
    val files = new java.io.File(dir).listFiles().filterNot(_.getName.startsWith("."))
    assert(files.length == 5)
    assert(files.forall(_.getName.endsWith(".xml.json")))
    files.foreach { f =>
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      assert(txt.startsWith("{"), s"${f.getName} is not JSON: $txt")
    }
  }

  test("jdbcUpsert rolls back the open transaction when a batch fails") {
    val runId = "rollback-test"
    val df = Seq((1L, "t", "u")).toDF("representation_id", "transcript", "transcript_url")
      .coalesce(1)
    intercept[org.apache.spark.SparkException] {
      Sinks.jdbcUpsert(df, Sinks.transcriptUpsertSpec,
        () => JdbcRecorder.failingConnection(runId))
    }
    val calls = JdbcRecorder.calls(runId)
    assert(calls.contains("rollback"))
    assert(!calls.contains("commit"))
    assert(calls.last == "close")
  }

  test("jdbcUpsert replays a failed batch on a fresh connection, but not a non-transient failure") {
    val df = Seq((1L, "t one", "u/1.json"), (2L, "t two", "u/2.json"))
      .toDF("representation_id", "transcript", "transcript_url")
      .coalesce(1)
    // a failure with no transient/non-transient class (what embedded
    // Derby raises when two connections run one MERGE at once)
    Sinks.jdbcUpsert(df, Sinks.transcriptUpsertSpec, () =>
      JdbcRecorder.failingFirst("replay-test", 1, () => new java.sql.BatchUpdateException()))
    val calls = JdbcRecorder.calls("replay-test")
    assert(calls.count(_.startsWith("setAutoCommit")) == 2)  // the first connection, then a fresh one
    assert(calls.count(_ == "rollback") == 1 && calls.count(_ == "commit") == 1)
    assert(calls.count(_.startsWith("addBatch:INSERT")) == 2)  // the replay's rows only
    assert(calls.count(_ == "close") == 2)

    intercept[org.apache.spark.SparkException] {
      Sinks.jdbcUpsert(df, Sinks.transcriptUpsertSpec, () =>
        JdbcRecorder.failingFirst("non-transient-test", Sinks.UpsertAttempts,
          () => new java.sql.SQLIntegrityConstraintViolationException("duplicate key")))
    }
    val failed = JdbcRecorder.calls("non-transient-test")
    assert(failed.count(_.startsWith("setAutoCommit")) == 1, "a non-transient failure is not replayed")
    assert(failed.count(_ == "rollback") == 1 && !failed.contains("commit"))
  }

  test("jdbcUpsert: batched UPDATE+INSERT per partition, transactional, idempotent SQL") {
    val runId = "upsert-test"
    val df = Seq((1L, "t one", "u/1.json"), (2L, "t two", "u/2.json"))
      .toDF("representation_id", "transcript", "transcript_url")
      .coalesce(1)
    Sinks.jdbcUpsert(df, Sinks.transcriptUpsertSpec, () => JdbcRecorder.connection(runId))
    val calls = JdbcRecorder.calls(runId)
    assert(calls.head == "setAutoCommit:false")
    assert(calls.count(_.startsWith("addBatch:UPDATE")) == 2)
    assert(calls.count(_.startsWith("addBatch:INSERT")) == 2)
    // UPDATE binds (transcript, id); INSERT binds (id, url)
    assert(calls.exists(_ == "addBatch:" + Sinks.transcriptUpsertSpec.updateSql + ":t one,1"))
    assert(calls.exists(_ == "addBatch:" + Sinks.transcriptUpsertSpec.insertSql + ":1,u/1.json"))
    assert(calls.count(_ == "commit") == 1)   // one txn for the whole small batch
    assert(calls.last == "close")
    assert(Sinks.transcriptUpsertSpec.insertSql.contains("ON CONFLICT"))
  }
}
