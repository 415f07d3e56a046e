package e2ebench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.{Connection, DriverManager}
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.util.LongAccumulator

import graft.sinks.Sinks

/** One generated catalog entry. `kind` is "v2", "v3", "unsupported"
  * (an ALTO namespace the program does not handle) or "missing" (the
  * archive answers 404). `transcript` and `tokens` are what the
  * program should derive from the document, computed here from the
  * generated tokens, never from the program. */
final case class Doc(fileId: Long, representationId: Long, kind: String,
                     updatedAt: String, xml: String,
                     transcript: Option[String], tokens: Int) {
  def name: String = s"doc_$representationId.xml"
  def objectKey: String = s"$name.json"
}

/** The seeded ALTO corpus and catalog of the `alto_flow` workload. */
final case class AltoCorpus(docs: Seq[Doc], distractors: Int, asOf: String) {
  def served: Seq[Doc] = docs.filter(_.kind != "missing")
  def unsupported: Int = docs.count(_.kind == "unsupported")
  def missing: Int = docs.count(_.kind == "missing")
  def transcriptUrl(d: Doc): String = s"${AltoCorpus.ObjectEndpoint}/${AltoCorpus.Bucket}/${d.objectKey}"
}

object AltoCorpus {
  val NsV2 = "http://www.loc.gov/standards/alto/ns-v2#"
  val NsV3 = "http://www.loc.gov/standards/alto/ns-v3#"
  val NsV4 = "http://www.loc.gov/standards/alto/ns-v4#"
  val ObjectEndpoint = "https://objects.example"
  val Bucket = "transcripts"

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo",
    "an", "er", "is", "ol", "um", "bra", "cht", "dor", "gen", "hil", "jan",
    "kel", "mar", "nst", "pel", "que", "ros", "sch", "tri", "wen", "zij", "ver")

  /** `docs` catalog entries from `seed`: page-sized v2 and v3 pages of
    * a few hundred tokens over several blocks and lines, one page in
    * twenty five times larger, one in thirty of an unsupported
    * namespace and one in thirty missing from the archive. The seed
    * picks which documents these are and their words and geometry; the
    * counts are fixed so every seed asks the same amount of work.
    *
    * Every figure of this mix is an assumption with no measured source:
    * the tokens per page (3-4 blocks of 4-6 lines of 8-12 tokens, about
    * 175), the share of large pages and their size, the shares of
    * unsupported and missing documents, and one empty token in forty.
    * The reference archive publishes no page or sync statistics. */
  def generate(seed: Long, docs: Int): AltoCorpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = IndexedSeq.tabulate(600) { _ =>
      (1 to 1 + rnd.nextInt(3)).map(_ => syllables(rnd.nextInt(syllables.size))).mkString
    }
    val day0 = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(200).toLong)
    val odd = math.max(1, docs / 30)
    val kinds = rnd.shuffle(Seq.fill(odd)("missing") ++ Seq.fill(odd)("unsupported") ++
      Seq.tabulate(docs - 2 * odd)(i => if (i % 2 == 0) "v2" else "v3"))
    val large = rnd.shuffle((0 until docs).toList).take(math.max(1, docs / 20)).toSet
    val out = (0 until docs).map { i =>
      val kind = kinds(i)
      val blocks = (3 + rnd.nextInt(2)) * (if (large(i)) 5 else 1)
      val updated = day0.plusDays(rnd.nextInt(60).toLong)
        .atTime(rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
      val repId = 100000L + i
      val sb = new StringBuilder
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      val ns = kind match { case "v2" => NsV2; case "v3" => NsV3; case _ => NsV4 }
      sb ++= s"""<alto xmlns="$ns">\n  <Description>\n"""
      sb ++= s"""    <sourceImageInformation><fileName>scan_$repId.tif</fileName></sourceImageInformation>\n"""
      sb ++= "    <OCRProcessing ID=\"OCR1\"><ocrProcessingStep>\n"
      sb ++= s"      <processingDateTime>${updated.toLocalDate}T08:00:00</processingDateTime>\n"
      sb ++= "      <processingSoftware><softwareCreator>ABBYY</softwareCreator>" +
        "<softwareName>FineReader</softwareName><softwareVersion>11.0</softwareVersion>" +
        "</processingSoftware>\n    </ocrProcessingStep></OCRProcessing>\n  </Description>\n"
      sb ++= s"""  <Layout>\n    <Page ID="P1" WIDTH="${2000 + rnd.nextInt(800)}" HEIGHT="${3000 + rnd.nextInt(900)}">\n      <PrintSpace>\n"""
      var y = 100
      for (b <- 0 until blocks) {
        sb ++= s"""        <TextBlock ID="TB$b">\n"""
        for (_ <- 0 until 4 + rnd.nextInt(3)) {
          sb ++= "          <TextLine>\n"
          var x = 80
          for (_ <- 0 until 8 + rnd.nextInt(5)) {
            // one token in forty has empty CONTENT: v2 drops it, v3 keeps it
            val word = if (rnd.nextInt(40) == 0) "" else vocab(rnd.nextInt(vocab.size))
            val w = 12 * math.max(1, word.length)
            sb ++= s"""            <String CONTENT="$word" HPOS="$x.${rnd.nextInt(10)}" VPOS="$y" WIDTH="$w" HEIGHT="28"/>\n"""
            if (kind == "v3" || (kind == "v2" && word.nonEmpty)) kept += word
            x += w + 10
          }
          sb ++= "          </TextLine>\n"
          y += 40
        }
        sb ++= "        </TextBlock>\n"
      }
      sb ++= "      </PrintSpace>\n    </Page>\n  </Layout>\n</alto>\n"
      val transcript = kind match {
        case "v2" | "v3" => Some(kept.mkString(" "))
        case _ => None
      }
      Doc(fileId = 500000L + i, representationId = repId, kind = kind,
        updatedAt = updated.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")),
        xml = sb.toString,
        transcript = transcript, tokens = kept.size)
    }
    val last = out.map(_.updatedAt).max
    val asOf = java.time.LocalDate.parse(last.take(10)).plusDays(1).toString
    AltoCorpus(out, distractors = docs / 5, asOf = asOf)
  }

  /** Derby-dialect upsert for the transcript sink: the program's
    * UPDATE, plus a MERGE in place of Postgres `ON CONFLICT`. */
  val derbyUpsertSpec: Sinks.UpsertSpec = Sinks.UpsertSpec(
    updateSql = "UPDATE representation SET schema_transcript = ? WHERE id = ?",
    updateCols = Seq("transcript", "representation_id"),
    insertSql = "MERGE INTO schema_transcript_url t USING SYSIBM.SYSDUMMY1 " +
      "ON t.representation_id = CAST(? AS BIGINT) " +
      "WHEN MATCHED THEN UPDATE SET schema_transcript_url = CAST(? AS VARCHAR(512)) " +
      "WHEN NOT MATCHED THEN INSERT (representation_id, schema_transcript_url) " +
      "VALUES (CAST(? AS BIGINT), CAST(? AS VARCHAR(512)))",
    insertCols = Seq("representation_id", "transcript_url",
      "representation_id", "transcript_url"))
}

/** Embedded Derby catalog at `dir`: the work-list tables `file` and
  * `includes`, and the sink tables `representation` and
  * `schema_transcript_url`. */
final class DerbyCatalog(dir: String) {
  val url: String = s"jdbc:derby:directory:$dir"

  def connect(): Connection = DriverManager.getConnection(url)

  private def exec(c: Connection, sql: String*): Unit = {
    val st = c.createStatement()
    try sql.foreach(s => st.execute(s)) finally st.close()
  }

  def create(corpus: AltoCorpus, baseUrl: String): Unit = {
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      exec(c,
        "CREATE TABLE file (id BIGINT PRIMARY KEY, ebucore_has_mime_type VARCHAR(64), " +
          "schema_name VARCHAR(64), premis_stored_at VARCHAR(512), updated_at TIMESTAMP)",
        "CREATE TABLE includes (file_id BIGINT, representation_id BIGINT)",
        "CREATE TABLE representation (id BIGINT PRIMARY KEY, schema_transcript CLOB)",
        "CREATE TABLE schema_transcript_url (representation_id BIGINT PRIMARY KEY, " +
          "schema_transcript_url VARCHAR(512))")
      c.setAutoCommit(false)
      val f = c.prepareStatement("INSERT INTO file VALUES (?, ?, ?, ?, ?)")
      val inc = c.prepareStatement("INSERT INTO includes VALUES (?, ?)")
      val rep = c.prepareStatement("INSERT INTO representation VALUES (?, NULL)")
      def addFile(id: Long, mime: String, schema: String, at: String, repId: Long, name: String): Unit = {
        f.setLong(1, id); f.setString(2, mime); f.setString(3, schema)
        f.setString(4, s"$baseUrl/$name"); f.setTimestamp(5, java.sql.Timestamp.valueOf(at))
        f.addBatch()
        inc.setLong(1, id); inc.setLong(2, repId); inc.addBatch()
        rep.setLong(1, repId); rep.addBatch()
      }
      corpus.docs.foreach(d => addFile(d.fileId, "application/xml", "mets_alto_page",
        d.updatedAt, d.representationId, d.name))
      // catalog rows the work-list must leave out: other mime types and
      // schemas, each with its own representation
      (0 until corpus.distractors).foreach { i =>
        val (mime, schema) = if (i % 2 == 0) ("image/tiff", "mets_alto_page") else ("application/xml", "mets_mods")
        addFile(900000L + i, mime, schema, corpus.docs(i % corpus.docs.size).updatedAt,
          200000L + i, s"other_$i.bin")
      }
      f.executeBatch(); inc.executeBatch(); rep.executeBatch()
      c.commit()
    } finally c.close()
  }

  /** Return the sink tables to their seeded state. */
  def resetSinks(): Unit = {
    val c = connect()
    try exec(c, "UPDATE representation SET schema_transcript = NULL",
      "DELETE FROM schema_transcript_url")
    finally c.close()
  }

  /** representation id → transcript, for every representation. */
  def transcripts(): Map[Long, Option[String]] = query(
    "SELECT id, schema_transcript FROM representation")(r => r.getLong(1) -> Option(r.getString(2)))
    .toMap

  /** representation id → url of every upserted transcript row. */
  def transcriptUrls(): Map[Long, String] = query(
    "SELECT representation_id, schema_transcript_url FROM schema_transcript_url")(
    r => r.getLong(1) -> r.getString(2)).toMap

  private def query[A](sql: String)(f: java.sql.ResultSet => A): Seq[A] = {
    val c = connect()
    try {
      val rs = c.createStatement().executeQuery(sql)
      val out = scala.collection.mutable.ArrayBuffer.empty[A]
      while (rs.next()) out += f(rs)
      out.toList
    } finally c.close()
  }

  def shutdown(): Unit =
    try DriverManager.getConnection(url + ";shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
}

/** Loopback archive serving the corpus at `/alto/<name>` with at most
  * `threads` handler threads; names it does not hold answer 404. */
final class LoopbackArchive(corpus: AltoCorpus, threads: Int) {
  private val bodies: Map[String, Array[Byte]] =
    corpus.served.map(d => d.name -> d.xml.getBytes(StandardCharsets.UTF_8)).toMap
  val requests = new AtomicLong
  // without TCP_NODELAY the JDK server's separate header and body
  // writes meet the client's delayed ACK: ~40 ms per request
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads)
  server.setExecutor(pool)
  server.createContext("/alto/", (ex: HttpExchange) => {
    requests.incrementAndGet()
    val name = ex.getRequestURI.getPath.stripPrefix("/alto/")
    bodies.get(name) match {
      case Some(b) =>
        ex.getResponseHeaders.add("Content-Type", "application/xml")
        ex.sendResponseHeaders(200, b.length.toLong)
        ex.getResponseBody.write(b)
      case None => ex.sendResponseHeaders(404, -1)
    }
    ex.close()
  })
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}/alto"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}

/** A fetcher that counts and times every call of the one it wraps:
  * calls, failures (the wrapped fetcher threw) and busy nanoseconds,
  * fed into Spark accumulators so executor-side calls reach the
  * driver. */
object CountingFetcher {
  final case class Counters(calls: LongAccumulator, failed: LongAccumulator,
                            busyNs: LongAccumulator)

  def wrap(inner: String => String, c: Counters): String => String = { url =>
    c.calls.add(1)
    val t0 = System.nanoTime
    try inner(url)
    catch { case e: Throwable => c.failed.add(1); throw e }
    finally c.busyNs.add(System.nanoTime - t0)
  }
}

/** A `Connection` proxy that counts what passes through it:
  * connections opened, commits, batch executions, the rows the MERGE
  * statements report as upserted, and nanoseconds spent inside JDBC
  * calls. The counters are per JVM, which in local mode covers every
  * executor. */
object CountingJdbc {
  val connections, commits, executions, rowsUpserted, busyNs = new AtomicLong

  def reset(): Unit =
    Seq(connections, commits, executions, rowsUpserted, busyNs).foreach(_.set(0))

  def wrap(c: Connection): Connection = {
    connections.incrementAndGet()
    proxy(c, classOf[Connection], merge = false)
  }

  private def proxy[T](target: AnyRef, iface: Class[T], merge: Boolean): T = {
    val h: java.lang.reflect.InvocationHandler = (_, m, args) => {
      val t0 = System.nanoTime
      val r =
        try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
        finally busyNs.addAndGet(System.nanoTime - t0)
      m.getName match {
        case "commit" => commits.incrementAndGet()
        case "executeBatch" =>
          executions.incrementAndGet()
          if (merge) r.asInstanceOf[Array[Int]].foreach(n => rowsUpserted.addAndGet(math.max(0, n).toLong))
        case _ =>
      }
      r match {
        case ps: java.sql.PreparedStatement if m.getName == "prepareStatement" =>
          proxy(ps, classOf[java.sql.PreparedStatement],
            merge = args(0).toString.trim.toUpperCase.startsWith("MERGE"))
        case other => other
      }
    }
    java.lang.reflect.Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface), h)
      .asInstanceOf[T]
  }
}
