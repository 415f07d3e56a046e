package graft.alto

import graft.SparkSpec
import graft.functions.AltoSimplify
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Golden tests: expected values pinned by running the reference's
  * bundled script (`node script/extract-text-lines-from-alto.js <url>`)
  * against these exact fixtures over local HTTP. See FIXTURES.md §A,
  * with one correction: the reference v2 path crashes (TypeError) on a
  * TextBlock without TextLine / Page without PrintSpace; our engine
  * yields zero rows for those levels (documented in Alto.scala).
  */
class AltoSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def load(fixture: String): DataFrame = {
    val path = resource(s"/alto/$fixture")
    val xml = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    Seq((1L, s"https://x.test/files/$fixture", xml))
      .toDF("representation_id", "url", "xml")
  }

  private def simplified(fixture: String): Row =
    load(fixture)
      .select(AltoSimplify($"xml").as("s"))
      .select("s.*").collect().head

  test("v2 basic: description metadata, string width/height, parseInt truncation") {
    val r = simplified("alto_v2_basic.xml")
    val d = r.getStruct(0)
    assert(d.getString(0) == "page_001.tif")              // fileName
    assert(d.getString(1) == "2023-05-01T10:00:00")       // processingDateTime
    assert(d.getString(2) == "dpi:300")                   // processingStepSettings
    assert(d.getString(3) == "ABBYY")                     // softwareCreator
    assert(d.getString(4) == "FineReader")                // softwareName
    assert(d.getString(5) == "11.0")                      // softwareVersion
    assert(d.getString(6) == "2400" && d.getString(7) == "3600") // strings, never ints
    val toks = r.getSeq[Row](1)
    assert(toks.map(t => (t.getString(0), t.getInt(1), t.getInt(2), t.getInt(3), t.getInt(4))) ==
      Seq(("Hello", 100, 200, 50, 20), ("world", 160, 200, 55, 20))) // parseInt("160.7")=160
  }

  test("v2: falsy CONTENT dropped, parseInt prefix/NaN semantics, multi-Layout document order") {
    val r = simplified("alto_v2_multilayout.xml")
    val toks = r.getSeq[Row](1)
    // node output: keep/9/10/null/12 then second, third (CONTENT="" and missing CONTENT dropped)
    assert(toks.map(_.getString(0)) == Seq("keep", "second", "third"))
    val keep = toks.head
    assert(keep.getInt(1) == 9)          // parseInt("9.5") = 9
    assert(keep.isNullAt(3))             // parseInt("bad") = NaN -> null
    assert(keep.getInt(4) == 12)         // parseInt(" 12px") = 12
    // description.width comes from Layout[0].Page[0] which has no WIDTH -> null
    assert(r.getStruct(0).isNullAt(6))
  }

  test("v2 tolerant: missing TextLine/PrintSpace yield zero rows (ref crashes; documented)") {
    val r = simplified("alto_v2_tolerant.xml")
    val toks = r.getSeq[Row](1)
    assert(toks.map(_.getString(0)) == Seq("alive"))
    assert(r.getStruct(0).getString(6) == "10")
  }

  test("v3: empty CONTENT kept, fileName always null, metadata partial") {
    val r = simplified("alto_v3_basic.xml")
    val d = r.getStruct(0)
    assert(d.isNullAt(0))                                 // fileName: v3 hardcodes undefined
    assert(d.getString(1) == "2023-05-01T10:00:00")
    assert(d.isNullAt(2))                                 // no processingStepSettings in fixture
    assert(d.getString(4) == "Tesseract")
    assert(d.getString(6) == "1000" && d.getString(7) == "1500")
    val toks = r.getSeq[Row](1)
    assert(toks.map(_.getString(0)) == Seq("", "v3tok"))  // "" kept in v3
    assert(toks(1).getInt(1) == 10)                       // parseInt("10.9") = 10
  }

  test("unsupported namespace: all-null record, no error") {
    val r = simplified("alto_unsupported.xml")
    val d = r.getStruct(0)
    assert((0 until 8).forall(d.isNullAt))
    assert(r.isNullAt(1))                                 // text: null array
  }

  test("transcript: space-join in document order; json drops null fields") {
    val df = load("alto_v2_multilayout.xml")
      .withColumn("s", AltoSimplify($"xml"))
    val row = df.select(
      Alto.transcript($"s").as("t"),
      Alto.toSimplifiedJson($"s").as("j")).collect().head
    assert(row.getString(0) == "keep second third")
    assert(!row.getString(1).contains("fileName"))        // null keys dropped like JSON.stringify
    assert(row.getString(1).contains("\"text\":\"keep\""))
  }

  test("full pipeline: id/url carried through, s3 key = basename + .json") {
    val out = Alto.pipeline(load("alto_v2_basic.xml")).collect().head
    assert(out.getAs[Long]("representation_id") == 1L)
    assert(out.getAs[String]("s3_key") == "alto_v2_basic.xml.json")
    assert(out.getAs[String]("transcript") == "Hello world")
  }

  test("pretty JSON is byte-identical to JSON.stringify(obj, null, 2)") {
    // golden: the reference emits JSON.stringify(simplifiedAlto, null, 2)
    // (extract-text-lines-from-alto.js:24071) — 2-space indent, one
    // space after the colon, empty objects inline.
    val expected =
      """{
        |  "description": {
        |    "fileName": "page_001.tif",
        |    "processingDateTime": "2023-05-01T10:00:00",
        |    "processingStepSettings": "dpi:300",
        |    "softwareCreator": "ABBYY",
        |    "softwareName": "FineReader",
        |    "softwareVersion": "11.0",
        |    "width": "2400",
        |    "height": "3600"
        |  },
        |  "text": [
        |    {
        |      "text": "Hello",
        |      "x": 100,
        |      "y": 200,
        |      "width": 50,
        |      "height": 20
        |    },
        |    {
        |      "text": "world",
        |      "x": 160,
        |      "y": 200,
        |      "width": 55,
        |      "height": 20
        |    }
        |  ]
        |}""".stripMargin
    val got = Alto.pipeline(load("alto_v2_basic.xml")).collect().head
      .getAs[String]("json_pretty")
    assert(got == expected)
    // unsupported namespace: JSON.stringify collapses the all-undefined
    // record to {"description": {}} (empty object stays inline)
    val un = Alto.pipeline(load("alto_unsupported.xml")).collect().head
      .getAs[String]("json_pretty")
    assert(un == "{\n  \"description\": {}\n}")
  }

  test("pipeline observe() reports the unsupported-document count") {
    val df = Alto.pipeline(AltoModule.fixtureDf(spark))
    df.collect()
    val m = df.queryExecution.observedMetrics("alto_pipeline")
    assert(m.getAs[Long]("docs") == 5L)
    assert(m.getAs[Long]("skipped_unsupported_docs") == 1L)
  }

  test("per-URL fetch fallback feeds the same pipeline (pluggable fetcher)") {
    // fixture-backed fetcher stands in for the HTTP client (no egress
    // here); the url->xml map is what the reference's per-URL
    // fetch+parse loop observes.
    val byUrl = AltoModule.fixtureDf(spark).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    val urls = byUrl.keys.toSeq.sorted.zipWithIndex
      .map { case (u, i) => (i.toLong + 1, u) }
    val viaFetch = Alto.pipeline(
      Alto.fetchXml(urls.toDF("representation_id", "url"), byUrl.apply))
      .select("url", "transcript")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    val direct = Alto.pipeline(AltoModule.fixtureDf(spark))
      .select("url", "transcript")
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(viaFetch == direct)
  }

  test("fetch failure: FailFast fails the job like the reference's raise-on-error") {
    // reference flows/main_flow.py:59-60: a non-zero fetch exit raises
    // and fails the flow run — the default policy must do the same
    val urls = Seq((1L, "ok://a"), (2L, "boom://b")).toDF("representation_id", "url")
    val fetcher = (u: String) =>
      if (u.startsWith("boom")) sys.error(s"fetch failed: $u") else "<alto/>"
    val ex = intercept[Exception] {
      Alto.fetchXml(urls, fetcher).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("fetch failed")))
  }

  test("fetch failure: NullOnError nulls the row and counts it via observe()") {
    val urls = Seq((1L, "ok://a"), (2L, "boom://b"), (3L, "ok://c"))
      .toDF("representation_id", "url")
    val fetcher = (u: String) =>
      if (u.startsWith("boom")) sys.error(s"fetch failed: $u") else "<alto/>"
    val df = Alto.fetchXml(urls, fetcher, policy = Alto.FetchPolicy.NullOnError)
    val rows = df.collect()
      .map(r => r.getAs[String]("url") -> Option(r.getAs[String]("xml"))).toMap
    assert(rows("ok://a").contains("<alto/>") && rows("ok://c").contains("<alto/>"))
    assert(rows("boom://b").isEmpty)
    val m = df.queryExecution.observedMetrics("fetch_xml")
    assert(m.getAs[Long]("urls") == 3L)
    assert(m.getAs[Long]("failed_fetches") == 1L)
  }

  test("fetchXml spreads a one-partition input; a second sink action still reports full observe() counts") {
    // fixture-backed fetcher: 5 documents (1 of an unsupported
    // namespace) plus 2 URLs the archive does not hold
    val byUrl = AltoModule.fixtureDf(spark).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    val urls = (byUrl.keys.toSeq.sorted ++ Seq("https://x.test/gone/1.xml", "https://x.test/gone/2.xml"))
      .zipWithIndex.map { case (u, i) => (i.toLong + 1, u) }
      .toDF("representation_id", "url").coalesce(1)
    assert(urls.rdd.getNumPartitions == 1)
    val fetched = Alto.fetchXml(urls, byUrl.apply, policy = Alto.FetchPolicy.NullOnError)
    assert(fetched.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Row]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    durationNs: Long): Unit =
        if (funcName == "foreachPartition") {
          val m = qe.observedMetrics
          if (m.contains("fetch_xml")) seen.add(m)
        }
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // the two sinks of the reference flow: two actions on one Dataset
      val docs = Alto.pipeline(fetched)
      docs.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))
      docs.foreachPartition((rows: Iterator[Row]) => rows.foreach(_ => ()))
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      // listener calls arrive on the listener bus, after the action returns
      eventually(timeout(30.seconds)) { assert(seen.size == 2) }
    } finally spark.listenerManager.unregister(listener)
    // both actions share one QueryExecution, and the first one's event
    // can be delivered after the second action reset its metrics: a
    // listener that keeps the latest counts reads the second event's
    val m = seen.asScala.last
    assert(m("fetch_xml").getAs[Long]("urls") == 7L)
    assert(m("fetch_xml").getAs[Long]("failed_fetches") == 2L)
    assert(m("alto_pipeline").getAs[Long]("docs") == 7L)
    // the unsupported namespace plus the two failed fetches' null documents
    assert(m("alto_pipeline").getAs[Long]("skipped_unsupported_docs") == 3L)
  }

  test("XML datasource ingest path matches from_xml path") {
    val viaDs = AltoReference.readAltoXmlFiles(spark, resource("/alto/alto_v2_basic.xml"))
      .select(AltoReference.simplify($"alto").as("s"))
      .select(Alto.transcript($"s")).collect().head.getString(0)
    assert(viaDs == "Hello world")
  }

  test("outer token view keeps empty documents as an all-null row") {
    val df = AltoModule.fixtureDf(spark)
      .withColumn("simplified", AltoSimplify($"xml"))
    val inner = Alto.tokens(df, "representation_id")
      .select("representation_id").distinct().as[Long].collect().toSet
    val outer = Alto.tokensOuter(df, "representation_id")
      .select("representation_id").distinct().as[Long].collect().toSet
    // doc 5 (unsupported namespace, null text array) only survives the outer view
    assert(!inner.contains(5L))
    assert(outer.contains(5L))
    val row5 = Alto.tokensOuter(df, "representation_id")
      .filter($"representation_id" === 5L).collect()
    assert(row5.length == 1 && row5.head.isNullAt(1) && row5.head.isNullAt(2))
  }

  test("exploded token view: one row per kept token with positions") {
    val df = load("alto_v2_multilayout.xml")
      .withColumn("simplified", AltoSimplify($"xml"))
    val toks = Alto.tokens(df, "representation_id")
    assert(toks.count() == 3)
    assert(toks.orderBy("pos").select("text").as[String].collect().toSeq ==
      Seq("keep", "second", "third"))
  }

  test("pipeline plan: the kernel runs once per row, with no from_xml and no higher-order flatten") {
    // a fetched (non-local) input, so the projections run in the
    // executed plan rather than being folded into a local relation
    val byUrl = AltoModule.fixtureDf(spark).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
    val urls = byUrl.keys.toSeq.sorted.zipWithIndex.map { case (u, i) => (i.toLong + 1, u) }
      .toDF("representation_id", "url")
    val out = Alto.pipeline(Alto.fetchXml(urls, byUrl.apply))
    assert(out.collect().length == 5)
    val exprs = collect(out.queryExecution.executedPlan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[AltoSimplify]) == 1)
    val banned = Set("XmlToStructs", "ArrayTransform", "ArrayFilter")
    assert(exprs.map(_.getClass.getSimpleName).filter(banned).isEmpty)
  }

  test("q_alto_bulk plan: one kernel over a whole-file text scan, rows equal the reference model's") {
    val out = AltoModule.queries("q_alto_bulk")(spark, "")
    val rows = out.collect()
    val plan = out.queryExecution.executedPlan
    val exprs = collect(plan) { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    assert(exprs.count(_.isInstanceOf[AltoSimplify]) == 1)
    val banned = Set("XmlToStructs", "ArrayTransform", "ArrayFilter")
    assert(exprs.map(_.getClass.getSimpleName).filter(banned).isEmpty)
    val formats = collect(plan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.fileFormat
    }
    assert(formats.nonEmpty)
    assert(!formats.exists(_.getClass.getName.toLowerCase.contains("xml")), formats)

    // the same projection over the reference model's parse of the same directory
    val dir = new java.io.File(new java.net.URI(out.inputFiles.head)).getParent
    val s = col("s")
    val ref = AltoReference.readAltoXmlFiles(spark, dir)
      .select(AltoReference.simplify($"alto").as("s"))
      .select(
        regexp_extract(s("description")("fileName"), "page_(\\d+)\\.tif", 1)
          .cast("bigint").as("rep_id"),
        size(s("text")).cast("bigint").as("n_tokens"),
        s("description")("width").as("page_width"),
        aggregate(s("text"), lit(0L), (acc, t) => acc + t.getField("x")).as("sum_x"),
        element_at(s("text"), 1).getField("text").as("first_tok"))
      .orderBy("rep_id")
    assert(rows.length == 2000)
    assert(rows.head == Row(0L, 3L, "1000", 30L, "tok0_0"))
    assert(rows.toSeq == ref.collect().toSeq)
  }
}
