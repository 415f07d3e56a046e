package graft.alto

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryModule
import graft.sinks.LocalFiles

/** Driver-contract registration for the ALTO domain pipeline.
  *
  * DuckDB cannot parse the XML, so the oracle side is the pinned golden
  * output (VALUES) obtained by running the reference's own Node script
  * on the identical fixtures — the hash compare then checks our whole
  * XML→simplify→transcript path against the reference's observable
  * behavior.
  */
object AltoModule extends QueryModule {

  private val fixtures = Seq(
    "alto_v2_basic.xml", "alto_v2_multilayout.xml", "alto_v2_tolerant.xml",
    "alto_v3_basic.xml", "alto_unsupported.xml")

  private def readResource(name: String): String = {
    val in = getClass.getResourceAsStream(s"/alto/$name")
    // name the missing resource instead of NPEing on the null stream
    // (where the finally's close() would mask even that NPE)
    require(in != null, s"missing classpath resource /alto/$name — fixture not packaged")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** (id, url, xml) rows from the bundled fixtures — stands in for the
    * fetched documents of the reference's work-list loop. */
  def fixtureDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fixtures.zipWithIndex
      .map { case (f, i) => (i.toLong + 1, s"https://archive.test/files/$f", readResource(f)) }
      .toDF("representation_id", "url", "xml")
  }

  private def simplifyQuery(spark: SparkSession, dir: String): DataFrame = {
    val out = Alto.pipeline(fixtureDf(spark))
    out.select(
      col("representation_id"),
      col("simplified")("description")("fileName").as("file_name"),
      col("simplified")("description")("softwareName").as("software_name"),
      col("simplified")("description")("width").as("page_width"),
      coalesce(size(col("simplified")("text")), lit(-1)).as("n_tokens"),
      col("transcript"),
      col("s3_key"))
      .orderBy("representation_id")
  }

  private def tokensQuery(spark: SparkSession, dir: String): DataFrame = {
    val df = fixtureDf(spark)
      .withColumn("simplified", graft.functions.AltoSimplify(col("xml")))
    Alto.tokens(df, "representation_id")
      .orderBy("representation_id", "pos")
  }

  /** Bulk-corpus size for the distributed whole-file ingest demo. */
  private val BulkN = 2000

  /** Generator version — bump whenever the closed forms below (token
    * count, HPOS spacing, page width, file naming) change, so a stale
    * corpus from a previous code generation can never satisfy the
    * published-directory check and silently feed the new oracle. */
  private val BulkV = "v2"

  /** Deterministic bulk ALTO corpus: [[BulkN]] v2 files generated once
    * into a versioned temp directory (driver-side, ~2 MB total), one
    * document per file — the reference's unit (one URL, one document).
    * File i carries fileName `page_<i>.tif`, page width
    * `1000 + (i%5)*100`, and `3 + i%7` tokens `tok<i>_<j>` at HPOS
    * `j*10` — closed forms the SQL oracle reconstructs with
    * generate_series, independent of the parse path. This is the
    * S2-at-scale posture: thousands of real files through a file scan,
    * NOT literals on the driver. The corpus is
    * scale-factor-independent by design (a fixed-size ingest fixture),
    * so it is keyed by (BulkN, BulkV), not by the sf dir. It is
    * published with [[graft.sinks.LocalFiles.publishOnce]], so a reader
    * never sees a partly written corpus. */
  private def bulkDir(): String = synchronized {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_alto_bulk_${BulkN}_$BulkV")
    LocalFiles.publishOnce(dir) { stage =>
      (0 until BulkN).foreach { i =>
        val n = 3 + i % 7
        val toks = (0 until n).map(j =>
          s"""<String CONTENT="tok${i}_$j" HPOS="${j * 10}" VPOS="5" WIDTH="5" HEIGHT="9"/>""")
          .mkString("\n          ")
        val xml =
          s"""<alto xmlns="http://www.loc.gov/standards/alto/ns-v2#">
             |  <Description>
             |    <sourceImageInformation><fileName>page_$i.tif</fileName></sourceImageInformation>
             |  </Description>
             |  <Layout>
             |    <Page ID="P1" WIDTH="${1000 + (i % 5) * 100}" HEIGHT="3600">
             |      <PrintSpace>
             |        <TextBlock ID="TB1">
             |          <TextLine>
             |          $toks
             |          </TextLine>
             |        </TextBlock>
             |      </PrintSpace>
             |    </Page>
             |  </Layout>
             |</alto>""".stripMargin
        Files.writeString(stage.resolve(f"alto_$i%05d.xml"), xml)
      }
    }.toString
  }

  /** Pre-generate the bulk corpus (idempotent) — lets a bench harness
    * pay the one-time fixture generation outside any timed region, so
    * `q_alto_bulk` measures the scan and the parse, not `Files.write`
    * of 2,000 fixtures on a cold host. */
  private[graft] def ensureBulkCorpus(): Unit = { bulkDir(); () }

  /** Distributed token accounting over the bulk corpus: one row per
    * file (a whole-file text scan), each file one document, parsed by
    * the same [[graft.functions.AltoSimplify]] kernel the fixture
    * queries pin, with the representation id recovered from the
    * document itself. Narrow per-row work (the token fold runs inside
    * the row); the only exchange is the presentation sort. */
  private def bulkQuery(spark: SparkSession, dir: String): DataFrame = {
    // read the DIRECTORY, not a glob: Hadoop's globber stats every
    // matching file sequentially on the driver (measured 4-7 s for the
    // 2,000-file corpus vs one listStatus call for the directory);
    // _SUCCESS is skipped automatically as a hidden file.
    spark.read.option("wholetext", "true").text(bulkDir())
      .select(graft.functions.AltoSimplify(col("value")).as("simplified"))
      .select(
        regexp_extract(col("simplified")("description")("fileName"),
          "page_(\\d+)\\.tif", 1).cast("bigint").as("rep_id"),
        size(col("simplified")("text")).cast("bigint").as("n_tokens"),
        col("simplified")("description")("width").as("page_width"),
        aggregate(col("simplified")("text"), lit(0L),
          (acc, t) => acc + t.getField("x")).as("sum_x"),
        element_at(col("simplified")("text"), 1).getField("text").as("first_tok"))
      .orderBy("rep_id")
  }

  def queries = Map(
    "q_alto_simplify" -> ((s: SparkSession, d: String) => simplifyQuery(s, d)),
    "q_alto_tokens" -> ((s: SparkSession, d: String) => tokensQuery(s, d)),
    "q_alto_bulk" -> ((s: SparkSession, d: String) => bulkQuery(s, d)))

  // Golden values pinned by the reference script run (see AltoSpec).
  // size(null array) => -1 marks the unsupported-namespace record.
  def oracles = Map(
    "q_alto_simplify" ->
      """SELECT * FROM (VALUES
        |  (BIGINT '1', 'page_001.tif', 'FineReader', '2400', 2, 'Hello world', 'alto_v2_basic.xml.json'),
        |  (BIGINT '2', NULL, NULL, NULL, 3, 'keep second third', 'alto_v2_multilayout.xml.json'),
        |  (BIGINT '3', NULL, NULL, '10', 1, 'alive', 'alto_v2_tolerant.xml.json'),
        |  (BIGINT '4', NULL, 'Tesseract', '1000', 2, ' v3tok', 'alto_v3_basic.xml.json'),
        |  (BIGINT '5', NULL, NULL, NULL, -1, NULL, 'alto_unsupported.xml.json')
        |) AS t(representation_id, file_name, software_name, page_width, n_tokens, transcript, s3_key)
        |ORDER BY representation_id""".stripMargin,
    "q_alto_tokens" ->
      """SELECT * FROM (VALUES
        |  (BIGINT '1', 0, 'Hello', 100, 200, 50, 20),
        |  (BIGINT '1', 1, 'world', 160, 200, 55, 20),
        |  (BIGINT '2', 0, 'keep', 9, 10, NULL, 12),
        |  (BIGINT '2', 1, 'second', 1, 1, 1, 1),
        |  (BIGINT '2', 2, 'third', 2, 2, 2, 2),
        |  (BIGINT '3', 0, 'alive', 1, 2, 3, 4),
        |  (BIGINT '4', 0, '', 1, 2, 3, 4),
        |  (BIGINT '4', 1, 'v3tok', 10, 20, 30, 40)
        |) AS t(representation_id, pos, text, x, y, width, height)
        |ORDER BY representation_id, pos""".stripMargin,
    // Ground truth by construction: the generator's closed forms
    // (n = 3 + i%7 tokens at HPOS j*10, width 1000 + (i%5)*100),
    // reconstructed with generate_series — fully independent of the
    // XML parse path it verifies. sum_x = Σ 10j = 5·n·(n−1).
    "q_alto_bulk" ->
      """SELECT i AS rep_id,
        |  CAST(3 + i % 7 AS BIGINT) AS n_tokens,
        |  CAST(1000 + (i % 5) * 100 AS VARCHAR) AS page_width,
        |  CAST(5 * (3 + i % 7) * (2 + i % 7) AS BIGINT) AS sum_x,
        |  'tok' || i || '_0' AS first_tok
        |FROM generate_series(0, 1999) t(i)
        |ORDER BY rep_id""".stripMargin)
}
