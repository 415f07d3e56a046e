package graft.alto

import graft.SparkSpec
import graft.functions.{AltoSimplify, JsonPrettyColumn}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Differential checks of the one-pass [[AltoSimplify]] kernel against
  * the reference model it replaced ([[AltoReference]]: `from_xml`, then
  * the higher-order flatten): for every document the simplified JSON,
  * the pretty JSON the object sink writes and the transcript must be
  * byte-equal. */
class AltoSimplifySpec extends SparkSpec {
  import spark.implicits._

  private val V2 = Alto.NsV2
  private val V3 = Alto.NsV3
  private val V4 = "http://www.loc.gov/standards/alto/ns-v4#"

  /** (json, pretty json, transcript) of one simplified column. */
  private def outputs(s: Column): Seq[Column] = Seq(
    Alto.toSimplifiedJson(s), JsonPrettyColumn(Alto.toSimplifiedJson(s)), Alto.transcript(s))

  /** Mismatches between the kernel and the reference model over `docs`,
    * evaluated both in the driver-side interpreter (a local relation)
    * and in generated code (a shuffled input). */
  private def mismatches(docs: Seq[String]): Seq[String] = {
    val local = docs.zipWithIndex.map { case (x, i) => (i, x) }.toDF("i", "xml")
    def cols(df: DataFrame): DataFrame = df.select(
      Seq(col("i")) ++
        outputs(AltoReference.simplify(AltoReference.parseXml(col("xml")))) ++
        outputs(AltoSimplify(col("xml"))): _*)
    Seq("interpreted" -> local, "generated" -> local.repartition(3)).flatMap {
      case (mode, df) =>
        cols(df).collect().toSeq.flatMap { r =>
          val i = r.getInt(0)
          val want = (1 to 3).map(r.get)
          val got = (4 to 6).map(r.get)
          if (want == got) None
          else Some(s"[$mode] doc $i: ${Option(docs(i)).map(_.take(300))}\n" +
            s"  reference ${want.head}\n  kernel    ${got.head}\n" +
            s"  transcripts ${want(2)} / ${got(2)}")
        }
    }
  }

  private def assertSame(docs: Seq[String]): Unit = {
    val bad = mismatches(docs)
    assert(bad.isEmpty, s"${bad.size} mismatches:\n" + bad.take(8).mkString("\n"))
  }

  private def fixture(name: String): String =
    new String(getClass.getResourceAsStream(s"/alto/$name").readAllBytes(), "UTF-8")

  private def page(ns: String, body: String, description: String = ""): String =
    s"""<alto xmlns="$ns">$description<Layout><Page WIDTH="100" HEIGHT="200"><PrintSpace>""" +
      s"""<TextBlock><TextLine>$body</TextLine></TextBlock></PrintSpace></Page></Layout></alto>"""

  private val fullDescription =
    """<Description>
      |  <sourceImageInformation><fileName>scan.tif</fileName></sourceImageInformation>
      |  <OCRProcessing ID="OCR1"><ocrProcessingStep>
      |    <processingDateTime>2024-01-02T08:00:00</processingDateTime>
      |    <processingStepSettings>dpi:300</processingStepSettings>
      |    <processingSoftware><softwareCreator>ABBYY</softwareCreator>
      |      <softwareName>FineReader</softwareName><softwareVersion>11.0</softwareVersion>
      |    </processingSoftware>
      |  </ocrProcessingStep></OCRProcessing>
      |</Description>""".stripMargin

  /** Pages shaped like the `alto_flow` benchmark corpus: v2, v3 and v4
    * documents of a few blocks of lines of tokens, HPOS with a decimal
    * part, and now and then an empty CONTENT. */
  private def flowPages(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val words = Seq("ka", "lo", "mi", "bra", "cht", "dor", "Ölm", "naïve", "a&b", "x<y", "\"q\"")
    (0 until n).map { i =>
      val ns = Seq(V2, V3, V4)(i % 3)
      val sb = new StringBuilder
      sb ++= s"""<alto xmlns="$ns">\n  <Description>\n"""
      sb ++= s"""    <sourceImageInformation><fileName>scan_$i.tif</fileName></sourceImageInformation>\n"""
      sb ++= "    <OCRProcessing ID=\"OCR1\"><ocrProcessingStep>\n"
      sb ++= s"      <processingDateTime>2024-0${1 + i % 9}-01T08:00:00</processingDateTime>\n"
      sb ++= "      <processingSoftware><softwareCreator>ABBYY</softwareCreator>" +
        "<softwareName>FineReader</softwareName><softwareVersion>11.0</softwareVersion>" +
        "</processingSoftware>\n    </ocrProcessingStep></OCRProcessing>\n  </Description>\n"
      sb ++= s"""  <Layout>\n    <Page ID="P1" WIDTH="${2000 + rnd.nextInt(800)}" HEIGHT="${3000 + rnd.nextInt(900)}">\n      <PrintSpace>\n"""
      for (b <- 0 until 2 + rnd.nextInt(3)) {
        sb ++= s"""        <TextBlock ID="TB$b">\n"""
        for (_ <- 0 until 2 + rnd.nextInt(3)) {
          sb ++= "          <TextLine>\n"
          for (_ <- 0 until 3 + rnd.nextInt(5)) {
            val w = if (rnd.nextInt(10) == 0) "" else words(rnd.nextInt(words.size))
            val esc = w.replace("&", "&amp;").replace("<", "&lt;").replace("\"", "&quot;")
            sb ++= s"""            <String CONTENT="$esc" HPOS="${rnd.nextInt(900)}.${rnd.nextInt(10)}" VPOS="${rnd.nextInt(99)}" WIDTH="${rnd.nextInt(99)}" HEIGHT="28"/>\n"""
          }
          sb ++= "          </TextLine>\n"
        }
        sb ++= "        </TextBlock>\n"
      }
      sb ++= "      </PrintSpace>\n    </Page>\n  </Layout>\n</alto>\n"
      sb.toString
    }
  }

  test("every bundled fixture gives the reference model's bytes") {
    assertSame(Seq("alto_v2_basic.xml", "alto_v2_multilayout.xml", "alto_v2_tolerant.xml",
      "alto_v3_basic.xml", "alto_unsupported.xml").map(fixture))
  }

  test("alto_flow-shaped pages give the reference model's bytes") {
    assertSame(flowPages(seed = 5, n = 30))
  }

  test("edge cases give the reference model's bytes") {
    val tok = """<String CONTENT="a" HPOS="1" VPOS="2" WIDTH="3" HEIGHT="4"/>"""
    assertSame(Seq(
      // repeated Description / Layout / Page: head-of-array fields
      s"""<alto xmlns="$V2"><Description><sourceImageInformation/></Description>$fullDescription""" +
        s"""<Layout/><Layout><Page HEIGHT="7"><PrintSpace><TextBlock><TextLine>$tok</TextLine></TextBlock></PrintSpace></Page>""" +
        s"""<Page WIDTH="9"/></Layout><Layout><Page WIDTH="8"><PrintSpace><TextBlock><TextLine>$tok$tok</TextLine>""" +
        "</TextBlock></PrintSpace></Page></Layout></alto>",
      s"""<alto xmlns="$V3">$fullDescription<Description><sourceImageInformation><fileName>b</fileName>""" +
        "</sourceImageInformation></Description><Layout><Page/></Layout></alto>",
      s"""<alto xmlns="$V2"><Description><sourceImageInformation><fileName/><fileName>second</fileName>""" +
        "</sourceImageInformation><OCRProcessing/><OCRProcessing><ocrProcessingStep/></OCRProcessing>" +
        "</Description></alto>",
      // a missing PrintSpace or TextLine
      s"""<alto xmlns="$V2"><Layout><Page WIDTH="1"/><Page><PrintSpace><TextBlock/></PrintSpace></Page>""" +
        s"""<Page><PrintSpace><TextBlock><TextLine>$tok</TextLine></TextBlock></PrintSpace></Page></Layout></alto>""",
      // a String without CONTENT, and falsy / blank CONTENT
      page(V2, """<String HPOS="1"/><String CONTENT=""/><String CONTENT=" "/><String CONTENT="k"/>"""),
      page(V3, """<String HPOS="1"/><String CONTENT=""/><String CONTENT=" "/><String CONTENT="k"/>"""),
      // JS parseInt coordinates
      page(V2, "<String CONTENT=\"t\" HPOS=\"\t42\" VPOS=\"0x10\" WIDTH=\"12.7\" HEIGHT=\"-3px\"/>" +
        """<String CONTENT="u" HPOS="&#9;42" VPOS="0X1f" WIDTH=" +7" HEIGHT="x1"/>""" +
        """<String CONTENT="v" HPOS="99999999999" VPOS="&#x2028;5" WIDTH="" HEIGHT="1e3"/>"""),
      // entities, character references, CDATA, comments, processing instructions
      s"""<?xml version="1.0" encoding="UTF-8"?><!-- lead --><alto xmlns="$V2"><?pi data?>""" +
        "<Description><sourceImageInformation><fileName>a&amp;b<!-- c -->&#x263A;<![CDATA[<x>&]]>z" +
        "</fileName></sourceImageInformation></Description><Layout><Page><PrintSpace><TextBlock><TextLine>" +
        """<String CONTENT="&lt;&amp;&gt;&quot;&apos;"/><!-- between --><String CONTENT="&#128512;"/>""" +
        "</TextLine></TextBlock></PrintSpace></Page></Layout></alto>",
      // surrounding and only whitespace in text leaves, empty leaves
      s"""<alto xmlns="$V2"><Description><sourceImageInformation><fileName>""" +
        "\n   page 7.tif \t\n</fileName></sourceImageInformation><OCRProcessing><ocrProcessingStep>" +
        "<processingDateTime>   </processingDateTime><processingStepSettings></processingStepSettings>" +
        "<processingSoftware><softwareName> <b>x</b> </softwareName></processingSoftware>" +
        "</ocrProcessingStep></OCRProcessing></Description></alto>",
      // markup inside a text leaf is written back as text
      s"""<alto xmlns="$V2"><Description><sourceImageInformation><fileName>a<b x="1" y='&amp;'>c<i/></b>d""" +
        """</fileName></sourceImageInformation><OCRProcessing><ocrProcessingStep><processingDateTime>""" +
        "<t>2024</t></processingDateTime></ocrProcessingStep></OCRProcessing></Description></alto>",
      // a String nested under an unknown element, unknown elements everywhere
      page(V2, s"""<Foo><String CONTENT="hidden"/></Foo><String CONTENT="shown"/><Bar x="1">text</Bar>""") +
        "<!-- after -->",
      s"""<alto xmlns="$V2"><Styles><TextStyle ID="s"/></Styles><Layout><Page><Other><PrintSpace>""" +
        s"""<TextBlock><TextLine>$tok</TextLine></TextBlock></PrintSpace></Other><PrintSpace><Illustration/>""" +
        s"""<TextBlock><TextLine><SP/>$tok<HYP/></TextLine></TextBlock></PrintSpace></Page></Layout></alto>""",
      // a prefixed or absent root xmlns, other namespaces
      s"""<alto:alto xmlns:alto="$V2"><alto:Layout><alto:Page/></alto:Layout></alto:alto>""",
      s"""<a:alto xmlns="$V2" xmlns:a="x"><Layout><a:Page WIDTH="1"/></Layout></a:alto>""",
      page("", tok), """<alto><Layout/></alto>""", page(V4, tok), page(V2 + " ", tok),
      page("http://www.loc.gov/standards/alto/ns-v2", tok),
      // names match fields whatever their case; attributes too
      s"""<ALTO XMLNS="$V2"><layout><PAGE width="5"><printspace><TEXTBLOCK><textline>""" +
        """<string content="lower" hpos="1"/><STRING CONTENT="upper" HPOS="2"/></textline></TEXTBLOCK>""" +
        "</printspace></PAGE></layout></ALTO>",
      page(V2, """<String CONTENT="a" content="b" Content="c" HPOS="1" hpos="2"/>""" +
        """<String CONTENT="d" cOnTeNt="e"> </String>"""),
      // string fields given as elements; attributes win over them
      s"""<alto xmlns="$V4"><_xmlns>$V2</_xmlns><Layout><Page WIDTH="1"><_WIDTH>2</_WIDTH><_HEIGHT>3</_HEIGHT>""" +
        """<PrintSpace><TextBlock><TextLine><String HPOS="4"><_CONTENT>elem</_CONTENT><_HPOS>5</_HPOS>""" +
        "</String></TextLine></TextBlock></PrintSpace></Page></Layout></alto>",
      // text where structure is expected
      page(V2, s"""text$tok more <String CONTENT="b">inside</String>"""),
      s"""<alto xmlns="$V3">root text<Layout>layout text<Page>page<PrintSpace>ps<TextBlock>tb<TextLine>tl""" +
        s"""$tok</TextLine></TextBlock></PrintSpace></Page></Layout></alto>""",
      // v4, unsupported
      fixture("alto_unsupported.xml"),
      // malformed: truncated, mismatched, trailing content, not XML at all
      page(V2, tok).take(150), page(V2, tok).take(40), s"""<alto xmlns="$V2"><Layout><Page WIDTH="1">""",
      s"""<alto xmlns="$V2"><Layout><Page WIDTH="1"></Layout></alto>""",
      s"""<alto xmlns="$V2"><Description><sourceImageInformation><fileName>a</b></fileName>""" +
        s"""</sourceImageInformation></Description><Layout><Page WIDTH="3"/></Layout></alto>""",
      s"""<alto xmlns="$V2"><Layout><Page WIDTH="1"><PrintSpace><TextBlock><TextLine>$tok</TextBlock>""" +
        s"""</TextLine></PrintSpace></Page></Layout><Layout><Page WIDTH="2"/></Layout></alto>""",
      page(V2, tok) + "trailing", page(V2, tok) + "<alto/>", page(V2, tok) + "<",
      s"""<alto xmlns="$V2" xmlns="$V3"><Layout/></alto>""",
      s"""<alto xmlns="$V2"><Layout><Page WIDTH="1" WIDTH="2"/></Layout></alto>""",
      "not xml", "<", "<alto", " ", "", null))
  }

  test("truncating and corrupting a document anywhere gives the reference model's bytes") {
    val doc = page(V2, """<String CONTENT="a" HPOS="1"/><!-- c --><String CONTENT="b&amp;c"/>""",
      fullDescription.replace("scan.tif", "<![CDATA[s]]>can.tif"))
    val truncated = (0 to doc.length).map(doc.take)
    val rnd = new scala.util.Random(11)
    val corrupted = (0 until 400).map { _ =>
      val i = rnd.nextInt(doc.length)
      rnd.nextInt(4) match {
        case 0 => doc.patch(i, "", 1 + rnd.nextInt(3))
        case 1 => doc.patch(i, Seq("<", ">", "/", "&", "\"", "</String>", "<Page>")(rnd.nextInt(7)), 0)
        case 2 => doc.patch(i, doc.substring(rnd.nextInt(doc.length)).take(rnd.nextInt(30)), 0)
        case _ => doc.patch(i, "", doc.length)
      }
    }
    assertSame(truncated ++ corrupted)
  }

  test("a DTD with an external entity gives the reference model's bytes and never the entity") {
    val secret = java.nio.file.Files.createTempFile("alto-xxe", ".txt")
    java.nio.file.Files.writeString(secret, "TOP-SECRET-CONTENT")
    try {
      val uri = secret.toUri.toString
      val dtd = s"""<!DOCTYPE alto [<!ENTITY xxe SYSTEM "$uri"><!ENTITY local "inline">]>"""
      val docs = Seq(
        dtd + s"""<alto xmlns="$V2"><Description><sourceImageInformation><fileName>&xxe;</fileName>""" +
          s"""</sourceImageInformation></Description><Layout><Page WIDTH="1"><PrintSpace><TextBlock>""" +
          """<TextLine><String CONTENT="x"/></TextLine></TextBlock></PrintSpace></Page></Layout></alto>""",
        dtd + page(V2, """<String CONTENT="&xxe;"/><String CONTENT="kept"/>"""),
        dtd + page(V3, """<String CONTENT="a"/>&xxe;&local;<String CONTENT="b"/>"""),
        s"""<!DOCTYPE alto SYSTEM "$uri">""" + page(V2, """<String CONTENT="c"/>"""))
      assertSame(docs)
      val out = docs.toDF("xml").select(outputs(AltoSimplify(col("xml"))): _*)
        .collect().flatMap(_.toSeq).mkString("\n")
      assert(!out.contains("TOP-SECRET"), out)
    } finally java.nio.file.Files.delete(secret)
  }

  test("null and unsupported input give the non-null all-null record") {
    val out = Seq(None, Some(fixture("alto_unsupported.xml")), Some("<x"))
      .toDF("xml").select(AltoSimplify(col("xml")).as("s"))
      .select(col("s").isNull, Alto.toSimplifiedJson(col("s")), col("s.text").isNull)
      .collect()
    assert(out.forall(r => !r.getBoolean(0) && r.getString(1) == """{"description":{}}""" && r.getBoolean(2)))
  }
}
