package graft.alto

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.GraftFunctions.parseIntJs

/** The reference model of the ALTO document transform: Spark's
  * `from_xml` into the generic ALTO struct, then a nested
  * `transform`/`filter` flatten into the simplified document. This was
  * the production path before the one-pass [[graft.functions.AltoSimplify]]
  * kernel; it is kept here, expression for expression, so the kernel is
  * checked against it (AltoSimplifySpec) rather than against a second
  * hand-written expectation.
  */
object AltoReference {

  private def arr(dt: DataType): ArrayType = ArrayType(dt, containsNull = true)
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val strArr = arr(StringType)

  /** Spark XML options mirroring xml2js 0.2 defaults (attrkey `$` →
    * prefix `_`, charkey `_` → valueTag). */
  val xmlOptions: Map[String, String] = Map(
    "attributePrefix" -> "_",
    "valueTag" -> "_VALUE",
    "ignoreSurroundingSpaces" -> "false",
    "mode" -> "PERMISSIVE")

  /** Schema for ALTO v2/v3 XML as parsed by `from_xml` / the `xml`
    * datasource (`attributePrefix` = "_"), mirroring the xml2js 0.2
    * defaults the reference relies on
    * (`script/extract-text-lines-from-alto.js:19010-19049`):
    * `explicitArray: true` → every repeatable element is `ArrayType`;
    * `attrkey: "$"` → attributes, here with prefix `_`; `charkey: "_"`
    * → element text, here plain `StringType` leaves. One schema serves
    * v2 and v3; the namespace attribute `_xmlns` dispatches. */
  val altoSchema: StructType = {
    val processingSoftware = st(
      "softwareCreator" -> strArr, "softwareName" -> strArr, "softwareVersion" -> strArr)
    val ocrProcessingStep = st(
      "processingDateTime" -> strArr,
      "processingStepSettings" -> strArr,
      "processingSoftware" -> arr(processingSoftware))
    val description = st(
      "sourceImageInformation" -> arr(st("fileName" -> strArr)),
      "OCRProcessing" -> arr(st("ocrProcessingStep" -> arr(ocrProcessingStep))))
    val altoString = st(
      "_CONTENT" -> StringType, "_HPOS" -> StringType, "_VPOS" -> StringType,
      "_WIDTH" -> StringType, "_HEIGHT" -> StringType)
    val textBlock = st("TextLine" -> arr(st("String" -> arr(altoString))))
    val page = st(
      "_WIDTH" -> StringType, "_HEIGHT" -> StringType,
      "PrintSpace" -> arr(st("TextBlock" -> arr(textBlock))))
    st("_xmlns" -> StringType,
      "Description" -> arr(description),
      "Layout" -> arr(st("Page" -> arr(page))))
  }

  /** One row per `<alto>` document of the files at `path`, through the
    * `xml` datasource (StAX, partitioned by file splits). */
  def readAltoXmlFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.format("xml")
      .options(xmlOptions + ("rowTag" -> "alto"))
      .schema(altoSchema)
      .load(path)
      .withColumn("alto", struct(col("_xmlns"), col("Description"), col("Layout")))
      .select("alto")

  /** Parse an XML string column into the ALTO struct (`from_xml`). */
  def parseXml(xmlCol: Column): Column =
    from_xml(xmlCol, altoSchema,
      scala.jdk.CollectionConverters.MapHasAsJava(xmlOptions).asJava)

  private def ca(c: Column): Column = coalesce(c, array())
  private def head(c: Column): Column = element_at(c, 1)

  /** One `<String>` token → {text, x, y, width, height} with JS
    * parseInt semantics (`:23971-23977`). */
  private def token(s: Column): Column = struct(
    s("_CONTENT").as("text"),
    parseIntJs(s("_HPOS")).as("x"),
    parseIntJs(s("_VPOS")).as("y"),
    parseIntJs(s("_WIDTH")).as("width"),
    parseIntJs(s("_HEIGHT")).as("height"))

  /** The 6-level Layout→Page→PrintSpace→TextBlock→TextLine→String
    * flatten (`:23962-23983` v2 / `:24006-24024` v3), in document
    * order, as a single per-row expression. */
  private def flatTokens(alto: Column): Column =
    flatten(transform(ca(alto("Layout")), l =>
      flatten(transform(ca(l("Page")), p =>
        flatten(transform(ca(p("PrintSpace")), ps =>
          flatten(transform(ca(ps("TextBlock")), tb =>
            flatten(transform(ca(tb("TextLine")), tl =>
              transform(ca(tl("String")), s => token(s))))))))))))

  /** v2 keeps only truthy CONTENT (`:23968-23970`); "" and missing are
    * both falsy. v3 keeps every token (`:24011-24018`). */
  private def v2Tokens(alto: Column): Column =
    filter(flatTokens(alto), t => t("text").isNotNull && t("text") =!= "")

  /** description.* scalars via null-safe head-of-array chains — the
    * Spark analog of the `?.[0]?.` optional chaining (`:23986-23998`). */
  private def descriptionStruct(alto: Column, fileNameSupported: Boolean): Column = {
    val step = head(head(head(alto("Description"))("OCRProcessing"))("ocrProcessingStep"))
    val sw = head(step("processingSoftware"))
    val page0 = head(head(alto("Layout"))("Page"))
    val fileName =
      if (fileNameSupported)
        head(head(head(alto("Description"))("sourceImageInformation"))("fileName"))
      else lit(null).cast("string") // v3 hardcodes undefined (`:24027`)
    struct(
      fileName.as("fileName"),
      head(step("processingDateTime")).as("processingDateTime"),
      head(step("processingStepSettings")).as("processingStepSettings"),
      head(sw("softwareCreator")).as("softwareCreator"),
      head(sw("softwareName")).as("softwareName"),
      head(sw("softwareVersion")).as("softwareVersion"),
      page0("_WIDTH").as("width"),   // kept as STRING, never parsed (`:23997`)
      page0("_HEIGHT").as("height"))
  }

  private def nullDescription: Column = {
    val n = lit(null).cast("string")
    struct(n.as("fileName"), n.as("processingDateTime"),
      n.as("processingStepSettings"), n.as("softwareCreator"),
      n.as("softwareName"), n.as("softwareVersion"),
      n.as("width"), n.as("height"))
  }

  /** Namespace dispatch (`:23957-24058`) → simplified document struct.
    * Unsupported versions yield the all-null record, not an error
    * (`:24044-24058`). */
  def simplify(alto: Column): Column = {
    val ns = alto("_xmlns")
    when(ns === Alto.NsV2,
      struct(descriptionStruct(alto, fileNameSupported = true).as("description"),
             v2Tokens(alto).as("text")))
    .when(ns === Alto.NsV3,
      struct(descriptionStruct(alto, fileNameSupported = false).as("description"),
             flatTokens(alto).as("text")))
    .otherwise(
      struct(nullDescription.as("description"),
             lit(null).cast(ArrayType(AltoSchema.textLineOut)).as("text")))
  }
}
