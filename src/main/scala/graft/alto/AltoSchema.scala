package graft.alto

import org.apache.spark.sql.types._

/** Schemas of the ALTO path: the narrow bulk-scan schema handed to
  * Spark's `xml` datasource (`attributePrefix` = "_"), and the
  * simplified document every ALTO path produces.
  *
  * The XML schema mirrors the xml2js 0.2 defaults the reference relies
  * on (`script/extract-text-lines-from-alto.js:19010-19049`):
  * `explicitArray: true` → every repeatable element is `ArrayType`;
  * `attrkey: "$"` → attributes, here with prefix `_`;
  * `charkey: "_"` → element text, here plain `StringType` leaves.
  * One schema serves both v2 and v3 (same element names; the namespace
  * attribute `_xmlns` dispatches, reference `:23957-23958`).
  */
object AltoSchema {

  private def arr(dt: DataType): ArrayType = ArrayType(dt, containsNull = true)
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  private val strArr = arr(StringType)

  /** ReadSchema-narrowed variant for the bulk token-accounting scan
    * (q_alto_bulk): the query reads ONLY the namespace dispatch, the
    * source fileName, the page width, and each token's CONTENT + HPOS —
    * so the schema handed to the StAX datasource omits the other three
    * token attributes and the whole OCRProcessing subtree, and the
    * parser never converts them (the custom-source equivalent of a
    * parquet scan's ReadSchema pruning, guide §6). The per-document
    * path does not parse into a schema at all: the AltoSimplify kernel
    * reads the fields it needs in one pass. */
  val altoBulk: StructType = st(
    "_xmlns" -> StringType,
    "Description" -> arr(st(
      "sourceImageInformation" -> arr(st("fileName" -> strArr)))),
    "Layout" -> arr(st("Page" -> arr(st(
      "_WIDTH" -> StringType,
      "PrintSpace" -> arr(st("TextBlock" -> arr(st("TextLine" -> arr(st(
        "String" -> arr(st(
          "_CONTENT" -> StringType,
          "_HPOS" -> StringType)))))))))))))

  /** Output schema of the simplified JSON document
    * (reference `extract-text-lines-from-alto.js:23984-24001`).
    * Page width/height stay strings — the reference never parses them
    * (`:23997-23998`).
    */
  val simplifiedDescription: StructType = st(
    "fileName" -> StringType,
    "processingDateTime" -> StringType,
    "processingStepSettings" -> StringType,
    "softwareCreator" -> StringType,
    "softwareName" -> StringType,
    "softwareVersion" -> StringType,
    "width" -> StringType,
    "height" -> StringType)

  val textLineOut: StructType = st(
    "text" -> StringType,
    "x" -> IntegerType,
    "y" -> IntegerType,
    "width" -> IntegerType,
    "height" -> IntegerType)

  val simplified: StructType = st(
    "description" -> simplifiedDescription,
    "text" -> arr(textLineOut))
}
