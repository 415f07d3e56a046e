package graft.alto

import org.apache.spark.sql.types._

/** The simplified document every ALTO path produces: the output of
  * the [[graft.functions.AltoSimplify]] kernel (reference
  * `extract-text-lines-from-alto.js:23984-24001`). The kernel parses
  * into no intermediate XML schema; the xml2js-shaped ALTO struct lives
  * in the test tree's reference model.
  */
object AltoSchema {

  private def arr(dt: DataType): ArrayType = ArrayType(dt, containsNull = true)
  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  /** The document's description. Page width/height stay strings —
    * the reference never parses them (`:23997-23998`). */
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
