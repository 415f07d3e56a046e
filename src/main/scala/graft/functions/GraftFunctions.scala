package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level scalar helpers mirroring the reference's scalar surface
  * (SURVEY.md §2.9). All are compositions of built-in, codegen'd
  * `org.apache.spark.sql.functions` — no UDFs in the hot path.
  */
object GraftFunctions {

  /** JS `parseInt` parity (reference
    * `script/extract-text-lines-from-alto.js:23973-23976`): leading
    * ECMA whitespace skipped (`parseInt("\t42") == 42`), longest
    * `[+-]?digits` prefix (`parseInt("12.7px") == 12`), `0x`/`0X`
    * radix auto-detection (`parseInt("0x10") == 16`), no digits → NaN
    * (SQL NULL here). Backed by the native Catalyst ParseIntJs
    * expression — one linear scan inside whole-stage codegen, no regex
    * engine and no Scala-UDF boxing (see ParseIntJsExpression.scala;
    * semantics pinned by ParseIntJsSpec).
    */
  def parseIntJs(c: Column): Column = ParseIntJs(c)

  /** `os.path.basename(url)` parity (reference `flows/main_flow.py:143`). */
  def basename(c: Column): Column = substring_index(c, "/", -1)

  /** S3 object key for a document: `basename(url) + ".json"`
    * (reference `flows/main_flow.py:143`). */
  def s3Key(urlCol: Column): Column = concat(basename(urlCol), lit(".json"))

  /** Public object URL `{endpoint}/{bucket}/{key}`
    * (reference `flows/main_flow.py:150`). */
  def publicUrl(endpoint: String, bucket: String, keyCol: Column): Column =
    concat_ws("/", lit(endpoint), lit(bucket), keyCol)
}
