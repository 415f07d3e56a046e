package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `JSON.stringify(obj, null, 2)` parity pretty-printer (reference
  * `script/extract-text-lines-from-alto.js:24071`): re-serializes a
  * compact JSON string in the exact byte layout Node emits, so the
  * one-object-per-row sink (S5) can reproduce the reference's S3
  * objects byte-for-byte:
  *
  *  - 2-space indent per nesting level;
  *  - `"key": value` (one space after the colon, none before);
  *  - every object entry / array element on its own line;
  *  - empty object/array inline as `{}` / `[]`;
  *  - string escaping per JSON.stringify (Jackson's 7-bit escape
  *    table matches: `"` `\` and control chars escaped, non-ASCII left
  *    literal);
  *  - key order preserved from the input document (Spark's `to_json`
  *    emits struct-field order, which is the order the reference
  *    builds its object literals in).
  *
  * Null/undefined note: JS drops `undefined`-valued keys and keeps
  * `null`s; `to_json(..., ignoreNullFields=true)` drops SQL NULLs —
  * the right mapping, because every absent value in the reference's
  * object literals is `undefined` (optional chaining), never `null`.
  */
object JsonPretty {
  private val factory = new JsonFactory()
  private val encoder = JsonStringEncoder.getInstance()

  /** Token-streaming re-layout: structure and whitespace are rewritten
    * to the JSON.stringify(,null,2) format; STRING scalars are
    * re-escaped straight into the output (Jackson's string encoder,
    * the escape table its serializer uses, matches JSON.stringify's);
    * NUMERIC tokens pass through byte-verbatim from the compact input
    * — json_pretty never re-formats a number, so it cannot introduce
    * a divergence (a Jackson re-serialization would turn 1e+21 into
    * 1.0E21 etc.). Byte parity with Node for numbers therefore rests
    * on the compact serializer: Spark's to_json renders integers the
    * way JS does, and the pipeline's simplified schema is int/string
    * only (pinned by the parity test in JsonPrettySpec — a DOUBLE
    * field entering this path would surface there, not silently). */
  def compute(s: UTF8String): UTF8String = {
    if (s == null) return null
    val sb = new java.lang.StringBuilder(s.numBytes * 2)
    val p = factory.createParser(s.toString)
    // malformed input → NULL, like every sibling kernel (MediaHeaders,
    // JsParseInt): one corrupt row must not kill the whole sink write.
    // (JS JSON.parse would throw too, but a row-level NULL is the SQL
    // shape of that error — from_json makes the same call.)
    try {
      render(p, p.nextToken(), 0, sb)
      UTF8String.fromString(sb.toString)
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => null
    } finally p.close()
  }

  private def indent(sb: java.lang.StringBuilder, d: Int): Unit = {
    var i = 0; while (i < d * 2) { sb.append(' '); i += 1 }
  }

  /** A JSON string literal: the quoted, escaped form of `s`. */
  private[functions] def quote(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    encoder.quoteAsString(s, sb)
    sb.append('"')
  }

  private def render(p: JsonParser, t: JsonToken, depth: Int,
                     sb: java.lang.StringBuilder): Unit = t match {
    case JsonToken.START_OBJECT =>
      var tok = p.nextToken()
      if (tok == JsonToken.END_OBJECT) { sb.append("{}"); return }
      sb.append("{\n")
      var first = true
      while (tok != JsonToken.END_OBJECT) {
        if (!first) sb.append(",\n")
        first = false
        indent(sb, depth + 1)
        quote(p.currentName, sb)
        sb.append(": ")
        render(p, p.nextToken(), depth + 1, sb)
        tok = p.nextToken()
      }
      sb.append('\n'); indent(sb, depth); sb.append('}')
    case JsonToken.START_ARRAY =>
      var tok = p.nextToken()
      if (tok == JsonToken.END_ARRAY) { sb.append("[]"); return }
      sb.append("[\n")
      var first = true
      while (tok != JsonToken.END_ARRAY) {
        if (!first) sb.append(",\n")
        first = false
        indent(sb, depth + 1)
        render(p, tok, depth + 1, sb)
        tok = p.nextToken()
      }
      sb.append('\n'); indent(sb, depth); sb.append(']')
    case JsonToken.VALUE_STRING => quote(p.getText, sb)
    case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
      sb.append(p.getText) // original token, verbatim
    case JsonToken.VALUE_TRUE => sb.append("true")
    case JsonToken.VALUE_FALSE => sb.append("false")
    case JsonToken.VALUE_NULL => sb.append("null")
    case other =>
      throw new IllegalArgumentException(s"json_pretty: unexpected token $other")
  }
}

/** Native expression wrapper: `json_pretty(compactJson)`. */
case class JsonPretty(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_pretty requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_pretty"

  override protected def nullSafeEval(input: Any): Any =
    JsonPretty.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.functions.JsonPretty.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): JsonPretty =
    copy(child = newChild)
}

object JsonPrettyColumn {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      JsonPretty(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
