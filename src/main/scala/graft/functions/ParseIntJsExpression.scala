package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernel with exact JS `parseInt(s)` (radix unspecified)
  * semantics, as used by the reference on ALTO coordinates
  * (`script/extract-text-lines-from-alto.js:23973-23976`):
  *
  *  - leading ECMA whitespace/line terminators skipped ("\t42" → 42)
  *  - optional sign, then the longest digit prefix ("12.7px" → 12)
  *  - "0x"/"0X" prefix switches to hex ("0x10" → 16)
  *  - no digits → NaN (represented as SQL NULL)
  *  - values outside Int32 → NULL (documented divergence: JS widens to
  *    double; ALTO coordinates never approach the boundary)
  *
  * Kept branch-free of regex: one linear scan, shared verbatim by the
  * interpreted and the generated code paths.
  */
object JsParseInt {
  /** ECMA WhiteSpace (TAB VT FF SP NBSP ZWNBSP + Unicode Zs) and
    * LineTerminator (LF CR LS PS) — NOT Character.isWhitespace, which
    * accepts the U+001C-001F separator controls (ECMA does not) and
    * rejects NBSP/NNBSP/BOM (ECMA skips them). The Zs category covers
    * figure space U+2007 and friends. */
  private def jsWhitespace(c: Char): Boolean = c match {
    case '\t' | '\n' | '\u000B' | '\f' | '\r' => true // (NEL u0085 is NOT ECMA ws)
    case '\u00A0' | '\uFEFF' | '\u2028' | '\u2029' => true
    case _ => Character.getType(c) == Character.SPACE_SEPARATOR
  }

  /** ASCII-only digit value under the radix, or -1. JS parseInt
    * accepts ONLY [0-9a-fA-F] — Character.digit also maps Unicode
    * digit blocks (Arabic-Indic, fullwidth, …) that JS rejects. */
  private def asciiDigit(c: Char, radix: Int): Int = {
    val d =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    if (d >= 0 && d < radix) d else -1
  }

  def parse(s: UTF8String): java.lang.Integer =
    if (s == null) null else parse(s.toString)

  def parse(str: String): java.lang.Integer = {
    if (str == null) return null
    val n = str.length
    var i = 0
    while (i < n && jsWhitespace(str.charAt(i))) i += 1
    var neg = false
    if (i < n && (str.charAt(i) == '+' || str.charAt(i) == '-')) {
      neg = str.charAt(i) == '-'
      i += 1
    }
    var radix = 10
    if (i + 1 < n && str.charAt(i) == '0' &&
      (str.charAt(i + 1) == 'x' || str.charAt(i + 1) == 'X')) {
      radix = 16
      i += 2
    }
    var acc = 0L
    var any = false
    var overflow = false
    var done = false
    while (i < n && !done) {
      val d = asciiDigit(str.charAt(i), radix)
      if (d < 0) done = true
      else {
        any = true
        acc = acc * radix + d
        if (acc > Int.MaxValue + 1L) overflow = true
        i += 1
      }
    }
    if (!any || overflow) null
    else {
      val v = if (neg) -acc else acc
      if (v < Int.MinValue || v > Int.MaxValue) null else Int.box(v.toInt)
    }
  }
}

/** Native Catalyst expression for JsParseInt — stays inside
  * whole-stage codegen (the generated code calls the static kernel;
  * no Scala-UDF boxing, no regex engine on the hot path). */
case class ParseIntJs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parseint_js requires STRING input, got ${child.dataType.catalogString}")
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "parseint_js"

  override protected def nullSafeEval(input: Any): Any =
    JsParseInt.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val parsed = ctx.freshName("parsed")
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        int ${ev.value} = -1;
        if (!${childGen.isNull}) {
          java.lang.Integer $parsed = graft.functions.JsParseInt.parse(${childGen.value});
          if ($parsed != null) {
            ${ev.isNull} = false;
            ${ev.value} = $parsed.intValue();
          }
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseIntJs =
    copy(child = newChild)
}

object ParseIntJs {
  /** Column-API entry point. */
  def apply(c: Column): Column =
    ColumnBridge.column(ParseIntJs(ColumnBridge.expression(c)))
}
