package graft.functions

import java.io.StringReader
import java.util.Locale
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants._

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.alto.{Alto, AltoSchema}

/** One-pass ALTO kernel: an XML document string → the simplified
  * document (`AltoSchema.simplified`) of the reference's
  * `extract-text-lines-from-alto.js:23946-24072`, read with a single
  * StAX cursor pass.
  *
  * It gives exactly what `from_xml` into the generic ALTO struct
  * (attribute prefix `_`, surrounding spaces kept, PERMISSIVE) followed
  * by the higher-order flatten gave, malformed input included. To that
  * end the pass replays Spark's XML reader over the cursor rather than
  * building its events: the same StAX settings (`StaxXmlParserUtils`:
  * namespace-unaware, so `xmlns` is an ordinary attribute; coalescing;
  * no DTD; no external entities), the same event filter (comments,
  * processing instructions, entity references and DTD events dropped),
  * the same peek/next order of the filtered event reader, and the
  * `StaxXmlParser` conversion rules over the ALTO schema:
  *
  *  - element and attribute names match schema fields case-insensitively
  *    (Spark's default), unknown elements are skipped whole;
  *  - a text leaf (`fileName`, `softwareName`, …) is its content with
  *    any nested markup written back as text;
  *  - an element whose subtree fails to convert is dropped and its
  *    parent goes on reading, then fails in turn; a failure that reaches
  *    the document root leaves the partial record, and a failure outside
  *    any element leaves the all-null record.
  *
  * The namespace dispatch, head-of-array description fields, document
  * order, v2's falsy-CONTENT filter and JS `parseInt` coordinates then
  * apply to the converted tree as they did in the flatten. A null,
  * unparsable or unsupported document gives the all-null record: a
  * non-null struct whose JSON is `{"description":{}}`, with a null
  * token array. AltoSimplifySpec checks all of this against the old
  * two-step path.
  */
object AltoSimplify {

  private val factory: XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }

  // Field kinds of the ALTO schema, as `from_xml` types them.
  private final val Leaf = 0   // array<string>: element text, every occurrence
  private final val Struct = 1 // array<struct>: nested element, every occurrence
  private final val Attr = 2   // string: an attribute, or an element of that name

  /** One struct of the ALTO schema: its fields in schema order. */
  private final class Node(fields: (String, Any)*) {
    val names: Array[String] = fields.map(_._1).toArray
    private val lower = names.map(_.toLowerCase(Locale.ROOT))
    val kinds: Array[Int] = fields.map {
      case (_, n: Node) => Struct
      case (_, k: Int) => k
    }.toArray
    val nodes: Array[Node] = fields.map {
      case (_, n: Node) => n
      case _ => null
    }.toArray
    val hasAttrs: Boolean = kinds.contains(Attr)
    def size: Int = names.length

    /** Field index of `name`, or -1: exact names first, then the
      * case-insensitive lookup Spark uses by default. */
    def index(name: String): Int = {
      var i = 0
      while (i < names.length) { if (names(i) == name) return i; i += 1 }
      val l = name.toLowerCase(Locale.ROOT)
      i = 0
      while (i < lower.length) { if (lower(i) == l) return i; i += 1 }
      -1
    }
  }

  // The generic ALTO schema from_xml parsed into (field for field).
  private val StringNode = new Node("_CONTENT" -> Attr, "_HPOS" -> Attr, "_VPOS" -> Attr,
    "_WIDTH" -> Attr, "_HEIGHT" -> Attr)
  private val PageNode = new Node("_WIDTH" -> Attr, "_HEIGHT" -> Attr,
    "PrintSpace" -> new Node("TextBlock" -> new Node("TextLine" -> new Node(
      "String" -> StringNode))))
  private val Software = new Node(
    "softwareCreator" -> Leaf, "softwareName" -> Leaf, "softwareVersion" -> Leaf)
  private val Step = new Node("processingDateTime" -> Leaf,
    "processingStepSettings" -> Leaf, "processingSoftware" -> Software)
  private val Description = new Node(
    "sourceImageInformation" -> new Node("fileName" -> Leaf),
    "OCRProcessing" -> new Node("ocrProcessingStep" -> Step))
  private val Root = new Node("_xmlns" -> Attr, "Description" -> Description,
    "Layout" -> new Node("Page" -> PageNode))

  /** The simplified record of a document with no usable ALTO: all
    * description fields null, and a null token array. */
  private def allNull: InternalRow =
    new GenericInternalRow(Array[Any](new GenericInternalRow(8), null))

  def compute(xml: UTF8String): InternalRow = {
    if (xml == null) return allNull
    val root =
      try new Pass(factory.createXMLStreamReader(new StringReader(xml.toString))).document()
      catch { case _: XMLStreamException | _: RuntimeException => null }
    if (root == null) allNull else simplified(root)
  }

  /** A child element failed to convert: its parent keeps what it read. */
  private final class PartialRecord extends Exception(null, null, false, false)

  /** One document, read the way Spark's filtered XMLEventReader and
    * StaxXmlParser read it (see the object's note). Rows are
    * `Array[Any]` in schema order: an `ArrayBuffer` per array field
    * (null until an element converts) and a `String` per string field. */
  private final class Pass(r: XMLStreamReader) {

    // --- the filtered event reader, replayed over the cursor ---------
    // XMLEventReaderImpl holds at most one peeked event; while it does,
    // the cursor sits on that event. It starts with START_DOCUMENT
    // peeked.
    private var peeked = true
    private final val NoEvent = -1

    private def accepted(t: Int): Boolean = t match {
      case PROCESSING_INSTRUCTION | COMMENT | ENTITY_REFERENCE | DTD |
           NOTATION_DECLARATION | ENTITY_DECLARATION => false
      case _ => true
    }
    private def rawHasNext: Boolean =
      peeked || (try r.hasNext catch { case _: XMLStreamException => false })
    private def rawNextEvent(): Int =
      if (peeked) { peeked = false; r.getEventType }
      else if (r.hasNext) r.next()
      else throw new NoSuchElementException
    private def rawPeek(): Int =
      if (peeked) r.getEventType
      else if (rawHasNext) { val t = r.next(); peeked = true; t }
      else NoEvent

    private def nextEvent(): Int = {
      while (true) {
        if (!rawHasNext) throw new NoSuchElementException
        val t = rawNextEvent()
        if (accepted(t)) return t
      }
      NoEvent
    }
    private def peek(): Int = {
      while (true) {
        val t = rawPeek()
        if (t == NoEvent || accepted(t)) return t
        try rawNextEvent()
        catch { case e: XMLStreamException => throw new NoSuchElementException(e.getMessage) }
      }
      NoEvent
    }
    private def hasNext: Boolean =
      try peek() != NoEvent catch { case _: XMLStreamException => false }

    private def isText(t: Int): Boolean = t == CHARACTERS || t == CDATA || t == SPACE
    /** `Characters.isWhiteSpace` of the event allocator's CharacterEvent. */
    private def whiteSpace: Boolean = {
      val s = r.getText
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c != ' ' && c != '\t' && c != '\n' && c != '\r') return false
        i += 1
      }
      s.nonEmpty
    }

    // --- StaxXmlParserUtils ---------------------------------------------
    private def skipNextEndElement(name: String): Unit = {
      var t = nextEvent()
      while (isText(t) && whiteSpace) t = nextEvent()
      if (t != END_ELEMENT) throw new IllegalStateException(s"expected the end of $name")
      if (r.getLocalName != name) throw new AssertionError(s"expected the end of $name")
    }

    private def skipChildren(name: String): Unit = {
      var done = false
      while (!done) nextEvent() match {
        case START_ELEMENT => skipChildren(r.getLocalName)
        case END_ELEMENT =>
          if (r.getLocalName != name) throw new AssertionError(s"expected the end of $name")
          done = true
        case _ =>
      }
    }

    /** `currentStructureAsString`: text and nested markup up to the
      * element's end, markup written back as `<name a="v">`/`</name>`. */
    private def structureAsString(name: String): String = {
      val sb = new java.lang.StringBuilder
      var indent = 0
      var more = true
      while (more) {
        nextEvent() match {
          case START_ELEMENT =>
            sb.append('<').append(r.getLocalName)
            var i = 0
            while (i < r.getAttributeCount) {
              sb.append(' ').append(r.getAttributeName(i))
                .append("=\"").append(r.getAttributeValue(i)).append('"')
              i += 1
            }
            sb.append('>')
            indent += 1
          case END_ELEMENT =>
            sb.append("</").append(r.getLocalName).append('>')
            indent -= 1
          case t if isText(t) => sb.append(r.getText)
          case _ =>
        }
        more = peek() != END_ELEMENT || indent > 0
      }
      skipNextEndElement(name)
      sb.toString
    }

    // --- StaxXmlParser over the ALTO schema -----------------------------
    /** `convertField(_, StringType, name)`: the value of a text leaf. */
    private def leaf(name: String): String = peek() match {
      case START_ELEMENT => structureAsString(name)
      case t if isText(t) => structureAsString(name)
      case END_ELEMENT => skipNextEndElement(name); ""
      case t => throw new IllegalArgumentException(s"unexpected event $t in $name")
    }

    /** (key, value) pairs of the current start element's attributes
      * that name a string field of `n`, keyed `_<local name>`; null
      * when there are none. */
    private def attributes(n: Node): Array[String] = {
      var out: ArrayBuffer[String] = null
      var i = 0
      while (i < r.getAttributeCount) {
        val key = "_" + r.getAttributeLocalName(i)
        val f = n.index(key)
        if (f >= 0 && n.kinds(f) == Attr) {
          if (out == null) out = new ArrayBuffer[String](4)
          out += key
          out += r.getAttributeValue(i)
        }
        i += 1
      }
      if (out == null) null else out.toArray
    }

    /** Spark's attribute/field merge: the fields read from child
      * elements, then the attributes over them. When two attributes
      * name one field (spelt in different cases), the one Spark's map
      * iterates last wins, so that case replays the same collection
      * operations on the same keys. */
    private def merge(n: Node, row: Array[Any], attrs: Array[String]): Array[Any] = {
      val out = if (row == null) new Array[Any](n.size) else row
      if (attrs == null) return out
      var exact = true
      var i = 0
      while (i < attrs.length) { if (!n.names.contains(attrs(i))) exact = false; i += 2 }
      if (exact) {
        i = 0
        while (i < attrs.length) { out(n.index(attrs(i))) = attrs(i + 1); i += 2 }
      } else {
        val converted = scala.collection.mutable.Map.empty[String, String]
        scala.collection.mutable.ArraySeq.make(attrs.grouped(2).map(p => p(0) -> p(1)).toArray)
          .toMap.foreach { case (k, v) => converted.update(k, v) }
        converted.toMap.foreach { case (k, v) => out(n.index(k)) = v }
      }
      out
    }

    /** `convertObjectWithAttributes`: a nested struct element. */
    private def struct(n: Node, name: String): Array[Any] = {
      val attrs = if (n.hasAttrs) attributes(n) else null
      val row = peek() match {
        case END_ELEMENT => skipNextEndElement(name); null
        case t if t == START_ELEMENT || isText(t) =>
          val row = new Array[Any](n.size)
          fill(n, row)
          row
        case t => throw new IllegalArgumentException(s"unexpected event $t in $name")
      }
      merge(n, row, attrs)
    }

    private def append(row: Array[Any], i: Int, v: Any): Unit = {
      if (row(i) == null) row(i) = new ArrayBuffer[Any](4)
      row(i).asInstanceOf[ArrayBuffer[Any]] += v
    }

    /** `convertObject`: child elements up to the next end event. A
      * child that fails is left out; the rest are still read, and then
      * the element fails as a whole. */
    private def fill(n: Node, row: Array[Any]): Unit = {
      var failed = false
      var done = false
      while (!done) nextEvent() match {
        case START_ELEMENT =>
          val name = r.getLocalName
          try {
            val i = n.index(name)
            if (i < 0) skipChildren(name)
            else n.kinds(i) match {
              case Struct => append(row, i, struct(n.nodes(i), name))
              case Leaf => append(row, i, leaf(name))
              case Attr => row(i) = leaf(name)
            }
          } catch { case NonFatal(_) => failed = true }
        case END_ELEMENT | END_DOCUMENT => done = true
        case _ =>
      }
      if (failed) throw new PartialRecord
    }

    /** The root row: `gatherRootAttributes`, then `convertObject`. A
      * failure below the root keeps what was read; one at the root's
      * own level escapes to the caller. */
    def document(): Array[Any] = {
      var t = peek()
      var attrs: Array[String] = null
      while (hasNext && t != START_ELEMENT) {
        t = nextEvent()
        if (t == START_ELEMENT) attrs = attributes(Root)
      }
      if (t != START_ELEMENT) throw new IllegalStateException("no root element")
      val row = merge(Root, null, attrs)
      try fill(Root, row) catch { case _: PartialRecord => }
      row
    }
  }

  // --- the flatten, over the converted tree -----------------------------
  private def head(arr: Any): Any = arr match {
    case b: ArrayBuffer[_] => b.head
    case _ => null
  }
  private def field(row: Any, i: Int): Any =
    if (row == null) null else row.asInstanceOf[Array[Any]](i)
  private def utf8(s: Any): UTF8String =
    if (s == null) null else UTF8String.fromString(s.asInstanceOf[String])
  private def each(arr: Any)(f: Any => Unit): Unit = arr match {
    case b: ArrayBuffer[_] => b.foreach(f)
    case _ =>
  }

  private def simplified(root: Array[Any]): InternalRow = {
    val ns = root(0)
    val v2 = ns == Alto.NsV2
    if (!v2 && ns != Alto.NsV3) return allNull
    val d = head(root(1))
    val step = head(field(head(field(d, 1)), 0))
    val sw = head(field(step, 2))
    val page0 = head(field(head(root(2)), 0))
    val description = new GenericInternalRow(Array[Any](
      if (v2) utf8(head(field(head(field(d, 0)), 0))) else null, // v3 hardcodes undefined (`:24027`)
      utf8(head(field(step, 0))),
      utf8(head(field(step, 1))),
      utf8(head(field(sw, 0))),
      utf8(head(field(sw, 1))),
      utf8(head(field(sw, 2))),
      utf8(field(page0, 0)),   // page width/height stay strings (`:23997`)
      utf8(field(page0, 1))))
    val tokens = new ArrayBuffer[Any]
    each(root(2))(layout => each(field(layout, 0))(page =>
      each(field(page, 2))(printSpace => each(field(printSpace, 0))(block =>
        each(field(block, 0))(line => each(field(line, 0)) { s =>
          val t = s.asInstanceOf[Array[Any]]
          val text = t(0).asInstanceOf[String]
          // v2 keeps only truthy CONTENT (`:23968-23970`); v3 keeps all
          if (!v2 || (text != null && text.nonEmpty))
            tokens += new GenericInternalRow(Array[Any](utf8(text),
              JsParseInt.parse(t(1).asInstanceOf[String]),
              JsParseInt.parse(t(2).asInstanceOf[String]),
              JsParseInt.parse(t(3).asInstanceOf[String]),
              JsParseInt.parse(t(4).asInstanceOf[String])))
        })))))
    new GenericInternalRow(Array[Any](description, new GenericArrayData(tokens.toArray)))
  }

  /** Column-API entry point. */
  def apply(xml: Column): Column = ColumnBridge.column(AltoSimplify(ColumnBridge.expression(xml)))
}

/** Native expression wrapper: `alto_simplify(xml)`, never null. */
case class AltoSimplify(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"alto_simplify requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = AltoSchema.simplified
  override def nullable: Boolean = false
  override def prettyName: String = "alto_simplify"

  override def eval(input: InternalRow): Any =
    AltoSimplify.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        InternalRow ${ev.value} =
          graft.functions.AltoSimplify.compute(${c.isNull} ? null : ${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): AltoSimplify =
    copy(child = newChild)
}
