package graft.sources

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo,
  PreparedStatement, ResultSet, ResultSetMetaData, Types}
import java.util.Properties
import java.util.logging.Logger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory recording JDBC database for the source-side tests — the
  * twin of the sink side's JdbcRecorder (SinksSpec): registered tables
  * of VARCHAR columns, a mini evaluator for exactly the WHERE shapes
  * Spark's JDBC pushdown compiles (`("c" IS NOT NULL)`, `("c" = 'v')`,
  * `("c" >= 'v')`, `("c" LIKE '%v%')`), canned results for pushed-SQL
  * subqueries (filtered and projected like a table), and a per-bucket
  * log of every SQL string that arrives — what the pushdown assertions
  * read. Buckets (the URL suffix) isolate parallel suites. */
object StubDb {
  /** `types` holds java.sql.Types per column; empty = all VARCHAR.
    * Row values are stored as strings regardless (BIGINT columns hold
    * digit strings and are served via getLong). */
  case class Table(cols: Seq[String], rows: Seq[Seq[String]],
                   types: Seq[Int] = Nil) {
    def typeOf(i: Int): Int =
      if (types.isEmpty) java.sql.Types.VARCHAR else types(i)
  }

  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  private val canned = new java.util.concurrent.ConcurrentHashMap[String, Table]()
  private val logs =
    new java.util.concurrent.ConcurrentHashMap[String, mutable.Buffer[String]]()

  def registerTable(name: String, t: Table): Unit = tables.put(name, t)
  /** Canned result for a pushed-SQL subquery: the rows of
    * `FROM (<subquery>) alias` when the subquery text contains
    * `sqlFragment`. */
  def registerQuery(sqlFragment: String, t: Table): Unit = canned.put(sqlFragment, t)

  def log(bucket: String): List[String] =
    Option(logs.get(bucket)).map(b => b.synchronized(b.toList)).getOrElse(Nil)
  def clearLog(bucket: String): Unit = logs.remove(bucket)
  private def addLog(bucket: String, sql: String): Unit = {
    val b = logs.computeIfAbsent(bucket, _ => mutable.Buffer.empty[String])
    b.synchronized { b += sql }
  }

  private def likeToRegex(pat: String): String =
    java.util.regex.Pattern.quote(pat).replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")

  private val NotNullRe = """"(\w+)" IS NOT NULL""".r
  private val NullRe = """(?i)"(\w+)" is null""".r
  private val EqRe = """"(\w+)" = '(.*)'""".r
  private val GeRe = """"(\w+)" >= '(.*)'""".r
  // Spark's JDBC pushdown compiles LIKE with an explicit ESCAPE '\'
  private val LikeRe = """"(\w+)" LIKE '(.*?)'(?: ESCAPE '\\')?""".r
  // partitioned-read stride clauses use unquoted numeric literals
  private val NumCmpRe = """"(\w+)" (<|>=|<=|>) (-?\d+)""".r

  private def evalPredicate(t: Table, row: Seq[String], p: String): Boolean = {
    def v(c: String): String = {
      val i = t.cols.indexOf(c)
      require(i >= 0, s"unknown column $c in predicate $p")
      row(i)
    }
    // stride clauses arrive as disjunctions: `"id" < 2 or "id" is null`
    p.trim.split("(?i) or ").map(_.trim) match {
      case parts if parts.length > 1 => parts.exists(evalPredicate(t, row, _))
      case _ => p.trim match {
        case NotNullRe(c) => v(c) != null
        case NullRe(c) => v(c) == null
        case EqRe(c, x) => v(c) != null && v(c) == x
        case GeRe(c, x) => v(c) != null && v(c) >= x
        case LikeRe(c, x) => v(c) != null && v(c).matches(likeToRegex(x))
        case NumCmpRe(c, op, x) =>
          v(c) != null && {
            val (a, b) = (v(c).toLong, x.toLong)
            op match {
              case "<" => a < b
              case "<=" => a <= b
              case ">" => a > b
              case ">=" => a >= b
            }
          }
        case other => sys.error(s"stub evaluator: unsupported predicate '$other'")
      }
    }
  }

  /** Serve one SQL statement: resolve the FROM target (registered
    * table, or canned result of a parenthesised subquery), apply the
    * WHERE conjunction, project the SELECT list. */
  private[sources] def run(bucket: String, sql: String): Table = {
    addLog(bucket, sql)
    val m = """(?s)SELECT\s+(.*?)\s+FROM\s+(.*)$""".r
      .findFirstMatchIn(sql)
      .getOrElse(sys.error(s"stub cannot parse: $sql"))
    val (t, rest) = from(m.group(2).trim)
    val where = """(?s)^WHERE\s+(.*?)\s*$""".r.findFirstMatchIn(rest).map(_.group(1))
    val rows =
      if (where.contains("1=0")) Nil
      else where match {
        case None => t.rows
        case Some(w) =>
          // predicates arrive as ("p1") AND ("p2") AND ...
          val preds = w.split("\\) AND \\(").map(_.trim.stripPrefix("(").stripSuffix(")"))
          t.rows.filter(r => preds.forall(p => evalPredicate(t, r, p)))
      }
    val sel = m.group(1).trim
    if (sel == "*") Table(t.cols, rows, t.types)
    else {
      val cols = sel.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq
      val idx = cols.map(c => t.cols.indexOf(c))
      require(idx.forall(_ >= 0), s"stub: unknown select column in $sel")
      Table(cols, rows.map(r => idx.map(r)), idx.map(t.typeOf))
    }
  }

  /** The FROM target's rows and the text after it. `(<subquery>) alias`
    * resolves to the canned result whose fragment the subquery
    * contains; a bare name to a registered table. */
  private def from(target: String): (Table, String) =
    if (target.startsWith("(")) {
      // the subquery ends where the paren depth first returns to 0
      val end = target.scanLeft(0)((d, c) => d + (if (c == '(') 1 else if (c == ')') -1 else 0))
        .indexWhere(_ == 0, 1)
      val inner = target.substring(1, end - 1)
      val t = canned.asScala.collectFirst { case (frag, t) if inner.contains(frag) => t }
        .getOrElse(sys.error(s"stub: no canned result for subquery $inner"))
      // drop the alias
      (t, target.substring(end).trim.split("\\s+", 2).drop(1).mkString)
    } else {
      val parts = target.split("\\s+", 2)
      val t = Option(tables.get(parts(0)))
        .getOrElse(sys.error(s"stub: unknown table ${parts(0)}"))
      (t, parts.drop(1).mkString)
    }
}

/** Minimal concrete java.sql.Driver serving StubDb tables. URL form:
  * `jdbc:graftstub:<bucket>`. Everything beyond the handful of calls
  * Spark's JDBC read path makes is answered with a type-correct
  * default via dynamic proxies. */
class StubJdbcDriver extends Driver {
  override def acceptsURL(url: String): Boolean = url.startsWith("jdbc:graftstub:")

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else StubJdbcDriver.connection(url.stripPrefix("jdbc:graftstub:"))

  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def getParentLogger: Logger = Logger.getGlobal
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def jdbcCompliant(): Boolean = false
}

object StubJdbcDriver {
  // register on first classload so DriverManager.getDriver(url) works
  DriverManager.registerDriver(new StubJdbcDriver)
  def ensureRegistered(): Unit = ()

  /** Type-correct default for any unstubbed proxy method. */
  private def default(m: Method): AnyRef = m.getReturnType match {
    case java.lang.Boolean.TYPE => java.lang.Boolean.FALSE
    case java.lang.Integer.TYPE => Int.box(0)
    case java.lang.Long.TYPE => Long.box(0L)
    case java.lang.Short.TYPE => Short.box(0)
    case java.lang.Byte.TYPE => Byte.box(0)
    case java.lang.Double.TYPE => Double.box(0.0)
    case java.lang.Float.TYPE => Float.box(0.0f)
    case java.lang.Void.TYPE => null
    case _ => null
  }

  private def proxy[T](iface: Class[T])(pf: PartialFunction[(String, Array[AnyRef]), AnyRef]): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val key = (m.getName, if (args == null) Array.empty[AnyRef] else args)
          if (pf.isDefinedAt(key)) pf(key)
          else m.getName match {
            case "toString" => "stub-" + iface.getSimpleName
            case "hashCode" => Int.box(System.identityHashCode(p))
            case "equals" => java.lang.Boolean.valueOf(p eq key._2(0))
            case "isClosed" => java.lang.Boolean.FALSE
            case "isValid" => java.lang.Boolean.TRUE
            case "getAutoCommit" => java.lang.Boolean.TRUE
            case _ => default(m)
          }
        }
      }).asInstanceOf[T]

  private def connection(bucket: String): Connection =
    proxy(classOf[Connection]) {
      case ("prepareStatement", args) =>
        statement(bucket, args(0).asInstanceOf[String])
      case ("getMetaData", _) =>
        proxy(classOf[java.sql.DatabaseMetaData]) {
          case ("getURL", _) => s"jdbc:graftstub:$bucket"
          case ("getDriverName", _) => "graft-stub"
          case ("supportsTransactions", _) => java.lang.Boolean.FALSE
        }
    }

  private def statement(bucket: String, sql: String): PreparedStatement =
    proxy(classOf[PreparedStatement]) {
      case ("executeQuery", _) => resultSet(StubDb.run(bucket, sql))
      case ("getMetaData", _) => rsMeta(StubDb.run(bucket, sql))
    }

  private def rsMeta(t: StubDb.Table): ResultSetMetaData =
    proxy(classOf[ResultSetMetaData]) {
      case ("getColumnCount", _) => Int.box(t.cols.size)
      case ("getColumnName", a) => t.cols(a(0).asInstanceOf[Int] - 1)
      case ("getColumnLabel", a) => t.cols(a(0).asInstanceOf[Int] - 1)
      case ("getColumnType", a) => Int.box(t.typeOf(a(0).asInstanceOf[Int] - 1))
      case ("getColumnTypeName", a) =>
        if (t.typeOf(a(0).asInstanceOf[Int] - 1) == Types.BIGINT) "BIGINT" else "VARCHAR"
      case ("getColumnClassName", a) =>
        if (t.typeOf(a(0).asInstanceOf[Int] - 1) == Types.BIGINT) "java.lang.Long"
        else "java.lang.String"
      case ("getPrecision", a) =>
        Int.box(if (t.typeOf(a(0).asInstanceOf[Int] - 1) == Types.BIGINT) 19 else 255)
      case ("getScale", _) => Int.box(0)
      case ("isSigned", a) =>
        java.lang.Boolean.valueOf(t.typeOf(a(0).asInstanceOf[Int] - 1) == Types.BIGINT)
      case ("isNullable", _) => Int.box(ResultSetMetaData.columnNullable)
    }

  private def resultSet(t: StubDb.Table): ResultSet = {
    var cursor = -1
    var lastWasNull = false
    proxy(classOf[ResultSet]) {
      case ("next", _) =>
        cursor += 1
        java.lang.Boolean.valueOf(cursor < t.rows.size)
      case ("getString", a) =>
        val v = t.rows(cursor)(a(0).asInstanceOf[Int] - 1)
        lastWasNull = v == null
        v
      case ("getLong", a) =>
        val v = t.rows(cursor)(a(0).asInstanceOf[Int] - 1)
        lastWasNull = v == null
        Long.box(if (v == null) 0L else v.toLong)
      case ("wasNull", _) => java.lang.Boolean.valueOf(lastWasNull)
      case ("getMetaData", _) => rsMeta(t)
    }
  }
}
