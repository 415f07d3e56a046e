package graft

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` parses ALTO with one parser, the
  * [[graft.functions.AltoSimplify]] kernel. Spark's XML reader (the
  * `from_xml` expression, the `xml` datasource) lives only in the test
  * tree's reference model, which the kernel is checked against. The
  * call forms are matched, not the names: the kernel's scaladoc
  * mentions `from_xml` in prose. */
class OneAltoParserSpec extends AnyFunSuite {

  private val Banned = Seq("from_xml(", "format(\"xml\")", "XmlToStructs")

  test("src/main calls no XML parser besides the AltoSimplify kernel") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    val hits = try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n")
        lines.zipWithIndex.collect {
          case (line, i) if Banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    } finally files.close()
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
