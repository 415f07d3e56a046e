package graft

import org.scalatest.funsuite.AnyFunSuite

/** The program's runnable surface is four mains: smoke run, oracle
  * dump and bench (`Smoke`, `Verify`, `Bench`) and the plan-diff trail
  * (`PlanDump`). Per-layer timing lives in the e2ebench harness, so
  * a one-off measuring main does not belong in `src/main`. */
class EntryPointsSpec extends AnyFunSuite {

  private val ObjectDecl = """(?m)^\s*object\s+(\w+)""".r
  private val Entry = """def\s+main\s*\(|extends\s+App\b""".r

  /** (file, object) for every object in `src/main/scala` that
    * declares an entry point — the nearest object declared above it. */
  private def entryObjects(): Set[(String, String)] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val files = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val objects = ObjectDecl.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
        Entry.findAllMatchIn(src).map { e =>
          val owner = objects.takeWhile(_._1 < e.start).lastOption.map(_._2).getOrElse("?")
          (p.getFileName.toString, owner)
        }
      }.toSet
    } finally files.close()
  }

  test("src/main defines exactly the four entry points") {
    val found = entryObjects()
    assert(found.map(_._2) == Set("Bench", "Smoke", "Verify", "PlanDump"),
      s"entry points: ${found.toSeq.sorted.mkString(", ")}")
  }
}
