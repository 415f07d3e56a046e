package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class CorpusSpec extends AnyFunSuite {

  test("the corpus is a function of the seed") {
    assert(AltoCorpus.generate(7, 60) == AltoCorpus.generate(7, 60))
    assert(AltoCorpus.generate(7, 60).docs.map(_.xml) != AltoCorpus.generate(8, 60).docs.map(_.xml))
  }

  test("the corpus holds v2, v3, unsupported and missing documents") {
    val c = AltoCorpus.generate(1, 600)
    val kinds = c.docs.groupBy(_.kind).map { case (k, v) => k -> v.size }
    assert(Set("v2", "v3", "unsupported", "missing").subsetOf(kinds.keySet))
    assert(kinds("v2") + kinds("v3") > 500)
    assert(c.docs.map(_.representationId).distinct.size == c.docs.size)
    // pages of a few hundred tokens, with a tail of large ones
    val sizes = c.docs.filter(_.kind != "missing").map(_.tokens).filter(_ > 0)
    assert(sizes.sorted.apply(sizes.size / 2) > 100)
    assert(sizes.max > 3 * sizes.sorted.apply(sizes.size / 2))
  }

  test("expected transcripts follow the token rules of each ALTO version") {
    val c = AltoCorpus.generate(3, 200)
    val content = """CONTENT="([^"]*)"""".r
    c.docs.foreach { d =>
      val toks = content.findAllMatchIn(d.xml).map(_.group(1)).toSeq
      d.kind match {
        case "v2" => assert(d.transcript.contains(toks.filter(_.nonEmpty).mkString(" ")))
        case "v3" => assert(d.transcript.contains(toks.mkString(" ")))
        case _ => assert(d.transcript.isEmpty)
      }
    }
    assert(c.docs.forall(d => c.asOf > d.updatedAt))
  }
}
