package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the bench's single-line stdout contract (the r18 artifact's
  * parse failure cost round 19 its driver-side PERF comparison): the
  * emitted line must be ONE line of valid JSON carrying the per-query
  * dicts and summary scalars the driver's comparison reads, with the
  * tail-safe field order the artifact-truncation logic relies on
  * (queries + totals at the END, so a truncated capture loses cpu
  * first, never the walls). */
class BenchEmitSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def sampleLine(failed: Set[String] = Set.empty): String = {
    val order = Seq("index_build", "q_alpha", "q_beta")
    val wall = Map("index_build" -> 10.123456, "q_alpha" -> 0.5, "q_beta" -> 1.25)
    val cpu = Map("index_build" -> 30.0, "q_alpha" -> 0.1, "q_beta" -> 2.0)
    val qs = Bench.jmapOf(order, failed, n => Bench.r3(wall(n)).toString)
    val cp = Bench.jmapOf(order, failed, n => Bench.r3(cpu(n)).toString)
    val cb = Bench.jmapOf(order, failed, n => Bench.r3(cpu(n) * 0.9).toString)
    Bench.benchLine(
      total = wall.values.sum, protocol = "test-protocol", cpus = "32",
      hostPenalty = 1.444, hostPenaltyEnd = 1.5019,
      calJson = """{"start":1.444,"end":1.502}""",
      failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]"),
      regressJson = "null", cpuBestJson = cb, sfDir = "/root/testdata/sf0.1",
      cpuJson = cp, queriesJson = qs,
      totalCpu = cpu.values.sum, totalMed = wall.values.sum + 0.4)
  }

  test("emitted line is exactly one line of valid JSON") {
    val line = sampleLine()
    assert(!line.contains("\n") && !line.contains("\r"))
    val root = mapper.readTree(line) // throws on invalid JSON
    assert(root.isObject)
  }

  test("line carries the keys the driver's comparison reads") {
    val root = mapper.readTree(sampleLine())
    for (k <- Seq("metric", "value", "unit", "protocol", "cpus",
        "host_parallel_penalty", "host_parallel_penalty_end", "calibration",
        "failed", "regress", "cpu_best", "sf", "cpu", "queries",
        "cpu_total_sec", "total_med_sec", "total_sec"))
      assert(root.has(k), s"missing key $k")
    assert(root.get("metric").asText == "total")
    assert(root.get("unit").asText == "sec")
    val qs = root.get("queries")
    assert(qs.isObject && qs.size == 3)
    assert(qs.get("index_build").asDouble == 10.123)
    assert(root.get("total_sec").asDouble == root.get("value").asDouble)
  }

  test("a failed query emits null, never a numeric sentinel") {
    val root = mapper.readTree(sampleLine(failed = Set("q_beta")))
    assert(root.get("queries").get("q_beta").isNull)
    assert(root.get("cpu").get("q_beta").isNull)
    assert(root.get("cpu_best").get("q_beta").isNull)
    assert(root.get("queries").get("q_alpha").isNumber)
  }

  test("field order is tail-safe: regress before cpu, queries and totals last") {
    val line = sampleLine()
    val idx = Seq("\"regress\":", "\"cpu_best\":", "\"cpu\":{", "\"queries\":",
      "\"cpu_total_sec\":", "\"total_med_sec\":", "\"total_sec\":").map(line.indexOf)
    assert(idx.forall(_ >= 0))
    assert(idx == idx.sorted, s"tail-safe field order violated: $idx")
    assert(line.trim.endsWith("}"))
  }

  test("rounding is locale-proof (no comma decimal separators)") {
    val dl = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val line = sampleLine()
      mapper.readTree(line)
      assert(!line.matches(""".*\d,\d.*"""), s"comma decimal separator in $line")
      assert(line.contains("\"host_parallel_penalty\":1.444"))
    } finally java.util.Locale.setDefault(dl)
  }
}
