package e2ebench

import org.scalatest.funsuite.AnyFunSuite

class QuerySuiteSpec extends AnyFunSuite {

  test("every listed query exists in its module, once") {
    val plan = QuerySuite.plan
    assert(plan.map(_._1) == QuerySuite.Queries.map(_._2))
    assert(plan.map(_._1).distinct.size == plan.size)
    plan.foreach { case (n, m, _) => assert(graft.SparkEntry.queries.contains(n), s"$m.$n") }
  }

  test("the list keeps the query that starts jobs while its plan is built") {
    assert(QuerySuite.Queries.contains("GraphModule" -> "q_graph_lpa_trace"))
  }
}
