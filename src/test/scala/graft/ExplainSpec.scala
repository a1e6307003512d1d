package graft

import org.apache.spark.sql.execution.ExplainMode

class ExplainSpec extends SparkSuite {
  test("Explain.plan: two builds of one query in one session print the same text") {
    val build = SparkEntry.queries("q_sample_k")
    val (a, b) = (build(spark, sf), build(spark, sf))
    // raw, the two differ in expression ids, plan ids and TopKAgg's hash code
    val raw = Seq(a, b).map(_.queryExecution.explainString(ExplainMode.fromString("formatted")))
    assert(raw.head != raw(1))
    assert(raw.forall(_.contains("TopKAgg@")))
    assert(Explain.plan(a) == Explain.plan(b))
    assert(Explain.plan(a).contains("TopKAgg@hash"))
  }

  test("Explain.explain: a query explains the same after a build that cached its frames") {
    // explained right after another build of itself, q_mau_approx would
    // read that build's cached frames (an InMemoryRelation over its
    // attributes) unless the caches are released between queries
    val build = SparkEntry.queries("q_mau_approx")
    val first = Explain.explain(spark, sf, build)
    assert(!first.startsWith("ERROR"), first)
    assert(Explain.explain(spark, sf, build) == first)
  }
}
