package graft.declared

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Pins the registry's contents and its one-declaration rule: the
  * derived maps must keep every query and every oracle. */
class DeclaredSpec extends AnyFunSuite {

  test("218 declared queries, 217 oracles; only q_forget_audit has none") {
    assert(SparkEntry.declared.size == 218)
    assert(SparkEntry.queries.size == 218)
    assert(SparkEntry.oracleSql.size == 217)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set("q_forget_audit"))
  }

  test("a registry that declares a name twice throws, naming it") {
    val q = Declared("q_twice", (s, _) => s.emptyDataFrame, None)
    val e = intercept[IllegalArgumentException](
      Declared.registry(Seq(q, q.copy(oracle = Some("SELECT 1")))))
    assert(e.getMessage.contains("q_twice"), e.getMessage)
  }
}
