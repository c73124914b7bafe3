package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each query is registered once, in one entry that carries its oracle
  * or declares it rows-only. */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds 202 distinct names and 201 oracles") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.size == 202)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.size == 201)
  }

  test("multimodal_batch is the only rows-only query") {
    assert(SparkEntry.registry.filter(_.oracle.isEmpty).map(_.name) ==
      Seq("multimodal_batch"))
  }

  test("a module list that registers a name twice is rejected") {
    val q = Query("q", (s, _) => s.range(1).toDF(), "SELECT 0 AS id")
    val e = intercept[IllegalArgumentException] {
      Query.registry(Seq(q), Seq(Query.rowsOnly("q", q.build)))
    }
    assert(e.getMessage.contains("q"))
    assert(Query.registry(Seq(q), Seq(Query.rowsOnly("r", q.build)))
      .map(_.name) == Seq("q", "r"))
  }
}
