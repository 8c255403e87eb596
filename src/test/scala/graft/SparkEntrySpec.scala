package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDef

class SparkEntrySpec extends AnyFunSuite {

  private def gate(name: String) = QueryDef(name, (_, _) => null, None)

  test("two gates with one name fail the registry, naming the name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.registry(Seq(gate("q1_a"), gate("q2_b"), gate("q1_a"))))
    assert(e.getMessage.contains("q1_a") && !e.getMessage.contains("q2_b"), e.getMessage)
  }
}
