package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one function per key, and a repeated key fails
  * loudly instead of silently replacing the first copy. */
class SparkEntrySpec extends AnyFunSuite {

  test("query keys are unique; a repeated key is rejected") {
    assert(SparkEntry.queries.size == 398)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2, "q_a" -> 3)
    }
    assert(e.getMessage.contains("q_a"), e.getMessage)
    assert(SparkEntry.uniqueKeys("q_a" -> 1, "q_b" -> 2) ==
      Map("q_a" -> 1, "q_b" -> 2))
  }
}
