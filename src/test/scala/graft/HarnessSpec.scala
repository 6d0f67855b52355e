package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate selector that Bench, Verify and Explain share. */
class HarnessSpec extends AnyFunSuite {
  private val defs = Seq("q71_b", "q70_a", "q8_c")
    .map(n => QueryDef(n, (s, _) => s.emptyDataFrame, None))
  private def names(spec: String) = Harness.select(defs, spec).map(_.name)

  test("selector entries are gate names or name prefixes; gates come sorted by name") {
    assert(names("q7") == Seq("q70_a", "q71_b"))
    assert(names("q8_c, q70") == Seq("q70_a", "q8_c"))
  }

  test("a selector entry that matches no gate fails") {
    val e = intercept[IllegalArgumentException](names("q7,q9"))
    assert(e.getMessage.contains("q9"))
  }

  test("a blank selector selects every gate") {
    assert(names("") == Seq("q70_a", "q71_b", "q8_c"))
    assert(names(" , ") == Seq("q70_a", "q71_b", "q8_c"))
  }

  test("no gate name is a prefix of another, so a full name selects exactly its gate") {
    for (q <- SparkEntry.defs)
      assert(Harness.select(SparkEntry.defs, q.name).map(_.name) == Seq(q.name))
  }
}
