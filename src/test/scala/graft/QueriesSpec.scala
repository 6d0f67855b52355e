package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke for the driver contract: entry>0 rows; every declared query
  * executes at sf0.001 and (where non-degenerate there) returns rows.
  * Value-level correctness is the DuckDB oracle gate (tools/compare.py
  * replays it locally at sf0.01).
  *
  * Sharded into three sibling suites (r19 — VERDICT r18 #2): the
  * single suite was ~9 min of sequential per-query execution, the
  * second-largest block in the `sbt test` wall clock. The shards
  * partition the query set deterministically by name hash, so the
  * parallel test groups (build.sbt) can run them concurrently; every
  * query still executes exactly once per `sbt test`.
  *
  * Each run also checks the gate's declared `uses`: every substrate it
  * reaches while constructing and counting must lie in the closure of
  * that list, because Bench charges (and ScaleLawSpec warms) exactly
  * that closure. */
abstract class QueriesSpecBase(shard: Int, of: Int) extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  for (q <- SparkEntry.defs.sortBy(_.name)
       if Math.floorMod(q.name.hashCode, of) == shard) {
    test(s"${q.name} executes at sf0.001") {
      val touched = core.Substrate.touchedBy {
        val df = q.fn(spark, TestSpark.sf0001)
        assert(df.columns.nonEmpty)
        df.count() // must not throw
      }
      val undeclared = touched -- core.Substrate.closure(q.uses)
      assert(undeclared.isEmpty,
        s"${q.name} reads substrates missing from its uses: $undeclared")
    }
  }
}

class QueriesSpecShard0 extends QueriesSpecBase(0, 3) {
  private lazy val spark = TestSpark.spark

  test("flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}

class QueriesSpecShard1 extends QueriesSpecBase(1, 3)
class QueriesSpecShard2 extends QueriesSpecBase(2, 3)
