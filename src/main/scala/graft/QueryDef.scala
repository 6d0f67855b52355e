package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared engine query: the Spark implementation plus (when
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  *
  * Oracle-parity rules (SURVEY.md §7.4) enforced throughout:
  *  - every output column aliased identically on both sides;
  *  - deterministic total ORDER BY on both sides;
  *  - money/measure aggregates computed in DECIMAL (exact, order-
  *    independent) then cast to DOUBLE, so Spark's and DuckDB's
  *    summation order cannot diverge.
  *
  * `uses` lists the [[core.Substrate]]s the gate reads directly (their
  * deps follow from the registry); Bench builds and charges exactly
  * their closure, and QueriesSpec checks the list against what the gate
  * actually touches.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    uses: Seq[core.Substrate] = Nil)

object QueryDef {
  /** Exact decimal view of a 2-dp money/measure double. */
  def dec(c: Column): Column = c.cast("decimal(12,2)")
  /** Order-independent exact sum of a 2-dp double, surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  /** SQL twin of [[dsum]]. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"
}
