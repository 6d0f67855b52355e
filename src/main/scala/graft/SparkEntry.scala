package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from the ops modules; each SQL-expressible query
  * carries a DuckDB oracle in `oracleSql` (same output column names, same
  * deterministic ORDER BY — the driver hash-compares at sf0.01).
  */
object SparkEntry {

  /** Every declared gate. */
  def defs: Seq[QueryDef] =
    ops.Relational.defs ++ ops.TextAnalysis.defs ++ ops.Dedup.defs ++
      ops.Components.defs ++ ops.TrainPrep.defs ++ ops.Sketch.defs ++
      ops.Similarity.defs ++ ops.Ann.defs ++ ops.Scale.defs ++
      ops.Delta.defs ++ ops.Pq.defs ++ ops.OrderStats.defs ++
      stream.StreamOps.defs ++ multimodal.Multimodal.defs ++
      multimodal.Compressed.defs ++
      ops.Pipeline.defs ++ ops.Extras.defs ++ ops.CodecOps.defs ++
      ops.DataSelect.defs ++ Sql.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A join+aggregate that exercises scan, broadcast join, shuffle join,
    * partial aggregation and sort in one plan. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_items"),
           sum(QueryDef.dec(col("l_extendedprice"))).cast("double").as("gross"))
      .orderBy("c_mktsegment")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    defs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
