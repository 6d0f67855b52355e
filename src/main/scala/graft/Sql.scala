package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point: register the corpus as temp views so users can drive
  * the engine with `spark.sql(...)` — the third query lifecycle surface
  * (SURVEY.md §3: builder API ≙ Flow, DataFrame ≙ ops modules, SQL ≙
  * this). Views are lazy — registering costs nothing until queried, and
  * `graft_dot` is available in SQL via GraftExtensions. */
object Sql {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every corpus table of `dir` as a temp view. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
  }

  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(query)
  }

  /** SQL-TEXT lifecycle gates: the ONE SQL string is both the Spark
    * plan (via [[sql]] → temp views → `spark.sql(text)`) and the
    * DuckDB oracle — the strongest possible parity statement for the
    * third entry point (SURVEY §3): identical text, two independent
    * engines, hash-equal results. The three texts are dialect-portable
    * ANSI twins of existing gates (q04 grouped decimal aggregates, q07
    * join+revenue, q10 window rank), so the SQL surface is proven on
    * aggregation, join, and window machinery — not just a scan. */
  private def textTwin(name: String, text: String): QueryDef =
    QueryDef(name, (s, d) => sql(s, d, text), Some(text))

  val defs: Seq[QueryDef] = Seq(
    textTwin("q195_sqltext_agg_group",
      ops.Relational.aggGroupOracleSql),
    textTwin("q196_sqltext_join_revenue",
      ops.Relational.joinRevenueOracleSql),
    textTwin("q197_sqltext_window_rank",
      // CAST(rn AS BIGINT): Spark's ROW_NUMBER is 32-bit, DuckDB's is
      // 64-bit — the shared text pins the wider type on both engines
      """SELECT s_nationkey, CAST(rn AS BIGINT) AS rn, s_suppkey, s_acctbal FROM (
        |  SELECT s_nationkey, s_suppkey, s_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY s_nationkey
        |      ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
        |  FROM supplier) t
        |WHERE rn <= 3 ORDER BY s_nationkey, rn""".stripMargin),

    // Native-function-in-SQL-text gate: the one surface q195-q197's
    // dialect-portable twins can't cover — graft's INJECTED functions
    // reached through `spark.sql(text)` (GraftExtensions wires them
    // into the session's FunctionRegistry; this proves a SQL-text user
    // gets the same native codegen scorer the DataFrame surface gets).
    // The texts differ only in the scorer's name (graft_jaro_winkler
    // vs DuckDB's jaro_winkler_similarity) — same blocks, same rounded
    // cut, hash-equal pair counts.
    QueryDef("q218_sqltext_native_fn",
      (s, dir) => sql(s, dir,
        """SELECT a.p_brand, COUNT(*) AS n_pairs
          |FROM part a JOIN part b
          |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
          |  AND a.p_partkey < b.p_partkey
          |  AND 10 * least(length(a.p_name), length(b.p_name))
          |      >= 7 * greatest(length(a.p_name), length(b.p_name))
          |WHERE round(graft_jaro_winkler(a.p_name, b.p_name), 6) >= 0.94
          |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin),
      Some("""SELECT a.p_brand, COUNT(*) AS n_pairs
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |  AND 10 * least(length(a.p_name), length(b.p_name))
             |      >= 7 * greatest(length(a.p_name), length(b.p_name))
             |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.94
             |GROUP BY a.p_brand ORDER BY a.p_brand""".stripMargin)),

    // Dialect-portable text twin #4: correlated EXISTS / NOT EXISTS +
    // INTERSECT — the subquery/set-op machinery q195–q197 don't touch,
    // through the same one-text-two-engines parity statement
    // (customers holding an urgent order but never a failed-status
    // order, intersected with above-median-balance holders).
    textTwin("q309_sqltext_exists_setop",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |INTERSECT
        |SELECT c_custkey FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS
        |  DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM customer)
        |ORDER BY c_custkey""".stripMargin))
}
