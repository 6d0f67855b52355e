package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import graft.QueryDef.{dec, dsum, dsumSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator inventory (SURVEY.md §2.7): scan/project, filter,
  * top-k, aggregation, joins (broadcast/shuffle/semi/anti), window
  * functions, set ops, distinct, split/explode, JSON extraction.
  *
  * Every query is declarative DataFrame code — Catalyst handles pushdown,
  * pruning and join strategy. Scale annotations per query note the
  * 100 TB-relevant choice (broadcast vs shuffle, partial agg, etc.).
  */
object Relational {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** Gap-based session ids (30-min inactivity, strict '>' new-session
    * test — the boundary rule pinned in StreamingSpec): the SINGLE
    * definition shared by q19 (sessionization gate) and q70 (range-join
    * self-check), so the two derivations cannot drift apart. */
  private[ops] val sessionGapMicros = 1800000000L
  private[ops] def withSessionIds(ev: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev.withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > sessionGapMicros,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
  /** SQL twin of [[withSessionIds]], as a subquery yielding
    * (user_id, event_id, ts, session_id). */
  private[ops] val sessionIdsSql =
    s"""SELECT user_id, event_id, ts,
       |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |  FROM (
       |    SELECT user_id, event_id, ts,
       |      CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > $sessionGapMicros
       |           THEN 1 ELSE 0 END AS new_sess
       |    FROM (
       |      SELECT user_id, event_id, ts,
       |        LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
       |      FROM events) a) b""".stripMargin

  /** Oracle of q04_agg_group and q195_sqltext_agg_group. */
  val aggGroupOracleSql =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${dsumSql("l_quantity")} AS sum_qty,
      |  ${dsumSql("l_extendedprice")} AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Oracle of q07_join_revenue, q196_sqltext_join_revenue and q65_bucketed_join. */
  val joinRevenueOracleSql =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Oracle of q18_window_tumble and q39_stream_tumble. */
  val tumbleOracleSql =
    s"""SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w_start,
      |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // S-scan + projection: column pruning reaches the parquet reader
    // (ReadSchema contains exactly these 4 columns).
    QueryDef("q01_scan_project",
      (s, d) => li(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Filter with predicate pushdown (PushedFilters on shipdate + quantity).
    QueryDef("q02_filter_pushdown",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
                col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00' AND l_quantity > 45
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Top-k: orderBy+limit compiles to TakeOrderedAndProject — a per-
    // partition top-k then a k-row merge on the driver; no full sort at
    // scale. Tie-broken for determinism.
    QueryDef("q03_topk",
      (s, d) => ord(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // TPC-H Q1-shaped grouped aggregation: partial (map-side) agg then
    // 6-group final — shuffle volume is O(groups), not O(rows).
    QueryDef("q04_agg_group",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some(aggGroupOracleSql)),

    // Whole-stream fold (flod `array()`/fold analog, K2): global agg —
    // single-row result via partial aggregation, no data movement.
    QueryDef("q05_agg_global",
      (s, d) => li(s, d).agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        countDistinct(col("l_suppkey")).as("n_supp")),
      Some(s"""SELECT COUNT(*) AS n_rows, ${dsumSql("l_quantity")} AS sum_qty,
              |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
              |  COUNT(DISTINCT l_suppkey) AS n_supp FROM lineitem""".stripMargin)),

    // Broadcast join chain: nation (25 rows) and region (5 rows) broadcast
    // to every executor — zero shuffle of the customer side at any scale.
    QueryDef("q06_join_broadcast",
      (s, d) => Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name", "n_name"),
      Some(s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
              |  ${dsumSql("c_acctbal")} AS sum_bal
              |FROM customer
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // Shuffle join (TPC-H Q3 shape): both sides large → sort-merge/shuffled
    // hash on the join key; AQE splits skewed partitions at scale. The
    // orders->priority dimension keeps output bounded.
    QueryDef("q07_join_revenue",
      (s, d) => li(s, d)
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority"),
      Some(joinRevenueOracleSql)),

    // Semi join (EXISTS): orders having a high-quantity line. left_semi
    // ships only the join key of the probe side.
    QueryDef("q08_join_semi",
      (s, d) => ord(s, d)
        .join(li(s, d).filter(col("l_quantity") >= 49),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
             |ORDER BY o_orderkey""".stripMargin)),

    // Anti join (NOT EXISTS): customers with no orders since 2001 — the
    // filter on the build side is applied before the join.
    QueryDef("q09_join_anti",
      (s, d) => Tables.customer(s, d)
        .join(ord(s, d).filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             |  AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
             |ORDER BY c_custkey""".stripMargin)),

    // Ranking window: top-3 suppliers per nation by balance. Single
    // shuffle on the partition key; rank prune happens before output.
    QueryDef("q10_window_rank",
      (s, d) => {
        val w = Window.partitionBy("s_nationkey")
          .orderBy(col("s_acctbal").desc, col("s_suppkey").asc)
        Tables.supplier(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("s_nationkey", "rn", "s_suppkey", "s_acctbal")
          .orderBy("s_nationkey", "rn")
      },
      Some("""SELECT s_nationkey, rn, s_suppkey, s_acctbal FROM (
             |  SELECT s_nationkey, s_suppkey, s_acctbal,
             |    ROW_NUMBER() OVER (PARTITION BY s_nationkey
             |      ORDER BY s_acctbal DESC, s_suppkey ASC) AS rn
             |  FROM supplier) t
             |WHERE rn <= 3 ORDER BY s_nationkey, rn""".stripMargin)),

    // Running-total window (frame = unbounded preceding..current row),
    // decimal-exact so the prefix sums hash-match.
    QueryDef("q11_window_running",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ord(s, d)
          .withColumn("running_spend", sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .select("o_custkey", "o_orderkey", "o_orderdate", "running_spend")
          .orderBy("o_custkey", "o_orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
             |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin)),

    // Set operations over the nations that have customers vs suppliers.
    QueryDef("q12_setop_union",
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |UNION SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    QueryDef("q13_setop_intersect",
      (s, d) => Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
      Some("""SELECT c_nationkey AS nationkey FROM customer
             |INTERSECT SELECT s_nationkey AS nationkey FROM supplier
             |ORDER BY nationkey""".stripMargin)),

    // Nations with no negative-balance supplier.
    QueryDef("q14_setop_except",
      (s, d) => Tables.nation(s, d).select(col("n_nationkey").as("nationkey"))
        .except(Tables.supplier(s, d).filter(col("s_acctbal") < 0)
          .select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey"),
      Some("""SELECT n_nationkey AS nationkey FROM nation
             |EXCEPT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal < 0
             |ORDER BY nationkey""".stripMargin)),

    // Distinct (hash aggregate on the pair).
    QueryDef("q15_distinct",
      (s, d) => li(s, d).select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Splitter/byLine analog at the relational layer (flod K7/T2,
    // range.d:359-508): split each document on the separator and emit one
    // row per token — a generator (UDTF-shaped) op via explode.
    QueryDef("q16_split_explode",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word"),
      Some("""SELECT word, COUNT(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY word""".stripMargin)),

    // JSON extraction from the events props column (metadata-carrying
    // payload — SURVEY.md §1.4 maps tags to envelope columns).
    QueryDef("q17_json_extract",
      (s, d) => Tables.events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Tumbling event-time window (batch form; streaming twin lives in
    // graft.stream): Spark's native window() — epoch-aligned, so the
    // DuckDB bucket arithmetic lands on identical boundaries.
    QueryDef("q18_window_tumble",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "5 minutes").getField("start").as("w_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("w_start", "event_type"),
      Some(tumbleOracleSql)),

    // Gap-based sessionization (30-min inactivity) via window functions —
    // one shuffle on user_id; the same logic streams via session_window
    // (see graft.stream.StreamOps).
    QueryDef("q19_sessionize",
      (s, d) => withSessionIds(Tables.events(s, d))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("sess_start"), max(col("ts")).as("sess_end"))
        .orderBy("user_id", "session_id"),
      Some(s"""SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
             |  MIN(ts) AS sess_start, MAX(ts) AS sess_end
             |FROM ($sessionIdsSql) c
             |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),

    // Rollup (grouping-set hierarchy): per-(flag,status), per-flag, grand
    // total in one pass. NULLS FIRST pinned on both engines.
    QueryDef("q35_rollup",
      (s, d) => li(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      Some(s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  ${dsumSql("l_quantity")} AS sum_qty
              |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
              |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)),

    // Calendar bucketing via date-part extraction (ints on both engines).
    QueryDef("q36_date_parts",
      (s, d) => ord(s, d)
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"),
                 month(col("o_orderdate")).cast("long").as("o_month"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy("o_year", "o_month"),
      Some(s"""SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
              |  COUNT(*) AS n, ${dsumSql("o_totalprice")} AS revenue
              |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin)),

    // Scalar string-function surface (identical semantics on both
    // engines, including levenshtein).
    QueryDef("q37_string_funcs",
      (s, d) => Tables.part(s, d)
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).cast("long").as("nlen"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          substring(col("p_name"), 1, 4).as("prefix4"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          levenshtein(col("p_name"), lit("small ring")).cast("long").as("dist"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_name) AS uname, length(p_name) AS nlen,
             |  replace(p_name, ' ', '_') AS snake, substr(p_name, 1, 4) AS prefix4,
             |  p_brand || ':' || p_type AS brand_type,
             |  CAST(levenshtein(p_name, 'small ring') AS BIGINT) AS dist
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // Pivot-shaped conditional aggregation: one row per user, one column
    // per event type (count(when) ≙ FILTER).
    QueryDef("q38_pivot_events",
      (s, d) => {
        val ev = Tables.events(s, d)
        val types = Seq("click", "error", "purchase", "signup", "view")
        ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_total"),
            types.map(t => count(when(col("event_type") === t, 1)).as(s"n_$t")): _*)
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n_total,
             |  COUNT(*) FILTER (event_type = 'click') AS n_click,
             |  COUNT(*) FILTER (event_type = 'error') AS n_error,
             |  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
             |  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
             |  COUNT(*) FILTER (event_type = 'view') AS n_view
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Correlated scalar subquery (decorrelated by Catalyst into a join
    // against the per-type aggregate): parts priced above their type's
    // average. Threshold compare uses the decimal-exact average.
    QueryDef("q40_subquery_avg",
      (s, d) => {
        val p = Tables.part(s, d)
        val avgByType = p.groupBy(col("p_type").as("t"))
          .agg((sum(dec(col("p_retailprice"))).cast("double") / count(lit(1))).as("avg_price"))
        p.join(avgByType, col("p_type") === col("t"))
          .where(col("p_retailprice") > col("avg_price"))
          .select("p_partkey", "p_type", "p_retailprice")
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_type, p_retailprice FROM part p
             |WHERE p_retailprice > (
             |  SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
             |  FROM part p2 WHERE p2.p_type = p.p_type)
             |ORDER BY p_partkey""".stripMargin)),

    // Analytic-function surface: lag/lead/ntile over a pinned total order.
    QueryDef("q41_window_stats",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ord(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  LAG(o_totalprice, 1) OVER w AS prev_price,
             |  LEAD(o_totalprice, 1) OVER w AS next_price,
             |  NTILE(4) OVER w AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // Distribution window functions — the remaining window surface
    // beyond rank/lag/ntile (q10/q11/q41): percent_rank and cume_dist
    // are exact rationals of (rank, n) so both engines compute
    // identical doubles (rounded 6 dp for the boundary-free hash);
    // first/nth value use an explicit ROWS frame. Same single shuffle
    // on the partition key as every window gate.
    QueryDef("q132_window_distribution",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
        val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderkey"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"),
            first(col("o_totalprice")).over(wf).as("first_price"),
            nth_value(col("o_totalprice"), 2).over(wf).as("second_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
             |  round(PERCENT_RANK() OVER w, 6) AS pr,
             |  round(CUME_DIST() OVER w, 6) AS cd,
             |  FIRST_VALUE(o_totalprice) OVER wf AS first_price,
             |  NTH_VALUE(o_totalprice, 2) OVER wf AS second_price
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    // As-of join (an operator Spark lacks natively — SURVEY §7.3 option a:
    // compose built-ins): for each click, the user's most recent purchase
    // at-or-before it. Expressed as a carry-forward max over the unioned,
    // per-user-ordered event stream — ONE shuffle+sort per key instead of
    // the O(clicks×purchases) inequality join.
    QueryDef("q42_asof_join",
      (s, d) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("last_purchase_ts",
            max(when(col("event_type") === "purchase", col("ts"))).over(byUser))
          .where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("last_purchase_ts"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, ts, last_purchase_ts FROM (
             |  SELECT event_id, user_id, ts, event_type,
             |    MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_ts
             |  FROM events) t
             |WHERE event_type = 'click' ORDER BY event_id""".stripMargin)),

    // Point-in-time feature assembly (✚, the feature-store read path:
    // for every label event, attach the latest value of SEVERAL
    // trailing signals — here last click value, last view value and
    // prior-click count per user — all strictly BEFORE the label's own
    // timestamp, so no feature leaks the label). One pass over one
    // partitioned window with a (unbounded, -1] ROWS frame serves all
    // features: ignore-null `last` over type-masked values is the
    // multi-signal as-of, where q42's single-signal form used a
    // running max. Scale: one shuffle by user_id, bounded frame state,
    // no self-joins — the union-window trick keeps N features at one
    // shuffle instead of N as-of joins.
    QueryDef("q175_feature_assembly",
      (s, d) => {
        val prevF = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("last_click_value",
            last(when(col("event_type") === "click", col("value")), true).over(prevF))
          .withColumn("last_view_value",
            last(when(col("event_type") === "view", col("value")), true).over(prevF))
          .withColumn("n_prior_clicks",
            count(when(col("event_type") === "click", lit(1))).over(prevF))
          .where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            coalesce(col("last_click_value"), lit(-1.0)).as("last_click_value"),
            coalesce(col("last_view_value"), lit(-1.0)).as("last_view_value"),
            col("n_prior_clicks"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, ts_us, last_click_value,
             |  last_view_value, n_prior_clicks
             |FROM (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             |    COALESCE(last_value(CASE WHEN event_type = 'click' THEN value END
             |      IGNORE NULLS) OVER f, -1.0) AS last_click_value,
             |    COALESCE(last_value(CASE WHEN event_type = 'view' THEN value END
             |      IGNORE NULLS) OVER f, -1.0) AS last_view_value,
             |    count(CASE WHEN event_type = 'click' THEN 1 END) OVER f
             |      AS n_prior_clicks
             |  FROM events
             |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) t
             |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)),

    // Left outer join with null-aware aggregates: order counts per
    // customer including customers with none (COALESCE over the null side).
    QueryDef("q43_join_left",
      (s, d) => Tables.customer(s, d)
        .join(ord(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice")), lit(0.0)).as("spend"))
        .orderBy("c_custkey"),
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
              |  COALESCE(${dsumSql("o_totalprice")}, 0.0) AS spend
              |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
              |ON c_custkey = o_custkey
              |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // Full outer join over two partial key sets (nations with customers
    // vs nations with suppliers).
    QueryDef("q44_join_full",
      (s, d) => {
        val cn = Tables.customer(s, d).groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
          .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("n_supp"))
        cn.join(sn, col("ck") === col("sk"), "full_outer")
          .select(coalesce(col("ck"), col("sk")).as("nationkey"),
            coalesce(col("n_cust"), lit(0L)).as("n_cust"),
            coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy("nationkey")
      },
      Some("""SELECT COALESCE(ck, sk) AS nationkey,
             |  COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
             |FROM (SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
             |FULL OUTER JOIN (SELECT s_nationkey AS sk, COUNT(*) AS n_supp
             |  FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s
             |ON ck = sk ORDER BY nationkey""".stripMargin)),

    // Pagination: deterministic ORDER BY + LIMIT/OFFSET.
    QueryDef("q45_limit_offset",
      (s, d) => ord(s, d)
        .orderBy(col("o_orderkey"))
        .offset(100).limit(50)
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin)),

    // LIKE-family predicates (identical wildcard semantics).
    QueryDef("q46_like_predicates",
      (s, d) => Tables.part(s, d)
        .where(col("p_name").like("%ring%") || col("p_name").like("red%") ||
               col("p_name").like("%bolt"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_name FROM part
             |WHERE p_name LIKE '%ring%' OR p_name LIKE 'red%' OR p_name LIKE '%bolt'
             |ORDER BY p_partkey""".stripMargin)),

    // Cube: all grouping-set combinations of two dimensions.
    QueryDef("q47_cube",
      (s, d) => ord(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
      Some(s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
              |  ${dsumSql("o_totalprice")} AS revenue
              |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
              |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Math-function surface restricted to IEEE-exact operations (sqrt,
    // abs, floor/ceil, exact products) so both engines agree bitwise.
    QueryDef("q48_math_funcs",
      (s, d) => li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("d_abs"),
          floor(col("l_extendedprice")).cast("double").as("p_floor"),
          ceil(col("l_extendedprice")).cast("double").as("p_ceil"),
          sqrt(col("l_quantity")).as("q_sqrt"),
          (col("l_quantity") * col("l_quantity")).as("q_sq"),
          pmod(col("l_orderkey"), lit(7L)).as("k_mod"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  abs(l_discount - 0.05) AS d_abs,
             |  CAST(floor(l_extendedprice) AS DOUBLE) AS p_floor,
             |  CAST(ceil(l_extendedprice) AS DOUBLE) AS p_ceil,
             |  sqrt(l_quantity) AS q_sqrt,
             |  l_quantity * l_quantity AS q_sq,
             |  l_orderkey % 7 AS k_mod
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // UNPIVOT — the inverse of q38's pivot, closing the reshape pair:
    // the wide per-user count row melts back to (user_id, type, n)
    // through the codegen'd stack() generator (one pass, 5 output rows
    // per input row map-side, no shuffle beyond q38's aggregation).
    // The oracle melts the same wide table with UNION ALL arms.
    QueryDef("q105_unpivot_stack",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val counts = types.map(t =>
          count(when(col("event_type") === t, 1)).as(s"n_$t"))
        Tables.events(s, d).groupBy("user_id")
          .agg(counts.head, counts.tail: _*)
          .selectExpr("user_id",
            s"stack(${types.length}, ${types.map(t => s"'$t', n_$t").mkString(", ")}) AS (event_type, n)")
          .where(col("n") > 0)
          .orderBy("user_id", "event_type")
      },
      Some {
        val types = Seq("click", "error", "purchase", "signup", "view")
        s"""WITH wide AS (
           |  SELECT user_id,
           |${types.map(t => s"    COUNT(*) FILTER (event_type = '$t') AS n_$t").mkString(",\n")}
           |  FROM events GROUP BY user_id),
           |melted AS (
           |${types.map(t => s"  SELECT user_id, '$t' AS event_type, n_$t AS n FROM wide").mkString("\n  UNION ALL\n")})
           |SELECT user_id, event_type, n FROM melted
           |WHERE n > 0
           |ORDER BY user_id, event_type""".stripMargin
      }),

    // NULL-semantics audit — the three places engines classically
    // disagree, pinned value-level on BOTH: aggregate skipping
    // (count(k) vs count(*)), GROUP BY retaining one NULL group, and
    // inner equi-joins DROPPING null keys (null = null is not true).
    // k derives nulls from the majority status; the self-join side is
    // thinned %100 so pair counts stay bounded at any SF.
    QueryDef("q106_null_semantics",
      (s, d) => {
        val base = Tables.orders(s, d)
          .where(pmod(col("o_orderkey"), lit(100)) === 0)
          .select(expr("nullif(o_orderstatus, 'O')").as("k"), col("o_orderkey"))
        val agg = base.groupBy("k")
          .agg(count(lit(1)).as("n_rows"), count(col("k")).as("n_k"))
        val pairs = base.select(col("k"), col("o_orderkey").as("a"))
          .join(base.select(col("k"), col("o_orderkey").as("b")), "k")
          .groupBy("k").agg(count(lit(1)).as("n_pairs"))
        agg.join(pairs, Seq("k"), "left")
          .select(col("k"), col("n_rows"), col("n_k"),
            coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""WITH base AS (
             |  SELECT nullif(o_orderstatus, 'O') AS k, o_orderkey
             |  FROM orders WHERE o_orderkey % 100 = 0),
             |agg AS (
             |  SELECT k, COUNT(*) AS n_rows, COUNT(k) AS n_k
             |  FROM base GROUP BY k),
             |pairs AS (
             |  SELECT a.k, COUNT(*) AS n_pairs
             |  FROM base a JOIN base b ON a.k = b.k
             |  GROUP BY a.k)
             |SELECT agg.k, agg.n_rows, agg.n_k,
             |  COALESCE(pairs.n_pairs, 0) AS n_pairs
             |FROM agg LEFT JOIN pairs ON agg.k = pairs.k
             |ORDER BY agg.k ASC NULLS FIRST""".stripMargin)),

    // Source/sink format breadth (SURVEY §2.7 scans/sources/sinks): a
    // lineitem slice round-trips through ORC, CSV and JSON sinks and
    // sources, and each format's re-read must aggregate IDENTICALLY to
    // the parquet original (the oracle computes the parquet aggregate
    // once, cross-joined with the format labels). Doubles survive the
    // text formats because Spark writes shortest-repr and Java's
    // parse(shortest(d)) == d round-trip guarantee holds; dates are
    // text-exact by construction. The union is pinned so
    // the temp files can be deleted before the driver consumes the
    // result (the query must not depend on scratch files outliving
    // its construction).
    QueryDef("q144_format_roundtrip",
      (s, d) => {
        val slice = Tables.lineitem(s, d)
          .where(col("l_orderkey") % 50 === 0)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"), col("l_extendedprice"),
            col("l_shipdate").cast("date").as("l_shipdate"))
        val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
        def roundTrip(fmt: String): DataFrame = {
          val p = s"$dir/$fmt"
          slice.write.format(fmt).option("header", "true").save(p)
          s.read.format(fmt).option("header", "true")
            .schema(slice.schema).load(p)
            .groupBy("l_returnflag").agg(
              count(lit(1)).as("n"),
              dsum(col("l_quantity")).as("sum_qty"),
              dsum(col("l_extendedprice")).as("sum_price"),
              // string-typed: the compare harness reads date32 and
              // DuckDB DATE into different pandas types
              max(col("l_shipdate")).cast("string").as("max_ship"))
            .withColumn("fmt", lit(fmt))
        }
        try {
          roundTrip("csv").unionByName(roundTrip("json"))
            .unionByName(roundTrip("orc"))
            .select("fmt", "l_returnflag", "n", "sum_qty", "sum_price",
              "max_ship")
            .orderBy("fmt", "l_returnflag")
            .transform(pin)
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
          }
          rm(new java.io.File(dir))
        }
      },
      Some(s"""WITH slice AS (
             |  SELECT l_returnflag, l_quantity, l_extendedprice,
             |    CAST(l_shipdate AS DATE) AS d
             |  FROM lineitem WHERE l_orderkey % 50 = 0),
             |a AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    ${dsumSql("l_quantity")} AS sum_qty,
             |    ${dsumSql("l_extendedprice")} AS sum_price,
             |    CAST(MAX(d) AS VARCHAR) AS max_ship
             |  FROM slice GROUP BY 1)
             |SELECT fmt, l_returnflag, n, sum_qty, sum_price, max_ship
             |FROM a CROSS JOIN (SELECT unnest(['csv', 'json', 'orc']) AS fmt) f
             |ORDER BY fmt, l_returnflag""".stripMargin)),

    // Schema evolution + partition discovery (✚, the lakehouse read
    // path q144's fixed-schema round-trip doesn't exercise): two
    // generations of one table land as gen=N directories, the newer
    // generation with an ADDED column; one mergeSchema read must
    // discover the partition column from the directory names, union
    // the file schemas, and null-fill the missing column in old files
    // — the null surfaced as an explicit pre-schema label, never
    // silently conflated with a real value. Same scratch-dir hygiene
    // as q144 (pin before cleanup).
    QueryDef("q161_schema_evolution",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = java.nio.file.Files.createTempDirectory("graft-evo").toString
        try {
          docs.where(col("doc_id") % 2 === 0).select("doc_id", "n_chars")
            .write.parquet(s"$dir/gen=1")
          docs.where(col("doc_id") % 2 === 1)
            .select("doc_id", "n_chars", "lang")
            .write.parquet(s"$dir/gen=2")
          s.read.option("mergeSchema", "true").parquet(dir)
            .groupBy(col("gen").cast("int").as("gen"),
              coalesce(col("lang"), lit("(pre-schema)")).as("lang"))
            .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
            .orderBy("gen", "lang")
            .transform(pin)
        } finally {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
          }
          rm(new java.io.File(dir))
        }
      },
      Some("""WITH m AS (
             |  SELECT 1 AS gen, '(pre-schema)' AS lang, n_chars
             |  FROM documents WHERE doc_id % 2 = 0
             |  UNION ALL
             |  SELECT 2 AS gen, lang, n_chars
             |  FROM documents WHERE doc_id % 2 = 1)
             |SELECT gen, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars
             |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
