package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Later-round additions to the relational/pipeline surface: grouping
  * sets, blocked edit-distance fuzzy matching, and time-series gap-fill
  * — operators a reference user reaches for that the first-round
  * inventory didn't declare as gate queries.
  */
object Extras {

  // q110's profiled columns — ONE list feeding both the Spark branches
  // and the oracle arms, so the two sides cannot drift
  private val profileCols =
    Seq("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")

  // q153's correlated columns — one list feeds the Spark aggregates AND
  // the generated oracle arms (the q110 anti-drift discipline)
  private val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Referential-integrity + value-domain constraint audit (✚, the
    * data-quality gate a curation pipeline runs before anything else):
    * one row per named constraint with the violating-row count and
    * rate. FK checks are LEFT ANTI joins on the key (including the
    * reverse containment "parent with no children", which an FK join
    * can't see); value-domain checks for a table are conditional sums
    * fused into ONE aggregate over ONE scan — adding a rule never adds
    * a scan, the unpivot happens on the 1-row aggregate.
    *
    * Scale: anti joins shuffle on the 8-byte key (AQE turns the small
    * parent sides into broadcasts at these sizes; at 100 TB the
    * orders⋉customer side stays a shuffle join and the nation side a
    * broadcast); domain aggregates are map-side partials to a single
    * row; the final result is O(#rules) rows via unions of 1-row
    * frames — nothing corpus-sized moves.
    */
  def integrityAudit(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Column, DataFrame}
    def fk(name: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame = {
      val orphans = child
        .join(parent.select(col(parentKey).as(childKey)).distinct(),
          Seq(childKey), "left_anti")
        .agg(count(lit(1)).as("n_bad"))
      child.agg(count(lit(1)).as("n_rows"))
        .crossJoin(broadcast(orphans))
        .select(lit(name).as("check"), col("n_rows"), col("n_bad"))
    }
    def domain(table: DataFrame, rules: Seq[(String, Column)]): DataFrame =
      table.agg(count(lit(1)).as("n_rows"),
          rules.zipWithIndex.map { case ((_, c), i) => c.as(s"r$i") }: _*)
        .select(explode(array(rules.zipWithIndex.map { case ((n, _), i) =>
          struct(lit(n).as("check"), col("n_rows"),
            col(s"r$i").as("n_bad")) }: _*)).as("r"))
        .select("r.*")
    def bad(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val audit = Seq(
      fk("orders_customer_fk", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey"),
      fk("lineitem_orders_fk", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey"),
      fk("customer_nation_fk", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      fk("orders_without_lineitems", Tables.orders(s, d), "o_orderkey",
        Tables.lineitem(s, d), "l_orderkey"),
      domain(Tables.lineitem(s, d), Seq(
        "lineitem_discount_range" -> bad(!col("l_discount").between(0.0, 0.1)),
        "lineitem_quantity_range" -> bad(!col("l_quantity").between(1.0, 50.0)))),
      domain(Tables.customer(s, d), Seq(
        "customer_negative_acctbal" -> bad(col("c_acctbal") < 0)))
    ).reduce(_.unionAll(_))
    audit.select(col("check"), col("n_rows"), col("n_bad"),
        round(col("n_bad").cast("double") / col("n_rows"), 6).as("bad_rate"))
      .orderBy("check")
  }

  /** Oracle of q149_rolling_anomaly and q151_stream_anomaly. */
  val rollingAnomalyOracleSql =
    """WITH w AS (
      |  SELECT event_id, user_id, event_type, value,
      |    count(*) OVER f AS n_hist,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) OVER f AS DOUBLE) AS sx,
      |    CAST(sum(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2))) OVER f AS DOUBLE) AS sx2
      |  FROM events
      |  WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_id, user_id, event_type, value,
      |    sx / n_hist AS mean,
      |    (sx2 - sx*sx/n_hist) / (n_hist - 1) AS var
      |  FROM w WHERE n_hist >= 10)
      |SELECT event_id, user_id, event_type, value,
      |  round((value - mean) / sqrt(var), 6) AS z
      |FROM z WHERE var > 0
      |  AND abs(round((value - mean) / sqrt(var), 6)) > 3
      |ORDER BY event_id""".stripMargin

  /** Oracle of q158_range_features and q159_stream_range_features. */
  val rangeFeaturesOracleSql =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  count(*) OVER f AS n_1h,
      |  coalesce(CAST(sum(CAST(value AS DECIMAL(12,2))) OVER f AS DOUBLE), 0.0) AS sum_1h
      |FROM events
      |WINDOW f AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
      |ORDER BY event_id""".stripMargin

  /** Oracle of q178_interval_union and q187_stream_interval_union. */
  val intervalUnionOracleSql =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS st,
      |    epoch_us(ts) + 300000000 AS en
      |  FROM events),
      |m AS (
      |  SELECT user_id, event_id, st, en,
      |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_en
      |  FROM iv),
      |f AS (
      |  SELECT user_id, st, en,
      |    sum(CASE WHEN prev_max_en IS NULL OR st > prev_max_en
      |        THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY st, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM m),
      |isl AS (
      |  SELECT user_id, island, min(st) AS ist, max(en) AS ien
      |  FROM f GROUP BY user_id, island)
      |SELECT user_id, count(*) AS n_islands,
      |  CAST(sum(ien - ist) AS BIGINT) AS covered_us
      |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hourly OHLC bars of `events` (ts, event_id, value), one row per
    * hour: every column is a mergeable aggregate (struct MIN/MAX for
    * open/close), so q316 streams the same transform q315 runs. */
  def ohlcBars(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .select(expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").as("hr"),
        unix_micros(col("ts")).as("tsu"), col("event_id"),
        round(col("value") * 100, 0).cast("long").as("c"))
      .groupBy("hr")
      .agg(count(lit(1)).as("n"),
        min(struct(col("tsu"), col("event_id"), col("c"))).as("o"),
        max(struct(col("tsu"), col("event_id"), col("c"))).as("cl"),
        max(col("c")).as("hi"), min(col("c")).as("lo"))
      .select(col("hr"), col("n"),
        round(col("o.c").cast("double") / 100, 2).as("open"),
        round(col("hi").cast("double") / 100, 2).as("high"),
        round(col("lo").cast("double") / 100, 2).as("low"),
        round(col("cl.c").cast("double") / 100, 2).as("close"))

  /** Oracle of q315_ohlc and q316_stream_ohlc. */
  val ohlcOracleSql =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hr, epoch_us(ts) AS tsu,
      |    event_id, CAST(round(value * 100, 0) AS BIGINT) AS c
      |  FROM events),
      |r AS (
      |  SELECT hr, c,
      |    ROW_NUMBER() OVER (PARTITION BY hr
      |      ORDER BY tsu, event_id) AS rf,
      |    ROW_NUMBER() OVER (PARTITION BY hr
      |      ORDER BY tsu DESC, event_id DESC) AS rl
      |  FROM ev)
      |SELECT hr, COUNT(*) AS n,
      |  round(CAST(MAX(CASE WHEN rf = 1 THEN c END) AS DOUBLE) / 100,
      |    2) AS open,
      |  round(CAST(MAX(c) AS DOUBLE) / 100, 2) AS high,
      |  round(CAST(MIN(c) AS DOUBLE) / 100, 2) AS low,
      |  round(CAST(MAX(CASE WHEN rl = 1 THEN c END) AS DOUBLE) / 100,
      |    2) AS close
      |FROM r GROUP BY hr ORDER BY hr""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // GROUPING SETS — the general form behind rollup (q35) / cube (q47):
    // an explicitly chosen set of grouping combinations in ONE pass
    // (Catalyst expands + partial-aggregates each set map-side; never
    // N scans for N sets). grouping() disambiguates real NULLs from
    // subtotal rows, made hash-stable via labels.
    QueryDef("q57_grouping_sets",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT
                |  CASE WHEN grouping(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS rf,
                |  CASE WHEN grouping(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS ls,
                |  COUNT(*) AS n,
                |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
                |FROM lineitem_gs
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY rf, ls""".stripMargin)
      },
      Some("""SELECT
             |  CASE WHEN grouping(l_returnflag) = 1 THEN '(all)' ELSE l_returnflag END AS rf,
             |  CASE WHEN grouping(l_linestatus) = 1 THEN '(all)' ELSE l_linestatus END AS ls,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY rf, ls""".stripMargin)),

    // Blocked edit-distance fuzzy match: near-identical part names via
    // levenshtein <= 4, but ONLY within (p_brand, p_size) blocks — the
    // same cap-the-candidates discipline as the dedup family: an
    // equality join on the block key bounds pairs at 100 TB; the O(n·m)
    // edit distance runs per candidate, never per cross-pair.
    QueryDef("q58_fuzzy_name_match",
      (s, d) => {
        val p = Tables.part(s, d).select(
          col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        val a = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_a"), col("p_name").as("name_a"))
        val b = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b"))
        a.join(b, Seq("p_brand", "p_size")).where(col("id_a") < col("id_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
          .where(col("dist") <= 4)
          .select("id_a", "id_b", "dist")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |WHERE levenshtein(a.p_name, b.p_name) <= 4
             |ORDER BY id_a, id_b""".stripMargin)),

    // Time-series gap-fill: a dense 5-minute grid per event_type between
    // the global min and max bucket, zero-filling empty buckets — the
    // resample step before any window/trend computation. The grid is
    // sequence()+explode over (types × bucket range): its size is
    // types·buckets (bounded by the TIME SPAN, not the event count), so
    // at 100 TB the grid side is tiny and broadcastable while events
    // partial-aggregate before the join.
    QueryDef("q59_gapfill",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            window(col("ts"), "5 minutes").getField("start").as("b"))
        val counts = ev.groupBy("event_type", "b").agg(count(lit(1)).as("n"))
        val bounds = ev.agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
        val grid = bounds
          .crossJoin(ev.select("event_type").distinct())
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), expr("INTERVAL 5 MINUTES"))).as("b"))
        grid.join(counts, Seq("event_type", "b"), "left")
          .select(col("event_type"), col("b"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("event_type", "b")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b
             |  FROM events),
             |counts AS (SELECT event_type, b, COUNT(*) AS n FROM ev GROUP BY 1, 2),
             |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ev),
             |grid AS (
             |  SELECT t.event_type, g.b
             |  FROM (SELECT DISTINCT event_type FROM ev) t,
             |       (SELECT unnest(generate_series(lo, hi, INTERVAL 5 MINUTE)) AS b
             |        FROM bounds) g)
             |SELECT grid.event_type AS event_type, grid.b AS b, COALESCE(counts.n, 0) AS n
             |FROM grid LEFT JOIN counts
             |  ON grid.event_type = counts.event_type AND grid.b = counts.b
             |ORDER BY 1, 2""".stripMargin)),

    // Exact interpolated percentiles per group (the order-statistics
    // surface q41's avg/stddev window stats don't cover). Exact — not
    // the approx sketch (ApproxSpec covers that trade) — because the
    // oracle must agree bit-for-bit; round(5) absorbs the engines'
    // float interpolation. At 100 TB exact percentiles require a
    // per-group sort: use the sketch instead (documented trade).
    QueryDef("q61_percentiles",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 5).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 5).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 5).as("p99_price"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |  round(quantile_cont(l_quantity, 0.5), 5) AS p50,
             |  round(quantile_cont(l_quantity, 0.9), 5) AS p90,
             |  round(quantile_cont(l_extendedprice, 0.99), 5) AS p99_price
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Array higher-order functions over the embedding column — the
    // codegen'd lambda surface (transform/filter/aggregate/zip_with)
    // that keeps vector math inside whole-stage codegen instead of
    // UDFs. All-integer outputs so the hash compare is exact.
    QueryDef("q62_array_hof",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("size(filter(embedding, x -> x > 0))").cast("long").as("n_pos"),
          expr("size(filter(embedding, x -> abs(x) > 1.5))").cast("long").as("n_large"),
          expr("cast(aggregate(transform(embedding, x -> cast(sign(x) as int)), 0, (a, x) -> a + x) as long)").as("sign_sum"))
        .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  len(list_filter(embedding, x -> x > 0)) AS n_pos,
             |  len(list_filter(embedding, x -> abs(x) > 1.5)) AS n_large,
             |  CAST(list_sum(list_transform(embedding, x -> CAST(sign(x) AS INT))) AS BIGINT) AS sign_sum
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // BUCKETIZED RANGE JOIN — the interval-containment join done the
    // 100 TB way. Spark plans a raw `ts BETWEEN lo AND hi` join as
    // BroadcastNestedLoop (or worse, cartesian+filter); bucketizing
    // turns it into an EQUALITY join: each window explodes to the
    // 30-min epoch buckets it covers, each event carries its single
    // bucket, the join key is (user_id, bucket) and the exact BETWEEN
    // runs only per bucket-collided candidate. An (event, window) pair
    // collides in exactly ONE bucket — the event's — so no dedup stage
    // is needed. Self-checking fixture: the windows are the user
    // sessions themselves, so n_in_window must reproduce q19's
    // n_events per session (two independent derivations of the same
    // number: sessionization vs containment join).
    QueryDef("q70_range_join",
      (s, d) => {
        val W = Relational.sessionGapMicros // 30-min bucket, microseconds
        val ev = Tables.events(s, d)
        // the windows ARE q19's sessions — one shared definition
        // (Relational.withSessionIds), so the self-check invariant
        // (n_in_window == q19's n_events) cannot drift
        val windows = Relational.withSessionIds(ev)
          .groupBy("user_id", "session_id")
          .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"))
        // integer `div`, not floor(x / W): long/long promotes to double
        // division whose rounding could flip a boundary bucket
        val wb = windows.withColumn("bucket",
          explode(sequence(expr(s"unix_micros(w_start) div ${W}L"),
                           expr(s"unix_micros(w_end) div ${W}L"))))
        val eb = ev.select(col("user_id"), col("ts"))
          .withColumn("bucket", expr(s"unix_micros(ts) div ${W}L"))
        eb.join(wb, Seq("user_id", "bucket"))
          .where(col("ts") >= col("w_start") && col("ts") <= col("w_end"))
          .groupBy("user_id", "w_start", "w_end")
          .agg(count(lit(1)).as("n_in_window"))
          .orderBy("user_id", "w_start")
      },
      Some(s"""WITH w AS (
             |  SELECT user_id, MIN(ts) AS w_start, MAX(ts) AS w_end
             |  FROM (${Relational.sessionIdsSql}) c
             |  GROUP BY user_id, session_id)
             |SELECT w.user_id, w.w_start, w.w_end, COUNT(*) AS n_in_window
             |FROM w JOIN events e
             |  ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts <= w.w_end
             |GROUP BY w.user_id, w.w_start, w.w_end
             |ORDER BY w.user_id, w_start""".stripMargin)),

    // The SAME containment semantics as q70 but written in the NATURAL
    // form — plain ts BETWEEN w_start AND w_end, no equi key, no
    // hand-bucketization — counting corpus-wide events inside each
    // session window. graft's IntervalJoinRule (plans/) rewrites it
    // into the bucketed equality join at optimization time; without the
    // rule Spark would plan a BroadcastNestedLoopJoin over
    // |events| x |windows| pairs. PlanSpec asserts the rewrite fired.
    QueryDef("q93_interval_join_auto",
      (s, d) => {
        val ev = Tables.events(s, d)
        val windows = Relational.withSessionIds(ev)
          .groupBy("user_id", "session_id")
          .agg(min(col("ts")).as("w_start"), max(col("ts")).as("w_end"))
          .select("w_start", "w_end")
        ev.select(col("ts"))
          .join(windows, col("ts") >= col("w_start") && col("ts") <= col("w_end"))
          .groupBy("w_start", "w_end")
          .agg(count(lit(1)).as("n_in_window"))
          .orderBy("w_start", "w_end")
      },
      Some(s"""WITH w AS (
             |  SELECT MIN(ts) AS w_start, MAX(ts) AS w_end
             |  FROM (${Relational.sessionIdsSql}) c
             |  GROUP BY user_id, session_id)
             |SELECT w.w_start, w.w_end, COUNT(*) AS n_in_window
             |FROM w JOIN events e
             |  ON e.ts >= w.w_start AND e.ts <= w.w_end
             |GROUP BY w.w_start, w.w_end
             |ORDER BY w_start, w_end""".stripMargin)),

    // Exponentially-decayed event counts (half-life 1 day against the
    // corpus max ts) in 2^-20 FIXED POINT: age buckets are integer day
    // differences, each bucket's weight is the integer 2^20 >> age, and
    // the decayed mass is sum(count * weight) — pure integer arithmetic,
    // exact and engine-independent, where float pow-sums would hash-
    // differ by association order. The recency weighting a freshness-
    // aware training mix applies to its sources.
    //
    // Scale: one groupBy (event_type, age) — key space is types × days,
    // bounded — then the weighted rollup on that tiny table; the 1-row
    // max-ts anchor attaches via broadcast (the BM25 stats pattern).
    QueryDef("q88_decayed_counts",
      (s, d) => {
        val ev = Tables.events(s, d)
        val anchor = ev.agg(max(col("ts")).as("max_ts"))
        ev.crossJoin(broadcast(anchor))
          .select(col("event_type"),
            floor((unix_timestamp(col("max_ts")) - unix_timestamp(col("ts")))
              / 86400L).cast("long").as("age"))
          .groupBy("event_type", "age").agg(count(lit(1)).as("n"))
          .groupBy("event_type")
          .agg(sum(col("n")).as("n_events"),
            sum(col("n") * when(col("age") < 20,
                expr("shiftright(CAST(1048576 AS BIGINT), CAST(age AS INT))"))
              .otherwise(0L)).as("decayed_fp"))
          .orderBy("event_type")
      },
      Some("""WITH anchor AS (SELECT MAX(ts) AS max_ts FROM events),
             |aged AS (
             |  SELECT event_type,
             |    CAST(FLOOR((epoch(max_ts) - epoch(ts)) / 86400) AS BIGINT) AS age
             |  FROM events, anchor),
             |b AS (SELECT event_type, age, COUNT(*) AS n
             |      FROM aged GROUP BY event_type, age)
             |SELECT event_type,
             |  CAST(SUM(n) AS BIGINT) AS n_events,
             |  CAST(SUM(n * CASE WHEN age < 20 THEN 1048576 >> age ELSE 0 END)
             |    AS BIGINT) AS decayed_fp
             |FROM b GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // Curriculum binning by global quantile cutpoints: 9 decile cuts of
    // the per-doc token count from ONE tiny aggregation, broadcast back
    // as a 1-row frame (the established scalar-attach pattern), per-doc
    // bin = 1 + #cuts below its score — NO ntile(): an ntile window
    // over the corpus is a single-task global sort, the q76 class of
    // scale-killer, while this shape is one small agg + a map-side
    // comparison against 9 literals. Exact percentile keeps the oracle
    // bit-equal (q61's parity); at 100 TB swap the cutpoint agg for
    // approx_percentile — the sketch is mergeable with bounded memory,
    // the binning side is unchanged (documented trade, as q61).
    QueryDef("q99_curriculum_bins",
      (s, d) => {
        val scored = Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).cast("double").as("score"))
        val cuts = scored.agg(array((1 to 9).map(i =>
          round(expr(s"percentile(score, 0.$i)"), 5)): _*).as("cuts"))
        scored.crossJoin(broadcast(cuts))
          .withColumn("bin",
            (size(filter(col("cuts"), c => col("score") > c)) + 1).cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n_docs"),
            min(col("score")).as("lo"), max(col("score")).as("hi"))
          .orderBy("bin")
      },
      Some("""WITH scored AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
             |  FROM documents),
             |cuts AS (SELECT [round(quantile_cont(score, 0.1), 5),
             |                 round(quantile_cont(score, 0.2), 5),
             |                 round(quantile_cont(score, 0.3), 5),
             |                 round(quantile_cont(score, 0.4), 5),
             |                 round(quantile_cont(score, 0.5), 5),
             |                 round(quantile_cont(score, 0.6), 5),
             |                 round(quantile_cont(score, 0.7), 5),
             |                 round(quantile_cont(score, 0.8), 5),
             |                 round(quantile_cont(score, 0.9), 5)] AS cuts
             |        FROM scored)
             |SELECT CAST(1 + len(list_filter(c.cuts, x -> s.score > x)) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, MIN(s.score) AS lo, MAX(s.score) AS hi
             |FROM scored s CROSS JOIN cuts c
             |GROUP BY 1 ORDER BY bin""".stripMargin)),

    // Ordered funnel over the event stream: per user, the first 'view',
    // the first 'click' AFTER it, the first 'purchase' after that —
    // staged conditional min-aggregations chained by co-partitioned
    // user_id joins (each stage's survivors only), never a per-user
    // event-sequence sort. Nullable stage times surface as unix_micros
    // with a -1 sentinel (hash-stable across engines; the synthetic ns
    // timestamps are µs-aligned, same contract as q18/q19).
    QueryDef("q100_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val c = ev.where(col("event_type") === "click")
          .join(v, "user_id").where(col("ts") > col("t_view"))
          .groupBy("user_id").agg(min(col("ts")).as("t_click"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, "user_id").where(col("ts") > col("t_click"))
          .groupBy("user_id").agg(min(col("ts")).as("t_purchase"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            (lit(1L) + col("t_click").isNotNull.cast("long")
              + col("t_purchase").isNotNull.cast("long")).as("steps"),
            unix_micros(col("t_view")).as("view_us"),
            coalesce(unix_micros(col("t_click")), lit(-1L)).as("click_us"),
            coalesce(unix_micros(col("t_purchase")), lit(-1L)).as("purchase_us"))
          .orderBy("user_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, MIN(ts) AS t_view FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, MIN(e.ts) AS t_click
             |  FROM events e JOIN v ON v.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND e.ts > v.t_view
             |  GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, MIN(e.ts) AS t_purchase
             |  FROM events e JOIN c ON c.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
             |  GROUP BY e.user_id)
             |SELECT v.user_id,
             |  CAST(1 + CAST(c.user_id IS NOT NULL AS INT)
             |         + CAST(p.user_id IS NOT NULL AS INT) AS BIGINT) AS steps,
             |  epoch_us(v.t_view) AS view_us,
             |  COALESCE(epoch_us(c.t_click), -1) AS click_us,
             |  COALESCE(epoch_us(p.t_purchase), -1) AS purchase_us
             |FROM v
             |LEFT JOIN c ON c.user_id = v.user_id
             |LEFT JOIN p ON p.user_id = v.user_id
             |ORDER BY v.user_id""".stripMargin)),

    // Event-transition matrix (the funnel's exploratory complement:
    // which step follows which, before you fix a funnel order): per
    // user, consecutive event pairs in (ts, event_id) order, counted
    // into a types×types matrix. The window partitions by user_id —
    // per-user history is bounded (the q19 sessionize contract), so no
    // shard-sized sort task exists; the aggregation key space is ≤
    // |event types|², collapsed map-side. event_id breaks same-ts ties
    // so both engines see the same sequence.
    QueryDef("q104_event_transitions",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .where(col("next_type").isNotNull)
          .groupBy(col("event_type").as("prev_type"), col("next_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH nx AS (
             |  SELECT user_id, event_type AS prev_type,
             |    LEAD(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS next_type
             |  FROM events)
             |SELECT prev_type, next_type, COUNT(*) AS n
             |FROM nx WHERE next_type IS NOT NULL
             |GROUP BY 1, 2
             |ORDER BY prev_type, next_type""".stripMargin)),

    // Equi-width histogram, fully IN-PLAN: the (min, max) row is a
    // 1-row broadcast attached to the scan (the established scalar-
    // attach pattern — q78/q88), bin assignment is a per-row clamped
    // floor, and the aggregation has exactly `bins` keys collapsed
    // map-side. Nothing touches the driver; the profile companion to
    // q110's per-column stats.
    QueryDef("q115_histogram",
      (s, d) => {
        val bins = 10
        val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("v"))
        val mm = li.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val width = (col("mx") - col("mn")) / bins
        li.crossJoin(broadcast(mm))
          .withColumn("bin",
            least(floor((col("v") - col("mn")) / width), lit(bins - 1))
              .cast("long"))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            round(min(col("mn") + col("bin") * width), 5).as("lo"),
            round(min(col("mn") + (col("bin") + 1) * width), 5).as("hi"))
          .orderBy("bin")
      },
      Some("""WITH mm AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
             |            FROM lineitem),
             |b AS (
             |  SELECT LEAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / 10)), 9) AS bin,
             |    mn, mx
             |  FROM lineitem, mm)
             |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n,
             |  round(MIN(mn + bin * ((mx - mn) / 10)), 5) AS lo,
             |  round(MIN(mn + (bin + 1) * ((mx - mn) / 10)), 5) AS hi
             |FROM b GROUP BY bin
             |ORDER BY bin""".stripMargin)),

    // Last-touch attribution: each purchase credits the most recent
    // click by the same user within a 30-minute window. NO click⋈
    // purchase join at all — one carry-forward window per user
    // (last(click_ts) IGNORE NULLS over the interleaved event stream,
    // the q42 as-of pattern) turns the interval join into a linear
    // pass; per-user history bounds the window task (q19 contract),
    // and the summary aggregation is ≤ |users| keys. Decimal-exact
    // revenue sums per the q07 money discipline.
    QueryDef("q114_attribution",
      (s, d) => {
        import graft.QueryDef.dec
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .withColumn("last_click",
            last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
              .over(w))
          .where(col("event_type") === "purchase")
          .withColumn("attributed",
            col("last_click").isNotNull &&
              col("last_click") >= col("ts") - expr("INTERVAL 30 MINUTES"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_purchases"),
            sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
            sum(when(col("attributed"), dec(col("value"))).otherwise(lit(0)))
              .cast("double").as("rev_attributed"),
            sum(when(!col("attributed"), dec(col("value"))).otherwise(lit(0)))
              .cast("double").as("rev_unattributed"))
          .orderBy("user_id")
      },
      Some("""WITH carried AS (
             |  SELECT user_id, event_type, ts, value,
             |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             |      OVER (PARTITION BY user_id ORDER BY ts, event_id
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click
             |  FROM events),
             |p AS (
             |  SELECT user_id, value,
             |    (last_click IS NOT NULL AND last_click >= ts - INTERVAL 30 MINUTE)
             |      AS attributed
             |  FROM carried WHERE event_type = 'purchase')
             |SELECT user_id, COUNT(*) AS n_purchases,
             |  CAST(SUM(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
             |  CAST(SUM(CASE WHEN attributed THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS rev_attributed,
             |  CAST(SUM(CASE WHEN NOT attributed THEN CAST(value AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS rev_unattributed
             |FROM p GROUP BY user_id
             |ORDER BY user_id""".stripMargin)),

    // ANALYZE-style column profile — the stats pass every warehouse
    // runs before planning/ingest QA: non-null / exact-distinct / min /
    // max per profiled column. NOT the single-agg multi-COUNT(DISTINCT)
    // form: Catalyst plans that through Expand (data × (cols+1)) into a
    // SortAggregate — measured 6 s at sf0.1 where this shape runs at
    // the scan floor. Instead, one branch per column: a column-PRUNED
    // scan (only that column is read) into a two-level hash aggregation
    // — groupBy(value) partial-aggregates map-side, the second level
    // reduces |distinct values| rows — then a 4-arm union of 1-row
    // results. Exact NDV with map-side combine at any scale; the HLL
    // sketch (approx_count_distinct) remains the one-pass alternative
    // when N scans of one column each still cost too much. min/max cast
    // to VARCHAR so one report covers heterogeneous types.
    QueryDef("q110_column_profile",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        profileCols.map { c =>
          li.select(col(c).as("v"))
            .groupBy("v").agg(count(lit(1)).as("cnt"))
            .agg(sum(col("cnt")).as("n_rows"),
              sum(when(col("v").isNotNull, col("cnt")).otherwise(0L)).as("n_nonnull"),
              count(col("v")).as("n_distinct"),
              min(col("v")).cast("string").as("min_s"),
              max(col("v")).cast("string").as("max_s"))
            .select(lit(c).as("column_name"), col("n_rows"), col("n_nonnull"),
              col("n_distinct"), col("min_s"), col("max_s"))
        }.reduce(_ unionByName _)
          .orderBy("column_name")
      },
      Some {
        profileCols.map(c =>
          s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
             |  COUNT($c) AS n_nonnull, COUNT(DISTINCT $c) AS n_distinct,
             |  CAST(MIN($c) AS VARCHAR) AS min_s, CAST(MAX($c) AS VARCHAR) AS max_s
             |FROM lineitem""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
      }),

    // Weekly retention cohorts: users grouped by first-seen week, the
    // classic (cohort × week-offset → distinct active users) matrix.
    // Both the first-seen reduction and the activity distinct key on
    // the 8-byte user id; the output is cohorts × offsets — tiny at
    // any corpus size. Week offsets are exact integer arithmetic on
    // microsecond epochs of week-truncated timestamps.
    QueryDef("q126_retention_cohorts",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val first = ev.groupBy("user_id").agg(min(col("wk")).as("cohort"))
        ev.distinct().join(first, "user_id")
          .groupBy(col("cohort"),
            ((unix_micros(col("wk")) - unix_micros(col("cohort"))) /
              lit(604800000000L)).cast("long").as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH ev AS (
             |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
             |  FROM events),
             |first AS (SELECT user_id, MIN(wk) AS cohort FROM ev GROUP BY 1)
             |SELECT cohort,
             |  (epoch_us(wk) - epoch_us(cohort)) // 604800000000 AS week_offset,
             |  COUNT(DISTINCT ev.user_id) AS n_users
             |FROM ev JOIN first USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort, week_offset""".stripMargin)),

    // 2D Pareto skyline (maximize both dims) as the two-phase
    // distributed shape: any partitioning's LOCAL skylines are a
    // superset of the global skyline (a global dominator of p implies
    // a local-skyline dominator in its own partition), so phase 1
    // prunes per partition with a bounded running-max window and only
    // the survivor union — skyline-sized, not corpus-sized — takes the
    // exact single-task pass in phase 2 (the same documented-small
    // terminal as the driver prefix offsets). The oracle is the
    // quadratic NOT EXISTS definition.
    QueryDef("q127_skyline",
      (s, d) => {
        val pts = Tables.part(s, d)
          .select(col("p_retailprice").as("x"),
                  col("p_size").cast("long").as("y"))
          .distinct()
          .withColumn("_pid", spark_partition_id())
        // sorted by (x desc, y desc), a point survives iff its y beats
        // every earlier y: earlier rows have x' > x, or x' = x, y' > y
        // (exact ties impossible after distinct) — both dominate
        def prune(w: org.apache.spark.sql.expressions.WindowSpec) =
          max(col("y")).over(
            w.orderBy(col("x").desc, col("y").desc)
              .rowsBetween(Window.unboundedPreceding, -1))
        val local = pts
          .withColumn("pm", prune(Window.partitionBy(col("_pid"))))
          .where(col("pm").isNull || col("pm") < col("y")).drop("pm", "_pid")
        local.coalesce(1)
          .withColumn("pm", prune(Window.partitionBy(lit(1))))
          .where(col("pm").isNull || col("pm") < col("y")).drop("pm")
          .orderBy("x", "y")
      },
      Some("""WITH p AS (
             |  SELECT DISTINCT p_retailprice AS x, CAST(p_size AS BIGINT) AS y
             |  FROM part)
             |SELECT x, y FROM p a
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM p b
             |  WHERE b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
             |ORDER BY x, y""".stripMargin)),

    // k-anonymity audit over a generalization ladder (✚, privacy —
    // the release-side companion of q109's scrubbing): for each
    // coarsening level of the quasi-identifier tuple (nation, segment,
    // account-balance band) → (nation, segment) → (segment), how many
    // QI groups fall below k=10, and what fraction of rows they hold
    // (the rows that must be suppressed or generalized further).
    //
    // Scale: the ladder is ONE pass — GROUPING SETS expands the three
    // levels inside a single aggregation with map-side partials (the
    // q57 machinery), so the corpus is scanned once regardless of
    // ladder depth; the second aggregation runs over ≤|groups| rows.
    // grouping() flags identify the level (never NULL-sentinel abuse:
    // a real NULL QI value cannot masquerade as a subtotal row).
    QueryDef("q145_k_anonymity",
      (s, d) => {
        Tables.customer(s, d)
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
          .createOrReplaceTempView("cust_qi")
        s.sql("""SELECT lvl, COUNT(*) AS n_groups,
                |  CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
                |  CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS n_suppressed,
                |  ROUND(CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 6) AS suppression_rate
                |FROM (
                |  SELECT CASE WHEN grouping(band) = 0 THEN 0
                |              WHEN grouping(c_nationkey) = 0 THEN 1
                |              ELSE 2 END AS lvl,
                |    COUNT(*) AS n
                |  FROM cust_qi
                |  GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment, band),
                |                          (c_nationkey, c_mktsegment),
                |                          (c_mktsegment)))
                |GROUP BY lvl ORDER BY lvl""".stripMargin)
      },
      Some("""WITH g AS (
             |  SELECT CASE WHEN grouping(band) = 0 THEN 0
             |              WHEN grouping(c_nationkey) = 0 THEN 1
             |              ELSE 2 END AS lvl,
             |    count(*) AS n
             |  FROM (SELECT c_nationkey, c_mktsegment,
             |          CAST(floor(c_acctbal/1000.0) AS BIGINT) AS band FROM customer)
             |  GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment, band),
             |                          (c_nationkey, c_mktsegment),
             |                          (c_mktsegment)))
             |SELECT lvl, count(*) AS n_groups,
             |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
             |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS n_suppressed,
             |  round(CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 6) AS suppression_rate
             |FROM g GROUP BY lvl ORDER BY lvl""".stripMargin)),

    // l-diversity audit (✚, privacy — the attack q145's k-anonymity
    // can't see: a QI class of 50 rows is 50-anonymous yet fully
    // disclosive if all 50 share ONE sensitive value). Per QI class
    // (nation, segment): distinct-l (how many sensitive values appear)
    // and entropy-l (exp of the Shannon entropy of the sensitive
    // distribution — the effective number of values, robust to one
    // value dominating). Scale: ONE map-side-combined groupBy over
    // (QI, sensitive) — |classes|·|values| rows out, the corpus never
    // reshuffles — then class stats over that bounded table. Entropy
    // terms follow the q118/q223 log discipline: each −p·ln p is
    // rounded@9 and summed as DECIMAL(38,9) (exact, order-independent;
    // round@9 also absorbs cross-engine libm ulp drift in ln), doubles
    // reappear only in the final exp, round@6.
    QueryDef("q235_l_diversity",
      (s, d) => {
        val cells = Tables.customer(s, d)
          .select(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("sens"))
          .groupBy("nation", "segment", "sens")
          .agg(count(lit(1)).as("c"))
        // class total n via a window over the CELL table (|classes|·|values|
        // rows — bounded), so the entropy term is a plain per-row expression
        // before the final per-class fold
        val wc = cells.withColumn("n",
          sum(col("c")).over(Window.partitionBy("nation", "segment")))
        wc.groupBy("nation", "segment")
          .agg(max(col("n")).as("n"),
            count(lit(1)).as("l_distinct"),
            sum(round(-(col("c").cast("double") / col("n")) *
              log(col("c").cast("double") / col("n")), 9)
              .cast("decimal(38,9)")).as("hdec"))
          .select(col("nation"), col("segment"), col("n"), col("l_distinct"),
            round(exp(col("hdec").cast("double")), 6).as("entropy_l"),
            (col("l_distinct") < 3).as("viol"))
          .orderBy("nation", "segment")
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
             |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens,
             |    COUNT(*) AS c
             |  FROM customer GROUP BY 1, 2, 3),
             |wc AS (
             |  SELECT nation, segment, c,
             |    SUM(c) OVER (PARTITION BY nation, segment) AS n
             |  FROM cells)
             |SELECT nation, segment, CAST(MAX(n) AS BIGINT) AS n,
             |  COUNT(*) AS l_distinct,
             |  round(exp(CAST(SUM(CAST(round(
             |    -(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n), 9)
             |    AS DECIMAL(38,9))) AS DOUBLE)), 6) AS entropy_l,
             |  COUNT(*) < 3 AS viol
             |FROM wc GROUP BY nation, segment
             |ORDER BY nation, segment""".stripMargin)),

    // t-closeness audit (✚, privacy — completing the q145/q235 trio
    // with the attack l-diversity can't see: a class can hold many
    // DISTINCT sensitive values yet a distribution wildly SKEWED from
    // the table's — e.g. a class where 90% sit in the top balance
    // band discloses "rich" even at l=5). Per QI class (nation,
    // segment): the ordered Earth-Mover's Distance between the
    // class's sensitive-band distribution and the global one —
    // EMD = Σ_b |cumQ_b/n_c − cumP_b/N| / (B−1), the standard
    // t-closeness instantiation for an ORDERED sensitive attribute.
    //
    // Scale + determinism: one map-side-combined pass to the
    // |classes|·|bands| cell table; the dense class×band grid (every
    // class × every band, zero cells included — a missing band still
    // moves the cumulative gap) is a crossJoin of two BOUNDED
    // distinct sets; cumulative sums run in windows PARTITIONED BY
    // CLASS (≤|bands| rows each — the global band cumsum rides the
    // same per-class window, since every class row carries its band's
    // global count). N and B are two 8-byte driver scalars off the
    // pinned cell table (the q319/q335 precedent). The EMD numerator
    // is ALL-BIGINT (common denominator N·n_c), one double division
    // rounded @6 at the end.
    QueryDef("q338_t_closeness",
      (s, d) => {
        val cells = Tables.customer(s, d)
          .select(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"),
            floor(col("c_acctbal") / 1000.0).cast("long").as("band"))
          .groupBy("nation", "segment", "band")
          .agg(count(lit(1)).as("c"))
          .transform(pin) // pinned: grid, globals, and scalars read it
        val bigN = cells.agg(sum(col("c"))).head.getLong(0)
        val nBands = cells.select("band").distinct().count()
        val grid = cells.select("nation", "segment").distinct()
          .crossJoin(cells.select("band").distinct())
          .join(cells, Seq("nation", "segment", "band"), "left")
          .join(cells.groupBy("band").agg(sum(col("c")).as("g")), "band")
          .withColumn("c0", coalesce(col("c"), lit(0L)))
        val w = Window.partitionBy("nation", "segment").orderBy("band")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid
          .withColumn("cum_q", sum(col("c0")).over(w))
          .withColumn("cum_p", sum(col("g")).over(w))
          .withColumn("n_c",
            sum(col("c0")).over(Window.partitionBy("nation", "segment")))
          .groupBy("nation", "segment")
          .agg(sum(col("c0")).as("n"),
            sum(abs(col("cum_q") * bigN - col("cum_p") * col("n_c"))).as("gap"))
          .select(col("nation"), col("segment"), col("n"),
            round(col("gap").cast("double")
              / (lit(bigN) * col("n") * (nBands - 1)), 6).as("emd"))
          .withColumn("viol", col("emd") > 0.15)
          .orderBy("nation", "segment")
      },
      Some("""WITH cells AS (
             |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
             |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
             |    COUNT(*) AS c
             |  FROM customer GROUP BY 1, 2, 3),
             |n AS (SELECT SUM(c) AS big_n FROM cells),
             |b AS (SELECT COUNT(DISTINCT band) AS n_bands FROM cells),
             |grid AS (
             |  SELECT cl.nation, cl.segment, ba.band,
             |    COALESCE(ce.c, 0) AS c0, gb.g
             |  FROM (SELECT DISTINCT nation, segment FROM cells) cl
             |  CROSS JOIN (SELECT DISTINCT band FROM cells) ba
             |  LEFT JOIN cells ce ON ce.nation = cl.nation
             |    AND ce.segment = cl.segment AND ce.band = ba.band
             |  JOIN (SELECT band, SUM(c) AS g FROM cells GROUP BY band) gb
             |    ON gb.band = ba.band),
             |cum AS (
             |  SELECT nation, segment, c0,
             |    SUM(c0) OVER (PARTITION BY nation, segment ORDER BY band
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_q,
             |    SUM(g) OVER (PARTITION BY nation, segment ORDER BY band
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_p,
             |    SUM(c0) OVER (PARTITION BY nation, segment) AS n_c
             |  FROM grid)
             |SELECT nation, segment, CAST(SUM(c0) AS BIGINT) AS n,
             |  round(CAST(SUM(abs(cum_q * n.big_n - cum_p * n_c)) AS DOUBLE)
             |    / (n.big_n * SUM(c0) * (b.n_bands - 1)), 6) AS emd,
             |  round(CAST(SUM(abs(cum_q * n.big_n - cum_p * n_c)) AS DOUBLE)
             |    / (n.big_n * SUM(c0) * (b.n_bands - 1)), 6) > 0.15 AS viol
             |FROM cum, n, b GROUP BY nation, segment, n.big_n, b.n_bands
             |ORDER BY nation, segment""".stripMargin)),

    // Differentially-private histogram release (✚, privacy — the
    // MECHANISM the q145/q235/q338 trio audits toward but never
    // performs: those measure re-identification risk, this one
    // actually releases counts under an ε-DP contract). Per
    // (lang, source) cell of the documents corpus: true count +
    // Laplace(1/ε) noise (sensitivity 1 — one document moves one
    // cell by one), then threshold suppression (noisy < τ ⇒ the cell
    // is withheld), the standard stability guard that keeps rare
    // cells — exactly the ones k-anonymity would flag — out of the
    // release entirely.
    //
    // Determinism (the repo-wide seeded-randomness discipline, q332/
    // q101): the noise draw is NOT an RNG — u ∈ (0,1) derives from
    // the md5 of the cell key (uniform by construction, reproducible
    // on both engines), and the Laplace deviate is the inverse-CDF
    // transform −(1/ε)·sign(u−½)·ln(1−2|u−½|). The +0.5 bucket
    // offset keeps u off 0, ½, and 1, so sign/ln never sit on a
    // boundary; round@6 absorbs cross-engine libm ulp drift (the
    // q235 ln rule).
    //
    // PRIVACY CAVEAT — this gate is a deterministic SIMULATION of the
    // DP mechanism, not a DP release: u is a function of the PUBLIC
    // cell key alone, so anyone can recompute and subtract the noise
    // (and the suppression decision) exactly — ε here buys zero
    // actual privacy. The determinism is deliberate (it is what makes
    // the gate oracle-checkable); a production release keeps the
    // mechanism and swaps the seed source to a SECRET, e.g.
    // u = md5(secret_seed || key) with the seed held by the curator,
    // which restores the DP guarantee against anyone without the
    // seed while keeping the release replayable by its owner.
    // Scale: ONE map-side-combined groupBy to the
    // |langs|·|sources|-bounded cell table; noise and suppression are
    // per-cell projections — the release costs one corpus scan
    // regardless of ε, τ, or cell count.
    QueryDef("q343_dp_release",
      (s, d) => {
        val eps = 1.0
        val tau = 10.0
        val u = (conv(substring(md5(concat(lit("dp9:"), col("lang"),
            lit(":"), col("source"))), 1, 8), 16, 10).cast("long")
          % 1000000 + lit(0.5)) / 1000000.0
        val lap = round(lit(-1.0 / eps) * signum(u - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 6)
        Tables.documents(s, d)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("c"))
          .withColumn("noisy", round(col("c") + lap, 6))
          .where(col("noisy") >= tau)
          .select("lang", "source", "noisy")
          .orderBy("lang", "source")
      },
      Some("""WITH cells AS (
             |  SELECT lang, source, COUNT(*) AS c
             |  FROM documents GROUP BY lang, source),
             |noised AS (
             |  SELECT lang, source,
             |    round(c + round(-1.0 * sign(u - 0.5) *
             |      ln(1.0 - 2.0 * abs(u - 0.5)), 6), 6) AS noisy
             |  FROM (
             |    SELECT lang, source, c,
             |      (('0x' || substr(md5('dp9:' || lang || ':' || source), 1, 8))::BIGINT
             |        % 1000000 + 0.5) / 1000000.0 AS u
             |    FROM cells))
             |SELECT lang, source, noisy FROM noised
             |WHERE noisy >= 10.0
             |ORDER BY lang, source""".stripMargin)),

    // Rolling-window anomaly flags (✚, time-series monitoring): per
    // user, each event's value is z-scored against its own trailing
    // history — a bounded 20-row frame ENDING BEFORE the current row
    // (the standard self-exclusion, so an outlier never suppresses its
    // own detection) — and rows with |z| > 3 after ≥10 observations
    // are flagged. The bounded-frame rolling statistic is the window
    // surface none of q11/q32/q41 exercise (all unbounded-preceding).
    //
    // Determinism: the frame's count / Σx / Σx² are EXACT (DECIMAL
    // sums of 2-dp values; the square is DECIMAL×DECIMAL, still
    // exact), and mean/variance/z are derived from those exact sums
    // in double — identical IEEE arithmetic on identical inputs, so
    // the |z| > 3 cut cannot flip on engine-side summation order
    // (unlike stddev_samp OVER, whose streaming accumulation is
    // engine-specific). Scale: one shuffle by user_id, frame state
    // bounded at 20 rows per partition cursor, flags collapse to the
    // anomaly set — nothing corpus-sized leaves the window stage.
    QueryDef("q149_rolling_anomaly",
      (s, d) => {
        val f = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(-20, -1)
        val dv = col("value").cast("decimal(12,2)")
        val base = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"),
            count(lit(1)).over(f).as("n_hist"),
            sum(dv).over(f).cast("double").as("sx"),
            sum(dv * dv).over(f).cast("double").as("sx2"))
          .where(col("n_hist") >= 10)
          .withColumn("mean", col("sx") / col("n_hist"))
          .withColumn("var",
            (col("sx2") - col("sx") * col("sx") / col("n_hist")) /
              (col("n_hist") - 1))
          .where(col("var") > 0)
          .withColumn("z", round((col("value") - col("mean")) / sqrt(col("var")), 6))
        base.where(abs(col("z")) > 3)
          .select("event_id", "user_id", "event_type", "value", "z")
          .orderBy("event_id")
      },
      Some(rollingAnomalyOracleSql)),

    // Referential-integrity + domain audit (✚, see integrityAudit):
    // two constraints genuinely fire on this corpus (257 childless
    // orders, 122 negative balances) and the rest must read EXACTLY
    // zero — the oracle proves both directions.
    QueryDef("q148_integrity_audit",
      (s, d) => integrityAudit(s, d),
      Some("""WITH checks AS (
             |  SELECT 'orders_customer_fk' AS "check",
             |    (SELECT count(*) FROM orders) AS n_rows,
             |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
             |       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_bad
             |  UNION ALL
             |  SELECT 'lineitem_orders_fk',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
             |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             |  UNION ALL
             |  SELECT 'customer_nation_fk',
             |    (SELECT count(*) FROM customer),
             |    (SELECT count(*) FROM customer c WHERE NOT EXISTS
             |       (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
             |  UNION ALL
             |  SELECT 'orders_without_lineitems',
             |    (SELECT count(*) FROM orders),
             |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
             |       (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
             |  UNION ALL
             |  SELECT 'lineitem_discount_range',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(*) FROM lineitem
             |     WHERE l_discount NOT BETWEEN 0.0 AND 0.1)
             |  UNION ALL
             |  SELECT 'lineitem_quantity_range',
             |    (SELECT count(*) FROM lineitem),
             |    (SELECT count(*) FROM lineitem
             |     WHERE l_quantity NOT BETWEEN 1.0 AND 50.0)
             |  UNION ALL
             |  SELECT 'customer_negative_acctbal',
             |    (SELECT count(*) FROM customer),
             |    (SELECT count(*) FROM customer WHERE c_acctbal < 0))
             |SELECT "check", n_rows, n_bad,
             |  round(CAST(n_bad AS DOUBLE) / n_rows, 6) AS bad_rate
             |FROM checks ORDER BY "check" """.stripMargin)),

    // SCD2 interval build (✚, temporal run-length encoding — the
    // "type 2 dimension" a feature store derives from an attribute
    // change stream): each user's event_type sequence collapses into
    // one row per RUN of consecutive equal values, carrying
    // [valid_from, valid_to) where valid_to is the NEXT run's start
    // (-1 sentinel for the open current run — the ts-coalesce parity
    // idiom). Change points are lag-based, island ids a running sum of
    // change flags — the gaps-and-islands shape q19 keys by idle gap,
    // keyed here by value change.
    //
    // Scale: ONE shuffle by user_id; the lag window, the running sum,
    // and the post-aggregation lead all reuse that partitioning
    // (per-user history bounded — the q19 contract); the interval
    // table is runs-sized, never events-sized.
    QueryDef("q150_scd2_intervals",
      (s, d) => {
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val runs = Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(byUser) === col("event_type"), 0L)
              .otherwise(1L))
          .withColumn("run_id", sum(col("chg")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        runs.groupBy("user_id", "run_id").agg(
            min(col("event_type")).as("event_type"),
            min(col("ts")).as("valid_from"),
            count(lit(1)).as("n_events"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(
            Window.partitionBy("user_id").orderBy("run_id")))
          .select(col("user_id"), col("run_id").as("seq"), col("event_type"),
            unix_micros(col("valid_from")).as("from_us"),
            coalesce(unix_micros(col("valid_to")), lit(-1L)).as("to_us"),
            col("n_events"))
          .orderBy("user_id", "seq")
      },
      Some("""WITH e AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(event_type) OVER w = event_type THEN 0 ELSE 1 END AS chg
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |r AS (
             |  SELECT user_id, ts, event_type,
             |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
             |  FROM e),
             |iv AS (
             |  SELECT user_id, run_id, min(event_type) AS event_type,
             |    min(ts) AS valid_from, count(*) AS n_events
             |  FROM r GROUP BY user_id, run_id)
             |SELECT user_id, CAST(run_id AS BIGINT) AS seq, event_type,
             |  epoch_us(valid_from) AS from_us,
             |  coalesce(epoch_us(lead(valid_from) OVER
             |    (PARTITION BY user_id ORDER BY run_id)), -1) AS to_us,
             |  n_events
             |FROM iv ORDER BY user_id, seq""".stripMargin)),

    // Chi-square independence test (✚, the categorical-association
    // statistic none of the profile gates compute): contingency table
    // of order priority × status, expected counts from the marginals,
    // per-cell contributions, and the χ² total + degrees of freedom on
    // every row. The cell grid is the CROSS PRODUCT of the observed
    // marginals — a zero cell (n=0, e>0) still contributes e, which a
    // plain groupBy would silently drop.
    //
    // Determinism: expected = rn·cn/N is an exact-integer product in
    // double division (both engines), contributions round@6 BEFORE the
    // total, and the total is an exact DECIMAL sum of the rounded
    // terms (the q140 discipline — no cross-engine summation-order
    // drift). Scale: ONE corpus scan collapses to the ≤|V1|·|V2|-cell
    // table (map-side partials), pinned once; every marginal,
    // expected, and total derives from those cells — the statistic
    // costs one aggregation regardless of corpus size.
    QueryDef("q152_chi_square",
      (s, d) => {
        val ct = Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("priority"),
                   col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n"))
          .transform(pin)
        val rt = ct.groupBy("priority").agg(sum("n").as("rn"))
        val colt = ct.groupBy("status").agg(sum("n").as("cn"))
        val tot = ct.agg(sum("n").as("nn"))
        val cells = rt.crossJoin(colt)
          .join(ct, Seq("priority", "status"), "left_outer")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("expected", (col("rn") * col("cn")) / col("nn"))
          .withColumn("contrib",
            round((col("n") - col("expected")) * (col("n") - col("expected"))
              / col("expected"), 6))
          .transform(pin)
        val chi2 = cells.agg(
          sum(col("contrib").cast("decimal(18,6)")).cast("double").as("chi2"))
        val dof = rt.agg(count(lit(1)).as("npr"))
          .crossJoin(broadcast(colt.agg(count(lit(1)).as("nst"))))
          .select(((col("npr") - 1) * (col("nst") - 1)).as("dof"))
        cells.select(col("priority"), col("status"), col("n"),
            round(col("expected"), 6).as("expected"), col("contrib"))
          .crossJoin(broadcast(chi2)).crossJoin(broadcast(dof))
          .orderBy("priority", "status")
      },
      Some("""WITH ct AS MATERIALIZED (
             |  SELECT o_orderpriority AS priority, o_orderstatus AS status,
             |         count(*) AS n
             |  FROM orders GROUP BY 1, 2),
             |rt AS (SELECT priority, CAST(sum(n) AS BIGINT) AS rn FROM ct GROUP BY 1),
             |colt AS (SELECT status, CAST(sum(n) AS BIGINT) AS cn FROM ct GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM ct),
             |cells AS MATERIALIZED (
             |  SELECT rt.priority, colt.status, coalesce(ct.n, 0) AS n,
             |    (rt.rn * colt.cn) / tot.nn AS expected
             |  FROM rt CROSS JOIN colt
             |  LEFT JOIN ct ON ct.priority = rt.priority AND ct.status = colt.status,
             |  tot),
             |c2 AS MATERIALIZED (
             |  SELECT priority, status, n, expected,
             |    round((n - expected) * (n - expected) / expected, 6) AS contrib
             |  FROM cells),
             |t AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS chi2
             |      FROM c2),
             |df AS (SELECT (SELECT count(*) - 1 FROM rt) *
             |              (SELECT count(*) - 1 FROM colt) AS dof)
             |SELECT priority, status, n, round(expected, 6) AS expected,
             |  contrib, t.chi2, df.dof
             |FROM c2, t, df ORDER BY priority, status""".stripMargin)),

    // Pearson correlation matrix in ONE pass (✚): every pairwise
    // correlation among the numeric columns from a single aggregation
    // — k sums, k sums-of-squares and k(k−1)/2 cross-products as
    // conditional aggregates over ONE scan; adding a column never adds
    // a pass. The unpivot to pair rows happens on the 1-row aggregate.
    //
    // Determinism: all sums are exact DECIMAL(12,2)/scale-4 values
    // cast to double only once (the q149 discipline), and corr is the
    // textbook (nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²)) evaluated in
    // the SAME IEEE order on both engines from those identical
    // doubles, rounded@6. Both the Spark branches and the oracle arms
    // are generated from corrCols — the sides cannot drift.
    QueryDef("q153_corr_matrix",
      (s, d) => {
        val cs = corrCols
        def dv(c: String) = col(c).cast("decimal(12,2)")
        val sumAggs = cs.map(c => sum(dv(c)).cast("double").as(s"s_$c"))
        val prodAggs = for { i <- cs.indices; j <- i until cs.length }
          yield sum(dv(cs(i)) * dv(cs(j))).cast("double").as(s"p_${i}_$j")
        val m = Tables.lineitem(s, d)
          .agg(count(lit(1)).as("nn"), (sumAggs ++ prodAggs): _*)
        val pairRows = for { i <- cs.indices; j <- (i + 1) until cs.length }
          yield {
            val (a, b) = (cs(i), cs(j))
            val n = col("nn").cast("double")
            val num = n * col(s"p_${i}_$j") - col(s"s_$a") * col(s"s_$b")
            val den = sqrt(
              (n * col(s"p_${i}_$i") - col(s"s_$a") * col(s"s_$a")) *
              (n * col(s"p_${j}_$j") - col(s"s_$b") * col(s"s_$b")))
            // + 0.0 = signed-zero guard (q351 class): a tiny negative
            // correlation rounds to -0.0 in DuckDB but +0.0 in Spark
            struct(lit(a).as("col_a"), lit(b).as("col_b"),
              col("nn").as("n"), (round(num / den, 6) + lit(0.0)).as("corr"))
          }
        m.select(explode(array(pairRows: _*)).as("r")).select("r.*")
          .orderBy("col_a", "col_b")
      },
      Some {
        val cs = corrCols
        val sums = cs.map(c =>
          s"CAST(sum(CAST($c AS DECIMAL(12,2))) AS DOUBLE) AS s_$c")
        val prods = for { i <- cs.indices; j <- i until cs.length } yield
          s"CAST(sum(CAST(${cs(i)} AS DECIMAL(12,2)) * CAST(${cs(j)} AS DECIMAL(12,2))) AS DOUBLE) AS p_${i}_$j"
        val arms = (for { i <- cs.indices; j <- (i + 1) until cs.length }
          yield {
            val (a, b) = (cs(i), cs(j))
            s"""SELECT '$a' AS col_a, '$b' AS col_b, nn AS n,
               |  round((CAST(nn AS DOUBLE)*p_${i}_$j - s_$a*s_$b) /
               |    sqrt((CAST(nn AS DOUBLE)*p_${i}_$i - s_$a*s_$a) *
               |         (CAST(nn AS DOUBLE)*p_${j}_$j - s_$b*s_$b)), 6) + 0.0 AS corr
               |FROM m""".stripMargin
          }).mkString("\nUNION ALL\n")
        s"""WITH m AS MATERIALIZED (
           |  SELECT count(*) AS nn,
           |    ${(sums ++ prods).mkString(",\n    ")}
           |  FROM lineitem)
           |$arms
           |ORDER BY col_a, col_b""".stripMargin
      }),

    // Time-RANGE window features (✚, the feature-store "trailing 1 h
    // aggregate as of each event"): per user, the count and exact sum
    // of values in the last hour BEFORE each event — a RANGE frame
    // over event time, the frame type nothing else exercises (q149's
    // ROWS frame counts rows; this bounds by TIME, so the frame
    // adapts to burstiness and excludes same-instant peers via the
    // 1-µs-preceding upper bound). Point-in-time correct by
    // construction: the frame ends strictly before the row's own
    // timestamp, so a feature can never see its own event.
    //
    // Determinism: frame membership depends only on VALUES (not row
    // order), the sum is exact DECIMAL cast to double once (the q149
    // discipline). Scale: one shuffle by user_id; the running frame is
    // a two-pointer pass over each user's sorted slice.
    QueryDef("q158_range_features",
      (s, d) => {
        val f = Window.partitionBy("user_id").orderBy(col("ts_us"))
          .rangeBetween(-3600000000L, -1L)
        Tables.events(s, d)
          .withColumn("ts_us", unix_micros(col("ts")))
          .select(col("event_id"), col("user_id"), col("ts_us"),
            count(lit(1)).over(f).as("n_1h"),
            coalesce(sum(col("value").cast("decimal(12,2)")).over(f)
              .cast("double"), lit(0.0)).as("sum_1h"))
          .orderBy("event_id")
      },
      Some(rangeFeaturesOracleSql)),

    // Population-stability index (✚, the ML-monitoring drift metric
    // the q140 token-JSD doesn't cover — PSI compares a NUMERIC
    // feature's distribution between two segments over fixed bins):
    // 10 equal-width bins from a catalog-stats bounds pass (the q141
    // discipline), per-bin (pa−pb)·ln(pa/pb) with the standard 1e-6
    // floor against empty cells, contributions round@6 BEFORE the
    // exact DECIMAL total (the q140 discipline). Scale: one bounds
    // aggregate + one binned count aggregate (map-side partials to
    // ≤10 groups); 1-row totals broadcast — nothing corpus-sized
    // shuffles.
    QueryDef("q165_psi_drift",
      (s, d) => {
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("view", "click"))
          .select(col("event_type").as("seg"), col("value").as("v"))
          .transform(pin)
        val bounds = ev.agg(min("v").as("lo"), max("v").as("hi"))
        val counts = ev.crossJoin(broadcast(bounds))
          .withColumn("bin", least(
            floor((col("v") - col("lo")) / ((col("hi") - col("lo")) / 10.0)),
            lit(9.0)).cast("long"))
          .groupBy("bin").agg(
            sum(when(col("seg") === "view", 1L).otherwise(0L)).as("na"),
            sum(when(col("seg") === "click", 1L).otherwise(0L)).as("nb"))
          .transform(pin)
        val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"))
        val terms = counts.crossJoin(broadcast(tot))
          .withColumn("pa",
            greatest(col("na").cast("double") / col("ta"), lit(1e-6)))
          .withColumn("pb",
            greatest(col("nb").cast("double") / col("tb"), lit(1e-6)))
          .withColumn("contrib",
            round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 6))
          .transform(pin)
        val total = terms.agg(
          sum(col("contrib").cast("decimal(18,6)")).cast("double").as("psi_total"))
        terms.select(col("bin"), col("na"), col("nb"), col("contrib"))
          .crossJoin(broadcast(total))
          .orderBy("bin")
      },
      Some("""WITH ev AS MATERIALIZED (
             |  SELECT event_type AS seg, value AS v FROM events
             |  WHERE event_type IN ('view', 'click')),
             |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM ev),
             |counts AS MATERIALIZED (
             |  SELECT least(floor((v - lo) / ((hi - lo) / 10.0)), 9.0)::BIGINT AS bin,
             |    CAST(sum(CASE WHEN seg = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             |    CAST(sum(CASE WHEN seg = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS nb
             |  FROM ev, bounds GROUP BY 1),
             |tot AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             |               CAST(sum(nb) AS BIGINT) AS tb FROM counts),
             |terms AS MATERIALIZED (
             |  SELECT bin, na, nb,
             |    round((greatest(CAST(na AS DOUBLE) / ta, 1e-6) -
             |           greatest(CAST(nb AS DOUBLE) / tb, 1e-6)) *
             |          ln(greatest(CAST(na AS DOUBLE) / ta, 1e-6) /
             |             greatest(CAST(nb AS DOUBLE) / tb, 1e-6)), 6) AS contrib
             |  FROM counts, tot),
             |t AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(18,6))) AS DOUBLE) AS psi_total
             |      FROM terms)
             |SELECT bin, na, nb, contrib, psi_total
             |FROM terms, t ORDER BY bin""".stripMargin)),

    // Keyed pseudonymization with referential integrity (✚, the
    // privacy step q109's in-text scrub doesn't cover — KEY columns:
    // before a corpus leaves its trust boundary, user identifiers are
    // replaced by salted deterministic tokens so the SAME user maps to
    // the SAME token in EVERY table and downstream joins still work,
    // while the raw id is unrecoverable without the salt). The gate
    // tokenizes events.user_id and customer.c_custkey with one shared
    // salt and proves (a) the segment-level enrichment join over
    // tokens returns the exact row counts of the raw-key join, and
    // (b) tokenization is injective on this corpus (distinct users ==
    // distinct tokens — the collision audit). Scale: tokenization is
    // per-row narrow hashing; both joins broadcast the dimension; the
    // audit aggregates are map-side combined.
    QueryDef("q173_pseudonymize",
      (s, d) => {
        def tok(c: org.apache.spark.sql.Column) =
          substring(md5(concat(lit("gr-salt-1:"), c.cast("string"))), 1, 16)
        val ev = Tables.events(s, d)
        val cu = Tables.customer(s, d)
        val raw = ev.join(broadcast(cu), col("user_id") === col("c_custkey"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_raw"))
        val evT = ev.select(tok(col("user_id")).as("ut"))
        val cuT = cu.select(tok(col("c_custkey")).as("ct"), col("c_mktsegment"))
        val tokJ = evT.join(broadcast(cuT), col("ut") === col("ct"))
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n_tok"))
        val audit = ev.agg(
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(tok(col("user_id"))).as("n_tokens"))
        raw.join(tokJ, "c_mktsegment")
          .crossJoin(broadcast(audit))
          .select(col("c_mktsegment"), col("n_raw"), col("n_tok"),
            col("n_users"), col("n_tokens"))
          .orderBy("c_mktsegment")
      },
      Some("""WITH raw AS (
             |  SELECT c_mktsegment, count(*) AS n_raw
             |  FROM events JOIN customer ON user_id = c_custkey
             |  GROUP BY c_mktsegment),
             |evt AS (SELECT substr(md5('gr-salt-1:' || CAST(user_id AS VARCHAR)), 1, 16) AS ut
             |        FROM events),
             |cut AS (SELECT substr(md5('gr-salt-1:' || CAST(c_custkey AS VARCHAR)), 1, 16) AS ct,
             |               c_mktsegment
             |        FROM customer),
             |tokj AS (
             |  SELECT c_mktsegment, count(*) AS n_tok
             |  FROM evt JOIN cut ON ut = ct GROUP BY c_mktsegment),
             |audit AS (
             |  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |    CAST(count(DISTINCT substr(md5('gr-salt-1:' || CAST(user_id AS VARCHAR)), 1, 16)) AS BIGINT)
             |      AS n_tokens
             |  FROM events)
             |SELECT c_mktsegment, n_raw, n_tok, n_users, n_tokens
             |FROM raw JOIN tokj USING (c_mktsegment), audit
             |ORDER BY c_mktsegment""".stripMargin)),

    // Interval union / coverage (✚, the sweep-line kernel behind
    // dwell-time, uptime and SLA math: each event opens a 5-minute
    // activity interval; overlapping intervals merge, and the answer
    // is each user's TOTAL COVERED time — naive sum(duration) double-
    // counts every overlap). Islands form with one ordered window pass
    // (an interval starts a new island iff it begins after the running
    // max end of everything before it — the q150 value-change-island
    // discipline applied to time geometry), then two bounded
    // aggregates roll islands up. All arithmetic is integer
    // microseconds. Scale: windows and aggregates are all PARTITIONED
    // by user_id — one shuffle, no global ordering anywhere.
    QueryDef("q178_interval_union",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val span = 300000000L // 5 min in µs
        val prevF = Window.partitionBy("user_id").orderBy("st", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val runF = Window.partitionBy("user_id").orderBy("st", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("st"),
            (unix_micros(col("ts")) + span).as("en"))
          .withColumn("prev_max_en", max("en").over(prevF))
          .withColumn("new_island",
            when(col("prev_max_en").isNull ||
              col("st") > col("prev_max_en"), 1L).otherwise(0L))
          .withColumn("island", sum("new_island").over(runF))
          .groupBy("user_id", "island")
          .agg(min("st").as("ist"), max("en").as("ien"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("ien") - col("ist")).as("covered_us"))
          .orderBy("user_id")
      },
      Some(intervalUnionOracleSql)),

    // Per-group OLS trend (✚, the segment-level drift line: value vs
    // hour-of-day fitted independently inside every event type — the
    // grouped twin of q171's corpus-level fit, and the shape behind
    // "is this segment's metric drifting with time-of-day?"). The
    // regressors are exact: x is an integer hour, y a DECIMAL(12,2)
    // view of value, so every OLS sum (Σx, Σy, Σxy, Σx², n) is exact
    // DECIMAL/integer arithmetic — no per-term rounding needed at
    // all; the only doubles are the closed-form divisions of
    // identical exact operands, rounded@6. Scale: ONE map-side-
    // combined aggregate to ≤ #event-types rows; no window, no join.
    QueryDef("q179_grouped_regression",
      (s, d) => {
        val x = hour(col("ts")).cast("long")
        val y = QueryDef.dec(col("value"))
        Tables.events(s, d)
          .select(col("event_type"), x.as("x"), y.as("y"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("x")).cast("double").as("sx"),
            sum(col("y")).cast("double").as("sy"),
            sum(col("y") * col("x")).cast("double").as("sxy"),
            sum(col("x") * col("x")).cast("double").as("sxx"))
          .select(col("event_type"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
            round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
              (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
              col("n"), 6).as("intercept"))
          .orderBy("event_type")
      },
      Some("""WITH t AS (
             |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
             |    CAST(value AS DECIMAL(12,2)) AS y
             |  FROM events),
             |s AS (
             |  SELECT event_type, count(*) AS n,
             |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |    CAST(sum(y * x) AS DOUBLE) AS sxy,
             |    CAST(sum(x * x) AS DOUBLE) AS sxx
             |  FROM t GROUP BY event_type)
             |SELECT event_type, n,
             |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
             |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6)
             |    AS intercept
             |FROM s ORDER BY event_type""".stripMargin)),

    // SCD2 point-in-time lookup (✚, the read side of q150's build —
    // the warehouse pattern "which version of the dimension was
    // current when this fact happened": error events probe the state
    // intervals the OTHER event types define for the same user).
    // The join is equi-keyed on user_id with a half-open interval
    // predicate on the probe timestamp — a hash join plus filter, not
    // a range-only join, so it scales as an ordinary co-partitioned
    // join; intervals partition each user's timeline, so every probe
    // lands in ≤1 interval, and pre-first-state probes surface with
    // -1 sentinels (left join, never dropped rows). One window pass
    // builds the intervals (the q150 shape), one shuffle joins.
    QueryDef("q182_scd2_lookup",
      (s, d) => {
        val stateTypes = Seq("view", "click", "purchase", "signup")
        val byUser = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val runs = Tables.events(s, d)
          .where(col("event_type").isin(stateTypes: _*))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("chg",
            when(lag(col("event_type"), 1).over(byUser) === col("event_type"), 0L)
              .otherwise(1L))
          .withColumn("run_id", sum(col("chg")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val iv = runs.groupBy("user_id", "run_id")
          .agg(min(col("event_type")).as("state"),
            unix_micros(min(col("ts"))).as("from_us"))
          .withColumn("to_us", coalesce(lead(col("from_us"), 1).over(
            Window.partitionBy("user_id").orderBy("run_id")), lit(Long.MaxValue)))
          .select(col("user_id").as("iv_user"), col("run_id").as("seq"),
            col("state"), col("from_us"), col("to_us"))
        Tables.events(s, d).where(col("event_type") === "error")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("ts_us"))
          .join(iv, col("user_id") === col("iv_user") &&
            col("ts_us") >= col("from_us") && col("ts_us") < col("to_us"),
            "left")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            coalesce(col("state"), lit("none")).as("state"),
            coalesce(col("seq"), lit(-1L)).as("state_seq"),
            coalesce(col("from_us"), lit(-1L)).as("state_from_us"))
          .orderBy("event_id")
      },
      Some("""WITH st AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CASE WHEN lag(event_type) OVER w = event_type THEN 0 ELSE 1 END AS chg
             |  FROM events
             |  WHERE event_type IN ('view', 'click', 'purchase', 'signup')
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |r AS (
             |  SELECT user_id, ts, event_type,
             |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
             |  FROM st),
             |iv AS (
             |  SELECT user_id, CAST(run_id AS BIGINT) AS seq,
             |    min(event_type) AS state,
             |    epoch_us(min(ts)) AS from_us,
             |    coalesce(lead(epoch_us(min(ts))) OVER
             |      (PARTITION BY user_id ORDER BY run_id),
             |      9223372036854775807) AS to_us
             |  FROM r GROUP BY user_id, run_id),
             |probe AS (
             |  SELECT event_id, user_id, epoch_us(ts) AS ts_us
             |  FROM events WHERE event_type = 'error')
             |SELECT p.event_id, p.user_id, p.ts_us,
             |  coalesce(iv.state, 'none') AS state,
             |  coalesce(iv.seq, -1) AS state_seq,
             |  coalesce(iv.from_us, -1) AS state_from_us
             |FROM probe p LEFT JOIN iv
             |  ON iv.user_id = p.user_id
             |  AND p.ts_us >= iv.from_us AND p.ts_us < iv.to_us
             |ORDER BY p.event_id""".stripMargin)),

    // Functional-dependency audit (✚, the schema-inference half of
    // data profiling q110 doesn't cover: does A determine B in this
    // corpus, and if not, how badly is the dependency violated?).
    // Each candidate FD is one distinct-pair aggregation: a
    // determinant value violates iff it maps to >1 dependent value;
    // violation mass counts the rows outside each determinant's
    // majority choice (the repair cost). Branches union into one
    // result — adding a candidate FD adds one bounded aggregation,
    // never a wider scan. Scale: per-FD, the heavy reduction is the
    // map-side-combined (det, dep) count; everything after operates
    // on distinct pairs.
    QueryDef("q183_fd_audit",
      (s, d) => {
        val docs = Tables.documents(s, d)
        def fd(name: String, det: String, dep: String): org.apache.spark.sql.DataFrame = {
          val pairs = docs.groupBy(col(det).as("dv"), col(dep).as("pv"))
            .agg(count(lit(1)).as("c"))
          val perDet = pairs.groupBy("dv").agg(
            count(lit(1)).as("n_dep"), sum("c").as("rows"), max("c").as("keep"))
          perDet.agg(
            count(lit(1)).as("n_det"),
            sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"),
            sum(when(col("n_dep") > 1, col("rows") - col("keep"))
              .otherwise(0L)).as("repair_rows"))
            .withColumn("fd", lit(name))
        }
        fd("lang->source", "lang", "source")
          .unionByName(fd("source->lang", "source", "lang"))
          .unionByName(fd("n_chars->lang", "n_chars", "lang"))
          .select("fd", "n_det", "n_violating", "repair_rows")
          .orderBy("fd")
      },
      Some {
        def fdSql(name: String, det: String, dep: String) =
          s"""SELECT '$name' AS fd, count(*) AS n_det,
             |  CAST(sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating,
             |  CAST(sum(CASE WHEN n_dep > 1 THEN rws - keep ELSE 0 END) AS BIGINT)
             |    AS repair_rows
             |FROM (
             |  SELECT dv, count(*) AS n_dep, sum(c) AS rws, max(c) AS keep
             |  FROM (SELECT $det AS dv, $dep AS pv, count(*) AS c
             |        FROM documents GROUP BY 1, 2) p
             |  GROUP BY dv) g""".stripMargin
        s"""${fdSql("lang->source", "lang", "source")}
           |UNION ALL
           |${fdSql("source->lang", "source", "lang")}
           |UNION ALL
           |${fdSql("n_chars->lang", "n_chars", "lang")}
           |ORDER BY fd""".stripMargin
      }),

    // Bipartite co-occurrence projection (✚, market-basket / co-purchase):
    // project the order→part bipartite graph onto parts — weight(a,b) =
    // number of DISTINCT orders containing both — keeping pairs with
    // weight >= 3, top-50 by (weight desc, a, b). The self-join is keyed
    // by the ORDER (the basket): pairs per basket are C(k,2) with k the
    // basket size, so cost is Σ C(k,2) — bounded by the basket-size cap,
    // NOT by n². The cap (k <= 20, counted and excluded, never silently)
    // is the standard defense against the one pathological mega-basket
    // that would otherwise emit C(10⁶,2) pairs from a single key at
    // 100 TB; TPC-H baskets are <= 7 so nothing is dropped here, but the
    // guard is load-bearing at scale and its effect is observable (the
    // oracle applies the same cap).
    QueryDef("q200_copurchase",
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        val sizes = li.groupBy("l_orderkey").agg(count(lit(1)).as("k"))
        val small = li.join(sizes.where(col("k") <= 20), "l_orderkey")
        val a = small.select(col("l_orderkey"), col("l_partkey").as("pa"))
        val b = small.select(col("l_orderkey"), col("l_partkey").as("pb"))
        a.join(b, "l_orderkey").where(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
          .where(col("w") >= 3)
          .orderBy(col("w").desc, col("pa"), col("pb"))
          .limit(50)
      },
      Some("""WITH li AS (
             |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |sizes AS (
             |  SELECT l_orderkey, COUNT(*) AS k FROM li GROUP BY 1),
             |small AS (
             |  SELECT li.l_orderkey, li.l_partkey FROM li
             |  JOIN sizes ON li.l_orderkey = sizes.l_orderkey AND sizes.k <= 20)
             |SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
             |FROM small a JOIN small b
             |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |GROUP BY 1, 2 HAVING COUNT(*) >= 3
             |ORDER BY w DESC, pa, pb LIMIT 50""".stripMargin)),

    // Association rules over q200's co-occurrence pairs (✚, the
    // market-basket DIRECTED upgrade: a pair weight says a and b
    // co-occur; the rule a→b adds how predictive a is of b —
    // confidence w/n_a — and whether that beats chance — lift
    // w·N/(n_a·n_b)). Everything upstream of the final two divisions
    // is exact BIGINT counting: basket-capped pair counts (Σ C(k,2)
    // cost bound, k ≤ 20), per-item basket counts, the global basket
    // count attached as a 1-row broadcast stat. At sf the integer
    // products w·N and n_a·n_b sit far inside BIGINT; a 100 TB run
    // with trillions of baskets promotes the two products to
    // DECIMAL(38,0) — same plan shape, noted here so the cast isn't
    // rediscovered in an overflow incident. Output: top-50 rules by
    // (lift desc, a, b), both directions of each pair considered.
    QueryDef("q238_assoc_rules",
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_partkey").distinct()
        val sizes = li.groupBy("l_orderkey").agg(count(lit(1)).as("k"))
        val small = li.join(sizes.where(col("k") <= 20), "l_orderkey")
          .transform(pin)
        val nb = small.select("l_orderkey").distinct().count()
        val ic = small.groupBy(col("l_partkey")).agg(count(lit(1)).as("ni"))
        val a = small.select(col("l_orderkey"), col("l_partkey").as("pa"))
        val b = small.select(col("l_orderkey"), col("l_partkey").as("pb"))
        val pairs = a.join(b, "l_orderkey").where(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("w"))
          .where(col("w") >= 3)
        val rules = pairs.select(col("pa").as("ante"), col("pb").as("cons"), col("w"))
          .unionByName(pairs.select(col("pb").as("ante"), col("pa").as("cons"), col("w")))
        rules
          .join(ic.select(col("l_partkey").as("ante"), col("ni").as("na")), "ante")
          .join(ic.select(col("l_partkey").as("cons"), col("ni").as("nc")), "cons")
          .select(col("ante"), col("cons"), col("w"),
            round(col("w").cast("double") / col("na"), 6).as("conf"),
            round((col("w") * nb).cast("double") / (col("na") * col("nc")), 6)
              .as("lift"))
          .orderBy(col("lift").desc, col("ante"), col("cons"))
          .limit(50)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
             |sizes AS (SELECT l_orderkey, COUNT(*) AS k FROM li GROUP BY 1),
             |small AS (SELECT li.l_orderkey, li.l_partkey FROM li
             |  JOIN sizes ON li.l_orderkey = sizes.l_orderkey AND sizes.k <= 20),
             |nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM small),
             |ic AS (SELECT l_partkey, COUNT(*) AS ni FROM small GROUP BY 1),
             |pairs AS (
             |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
             |  FROM small a JOIN small b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
             |rules AS (
             |  SELECT pa AS ante, pb AS cons, w FROM pairs
             |  UNION ALL SELECT pb, pa, w FROM pairs)
             |SELECT r.ante, r.cons, r.w,
             |  round(CAST(r.w AS DOUBLE) / x.ni, 6) AS conf,
             |  round(CAST(r.w * nb.n AS DOUBLE) / (x.ni * y.ni), 6) AS lift
             |FROM rules r
             |JOIN ic x ON x.l_partkey = r.ante
             |JOIN ic y ON y.l_partkey = r.cons
             |CROSS JOIN nb
             |ORDER BY lift DESC, ante, cons LIMIT 50""".stripMargin)),

    // Frame-bounded exponential smoothing (✚): EWMA over the last 12
    // five-minute buckets per event_type, weights (1-α)^j normalized
    // over the frame actually present (edges use fewer terms). The
    // UNBOUNDED recursive EWMA (s_t = αx_t + (1-α)s_{t-1}) cannot run
    // distributed without a sequential scan per key AND overflows any
    // (1/(1-α))^t rescaling trick after a few thousand steps; the
    // frame-bounded form is the scale-correct twin: (1-α)^12 < 2% of
    // the mass is truncated, and partitioning is by event_type. The
    // frame is a 12-term lag() chain, NOT collect_list-over-frame —
    // the plan materializes no per-group array (PlanSpec's suite-wide
    // collect_list ban), and the chain folds oldest→newest with
    // literal 0.7^j weights so the float op order matches the oracle's
    // oldest-first list fold exactly (missing lags contribute +0.0 —
    // an IEEE identity); round(5) absorbs the engines' pow drift.
    QueryDef("q201_ewma",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("b")
        val bucketed = Tables.events(s, d)
          .groupBy(col("event_type"),
            window(col("ts"), "5 minutes").getField("start").as("b"))
          .agg(QueryDef.dsum(col("value")).as("v"))
        // oldest term first (j = 11 … 0), exactly the oracle's order
        val num = (11 to 0 by -1).map { j =>
          coalesce(lag(col("v"), j).over(W) * pow(lit(0.7), lit(j.toDouble)),
            lit(0.0))
        }.reduce(_ + _)
        val den = (11 to 0 by -1).map { j =>
          when(lag(col("v"), j).over(W).isNotNull,
            pow(lit(0.7), lit(j.toDouble))).otherwise(lit(0.0))
        }.reduce(_ + _)
        bucketed
          .withColumn("ewma", round(num / den, 5))
          .select(col("event_type"), col("b"), round(col("v"), 2).as("v"), col("ewma"))
          .orderBy("event_type", "b")
      },
      Some("""WITH bucketed AS (
             |  SELECT event_type,
             |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
             |  FROM events GROUP BY 1, 2),
             |fr AS (
             |  SELECT event_type, b, v,
             |    list(v) OVER (PARTITION BY event_type ORDER BY b
             |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS fr
             |  FROM bucketed)
             |SELECT event_type, b, round(v, 2) AS v,
             |  round(
             |    list_sum(list_transform(range(1, len(fr) + 1),
             |      i -> fr[i] * pow(0.7, CAST(len(fr) - i AS DOUBLE)))) /
             |    list_sum(list_transform(range(1, len(fr) + 1),
             |      i -> pow(0.7, CAST(len(fr) - i AS DOUBLE)))), 5) AS ewma
             |FROM fr ORDER BY event_type, b""".stripMargin)),

    // Histogram join-cardinality estimation (✚, the optimizer-side twin
    // of q163's CMS estimator): predict the size of the lineitem ⋈
    // lineitem self-join on l_suppkey from a 64-bucket equi-width
    // histogram — est = Σ_b n_b²/d_b (uniformity within bucket) — and
    // report it against the exact Σ_s f(s)², WITHOUT materializing the
    // 360M-row join either way. This is the arithmetic a planner runs
    // before choosing broadcast vs shuffle vs skew-salting; the audit
    // shape (estimate next to ground truth) is how its error gets
    // monitored in production. Scale: two aggregations over one pruned
    // column; the histogram is 64 rows; nothing joins.
    QueryDef("q203_hist_join_estimate",
      (s, d) => {
        val li = Tables.lineitem(s, d).select("l_suppkey")
        val bounds = li.agg(min("l_suppkey").as("lo"),
          (max("l_suppkey") + 1).as("hi"))
        // floor() explicitly: Spark's double→int cast truncates while
        // DuckDB's ROUNDS — floor on both sides is the only portable form
        val b = li.crossJoin(broadcast(bounds))
          .withColumn("b", floor((col("l_suppkey") - col("lo")) * 64 /
            (col("hi") - col("lo"))).cast("int"))
        val hist = b.groupBy("b").agg(count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("dv"))
        val est = hist.agg(
          sum((col("n") * col("n") / col("dv")).cast("long")).as("est_rows"))
        val actual = li.groupBy("l_suppkey").agg(count(lit(1)).as("f"))
          .agg(sum(col("f") * col("f")).as("actual_rows"))
        est.crossJoin(actual)
          .select(col("est_rows"), col("actual_rows"),
            round(abs(col("est_rows") - col("actual_rows")).cast("double") /
              col("actual_rows"), 6).as("rel_err"))
      },
      Some("""WITH li AS (SELECT l_suppkey FROM lineitem),
             |bounds AS (SELECT MIN(l_suppkey) AS lo, MAX(l_suppkey) + 1 AS hi FROM li),
             |hist AS (
             |  SELECT CAST(floor((l_suppkey - lo) * 64 / (hi - lo)) AS INT) AS b,
             |    COUNT(*) AS n, COUNT(DISTINCT l_suppkey) AS dv
             |  FROM li, bounds GROUP BY 1),
             |est AS (SELECT CAST(SUM(CAST(n * n / dv AS BIGINT)) AS BIGINT) AS est_rows FROM hist),
             |act AS (
             |  SELECT CAST(SUM(f * f) AS BIGINT) AS actual_rows FROM (
             |    SELECT COUNT(*) AS f FROM li GROUP BY l_suppkey) t)
             |SELECT est.est_rows, act.actual_rows,
             |  round(CAST(abs(est.est_rows - act.actual_rows) AS DOUBLE)
             |    / act.actual_rows, 6) AS rel_err
             |FROM est, act""".stripMargin)),

    // Zone-map pruning audit (✚, the data-skipping effectiveness
    // measure behind every lake layout decision — q117 WRITES a z-order
    // layout; this measures what a layout buys): lay lineitem into 64
    // shipdate-ordered files via the two-phase global rank (never a
    // single-task sort), compute each file's (min, max) shipdate zone
    // map, and report how many files a Q1-1996 range predicate skips
    // and how much of the scanned data actually matches. files_skipped/
    // n_files is the fraction of a 100 TB scan the layout eliminates
    // BEFORE any I/O; rows_matching/rows_scanned is the residual filter
    // selectivity inside surviving files. Scale: the zone-map table is
    // 64 rows; the audit aggregates once over the ranked lineage.
    QueryDef("q204_zonemap_audit",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        val ranked = Scale.globalRowNumber(li,
          Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
        val n = ranked.agg(count(lit(1)).as("nn"))
        val filed = ranked.crossJoin(broadcast(n))
          .withColumn("file",
            floor((col("rn") - 1) * 64 / col("nn")).cast("int"))
        val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
        val hi = lit(java.sql.Timestamp.valueOf("1996-03-31 23:59:59"))
        val zones = filed.groupBy("file").agg(
          min("l_shipdate").as("zmin"), max("l_shipdate").as("zmax"),
          count(lit(1)).as("rows"),
          sum(when(col("l_shipdate").between(lo, hi), 1L).otherwise(0L))
            .as("match_rows"))
        zones.agg(
          count(lit(1)).as("n_files"),
          sum(when(col("zmax") < lo || col("zmin") > hi, 1L).otherwise(0L))
            .as("files_skipped"),
          sum(when(col("zmax") >= lo && col("zmin") <= hi, col("rows"))
            .otherwise(0L)).as("rows_scanned"),
          sum(col("match_rows")).as("rows_matching"))
          .select(col("n_files"), col("files_skipped"), col("rows_scanned"),
            col("rows_matching"),
            round(col("files_skipped").cast("double") / col("n_files"), 6)
              .as("skip_ratio"))
      },
      Some("""WITH ranked AS (
             |  SELECT l_shipdate,
             |    ROW_NUMBER() OVER (ORDER BY l_shipdate, l_orderkey,
             |      l_linenumber) AS rn
             |  FROM lineitem),
             |nn AS (SELECT COUNT(*) AS nn FROM ranked),
             |filed AS (
             |  SELECT l_shipdate, CAST(((rn - 1) * 64) // nn.nn AS INT) AS file
             |  FROM ranked, nn),
             |zones AS (
             |  SELECT file, MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax,
             |    COUNT(*) AS rows_,
             |    SUM(CASE WHEN l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
             |      AND TIMESTAMP '1996-03-31 23:59:59' THEN 1 ELSE 0 END)
             |      AS match_rows
             |  FROM filed GROUP BY file)
             |SELECT COUNT(*) AS n_files,
             |  CAST(SUM(CASE WHEN zmax < TIMESTAMP '1996-01-01 00:00:00'
             |    OR zmin > TIMESTAMP '1996-03-31 23:59:59' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS files_skipped,
             |  CAST(SUM(CASE WHEN zmax >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND zmin <= TIMESTAMP '1996-03-31 23:59:59' THEN rows_
             |    ELSE 0 END) AS BIGINT) AS rows_scanned,
             |  CAST(SUM(match_rows) AS BIGINT) AS rows_matching,
             |  round(CAST(SUM(CASE WHEN zmax < TIMESTAMP '1996-01-01 00:00:00'
             |    OR zmin > TIMESTAMP '1996-03-31 23:59:59' THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*), 6) AS skip_ratio
             |FROM zones""".stripMargin)),

    // Delete-group jackknife confidence intervals (✚, sampling-error
    // bars for any corpus statistic without distributional assumptions
    // — the "how sure are we" column a 100 TB profiling report needs
    // next to every mean): 10 deterministic md5 folds, leave-one-out
    // means, SE = sqrt((g-1)/g · Σ(mean_i − mean̄)²). One aggregation
    // to (group × fold) partials — g·groups rows — then driver-scale
    // arithmetic; the corpus is scanned ONCE. Decimal partial sums keep
    // both engines' summation order-independent; round(6) guards the
    // final float formatting.
    QueryDef("q205_jackknife_ci",
      (s, d) => {
        val o = Tables.orders(s, d)
          .withColumn("fold",
            (conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
              .cast("long") % 10).cast("int"))
        val parts = o.groupBy("o_orderpriority", "fold").agg(
          sum(QueryDef.dec(col("o_totalprice"))).as("s"),
          count(lit(1)).as("c"))
        val tot = parts.groupBy("o_orderpriority").agg(
          sum("s").as("st"), sum("c").as("ct"))
        // q171's determinism pattern: per-fold doubles are bit-identical
        // on both engines (decimal arithmetic → one cast), so round@9 →
        // DECIMAL partial sums make the aggregation order-independent;
        // the SE then computes in one fixed scalar expression.
        val dec9 = (c: org.apache.spark.sql.Column) =>
          round(c, 9).cast("decimal(30,9)")
        // double/double division (numerator decimal→double is correctly
        // rounded on both engines): DECIMAL division scale rules differ
        // between Spark and DuckDB and can disagree inside round@6
        val loo = parts.join(tot, "o_orderpriority")
          .select(col("o_orderpriority"), col("st"), col("ct"),
            ((col("st") - col("s")).cast("double") /
              (col("ct") - col("c")).cast("double")).as("m_i"))
        val sums = loo.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("g"),
            first(col("st").cast("double") / col("ct").cast("double"))
              .as("mean_all"),
            sum(dec9(col("m_i"))).cast("double").as("sx"),
            sum(dec9(col("m_i") * col("m_i"))).cast("double").as("sxx"))
        val gD = col("g").cast("double")
        sums.select(col("o_orderpriority"),
            round(col("mean_all"), 6).as("mean_price"),
            round(sqrt(((gD - 1) / gD) *
              (col("sxx") - col("sx") * col("sx") / gD)), 6).as("jack_se"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH o AS (
             |  SELECT o_orderpriority, o_totalprice,
             |    CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
             |      AS BIGINT) % 10 AS INT) AS fold
             |  FROM orders),
             |parts AS (
             |  SELECT o_orderpriority, fold,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s, COUNT(*) AS c
             |  FROM o GROUP BY 1, 2),
             |tot AS (
             |  SELECT o_orderpriority, SUM(s) AS st, SUM(c) AS ct
             |  FROM parts GROUP BY 1),
             |loo AS (
             |  SELECT p.o_orderpriority, t.st, t.ct,
             |    CAST(t.st - p.s AS DOUBLE) / CAST(t.ct - p.c AS DOUBLE) AS m_i
             |  FROM parts p JOIN tot t USING (o_orderpriority)),
             |sums AS (
             |  SELECT o_orderpriority, COUNT(*) AS g,
             |    MAX(CAST(st AS DOUBLE) / CAST(ct AS DOUBLE)) AS mean_all,
             |    CAST(SUM(CAST(round(m_i, 9) AS DECIMAL(30,9))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(round(m_i * m_i, 9) AS DECIMAL(30,9))) AS DOUBLE)
             |      AS sxx
             |  FROM loo GROUP BY o_orderpriority)
             |SELECT o_orderpriority,
             |  round(mean_all, 6) AS mean_price,
             |  round(sqrt(((CAST(g AS DOUBLE) - 1) / CAST(g AS DOUBLE)) *
             |    (sxx - sx * sx / CAST(g AS DOUBLE))), 6) AS jack_se
             |FROM sums ORDER BY o_orderpriority""".stripMargin)),

    // Gap interpolation (✚, q59's gap-fill upgraded from zero-fill to
    // LINEAR interpolation with edge LOCF/NOCB — the resample step a
    // metrics pipeline actually wants: zeros fabricate collapses where
    // data was merely missing): dense 5-minute grid per event_type;
    // interior gaps interpolate between the bracketing known buckets,
    // leading/trailing gaps carry the nearest known value. The
    // prev/next carriers are IGNORE NULLS window lookups over the grid
    // — per-type time-ordered partitions, no joins, no grid-squared
    // anything; at 100 TB the grid stays bounded by span·types while
    // events partial-aggregate before touching it.
    QueryDef("q206_interpolate",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(col("event_type"),
            window(col("ts"), "5 minutes").getField("start").as("b"),
            col("value"))
        val known = ev.groupBy("event_type", "b")
          .agg(QueryDef.dsum(col("value")).as("v"))
        val bounds = ev.agg(min(col("b")).as("lo"), max(col("b")).as("hi"))
        val grid = bounds
          .crossJoin(ev.select("event_type").distinct())
          .select(col("event_type"),
            explode(sequence(col("lo"), col("hi"), expr("INTERVAL 5 MINUTES"))).as("b"))
        val joined = grid.join(known, Seq("event_type", "b"), "left")
          .withColumn("t", unix_micros(col("b")))
        val wPrev = W.partitionBy("event_type").orderBy("t")
          .rowsBetween(W.unboundedPreceding, W.currentRow)
        val wNext = W.partitionBy("event_type").orderBy("t")
          .rowsBetween(W.currentRow, W.unboundedFollowing)
        val kn = when(col("v").isNotNull, struct(col("t").as("kt"), col("v").as("kv")))
        joined
          .withColumn("pv", last(kn, ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(kn, ignoreNulls = true).over(wNext))
          .withColumn("filled", when(col("v").isNotNull, col("v"))
            .when(col("pv").isNull, col("nv.kv"))
            .when(col("nv").isNull, col("pv.kv"))
            .otherwise(col("pv.kv") + (col("nv.kv") - col("pv.kv")) *
              (col("t") - col("pv.kt")) / (col("nv.kt") - col("pv.kt"))))
          .select(col("event_type"), col("b"),
            col("v").isNotNull.as("observed"),
            // floor-based 5-dp rounding, NOT round(): interpolating 2-dp
            // sums at small-rational time fractions lands on .5 digit-6
            // boundaries constantly, where Spark's BigDecimal HALF_UP
            // (decimal-string) and DuckDB's multiply-based round diverge;
            // floor(x·1e5 + 0.5)/1e5 is the same IEEE ops on both engines
            (floor(col("filled") * 100000.0 + 0.5) / 100000.0).as("filled"))
          .orderBy("event_type", "b")
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b,
             |    value
             |  FROM events),
             |known AS (
             |  SELECT event_type, b,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
             |  FROM ev GROUP BY 1, 2),
             |bounds AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM ev),
             |grid AS (
             |  SELECT t.event_type, g.b
             |  FROM (SELECT DISTINCT event_type FROM ev) t,
             |       (SELECT unnest(generate_series(lo, hi, INTERVAL 5 MINUTE)) AS b
             |        FROM bounds) g),
             |j AS (
             |  SELECT grid.event_type, grid.b, known.v, epoch_us(grid.b) AS t
             |  FROM grid LEFT JOIN known
             |    ON grid.event_type = known.event_type AND grid.b = known.b),
             |c AS (
             |  SELECT event_type, b, v, t,
             |    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t
             |            ROWS UNBOUNDED PRECEDING) AS pt,
             |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t
             |            ROWS UNBOUNDED PRECEDING) AS pv,
             |    first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt,
             |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
             |      OVER (PARTITION BY event_type ORDER BY t
             |            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
             |  FROM j)
             |SELECT event_type, b, v IS NOT NULL AS observed,
             |  floor((CASE WHEN v IS NOT NULL THEN v
             |    WHEN pt IS NULL THEN nv
             |    WHEN nt IS NULL THEN pv
             |    ELSE pv + (nv - pv) * (t - pt) / (nt - pt) END) * 100000.0
             |    + 0.5) / 100000.0 AS filled
             |FROM c ORDER BY event_type, b""".stripMargin)),

    // Deadline funnel (✚, q100's funnel with CONVERSION WINDOWS — the
    // form product analytics actually ships: a click eight days after
    // the view is not a conversion): each step must land within 1 hour
    // of the previous step's time; per step, the surviving user count
    // and the exact integer average gap (micros, decimal sum → floor
    // division — no float anywhere). Same scale shape as q100: one
    // min-aggregate per step keyed by user, each joined to the
    // previous step's bounded survivor table.
    QueryDef("q210_timed_funnel",
      (s, d) => {
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val hourUs = 3600L * 1000000L
        val v = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t1"))
        val c = ev.where(col("event_type") === "click")
          .join(v, "user_id")
          .where(unix_micros(col("ts")) > col("t1") &&
            unix_micros(col("ts")) <= col("t1") + hourUs)
          .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t2"),
            first(col("t1")).as("t1c"))
        val p = ev.where(col("event_type") === "purchase")
          .join(c, "user_id")
          .where(unix_micros(col("ts")) > col("t2") &&
            unix_micros(col("ts")) <= col("t2") + hourUs)
          .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("t3"),
            first(col("t2")).as("t2c"))
        val s1 = v.agg(count(lit(1)).as("n_users"), lit(0L).as("sum_gap"))
          .withColumn("step", lit("1_view"))
        val s2 = c.agg(count(lit(1)).as("n_users"),
            sum(col("t2") - col("t1c")).as("sum_gap"))
          .withColumn("step", lit("2_click_1h"))
        val s3 = p.agg(count(lit(1)).as("n_users"),
            sum(col("t3") - col("t2c")).as("sum_gap"))
          .withColumn("step", lit("3_purchase_1h"))
        s1.unionByName(s2).unionByName(s3)
          .select(col("step"), col("n_users"),
            when(col("n_users") > 0,
              expr("sum_gap div n_users")).otherwise(lit(0L)).as("avg_gap_us"))
          .orderBy("step")
      },
      Some("""WITH v AS (
             |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
             |  WHERE event_type = 'view' GROUP BY user_id),
             |c AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2, MIN(v.t1) AS t1c
             |  FROM events e JOIN v ON v.user_id = e.user_id
             |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
             |    AND epoch_us(e.ts) <= v.t1 + 3600000000
             |  GROUP BY e.user_id),
             |p AS (
             |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3, MIN(c.t2) AS t2c
             |  FROM events e JOIN c ON c.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
             |    AND epoch_us(e.ts) <= c.t2 + 3600000000
             |  GROUP BY e.user_id)
             |SELECT step, n_users,
             |  CAST(CASE WHEN n_users > 0 THEN sum_gap // n_users ELSE 0 END
             |    AS BIGINT) AS avg_gap_us
             |FROM (
             |  SELECT '1_view' AS step, COUNT(*) AS n_users, 0 AS sum_gap FROM v
             |  UNION ALL
             |  SELECT '2_click_1h', COUNT(*), COALESCE(SUM(t2 - t1c), 0) FROM c
             |  UNION ALL
             |  SELECT '3_purchase_1h', COUNT(*), COALESCE(SUM(t3 - t2c), 0) FROM p)
             |ORDER BY step""".stripMargin)),

    // Inverse-transform sampling from an empirical distribution (✚, the
    // synthetic-data primitive behind ScaleGen-style corpus growth:
    // draw new rows whose column DISTRIBUTION matches the corpus):
    // build the exact CDF of l_quantity, then map 1000 deterministic
    // md5 uniforms through F⁻¹(u) = min{v : F(v) > u} — entirely in
    // INTEGER arithmetic (cum·10⁶ > u·total), so both engines pick
    // identical values with no float threshold anywhere. Scale: the
    // CDF is one aggregation (distinct-value-bounded, broadcastable);
    // the draw is a broadcast join + per-draw min — the corpus itself
    // is never re-scanned per sample.
    QueryDef("q211_empirical_sample",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(col("l_quantity").as("v"))
        val n = li.count()
        // CDF walk is the two-phase globalRunningSum — the distinct-value
        // table is domain-bounded, but no builder gets a partition-less
        // window (the PlanSpec walker bans the construct outright)
        val cdf = Scale.globalRunningSum(
            li.groupBy("v").agg(count(lit(1)).as("c")),
            Seq(col("v")), col("c"))
          .select("v", "cum")
        val draws = s.range(1000).select(col("id").as("i"),
          (conv(substring(md5(concat(lit("draw-"), col("id").cast("string"))),
            1, 8), 16, 10).cast("long") % 1000000L).as("u"))
        draws.join(broadcast(cdf),
            col("cum") * 1000000L > col("u") * lit(n))
          .groupBy("i").agg(min("v").as("v"))
          .groupBy("v").agg(count(lit(1)).as("n_sampled"))
          .orderBy("v")
      },
      Some("""WITH li AS (SELECT l_quantity AS v FROM lineitem),
             |nn AS (SELECT COUNT(*) AS n FROM li),
             |cdf AS (
             |  SELECT v, SUM(c) OVER (ORDER BY v
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM (SELECT v, COUNT(*) AS c FROM li GROUP BY v) t),
             |draws AS (
             |  SELECT i,
             |    CAST('0x' || substr(md5('draw-' || CAST(i AS VARCHAR)), 1, 8)
             |      AS BIGINT) % 1000000 AS u
             |  FROM (SELECT unnest(range(0, 1000)) AS i)),
             |picked AS (
             |  SELECT d.i, MIN(cdf.v) AS v
             |  FROM draws d JOIN cdf ON cdf.cum * 1000000 > d.u * (SELECT n FROM nn)
             |  GROUP BY d.i)
             |SELECT v, COUNT(*) AS n_sampled FROM picked
             |GROUP BY v ORDER BY v""".stripMargin)),

    // Session path mining (✚, the "what do users DO" sequence view no
    // per-event aggregate gives): consecutive event-type TRIGRAMS per
    // user under the total (ts, event_id) order, global top-20 by
    // count — the navigation-pattern primitive behind funnel DESIGN
    // (q100/q210 check a hypothesized path; this surfaces the paths
    // worth checking). Scale: lead() windows partition BY USER
    // (millions of small independent partitions), the trigram count
    // partial-aggregates map-side, and the top-20 is
    // TakeOrderedAndProject — no global sort of the path space.
    QueryDef("q212_path_ngrams",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("e2", lead(col("event_type"), 1).over(W))
          .withColumn("e3", lead(col("event_type"), 2).over(W))
          .where(col("e2").isNotNull && col("e3").isNotNull)
          .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
            .as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(20)
      },
      Some("""WITH seq AS (
             |  SELECT event_type,
             |    LEAD(event_type, 1) OVER w AS e2,
             |    LEAD(event_type, 2) OVER w AS e3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
             |SELECT event_type || '>' || e2 || '>' || e3 AS path,
             |  COUNT(*) AS n
             |FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
             |GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20""".stripMargin)),

    // Jaro-Winkler fuzzy match (✚, the record-linkage scorer q58's
    // levenshtein can't give: JW rewards shared prefixes and tolerates
    // transpositions, the structure of real name/title variants —
    // Winkler built it for Census deduplication): same blocked
    // discipline as q58 ((p_brand, p_size) equality join bounds the
    // candidates), scored by the native graft_jaro_winkler Expression
    // — a static-call codegen scorer, no UDF boxing per pair; DuckDB's
    // jaro_winkler_similarity is the oracle, semantics probed and
    // pinned (boost only when jaro > 0.7, prefix cap 4). The cut
    // compares the ROUNDED score on both engines (the engines' float
    // op order inside jaro may differ in the last ulp).
    QueryDef("q214_jw_match",
      (s, d) => {
        val p = Tables.part(s, d).select(
          col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        val a = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_a"), col("p_name").as("name_a"))
        val b = p.select(col("p_brand"), col("p_size"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b"))
        // provable length prefilter BEFORE the scorer: jw >= 0.94 forces
        // jaro >= 0.9 (max boost is jw = 0.6·jaro + 0.4), and jaro <=
        // (1 + min/max + 1)/3, so min/max >= 0.7 — i.e. 10·min_len >=
        // 7·max_len. Integer arithmetic, zero false negatives; prunes
        // the quadratic block-pair stream before any O(len²) scoring
        // (the sf1 study showed block populations growing 10× → pairs
        // 100× — the filter is what keeps the scorer off most of them)
        a.join(b, Seq("p_brand", "p_size")).where(col("id_a") < col("id_b") &&
            least(length(col("name_a")), length(col("name_b"))) * 10 >=
              greatest(length(col("name_a")), length(col("name_b"))) * 7)
          .withColumn("jw",
            round(graft.functions.JaroWinkler(col("name_a"), col("name_b")), 6))
          .where(col("jw") >= 0.94)
          .select("id_a", "id_b", "jw")
          .orderBy("id_a", "id_b")
      },
      Some("""SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             |  round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
             |FROM part a JOIN part b
             |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
             |  AND a.p_partkey < b.p_partkey
             |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.94
             |ORDER BY id_a, id_b""".stripMargin)),

    // FD-violation REPAIR (✚, q183's audit closed into an action: the
    // audit counts rows where source does not determine lang; this
    // emits the repair — set each violating row's lang to its source's
    // majority lang, deterministic ties by lang asc). The majority
    // table is one (source, lang) count + a rank window over ≤
    // |sources|×|langs| rows — broadcastable at any corpus size; the
    // repair join is keyed by source. Emitted rows are only the CHANGED
    // ones (the delta a curation run writes back).
    QueryDef("q215_fd_repair",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d).select("doc_id", "source", "lang")
        val maj = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(
            W.partitionBy("source").orderBy(col("c").desc, col("lang").asc)))
          .where(col("rk") === 1)
          .select(col("source"), col("lang").as("lang_maj"))
        docs.join(broadcast(maj), "source")
          .where(col("lang") =!= col("lang_maj"))
          .select(col("doc_id"), col("lang").as("old_lang"),
            col("lang_maj").as("new_lang"))
          .orderBy("doc_id")
      },
      Some("""WITH maj AS (
             |  SELECT source, lang AS lang_maj FROM (
             |    SELECT source, lang, COUNT(*) AS c,
             |      ROW_NUMBER() OVER (PARTITION BY source
             |        ORDER BY COUNT(*) DESC, lang ASC) AS rk
             |    FROM documents GROUP BY source, lang) t
             |  WHERE rk = 1)
             |SELECT d.doc_id, d.lang AS old_lang, maj.lang_maj AS new_lang
             |FROM documents d JOIN maj ON d.source = maj.source
             |WHERE d.lang <> maj.lang_maj
             |ORDER BY d.doc_id""".stripMargin)),

    // Debounce (✚, the noise filter in front of every event pipeline:
    // collapse rapid-fire repeats of the same (user, type) within 5
    // seconds). This is the LAG-based form — each event compares to its
    // immediate predecessor — which runs as embarrassingly parallel
    // per-key windows; the chained form (compare to the last KEPT
    // event) is inherently sequential per key and buys almost nothing
    // on real traffic. Output is the audit view: kept vs total per
    // type, the retention a tuning pass watches while choosing the
    // debounce horizon.
    QueryDef("q216_debounce",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(W))
          .withColumn("keep", col("prev_us").isNull ||
            unix_micros(col("ts")) - col("prev_us") > 5000000L)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_total"),
            sum(col("keep").cast("long")).as("n_kept"))
          .orderBy("event_type")
      },
      Some("""WITH k AS (
             |  SELECT event_type,
             |    (LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id, event_type
             |       ORDER BY ts, event_id)) AS prev_us,
             |    epoch_us(ts) AS t
             |  FROM events)
             |SELECT event_type, COUNT(*) AS n_total,
             |  CAST(SUM(CASE WHEN prev_us IS NULL OR t - prev_us > 5000000
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Seasonal-baseline anomaly detection (✚, the complement of
    // q149/q151's ROLLING window: a rolling baseline absorbs a slow
    // drift but chases daily rhythm; the seasonal profile compares each
    // hourly bucket against ITS OWN hour-of-day across the corpus, so
    // "3am traffic at noon levels" flags even when the preceding hours
    // drifted with it). Two aggregations: hourly bucket sums, then the
    // per-(type, hour-of-day) profile with exact DECIMAL moment sums;
    // z computed in one fixed double expression, flagged at |z| > 3.
    // The seasonal profile is types×24 rows — broadcast-size at any
    // corpus scale.
    QueryDef("q221_seasonal_anomaly",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .groupBy(col("event_type"),
            window(col("ts"), "1 hour").getField("start").as("b"))
          .agg(QueryDef.dsum(col("value")).as("v"))
          .withColumn("hod", hour(col("b")))
        val prof = hourly.groupBy("event_type", "hod")
          .agg(count(lit(1)).as("m"),
            sum(QueryDef.dec(col("v"))).cast("double").as("sv"),
            sum(QueryDef.dec(col("v")) * QueryDef.dec(col("v")))
              .cast("double").as("svv"))
          .withColumn("mu", col("sv") / col("m"))
          .withColumn("sd", sqrt(greatest(
            col("svv") / col("m") - (col("sv") / col("m")) * (col("sv") / col("m")),
            lit(0.0))))
        hourly.join(broadcast(prof.select("event_type", "hod", "mu", "sd")),
            Seq("event_type", "hod"))
          .where(col("sd") > 0.0)
          .withColumn("z", round((col("v") - col("mu")) / col("sd"), 6))
          .where(abs(col("z")) > 3.0)
          .select(col("event_type"), col("b"), round(col("v"), 2).as("v"),
            col("z"))
          .orderBy("event_type", "b")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS b,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
             |  FROM events GROUP BY 1, 2),
             |h2 AS (SELECT event_type, b, v, EXTRACT(hour FROM b) AS hod
             |       FROM hourly),
             |prof AS (
             |  SELECT event_type, hod, COUNT(*) AS m,
             |    CAST(SUM(CAST(v AS DECIMAL(12,2))) AS DOUBLE) AS sv,
             |    CAST(SUM(CAST(v AS DECIMAL(12,2)) * CAST(v AS DECIMAL(12,2)))
             |      AS DOUBLE) AS svv
             |  FROM h2 GROUP BY 1, 2),
             |pz AS (
             |  SELECT event_type, hod, sv / m AS mu,
             |    sqrt(greatest(svv / m - (sv / m) * (sv / m), 0.0)) AS sd
             |  FROM prof)
             |SELECT h2.event_type, h2.b, round(h2.v, 2) AS v,
             |  round((h2.v - pz.mu) / pz.sd, 6) AS z
             |FROM h2 JOIN pz ON h2.event_type = pz.event_type
             |  AND h2.hod = pz.hod
             |WHERE pz.sd > 0.0 AND abs(round((h2.v - pz.mu) / pz.sd, 6)) > 3.0
             |ORDER BY h2.event_type, h2.b""".stripMargin)),

    // Benford first-digit audit (✚, the fabricated-numbers screen
    // auditors run on financial columns: naturally-grown magnitudes
    // follow P(d) = log10(1 + 1/d); synthetic or tampered values
    // don't). First digit extracted through the STRING of the integer
    // part — never floor(x/10^floor(log10 x)), whose float log10
    // misassigns exactly at powers of ten. Per digit: observed share
    // vs Benford expectation and the chi-square term, log terms
    // round@9 (cross-engine ln drift) — one aggregation, nine rows.
    QueryDef("q228_benford",
      (s, d) => {
        val o = Tables.orders(s, d).where(col("o_totalprice") >= 1.0)
          .withColumn("digit",
            substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
              .cast("int"))
        val n = o.count()
        val obs = o.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        obs
          .withColumn("share", round(col("n_obs").cast("double") / n, 6))
          .withColumn("exp_share",
            round(log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0)), 9))
          .withColumn("chi_term", round(
            (col("n_obs") - lit(n.toDouble) * col("exp_share")) *
              (col("n_obs") - lit(n.toDouble) * col("exp_share")) /
              (lit(n.toDouble) * col("exp_share")), 6))
          .select(col("digit"), col("n_obs"), col("share"),
            round(col("exp_share"), 6).as("exp_share"), col("chi_term"))
          .orderBy("digit")
      },
      Some("""WITH o AS (
             |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             |      AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM orders WHERE o_totalprice >= 1.0),
             |nn AS (SELECT COUNT(*) AS n FROM o),
             |obs AS (SELECT digit, COUNT(*) AS n_obs FROM o GROUP BY digit),
             |e AS (
             |  SELECT digit, n_obs,
             |    round(CAST(n_obs AS DOUBLE) / nn.n, 6) AS share,
             |    round(ln(1.0 + 1.0 / digit) / ln(10.0), 9) AS exp_share,
             |    CAST(nn.n AS DOUBLE) AS nd
             |  FROM obs, nn)
             |SELECT digit, n_obs, share,
             |  round(exp_share, 6) AS exp_share,
             |  round((n_obs - nd * exp_share) * (n_obs - nd * exp_share)
             |    / (nd * exp_share), 6) AS chi_term
             |FROM e ORDER BY digit""".stripMargin)),

    // Sliding-window distinct users (✚, the overlap-window cardinality
    // q32 counts ROWS for: reach/liveness wants DISTINCT entities per
    // 10-minute window sliding by 5). Spark's window() assigns each
    // event to its two covering windows and the distinct aggregates
    // inside each — partial aggregation dedupes (window, user) pairs
    // map-side, so the shuffle carries pairs, not events. The oracle
    // derives the same two covering starts arithmetically.
    QueryDef("q229_sliding_distinct",
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes")
          .getField("start").as("w_start"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("w_start"),
      Some("""WITH ev AS (
             |  SELECT user_id,
             |    (epoch_us(ts) // 300000000) * 300000000 AS s1
             |  FROM events),
             |assigned AS (
             |  SELECT user_id, unnest([s1, s1 - 300000000]) AS ws FROM ev)
             |SELECT make_timestamp(ws) AS w_start,
             |  COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
             |FROM assigned GROUP BY ws ORDER BY w_start""".stripMargin)),

    // Cascading erasure audit (✚, the right-to-be-forgotten pass a
    // governed corpus runs: delete a subject set, CASCADE through
    // referencing tables, and PROVE no orphan survives — the proof is
    // the deliverable, not the delete). Subjects = customers with
    // custkey % 41 = 0; orders cascade by o_custkey, lineitems by
    // their deleted orders. Per table: rows before, rows removed, and
    // the orphan count after — which the gate pins at 0 by
    // construction of the same anti-join that produced the survivors
    // (a disagreement means the cascade and the audit used different
    // key semantics; NULL-safe anti joins make that impossible here).
    // Scale: two broadcast-able key sets (subjects; their orders),
    // each table one anti-join — content never shuffles.
    QueryDef("q230_cascade_delete",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val ord = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val delC = cust.where(pmod(col("c_custkey"), lit(41)) === 0)
          .select(col("c_custkey").as("k"))
        val delO = ord.join(delC, col("o_custkey") === col("k"))
          .select(col("o_orderkey").as("ok"))
        // One pass per table: a single LEFT join against the (distinct,
        // PK-derived) delete-key set classifies every row as removed
        // (key matched) or kept (no match) in the same scan, and the
        // orphan count is the identity  count(*) − kept − removed  from
        // that same classification — a nonzero value would mean the
        // join tagged a row as both or neither, i.e. the cascade and
        // the audit disagreed on key semantics. The three per-table
        // aggregates union into ONE plan, so the whole audit is one
        // Spark job (previously 3 eager jobs per table = 9).
        def audit(name: String, df: org.apache.spark.sql.DataFrame,
                  key: org.apache.spark.sql.Column,
                  delKeys: org.apache.spark.sql.DataFrame,
                  dk: org.apache.spark.sql.Column) = {
          df.join(delKeys.select(dk.as("_dk")), key === col("_dk"), "left")
            .agg(
              count(lit(1)).as("n_rows"),
              sum(when(col("_dk").isNotNull, 1L).otherwise(0L)).as("n_removed"),
              (count(lit(1))
                - sum(when(col("_dk").isNull, 1L).otherwise(0L))
                - sum(when(col("_dk").isNotNull, 1L).otherwise(0L)))
                .as("n_orphans"))
            .select(lit(name).as("table_"), col("n_rows"),
              col("n_removed"), col("n_orphans"))
        }
        audit("1_customer", cust, col("c_custkey"), delC, col("k"))
          .unionByName(audit("2_orders", ord, col("o_custkey"), delC, col("k")))
          .unionByName(audit("3_lineitem", li, col("l_orderkey"), delO, col("ok")))
          .orderBy("table_")
      },
      Some("""WITH delc AS (
             |  SELECT c_custkey AS k FROM customer WHERE c_custkey % 41 = 0),
             |delo AS (
             |  SELECT o_orderkey AS ok FROM orders
             |  JOIN delc ON o_custkey = k)
             |SELECT * FROM (
             |  SELECT '1_customer' AS table_, COUNT(*) AS n_rows,
             |    CAST(SUM(CASE WHEN c_custkey % 41 = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_removed,
             |    CAST(0 AS BIGINT) AS n_orphans
             |  FROM customer
             |  UNION ALL
             |  SELECT '2_orders', COUNT(*),
             |    CAST(SUM(CASE WHEN o_custkey IN (SELECT k FROM delc)
             |        THEN 1 ELSE 0 END) AS BIGINT), CAST(0 AS BIGINT)
             |  FROM orders
             |  UNION ALL
             |  SELECT '3_lineitem', COUNT(*),
             |    CAST(SUM(CASE WHEN l_orderkey IN (SELECT ok FROM delo)
             |        THEN 1 ELSE 0 END) AS BIGINT), CAST(0 AS BIGINT)
             |  FROM lineitem)
             |ORDER BY table_""".stripMargin)),

    // Referential-integrity audit across the star schema's FK edges
    // (✚, the standing data-quality gate q230's erasure proof runs
    // once: EVERY load of a 100 TB warehouse should emit this table —
    // per FK edge, child rows and orphans). Each edge is one LEFT ANTI
    // join: the orphan side streams the child once, the parent key set
    // broadcasts when dimension-sized (customer/part/supplier/nation/
    // region) and shuffles as a plain 8-byte-key join for fact→fact
    // (lineitem→orders); counts are the only output. The oracle is the
    // NOT IN form over the same edges — synthetic data should audit
    // clean, and the gate exists to prove the zeros are computed, not
    // assumed.
    QueryDef("q245_ri_audit",
      (s, d) => {
        // q148's discipline: adding an FK edge never adds a scan of the
        // same child. Every child table is scanned ONCE — all of its
        // parent key sets LEFT-join onto that one scan (each parent key
        // set is distinct, so the joins never multiply rows), a single
        // aggregate computes one orphan sum per edge, and stack()
        // unpivots the 1-row result into per-edge rows. The 7 edges
        // union into one plan → ONE Spark job (previously 2 eager jobs
        // × 7 edges = 14, with lineitem scanned 6 times).
        def keys(df: org.apache.spark.sql.DataFrame, pk: String,
                 as: String, bcast: Boolean) = {
          val k = df.select(col(pk).as(as)).distinct()
          if (bcast) broadcast(k) else k
        }
        def audit(child: org.apache.spark.sql.DataFrame,
                  edges: Seq[(String, String, org.apache.spark.sql.DataFrame)]) = {
          val joined = edges.zipWithIndex.foldLeft(child) {
            case (acc, ((_, ck, par), i)) =>
              acc.join(par, col(ck) === col(s"_pk$i"), "left")
          }
          val aggs = count(lit(1)).as("n") +: edges.indices.map(i =>
            sum(when(col(s"_pk$i").isNull, 1L).otherwise(0L)).as(s"o$i"))
          val one = joined.agg(aggs.head, aggs.tail: _*)
          val stackArgs = edges.zipWithIndex.map { case ((name, _, _), i) =>
            s"'$name', n, o$i"
          }.mkString(", ")
          one.selectExpr(s"stack(${edges.size}, $stackArgs)" +
            " AS (fk_edge, n_child, n_orphan)")
        }
        val liEdges = audit(Tables.lineitem(s, d), Seq(
          ("lineitem->orders", "l_orderkey",
            keys(Tables.orders(s, d), "o_orderkey", "_pk0", bcast = false)),
          ("lineitem->part", "l_partkey",
            keys(Tables.part(s, d), "p_partkey", "_pk1", bcast = true)),
          ("lineitem->supplier", "l_suppkey",
            keys(Tables.supplier(s, d), "s_suppkey", "_pk2", bcast = true))))
        val rest = Seq(
          audit(Tables.customer(s, d), Seq(("customer->nation", "c_nationkey",
            keys(Tables.nation(s, d), "n_nationkey", "_pk0", bcast = true)))),
          audit(Tables.nation(s, d), Seq(("nation->region", "n_regionkey",
            keys(Tables.region(s, d), "r_regionkey", "_pk0", bcast = true)))),
          audit(Tables.orders(s, d), Seq(("orders->customer", "o_custkey",
            keys(Tables.customer(s, d), "c_custkey", "_pk0", bcast = true)))),
          audit(Tables.supplier(s, d), Seq(("supplier->nation", "s_nationkey",
            keys(Tables.nation(s, d), "n_nationkey", "_pk0", bcast = true)))))
        rest.foldLeft(liEdges)(_ unionByName _).orderBy("fk_edge")
      },
      Some {
        def arm(name: String, child: String, ck: String,
                parent: String, pk: String) =
          s"""SELECT '$name' AS fk_edge, COUNT(*) AS n_child,
             |  CAST(SUM(CASE WHEN $ck NOT IN (SELECT $pk FROM $parent)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
             |FROM $child""".stripMargin
        Seq(
          arm("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          arm("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          arm("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
          arm("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          arm("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
          arm("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
          arm("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
      }),

    // Sequential-pattern support (✚, the PrefixSpan support count over
    // q212's contiguous path n-grams: how many users' event streams
    // contain the SUBSEQUENCE t1 → t2 → t3 — gaps allowed, order
    // strict — the pattern definition funnels and curricula actually
    // use). Existence-of-subsequence is decided by the GREEDY chain
    // (earliest t1, then earliest t2 strictly after it, then earliest
    // t3 after that): greedy is sound and complete for existence, and
    // each link is one equality join on user_id + one min-aggregate —
    // the per-link blowup is |types|·corpus rows, never corpus², and
    // every shuffle keys on user_id. Strictness is on the raw
    // timestamp (same-instant events cannot chain) — pinned
    // identically in the oracle. Output: all type triples with
    // support ≥ 1, top-20 by (support desc, t1, t2, t3).
    QueryDef("q240_seq_patterns",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"))
        val t1 = ev.groupBy(col("user_id"), col("event_type").as("t1"))
          .agg(min(col("tsu")).as("ta"))
        val t2 = t1.join(ev, "user_id")
          .where(col("tsu") > col("ta"))
          .groupBy(col("user_id"), col("t1"), col("event_type").as("t2"))
          .agg(min(col("tsu")).as("tb"))
        val t3 = t2.join(ev, "user_id")
          .where(col("tsu") > col("tb"))
          .groupBy(col("user_id"), col("t1"), col("t2"),
            col("event_type").as("t3"))
          .agg(min(col("tsu")).as("tc"))
        t3.groupBy("t1", "t2", "t3").agg(count(lit(1)).as("support"))
          .orderBy(col("support").desc, col("t1"), col("t2"), col("t3"))
          .limit(20)
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |s1 AS (
             |  SELECT user_id, event_type AS t1, MIN(tsu) AS ta
             |  FROM ev GROUP BY 1, 2),
             |s2 AS (
             |  SELECT s1.user_id, s1.t1, ev.event_type AS t2, MIN(ev.tsu) AS tb
             |  FROM s1 JOIN ev ON ev.user_id = s1.user_id AND ev.tsu > s1.ta
             |  GROUP BY 1, 2, 3),
             |s3 AS (
             |  SELECT s2.user_id, s2.t1, s2.t2, ev.event_type AS t3
             |  FROM s2 JOIN ev ON ev.user_id = s2.user_id AND ev.tsu > s2.tb
             |  GROUP BY 1, 2, 3, 4)
             |SELECT t1, t2, t3, COUNT(*) AS support
             |FROM s3 GROUP BY 1, 2, 3
             |ORDER BY support DESC, t1, t2, t3 LIMIT 20""".stripMargin)),

    // Wilson score intervals per source (✚, the proportion-reporting
    // fix for the naive ±z√(p̂q̂/n) interval that collapses at p̂ near
    // 0/1 or small n — Wilson is what a dashboard should draw around
    // every per-segment rate). Proportion audited: share of English
    // documents per source. One grouped count pass; the interval
    // arithmetic is a fixed double expression evaluated identically
    // on 20 rows, round@6.
    QueryDef("q272_wilson_ci",
      (s, d) => {
        val z = 1.959964 // 95% two-sided
        val g = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("k"))
          .withColumn("p", col("k").cast("double") / col("n"))
          .withColumn("den", lit(1.0) + lit(z) * lit(z) / col("n"))
          .withColumn("ctr",
            (col("p") + lit(z) * lit(z) / (lit(2.0) * col("n"))) / col("den"))
          .withColumn("half",
            lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n") +
              lit(z) * lit(z) / (lit(4.0) * col("n") * col("n"))) / col("den"))
        g.select(col("source"), col("n"), col("k"),
            round(col("p"), 6).as("p_hat"),
            round(col("ctr") - col("half"), 6).as("wilson_lo"),
            round(col("ctr") + col("half"), 6).as("wilson_hi"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source, COUNT(*) AS n,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS k
             |  FROM documents GROUP BY 1),
             |e AS (
             |  SELECT source, n, k,
             |    CAST(k AS DOUBLE) / n AS p,
             |    1.0 + 1.959964 * 1.959964 / n AS den,
             |    (CAST(k AS DOUBLE) / n + 1.959964 * 1.959964 / (2.0 * n)) /
             |      (1.0 + 1.959964 * 1.959964 / n) AS ctr,
             |    1.959964 * sqrt((CAST(k AS DOUBLE) / n) *
             |        (1.0 - CAST(k AS DOUBLE) / n) / n +
             |        1.959964 * 1.959964 / (4.0 * n * n)) /
             |      (1.0 + 1.959964 * 1.959964 / n) AS half
             |  FROM g)
             |SELECT source, n, k, round(p, 6) AS p_hat,
             |  round(ctr - half, 6) AS wilson_lo,
             |  round(ctr + half, 6) AS wilson_hi
             |FROM e ORDER BY source""".stripMargin)),

    // Neyman-allocation sampling plan (✚, the survey-statistics answer
    // to "spread 1000 audit samples across sources": proportional
    // allocation oversamples homogeneous strata; Neyman weights by
    // N_h·S_h so variable strata get the budget. The integerization is
    // largest-remainder (floor every share, hand the leftovers to the
    // largest fractional parts, source tiebreak) — Σ alloc == budget
    // EXACTLY, no float accumulation). Per-stratum moments are exact
    // BIGINT sums of integer lengths (a 100 TB corpus lifts Σx² to
    // DECIMAL(38) — noted); the ranking runs on the |sources|-row
    // plan table.
    QueryDef("q273_neyman_allocation",
      (s, d) => {
        val B = 1000L
        val g = Tables.documents(s, d).groupBy("source")
          .agg(count(lit(1)).as("nh"),
            sum(col("n_chars")).as("sx"),
            sum(col("n_chars") * col("n_chars")).as("sx2"))
          .withColumn("sd", sqrt((col("sx2").cast("double") -
            col("sx").cast("double") * col("sx") / col("nh")) /
            (col("nh") - lit(1L))))
          .withColumn("w", col("nh").cast("double") * col("sd"))
          .transform(pin)
        val wtot = g.agg(sum(round(col("w"), 9).cast("decimal(38,9)"))
          .cast("double")).first().getDouble(0)
        val shares = g.withColumn("share", col("w") * B / wtot)
          .withColumn("base", floor(col("share")).cast("long"))
          .withColumn("frac", col("share") - floor(col("share")))
        val rem = B - shares.agg(sum("base")).first().getLong(0)
        // largest-remainder rank via two-phase globalRowNumber — the
        // plan table is |sources|-bounded, but the no-partition-less-
        // window discipline is uniform across builders
        Scale.globalRowNumber(shares, Seq(col("frac").desc, col("source")))
          .withColumnRenamed("rn", "rk")
          .select(col("source"), col("nh").as("n_docs"),
            round(col("sd"), 6).as("sd_len"),
            (col("base") + when(col("rk") <= rem, 1L).otherwise(0L))
              .as("alloc"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source, COUNT(*) AS nh,
             |    CAST(SUM(n_chars) AS BIGINT) AS sx,
             |    CAST(SUM(n_chars * n_chars) AS BIGINT) AS sx2
             |  FROM documents GROUP BY 1),
             |e AS (
             |  SELECT source, nh,
             |    sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nh)
             |      / (nh - 1)) AS sd,
             |    CAST(nh AS DOUBLE) *
             |      sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nh)
             |        / (nh - 1)) AS w
             |  FROM g),
             |wt AS (SELECT CAST(SUM(CAST(round(w, 9) AS DECIMAL(38,9)))
             |         AS DOUBLE) AS wtot FROM e),
             |sh AS (
             |  SELECT source, nh, sd, w * 1000 / wt.wtot AS share
             |  FROM e CROSS JOIN wt),
             |fl AS (
             |  SELECT source, nh, sd,
             |    CAST(floor(share) AS BIGINT) AS base,
             |    share - floor(share) AS frac
             |  FROM sh),
             |rem AS (SELECT 1000 - CAST(SUM(base) AS BIGINT) AS r FROM fl),
             |rk AS (
             |  SELECT source, nh, sd, base,
             |    ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rk
             |  FROM fl)
             |SELECT rk.source, rk.nh AS n_docs, round(rk.sd, 6) AS sd_len,
             |  rk.base + CASE WHEN rk.rk <= rem.r THEN 1 ELSE 0 END AS alloc
             |FROM rk CROSS JOIN rem ORDER BY source""".stripMargin)),

    // Simpson's-paradox audit (✚, the aggregation trap detector: does
    // the discount→quantity association REVERSE when conditioned on
    // return status? Aggregate correlations quoted without this check
    // are the textbook analytics failure). Covariance numerators stay
    // EXACT: n·Σxy − Σx·Σy in DECIMAL over 2-dp discounts × integer
    // quantities, so the association SIGN — the thing the audit is
    // about — cannot be a float artifact; the displayed covariance is
    // one double division, round@6. One grouped pass + one global
    // pass; the reversal flag attaches the global sign via a 1-row
    // broadcast.
    QueryDef("q275_simpson_audit",
      (s, d) => {
        def cells(dfg: org.apache.spark.sql.RelationalGroupedDataset) =
          dfg.agg(count(lit(1)).cast("decimal(19,0)").as("n"),
            sum(QueryDef.dec(col("l_discount"))).as("sx"),
            sum(col("l_quantity").cast("decimal(19,0)")).as("sy"),
            sum(QueryDef.dec(col("l_discount")) *
              col("l_quantity").cast("decimal(19,0)")).as("sxy"))
        val li = Tables.lineitem(s, d)
        // width-bounded casts keep every product inside DECIMAL(38,2)
        // on BOTH engines (DuckDB hard-errors past 38); magnitudes fit
        // with room through sf1 and the 100 TB lift is widening these
        // casts, not changing the plan
        val numCol = col("n").cast("decimal(12,0)") *
          col("sxy").cast("decimal(25,2)") -
          col("sx").cast("decimal(18,2)") * col("sy").cast("decimal(19,0)")
        val strat = cells(li.groupBy(col("l_returnflag").as("stratum")))
          .withColumn("num", numCol)
        val all = cells(li.groupBy(lit("ALL").as("stratum")))
          .withColumn("num", numCol)
        val gsign = broadcast(all.select(
          signum(col("num").cast("double")).as("gsign")))
        strat.unionByName(all)
          .crossJoin(gsign)
          .select(col("stratum"), col("n").cast("long").as("n"),
            round(col("num").cast("double") /
              (col("n").cast("double") * col("n").cast("double")), 6)
              .as("cov"),
            signum(col("num").cast("double")).as("sign"),
            (signum(col("num").cast("double")) =!= col("gsign"))
              .as("reversed"))
          .orderBy("stratum")
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS stratum,
             |    CAST(l_discount AS DECIMAL(12,2)) AS x,
             |    CAST(l_quantity AS DECIMAL(19,0)) AS y
             |  FROM lineitem),
             |cells AS (
             |  SELECT stratum, CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
             |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy
             |  FROM li GROUP BY stratum
             |  UNION ALL
             |  SELECT 'ALL', CAST(COUNT(*) AS DECIMAL(19,0)),
             |    SUM(x), SUM(y), SUM(x * y)
             |  FROM li),
             |nums AS (
             |  SELECT stratum, n,
             |    CAST(n AS DECIMAL(12,0)) * CAST(sxy AS DECIMAL(25,2)) -
             |    CAST(sx AS DECIMAL(18,2)) * CAST(sy AS DECIMAL(19,0)) AS num
             |  FROM cells),
             |g AS (SELECT CAST(sign(CAST(num AS DOUBLE)) AS DOUBLE) AS gsign FROM nums
             |      WHERE stratum = 'ALL')
             |SELECT stratum, CAST(n AS BIGINT) AS n,
             |  round(CAST(num AS DOUBLE) /
             |    (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS cov,
             |  CAST(sign(CAST(num AS DOUBLE)) AS DOUBLE) AS sign,
             |  CAST(sign(CAST(num AS DOUBLE)) AS DOUBLE) <> g.gsign AS reversed
             |FROM nums CROSS JOIN g ORDER BY stratum""".stripMargin)),

    // Consistent-hash ring balance audit (✚, the partition-design
    // study behind every sharded sink this engine writes to: how
    // uneven is key placement on a hash ring at 1 virtual node per
    // shard vs 16 — the classic result is ~Θ(log S) imbalance at V=1
    // tightening toward uniform as V grows, and this gate MEASURES it
    // on the corpus's own keys). Wrap-around is handled without a
    // special case: the successor of key k is the ring point
    // minimizing (h − k) mod 2³², an exact-integer argmin via
    // min(struct) over a BROADCAST ring (≤ 136 literal points — the
    // corpus crosses only against that, map-side, no shuffle of
    // anything but the final per-shard counts).
    QueryDef("q263_hash_ring",
      (s, d) => {
        import s.implicits._
        val M = 4294967296L
        val ring = (for (v <- Seq(1, 16); shard <- 0 until 8; i <- 0 until v)
          yield (v.toLong, shard.toLong, s"ring-$shard-$i"))
          .toDF("vnodes", "shard", "tag")
          .withColumn("rh", conv(substring(md5(col("tag")), 1, 8), 16, 10)
            .cast("long"))
        val keys = Tables.documents(s, d)
          .select(conv(substring(md5(concat(lit("k-"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
            .as("kh"))
        val assigned = keys.crossJoin(broadcast(ring))
          .groupBy("kh", "vnodes")
          .agg(min(struct(pmod(col("rh") - col("kh"), lit(M)).as("dist"),
            col("shard"))).getField("shard").as("shard"))
        val nKeys = keys.count()
        assigned.groupBy("vnodes", "shard")
          .agg(count(lit(1)).as("n_keys"))
          .select(col("vnodes"), col("shard"), col("n_keys"),
            round(col("n_keys").cast("double") / nKeys, 6).as("share"))
          .orderBy("vnodes", "shard")
      },
      Some {
        val ring = (for (v <- Seq(1, 16); shard <- 0 until 8; i <- 0 until v)
          yield s"($v, $shard, 'ring-$shard-$i')").mkString(", ")
        s"""WITH ring AS (
           |  SELECT vnodes, shard,
           |    ('0x' || substr(md5(tag), 1, 8))::BIGINT AS rh
           |  FROM (VALUES $ring) t(vnodes, shard, tag)),
           |keys AS (
           |  SELECT ('0x' || substr(md5('k-' || CAST(doc_id AS VARCHAR)),
           |    1, 8))::BIGINT AS kh
           |  FROM documents),
           |nk AS (SELECT COUNT(*) AS n FROM keys),
           |assigned AS (
           |  SELECT kh, vnodes,
           |    arg_min(shard, ((rh - kh) % 4294967296 + 4294967296)
           |      % 4294967296) AS shard
           |  FROM keys CROSS JOIN ring
           |  GROUP BY kh, vnodes)
           |SELECT CAST(vnodes AS BIGINT) AS vnodes,
           |  CAST(shard AS BIGINT) AS shard,
           |  COUNT(*) AS n_keys,
           |  round(CAST(COUNT(*) AS DOUBLE) / MAX(nk.n), 6) AS share
           |FROM assigned CROSS JOIN nk
           |GROUP BY vnodes, shard ORDER BY vnodes, shard""".stripMargin
      }),

    // Per-user behavioral entropy (✚, the engagement-diversity
    // feature: a user doing one thing 100 times and a user spread
    // across five event types both have 100 events — H separates
    // them; the aggregate view feeds segmentation and bot screens).
    // One (user, type) count pass; per-user H from the bounded cell
    // table under the round@9 DECIMAL log discipline; the output
    // aggregates users BY their type-breadth, so the report is
    // |types| rows at any corpus size.
    QueryDef("q264_user_entropy",
      (s, d) => {
        val cells = Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("c"))
          .withColumn("n", sum(col("c")).over(
            Window.partitionBy("user_id")))
        val perUser = cells.groupBy("user_id")
          .agg(count(lit(1)).as("n_types"),
            sum(round(-(col("c").cast("double") / col("n")) *
              log(col("c").cast("double") / col("n")), 9)
              .cast("decimal(38,9)")).as("hdec"))
        // band by 0.2-nat entropy slices (breadth alone is degenerate
        // when every user touches every type, as on this corpus)
        perUser
          .withColumn("band", floor(col("hdec").cast("double") * 5.0)
            .cast("long"))
          .groupBy("n_types", "band")
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("hdec")).cast("double") / count(lit(1)), 6)
              .as("mean_entropy"))
          .orderBy("n_types", "band")
      },
      Some("""WITH cells AS (
             |  SELECT user_id, event_type, COUNT(*) AS c,
             |    SUM(COUNT(*)) OVER (PARTITION BY user_id) AS n
             |  FROM events GROUP BY user_id, event_type),
             |pu AS (
             |  SELECT user_id, COUNT(*) AS n_types,
             |    SUM(CAST(round(-(CAST(c AS DOUBLE) / n) *
             |      ln(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(38,9))) AS hdec
             |  FROM cells GROUP BY user_id)
             |SELECT n_types,
             |  CAST(floor(CAST(hdec AS DOUBLE) * 5.0) AS BIGINT) AS band,
             |  COUNT(*) AS n_users,
             |  round(CAST(SUM(hdec) AS DOUBLE) / COUNT(*), 6) AS mean_entropy
             |FROM pu GROUP BY 1, 2 ORDER BY n_types, band""".stripMargin)),

    // Near-duplicate transaction screen (✚, entity dedup OUTSIDE
    // text: two orders by the same customer for nearly the same
    // amount within a month are double-charge / retry suspects — the
    // fraud/ops screen every billing pipeline runs). Candidates come
    // from an EQUALITY join on the customer — per-customer order
    // counts are bounded (≤ ~25 here; a q200-style k ≤ 100 cap
    // guards the one pathological account at 100 TB, counted, never
    // silent) — so pair cost is Σ C(k,2), and the amount/time
    // tolerances are RESIDUAL predicates in exact integer arithmetic:
    // |Δcents|·100 ≤ 2·min(cents) (a 2% relative band with no float
    // division) and |Δt| ≤ 30 days in micros.
    QueryDef("q265_dup_transactions",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("du"))
        val sizes = o.groupBy("o_custkey").agg(count(lit(1)).as("k"))
        val small = o.join(sizes.where(col("k") <= 100), "o_custkey")
        val a = small.select(col("o_custkey").as("cust"),
          col("cents").as("ct_a"), col("o_orderkey").as("ok_a"),
          col("du").as("du_a"))
        val b = small.select(col("o_custkey").as("cust"),
          col("cents").as("ct_b"), col("o_orderkey").as("ok_b"),
          col("du").as("du_b"))
        a.join(b, "cust")
          .where(col("ok_a") < col("ok_b") &&
            abs(col("ct_a") - col("ct_b")) * 100L <=
              lit(2L) * least(col("ct_a"), col("ct_b")) &&
            abs(col("du_a") - col("du_b")) <= 2592000000000L)
          .select(col("cust"), col("ok_a"), col("ok_b"),
            (col("ct_a").cast("double") / 100.0).as("amount_a"),
            (col("ct_b").cast("double") / 100.0).as("amount_b"),
            expr("abs(du_a - du_b) div 86400000000").as("day_gap"))
          .orderBy("cust", "ok_a", "ok_b")
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, o_custkey,
             |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
             |    epoch_us(o_orderdate) AS du
             |  FROM orders),
             |sizes AS (SELECT o_custkey, COUNT(*) AS k FROM o GROUP BY 1),
             |small AS (SELECT o.* FROM o JOIN sizes
             |  ON o.o_custkey = sizes.o_custkey AND sizes.k <= 100)
             |SELECT a.o_custkey AS cust, a.o_orderkey AS ok_a,
             |  b.o_orderkey AS ok_b,
             |  CAST(a.cents AS DOUBLE) / 100.0 AS amount_a,
             |  CAST(b.cents AS DOUBLE) / 100.0 AS amount_b,
             |  abs(a.du - b.du) // 86400000000 AS day_gap
             |FROM small a JOIN small b
             |  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             |WHERE abs(a.cents - b.cents) * 100 <= 2 * LEAST(a.cents, b.cents)
             |  AND abs(a.du - b.du) <= 2592000000000
             |ORDER BY cust, ok_a, ok_b""".stripMargin)),

    // Capture–recapture population estimate (✚, the "how many users
    // exist that we've never counted" number: two observation windows
    // are two CAPTURES, overlap is the RECAPTURE, and Chapman's
    // estimator N̂ = (n₁+1)(n₂+1)/(m+1) − 1 estimates the total
    // population — the ecology trick a platform uses to size its true
    // audience from partial telemetry, and a dedup pipeline uses to
    // estimate total distinct documents from two crawls). The windows
    // split at the exact integer midpoint of the observed span; the
    // three cardinalities are two distinct-aggregations and one
    // semi-join — all map-side-combinable. The gate also emits the
    // directly-observed distinct count, so the estimator's bias is on
    // display next to its estimate.
    QueryDef("q260_capture_recapture",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"))
          .transform(pin)
        val mm = ev.agg(min("tsu"), max("tsu")).first()
        val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
        val w1 = ev.where(col("tsu") < mid).select("user_id").distinct()
        val w2 = ev.where(col("tsu") >= mid).select("user_id").distinct()
        val n1 = w1.count(); val n2 = w2.count()
        val m = w1.join(w2, "user_id").count()
        val obs = ev.select("user_id").distinct().count()
        import s.implicits._
        Seq((n1, n2, m, obs)).toDF("n1", "n2", "m", "n_observed")
          .select(col("*"),
            round((col("n1") + 1L).cast("double") * (col("n2") + 1L) /
              (col("m") + 1L) - 1.0, 6).as("chapman_nhat"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS tsu FROM events),
             |mm AS (SELECT MIN(tsu) AS lo,
             |  MIN(tsu) + (MAX(tsu) - MIN(tsu)) // 2 AS mid FROM ev),
             |w1 AS (SELECT DISTINCT user_id FROM ev, mm WHERE tsu < mid),
             |w2 AS (SELECT DISTINCT user_id FROM ev, mm WHERE tsu >= mid),
             |st AS (
             |  SELECT (SELECT COUNT(*) FROM w1) AS n1,
             |    (SELECT COUNT(*) FROM w2) AS n2,
             |    (SELECT COUNT(*) FROM w1 JOIN w2 USING (user_id)) AS m,
             |    (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_observed)
             |SELECT n1, n2, m, n_observed,
             |  round(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0, 6)
             |    AS chapman_nhat
             |FROM st""".stripMargin)),

    // Cohort LTV curve (✚, the cumulative-revenue view q100's
    // retention counts can't give: for each acquisition cohort (month
    // of first order), how much revenue has the AVERAGE cohort member
    // produced by month offset 0, 1, 2, … — the curve a payback-period
    // decision reads). Cohorts from one min-aggregate per customer;
    // the matrix is |cohorts|×|offsets| cells (bounded — the corpus
    // collapses before any window), cumulative per cohort over that
    // grid; revenue exact DECIMAL throughout, one division at the
    // edge, round@6. Offsets via integer month keys (y·12+m) — no
    // date arithmetic to disagree on.
    QueryDef("q278_ltv_cohort",
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(col("o_custkey").as("cust"),
            (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
              .cast("long").as("mk"),
            QueryDef.dec(col("o_totalprice")).as("rev"))
          .transform(pin)
        val cohort = o.groupBy("cust").agg(min("mk").as("c0"))
        val sizes = cohort.groupBy("c0").agg(count(lit(1)).as("n_cust"))
        val cells = o.join(cohort, "cust")
          .groupBy(col("c0"), (col("mk") - col("c0")).as("moff"))
          .agg(sum(col("rev")).as("rev"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c0").orderBy("moff")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cells.withColumn("cumrev", sum(col("rev")).over(w))
          .join(broadcast(sizes), "c0")
          .where(col("moff") <= 6L)
          .select(col("c0").as("cohort_month"), col("moff").as("month_offset"),
            col("n_cust"),
            round(col("cumrev").cast("double") / col("n_cust"), 6)
              .as("ltv_per_cust"))
          .orderBy("cohort_month", "month_offset")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey AS cust,
             |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
             |      AS mk,
             |    CAST(o_totalprice AS DECIMAL(12,2)) AS rev
             |  FROM orders),
             |cohort AS (SELECT cust, MIN(mk) AS c0 FROM o GROUP BY 1),
             |sizes AS (SELECT c0, COUNT(*) AS n_cust FROM cohort GROUP BY 1),
             |cells AS (
             |  SELECT cohort.c0, o.mk - cohort.c0 AS moff,
             |    SUM(o.rev) AS rev
             |  FROM o JOIN cohort ON o.cust = cohort.cust
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT c0, moff,
             |    SUM(rev) OVER (PARTITION BY c0 ORDER BY moff
             |      ROWS UNBOUNDED PRECEDING) AS cumrev
             |  FROM cells)
             |SELECT cum.c0 AS cohort_month, cum.moff AS month_offset,
             |  sizes.n_cust,
             |  round(CAST(cum.cumrev AS DOUBLE) / sizes.n_cust, 6)
             |    AS ltv_per_cust
             |FROM cum JOIN sizes ON cum.c0 = sizes.c0
             |WHERE cum.moff <= 6
             |ORDER BY cohort_month, month_offset""".stripMargin)),

    // ABC (Pareto) classification of parts by revenue (✚, the
    // inventory-policy report: class A = the head that carries 80% of
    // revenue, B = the next 15, C = the long tail — the 100 TB point
    // is that the CLASS BOUNDARY is a global-prefix question, answered
    // by the same two-phase rank/prefix machinery as q242/q244, never
    // a sort). Revenue in exact integer cents; class cuts as integer
    // cross-products (cum·5 ≤ tot·4 for 80%, cum·20 ≤ tot·19 for 95%)
    // — no float thresholds; per-class rollup is three rows.
    QueryDef("q279_abc_classes",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("pk"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("rc"))
        val tot = rev.agg(sum("rc")).first().getLong(0)
        val cum = Scale.globalRunningSum(rev,
          Seq((-col("rc")).as("nrc"), col("pk")), col("rc"))
        cum.withColumn("cls",
            when(col("cum") * 5L <= tot * 4L, "A")
              .otherwise(when(col("cum") * 20L <= tot * 19L, "B")
                .otherwise("C")))
          .groupBy("cls")
          .agg(count(lit(1)).as("n_parts"),
            (sum(col("rc")).cast("double") / 100.0).as("revenue"),
            round(sum(col("rc")).cast("double") / tot, 6).as("rev_share"))
          .orderBy("cls")
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey AS pk,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS rc
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS t FROM rev),
             |cum AS (
             |  SELECT rc, SUM(rc) OVER (ORDER BY rc DESC, pk
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM rev),
             |cls AS (
             |  SELECT rc,
             |    CASE WHEN cum * 5 <= tot.t * 4 THEN 'A'
             |         WHEN cum * 20 <= tot.t * 19 THEN 'B'
             |         ELSE 'C' END AS cls
             |  FROM cum CROSS JOIN tot)
             |SELECT cls, COUNT(*) AS n_parts,
             |  CAST(SUM(rc) AS DOUBLE) / 100.0 AS revenue,
             |  round(CAST(SUM(rc) AS DOUBLE) / MAX(tot.t), 6) AS rev_share
             |FROM cls CROSS JOIN tot GROUP BY cls ORDER BY cls""".stripMargin)),

    // CUSUM change detection on hourly traffic (✚, the control-chart
    // family: q149/q221 flag LEVELS; CUSUM accumulates small
    // persistent shifts that no single bucket trips — S⁺ₜ =
    // max(0, S⁺ₜ₋₁ + x−μ−kσ), alarm at hσ — the standard tabular
    // two-sided scheme with k=½, h=4). The sequential clamp recursion
    // is q249's prefix-min identity again on a DIFFERENT domain —
    // change detection, not ledgers — so the non-associative control
    // chart runs as two associative prefixes over the bounded hourly
    // series. Everything is EXACT ×10⁶-scaled integers: μ+kσ and hσ
    // round@6 once into BIGINT references (absorbing sqrt ulp drift
    // BEFORE any accumulation), then the walk is pure integer min/max
    // arithmetic — zero per-step float drift by construction.
    QueryDef("q276_cusum",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy("h").agg(count(lit(1)).as("cnt"))
          .transform(pin)
        val st = hourly.agg(count(lit(1)), sum("cnt"),
          sum(col("cnt") * col("cnt"))).first()
        val n = st.getLong(0)
        val mean = st.getLong(1).toDouble / n
        val sd = math.sqrt((st.getLong(2).toDouble -
          st.getLong(1).toDouble * st.getLong(1) / n) / (n - 1))
        // ×1e6 integer references, rounded once — the walk never sees
        // a double again
        val refHi = math.round((mean + 0.5 * sd) * 1e6)
        val refLo = math.round((mean - 0.5 * sd) * 1e6)
        val alarm = math.round(4.0 * sd * 1e6)
        val cum = Scale.globalRunningSum(
            hourly.withColumn("dHi", col("cnt") * 1000000L - refHi),
            Seq(col("h")), col("dHi"))
          .withColumnRenamed("cum", "cHi")
        val cum2 = Scale.globalRunningSum(
            cum.withColumn("dLo", lit(refLo) - col("cnt") * 1000000L),
            Seq(col("h")), col("dLo"))
          .withColumnRenamed("cum", "cLo")
        // running minima via the two-phase globalRunningMin — the hourly
        // series is bounded, but no builder gets a partition-less window
        val mins = Scale.globalRunningMin(
            Scale.globalRunningMin(cum2, Seq(col("h")), col("cHi"))
              .withColumnRenamed("cum", "mHi"),
            Seq(col("h")), col("cLo"))
          .withColumnRenamed("cum", "mLo")
        mins
          .withColumn("sHi", col("cHi") - least(lit(0L), col("mHi")))
          .withColumn("sLo", col("cLo") - least(lit(0L), col("mLo")))
          .where(col("sHi") > alarm || col("sLo") > alarm)
          .select(col("h"), col("cnt"),
            round(col("sHi").cast("double") / 1e6, 6).as("cusum_hi"),
            round(col("sLo").cast("double") / 1e6, 6).as("cusum_lo"),
            (col("sHi") > alarm).as("alarm_hi"),
            (col("sLo") > alarm).as("alarm_lo"))
          .orderBy("h")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS cnt
             |  FROM events GROUP BY 1),
             |st AS (
             |  SELECT COUNT(*) AS n, CAST(SUM(cnt) AS BIGINT) AS s1,
             |    CAST(SUM(cnt * cnt) AS BIGINT) AS s2
             |  FROM hourly),
             |refs AS (
             |  SELECT
             |    CAST(round((CAST(s1 AS DOUBLE) / n + 0.5 *
             |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             |        / (n - 1))) * 1e6, 0) AS BIGINT) AS refhi,
             |    CAST(round((CAST(s1 AS DOUBLE) / n - 0.5 *
             |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             |        / (n - 1))) * 1e6, 0) AS BIGINT) AS reflo,
             |    CAST(round(4.0 *
             |      sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
             |        / (n - 1)) * 1e6, 0) AS BIGINT) AS alarm
             |  FROM st),
             |cums AS (
             |  SELECT h, cnt, refs.alarm,
             |    SUM(cnt * 1000000 - refs.refhi) OVER w AS chi,
             |    SUM(refs.reflo - cnt * 1000000) OVER w AS clo
             |  FROM hourly CROSS JOIN refs
             |  WINDOW w AS (ORDER BY h ROWS UNBOUNDED PRECEDING)),
             |walk AS (
             |  SELECT h, cnt, alarm,
             |    chi - LEAST(0, MIN(chi) OVER w) AS shi,
             |    clo - LEAST(0, MIN(clo) OVER w) AS slo
             |  FROM cums
             |  WINDOW w AS (ORDER BY h ROWS UNBOUNDED PRECEDING))
             |SELECT h, cnt,
             |  round(CAST(shi AS DOUBLE) / 1e6, 6) AS cusum_hi,
             |  round(CAST(slo AS DOUBLE) / 1e6, 6) AS cusum_lo,
             |  shi > alarm AS alarm_hi,
             |  slo > alarm AS alarm_lo
             |FROM walk WHERE shi > alarm OR slo > alarm
             |ORDER BY h""".stripMargin)),

    // STL-lite seasonal decomposition of hourly traffic (✚, the
    // decomposition q221 assumes and q255 diagnoses: split the series
    // into trend (centered 25-hour moving average), a 24-slot seasonal
    // profile (mean detrended value per hour-of-day), and residual —
    // plus the STL "seasonal strength" 1 − var(resid)/var(detrended),
    // the one number that says whether the profile is signal). The
    // corpus collapses to the |hours| series first (one aggregation);
    // every window after that runs on the bounded series — the q201
    // regime, where a single-task window over |hours| rows is the
    // RIGHT plan because the series is small by construction at any
    // corpus size. Full-window trend only (edges emit no trend — the
    // honest centered-MA boundary); variances via round@9 DECIMAL
    // sums; round@6 outputs.
    QueryDef("q257_stl_decompose",
      (s, d) => {
        val wMa = Window.orderBy("h").rowsBetween(-12, 12)
        val hourly = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy("h").agg(count(lit(1)).as("cnt"))
        val tr = hourly
          .withColumn("nw", count(lit(1)).over(wMa))
          .withColumn("trend",
            when(col("nw") === 25, sum(col("cnt")).over(wMa).cast("double") / 25.0))
          .where(col("trend").isNotNull)
          .withColumn("det", col("cnt").cast("double") - col("trend"))
          .transform(pin)
        val seas = tr.groupBy(pmod(col("h"), lit(24)).as("hod"))
          .agg(count(lit(1)).as("n_obs"),
            (sum(round(col("det"), 9).cast("decimal(38,9)")).cast("double") /
              count(lit(1))).as("seasonal"))
        val joined = tr.join(broadcast(seas),
            pmod(col("h"), lit(24)) === col("hod"))
          .withColumn("resid", col("det") - col("seasonal"))
        val nAll = joined.count()
        val strength = joined.agg(
            (sum(round(col("det") * col("det"), 9).cast("decimal(38,9)"))
              .cast("double") / nAll).as("vdet"),
            (sum(round(col("resid") * col("resid"), 9).cast("decimal(38,9)"))
              .cast("double") / nAll).as("vres"))
          .select(round(greatest(lit(0.0),
            lit(1.0) - col("vres") / col("vdet")), 6).as("strength"))
        seas.crossJoin(broadcast(strength))
          .select(col("hod"), col("n_obs"), round(col("seasonal"), 6)
            .as("seasonal"), col("strength"))
          .orderBy("hod")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS cnt
             |  FROM events GROUP BY 1),
             |tr AS (
             |  SELECT h, cnt,
             |    CAST(cnt AS DOUBLE) -
             |      CAST(SUM(cnt) OVER w AS DOUBLE) / 25.0 AS det
             |  FROM hourly
             |  WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING
             |    AND 12 FOLLOWING)
             |  QUALIFY COUNT(*) OVER w = 25),
             |seas AS (
             |  SELECT h % 24 AS hod, COUNT(*) AS n_obs,
             |    CAST(SUM(CAST(round(det, 9) AS DECIMAL(38,9))) AS DOUBLE)
             |      / COUNT(*) AS seasonal
             |  FROM tr GROUP BY 1),
             |j AS (
             |  SELECT tr.det, tr.det - seas.seasonal AS resid
             |  FROM tr JOIN seas ON tr.h % 24 = seas.hod),
             |st AS (
             |  SELECT
             |    CAST(SUM(CAST(round(det * det, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) / COUNT(*) AS vdet,
             |    CAST(SUM(CAST(round(resid * resid, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) / COUNT(*) AS vres
             |  FROM j)
             |SELECT seas.hod, seas.n_obs, round(seas.seasonal, 6) AS seasonal,
             |  round(GREATEST(0.0, 1.0 - st.vres / st.vdet), 6) AS strength
             |FROM seas CROSS JOIN st ORDER BY hod""".stripMargin)),

    // Multi-window SLO burn-rate alerting (✚, the SRE alert rule
    // evaluated as a batch audit: a 5-minute error-rate spike alone is
    // noisy, a 1-hour breach alone is slow — the standard multiwindow
    // rule fires only when BOTH the fast and the enclosing slow window
    // burn the error budget faster than threshold). All rate
    // comparisons are exact INTEGER cross-products (errs·budget_den·
    // 10 > total·budget_num·thr10 — no float thresholds to disagree
    // on); the emitted burn rates are display-only doubles, round@6.
    // Scale: two tumbling-bucket aggregations (map-side combined) and
    // one equality join of 5-min buckets onto their enclosing hour.
    QueryDef("q258_burn_rate",
      (s, d) => {
        // budget = 25% errors allowed (synthetic corpus runs ~20%);
        // thresholds ×10: fast window 1.1×, slow 1.05× — integers only
        val ev = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 300000000").as("b5"),
            when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
        val fast = ev.groupBy("b5")
          .agg(count(lit(1)).as("t5"), sum(col("err")).as("e5"))
        val slow = ev.select((col("b5") * 300000000L).as("us"), col("err"))
          .select(expr("us div 3600000000").as("b60"), col("err"))
          .groupBy("b60")
          .agg(count(lit(1)).as("t60"), sum(col("err")).as("e60"))
        fast.withColumn("b60", expr("(b5 * 300000000) div 3600000000"))
          .join(slow, "b60")
          .where(col("e5") * 4L * 10L > col("t5") * 11L &&
            col("e60") * 4L * 100L > col("t60") * 105L)
          .select(col("b5"), col("t5"), col("e5"),
            round(col("e5").cast("double") * 4.0 / col("t5"), 6).as("burn5"),
            round(col("e60").cast("double") * 4.0 / col("t60"), 6).as("burn60"))
          .orderBy("b5")
      },
      Some("""WITH ev AS (
             |  SELECT epoch_us(ts) // 300000000 AS b5,
             |    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
             |  FROM events),
             |fast AS (
             |  SELECT b5, COUNT(*) AS t5, CAST(SUM(err) AS BIGINT) AS e5
             |  FROM ev GROUP BY 1),
             |slow AS (
             |  SELECT (b5 * 300000000) // 3600000000 AS b60,
             |    COUNT(*) AS t60, CAST(SUM(err) AS BIGINT) AS e60
             |  FROM ev GROUP BY 1)
             |SELECT f.b5, f.t5, f.e5,
             |  round(CAST(f.e5 AS DOUBLE) * 4.0 / f.t5, 6) AS burn5,
             |  round(CAST(s.e60 AS DOUBLE) * 4.0 / s.t60, 6) AS burn60
             |FROM fast f JOIN slow s
             |  ON (f.b5 * 300000000) // 3600000000 = s.b60
             |WHERE f.e5 * 4 * 10 > f.t5 * 11
             |  AND s.e60 * 4 * 100 > s.t60 * 105
             |ORDER BY f.b5""".stripMargin)),

    // Autocorrelation function of hourly traffic (✚, the time-series
    // diagnostic q221's seasonal profile assumes: ACF at lags 1–6
    // hours SHOWS the periodicity/stickiness instead of positing it —
    // the first thing a forecaster plots). The series is the hourly
    // event count (exact BIGINT, one map-side-combined aggregation —
    // at 100 TB the series is |hours| rows, not the corpus); each lag
    // is one equality self-join on bucket+k over that bounded series.
    // Centered products follow the round@9 DECIMAL discipline (the
    // mean is a double, so (x−m)(y−m) terms would otherwise be
    // reduction-order-dependent); denominator likewise; round@6.
    QueryDef("q255_acf",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy("h").agg(count(lit(1)).as("cnt"))
          .transform(pin)
        val st = hourly.agg(count(lit(1)), sum("cnt")).first()
        val m = st.getLong(1).toDouble / st.getLong(0)
        val dec9 = (c: org.apache.spark.sql.Column) =>
          round(c, 9).cast("decimal(38,9)")
        val den = hourly.agg(
          sum(dec9((col("cnt").cast("double") - m) *
            (col("cnt").cast("double") - m))).cast("double").as("den"))
        import s.implicits._
        val lags = broadcast(Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("k"))
        val b = hourly.select(col("h").as("h2"), col("cnt").as("cnt2"))
        hourly.crossJoin(lags)
          .join(b, col("h") + col("k") === col("h2"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_pairs"),
            sum(dec9((col("cnt").cast("double") - m) *
              (col("cnt2").cast("double") - m))).cast("double").as("num"))
          .crossJoin(broadcast(den))
          .select(col("k"), col("n_pairs"),
            round(col("num") / col("den"), 6).as("acf"))
          .orderBy("k")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(ts) // 3600000000 AS h, COUNT(*) AS cnt
             |  FROM events GROUP BY 1),
             |st AS (
             |  SELECT CAST(SUM(cnt) AS DOUBLE) / COUNT(*) AS m FROM hourly),
             |den AS (
             |  SELECT CAST(SUM(CAST(round((CAST(cnt AS DOUBLE) - st.m) *
             |    (CAST(cnt AS DOUBLE) - st.m), 9) AS DECIMAL(38,9)))
             |    AS DOUBLE) AS den
             |  FROM hourly, st),
             |lags AS (SELECT CAST(unnest([1, 2, 3, 4, 5, 6]) AS BIGINT) AS k)
             |SELECT lags.k, COUNT(*) AS n_pairs,
             |  round(CAST(SUM(CAST(round((CAST(a.cnt AS DOUBLE) - st.m) *
             |    (CAST(b.cnt AS DOUBLE) - st.m), 9) AS DECIMAL(38,9)))
             |    AS DOUBLE) / MAX(den.den), 6) AS acf
             |FROM hourly a
             |CROSS JOIN lags
             |JOIN hourly b ON a.h + lags.k = b.h
             |CROSS JOIN st CROSS JOIN den
             |GROUP BY lags.k ORDER BY lags.k""".stripMargin)),

    // Little's-law audit L = λ·W over q19's sessions (✚, the queueing
    // sanity check an ops review quotes: time-average concurrency must
    // equal arrival rate × mean dwell — and the audit computes the two
    // sides by INDEPENDENT routes, so a bug in either surfaces as
    // inequality). Left side: the event SWEEP — every session start is
    // +1, every end −1, concurrency is the prefix sum over the global
    // (ts, +1-before-−1, id) order, and L·span = Σ concurrencyᵢ·dtᵢ,
    // the area under the staircase, in exact BIGINT micros. Right
    // side: Σ durations directly. Fubini says the integers must be
    // EQUAL — the gate emits both so the driver hash forces it. The
    // sweep is two-phase (globalRowNumber + globalRunningSum over
    // 2·sessions rows, dt via an rn-keyed self-join — no single-task
    // window); peak concurrency rides the same prefix for free.
    QueryDef("q253_littles_law",
      (s, d) => {
        val sess = Relational.withSessionIds(Tables.events(s, d))
          .groupBy("user_id", "session_id")
          .agg(min(unix_micros(col("ts"))).as("st"),
            max(unix_micros(col("ts"))).as("en"))
          .transform(pin)
        val pts = sess.select(col("user_id"), col("session_id"),
            col("st").as("tsu"), lit(1L).as("delta"))
          .unionByName(sess.select(col("user_id"), col("session_id"),
            col("en").as("tsu"), lit(-1L).as("delta")))
          .withColumn("nd", -col("delta"))
        val sorted = Scale.globalRowNumber(pts,
          Seq(col("tsu"), col("nd"), col("user_id"), col("session_id")))
        val cum = Scale.globalRunningSum(sorted,
            Seq(col("tsu"), col("nd"), col("user_id"), col("session_id")),
            col("delta"))
          .transform(pin)
        val area = cum.join(
            cum.select((col("rn") - 1L).as("rn0"), col("tsu").as("nxt")),
            col("rn") === col("rn0"))
          .agg(sum(col("cum") * (col("nxt") - col("tsu"))).as("area_us"),
            max(col("cum")).as("peak")).first()
        val stats = sess.agg(count(lit(1)), sum(col("en") - col("st")),
          min("st"), max("en")).first()
        val (nSess, sumDur) = (stats.getLong(0), stats.getLong(1))
        val span = stats.getLong(3) - stats.getLong(2)
        import s.implicits._
        Seq((nSess, area.getLong(1), span / 1000000L,
            sumDur / 1000000L, area.getLong(0) / 1000000L))
          .toDF("n_sessions", "peak_concurrency", "span_s", "sum_dur_s",
            "sweep_area_s")
          .select(col("*"),
            round(col("sweep_area_s").cast("double") / (span / 1000000L), 6)
              .as("l_avg"),
            round(col("sum_dur_s").cast("double") / (span / 1000000L), 6)
              .as("lambda_w"))
      },
      Some(s"""WITH sess AS (
             |  SELECT user_id, session_id, MIN(epoch_us(ts)) AS st,
             |    MAX(epoch_us(ts)) AS en
             |  FROM (${Relational.sessionIdsSql}) si
             |  GROUP BY 1, 2),
             |pts AS (
             |  SELECT user_id, session_id, st AS tsu, 1 AS delta FROM sess
             |  UNION ALL
             |  SELECT user_id, session_id, en, -1 FROM sess),
             |walk AS (
             |  SELECT tsu, SUM(delta) OVER w AS cum,
             |    LEAD(tsu) OVER w AS nxt
             |  FROM pts
             |  WINDOW w AS (ORDER BY tsu, -delta, user_id, session_id
             |    ROWS UNBOUNDED PRECEDING)),
             |sweep AS (
             |  SELECT CAST(SUM(cum * (nxt - tsu)) AS BIGINT) AS area_us,
             |    CAST(MAX(cum) AS BIGINT) AS peak
             |  FROM walk WHERE nxt IS NOT NULL),
             |st AS (
             |  SELECT COUNT(*) AS n_sessions,
             |    CAST(SUM(en - st) AS BIGINT) AS sum_dur_us,
             |    MAX(en) - MIN(st) AS span_us
             |  FROM sess)
             |SELECT st.n_sessions, sweep.peak AS peak_concurrency,
             |  st.span_us // 1000000 AS span_s,
             |  st.sum_dur_us // 1000000 AS sum_dur_s,
             |  sweep.area_us // 1000000 AS sweep_area_s,
             |  round(CAST(sweep.area_us // 1000000 AS DOUBLE)
             |    / (st.span_us // 1000000), 6) AS l_avg,
             |  round(CAST(st.sum_dur_us // 1000000 AS DOUBLE)
             |    / (st.span_us // 1000000), 6) AS lambda_w
             |FROM st CROSS JOIN sweep""".stripMargin)),

    // Clamped (floor-at-zero) running balance (✚, the inventory /
    // credit-ledger op naive cumsum gets WRONG: stock cannot go
    // negative, and a clamp is not associative so no partial-agg
    // composes it. The rescue is the prefix-min identity
    // bₜ = Sₜ − min(0, min_{j≤t} Sⱼ) — exact floor-at-zero-with-
    // lost-sales semantics, turning the sequential clamp into TWO
    // associative prefixes (sum and min) that any window/two-phase
    // machinery computes). Ledgers are per-supplier (the
    // high-cardinality axis: per-key windows, embarrassingly
    // parallel); deltas are signed integer quantities so everything is
    // exact BIGINT. Output: end balance, peak, and the lost-demand
    // row count (clamp bound while delta < 0) per audited supplier.
    QueryDef("q249_clamped_balance",
      (s, d) => {
        // (shipdate, order, line) is NOT unique in this corpus (~20% of
        // rows share a key with another); extend the order with partkey
        // and the delta itself — remaining ties are full-tuple-identical
        // moves, and a clamp walk is invariant under permuting identical
        // deltas, so the walk is deterministic on BOTH engines
        val w = Window.partitionBy("sk")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_partkey",
            "delta")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val led = Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sk"), col("l_shipdate"),
            col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            when(pmod(col("l_orderkey"), lit(2)) === 0,
              col("l_quantity").cast("long"))
              .otherwise(-col("l_quantity").cast("long")).as("delta"))
          .withColumn("s", sum(col("delta")).over(w))
        val wRev = Window.partitionBy("sk")
          .orderBy(col("l_shipdate").desc, col("l_orderkey").desc,
            col("l_linenumber").desc, col("l_partkey").desc,
            col("delta").desc)
        val walked = led
          .withColumn("b", col("s") - least(lit(0L), min(col("s")).over(w)))
          .withColumn("rev", row_number().over(wRev))
        walked.groupBy("sk")
          .agg(count(lit(1)).as("n_moves"),
            max(col("b")).as("peak"),
            sum(when(col("b") === 0L && col("delta") < 0L, 1L).otherwise(0L))
              .as("n_lost"),
            max(when(col("rev") === 1, col("b"))).as("end_balance"))
          .select(col("sk"), col("n_moves"), col("peak"), col("n_lost"),
            col("end_balance"))
          .orderBy("sk")
      },
      Some("""WITH led AS (
             |  SELECT l_suppkey AS sk, l_shipdate, l_orderkey, l_linenumber,
             |    l_partkey,
             |    CASE WHEN l_orderkey % 2 = 0 THEN CAST(l_quantity AS BIGINT)
             |         ELSE -CAST(l_quantity AS BIGINT) END AS delta
             |  FROM lineitem),
             |sums AS (
             |  SELECT sk, delta, l_shipdate, l_orderkey, l_linenumber,
             |    l_partkey,
             |    SUM(delta) OVER (PARTITION BY sk
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
             |        delta
             |      ROWS UNBOUNDED PRECEDING) AS s
             |  FROM led),
             |walk AS (
             |  SELECT sk, delta,
             |    s - LEAST(0, MIN(s) OVER w) AS b,
             |    ROW_NUMBER() OVER (PARTITION BY sk
             |      ORDER BY l_shipdate DESC, l_orderkey DESC,
             |        l_linenumber DESC, l_partkey DESC, delta DESC) AS rev
             |  FROM sums
             |  WINDOW w AS (PARTITION BY sk
             |      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey,
             |        delta
             |      ROWS UNBOUNDED PRECEDING))
             |SELECT sk, COUNT(*) AS n_moves,
             |  CAST(MAX(b) AS BIGINT) AS peak,
             |  CAST(SUM(CASE WHEN b = 0 AND delta < 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_lost,
             |  CAST(MAX(CASE WHEN rev = 1 THEN b END) AS BIGINT)
             |    AS end_balance
             |FROM walk GROUP BY sk ORDER BY sk""".stripMargin)),

    // Markov stationary distribution of the event-type transition
    // chain (✚, "where does user behavior converge": q212 counts the
    // observed paths; the stationary π says where the chain SPENDS its
    // time in the long run — the equilibrium a capacity model loads
    // against). Transition counts come from one lag pass on the
    // high-cardinality user axis (q234's window regime) and collapse
    // to a |types|² matrix — the ONLY thing that leaves the corpus, so
    // at 100 TB the iteration cost is independent of data size. Eight
    // power-iteration rounds run on that bounded matrix (driver-side
    // here, literally the kmeansCentroids class of bounded state), and
    // parity with the oracle's unrolled SQL rounds is exact: each
    // round's fold term v[a]·P[a][b] is rounded@9 and summed as a
    // scale-9 decimal — both engines compute the identical vector at
    // every round, so 8 rounds compound zero drift; round@6 on output.
    QueryDef("q246_markov_stationary",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"), col("event_id"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .where(col("prev").isNotNull)
          .groupBy(col("prev").as("a"), col("event_type").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val rowSum = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        val p = trans.map { case (a, b, c) => (a, b, c.toDouble / rowSum(a)) }
        val srcs = p.map(_._1).distinct.sorted
        var v: Map[String, Double] = srcs.map(_ -> 1.0 / srcs.length).toMap
        for (_ <- 1 to 8) {
          v = p.filter(e => v.contains(e._1))
            .groupBy(_._2).view.mapValues { es =>
              es.map { case (a, _, pp) =>
                BigDecimal.valueOf(v(a) * pp)
                  .setScale(9, BigDecimal.RoundingMode.HALF_UP)
              }.sum.toDouble
            }.toMap
        }
        v.toSeq.toDF("event_type", "pi")
          .select(col("event_type"), round(col("pi"), 6).as("pi"))
          .orderBy("event_type")
      },
      Some {
        val rounds = (1 to 8).map { k =>
          s"""v$k AS (
             |  SELECT p.b AS t,
             |    CAST(SUM(CAST(round(v.v * p.p, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) AS v
             |  FROM v${k - 1} v JOIN pm p ON p.a = v.t GROUP BY p.b)""".stripMargin
        }.mkString(",\n")
        s"""WITH tr AS (
           |  SELECT prev AS a, event_type AS b, COUNT(*) AS c FROM (
           |    SELECT event_type,
           |      LAG(event_type) OVER (PARTITION BY user_id
           |        ORDER BY epoch_us(ts), event_id) AS prev
           |    FROM events) q
           |  WHERE prev IS NOT NULL GROUP BY 1, 2),
           |pm AS (
           |  SELECT a, b, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY a) AS p
           |  FROM tr),
           |v0 AS (
           |  SELECT a AS t,
           |    CAST(1.0 AS DOUBLE) / (SELECT COUNT(DISTINCT a) FROM pm) AS v
           |  FROM (SELECT DISTINCT a FROM pm) s),
           |$rounds
           |SELECT t AS event_type, round(v, 6) AS pi
           |FROM v8 ORDER BY event_type""".stripMargin
      }),

    // Absorption probabilities of the event-type chain (✚, q246's
    // equilibrium asks where the chain SPENDS time; this asks how it
    // ENDS: with 'purchase' and 'error' made absorbing, what is each
    // transient state's probability of converting before failing —
    // the funnel-prognosis number per current state). Same bounded
    // |types|² matrix as q246 (the corpus collapses once); 16
    // value-iteration rounds p ← P·p with p(purchase)=1, p(error)=0,
    // each fold term rounded@9 into a scale-9 decimal sum — both
    // engines iterate on identical vectors, zero compounded drift;
    // round@6 out.
    QueryDef("q282_absorption",
      (s, d) => {
        import s.implicits._
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val trans = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"), col("event_id"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .where(col("prev").isNotNull)
          .groupBy(col("prev").as("a"), col("event_type").as("b"))
          .agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val rowSum = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        val p = trans.map { case (a, b, c) => (a, b, c.toDouble / rowSum(a)) }
        val states = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
        def base(st: String) = st match {
          case "purchase" => 1.0
          case "error" => 0.0
          case _ => 0.0
        }
        var v: Map[String, Double] = states.map(st => st -> base(st)).toMap
        for (_ <- 1 to 16) {
          val next = p.filter(e =>
              e._1 != "purchase" && e._1 != "error" && v.contains(e._2))
            .groupBy(_._1).view.mapValues { es =>
              es.map { case (_, b, pp) =>
                BigDecimal.valueOf(pp * v(b))
                  .setScale(9, BigDecimal.RoundingMode.HALF_UP)
              }.sum.toDouble
            }.toMap
          v = states.map { st =>
            st -> (if (st == "purchase") 1.0 else if (st == "error") 0.0
                   else next.getOrElse(st, 0.0))
          }.toMap
        }
        states.filter(st => st != "purchase" && st != "error")
          .map(st => (st, v(st))).toSeq.toDF("state", "p_convert")
          .select(col("state"), round(col("p_convert"), 6).as("p_convert"))
          .orderBy("state")
      },
      Some {
        val rounds = (1 to 16).map { k =>
          s"""v$k AS (
             |  SELECT s.st,
             |    CASE WHEN s.st = 'purchase' THEN CAST(1.0 AS DOUBLE)
             |         WHEN s.st = 'error' THEN CAST(0.0 AS DOUBLE)
             |         ELSE COALESCE((
             |           SELECT CAST(SUM(CAST(round(pm.p * v.v, 9)
             |             AS DECIMAL(38,9))) AS DOUBLE)
             |           FROM pm JOIN v${k - 1} v ON pm.b = v.st
             |           WHERE pm.a = s.st), CAST(0.0 AS DOUBLE))
             |    END AS v
             |  FROM states s)""".stripMargin
        }.mkString(",\n")
        s"""WITH tr AS (
           |  SELECT prev AS a, event_type AS b, COUNT(*) AS c FROM (
           |    SELECT event_type,
           |      LAG(event_type) OVER (PARTITION BY user_id
           |        ORDER BY epoch_us(ts), event_id) AS prev
           |    FROM events) q
           |  WHERE prev IS NOT NULL GROUP BY 1, 2),
           |pm AS (
           |  SELECT a, b, CAST(c AS DOUBLE) / SUM(c) OVER (PARTITION BY a)
           |    AS p
           |  FROM tr),
           |states AS (
           |  SELECT DISTINCT a AS st FROM tr
           |  UNION SELECT DISTINCT b FROM tr),
           |v0 AS (
           |  SELECT st, CASE WHEN st = 'purchase' THEN CAST(1.0 AS DOUBLE)
           |                  ELSE CAST(0.0 AS DOUBLE) END AS v
           |  FROM states),
           |$rounds
           |SELECT st AS state, round(v, 6) AS p_convert
           |FROM v16 WHERE st NOT IN ('purchase', 'error')
           |ORDER BY state""".stripMargin
      }),

    // Per-user time-weighted average (✚, the TWAP/hold-last mean: a
    // metric sampled at irregular instants is averaged by HOW LONG each
    // reading held, not how often it was sampled — the standard fix for
    // "the average is dominated by the chattiest interval"). Each row's
    // contribution is prev_value·(ts − prev_ts): one lag window
    // partitioned by user_id — embarrassingly parallel at 100 TB
    // because users are the high-cardinality axis (q225's regime;
    // the |keys|-ceiling fix q213 needs applies when the partition key
    // is LOW-cardinality, not here). Weighted sums follow the q215
    // discipline: the double product is rounded@9 then summed as
    // DECIMAL(38,9) — exact, order-independent — so Spark's and
    // DuckDB's reduction orders cannot diverge; doubles reappear only
    // in the final division, round@6, identical expression shape.
    QueryDef("q234_twap",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val ev = Tables.events(s, d).select(col("user_id"),
            unix_micros(col("ts")).as("tsu"), col("event_id"), col("value"))
          .withColumn("ptsu", lag("tsu", 1).over(w))
          .withColumn("pv", lag("value", 1).over(w))
        ev.where(col("ptsu").isNotNull)
          .groupBy("user_id")
          .agg((count(lit(1)) + lit(1L)).as("n_events"),
            round((max(col("tsu")) - min(col("ptsu"))).cast("double") / 1e6, 6)
              .as("span_s"),
            round(sum(round(col("pv") *
                ((col("tsu") - col("ptsu")).cast("double") / 1e6), 9)
                .cast("decimal(38,9)")).cast("double") /
              ((max(col("tsu")) - min(col("ptsu"))).cast("double") / 1e6), 6)
              .as("twap"))
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value,
             |    LAG(epoch_us(ts)) OVER w AS ptsu,
             |    LAG(value) OVER w AS pv
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
             |SELECT user_id, COUNT(*) + 1 AS n_events,
             |  round(CAST(MAX(tsu) - MIN(ptsu) AS DOUBLE) / 1e6, 6) AS span_s,
             |  round(CAST(SUM(CAST(round(pv * (CAST(tsu - ptsu AS DOUBLE) / 1e6),
             |      9) AS DECIMAL(38,9))) AS DOUBLE) /
             |    (CAST(MAX(tsu) - MIN(ptsu) AS DOUBLE) / 1e6), 6) AS twap
             |FROM ev WHERE ptsu IS NOT NULL
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Co-purchase item-item recommendations (✚, the classic
    // "customers who bought X also bought Y": cosine over the binary
    // order×part incidence — n_ab/√(n_a·n_b) — top-3 neighbors per
    // part). Pair generation is q238's basket discipline: a self-join
    // keyed by l_orderkey, so the blowup is Σ C(basket,2) — bounded
    // by basket size, never |parts|². Part frequencies join back on
    // the 8-byte part key; the per-part cut is the bounded TopK FOLD
    // (q86/q271's typed Aggregator — partial 3-row heaps merge
    // map-side, no window over the doubled pair table). Determinism:
    // integer counts, cosine round@6, neighbor-id tiebreak inside
    // the fold's (−score, id) cap — a total order both engines see.
    QueryDef("q284_copurchase_recs",
      (s, d) => {
        val b = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct().transform(pin)
        val cnt = b.groupBy("pk").agg(count(lit(1)).as("np"))
        val pr = b.select(col("ok"), col("pk").as("pa"))
          .join(b.select(col("ok"), col("pk").as("pb")), "ok")
          .where(col("pa") < col("pb"))
          .groupBy("pa", "pb").agg(count(lit(1)).as("nab"))
          .where(col("nab") >= 2)
        val sym = pr.unionAll(pr.select(col("pb").as("pa"),
          col("pa").as("pb"), col("nab")))
        val sc = sym
          .join(cnt.select(col("pk").as("pa"), col("np").as("na")), "pa")
          .join(cnt.select(col("pk").as("pb"), col("np").as("nb")), "pb")
          .select(col("pa").as("pk"), col("pb").as("rec"),
            round(col("nab").cast("double") /
              sqrt(col("na").cast("double") * col("nb").cast("double")), 6)
              .as("cos"))
        // per-part cut: pk is the HIGH-cardinality axis, so a rank
        // window is scale-safe here (the q29/q34 regime — the fold is
        // for low-cardinality group axes like q86/q271's source) and
        // skips the typed fold's encoder round-trip; measured at 10x
        // the two forms are within box noise of each other, and the
        // stage profile puts the cost in pair generation (the
        // inherent part), not the cut
        val w = Window.partitionBy("pk").orderBy(col("cos").desc, col("rec"))
        sc.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3)
          .select("pk", "rank", "rec", "cos")
          .orderBy("pk", "rank")
      },
      Some("""WITH b AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |  FROM lineitem),
             |cnt AS (SELECT pk, COUNT(*) AS np FROM b GROUP BY pk),
             |pr AS (
             |  SELECT x.pk AS pa, y.pk AS pb, COUNT(*) AS nab
             |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
             |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
             |sym AS (
             |  SELECT pa, pb, nab FROM pr
             |  UNION ALL SELECT pb AS pa, pa AS pb, nab FROM pr),
             |sc AS (
             |  SELECT s.pa AS pk, s.pb AS rec,
             |    round(CAST(s.nab AS DOUBLE) /
             |      sqrt(CAST(ca.np AS DOUBLE) * CAST(cb.np AS DOUBLE)), 6)
             |      AS cos
             |  FROM sym s
             |  JOIN cnt ca ON s.pa = ca.pk
             |  JOIN cnt cb ON s.pb = cb.pk),
             |r AS (
             |  SELECT pk, rec, cos,
             |    ROW_NUMBER() OVER (PARTITION BY pk
             |      ORDER BY cos DESC, rec) AS rank
             |  FROM sc)
             |SELECT pk, rank, rec, cos FROM r WHERE rank <= 3
             |ORDER BY pk, rank""".stripMargin)),

    // Benford first-digit audit (✚, the forensic data-quality screen:
    // organically-generated amounts follow log10(1+1/d); fabricated or
    // truncated feeds don't — the chi-square contributions say WHICH
    // digit bucket deviates). The first digit is extracted from the
    // exact integer CENTS via string head (no float log on data — a
    // power-of-10 boundary value can round log10 across the digit
    // fence; the string head cannot), so the digit histogram is ONE
    // map-side-combined 9-cell aggregation — nothing else leaves the
    // corpus at 100 TB. Benford expectations are log10 on the 9
    // CONSTANTS, round@9 on both engines (the q267 ln discipline);
    // chi-square terms combine in identical double shape, round@6.
    QueryDef("q285_benford",
      (s, d) => {
        val dig = substring(
          round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
          1, 1).cast("int")
        val hist = Tables.orders(s, d)
          .select(dig.as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_d"))
        val tot = hist.agg(sum(col("n_d")).as("n")).select(col("n"))
        val p = round(log10(lit(1.0) + lit(1.0) / col("digit").cast("double")), 9)
        hist.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_d"),
            round(col("n_d").cast("double") / col("n"), 6).as("share"),
            round(p, 6).as("p_exp"),
            round(
              (col("n_d").cast("double") - col("n") * p) *
                (col("n_d").cast("double") - col("n") * p) /
                (col("n") * p), 6).as("chi2_term"))
          .orderBy("digit")
      },
      Some("""WITH h AS (
             |  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
             |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             |    COUNT(*) AS n_d
             |  FROM orders GROUP BY 1),
             |n AS (SELECT CAST(SUM(n_d) AS BIGINT) AS n FROM h)
             |SELECT digit, n_d,
             |  round(CAST(n_d AS DOUBLE) / n.n, 6) AS share,
             |  round(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9), 6)
             |    AS p_exp,
             |  round((CAST(n_d AS DOUBLE) - n.n *
             |      round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)) *
             |    (CAST(n_d AS DOUBLE) - n.n *
             |      round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)) /
             |    (n.n * round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 9)),
             |    6) AS chi2_term
             |FROM h CROSS JOIN n ORDER BY digit""".stripMargin)),

    // Theil–Sen robust trend of weekly revenue (✚, the slope estimate
    // an outlier week cannot drag: the MEDIAN of all pairwise slopes,
    // reported against the OLS slope whose gap flags contamination).
    // The corpus collapses to the calendar-bounded weekly series
    // first (epoch-week integer key, cents-exact BIGINT revenue —
    // one map-side-combined aggregation; at 100 TB the series is
    // still ~360 rows, so the C(n,2) pair table is ~65k rows of two
    // doubles — data-size-INDEPENDENT from there). Slopes are exact
    // IEEE divisions of integers (identical both engines); the median
    // ranks resolve via bounded TakeOrderedAndProject heaps, never a
    // corpus sort; OLS moments are exact DECIMAL sums combined in
    // identical double shape (the Spearman discipline), round@6.
    QueryDef("q286_theil_sen",
      (s, d) => {
        val wkly = Tables.lineitem(s, d)
          // l_shipdate ships as TIMESTAMP_NTZ; session-UTC cast keeps
          // micros-since-epoch identical to DuckDB's naive epoch_us
          .select(expr("CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
              "div 604800000000 AS BIGINT)").as("wk"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
          .groupBy("wk").agg(sum(col("cents")).as("rc"))
          .transform(pin)
        val nW = wkly.count()
        val nP = nW * (nW - 1) / 2
        val slopes = wkly.select(col("wk").as("wa"), col("rc").as("ra"))
          .join(wkly.select(col("wk").as("wb"), col("rc").as("rb")),
            col("wa") < col("wb"))
          .select(((col("rb") - col("ra")).cast("double") /
            (col("wb") - col("wa")).cast("double")).as("s"))
        def kth(k: Long): Double = slopes
          .orderBy(col("s")).limit(k.toInt)
          .orderBy(col("s").desc).limit(1).first().getDouble(0)
        val med = (kth((nP + 1) / 2) + kth(nP / 2 + 1)) / 2
        wkly.agg(
            sum(col("wk").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("rc").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("wk") * col("rc")).cast("decimal(38,0)")).cast("double")
              .as("sxy"),
            sum((col("wk") * col("wk")).cast("decimal(38,0)")).cast("double")
              .as("sxx"))
          .select(lit(nW).as("n_weeks"), lit(nP).as("n_pairs"),
            round(lit(med), 6).as("ts_slope"),
            round((lit(nW.toDouble) * col("sxy") - col("sx") * col("sy")) /
              (lit(nW.toDouble) * col("sxx") - col("sx") * col("sx")), 6)
              .as("ols_slope"))
      },
      Some("""WITH wkly AS (
             |  SELECT epoch_us(l_shipdate) // 604800000000 AS wk,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS rc
             |  FROM lineitem GROUP BY 1),
             |sl AS (
             |  SELECT CAST(b.rc - a.rc AS DOUBLE) /
             |    CAST(b.wk - a.wk AS DOUBLE) AS s
             |  FROM wkly a JOIN wkly b ON a.wk < b.wk),
             |n AS (
             |  SELECT COUNT(*) AS nw,
             |    (COUNT(*) * (COUNT(*) - 1)) // 2 AS np
             |  FROM wkly),
             |r AS (SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rn FROM sl),
             |med AS (
             |  SELECT ((SELECT s FROM r, n WHERE rn = (n.np + 1) // 2) +
             |          (SELECT s FROM r, n WHERE rn = n.np // 2 + 1)) / 2
             |    AS m),
             |ols AS (
             |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             |    CAST(SUM(CAST(wk AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(rc AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(wk * rc AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(wk * wk AS DECIMAL(38,0))) AS DOUBLE) AS sxx
             |  FROM wkly)
             |SELECT n.nw AS n_weeks, n.np AS n_pairs,
             |  round(med.m, 6) AS ts_slope,
             |  round((o.n * o.sxy - o.sx * o.sy) /
             |        (o.n * o.sxx - o.sx * o.sx), 6) AS ols_slope
             |FROM n, med, ols o""".stripMargin)),

    // Seasonal-naive forecast backtest (✚, the forecasting floor every
    // model must beat: predict each hour's event value by the value
    // 24 hours earlier, score MAE against the same-series 1-hour-lag
    // naive — skill < 1 means daily seasonality is real and a
    // capacity forecast should use it). The corpus collapses to the
    // calendar-bounded hourly series (epoch-hour integer key,
    // cents-exact sums) in ONE map-side-combined pass; both forecast
    // joins are then equality joins on the bounded series — at 100 TB
    // nothing after the first aggregation scales with data. Absolute
    // errors stay exact BIGINTs until the final divisions, round@6.
    QueryDef("q288_seasonal_naive",
      (s, d) => {
        val hourly = Tables.events(s, d)
          .select(expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)")
              .as("hr"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .groupBy("hr").agg(sum(col("cents")).as("vc"))
          .transform(pin)
        val j = hourly
          .join(hourly.select((col("hr") + 24).as("hr"),
            col("vc").as("v24")), "hr")
          .join(hourly.select((col("hr") + 1).as("hr"),
            col("vc").as("v1")), "hr")
        j.agg(count(lit(1)).as("n_hours"),
            sum(abs(col("vc") - col("v24"))).as("se"),
            sum(abs(col("vc") - col("v1"))).as("ne"))
          .select(col("n_hours"),
            round(col("se").cast("double") / col("n_hours") / 100, 6)
              .as("mae_seasonal"),
            round(col("ne").cast("double") / col("n_hours") / 100, 6)
              .as("mae_naive"),
            round(col("se").cast("double") / col("ne"), 6).as("skill"))
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(ts) // 3600000000 AS hr,
             |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             |      AS vc
             |  FROM events GROUP BY 1),
             |j AS (
             |  SELECT h.hr, h.vc, s24.vc AS v24, s1.vc AS v1
             |  FROM hourly h
             |  JOIN hourly s24 ON h.hr = s24.hr + 24
             |  JOIN hourly s1 ON h.hr = s1.hr + 1)
             |SELECT COUNT(*) AS n_hours,
             |  round(CAST(SUM(abs(vc - v24)) AS DOUBLE) / COUNT(*) / 100, 6)
             |    AS mae_seasonal,
             |  round(CAST(SUM(abs(vc - v1)) AS DOUBLE) / COUNT(*) / 100, 6)
             |    AS mae_naive,
             |  round(CAST(SUM(abs(vc - v24)) AS DOUBLE) / SUM(abs(vc - v1)),
             |    6) AS skill
             |FROM j""".stripMargin)),

    // Lead–lag cross-correlation between event-type series (✚, the
    // "does signup activity LEAD purchases, and by how many hours"
    // question — q255's autocorrelation asks it of one series; this
    // screens every ordered type pair at lags 0–6 and reports the
    // best lag). The corpus collapses to the calendar-bounded
    // (type, hour) series in ONE map-side pass; everything after —
    // the 7-row lag attach, the shifted equality self-join, the
    // per-(pair, lag) Pearson moments — works on |types|×|hours|
    // rows, data-size-INDEPENDENT at 100 TB. Moments are exact
    // DECIMAL sums of integer cents products, combined in identical
    // double shape (the Spearman discipline), round@6; the best-lag
    // cut is a bounded 7-row window per pair (corr desc, lag asc).
    QueryDef("q289_lead_lag",
      (s, d) => {
        import s.implicits._
        val ser = Tables.events(s, d)
          .select(col("event_type").as("t"),
            expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)").as("hr"),
            round(col("value") * 100, 0).cast("long").as("c"))
          .groupBy("t", "hr").agg(sum(col("c")).as("v"))
          .transform(pin)
        val lags = (0 to 6).toDF("lag")
        val a = ser.select(col("t").as("ta"), col("hr"), col("v").as("x"))
          .crossJoin(broadcast(lags))
        val b = ser.crossJoin(broadcast(lags))
          .select(col("t").as("tb"), (col("hr") - col("lag")).as("hr"),
            col("v").as("y"), col("lag"))
        // b's hr is shifted by the SAME lag value, so the equality join
        // on (hr, lag) aligns x[t] with y[t+lag]
        val j = a.join(b.as("bb"), Seq("hr", "lag"))
          .where(col("ta") =!= col("tb"))
        val m = j.groupBy("ta", "tb", "lag")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
            sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
            sum((col("x") * col("y")).cast("decimal(38,0)")).cast("double")
              .as("sxy"),
            sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double")
              .as("sxx"),
            sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double")
              .as("syy"))
          .select(col("ta"), col("tb"), col("lag"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
               sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr"))
        val w = Window.partitionBy("ta", "tb")
          .orderBy(col("corr").desc, col("lag"))
        m.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("ta"), col("tb"), col("lag").cast("long").as("best_lag"),
            col("corr").as("best_corr"))
          .orderBy("ta", "tb")
      },
      Some("""WITH ser AS (
             |  SELECT event_type AS t, epoch_us(ts) // 3600000000 AS hr,
             |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             |      AS v
             |  FROM events GROUP BY 1, 2),
             |lags AS (SELECT UNNEST(range(0, 7)) AS lag),
             |j AS (
             |  SELECT a.t AS ta, b.t AS tb, l.lag, a.v AS x, b.v AS y
             |  FROM ser a CROSS JOIN lags l
             |  JOIN ser b ON b.hr = a.hr + l.lag AND a.t <> b.t),
             |m AS (
             |  SELECT ta, tb, lag, CAST(COUNT(*) AS BIGINT) AS n,
             |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
             |    CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
             |  FROM j GROUP BY 1, 2, 3),
             |sc AS (
             |  SELECT ta, tb, lag,
             |    round((n * sxy - sx * sy) /
             |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             |      AS corr
             |  FROM m),
             |r AS (
             |  SELECT ta, tb, lag, corr,
             |    ROW_NUMBER() OVER (PARTITION BY ta, tb
             |      ORDER BY corr DESC, lag) AS rn
             |  FROM sc)
             |SELECT ta, tb, lag AS best_lag, corr AS best_corr
             |FROM r WHERE rn = 1 ORDER BY ta, tb""".stripMargin)),

    // Funnel time-to-convert percentiles (✚, q100 counts WHO converts;
    // this says HOW FAST: per user, latency from first 'view' to the
    // first 'purchase' after it, with p25/p50/p90 resolved through
    // selectKths' bounded refinement — one shared round series for all
    // three ranks, never a sort of the latency table). First-view is
    // one map-side-combined min per user; the qualifying purchase min
    // re-keys by the 8-byte user id only. Integer-exact ranks
    // (ceil(q·n) = (q·n+99)//100 both engines); latencies are integer
    // micros so the selected values are exact, surfaced in seconds
    // round@6.
    QueryDef("q290_time_to_convert",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"))
        val tv = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tsu")).as("tv"))
        val lat = ev.where(col("event_type") === "purchase")
          .join(tv, "user_id")
          .where(col("tsu") > col("tv"))
          .groupBy("user_id").agg((min(col("tsu")) - min(col("tv")))
            .as("lat"))
          .transform(pin)
        val n = lat.count()
        def k(q: Long) = (q * n + 99) / 100
        val qs = OrderStats.selectKths(lat, col("lat"),
          Seq(k(25), k(50), k(90)))
        lat.agg(count(lit(1)).as("n_users"))
          .select(col("n_users"),
            round(lit(qs(k(25))) / 1e6, 6).as("p25_s"),
            round(lit(qs(k(50))) / 1e6, 6).as("p50_s"),
            round(lit(qs(k(90))) / 1e6, 6).as("p90_s"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |tv AS (
             |  SELECT user_id, MIN(tsu) AS tv FROM ev
             |  WHERE event_type = 'view' GROUP BY 1),
             |lat AS (
             |  SELECT ev.user_id, MIN(ev.tsu) - MIN(tv.tv) AS lat
             |  FROM ev JOIN tv ON ev.user_id = tv.user_id
             |  WHERE ev.event_type = 'purchase' AND ev.tsu > tv.tv
             |  GROUP BY 1),
             |r AS (
             |  SELECT lat, ROW_NUMBER() OVER (ORDER BY lat) AS rn FROM lat),
             |n AS (SELECT COUNT(*) AS n FROM lat)
             |SELECT n.n AS n_users,
             |  round((SELECT lat FROM r, n WHERE rn = (25 * n.n + 99) // 100)
             |    / 1e6, 6) AS p25_s,
             |  round((SELECT lat FROM r, n WHERE rn = (50 * n.n + 99) // 100)
             |    / 1e6, 6) AS p50_s,
             |  round((SELECT lat FROM r, n WHERE rn = (90 * n.n + 99) // 100)
             |    / 1e6, 6) AS p90_s
             |FROM n""".stripMargin)),

    // Haar wavelet energy decomposition (✚, the poor-man's spectrum
    // that needs no FFT and no floats: which time scales carry the
    // hourly revenue signal's variation — hour-to-hour jitter, daily
    // structure, or week-scale drift. Unnormalized Haar keeps EVERY
    // number an exact integer: level k pairs adjacent values into
    // sum and difference, energy_k = Σ diff², all in DECIMAL(38,0)).
    // The corpus collapses to the dense 512-hour cents series in one
    // map-side pass (missing hours are exact zeros); the 9-level
    // cascade runs on that bounded vector driver-side (the q246
    // class), and the oracle replays it as 9 unrolled grouped CTEs —
    // integer arithmetic end to end, so parity is exact, not
    // rounded. Energies surface as DOUBLE (< 2^53 at any tested SF)
    // with the per-level share round@6.
    QueryDef("q291_haar_energy",
      (s, d) => {
        import s.implicits._
        val N = 512
        val hourly = Tables.events(s, d)
          .select(expr("CAST(unix_micros(ts) div 3600000000 AS BIGINT)")
              .as("hr"),
            round(col("value") * 100, 0).cast("long").as("c"))
          .groupBy("hr").agg(sum(col("c")).as("v"))
        val h0 = hourly.agg(min(col("hr"))).first().getLong(0)
        val vals = hourly.select((col("hr") - h0).as("idx"), col("v"))
          .where(col("idx") < N)
          .collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
        var series = Array.tabulate(N)(i => BigInt(vals.getOrElse(i, 0L)))
        val levels = Seq.newBuilder[(Int, Long, BigInt)]
        var level = 1
        while (series.length > 1) {
          val n = series.length / 2
          val sums = Array.tabulate(n)(i => series(2 * i) + series(2 * i + 1))
          val diffs = Array.tabulate(n)(i => series(2 * i) - series(2 * i + 1))
          levels += ((level, n.toLong, diffs.map(x => x * x).sum))
          series = sums
          level += 1
        }
        val rows = levels.result()
        val total = rows.map(_._3).sum.toDouble
        rows.map { case (l, n, e) => (l, n, e.toDouble) }
          .toDF("level", "n_pairs", "energy")
          .select(col("level").cast("int").as("level"), col("n_pairs"),
            col("energy"),
            round(col("energy") / lit(total), 6).as("share"))
          .orderBy("level")
      },
      Some {
        val levels = (1 to 9).map { k =>
          s"""l$k AS MATERIALIZED (
             |  SELECT idx // 2 AS idx, SUM(v) AS v,
             |    SUM(CASE WHEN idx % 2 = 0 THEN v ELSE -v END) AS d
             |  FROM l${k - 1} GROUP BY 1)""".stripMargin
        }.mkString(",\n")
        val arms = (1 to 9).map { k =>
          s"SELECT $k AS level, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
            s"SUM(CAST(d * d AS DECIMAL(38,0))) AS energy_d FROM l$k"
        }.mkString("\nUNION ALL ")
        s"""WITH hourly AS (
           |  SELECT epoch_us(ts) // 3600000000 AS hr,
           |    CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
           |  FROM events GROUP BY 1),
           |h0 AS (SELECT MIN(hr) AS h0 FROM hourly),
           |l0 AS MATERIALIZED (
           |  SELECT g.i AS idx, COALESCE(h.v, 0) AS v
           |  FROM (SELECT UNNEST(range(0, 512)) AS i) g
           |  LEFT JOIN (SELECT hr - h0.h0 AS idx, v FROM hourly, h0) h
           |    ON h.idx = g.i),
           |$levels,
           |e AS MATERIALIZED (
           |$arms),
           |tot AS (SELECT CAST(SUM(energy_d) AS DOUBLE) AS t FROM e)
           |SELECT level, n_pairs, CAST(energy_d AS DOUBLE) AS energy,
           |  round(CAST(energy_d AS DOUBLE) / tot.t, 6) AS share
           |FROM e CROSS JOIN tot ORDER BY level""".stripMargin
      }),

    // Two-proportion uplift screen (✚, the comparative follow-up to
    // q272's per-source Wilson CIs: on days a user hit an 'error', do
    // they convert less? Reports both cohorts' conversion, the risk
    // ratio, and the pooled two-proportion z — the first number an
    // incident review asks for). The analysis unit is (user, day) —
    // the user axis alone is too coarse on this corpus (every user
    // hits an error eventually; day cells make exposure an actual
    // split). One map-side-combined boolean aggregation per unit, one
    // 4-cell contingency collapse — nothing corpus-sized after the
    // first groupBy at 100 TB. Counts stay exact integers; the z and
    // ratio combine in identical double shape, round@6.
    QueryDef("q292_uplift_screen",
      (s, d) => {
        val u = Tables.events(s, d)
          .groupBy(col("user_id"),
            expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
              .as("day"))
          .agg(max(when(col("event_type") === "error", 1).otherwise(0))
              .as("exposed"),
            max(when(col("event_type") === "purchase", 1).otherwise(0))
              .as("converted"))
        val wide = u.agg(
          sum(when(col("exposed") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("exposed") === 1, col("converted").cast("long"))
            .otherwise(0L)).as("k1"),
          sum(when(col("exposed") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("exposed") === 0, col("converted").cast("long"))
            .otherwise(0L)).as("k0"))
        wide.select(col("n1"), col("k1"), col("n0"), col("k0"),
            round(col("k1").cast("double") / col("n1"), 6).as("p1"),
            round(col("k0").cast("double") / col("n0"), 6).as("p0"),
            round((col("k1").cast("double") / col("n1")) /
              (col("k0").cast("double") / col("n0")), 6).as("risk_ratio"),
            round(
              (col("k1").cast("double") / col("n1") -
               col("k0").cast("double") / col("n0")) /
              sqrt(((col("k1") + col("k0")).cast("double") /
                    (col("n1") + col("n0"))) *
                   (lit(1.0) - (col("k1") + col("k0")).cast("double") /
                    (col("n1") + col("n0"))) *
                   (lit(1.0) / col("n1") + lit(1.0) / col("n0"))), 6)
              .as("z"))
      },
      Some("""WITH u AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
             |    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             |      AS exposed,
             |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS converted
             |  FROM events GROUP BY 1, 2),
             |w AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN exposed = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n1,
             |    CAST(SUM(CASE WHEN exposed = 1 THEN converted ELSE 0 END)
             |      AS BIGINT) AS k1,
             |    CAST(SUM(CASE WHEN exposed = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n0,
             |    CAST(SUM(CASE WHEN exposed = 0 THEN converted ELSE 0 END)
             |      AS BIGINT) AS k0
             |  FROM u)
             |SELECT n1, k1, n0, k0,
             |  round(CAST(k1 AS DOUBLE) / n1, 6) AS p1,
             |  round(CAST(k0 AS DOUBLE) / n0, 6) AS p0,
             |  round((CAST(k1 AS DOUBLE) / n1) / (CAST(k0 AS DOUBLE) / n0), 6)
             |    AS risk_ratio,
             |  round((CAST(k1 AS DOUBLE) / n1 - CAST(k0 AS DOUBLE) / n0) /
             |    sqrt((CAST(k1 + k0 AS DOUBLE) / (n1 + n0)) *
             |         (1.0 - CAST(k1 + k0 AS DOUBLE) / (n1 + n0)) *
             |         (1.0 / n1 + 1.0 / n0)), 6) AS z
             |FROM w""".stripMargin)),

    // Price/volume/mix revenue decomposition (✚, the BI question
    // behind every period-over-period revenue delta: did we charge
    // MORE (price), sell MORE (volume), or sell a DIFFERENT BASKET
    // (mix)? The three-factor split per part type: price effect
    // (p_b−p_a)·v_b, volume effect p_a·v_a·(G−1) with G the TOTAL
    // volume growth, mix effect p_a·(v_b−v_a·G) — the three sum to
    // the segment's revenue delta EXACTLY by construction, and
    // Batch11Spec asserts that identity). The corpus collapses to
    // |types|×2 cells in ONE aggregation (cents-exact revenue,
    // integral quantities as BIGINT); the part-type attach is a
    // broadcast dimension join; effects combine in identical double
    // shape from the exact sums, round@2 (money output).
    QueryDef("q296_price_volume_mix",
      (s, d) => {
        val per = Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)
            .select(col("p_partkey").as("l_partkey"), col("p_type"))),
            "l_partkey")
          .groupBy(col("p_type"),
            when(year(col("l_shipdate")) < 1998, "a").otherwise("b")
              .as("period"))
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
              .as("rc"),
            sum(round(col("l_quantity"), 0).cast("long")).as("v"))
          .transform(pin)
        val a = per.where(col("period") === "a")
          .select(col("p_type"), col("rc").as("rc_a"), col("v").as("v_a"))
        val b = per.where(col("period") === "b")
          .select(col("p_type"), col("rc").as("rc_b"), col("v").as("v_b"))
        val tot = per.groupBy("period").agg(sum(col("v")).as("tv"))
        val g = tot.agg(
          (sum(when(col("period") === "b", col("tv"))).cast("double") /
           sum(when(col("period") === "a", col("tv"))).cast("double"))
            .as("g"))
        val pa = col("rc_a").cast("double") / col("v_a")
        val pb = col("rc_b").cast("double") / col("v_b")
        a.join(b, "p_type").crossJoin(broadcast(g))
          .select(col("p_type"),
            round(col("rc_a").cast("double") / 100, 2).as("rev_a"),
            round(col("rc_b").cast("double") / 100, 2).as("rev_b"),
            round((pb - pa) * col("v_b") / 100, 2).as("price_effect"),
            round(pa * col("v_a") * (col("g") - 1) / 100, 2)
              .as("volume_effect"),
            round(pa * (col("v_b") - col("v_a") * col("g")) / 100, 2)
              .as("mix_effect"))
          .orderBy("p_type")
      },
      Some("""WITH per AS (
             |  SELECT p.p_type,
             |    CASE WHEN year(l.l_shipdate) < 1998 THEN 'a' ELSE 'b' END
             |      AS period,
             |    CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS rc,
             |    CAST(SUM(CAST(round(l.l_quantity, 0) AS BIGINT)) AS BIGINT)
             |      AS v
             |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |  GROUP BY 1, 2),
             |g AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN period = 'b' THEN v END) AS DOUBLE) /
             |    CAST(SUM(CASE WHEN period = 'a' THEN v END) AS DOUBLE) AS g
             |  FROM (SELECT period, SUM(v) AS v FROM per GROUP BY 1) t)
             |SELECT a.p_type,
             |  round(CAST(a.rc AS DOUBLE) / 100, 2) AS rev_a,
             |  round(CAST(b.rc AS DOUBLE) / 100, 2) AS rev_b,
             |  round((CAST(b.rc AS DOUBLE) / b.v - CAST(a.rc AS DOUBLE) / a.v)
             |    * b.v / 100, 2) AS price_effect,
             |  round(CAST(a.rc AS DOUBLE) / a.v * a.v * (g.g - 1) / 100, 2)
             |    AS volume_effect,
             |  round(CAST(a.rc AS DOUBLE) / a.v * (b.v - a.v * g.g) / 100, 2)
             |    AS mix_effect
             |FROM per a JOIN per b
             |  ON a.p_type = b.p_type AND a.period = 'a' AND b.period = 'b'
             |CROSS JOIN g
             |ORDER BY a.p_type""".stripMargin)),

    // Trailing-window distinct users (✚, the DAU/WAU curve: per day,
    // how many distinct users were active that day and across the
    // trailing 7 days — the sliding-DISTINCT that naive windowing
    // cannot partial-aggregate, because distinct does not decompose
    // over overlapping windows). Scale shape: collapse to the
    // (user, day) DISTINCT pair table first (shuffle keyed by the
    // pair), then each pair fans out to the ≤7 target days it serves
    // (`sequence` + explode — a fixed 7× expansion of the PAIR table,
    // never the event stream) and one two-phase COUNT(DISTINCT) per
    // target day finishes it. Calendar-bounded output; exact integers
    // end to end.
    QueryDef("q297_sliding_distinct",
      (s, d) => {
        val pairs = Tables.events(s, d)
          .select(col("user_id"),
            expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)")
              .as("day"))
          .distinct().transform(pin)
        val days = pairs.select(col("day").as("d")).distinct()
        val daily = pairs.groupBy(col("day").as("d"))
          .agg(countDistinct(col("user_id")).as("u1"))
        val trailing = pairs
          .select(col("user_id"),
            explode(sequence(col("day"), col("day") + 6)).as("d"))
          .join(days, "d")
          .groupBy("d").agg(countDistinct(col("user_id")).as("u7"))
        daily.join(trailing, "d")
          .select(col("d").as("day"), col("u1"), col("u7"))
          .orderBy("day")
      },
      Some("""WITH pairs AS (
             |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |days AS (SELECT DISTINCT day AS d FROM pairs),
             |daily AS (
             |  SELECT day AS d, COUNT(DISTINCT user_id) AS u1
             |  FROM pairs GROUP BY 1),
             |tw AS (
             |  SELECT p.day + t.i AS d, p.user_id
             |  FROM pairs p, (SELECT UNNEST(range(7)) AS i) t),
             |t7 AS (
             |  SELECT tw.d, COUNT(DISTINCT tw.user_id) AS u7
             |  FROM tw JOIN days ON days.d = tw.d
             |  GROUP BY 1)
             |SELECT daily.d AS day, daily.u1, t7.u7
             |FROM daily JOIN t7 ON daily.d = t7.d
             |ORDER BY day""".stripMargin)),

    // Robust daily-revenue anomaly screen (✚, the point-outlier twin
    // of q276's CUSUM mean-shift detector: which DAYS are anomalous
    // by the modified z-score — 0.6745·(x−median)/MAD, the
    // Iglewicz–Hoaglin rule at |z| > 3.5 — where mean/stddev screens
    // are dragged by the very outliers they hunt). The corpus
    // collapses to the calendar-bounded daily cents series in one
    // map-side pass; the median and the MAD each resolve through
    // selectKth's bounded refinement (never a sort), and both are
    // exact INTEGERS (cents), so the z arithmetic is identical-shape
    // double on both engines, round@6; the flag filters on the
    // rounded value.
    QueryDef("q298_daily_anomaly",
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .select(expr("CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) " +
              "div 86400000000 AS BIGINT)").as("day"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
          .groupBy("day").agg(sum(col("c")).as("v"))
          .transform(pin)
        val n = daily.count()
        val med = OrderStats.selectKth(daily, col("v"), (n + 1) / 2).toLong
        val dev = daily.select(abs(col("v") - med).as("dv"))
        val mad = OrderStats.selectKth(dev, col("dv"), (n + 1) / 2).toLong
        daily
          .select(col("day"), round(col("v").cast("double") / 100, 2)
              .as("revenue"),
            round(lit(0.6745) * (col("v") - med).cast("double") / mad, 6)
              .as("z"))
          .where(abs(col("z")) > 3.5)
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT epoch_us(l_shipdate) // 86400000000 AS day,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS v
             |  FROM lineitem GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM daily),
             |r AS (
             |  SELECT v, ROW_NUMBER() OVER (ORDER BY v, day) AS rn
             |  FROM daily),
             |med AS (
             |  SELECT v AS m FROM r, n WHERE rn = (n.n + 1) // 2),
             |rd AS (
             |  SELECT abs(daily.v - med.m) AS dv FROM daily, med),
             |r2 AS (
             |  SELECT dv, ROW_NUMBER() OVER (ORDER BY dv) AS rn FROM rd),
             |mad AS (
             |  SELECT dv AS m FROM r2, n WHERE rn = (n.n + 1) // 2)
             |SELECT day, round(CAST(v AS DOUBLE) / 100, 2) AS revenue,
             |  round(0.6745 * CAST(v - med.m AS DOUBLE) / mad.m, 6) AS z
             |FROM daily, med, mad
             |WHERE abs(round(0.6745 * CAST(v - med.m AS DOUBLE) / mad.m, 6))
             |  > 3.5
             |ORDER BY day""".stripMargin)),

    // Percent-of-parent hierarchy shares (✚, the drill-down number a
    // BI surface puts next to every node: each nation's share of its
    // REGION's revenue and each region's share of the total — plain
    // rollup gives the levels; the parent RATIO needs each level
    // joined to its parent's aggregate). One fact aggregation at the
    // leaf (region, nation) grain — cents-exact, map-side combined —
    // then region and global totals REGROUP that bounded table (the
    // corpus is scanned once; dimension attaches broadcast). Shares
    // are exact-integer ratios in identical double shape, round@6.
    QueryDef("q300_pct_of_parent",
      (s, d) => {
        // aggregate BELOW the fact-fact join (the rewrite Catalyst
        // won't do): lineitem collapses to one cents row per order
        // before meeting orders, so the shuffle join moves |orders|
        // rows, not |lineitem| — measured 7.9 → 2.8 s (min-of-3) at sf1
        val perOrder = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("oc"))
        val leaf = perOrder
          .join(Tables.orders(s, d).select(col("o_orderkey")
            .as("l_orderkey"), col("o_custkey")), "l_orderkey")
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))),
            "o_custkey")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("c_nationkey"),
              col("n_name"), col("n_regionkey"))), "c_nationkey")
          .join(broadcast(Tables.region(s, d)
            .select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
            "n_regionkey")
          .groupBy("r_name", "n_name")
          .agg(sum(col("oc")).as("rc"))
          .transform(pin)
        val reg = leaf.groupBy(col("r_name").as("r2"))
          .agg(sum(col("rc")).as("rrc"))
        val tot = leaf.agg(sum(col("rc")).as("trc"))
        leaf.join(reg, col("r_name") === col("r2"))
          .crossJoin(broadcast(tot))
          .select(col("r_name"), col("n_name"),
            round(col("rc").cast("double") / 100, 2).as("revenue"),
            round(col("rc").cast("double") / col("rrc"), 6)
              .as("share_of_region"),
            round(col("rrc").cast("double") / col("trc"), 6)
              .as("region_share_of_total"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH leaf AS (
             |  SELECT r.r_name, n.n_name,
             |    CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS rc
             |  FROM lineitem l
             |  JOIN orders o ON l.l_orderkey = o.o_orderkey
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  JOIN region r ON n.n_regionkey = r.r_regionkey
             |  GROUP BY 1, 2),
             |reg AS (
             |  SELECT r_name AS r2, CAST(SUM(rc) AS BIGINT) AS rrc
             |  FROM leaf GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS trc FROM leaf)
             |SELECT leaf.r_name, leaf.n_name,
             |  round(CAST(rc AS DOUBLE) / 100, 2) AS revenue,
             |  round(CAST(rc AS DOUBLE) / rrc, 6) AS share_of_region,
             |  round(CAST(rrc AS DOUBLE) / trc, 6) AS region_share_of_total
             |FROM leaf JOIN reg ON leaf.r_name = reg.r2 CROSS JOIN tot
             |ORDER BY r_name, n_name""".stripMargin)),

    // Cross-table schema matching by value-set overlap (✚, the data-
    // discovery primitive: which categorical columns across the lake
    // draw from the same domain — the signal that finds undeclared
    // join keys and copy-pasted enums). Each column collapses to its
    // DISTINCT value set AT THE SOURCE (one two-phase aggregation per
    // column — the only corpus-touching work; the sets themselves are
    // domain-bounded), then one value-keyed self-join over the tiny
    // union table counts intersections and exact Jaccard =
    // |∩|/(|A|+|B|−|∩|) scores every sharing pair. Integer counts,
    // identical double shape, round@6.
    QueryDef("q301_schema_match",
      (s, d) => {
        val cols = Seq(
            "customer.c_mktsegment" -> Tables.customer(s, d).select(col("c_mktsegment")),
            "orders.o_orderstatus" -> Tables.orders(s, d).select(col("o_orderstatus")),
            "orders.o_orderpriority" -> Tables.orders(s, d).select(col("o_orderpriority")),
            "lineitem.l_returnflag" -> Tables.lineitem(s, d).select(col("l_returnflag")),
            "lineitem.l_linestatus" -> Tables.lineitem(s, d).select(col("l_linestatus")),
            "part.p_brand" -> Tables.part(s, d).select(col("p_brand")),
            "part.p_type" -> Tables.part(s, d).select(col("p_type")),
            "documents.lang" -> Tables.documents(s, d).select(col("lang")),
            "documents.source" -> Tables.documents(s, d).select(col("source")),
            "events.event_type" -> Tables.events(s, d).select(col("event_type")))
        val sets = cols.map { case (n, df) =>
          df.select(lit(n).as("cname"),
            df.columns.headOption.map(c => col(c)).get.cast("string").as("v"))
            .where(col("v").isNotNull).distinct()
        }.reduce(_.unionAll(_)).transform(pin)
        val sizes = sets.groupBy("cname").agg(count(lit(1)).as("sz"))
        val inter = sets.select(col("cname").as("ca"), col("v"))
          .join(sets.select(col("cname").as("cb"), col("v")), "v")
          .where(col("ca") < col("cb"))
          .groupBy("ca", "cb").agg(count(lit(1)).as("i"))
        inter
          .join(sizes.select(col("cname").as("ca"), col("sz").as("na")), "ca")
          .join(sizes.select(col("cname").as("cb"), col("sz").as("nb")), "cb")
          .select(col("ca"), col("cb"), col("i").as("n_shared"),
            round(col("i").cast("double") /
              (col("na") + col("nb") - col("i")), 6).as("jaccard"))
          .orderBy("ca", "cb")
      },
      Some("""WITH sets AS (
             |  SELECT DISTINCT 'customer.c_mktsegment' AS cname,
             |    c_mktsegment AS v FROM customer WHERE c_mktsegment IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'orders.o_orderstatus', o_orderstatus
             |    FROM orders WHERE o_orderstatus IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'orders.o_orderpriority', o_orderpriority
             |    FROM orders WHERE o_orderpriority IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'lineitem.l_returnflag', l_returnflag
             |    FROM lineitem WHERE l_returnflag IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'lineitem.l_linestatus', l_linestatus
             |    FROM lineitem WHERE l_linestatus IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'part.p_brand', p_brand
             |    FROM part WHERE p_brand IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'part.p_type', p_type
             |    FROM part WHERE p_type IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'documents.lang', lang
             |    FROM documents WHERE lang IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'documents.source', source
             |    FROM documents WHERE source IS NOT NULL
             |  UNION ALL SELECT DISTINCT 'events.event_type', event_type
             |    FROM events WHERE event_type IS NOT NULL),
             |sizes AS (SELECT cname, COUNT(*) AS sz FROM sets GROUP BY 1),
             |inter AS (
             |  SELECT a.cname AS ca, b.cname AS cb, COUNT(*) AS i
             |  FROM sets a JOIN sets b ON a.v = b.v AND a.cname < b.cname
             |  GROUP BY 1, 2)
             |SELECT ca, cb, i AS n_shared,
             |  round(CAST(i AS DOUBLE) / (na.sz + nb.sz - i), 6) AS jaccard
             |FROM inter
             |JOIN sizes na ON na.cname = ca
             |JOIN sizes nb ON nb.cname = cb
             |ORDER BY ca, cb""".stripMargin)),

    // Decile gain chart (✚, the lift table every scoring rule is
    // judged by: rank customers by PAST revenue, split into deciles,
    // and ask what share of FUTURE revenue each decile captures — a
    // top decile far above 10% means the score ranks). Periods are
    // q250's pre/post-1998 split; both period revenues are cents-
    // exact per customer (aggregate-below-join: lineitem collapses
    // per order before meeting orders — the q300 rewrite). The
    // global rank is Scale.globalRowNumber — two-phase, never one
    // task — and deciles are exact integer arithmetic ((rn−1)·10//n).
    // The cumulative pass runs over the 10 surviving decile rows.
    QueryDef("q302_gain_chart",
      (s, d) => {
        val perOrder = Tables.lineitem(s, d)
          .select(col("l_orderkey"),
            when(year(col("l_shipdate")) < 1998, "a").otherwise("b")
              .as("period"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
          .groupBy("l_orderkey", "period").agg(sum(col("c")).as("oc"))
        val perCust = perOrder
          .join(Tables.orders(s, d).select(col("o_orderkey")
            .as("l_orderkey"), col("o_custkey").as("ck")), "l_orderkey")
          .groupBy("ck", "period").agg(sum(col("oc")).as("rc"))
        val a = perCust.where(col("period") === "a")
          .select(col("ck"), col("rc").as("sa"))
        val b = perCust.where(col("period") === "b")
          .select(col("ck"), col("rc").as("rb"))
        val scored = a.join(b, Seq("ck"), "left")
          .select(col("ck"), col("sa"), coalesce(col("rb"), lit(0L)).as("rb"))
          .transform(pin)
        val n = scored.count()
        val rn = graft.ops.Scale.globalRowNumber(scored,
          Seq((-col("sa")).as("nsa"), col("ck")))
        val dec = rn.select(
            expr(s"CAST(((rn - 1) * 10) div $n AS BIGINT)").as("d10"),
            col("rb"))
          .groupBy("d10").agg(count(lit(1)).as("n_cust"),
            sum(col("rb")).as("rbs"))
        val tot = dec.agg(sum(col("rbs"))).first().getLong(0)
        // cumulative capture via the two-phase globalRunningSum — the
        // decile table is 10 rows, but no builder gets a partition-less
        // window (the PlanSpec walker bans the construct outright)
        graft.ops.Scale.globalRunningSum(dec, Seq(col("d10")), col("rbs"))
          .select((col("d10") + 1).as("decile"), col("n_cust"),
            round(col("rbs").cast("double") / 100, 2).as("rev_b"),
            round(col("rbs").cast("double") / tot, 6).as("capture"),
            round(col("cum").cast("double") / tot, 6).as("cum_capture"))
          .orderBy("decile")
      },
      Some("""WITH po AS (
             |  SELECT l_orderkey,
             |    CASE WHEN year(l_shipdate) < 1998 THEN 'a' ELSE 'b' END
             |      AS period,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS oc
             |  FROM lineitem GROUP BY 1, 2),
             |pc AS (
             |  SELECT o.o_custkey AS ck, po.period,
             |    CAST(SUM(po.oc) AS BIGINT) AS rc
             |  FROM po JOIN orders o ON po.l_orderkey = o.o_orderkey
             |  GROUP BY 1, 2),
             |sc AS (
             |  SELECT a.ck, a.rc AS sa, COALESCE(b.rc, 0) AS rb
             |  FROM pc a LEFT JOIN pc b
             |    ON a.ck = b.ck AND b.period = 'b'
             |  WHERE a.period = 'a'),
             |n AS (SELECT COUNT(*) AS n FROM sc),
             |r AS (
             |  SELECT rb, ROW_NUMBER() OVER (ORDER BY sa DESC, ck) AS rn
             |  FROM sc),
             |dec AS (
             |  SELECT ((rn - 1) * 10) // n.n AS d10, COUNT(*) AS n_cust,
             |    CAST(SUM(rb) AS BIGINT) AS rbs
             |  FROM r CROSS JOIN n GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rbs) AS BIGINT) AS t FROM dec)
             |SELECT d10 + 1 AS decile, n_cust,
             |  round(CAST(rbs AS DOUBLE) / 100, 2) AS rev_b,
             |  round(CAST(rbs AS DOUBLE) / tot.t, 6) AS capture,
             |  round(CAST(SUM(rbs) OVER (ORDER BY d10
             |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / tot.t, 6)
             |    AS cum_capture
             |FROM dec CROSS JOIN tot ORDER BY decile""".stripMargin)),

    // Multi-model attribution comparison (✚, the report that settles
    // the "which channel gets credit" argument with all three answers
    // side by side: first-touch, last-touch, and linear credit per
    // touch type over each purchase's trailing-24 h journey — q114
    // answers ONE model for one channel; marketing mix decisions read
    // the disagreement BETWEEN models). One event-time RANGE window
    // per user (the q158 frame regime — a single shuffle on the
    // high-cardinality user axis): per purchase, the frame yields the
    // touch count, per-type counts, and the first/last touch via
    // MIN/MAX over a zero-padded "tsu|event_id|type" encoding — a
    // string total order both engines share exactly. Linear credits
    // are per-purchase rationals rounded@9 into DECIMAL sums
    // (order-independent); the 9-cell model×type collapse unpivots on
    // the 1-row aggregate.
    QueryDef("q303_attribution_models",
      (s, d) => {
        val touchTypes = Seq("view", "click", "signup")
        val isTouch = col("event_type").isin(touchTypes.map(x => x: Any): _*)
        val enc = format_string("%020d|%020d|%s", col("tsu"),
          col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id").orderBy("tsu")
          .rangeBetween(-86400000000L, -1L)
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"), col("event_id"))
        val journeys = touchTypes.foldLeft(
            ev.withColumn("k", sum(when(isTouch, 1L).otherwise(0L)).over(w))) {
            (df, t) => df.withColumn(s"c_$t",
              sum(when(col("event_type") === t, 1L).otherwise(0L)).over(w))
          }
          .withColumn("f", min(when(isTouch, enc)).over(w))
          .withColumn("l", max(when(isTouch, enc)).over(w))
          .where(col("event_type") === "purchase" && col("k") > 0)
          .withColumn("f_type", element_at(split(col("f"), "\\|"), 3))
          .withColumn("l_type", element_at(split(col("l"), "\\|"), 3))
        val aggs = touchTypes.flatMap { t =>
          Seq(
            sum(when(col("f_type") === t, 1L).otherwise(0L)).as(s"nf_$t"),
            sum(when(col("l_type") === t, 1L).otherwise(0L)).as(s"nl_$t"),
            sum(round(col(s"c_$t").cast("double") / col("k"), 9)
              .cast("decimal(38,9)")).cast("double").as(s"lin_$t"))
        } :+ count(lit(1)).as("n_purch")
        val wide = journeys.agg(aggs.head, aggs.tail: _*)
        val cells = touchTypes.map(t =>
          s"'$t', nf_$t, nl_$t, round(lin_$t, 6)").mkString(", ")
        wide.selectExpr(
            s"stack(${touchTypes.size}, $cells) AS (touch, n_first, n_last, linear)",
            "n_purch")
          .select(col("touch"), col("n_first"), col("n_last"),
            col("linear"), col("n_purch"))
          .orderBy("touch")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
             |  FROM events),
             |j AS (
             |  SELECT user_id, event_type,
             |    SUM(CASE WHEN event_type IN ('view','click','signup')
             |        THEN 1 ELSE 0 END) OVER w AS k,
             |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      OVER w AS c_view,
             |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      OVER w AS c_click,
             |    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             |      OVER w AS c_signup,
             |    MIN(CASE WHEN event_type IN ('view','click','signup')
             |        THEN printf('%020d|%020d|%s', tsu, event_id, event_type)
             |        END) OVER w AS f,
             |    MAX(CASE WHEN event_type IN ('view','click','signup')
             |        THEN printf('%020d|%020d|%s', tsu, event_id, event_type)
             |        END) OVER w AS l
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu
             |    RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)),
             |p AS (
             |  SELECT split_part(f, '|', 3) AS f_type,
             |    split_part(l, '|', 3) AS l_type,
             |    c_view, c_click, c_signup, k
             |  FROM j WHERE event_type = 'purchase' AND k > 0),
             |wide AS (
             |  SELECT COUNT(*) AS n_purch,
             |    CAST(SUM(CASE WHEN f_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nf_view,
             |    CAST(SUM(CASE WHEN l_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nl_view,
             |    CAST(SUM(CAST(round(CAST(c_view AS DOUBLE) / k, 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS lin_view,
             |    CAST(SUM(CASE WHEN f_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nf_click,
             |    CAST(SUM(CASE WHEN l_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nl_click,
             |    CAST(SUM(CAST(round(CAST(c_click AS DOUBLE) / k, 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS lin_click,
             |    CAST(SUM(CASE WHEN f_type = 'signup' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nf_signup,
             |    CAST(SUM(CASE WHEN l_type = 'signup' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS nl_signup,
             |    CAST(SUM(CAST(round(CAST(c_signup AS DOUBLE) / k, 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS lin_signup
             |  FROM p)
             |SELECT t.touch,
             |  CASE t.touch WHEN 'view' THEN nf_view
             |    WHEN 'click' THEN nf_click ELSE nf_signup END AS n_first,
             |  CASE t.touch WHEN 'view' THEN nl_view
             |    WHEN 'click' THEN nl_click ELSE nl_signup END AS n_last,
             |  round(CASE t.touch WHEN 'view' THEN lin_view
             |    WHEN 'click' THEN lin_click ELSE lin_signup END, 6)
             |    AS linear,
             |  n_purch
             |FROM wide CROSS JOIN
             |  (SELECT UNNEST(['click','signup','view']) AS touch) t
             |ORDER BY touch""".stripMargin)),

    // Session entry/exit & bounce report (✚, the web-analytics
    // staple: sessionize by 30-minute inactivity gap, then report per
    // ENTRY event type how many sessions start there, their bounce
    // rate — single-event sessions — and mean session length; the
    // "which front door loses people" number). Sessionization is one
    // lag window + a running start-count per user (the q19 gap
    // discipline, shuffle keyed by the high-cardinality user axis);
    // entry/exit resolve via MIN/MAX over the same zero-padded
    // encoding as q303 — no per-session sort materializes. Exact
    // integer counts; the two ratios round@6.
    QueryDef("q304_session_bounce",
      (s, d) => {
        val wo = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val enc = format_string("%020d|%020d|%s", col("tsu"),
          col("event_id"), col("event_type"))
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"), col("event_id"))
          .withColumn("prev", lag("tsu", 1).over(wo))
          .withColumn("new_s",
            when(col("prev").isNull ||
              col("tsu") - col("prev") > 1800000000L, 1L).otherwise(0L))
          .withColumn("sid", sum(col("new_s"))
            .over(wo.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("n_events"),
            min(enc).as("f"), max(enc).as("l"))
          .select(element_at(split(col("f"), "\\|"), 3).as("entry_type"),
            element_at(split(col("l"), "\\|"), 3).as("exit_type"),
            col("n_events"))
        sess.groupBy("entry_type")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
            sum(col("n_events")).as("tot_events"),
            sum(when(col("entry_type") === col("exit_type"), 1L)
              .otherwise(0L)).as("n_same_exit"))
          .select(col("entry_type"), col("n_sessions"),
            round(col("n_bounce").cast("double") / col("n_sessions"), 6)
              .as("bounce_rate"),
            round(col("tot_events").cast("double") / col("n_sessions"), 6)
              .as("mean_len"),
            col("n_same_exit"))
          .orderBy("entry_type")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu, event_id
             |  FROM events),
             |g AS (
             |  SELECT user_id, event_type, tsu, event_id,
             |    CASE WHEN LAG(tsu) OVER w IS NULL
             |         OR tsu - LAG(tsu) OVER w > 1800000000
             |      THEN 1 ELSE 0 END AS new_s
             |  FROM ev
             |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
             |sid AS (
             |  SELECT user_id, event_type, tsu, event_id,
             |    SUM(new_s) OVER (PARTITION BY user_id
             |      ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM g),
             |sess AS (
             |  SELECT
             |    split_part(MIN(printf('%020d|%020d|%s', tsu, event_id,
             |      event_type)), '|', 3) AS entry_type,
             |    split_part(MAX(printf('%020d|%020d|%s', tsu, event_id,
             |      event_type)), '|', 3) AS exit_type,
             |    COUNT(*) AS n_events
             |  FROM sid GROUP BY user_id, sid.sid)
             |SELECT entry_type, COUNT(*) AS n_sessions,
             |  round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             |    AS DOUBLE) / COUNT(*), 6) AS bounce_rate,
             |  round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
             |    AS mean_len,
             |  CAST(SUM(CASE WHEN entry_type = exit_type THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_same_exit
             |FROM sess GROUP BY entry_type ORDER BY entry_type""".stripMargin)),

    // Window funnel — max ordered step within a time window (✚, the
    // view→click→purchase ladder with a 1-hour completion clock: for
    // each user, the deepest step k such that events of types
    // 1..k occur IN ORDER with the whole chain inside the window —
    // the per-user number a growth team histograms). For the 3-step
    // ladder this is two time-bounded equality joins, each keyed by
    // the 8-byte user id with per-user-type fanout (never a cross
    // join): view⋈click pairs within the window, then ⋈purchase
    // closing the chain from the SAME view anchor. Per user the
    // deepest step is a max over exact integer flags; output is the
    // |steps|-row histogram. At 100 TB the fanout is bounded by
    // per-user activity inside one window span — the same bound every
    // funnel engine's windowFunnel carries.
    QueryDef("q305_window_funnel",
      (s, d) => {
        val W = 3600000000L // 1 h in micros
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"))
          .transform(pin)
        def typed(t: String, a: String) = ev
          .where(col("event_type") === t)
          .select(col("user_id"), col("tsu").as(a))
        val v = typed("view", "tv")
        val c = typed("click", "tc")
        val p = typed("purchase", "tp")
        val s2 = v.join(c, "user_id")
          .where(col("tc") > col("tv") && col("tc") <= col("tv") + W)
          .select(col("user_id"), col("tv"), col("tc")).distinct()
        val s3 = s2.join(p, "user_id")
          .where(col("tp") > col("tc") && col("tp") <= col("tv") + W)
          .select(col("user_id")).distinct()
        val steps = v.select(col("user_id")).distinct()
          .withColumn("s", lit(1))
          .unionAll(s2.select(col("user_id")).distinct()
            .withColumn("s", lit(2)))
          .unionAll(s3.withColumn("s", lit(3)))
          .groupBy("user_id").agg(max(col("s")).as("max_step"))
        val everyone = Tables.events(s, d).select("user_id").distinct()
        everyone.join(steps, Seq("user_id"), "left")
          .select(coalesce(col("max_step"), lit(0)).as("max_step"))
          .groupBy("max_step").agg(count(lit(1)).as("n_users"))
          .orderBy("max_step")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |v AS (SELECT user_id, tsu AS tv FROM ev
             |      WHERE event_type = 'view'),
             |c AS (SELECT user_id, tsu AS tc FROM ev
             |      WHERE event_type = 'click'),
             |p AS (SELECT user_id, tsu AS tp FROM ev
             |      WHERE event_type = 'purchase'),
             |s2 AS (
             |  SELECT DISTINCT v.user_id, v.tv, c.tc
             |  FROM v JOIN c ON v.user_id = c.user_id
             |    AND c.tc > v.tv AND c.tc <= v.tv + 3600000000),
             |s3 AS (
             |  SELECT DISTINCT s2.user_id
             |  FROM s2 JOIN p ON s2.user_id = p.user_id
             |    AND p.tp > s2.tc AND p.tp <= s2.tv + 3600000000),
             |steps AS (
             |  SELECT user_id, MAX(s) AS max_step FROM (
             |    SELECT DISTINCT user_id, 1 AS s FROM v
             |    UNION ALL SELECT DISTINCT user_id, 2 FROM s2
             |    UNION ALL SELECT user_id, 3 FROM s3) t
             |  GROUP BY 1)
             |SELECT COALESCE(steps.max_step, 0) AS max_step,
             |  COUNT(*) AS n_users
             |FROM (SELECT DISTINCT user_id FROM ev) u
             |LEFT JOIN steps ON u.user_id = steps.user_id
             |GROUP BY 1 ORDER BY max_step""".stripMargin)),

    // Wasserstein-1 distribution drift (✚, the Earth-Mover's distance
    // between two sources' value distributions — q262/q274's KS reads
    // only the WORST point of CDF disagreement; W₁ integrates ALL of
    // it, the drift metric modern monitoring stacks prefer. For
    // sample distributions, W₁ = Σ over the merged support of
    // |F_a − F_b|·Δx, and with integer cents and cross-multiplied
    // CDFs every term is an exact BIGINT product: |cumA·n_b −
    // cumB·n_a|·Δx, one division at the very end). The corpus
    // collapses to per-(value) counts (map-side, value domain
    // bounded); cumulative counts come from ONE two-phase
    // globalRunningSum over the merged support — never a single-task
    // window; the Δx pairing is a lead over the same bounded support
    // table. Output: one exact W₁ per screened source pair.
    QueryDef("q306_wasserstein",
      (s, d) => {
        import s.implicits._
        val pairsToScreen = Seq(("click", "error"), ("click", "view"),
          ("purchase", "signup"))
        val ev = Tables.events(s, d)
          .select(col("event_type").as("t"),
            round(col("value") * 100, 0).cast("long").as("x"))
          .where(col("t").isin(pairsToScreen.flatMap(p =>
            Seq(p._1, p._2)).distinct.map(x => x: Any): _*))
          .groupBy("t", "x").agg(count(lit(1)).as("c"))
          .transform(pin)
        val counts = ev.groupBy("t").agg(sum(col("c")).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val out = pairsToScreen.map { case (ta, tb) =>
          val na = counts(ta); val nb = counts(tb)
          val sup = ev.where(col("t").isin(ta, tb))
            .groupBy("x").agg(
              sum(when(col("t") === ta, col("c")).otherwise(0L)).as("ca"),
              sum(when(col("t") === tb, col("c")).otherwise(0L)).as("cb"))
          val cum = graft.ops.Scale.globalRunningSum(
              graft.ops.Scale.globalRunningSum(sup, Seq(col("x")), col("ca"))
                .withColumnRenamed("cum", "cuma"),
              Seq(col("x")), col("cb"))
            .withColumnRenamed("cum", "cumb")
          // successor support point via the two-phase globalLead — the
          // support table is value-domain-bounded, but the discipline is
          // uniform: no partition-less window anywhere in a builder
          val terms = graft.ops.Scale.globalLead(cum, Seq(col("x")), col("x"))
            .withColumnRenamed("lead", "nx")
            .where(col("nx").isNotNull)
            .select((abs(col("cuma") * nb - col("cumb") * na) *
              (col("nx") - col("x"))).as("term"))
          val num = terms.agg(sum(col("term"))).first().getLong(0)
          // division chain mirrors the oracle's double shape exactly:
          // CAST(num AS DOUBLE) / n_a / n_b / 100
          (ta, tb, na, nb, num.toDouble / na / nb / 100)
        }
        out.toDF("t_a", "t_b", "n_a", "n_b", "w1")
          .select(col("t_a"), col("t_b"), col("n_a"), col("n_b"),
            round(col("w1"), 6).as("w1"))
          .orderBy("t_a", "t_b")
      },
      Some {
        val pairs = Seq(("click", "error"), ("click", "view"),
          ("purchase", "signup"))
        val arms = pairs.map { case (ta, tb) =>
          s"""SELECT '$ta' AS t_a, '$tb' AS t_b,
             |  (SELECT COUNT(*) FROM ev WHERE t = '$ta') AS n_a,
             |  (SELECT COUNT(*) FROM ev WHERE t = '$tb') AS n_b,
             |  round(CAST((
             |    SELECT SUM(abs(cuma * (SELECT COUNT(*) FROM ev WHERE t = '$tb')
             |      - cumb * (SELECT COUNT(*) FROM ev WHERE t = '$ta'))
             |      * dx) FROM (
             |      SELECT
             |        SUM(CASE WHEN t = '$ta' THEN 1 ELSE 0 END)
             |          OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cuma,
             |        SUM(CASE WHEN t = '$tb' THEN 1 ELSE 0 END)
             |          OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) AS cumb,
             |        LEAD(x) OVER (ORDER BY x) - x AS dx
             |      FROM ev WHERE t IN ('$ta', '$tb')) q
             |    WHERE dx IS NOT NULL) AS DOUBLE) /
             |    (SELECT COUNT(*) FROM ev WHERE t = '$ta') /
             |    (SELECT COUNT(*) FROM ev WHERE t = '$tb') / 100, 6) AS w1""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ev AS (
           |  SELECT event_type AS t,
           |    CAST(round(value * 100, 0) AS BIGINT) AS x
           |  FROM events
           |  WHERE event_type IN ('click','error','view','purchase','signup'))
           |$arms
           |ORDER BY t_a, t_b""".stripMargin
      }),

    // Cohort activity retention triangle (✚, the product-analytics
    // staple q278 prices in revenue: per first-seen-week cohort, the
    // SHARE of users still active k weeks later — the triangle a
    // retention review reads row by row). Three bounded collapses:
    // first-seen week per user (one min-agg), the DISTINCT
    // (user, week) activity pairs, and the (cohort, offset) distinct-
    // user count over their join — every shuffle keyed by the 8-byte
    // user id or the bounded (cohort, offset) cell; nothing
    // corpus-sized survives the first pass at 100 TB. Exact integer
    // counts; the share divides cohort size, round@6.
    QueryDef("q307_retention_triangle",
      (s, d) => {
        val wk = expr("CAST(unix_micros(ts) div 604800000000 AS BIGINT)")
        val pairs = Tables.events(s, d)
          .select(col("user_id"), wk.as("w"))
          .distinct().transform(pin)
        val cohort = pairs.groupBy("user_id").agg(min(col("w")).as("c0"))
        val sizes = cohort.groupBy(col("c0")).agg(count(lit(1)).as("n0"))
        pairs.join(cohort, "user_id")
          .select(col("c0"), (col("w") - col("c0")).as("offset"),
            col("user_id"))
          .groupBy("c0", "offset")
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(sizes, "c0")
          .select(col("c0").as("cohort_week"), col("offset"),
            col("n_active"), col("n0").as("cohort_size"),
            round(col("n_active").cast("double") / col("n0"), 6)
              .as("retention"))
          .orderBy("cohort_week", "offset")
      },
      Some("""WITH pairs AS (
             |  SELECT DISTINCT user_id,
             |    epoch_us(ts) // 604800000000 AS w
             |  FROM events),
             |cohort AS (
             |  SELECT user_id, MIN(w) AS c0 FROM pairs GROUP BY 1),
             |sizes AS (SELECT c0, COUNT(*) AS n0 FROM cohort GROUP BY 1),
             |cells AS (
             |  SELECT c.c0, p.w - c.c0 AS "offset",
             |    COUNT(DISTINCT p.user_id) AS n_active
             |  FROM pairs p JOIN cohort c ON p.user_id = c.user_id
             |  GROUP BY 1, 2)
             |SELECT cells.c0 AS cohort_week, "offset", n_active,
             |  sizes.n0 AS cohort_size,
             |  round(CAST(n_active AS DOUBLE) / sizes.n0, 6) AS retention
             |FROM cells JOIN sizes ON cells.c0 = sizes.c0
             |ORDER BY cohort_week, "offset"""".stripMargin)),

    // Distribution-free median confidence interval (✚, the error bar
    // an order statistic actually supports: the exact-rank 95% CI
    // from the binomial order-statistic bound — ranks ⌊(n −
    // z√n)/2⌋ and ⌈1 + (n + z√n)/2⌉ — no bootstrap, no normality
    // assumption on the DATA, just on the rank counts). Applied to
    // the per-order revenue distribution: ranks are computed with
    // the same z = 1.959964 literal and floor/ceil INTEGER arithmetic
    // on both engines, then all three order statistics (lo, median,
    // hi) resolve through ONE selectKths round series — never a sort
    // of the distribution. Cents-exact values out, dollars round@2.
    QueryDef("q308_median_ci",
      (s, d) => {
        val perOrder = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .as("oc"))
          .transform(pin)
        val n = perOrder.count()
        val z = 1.959964
        val lo = math.max(1L,
          math.floor((n - z * math.sqrt(n.toDouble)) / 2.0).toLong)
        val hi = math.min(n,
          math.ceil(1.0 + (n + z * math.sqrt(n.toDouble)) / 2.0).toLong)
        val md = (n + 1) / 2
        val qs = OrderStats.selectKths(perOrder, col("oc"),
          Seq(lo, md, hi).distinct)
        perOrder.agg(count(lit(1)).as("n"))
          .select(col("n"),
            round(lit(qs(md)) / 100, 2).as("median"),
            round(lit(qs(lo)) / 100, 2).as("ci_lo"),
            round(lit(qs(hi)) / 100, 2).as("ci_hi"),
            lit(lo).as("rank_lo"), lit(hi).as("rank_hi"))
      },
      Some("""WITH po AS (
             |  SELECT l_orderkey,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS oc
             |  FROM lineitem GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n FROM po),
             |ranks AS (
             |  SELECT n.n,
             |    GREATEST(1, CAST(floor((n.n - 1.959964 * sqrt(n.n)) / 2.0)
             |      AS BIGINT)) AS lo,
             |    LEAST(n.n, CAST(ceil(1.0 + (n.n + 1.959964 * sqrt(n.n))
             |      / 2.0) AS BIGINT)) AS hi,
             |    (n.n + 1) // 2 AS md
             |  FROM n),
             |r AS (
             |  SELECT oc, ROW_NUMBER() OVER (ORDER BY oc, l_orderkey) AS rn
             |  FROM po)
             |SELECT ranks.n,
             |  round(CAST((SELECT oc FROM r WHERE rn = ranks.md) AS DOUBLE)
             |    / 100, 2) AS median,
             |  round(CAST((SELECT oc FROM r WHERE rn = ranks.lo) AS DOUBLE)
             |    / 100, 2) AS ci_lo,
             |  round(CAST((SELECT oc FROM r WHERE rn = ranks.hi) AS DOUBLE)
             |    / 100, 2) AS ci_hi,
             |  ranks.lo AS rank_lo, ranks.hi AS rank_hi
             |FROM ranks""".stripMargin)),

    // COUNT(DISTINCT) under ROLLUP, the scale-correct way (✚: feeding
    // a rollup/grouping-sets plan a COUNT(DISTINCT) makes Catalyst
    // Expand the CORPUS once per grouping set before a SortAggregate —
    // the q110 lesson multiplied by the rollup arity. The shape that
    // survives 100 TB collapses to the DISTINCT (region, nation,
    // customer) triple table FIRST — one shuffle of slim keys — and
    // re-aggregates THAT bounded-ish table once per level, because a
    // distinct count does not roll up by addition). Three level
    // aggregations + '(all)' labels mirror the oracle's ROLLUP
    // exactly; exact integer counts.
    QueryDef("q311_distinct_rollup",
      (s, d) => {
        val triples = Tables.orders(s, d).select(col("o_custkey"))
          .join(broadcast(Tables.customer(s, d)
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))),
            "o_custkey")
          .join(broadcast(Tables.nation(s, d)
            .select(col("n_nationkey").as("c_nationkey"), col("n_name"),
              col("n_regionkey"))), "c_nationkey")
          .join(broadcast(Tables.region(s, d)
            .select(col("r_regionkey").as("n_regionkey"), col("r_name"))),
            "n_regionkey")
          .select(col("r_name"), col("n_name"), col("o_custkey"))
          .distinct().transform(pin)
        val leaf = triples.groupBy("r_name", "n_name")
          .agg(countDistinct(col("o_custkey")).as("n_customers"))
        val regionLvl = triples.groupBy("r_name")
          .agg(countDistinct(col("o_custkey")).as("n_customers"))
          .withColumn("n_name", lit("(all)"))
        val grand = triples.agg(countDistinct(col("o_custkey"))
            .as("n_customers"))
          .withColumn("r_name", lit("(all)"))
          .withColumn("n_name", lit("(all)"))
        leaf.select(col("r_name"), col("n_name"), col("n_customers"))
          .unionByName(regionLvl.select(col("r_name"), col("n_name"),
            col("n_customers")))
          .unionByName(grand.select(col("r_name"), col("n_name"),
            col("n_customers")))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH t AS (
             |  SELECT DISTINCT r.r_name, n.n_name, o.o_custkey
             |  FROM orders o
             |  JOIN customer c ON o.o_custkey = c.c_custkey
             |  JOIN nation n ON c.c_nationkey = n.n_nationkey
             |  JOIN region r ON n.n_regionkey = r.r_regionkey)
             |SELECT COALESCE(r_name, '(all)') AS r_name,
             |  COALESCE(n_name, '(all)') AS n_name,
             |  COUNT(DISTINCT o_custkey) AS n_customers
             |FROM t GROUP BY ROLLUP(r_name, n_name)
             |ORDER BY r_name, n_name""".stripMargin)),

    // Conditional quantile profile (✚, the "how does the DISTRIBUTION
    // of quantity shift with discount" question a mean-per-bin plot
    // hides: exact p50/p90 of quantity per discount level). Discount
    // levels are exact integer percents (11 groups); both quantiles
    // resolve through quantileDiscByGroup's bounded refinement — the
    // per-group no-sort machinery — with the oracle pinning the
    // identical rank-ceil definition rather than trusting either
    // engine's percentile function.
    QueryDef("q312_conditional_quantiles",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .withColumn("bin", round(col("l_discount") * 100, 0).cast("int"))
        OrderStats.quantileDiscByGroup(li, col("bin"), col("l_quantity"), 0.5)
          .select(col("g"), col("n"), col("kth").as("p50_qty"))
          .join(OrderStats.quantileDiscByGroup(li, col("bin"),
              col("l_quantity"), 0.9)
            .select(col("g"), col("kth").as("p90_qty")), "g")
          .select(col("g").cast("int").as("discount_pct"), col("n"),
            col("p50_qty"), col("p90_qty"))
          .orderBy("discount_pct")
      },
      Some("""WITH v AS (
             |  SELECT CAST(round(l_discount * 100, 0) AS INT) AS g,
             |    l_quantity AS v
             |  FROM lineitem WHERE l_quantity IS NOT NULL),
             |n AS (SELECT g, COUNT(*) AS n FROM v GROUP BY g),
             |r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v)
             |        AS rn FROM v)
             |SELECT n.g AS discount_pct, n.n,
             |  MAX(CASE WHEN rn = GREATEST(1,
             |      CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT))
             |    THEN r.v END) AS p50_qty,
             |  MAX(CASE WHEN rn = GREATEST(1,
             |      CAST(CEIL(0.9::DOUBLE * n.n) AS BIGINT))
             |    THEN r.v END) AS p90_qty
             |FROM r JOIN n USING (g) GROUP BY n.g, n.n
             |ORDER BY discount_pct""".stripMargin)),

    // Hourly OHLC bars (✚, the candlestick collapse every time-series
    // store ships: open/high/low/close of the event value per hour —
    // open and close are the FIRST and LAST values in event order,
    // which the q156 struct-extreme discipline resolves without a
    // per-hour sort: the (tsu, event_id, cents) ordering tuple rides
    // inside MIN/MAX, so the whole bar is ONE map-side-combined
    // aggregation keyed by the hour — at 100 TB the only thing that
    // moves is |hours| bars). Cents-exact integers; dollars round@2.
    QueryDef("q315_ohlc",
      (s, d) => ohlcBars(Tables.events(s, d)).orderBy("hr"),
      Some(ohlcOracleSql))
  )
}
