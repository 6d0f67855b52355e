package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact order statistics WITHOUT a sort — the scale answer to q61's
  * documented trade ("exact percentiles require a per-group sort: use
  * the sketch instead"). The k-th smallest of N values is found by
  * ITERATIVE RANGE REFINEMENT (the classic distributed selection
  * algorithm): bucket the current [lo, hi] range into B equal slices,
  * count per slice in ONE narrow aggregation (B result rows — the
  * driver touch is O(B) per round, the kmeansCentroids class), descend
  * into the slice containing rank k, repeat. Each round shrinks the
  * candidate set ~B×, so a 100 TB column needs ~log_B(N) ≈ 4–5 full
  * scans of ONE column (pruned, pushdown-friendly) and never sorts,
  * shuffles, or materializes more than B counters — vs the percentile
  * aggregate's per-group value buffer, which at 100 TB is the corpus.
  *
  * The final small slice (≤ `exactThreshold` rows) resolves exactly
  * with TakeOrderedAndProject — per-partition heaps of a bounded set.
  */
object OrderStats {

  /** A degenerate range (zero or ulp-scale width) holds at most ~a
    * thousand DISTINCT doubles however many rows survive: resolve the
    * rank exactly over the distinct values (one cheap map-side-combined
    * aggregation) instead of returning the range edge — the edge is a
    * computed bucket boundary after round 1, not necessarily a corpus
    * value. */
  private def resolveDegenerate(scope: DataFrame, need: Long): Double = {
    val dv = scope.groupBy("v").agg(count(lit(1)).as("n"))
      .orderBy("v").collect()
    var acc = 0L
    var i = 0
    while (i < dv.length) {
      acc += dv(i).getLong(1)
      if (acc >= need) return dv(i).getDouble(0)
      i += 1
    }
    throw new IllegalArgumentException(
      s"rank $need exceeds the $acc surviving rows")
  }

  /** The k-th smallest value (1-based rank) of `c` over `df`. */
  def selectKth(df: DataFrame, c: Column, k: Long,
                buckets: Int = 1024, exactThreshold: Long = 65536): Double = {
    require(k >= 1, s"rank k=$k must be >= 1")
    val vals = df.select(c.cast("double").as("v")).where(col("v").isNotNull)
    val bounds = vals.agg(min(col("v")), max(col("v"))).first()
    require(!bounds.isNullAt(0), "selectKth over an empty or all-null column")
    var lo = bounds.getDouble(0)
    var hi = bounds.getDouble(1)
    var need = k
    var scope = vals
    var n = -1L
    var total = -1L
    while (n < 0 || n > exactThreshold) {
      if (lo == hi) return resolveDegenerate(scope, need)
      val width = (hi - lo) / buckets
      // adversarial guard: a range of a few ulps underflows the bucket
      // width to 0 — the survivors span ≤ buckets distinct doubles;
      // resolve among them exactly
      if (width == 0.0) return resolveDegenerate(scope, need)
      // clamp BOTH sides: hi itself lands in the last bucket, and a
      // round-2 survivor can sit a float-rounding hair BELOW the new lo
      // (its previous-round floor rounded up across the boundary) —
      // unclamped it would bucket to -1 and vanish from the rank scan
      val b = greatest(
        least(floor((col("v") - lit(lo)) / lit(width)), lit(buckets - 1)),
        lit(0))
      val counts = scope.groupBy(b.cast("int").as("b"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      if (total < 0) { // round 1 counts ALL values: k > n detected here
        total = counts.values.sum
        require(k <= total, s"rank k=$k exceeds the $total non-null rows")
      }
      var acc = 0L
      var chosen = -1
      var i = 0
      while (chosen < 0 && i < buckets) {
        val cn = counts.getOrElse(i, 0L)
        if (acc + cn >= need) chosen = i else acc += cn
        i += 1
      }
      need -= acc
      val newLo = lo + chosen * width
      val newHi = if (chosen == buckets - 1) hi else lo + (chosen + 1) * width
      // the descend filter mirrors the bucket assignment EXACTLY (same
      // clamped floor arithmetic), so the slice row set equals the
      // counted set
      scope = scope.where(b.cast("int") === chosen)
      lo = newLo; hi = newHi
      n = counts.getOrElse(chosen, 0L)
    }
    scope.orderBy("v").limit(need.toInt) // TakeOrderedAndProject: bounded heap
      .orderBy(col("v").desc).limit(1).first().getDouble(0)
  }

  /** MULTI-rank exact selection: the values at EVERY rank in `ks`, in
    * ~log_B(N) rounds TOTAL — not per rank. One call replaces k
    * sequential [[selectKth]] series (q202's 15 boundary cuts ran 60
    * bucket-count jobs; this runs ~4): each round broadcasts one
    * (rank, lo, hi) bounds table, tags every value with the ranks
    * whose CURRENT slice contains it (explode over a broadcast — a row
    * matches at most |ks| slices, and after round 1 the slices are
    * near-disjoint, so the fan-out is ~1), counts per (rank, bucket)
    * in one aggregation, and descends every rank at once. Driver state
    * is O(|ks|·B); identical per-rank arithmetic to [[selectKth]]
    * (same clamped-floor bucketing, same degenerate-range exact
    * fallback, same bounded final TakeOrderedAndProject per rank —
    * still resolved jointly in one pass).
    *
    * Returns rank → value. */
  def selectKths(df: DataFrame, c: Column, ks: Seq[Long],
                 buckets: Int = 256, exactThreshold: Long = 65536): Map[Long, Double] = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"ranks must be >= 1: $ks")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(c.cast("double").as("v")).where(col("v").isNotNull)
      .transform(pin) // scanned every round — pin the lineage
    val bounds0 = vals.agg(min(col("v")), max(col("v")), count(lit(1))).first()
    require(!bounds0.isNullAt(0), "selectKths over an empty or all-null column")
    val total = bounds0.getLong(2)
    require(ks.forall(_ <= total), s"ranks $ks exceed the $total non-null rows")
    // per-rank state. Rank bookkeeping is RECOMPUTED each round from
    // the strict below-count (the quantileDiscByGroup discipline): the
    // target is located by VALUE RANGE, so a float-fuzz boundary row
    // shows up in the next below-count instead of silently corrupting
    // a carried remainder; if fuzz ever displaces the target itself
    // out of the refined slice, the rank falls back to a solo
    // [[selectKth]] over the full column — never a fabricated value.
    final class St(var lo: Double, var hi: Double, var n: Long,
                   var fallback: Boolean, var done: Option[Double])
    val st = scala.collection.mutable.LinkedHashMap(ks.distinct.map(k =>
      k -> new St(bounds0.getDouble(0), bounds0.getDouble(1), total,
        false, None)): _*)
    var rounds = 0
    while (rounds < 12 && st.values.exists(s =>
        s.done.isEmpty && !s.fallback && s.n > exactThreshold)) {
      rounds += 1
      val active = st.filter { case (_, s) =>
        s.done.isEmpty && !s.fallback && s.n > exactThreshold }
      active.foreach { case (_, s) =>
        // degenerate slice: ≤ ~buckets distinct doubles survive; the
        // shared final pass resolves among them exactly
        if (s.lo == s.hi || (s.hi - s.lo) / buckets == 0.0) s.n = 0 }
      val act = active.filter { case (_, s) => s.n > exactThreshold }
      if (act.nonEmpty) {
        val bt = broadcast(act.toSeq.map { case (k, s) => (k, s.lo, s.hi) }
          .toDF("k", "_lo", "_hi"))
        val width = (col("_hi") - col("_lo")) / buckets
        // bucket -1 = strictly below the slice (feeds the rank
        // recompute); rows above _hi are pruned by the join condition
        val b = when(col("v") < col("_lo"), lit(-1))
          .otherwise(greatest(least(
            floor((col("v") - col("_lo")) / width), lit(buckets - 1)), lit(0))
            .cast("int"))
        val counts = vals.join(bt, col("v") <= col("_hi"))
          .groupBy(col("k"), b.as("b"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (k, rs) =>
            k -> rs.map(t => t._2 -> t._3).toMap }
        act.foreach { case (k, s) =>
          val cm = counts.getOrElse(k, Map.empty[Int, Long])
          val need = k - cm.getOrElse(-1, 0L)
          if (need <= 0L) s.fallback = true
          else {
            var acc = 0L; var chosen = -1; var i = 0
            while (chosen < 0 && i < buckets) {
              val cn = cm.getOrElse(i, 0L)
              if (acc + cn >= need) chosen = i else acc += cn
              i += 1
            }
            if (chosen < 0) s.fallback = true
            else {
              val w0 = (s.hi - s.lo) / buckets
              val newLo = s.lo + chosen * w0
              s.hi = if (chosen == buckets - 1) s.hi else s.lo + (chosen + 1) * w0
              s.lo = newLo
              s.n = cm.getOrElse(chosen, 0L)
              if (s.n == 0L) s.fallback = true
            }
          }
        }
      }
    }
    // shared final pass, all refined ranks in TWO jobs: one strict
    // below-count per rank, then per-slice in-range rank via a window
    // keyed by the rank id (slices are bounded, never a whole-column
    // window). Ranks the pass misses (fuzz-displaced) fall back solo.
    val open = st.toSeq.collect {
      case (k, s) if s.done.isEmpty && !s.fallback => (k, s) }
    if (open.nonEmpty) {
      val bt = broadcast(open.map { case (k, s) => (k, s.lo) }.toDF("k", "_lo"))
      val below = vals.join(bt, col("v") < col("_lo"))
        .groupBy("k").agg(count(lit(1)).as("nb")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val withNeed = open.map { case (k, s) =>
        (k, s, k - below.getOrElse(k, 0L)) }
      val fin = broadcast(withNeed.collect { case (k, s, need) if need > 0 =>
        (k, s.lo, s.hi, need) }.toDF("k", "_lo", "_hi", "_need"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("k").orderBy("v")
      val got = vals.join(fin,
          col("v") >= col("_lo") && col("v") <= col("_hi"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === col("_need"))
        .select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      open.foreach { case (k, s) =>
        if (got.contains(k)) s.done = Some(got(k)) else s.fallback = true }
    }
    st.collect { case (k, s) if s.done.isEmpty =>
      s.done = Some(selectKth(vals, col("v"), k)) }
    ks.distinct.map(k => k -> st(k).done.get).toMap
  }

  /** GROUPED exact discrete quantile (value at rank ceil(p·n) within
    * each group) by the same refinement idea as [[selectKth]], all
    * groups descending SIMULTANEOUSLY: each round joins a broadcast
    * per-group bounds table, buckets every value inside its own
    * group's [lo, hi] (strictly-below / strictly-above tagged), and
    * collects ≤ groups×(B+2) counters. Rank bookkeeping is recomputed
    * every round from the strict below-count — the k-th value is
    * located by VALUE RANGE, so float fuzz at bucket boundaries
    * cannot accumulate for non-kth values (a stray ulp just shows up
    * in the next below-count); if fuzz ever displaces the k-th value
    * itself outside the refined range (need ≤ 0, an empty chosen
    * bucket, or a missed final match) the group falls back to one
    * exact pass over its FULL [min,max] — never a fabricated value,
    * never a silently dropped group. Groups whose slice fits
    * `exactThreshold` resolve in ONE final pass: a row_number window
    * over the bounded slices (never over a whole group outside the
    * fallback). ~log_B(n_max) scans of two pruned
    * columns; driver state is O(groups) — the tool for
    * moderate-cardinality keys where q61's percentile() would buffer
    * entire groups; high-cardinality keys stay with the sketch.
    *
    * Returns (g, n, kth). */
  def quantileDiscByGroup(df: DataFrame, key: Column, value: Column, p: Double,
      buckets: Int = 256, exactThreshold: Long = 4096): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = pin(df
      .select(key.cast("string").as("g"), value.cast("double").as("v"))
      .where(col("v").isNotNull)) // scanned once per round — pin the lineage
    final class St(val n: Long, val k: Long, var lo: Double, var hi: Double,
                   var sliceN: Long, var done: Option[Double]) {
      val lo0: Double = lo; val hi0: Double = hi // full group bounds
      var full: Boolean = false // float-fuzz fallback: resolve over [lo0,hi0]
    }
    val st = scala.collection.mutable.LinkedHashMap(
      vals.groupBy("g").agg(count(lit(1)).as("n"),
          min("v").as("lo"), max("v").as("hi")).collect().map { r =>
        val n = r.getLong(1)
        r.getString(0) -> new St(n, math.max(1L, math.ceil(p * n).toLong),
          r.getDouble(2), r.getDouble(3), n, None)
      }.toSeq: _*)
    var rounds = 0
    while (rounds < 12 &&
        st.values.exists(s => s.done.isEmpty && !s.full && s.sliceN > exactThreshold)) {
      rounds += 1
      val active = st.filter { case (_, s) =>
        s.done.isEmpty && !s.full && s.sliceN > exactThreshold }
      active.foreach { case (_, s) =>
        // all-equal slice (or width underflow): the k-th IS that value
        if (s.lo == s.hi || (s.hi - s.lo) / buckets == 0.0) s.done = Some(s.lo) }
      val act = active.filter(_._2.done.isEmpty)
      if (act.nonEmpty) {
        val bounds = broadcast(act.toSeq.map { case (g, s) => (g, s.lo, s.hi) }
          .toDF("g", "_lo", "_hi"))
        val width = (col("_hi") - col("_lo")) / buckets
        val b = when(col("v") < col("_lo"), lit(-1))
          .when(col("v") > col("_hi"), lit(-2))
          .otherwise(greatest(least(
            floor((col("v") - col("_lo")) / width), lit(buckets - 1)), lit(0))
            .cast("int"))
        val counts = vals.join(bounds, "g")
          .groupBy(col("g"), b.as("b")).agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).map { case (g, rs) =>
            g -> rs.map(t => t._2 -> t._3).toMap }
        act.foreach { case (g, s) =>
          val cm = counts.getOrElse(g, Map.empty[Int, Long])
          val need = s.k - cm.getOrElse(-1, 0L)
          // float fuzz at a refined boundary can push the k-th value
          // below _lo (need <= 0) or land the rank in an empty bucket
          // (sliceN == 0): both would fabricate a non-corpus value.
          // Fall back to ONE exact pass over the group's full range —
          // the group pays a whole-group window, correctness first.
          if (need <= 0L) { s.full = true }
          else {
            var acc = 0L; var chosen = -1; var i = 0
            while (chosen < 0 && i < buckets) {
              val cn = cm.getOrElse(i, 0L)
              if (acc + cn >= need) chosen = i else acc += cn
              i += 1
            }
            val w0 = (s.hi - s.lo) / buckets
            val newLo = s.lo + chosen * w0
            s.hi = if (chosen == buckets - 1) s.hi else s.lo + (chosen + 1) * w0
            s.lo = newLo
            s.sliceN = cm.getOrElse(chosen, 0L)
            if (s.sliceN == 0L) { s.full = true }
          }
        }
      }
    }
    // final exact pass over bounded slices, all open groups at once;
    // (g, lo, hi, need) → value at in-range rank `need`
    def exactPass(groups: Seq[(String, Double, Double, Long)]): Map[String, Double] =
      if (groups.isEmpty) Map.empty else {
        val fin = broadcast(groups.toDF("g", "_lo", "_hi", "_need"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("v")
        vals.join(fin, "g")
          .where(col("v") >= col("_lo") && col("v") <= col("_hi"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === col("_need"))
          .select("g", "v").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
    val open = st.toSeq.collect { case (g, s) if s.done.isEmpty => (g, s) }
    val refined = open.filter { case (_, s) => !s.full }
    val below: Map[String, Long] = if (refined.isEmpty) Map.empty else {
      val fin = broadcast(refined.map { case (g, s) => (g, s.lo) }
        .toDF("g", "_lo"))
      vals.join(fin, "g").where(col("v") < col("_lo"))
        .groupBy("g").agg(count(lit(1)).as("nb")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val r1 = exactPass(refined
      .map { case (g, s) => (g, s.lo, s.hi, s.k - below.getOrElse(g, 0L)) }
      .filter(_._4 > 0L)) // fuzz-negative need: leave to the fallback
    // fallback pass: flagged groups, fuzz-negative needs, and any group
    // the bounded pass missed — exact over the FULL group range, where
    // below-count is 0 by construction and rank k cannot miss
    val r2 = exactPass(open.collect { case (g, s) if !r1.contains(g) =>
      (g, s.lo0, s.hi0, s.k) })
    val resolved = (r1 ++ r2).toSeq.map { case (g, v) => (g, st(g).n, v) }
    val done = st.toSeq.collect { case (g, s) if s.done.isDefined =>
      (g, s.n, s.done.get) }
    (resolved ++ done).toDF("g", "n", "kth")
  }

  /** Exact interpolated median (quantile_cont 0.5 semantics): odd N →
    * the middle value; even N → the mean of the two middle values. */
  def exactMedian(df: DataFrame, c: Column): (Long, Double) = {
    val n = df.select(c).where(c.isNotNull).count()
    require(n > 0, "median of an empty column")
    if (n % 2 == 1) (n, selectKth(df, c, n / 2 + 1))
    else (n, (selectKth(df, c, n / 2) + selectKth(df, c, n / 2 + 1)) / 2.0)
  }

  val defs: Seq[QueryDef] = Seq(
    // Exact median of a continuous 600k-value column through the
    // refinement path (never a sort, never a value buffer); oracle =
    // DuckDB's quantile_cont. Rounded at 5 dp: the interpolated mean
    // of two doubles is exact, the round guards the literal formatting.
    QueryDef("q113_exact_median",
      (s, d) => {
        val (n, m) = exactMedian(Tables.lineitem(s, d), col("l_extendedprice"))
        import s.implicits._
        Seq((n, math.rint(m * 1e5) / 1e5)).toDF("n_rows", "median")
      },
      Some("""SELECT COUNT(l_extendedprice) AS n_rows,
             |  round(quantile_cont(l_extendedprice, 0.5), 5) AS median
             |FROM lineitem""".stripMargin)),

    // Grouped exact p50/p90 through the simultaneous refinement path —
    // never a per-group value buffer or sort. The oracle pins the
    // identical rank definition (value at ROW_NUMBER = ceil(p·n))
    // explicitly, so no engine quantile-function semantics are
    // trusted; raw double values compare unrounded (they are corpus
    // values, not arithmetic).
    QueryDef("q133_grouped_quantiles",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        quantileDiscByGroup(li, col("l_returnflag"), col("l_extendedprice"), 0.5)
          .select(col("g"), col("n"), col("kth").as("p50"))
          .join(quantileDiscByGroup(li, col("l_returnflag"),
              col("l_extendedprice"), 0.9)
            .select(col("g"), col("kth").as("p90")), "g")
          .orderBy("g")
      },
      Some("""WITH v AS (
             |  SELECT l_returnflag AS g, l_extendedprice AS v
             |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
             |n AS (SELECT g, COUNT(*) AS n FROM v GROUP BY g),
             |r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v)
             |        AS rn FROM v)
             |SELECT n.g, n.n,
             |  -- ::DOUBLE mirrors the Spark side's math.ceil(p * n) double
             |  -- arithmetic: DuckDB's bare 0.9*n is exact DECIMAL and can
             |  -- sit one below the double product at integral boundaries
             |  MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT))
             |           THEN r.v END) AS p50,
             |  MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9::DOUBLE * n.n) AS BIGINT))
             |           THEN r.v END) AS p90
             |FROM r JOIN n USING (g) GROUP BY n.g, n.n
             |ORDER BY n.g""".stripMargin)),

    // Robust outlier flags via MAD (✚, the data-quality screen that
    // survives the very outliers it hunts — mean/stddev z-scores get
    // dragged by the tail, the median/MAD pair doesn't): two exact
    // selection passes through the bounded range-refinement machinery
    // (median of value, then median of |value − med|), then one
    // aggregation counting events whose modified z-score
    // 0.6745·(v−med)/MAD exceeds the standard 3.5 cut, per event
    // type. The oracle pins the identical rank definition (value at
    // ROW_NUMBER = ceil(0.5·n)) rather than trusting either engine's
    // median. Determinism: med is a corpus value, MAD an |a−b| of
    // identical doubles, the z rounded@6 before the cut — every
    // comparison sees bit-identical operands in both engines. Scale:
    // selectKth is O(log_B n) scans with O(B) driver state; the flag
    // pass is one map-side-combined aggregate to ≤ #event-types rows.
    QueryDef("q168_mad_outliers",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("value").as("v"))
        val n = ev.count()
        val k = math.max(1L, math.ceil(0.5 * n).toLong)
        val med = selectKth(ev, col("v"), k)
        val mad = selectKth(
          ev.select(abs(col("v") - lit(med)).as("dv")), col("dv"), k)
        ev.groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(when(round(abs(lit(0.6745) * (col("v") - lit(med)) / lit(mad)),
              6) > 3.5, 1L).otherwise(0L)).as("n_out"))
          .withColumn("med", lit(med))
          .withColumn("mad", lit(mad))
          .orderBy("event_type")
      },
      Some("""WITH v AS MATERIALIZED (
             |  SELECT event_type, value AS v FROM events
             |  WHERE value IS NOT NULL),
             |n AS MATERIALIZED (SELECT count(*) AS n FROM v),
             |med AS MATERIALIZED (
             |  SELECT MAX(CASE WHEN rn =
             |      GREATEST(1, CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT))
             |    THEN r.v END) AS med
             |  FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v) r, n),
             |mad AS MATERIALIZED (
             |  SELECT MAX(CASE WHEN rn =
             |      GREATEST(1, CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT))
             |    THEN r2.dv END) AS mad
             |  FROM (SELECT abs(v.v - med.med) AS dv,
             |          ROW_NUMBER() OVER (ORDER BY abs(v.v - med.med)) AS rn
             |        FROM v, med) r2, n)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(CASE WHEN round(abs(0.6745 * (v - med) / mad), 6) > 3.5
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_out,
             |  med, mad
             |FROM v, med, mad
             |GROUP BY event_type, med, mad ORDER BY event_type""".stripMargin)),

    // Per-group winsorized mean (✚, the robust feature aggregate:
    // clamp each group's tail at its own exact p05/p95 before
    // averaging, so a handful of extreme values can't move the
    // statistic): both cut points come from the SIMULTANEOUS grouped
    // refinement machinery (never a per-group buffer or sort), the
    // clamp is a per-row CASE, and the means are exact DECIMAL sums
    // divided once. The oracle pins the identical rank definition
    // (value at ROW_NUMBER = ceil(p·n)) for both cuts. Scale: two
    // grouped-quantile passes (O(B·groups) driver state) + one
    // map-side-combined aggregate.
    QueryDef("q174_winsorized_mean",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("value").as("v"))
        val lo = quantileDiscByGroup(ev, col("event_type"), col("v"), 0.05)
          .select(col("g").as("event_type"), col("n"), col("kth").as("lo"))
        val hi = quantileDiscByGroup(ev, col("event_type"), col("v"), 0.95)
          .select(col("g").as("event_type"), col("kth").as("hi"))
        ev.join(broadcast(lo), "event_type").join(broadcast(hi), "event_type")
          .withColumn("w",
            when(col("v") < col("lo"), col("lo"))
              .when(col("v") > col("hi"), col("hi")).otherwise(col("v")))
          .groupBy("event_type", "n", "lo", "hi")
          .agg(QueryDef.dsum(col("v")).as("sv"),
               QueryDef.dsum(col("w")).as("sw"))
          .select(col("event_type"), col("n"), col("lo"), col("hi"),
            round(col("sv") / col("n"), 6).as("mean_raw"),
            round(col("sw") / col("n"), 6).as("mean_winsor"))
          .orderBy("event_type")
      },
      Some(s"""WITH v AS MATERIALIZED (
             |  SELECT event_type, value AS v FROM events
             |  WHERE value IS NOT NULL),
             |n AS (SELECT event_type, count(*) AS n FROM v GROUP BY event_type),
             |r AS (SELECT event_type, v,
             |        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v) AS rn
             |      FROM v),
             |cuts AS MATERIALIZED (
             |  SELECT n.event_type, n.n,
             |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.05::DOUBLE * n.n) AS BIGINT))
             |        THEN r.v END) AS lo,
             |    MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.95::DOUBLE * n.n) AS BIGINT))
             |        THEN r.v END) AS hi
             |  FROM r JOIN n USING (event_type) GROUP BY n.event_type, n.n)
             |SELECT v.event_type, n, lo, hi,
             |  round(${QueryDef.dsumSql("v")} / n, 6) AS mean_raw,
             |  round(CAST(SUM(CAST(CASE WHEN v < lo THEN lo
             |                           WHEN v > hi THEN hi
             |                           ELSE v END AS DECIMAL(12,2))) AS DOUBLE) / n, 6)
             |    AS mean_winsor
             |FROM v JOIN cuts ON v.event_type = cuts.event_type
             |GROUP BY v.event_type, n, lo, hi
             |ORDER BY v.event_type""".stripMargin)),

    // RFM quintile scoring (✚, the segmentation workhorse: each user's
    // recency / frequency / monetary metrics scored 1–5 against the
    // population's own exact quintile cuts). Metrics are exact
    // (integer µs recency, counts, DECIMAL purchase sums); the twelve
    // cut points come from the bounded refinement machinery over the
    // per-user metric table (one row per user — the table a 100 TB
    // event log reduces to before any ranking), and the score is
    // 1 + #cuts-strictly-below, so ties at a cut score identically in
    // both engines. The oracle pins every cut at ROW_NUMBER =
    // ceil(p·n). One aggregation shuffle; scoring is a broadcast-free
    // per-row CASE against 12 literals.
    QueryDef("q185_rfm_scores",
      (s, d) => {
        val m = Tables.events(s, d).groupBy("user_id").agg(
          max(unix_micros(col("ts"))).as("last_us"),
          count(lit(1)).as("freq"),
          coalesce(sum(when(col("event_type") === "purchase",
            QueryDef.dec(col("value")))).cast("double"), lit(0.0)).as("monet"))
          .transform(pin)
        val n = m.count()
        // one selectKths refinement per metric column (4 cuts each in
        // ~4 shared jobs) instead of 12 sequential selectKth series
        def cuts(c: String): Seq[Double] = {
          val ranks = Seq(0.2, 0.4, 0.6, 0.8)
            .map(p => math.max(1L, math.ceil(p * n).toLong))
          val kth = selectKths(m, col(c), ranks)
          ranks.map(kth)
        }
        def score(c: org.apache.spark.sql.Column, cs: Seq[Double]) =
          cs.map(v => when(c > lit(v), 1L).otherwise(0L)).reduce(_ + _) + 1L
        val (rc, fc, mc) =
          (cuts("last_us"), cuts("freq"), cuts("monet"))
        m.select(col("user_id"),
            score(col("last_us"), rc).as("r_score"),
            score(col("freq"), fc).as("f_score"),
            score(col("monet"), mc).as("m_score"))
          .withColumn("segment",
            concat(col("r_score"), col("f_score"), col("m_score")))
          .orderBy("user_id")
      },
      Some {
        def cutSql(c: String, p: String) =
          s"""(SELECT v FROM (SELECT $c AS v,
             |  ROW_NUMBER() OVER (ORDER BY $c) AS rn FROM m) t, nn
             |  WHERE rn = GREATEST(1, CAST(CEIL($p::DOUBLE * nn.n) AS BIGINT)))""".stripMargin
        def scoreSql(c: String) =
          Seq("0.2", "0.4", "0.6", "0.8").map(p =>
            s"(CASE WHEN $c > ${cutSql(c, p)} THEN 1 ELSE 0 END)")
            .mkString(" + ") + " + 1"
        s"""WITH m AS MATERIALIZED (
           |  SELECT user_id, max(epoch_us(ts)) AS last_us,
           |    count(*) AS freq,
           |    coalesce(CAST(sum(CASE WHEN event_type = 'purchase'
           |      THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE), 0.0)
           |      AS monet
           |  FROM events GROUP BY user_id),
           |nn AS MATERIALIZED (SELECT count(*) AS n FROM m)
           |SELECT user_id,
           |  CAST(${scoreSql("last_us")} AS BIGINT) AS r_score,
           |  CAST(${scoreSql("freq")} AS BIGINT) AS f_score,
           |  CAST(${scoreSql("monet")} AS BIGINT) AS m_score,
           |  CAST(${scoreSql("last_us")} AS VARCHAR) ||
           |  CAST(${scoreSql("freq")} AS VARCHAR) ||
           |  CAST(${scoreSql("monet")} AS VARCHAR) AS segment
           |FROM m ORDER BY user_id""".stripMargin
      }),

    // Equi-depth range-partition boundary planner (✚): the 15 exact
    // cut values that split lineitem.l_extendedprice into 16 balanced
    // ranges — what a physical-layout planner needs before a range
    // repartition / range-bucketed write (Spark's own RangePartitioner
    // SAMPLES and accepts imbalance; a layout that persists for years
    // of scans is worth exact boundaries). Rank_j = ceil(j·N/16) in
    // integer arithmetic ((jN+15) div 16 — no float boundary fuzz),
    // each resolved by selectKth's bounded refinement: ~log_B(N) scans
    // of one pruned column per cut, O(B) driver state, NO global sort
    // — the point of the operator at 100 TB, where sort-based quantile
    // of the layout key is exactly the shuffle the layout is trying to
    // avoid. Boundary values are corpus doubles — compared unrounded.
    QueryDef("q202_range_boundaries",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val n = li.where(col("l_extendedprice").isNotNull).count()
        val parts = 16
        val ranks = (1 until parts).map(j => (j.toLong * n + parts - 1) / parts)
        // all 15 cuts in ONE refinement (selectKths): ~4 bucket-count
        // jobs total, vs 15 sequential selectKth series (~60 jobs)
        val kth = selectKths(li, col("l_extendedprice"), ranks)
        (1 until parts).map { j =>
          val rk = ranks(j - 1); (j.toLong, rk, kth(rk))
        }.toDF("bnd", "rk", "v").orderBy("bnd")
      },
      Some("""WITH v AS (
             |  SELECT l_extendedprice AS v FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL),
             |n AS (SELECT COUNT(*) AS n FROM v),
             |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v),
             |cuts AS (
             |  SELECT j AS bnd, (j * n.n + 15) // 16 AS rk
             |  FROM (SELECT unnest(range(1, 16)) AS j) js, n)
             |SELECT cuts.bnd, cuts.rk, r.v
             |FROM cuts JOIN r ON r.rn = cuts.rk
             |ORDER BY bnd""".stripMargin)),

    // Sample-vs-exact quantile error audit (✚): the 100 TB reality is
    // that most quantiles come from a SAMPLE (Spark's own
    // RangePartitioner, approx dashboards); this gate measures what
    // that costs, exactly — a deterministic 5% md5 sample's p50/p90
    // against the full corpus's, both resolved by the same
    // rank-refinement machinery (value at rank ceil(p·n), q133
    // semantics, never a sort). The audit shape is the production
    // artifact: sampled estimate next to measured error, so a layout/
    // SLA decision is made on evidence. All compared values are corpus
    // doubles — no float arithmetic to round.
    QueryDef("q208_sample_quantile_audit",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val keyed = li.withColumn("h",
          conv(substring(md5(concat_ws("-", col("l_orderkey"),
            col("l_linenumber"))), 1, 8), 16, 10).cast("long") % 100)
        val samp = keyed.where(col("h") < 5)
        val n = li.count()
        val ns = samp.count()
        val ps = Seq(0.5, 0.9)
        val sk = selectKths(samp, col("l_extendedprice"),
          ps.map(p => math.max(1L, math.ceil(p * ns).toLong)))
        val ek = selectKths(li, col("l_extendedprice"),
          ps.map(p => math.max(1L, math.ceil(p * n).toLong)))
        val out = ps.map { p =>
          val sv = sk(math.max(1L, math.ceil(p * ns).toLong))
          val ev = ek(math.max(1L, math.ceil(p * n).toLong))
          (p, sv, ev, math.abs(sv - ev))
        }
        out.toDF("p", "sample_v", "exact_v", "abs_err").orderBy("p")
      },
      Some("""WITH li AS (
             |  SELECT l_extendedprice AS v,
             |    CAST(CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
             |      || CAST(l_linenumber AS VARCHAR)), 1, 8) AS BIGINT) % 100
             |      AS BIGINT) AS h
             |  FROM lineitem),
             |full_r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM li),
             |fn AS (SELECT COUNT(*) AS n FROM li),
             |samp AS (SELECT v FROM li WHERE h < 5),
             |samp_r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM samp),
             |sn AS (SELECT COUNT(*) AS n FROM samp),
             |ps AS (SELECT unnest([0.5, 0.9]) AS p),
             |got AS (
             |  SELECT ps.p,
             |    (SELECT v FROM samp_r, sn
             |     WHERE rn = GREATEST(1, CAST(CEIL(ps.p::DOUBLE * sn.n) AS BIGINT)))
             |      AS sample_v,
             |    (SELECT v FROM full_r, fn
             |     WHERE rn = GREATEST(1, CAST(CEIL(ps.p::DOUBLE * fn.n) AS BIGINT)))
             |      AS exact_v
             |  FROM ps)
             |SELECT p, sample_v, exact_v, abs(sample_v - exact_v) AS abs_err
             |FROM got ORDER BY p""".stripMargin)),

    // Inter-arrival time median per event type (✚, the traffic-shape
    // statistic behind capacity planning and anomaly baselines — mean
    // inter-arrival is dragged by idle gaps, the median isn't): gaps
    // between CONSECUTIVE events of a type under the total (ts,
    // event_id) order, resolved by the grouped refinement machinery
    // (value at rank ceil(0.5·n), q133 semantics — never a per-group
    // sort buffer). The lag window partitions by type; gaps are exact
    // micros longs end to end.
    QueryDef("q213_interarrival",
      (s, d) => {
        // Scale.distributedLag, NOT Window.partitionBy(event_type): a
        // handful of types would cap the lag at |types| tasks — the
        // round-10 sf1 study measured that shape at 11.8× for 10× data
        // (the one super-linear query it caught); the two-phase lag
        // with boundary carry restores partitions×types parallelism
        val ev = Tables.events(s, d)
          .select(col("event_type"), unix_micros(col("ts")).as("ts_us"),
            col("event_id"))
        val gaps = Scale.distributedLag(ev, col("event_type"),
            col("ts_us"), col("event_id"))
          .where(col("prev").isNotNull)
          .select(col("event_type"), (col("ts_us") - col("prev")).as("gap_us"))
        quantileDiscByGroup(gaps, col("event_type"), col("gap_us"), 0.5)
          .select(col("g"), col("n"), col("kth").cast("long").as("p50_us"))
          .orderBy("g")
      },
      Some("""WITH gaps AS (
             |  SELECT event_type AS g,
             |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
             |      (PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |v AS (SELECT g, gap_us FROM gaps WHERE gap_us IS NOT NULL),
             |n AS (SELECT g, COUNT(*) AS n FROM v GROUP BY g),
             |r AS (SELECT g, gap_us, ROW_NUMBER() OVER (PARTITION BY g
             |        ORDER BY gap_us) AS rn FROM v)
             |SELECT n.g, n.n,
             |  CAST(MAX(CASE WHEN rn = GREATEST(1,
             |    CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT))
             |    THEN r.gap_us END) AS BIGINT) AS p50_us
             |FROM r JOIN n USING (g) GROUP BY n.g, n.n
             |ORDER BY n.g""".stripMargin)),

    // Imputation quality audit (✚, the missing-data decision measured
    // instead of assumed: mask a deterministic 1-in-13 slice of event
    // values, impute each from its type's median of the SURVIVING
    // rows — grouped rank refinement, never a per-group sort — and
    // score the imputation against the held-out truth). MAE folds
    // |median − truth| through round@9 DECIMAL sums (order-independent
    // aggregation), ÷ count in one double op. The audit shape is the
    // production artifact: impute policy next to its measured error,
    // per group.
    QueryDef("q222_impute_audit",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value"))
        val kept = ev.where(pmod(col("event_id"), lit(13)) =!= 0)
        val med = quantileDiscByGroup(kept, col("event_type"), col("value"), 0.5)
          .select(col("g").as("event_type"), col("kth").as("med"))
        val masked = ev.where(pmod(col("event_id"), lit(13)) === 0)
        masked.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_masked"),
            first(col("med")).as("med0"),
            sum(round(abs(col("med") - col("value")), 9)
              .cast("decimal(30,9)")).cast("double").as("sae"))
          .select(col("event_type"), col("n_masked"),
            round(col("med0"), 2).as("med"),
            round(col("sae") / col("n_masked"), 6).as("mae"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, event_id, value FROM events),
             |kept AS (SELECT event_type AS g, value AS v FROM ev
             |         WHERE event_id % 13 <> 0),
             |n AS (SELECT g, COUNT(*) AS n FROM kept WHERE v IS NOT NULL
             |      GROUP BY g),
             |r AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v)
             |        AS rn FROM kept WHERE v IS NOT NULL),
             |med AS (
             |  SELECT n.g AS event_type,
             |    MAX(CASE WHEN rn = GREATEST(1,
             |      CAST(CEIL(0.5::DOUBLE * n.n) AS BIGINT)) THEN r.v END) AS med
             |  FROM r JOIN n USING (g) GROUP BY n.g, n.n),
             |masked AS (SELECT event_type, value FROM ev WHERE event_id % 13 = 0)
             |SELECT m.event_type, COUNT(*) AS n_masked,
             |  round(MAX(med.med), 2) AS med,
             |  round(CAST(SUM(CAST(round(abs(med.med - m.value), 9)
             |    AS DECIMAL(30,9))) AS DOUBLE) / COUNT(*), 6) AS mae
             |FROM masked m JOIN med ON m.event_type = med.event_type
             |GROUP BY m.event_type ORDER BY m.event_type""".stripMargin)),

    // Per-entity p90 profile (✚, the latency-SLO view: "what does the
    // TYPICICAL user's bad case look like" — distribution OF per-user
    // tail statistics, not the global tail). Two order-statistics
    // regimes composed by their cardinality: per-user p90 runs as
    // embarrassingly-parallel user-partitioned windows (millions of
    // SMALL independent groups — the HIGH-cardinality complement of
    // quantileDiscByGroup, whose O(groups) driver state is for few
    // heavy keys), then the five summary cuts over the per-user table
    // resolve in ONE selectKths refinement. Ranks pinned as
    // ceil(p·n) on both engines throughout.
    QueryDef("q225_latency_profile",
      (s, d) => {
        import s.implicits._
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("value", "event_id")
        val per = Tables.events(s, d)
          .select(col("user_id"), col("value"), col("event_id"))
          .withColumn("rn", row_number().over(W))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
          .where(col("rn") === greatest(lit(1L),
            ceil(col("n").cast("double") * 0.9).cast("long")))
          .select(col("user_id"), col("value").as("p90"))
          .transform(pin)
        val nu = per.count()
        val ps = Seq(0.05, 0.25, 0.5, 0.75, 0.95)
        val ranks = ps.map(p => math.max(1L, math.ceil(p * nu).toLong))
        val kth = selectKths(per, col("p90"), ranks)
        ps.zip(ranks).map { case (p, rk) => (p, kth(rk)) }
          .toDF("p", "p90_at").orderBy("p")
      },
      Some("""WITH per AS (
             |  SELECT user_id, value AS p90 FROM (
             |    SELECT user_id, value,
             |      ROW_NUMBER() OVER (PARTITION BY user_id
             |        ORDER BY value, event_id) AS rn,
             |      COUNT(*) OVER (PARTITION BY user_id) AS n
             |    FROM events) t
             |  WHERE rn = GREATEST(1, CAST(CEIL(0.9::DOUBLE * n) AS BIGINT))),
             |nn AS (SELECT COUNT(*) AS nu FROM per),
             |r AS (SELECT p90, ROW_NUMBER() OVER (ORDER BY p90) AS rn FROM per),
             |ps AS (SELECT unnest([0.05, 0.25, 0.5, 0.75, 0.95]) AS p)
             |SELECT ps.p,
             |  (SELECT p90 FROM r, nn
             |   WHERE rn = GREATEST(1, CAST(CEIL(ps.p::DOUBLE * nn.nu) AS BIGINT)))
             |    AS p90_at
             |FROM ps ORDER BY p""".stripMargin)),

    // Exact two-sample Kolmogorov–Smirnov statistic (✚, the unbinned
    // drift test beside q165's binned PSI: KS = max |F₁ − F₂| over the
    // MERGED sample, sensitive to any distributional change, no bin
    // tuning to get wrong). The merged CDF walk is the two-phase
    // globalRunningSum — range partitions on (value, side, id),
    // bounded per-partition windows — never a single-task global
    // window; D computes per row in exact integer cross-products
    // (|cum1·n2 − cum2·n1| over n1·n2) and only the max aggregates.
    // Ties walk in a pinned (v, side, id) order on BOTH engines; on
    // tied data the walk's max upper-bounds the textbook KS (which
    // evaluates only at complete tie groups) — fine for a drift
    // monitor, and bit-identical cross-engine by the shared order.
    QueryDef("q226_ks_test",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_extendedprice").as("v"),
            pmod(col("l_orderkey"), lit(2)).as("side"),
            col("l_orderkey"), col("l_linenumber"))
        val counts = li.groupBy("side").agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (n1, n2) = (counts(0L), counts(1L))
        val cum1 = Scale.globalRunningSum(li,
            Seq(col("v"), col("side"), col("l_orderkey"), col("l_linenumber")),
            when(col("side") === 0, 1L).otherwise(0L))
          .withColumnRenamed("cum", "c1")
        val cum2 = Scale.globalRowNumber(cum1,
            Seq(col("v"), col("side"), col("l_orderkey"), col("l_linenumber")))
          .withColumn("c2", col("rn") - col("c1"))
        cum2.select((abs(col("c1") * n2 - col("c2") * n1)).as("dnum"))
          .agg(max("dnum").as("dmax"))
          .select(lit(n1).as("n1"), lit(n2).as("n2"),
            round(col("dmax").cast("double") / (n1.toDouble * n2), 6).as("ks"))
      },
      Some("""WITH li AS (
             |  SELECT l_extendedprice AS v, l_orderkey % 2 AS side,
             |    l_orderkey, l_linenumber
             |  FROM lineitem),
             |n AS (
             |  SELECT SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n1,
             |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n2
             |  FROM li),
             |c AS (
             |  SELECT
             |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) OVER w AS c1,
             |    ROW_NUMBER() OVER w AS rn
             |  FROM li
             |  WINDOW w AS (ORDER BY v, side, l_orderkey, l_linenumber
             |    ROWS UNBOUNDED PRECEDING))
             |SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
             |  round(CAST(MAX(abs(c1 * n.n2 - (rn - c1) * n.n1)) AS DOUBLE)
             |    / (CAST(n.n1 AS DOUBLE) * n.n2), 6) AS ks
             |FROM c, n GROUP BY n.n1, n.n2""".stripMargin)),

    // Tie-corrected Mann–Whitney U (✚, the rank-based two-sample test
    // beside q226's KS: U asks "does one population stochastically
    // dominate", robust to outliers, the standard nonparametric gate
    // on an A/B value metric). No global sort ever happens: the rank
    // sum needs only, per DISTINCT value, the tie-group size t and the
    // count of strictly-smaller items C — so the plan aggregates to
    // the distinct-value table first (map-side combined) and runs the
    // two-phase globalRunningSum over THAT (range partitions + bounded
    // per-partition windows, q226's discipline; at 100 TB the distinct
    // table is the shuffle, never the corpus). All rank arithmetic is
    // exact BIGINT on doubled ranks (2·avgrank = 2C + t + 1 is always
    // an integer), the tie correction Σ(t³−t) likewise; doubles appear
    // only in the final z, with the expression shape mirrored
    // token-for-token in the oracle and round@6 on top.
    QueryDef("q231_mann_whitney",
      (s, d) => {
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("click", "error"))
          .select(col("value").as("v"),
            when(col("event_type") === "click", 0L).otherwise(1L).as("side"))
        val byVal = ev.groupBy("v").agg(
          sum(when(col("side") === 0L, 1L).otherwise(0L)).as("ca"),
          count(lit(1)).as("t"))
        val cum = Scale.globalRunningSum(byVal, Seq(col("v")), col("t"))
        val agg = cum.agg(
          sum(col("ca")).as("na"),
          sum(col("t") - col("ca")).as("nb"),
          // inclusive cum − t = C(v), strictly-smaller count
          sum(col("ca") * (lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L)))
            .as("r2a"),
          sum(col("t") * col("t") * col("t") - col("t")).as("tiesum"))
        agg.select(col("na"), col("nb"),
            (col("r2a") - col("na") * (col("na") + lit(1L))).as("u2"),
            col("tiesum"))
          .select(col("na"), col("nb"),
            (col("u2").cast("double") / 2.0).as("u"),
            round((col("u2") - col("na") * col("nb")).cast("double") /
              (lit(2.0) * sqrt(col("na").cast("double") * col("nb") *
                ((col("na") + col("nb") + lit(1L)).cast("double") -
                  col("tiesum").cast("double") /
                    ((col("na") + col("nb")).cast("double") *
                      (col("na") + col("nb") - lit(1L)))) / lit(12.0))),
              6).as("z"))
      },
      Some("""WITH ev AS (
             |  SELECT value AS v,
             |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
             |  FROM events WHERE event_type IN ('click', 'error')),
             |byval AS (
             |  SELECT v, SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
             |    COUNT(*) AS t
             |  FROM ev GROUP BY v),
             |cum AS (
             |  SELECT ca, t,
             |    SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM byval),
             |agg AS (
             |  SELECT CAST(SUM(ca) AS BIGINT) AS na,
             |    CAST(SUM(t - ca) AS BIGINT) AS nb,
             |    CAST(SUM(ca * (2 * (cum - t) + t + 1)) AS BIGINT) AS r2a,
             |    CAST(SUM(t * t * t - t) AS BIGINT) AS tiesum
             |  FROM cum),
             |u AS (SELECT na, nb, r2a - na * (na + 1) AS u2, tiesum FROM agg)
             |SELECT na, nb, CAST(u2 AS DOUBLE) / 2.0 AS u,
             |  round(CAST(u2 - na * nb AS DOUBLE) /
             |    (2.0 * sqrt(CAST(na AS DOUBLE) * nb *
             |      (CAST(na + nb + 1 AS DOUBLE) -
             |        CAST(tiesum AS DOUBLE) /
             |          (CAST(na + nb AS DOUBLE) * (na + nb - 1))) / 12.0)),
             |    6) AS z
             |FROM u""".stripMargin)),

    // Tie-corrected Spearman rank correlation (✚, the monotone-
    // association companion of q231: Pearson on AVERAGE ranks, the
    // right "does y rise with x" for heavy-tailed metrics where raw
    // Pearson chases outliers). Rank assignment never sorts the
    // corpus: each column aggregates to its distinct-value table,
    // q231's doubled-avg-rank 2C+t+1 comes from the two-phase
    // globalRunningSum over THAT, and rows pick up their two ranks by
    // equality join on value (shuffles keyed by an 8-byte value, not
    // by row order). Moments are exact end-to-end in DECIMAL(38,0) —
    // BIGINT would already overflow n·Σr² around 10⁹ rows, so the
    // decimal lift is load-bearing at scale, not decoration. Doubles
    // enter only in the final ρ, identical expression shape both
    // engines, round@6. Doubling ranks leaves ρ unchanged (scale
    // invariance), which is what keeps every intermediate integral.
    QueryDef("q236_spearman",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        def ranks(c: String): DataFrame = {
          val byVal = li.groupBy(col(c).as("v")).agg(count(lit(1)).as("t"))
          Scale.globalRunningSum(byVal, Seq(col("v")), col("t"))
            .select(col("v"),
              (lit(2L) * (col("cum") - col("t")) + col("t") + lit(1L)).as("r"))
        }
        val joint = li
          .join(ranks("x").select(col("v").as("x"), col("r").as("rx")), "x")
          .join(ranks("y").select(col("v").as("y"), col("r").as("ry")), "y")
        def d19(c: Column) = c.cast("decimal(19,0)")
        val m = joint.agg(
          count(lit(1)).cast("decimal(19,0)").as("n"),
          sum(d19(col("rx"))).as("sx"), sum(d19(col("ry"))).as("sy"),
          sum(d19(col("rx")) * d19(col("rx"))).as("sxx"),
          sum(d19(col("ry")) * d19(col("ry"))).as("syy"),
          sum(d19(col("rx")) * d19(col("ry"))).as("sxy"))
        // the cross-moment combination n·Sxy − Sx·Sy would need ~57
        // decimal digits — past DECIMAL(38) on either engine — so the
        // SUMS stay exact decimal and the combination runs in double:
        // each exact sum casts to its nearest double identically on
        // both engines, then the expression shape is token-identical,
        // so the IEEE results match bit-for-bit (round@6 on top).
        def dd(c: String) = col(c).cast("double")
        m.select(col("n").cast("long").as("n"),
          round((dd("n") * dd("sxy") - dd("sx") * dd("sy")) /
            (sqrt(dd("n") * dd("sxx") - dd("sx") * dd("sx")) *
              sqrt(dd("n") * dd("syy") - dd("sy") * dd("sy"))),
            6).as("rho"))
      },
      Some("""WITH li AS (
             |  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
             |rx AS (
             |  SELECT v, 2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |    - t) + t + 1 AS r
             |  FROM (SELECT x AS v, COUNT(*) AS t FROM li GROUP BY x) q),
             |ry AS (
             |  SELECT v, 2 * (SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |    - t) + t + 1 AS r
             |  FROM (SELECT y AS v, COUNT(*) AS t FROM li GROUP BY y) q),
             |joint AS (
             |  SELECT rx.r AS jrx, ry.r AS jry FROM li
             |  JOIN rx ON rx.v = li.x JOIN ry ON ry.v = li.y),
             |m AS (
             |  SELECT CAST(COUNT(*) AS DECIMAL(19,0)) AS n,
             |    SUM(CAST(jrx AS DECIMAL(19,0))) AS sx,
             |    SUM(CAST(jry AS DECIMAL(19,0))) AS sy,
             |    SUM(CAST(jrx AS DECIMAL(19,0)) * CAST(jrx AS DECIMAL(19,0))) AS sxx,
             |    SUM(CAST(jry AS DECIMAL(19,0)) * CAST(jry AS DECIMAL(19,0))) AS syy,
             |    SUM(CAST(jrx AS DECIMAL(19,0)) * CAST(jry AS DECIMAL(19,0))) AS sxy
             |  FROM joint)
             |SELECT CAST(n AS BIGINT) AS n,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |      sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
             |FROM m""".stripMargin)),

    // Exact grouped WEIGHTED median (✚, the quantity-weighted center:
    // "the price at which half the VOLUME trades", the token-weighted
    // median document length — the unweighted q113 answers a different
    // question when weights are skewed). Never sorts the corpus: per
    // (group, value) weights aggregate first (map-side combined), the
    // global prefix runs once over THAT table via the two-phase
    // globalRunningSum on the (group, value) total order, and each
    // group's interior cumulative is recovered by subtracting the
    // group's start offset (an O(|groups|) broadcast join) — so ONE
    // range-partitioned pass serves every group simultaneously with no
    // per-group single-task window. The lower weighted
    // median (smallest v with 2·cum ≥ W) is pure integer arithmetic —
    // no doubles anywhere, bit-exact by construction.
    QueryDef("q242_weighted_median",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("g"),
            col("l_extendedprice").as("v"),
            col("l_quantity").cast("long").as("wq"))
        val byVal = li.groupBy("g", "v").agg(sum(col("wq")).as("w"))
        val cum = Scale.globalRunningSum(byVal, Seq(col("g"), col("v")), col("w"))
        val offs = cum.groupBy("g")
          .agg(min(col("cum") - col("w")).as("off"), sum(col("w")).as("wtot"))
        cum.join(broadcast(offs), "g")
          .where(lit(2L) * (col("cum") - col("off")) >= col("wtot"))
          .groupBy("g")
          .agg(min(col("v")).as("wmedian"), max(col("wtot")).as("w_total"))
          .select(col("g"), col("w_total"), col("wmedian"))
          .orderBy("g")
      },
      Some("""WITH byval AS (
             |  SELECT l_returnflag AS g, l_extendedprice AS v,
             |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
             |  FROM lineitem GROUP BY 1, 2),
             |cum AS (
             |  SELECT g, v, w,
             |    SUM(w) OVER (PARTITION BY g ORDER BY v
             |      ROWS UNBOUNDED PRECEDING) AS cw,
             |    SUM(w) OVER (PARTITION BY g) AS wtot
             |  FROM byval)
             |SELECT g, CAST(MAX(wtot) AS BIGINT) AS w_total,
             |  MIN(v) AS wmedian
             |FROM cum WHERE 2 * cw >= wtot
             |GROUP BY g ORDER BY g""".stripMargin)),

    // Kaplan–Meier survival estimator (✚, censored time-to-event — the
    // family nothing else in the suite covers: "how long from first
    // view to first purchase", where users who never purchased are
    // RIGHT-CENSORED at corpus end, not dropped — dropping them is the
    // classic conversion-time bias). Spells build with q240's greedy
    // min-chain (one user-keyed join + min-agg); the KM walk runs on
    // the DISTINCT-duration table: at-risk counts n_i = N − (leavers
    // before t_i) from one two-phase prefix, and the survival product
    // Π(1 − dᵢ/nᵢ) as a prefix of ln terms carried as EXACT scale-9
    // integers (round@9 → ×10⁹ → round@0 → BIGINT, so the running sum
    // is integer arithmetic and cross-engine ln ulp drift is absorbed
    // before accumulation, not after). d = n (everyone at risk dies)
    // would be ln 0: floored at −30 (e⁻³⁰ rounds to 0 at 6 dp) on both
    // engines. Scale: the corpus collapses to per-user spells, spells
    // to distinct durations; both prefixes are the q226 discipline.
    QueryDef("q247_kaplan_meier",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"))
        val tmax = ev.agg(max("tsu")).first().getLong(0)
        val t0 = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("tsu").as("t0"))
        val tp = t0.join(ev.where(col("event_type") === "purchase"), "user_id")
          .where(col("tsu") > col("t0"))
          .groupBy("user_id").agg(min("tsu").as("tp"))
        val spells = t0.join(tp, Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("tp").isNotNull, (col("tp") - col("t0")).cast("long"))
              .otherwise(lit(tmax) - col("t0")).as("dur_us"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("death"))
          .select(col("user_id"), expr("dur_us div 1000000").as("dur_s"),
            col("death"))
        val n = spells.count()
        val byDur = spells.groupBy("dur_s")
          .agg(sum(col("death")).as("dd"), count(lit(1)).as("leave"))
        val cumLeave = Scale.globalRunningSum(byDur, Seq(col("dur_s")),
            col("leave"))
          .withColumnRenamed("cum", "cumleave")
          .withColumn("n_risk", lit(n) - (col("cumleave") - col("leave")))
        val terms = cumLeave.withColumn("ln9",
          when(col("dd") === 0L, lit(0L)).otherwise(
            when(col("dd") === col("n_risk"), lit(-30000000000L)).otherwise(
              round(round(log(lit(1.0) -
                col("dd").cast("double") / col("n_risk")), 9) * 1e9, 0)
                .cast("long"))))
        Scale.globalRunningSum(terms, Seq(col("dur_s")), col("ln9"))
          .withColumnRenamed("cum", "cumln9")
          .where(col("dd") > 0L)
          .select(col("dur_s"), col("dd").as("n_deaths"),
            (col("leave") - col("dd")).as("n_censored"),
            col("n_risk"),
            round(exp(col("cumln9").cast("double") / 1e9), 6).as("surv"))
          .orderBy("dur_s")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |tmax AS (SELECT MAX(tsu) AS tm FROM ev),
             |t0 AS (SELECT user_id, MIN(tsu) AS t0 FROM ev
             |       WHERE event_type = 'view' GROUP BY 1),
             |tp AS (SELECT t0.user_id, MIN(ev.tsu) AS tp
             |       FROM t0 JOIN ev ON ev.user_id = t0.user_id
             |         AND ev.event_type = 'purchase' AND ev.tsu > t0.t0
             |       GROUP BY 1),
             |spells AS (
             |  SELECT t0.user_id,
             |    (CASE WHEN tp.tp IS NOT NULL THEN tp.tp - t0.t0
             |          ELSE tmax.tm - t0.t0 END) // 1000000 AS dur_s,
             |    CASE WHEN tp.tp IS NOT NULL THEN 1 ELSE 0 END AS death
             |  FROM t0 LEFT JOIN tp ON t0.user_id = tp.user_id
             |  CROSS JOIN tmax),
             |n AS (SELECT COUNT(*) AS n FROM spells),
             |bydur AS (
             |  SELECT dur_s, CAST(SUM(death) AS BIGINT) AS dd,
             |    COUNT(*) AS leave
             |  FROM spells GROUP BY 1),
             |walk AS (
             |  SELECT dur_s, dd, leave,
             |    n.n - (SUM(leave) OVER (ORDER BY dur_s
             |      ROWS UNBOUNDED PRECEDING) - leave) AS n_risk
             |  FROM bydur, n),
             |terms AS (
             |  SELECT dur_s, dd, leave, n_risk,
             |    CASE WHEN dd = 0 THEN 0
             |         WHEN dd = n_risk THEN -30000000000
             |         ELSE CAST(round(round(ln(1.0 -
             |           CAST(dd AS DOUBLE) / n_risk), 9) * 1e9, 0) AS BIGINT)
             |    END AS ln9
             |  FROM walk)
             |SELECT dur_s, dd AS n_deaths, leave - dd AS n_censored,
             |  CAST(n_risk AS BIGINT) AS n_risk,
             |  round(exp(CAST(SUM(ln9) OVER (ORDER BY dur_s
             |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1e9), 6) AS surv
             |FROM terms WHERE dd > 0 ORDER BY dur_s""".stripMargin)),

    // Log-rank test (✚, q247's hypothesis-test companion: are two
    // groups' conversion-time curves the SAME curve? — the standard
    // two-sample censored comparison, not answerable by t-tests on
    // durations because censoring biases every moment). Groups split
    // users by id parity; spells are q247's. Per distinct death time:
    // observed group-1 deaths o1, expected e1 = d·n1/n under the null,
    // hypergeometric variance v = d·(n1/n)·(1−n1/n)·(n−d)/(n−1); the
    // statistic is (Σ(o1−e1))²/Σv ~ χ²(1). At-risk counts per group
    // come from TWO values carried through ONE two-phase prefix pass
    // (leavers and group-1 leavers — globalRunningSum runs twice over
    // the same bounded distinct-duration table, never the corpus).
    // Per-time e/v terms are rounded@9 into DECIMAL(38,9) sums —
    // order-independent, ulp-stable — and only the final χ² is a
    // plain double expression, shape-identical, round@6.
    QueryDef("q248_logrank",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"))
        val tmax = ev.agg(max("tsu")).first().getLong(0)
        val t0 = ev.where(col("event_type") === "view")
          .groupBy("user_id").agg(min("tsu").as("t0"))
        val tp = t0.join(ev.where(col("event_type") === "purchase"), "user_id")
          .where(col("tsu") > col("t0"))
          .groupBy("user_id").agg(min("tsu").as("tp"))
        val spells = t0.join(tp, Seq("user_id"), "left")
          .select(
            expr("(CASE WHEN tp IS NOT NULL THEN tp - t0 ELSE " +
              s"${tmax}L - t0 END) div 1000000").as("dur_s"),
            when(col("tp").isNotNull, 1L).otherwise(0L).as("death"),
            pmod(col("user_id"), lit(2)).as("g1"))
        val tot = spells.agg(count(lit(1)).as("nn"),
          sum(col("g1")).as("n1t")).first()
        val (nAll, n1All) = (tot.getLong(0), tot.getLong(1))
        val byDur = spells.groupBy("dur_s").agg(
          sum(col("death")).as("dd"),
          sum(col("death") * col("g1")).as("o1"),
          count(lit(1)).as("leave"),
          sum(col("g1")).as("leave1"))
        val cum = Scale.globalRunningSum(byDur, Seq(col("dur_s")), col("leave"))
          .withColumnRenamed("cum", "cl")
        val cum2 = Scale.globalRunningSum(cum, Seq(col("dur_s")), col("leave1"))
          .withColumnRenamed("cum", "cl1")
          .withColumn("nr", lit(nAll) - (col("cl") - col("leave")))
          .withColumn("nr1", lit(n1All) - (col("cl1") - col("leave1")))
        val agg = cum2.where(col("dd") > 0L).agg(
          sum(col("o1")).as("o1t"),
          sum(round(col("dd").cast("double") * col("nr1") / col("nr"), 9)
            .cast("decimal(38,9)")).cast("double").as("e1t"),
          sum(round(
            when(col("nr") > 1L,
              col("dd").cast("double") * (col("nr1").cast("double") / col("nr")) *
                (lit(1.0) - col("nr1").cast("double") / col("nr")) *
                ((col("nr") - col("dd")).cast("double") / (col("nr") - lit(1L))))
              .otherwise(lit(0.0)), 9)
            .cast("decimal(38,9)")).cast("double").as("vt"))
        agg.select(col("o1t"), round(col("e1t"), 6).as("e1t"),
          round((col("o1t").cast("double") - col("e1t")) *
            (col("o1t").cast("double") - col("e1t")) / col("vt"), 6)
            .as("chi2"))
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |tmax AS (SELECT MAX(tsu) AS tm FROM ev),
             |t0 AS (SELECT user_id, MIN(tsu) AS t0 FROM ev
             |       WHERE event_type = 'view' GROUP BY 1),
             |tp AS (SELECT t0.user_id, MIN(ev.tsu) AS tp
             |       FROM t0 JOIN ev ON ev.user_id = t0.user_id
             |         AND ev.event_type = 'purchase' AND ev.tsu > t0.t0
             |       GROUP BY 1),
             |spells AS (
             |  SELECT (CASE WHEN tp.tp IS NOT NULL THEN tp.tp - t0.t0
             |               ELSE tmax.tm - t0.t0 END) // 1000000 AS dur_s,
             |    CASE WHEN tp.tp IS NOT NULL THEN 1 ELSE 0 END AS death,
             |    t0.user_id % 2 AS g1
             |  FROM t0 LEFT JOIN tp ON t0.user_id = tp.user_id
             |  CROSS JOIN tmax),
             |tot AS (SELECT COUNT(*) AS nn, CAST(SUM(g1) AS BIGINT) AS n1t
             |        FROM spells),
             |bydur AS (
             |  SELECT dur_s, CAST(SUM(death) AS BIGINT) AS dd,
             |    CAST(SUM(death * g1) AS BIGINT) AS o1,
             |    COUNT(*) AS leave, CAST(SUM(g1) AS BIGINT) AS leave1
             |  FROM spells GROUP BY 1),
             |walk AS (
             |  SELECT dur_s, dd, o1,
             |    tot.nn - (SUM(leave) OVER w - leave) AS nr,
             |    tot.n1t - (SUM(leave1) OVER w - leave1) AS nr1
             |  FROM bydur, tot
             |  WINDOW w AS (ORDER BY dur_s ROWS UNBOUNDED PRECEDING)),
             |agg AS (
             |  SELECT CAST(SUM(o1) AS BIGINT) AS o1t,
             |    CAST(SUM(CAST(round(CAST(dd AS DOUBLE) * nr1 / nr, 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS e1t,
             |    CAST(SUM(CAST(round(CASE WHEN nr > 1 THEN
             |        CAST(dd AS DOUBLE) * (CAST(nr1 AS DOUBLE) / nr) *
             |        (1.0 - CAST(nr1 AS DOUBLE) / nr) *
             |        (CAST(nr - dd AS DOUBLE) / (nr - 1))
             |      ELSE 0.0 END, 9) AS DECIMAL(38,9))) AS DOUBLE) AS vt
             |  FROM walk WHERE dd > 0)
             |SELECT o1t, round(e1t, 6) AS e1t,
             |  round((CAST(o1t AS DOUBLE) - e1t) * (CAST(o1t AS DOUBLE) - e1t)
             |    / vt, 6) AS chi2
             |FROM agg""".stripMargin)),

    // Welch's t-test (✚, the parametric companion of q231: unequal
    // variances, unequal sizes — the default two-sample mean test; the
    // Satterthwaite df is the part everyone gets wrong by assuming
    // pooled variance). One map-side-combined aggregation per group:
    // n, Σv, Σv² with each term rounded@9 into DECIMAL(38,9) (exact,
    // order-independent — a float Σv² would make the variance depend
    // on reduction order), then mean/variance/t/df are derived in
    // token-identical double shape on both engines, round@6.
    QueryDef("q254_welch_t",
      (s, d) => {
        val g = Tables.events(s, d)
          .where(col("event_type").isin("click", "error"))
          .groupBy(col("event_type").as("g"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value"), 9).cast("decimal(38,9)"))
              .cast("double").as("sv"),
            sum(round(col("value") * col("value"), 9).cast("decimal(38,9)"))
              .cast("double").as("sq"))
          .withColumn("m", col("sv") / col("n"))
          .withColumn("va", (col("sq") - col("sv") * col("sv") / col("n")) /
            (col("n") - lit(1L)))
          .withColumn("se2", col("va") / col("n"))
        val a = g.where(col("g") === "click")
          .select(col("n").as("n1"), col("m").as("m1"), col("se2").as("s1"))
        val b = g.where(col("g") === "error")
          .select(col("n").as("n2"), col("m").as("m2"), col("se2").as("s2"))
        a.crossJoin(b).select(
          col("n1"), col("n2"),
          round(col("m1") - col("m2"), 6).as("mean_diff"),
          round((col("m1") - col("m2")) / sqrt(col("s1") + col("s2")), 6)
            .as("t"),
          round((col("s1") + col("s2")) * (col("s1") + col("s2")) /
            (col("s1") * col("s1") / (col("n1") - lit(1L)) +
              col("s2") * col("s2") / (col("n2") - lit(1L))), 6).as("df"))
      },
      Some("""WITH g AS (
             |  SELECT event_type AS g, COUNT(*) AS n,
             |    CAST(SUM(CAST(round(value, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) AS sv,
             |    CAST(SUM(CAST(round(value * value, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) AS sq
             |  FROM events WHERE event_type IN ('click', 'error')
             |  GROUP BY 1),
             |e AS (
             |  SELECT g, n, sv / n AS m,
             |    ((sq - sv * sv / n) / (n - 1)) / n AS se2
             |  FROM g)
             |SELECT a.n AS n1, b.n AS n2,
             |  round(a.m - b.m, 6) AS mean_diff,
             |  round((a.m - b.m) / sqrt(a.se2 + b.se2), 6) AS t,
             |  round((a.se2 + b.se2) * (a.se2 + b.se2) /
             |    (a.se2 * a.se2 / (a.n - 1) + b.se2 * b.se2 / (b.n - 1)), 6)
             |    AS df
             |FROM e a CROSS JOIN e b
             |WHERE a.g = 'click' AND b.g = 'error'""".stripMargin)),

    // Exponential fit + one-sample KS (✚, the distributional CLAIM
    // test the two-sample gates can't do: are inter-arrival gaps
    // actually memoryless? λ is the exact MLE n/Σt, and the KS
    // distance to 1 − e^(−λt) is evaluated at BOTH sides of every
    // empirical step — the one-sample discipline q226's two-sample
    // walk doesn't need). Gaps per user from one lag window
    // (high-cardinality axis); the CDF walk runs on the DISTINCT-gap
    // table via the two-phase prefix; each |F_emp − F_model| rounds@9
    // BEFORE the max so libm exp ulp drift cannot reorder the argmax;
    // integers everywhere else.
    QueryDef("q267_exp_fit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val gaps = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
            col("event_id"))
          .withColumn("dt", col("tsu") - lag("tsu", 1).over(w))
          .where(col("dt").isNotNull && col("dt") > 0L)
          .select(col("dt"))
        val st = gaps.agg(count(lit(1)), sum("dt")).first()
        val (n, sdt) = (st.getLong(0), st.getLong(1))
        val byDt = gaps.groupBy("dt").agg(count(lit(1)).as("cnt"))
        val cum = Scale.globalRunningSum(byDt, Seq(col("dt")), col("cnt"))
        val f = lit(1.0) - exp(-(col("dt").cast("double") * n / sdt))
        cum.select(greatest(
            round(abs(col("cum").cast("double") / n - f), 9),
            round(abs((col("cum") - col("cnt")).cast("double") / n - f), 9))
            .as("dev"))
          .agg(max(col("dev")).as("dmax"))
          .select(lit(n).as("n_gaps"),
            round(lit(n).cast("double") / sdt * 3600000000.0, 6)
              .as("lambda_per_hr"),
            round(col("dmax"), 6).as("ks"))
      },
      Some("""WITH gaps AS (
             |  SELECT tsu - LAG(tsu) OVER (PARTITION BY user_id
             |    ORDER BY tsu, event_id) AS dt
             |  FROM (SELECT user_id, epoch_us(ts) AS tsu, event_id
             |        FROM events) e
             |  QUALIFY dt IS NOT NULL AND dt > 0),
             |st AS (SELECT COUNT(*) AS n, CAST(SUM(dt) AS BIGINT) AS sdt
             |       FROM gaps),
             |bydt AS (SELECT dt, COUNT(*) AS cnt FROM gaps GROUP BY 1),
             |cum AS (
             |  SELECT dt, cnt, SUM(cnt) OVER (ORDER BY dt
             |    ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM bydt),
             |dev AS (
             |  SELECT GREATEST(
             |    round(abs(CAST(cum AS DOUBLE) / st.n -
             |      (1.0 - exp(-(CAST(dt AS DOUBLE) * st.n / st.sdt)))), 9),
             |    round(abs(CAST(cum - cnt AS DOUBLE) / st.n -
             |      (1.0 - exp(-(CAST(dt AS DOUBLE) * st.n / st.sdt)))), 9))
             |    AS dev
             |  FROM cum CROSS JOIN st)
             |SELECT st.n AS n_gaps,
             |  round(CAST(st.n AS DOUBLE) / st.sdt * 3600000000.0, 6)
             |    AS lambda_per_hr,
             |  round(MAX(dev.dev), 6) AS ks
             |FROM dev CROSS JOIN st GROUP BY st.n, st.sdt""".stripMargin)),

    // Distribution-moment profile of log document length (✚, the
    // lognormality check behind every "length filter" curation
    // decision: if ln(n_chars) is near-Gaussian, z-score cuts are
    // principled; heavy skew/kurtosis says use the quantile machinery
    // instead). Four raw-moment sums in one map-side-combined pass
    // (each ln^k term rounded@9 into DECIMAL(38,9) — order-
    // independent), central moments and the standardized g₁/excess-g₂
    // derived in token-identical double shape, round@6.
    QueryDef("q269_log_moments",
      (s, d) => {
        def p9(c: org.apache.spark.sql.Column) =
          sum(round(c, 9).cast("decimal(38,9)")).cast("double")
        val x = log(col("n_chars").cast("double"))
        val m = Tables.documents(s, d).agg(
          count(lit(1)).as("n"), p9(x).as("s1"), p9(x * x).as("s2"),
          p9(x * x * x).as("s3"), p9(x * x * x * x).as("s4"))
        val stats = m
          .withColumn("mean", col("s1") / col("n"))
          .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
          .withColumn("m3", col("s3") / col("n") -
            lit(3.0) * col("mean") * (col("s2") / col("n")) +
            lit(2.0) * col("mean") * col("mean") * col("mean"))
          .withColumn("m4", col("s4") / col("n") -
            lit(4.0) * col("mean") * (col("s3") / col("n")) +
            lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n")) -
            lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        stats.select(col("n"),
          round(col("mean"), 6).as("mean_ln"),
          round(sqrt(col("m2")), 6).as("sd_ln"),
          round(col("m3") / (sqrt(col("m2")) * sqrt(col("m2")) *
            sqrt(col("m2"))), 6).as("skew"),
          round(col("m4") / (col("m2") * col("m2")) - 3.0, 6)
            .as("excess_kurtosis"))
      },
      Some("""WITH m AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(CAST(round(ln(CAST(n_chars AS DOUBLE)), 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS s1,
             |    CAST(SUM(CAST(round(ln(CAST(n_chars AS DOUBLE)) *
             |      ln(CAST(n_chars AS DOUBLE)), 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS s2,
             |    CAST(SUM(CAST(round(ln(CAST(n_chars AS DOUBLE)) *
             |      ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE)),
             |      9) AS DECIMAL(38,9))) AS DOUBLE) AS s3,
             |    CAST(SUM(CAST(round(ln(CAST(n_chars AS DOUBLE)) *
             |      ln(CAST(n_chars AS DOUBLE)) * ln(CAST(n_chars AS DOUBLE)) *
             |      ln(CAST(n_chars AS DOUBLE)), 9)
             |      AS DECIMAL(38,9))) AS DOUBLE) AS s4
             |  FROM documents),
             |st AS (
             |  SELECT n, s1 / n AS mean,
             |    s2 / n - (s1 / n) * (s1 / n) AS m2,
             |    s3 / n - 3.0 * (s1 / n) * (s2 / n) +
             |      2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             |    s4 / n - 4.0 * (s1 / n) * (s3 / n) +
             |      6.0 * (s1 / n) * (s1 / n) * (s2 / n) -
             |      3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
             |  FROM m)
             |SELECT n, round(mean, 6) AS mean_ln,
             |  round(sqrt(m2), 6) AS sd_ln,
             |  round(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)), 6) AS skew,
             |  round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis
             |FROM st""".stripMargin)),

    // One-way ANOVA F + effect size (✚, the k-group generalization of
    // q254: does the value metric differ across ALL event types at
    // once, and HOW MUCH of its variance the grouping explains — η²
    // is the practical-significance number the F alone hides). All
    // moments from ONE aggregation over (group): exact decimal Σv/Σv²
    // per group, combined driver-free in a second tiny aggregate;
    // SSB/SSW derive from the group sums (no second corpus pass),
    // doubles only in the final F/η² with identical shape, round@6.
    QueryDef("q256_anova_f",
      (s, d) => {
        val g = Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value"), 9).cast("decimal(38,9)")).as("sv"),
            sum(round(col("value") * col("value"), 9).cast("decimal(38,9)"))
              .as("sq"))
        val tot = g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
          sum(col("sv")).as("gs"), sum(col("sq")).as("gq"),
          // Σ (group sum)²/n — per-group term rounds@9 into a DECIMAL
          // sum (k doubles summed raw would be reduction-order-dependent)
          sum(round(col("sv").cast("double") * col("sv").cast("double") /
            col("n"), 9).cast("decimal(38,9)")).cast("double").as("sbraw"))
        tot.select(col("k"), col("nn").as("n"),
            round((col("sbraw") -
              col("gs").cast("double") * col("gs").cast("double") / col("nn")) /
              (col("k") - lit(1L)), 6).as("msb"),
            round((col("gq").cast("double") - col("sbraw")) /
              (col("nn") - col("k")), 6).as("msw"))
          .select(col("k"), col("n"),
            col("msb"), col("msw"),
            round(col("msb") / col("msw"), 6).as("f"),
            round(col("msb") * (col("k") - lit(1L)).cast("double") /
              (col("msb") * (col("k") - lit(1L)).cast("double") +
                col("msw") * (col("n") - col("k")).cast("double")), 6)
              .as("eta2"))
      },
      Some("""WITH g AS (
             |  SELECT event_type, COUNT(*) AS n,
             |    SUM(CAST(round(value, 9) AS DECIMAL(38,9))) AS sv,
             |    SUM(CAST(round(value * value, 9) AS DECIMAL(38,9))) AS sq
             |  FROM events GROUP BY 1),
             |tot AS (
             |  SELECT COUNT(*) AS k, CAST(SUM(n) AS BIGINT) AS nn,
             |    CAST(SUM(sv) AS DOUBLE) AS gs, CAST(SUM(sq) AS DOUBLE) AS gq,
             |    CAST(SUM(CAST(round(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
             |      / n, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sbraw
             |  FROM g),
             |ms AS (
             |  SELECT k, nn AS n,
             |    round((sbraw - gs * gs / nn) / (k - 1), 6) AS msb,
             |    round((gq - sbraw) / (nn - k), 6) AS msw
             |  FROM tot)
             |SELECT k, n, msb, msw,
             |  round(msb / msw, 6) AS f,
             |  round(msb * CAST(k - 1 AS DOUBLE) /
             |    (msb * CAST(k - 1 AS DOUBLE) + msw * CAST(n - k AS DOUBLE)),
             |    6) AS eta2
             |FROM ms""".stripMargin))
  )
}
