package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over the corpus token stream (✚ extension): the
  * bounded-memory frequency structure a 100 TB pipeline broadcasts to
  * probe token frequencies without carrying the full vocabulary.
  *
  * Construction is pure aggregation, so it is mergeable by construction:
  * cell(row i, bucket b) = Σ counts of tokens with h_i(tok) = b, built
  * with ordinary partial aggregation (map-side combine collapses hot
  * tokens before the shuffle, the same story as exact dedup q24). The
  * sketch is d×w rows TOTAL (4×1024 here) regardless of corpus size —
  * at 100 TB the cells table broadcasts in KBs while the true
  * vocabulary would not. Estimates are the classic min over rows:
  * est(tok) = min_i cell(i, h_i(tok)) ≥ true count, with overcount
  * ≤ e/w · N at probability 1−e^−d.
  *
  * Hash family: row i reads hex chars [8i+1, 8i+8) of md5(tok) — the
  * same one-digest-sliced-into-independent-words trick as the MinHash
  * components (Dedup.scala), so the oracle mirrors it exactly
  * (DuckDB `('0x' || substr(md5(tok), …))::BIGINT`, the proven q56
  * pattern).
  */
object Sketch {

  val width = 1024
  val depth = 4

  /** Bucket of `tok` in sketch row `i`: 32 md5 bits → [0, w). `w` is
    * overridable so specs can shrink the sketch to a HOSTILE width where
    * every bucket collides — the one-sided bound is only exercised where
    * collisions actually occur (at w=1024 most estimates are exact). */
  private def bucket(tok: Column, i: Int, w: Int = width): Column =
    conv(substring(md5(tok), 8 * i + 1, 8), 16, 10).cast("long") % w

  /** Exact per-token counts — the input the sketch compresses. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))

  /** The d×w cells table. One pass: each token row fans out to its
    * `depth` (row, bucket) coordinates via posexplode — never a
    * union-of-branches that would re-run the count aggregation. */
  def countMinCells(counts: DataFrame, w: Int = width): DataFrame =
    counts
      .select(col("n"),
        posexplode(array((0 until depth).map(i => bucket(col("tok"), i, w)): _*))
          .as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(sum(col("n")).as("cell"))

  /** Point estimates for `probes` (one column `tok`): min cell across
    * the sketch's rows. The cells side is broadcast — at any corpus
    * size it is d×w rows. LEFT join: an empty bucket counts as zero
    * mass, so a probe with any empty bucket isn't dropped from the min
    * (which would inflate its estimate off its nonempty rows alone). A
    * never-seen token thus estimates 0 whenever at least one of its d
    * buckets is empty; if all d collide with real tokens it keeps the
    * standard positive CMS overcount. */
  def estimate(cells: DataFrame, probes: DataFrame, w: Int = width): DataFrame =
    probes
      .select(col("tok"),
        posexplode(array((0 until depth).map(i => bucket(col("tok"), i, w)): _*))
          .as(Seq("row", "bucket")))
      .join(broadcast(cells), Seq("row", "bucket"), "left")
      .groupBy("tok").agg(min(coalesce(col("cell"), lit(0L))).as("est_n"))

  /** Cells built directly from a raw token stream (one column `tok`),
    * skipping the exact per-token count: the shuffle is keyed by
    * (row, bucket) — at most d×w distinct keys, collapsed map-side to
    * ≤ d×w rows per input partition REGARDLESS of vocabulary size.
    * This is the build a 100 TB corpus uses; [[countMinCells]] over an
    * existing count table produces identical cells. */
  def countMinCellsOf(toks: DataFrame, w: Int = width): DataFrame =
    toks
      .select(posexplode(array((0 until depth).map(i => bucket(col("tok"), i, w)): _*))
        .as(Seq("row", "bucket")))
      .groupBy("row", "bucket")
      .agg(count(lit(1)).as("cell"))

  /** Heavy hitters via sketch-as-filter — the two-pass production
    * pattern. Pass 1: build the d×w cells from the raw stream (bounded
    * shuffle above). Pass 2: re-stream tokens, compute each
    * occurrence's estimate with d broadcast joins (map-side — the
    * stream itself never shuffles), admit occurrences whose estimate
    * clears `frac`·total (no false negatives: est ≥ truth), and
    * exact-count ONLY the admitted tokens — the exact aggregation's key
    * space is the candidate set, never the vocabulary. Sketch false
    * positives are then dropped exactly (`n ≥ frac·total`). */
  def heavyHitters(docs: DataFrame, frac: Double = 0.02): DataFrame = {
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val cells = pin(countMinCellsOf(toks)) // probed d times below
    val est = (0 until depth).foldLeft(toks) { (df, i) =>
      df.join(broadcast(cells.where(col("row") === i)
          .select(col("bucket").as(s"b$i"), col("cell").as(s"c$i"))),
        bucket(col("tok"), i) === col(s"b$i"))
        .drop(s"b$i")
    }.withColumn("est_n", least((0 until depth).map(j => col(s"c$j")): _*))
    // total token mass is conserved by every sketch row (SketchSpec
    // asserts it), so the scalar comes from the 4096-row checkpoint —
    // not a third pass over the corpus
    est
      .crossJoin(broadcast(cells.where(col("row") === 0)
        .agg(sum(col("cell")).as("total"))))
      .where(col("est_n") >= col("total") * frac)
      .groupBy("tok", "est_n", "total").agg(count(lit(1)).as("n"))
      .where(col("n") >= col("total") * frac)
      .select(col("tok"), col("n"), col("est_n"))
  }

  // ── HyperLogLog distinct sketch ──────────────────────────────────────
  //
  // The cardinality twin of the count-min family above: per-key distinct
  // counts in 64 one-byte registers per key, regardless of how many
  // distinct items the key holds. Registers are built by ONE max-
  // aggregation keyed by (key, register) — at most keys×64 shuffle keys
  // with map-side combine, and max-merge makes the sketch mergeable by
  // construction (partial registers from any partitioning of the stream
  // max-merge to the full-stream registers; HllSpec asserts it). At
  // 100 TB this replaces COUNT(DISTINCT x), whose exact form shuffles
  // every distinct value by its own bytes.

  /** Register count 2^6 and the matching alpha_64 bias constant from
    * Flajolet et al. (HyperLogLog, AofA 2007). m = 64 keeps the dense
    * register table oracle-manageable while the stderr bound
    * 1.04/sqrt(m) = 13% stays honest; production would use p = 12–14
    * by changing these two constants. */
  val hllM = 64
  val hllAlpha = 0.709

  /** (register, rank) coordinates of one item: 32 md5 bits split as
    * low-6 register index + the remaining 26 bits' leading-zero rank
    * rho in [1, 27]. bin() renders a long without leading zeros in both
    * engines, so bit_length(w) is just length(bin(w)) with the single
    * w = 0 case handled by the '0'-trim. Same one-digest hash family as
    * the CMS rows above, so the oracle mirrors it verbatim. */
  private def hllCoords(item: Column): (Column, Column) = {
    val h = conv(substring(md5(item), 1, 8), 16, 10).cast("long")
    (h % hllM, lit(27) - length(ltrim(bin(shiftright(h, 6)), "0")))
  }

  /** Per-key HLL registers of `items` (columns `key`, `item`). */
  def hllRegisters(items: DataFrame): DataFrame = {
    val (j, rho) = hllCoords(col("item"))
    items.select(col("key"), j.as("j"), rho.as("rho"))
      .groupBy("key", "j").agg(max(col("rho")).as("mj"))
  }

  /** Cardinality estimates from a register table, WITHOUT densifying:
    * a present register always has mj ≥ 1 (rho ≥ 1 by construction),
    * so every absent register is an empty one contributing exactly
    * 2^-0 = 1.0 to the indicator sum — hence
    * s = Σ_present 2^-mj + (m − n_present) and v = m − n_present, from
    * ONE aggregation over the sparse register table (no keys×64 grid,
    * no second consumer of `regs`, no materialization).
    *
    * Determinism: every 2^-mj term is a multiple of 2^-27 and the sum
    * of 64 of them is < 64, so all partial sums are exactly
    * representable in double — the indicator sum is EXACT and order-
    * independent, and both engines compute bit-identical `raw`. The
    * correction branch (taken iff raw ≤ 2.5m and an empty register
    * exists — identically decided on both sides) is one ln term,
    * rounded at 4 dp like the BM25 gate's ln. */
  def hllEstimate(regs: DataFrame): DataFrame =
    regs.groupBy("key")
      .agg(sum(pow(lit(2.0), -col("mj"))).as("sp"), count(lit(1)).as("np"))
      .withColumn("s", col("sp") + (lit(hllM) - col("np")))
      .withColumn("v", lit(hllM) - col("np"))
      .withColumn("raw", lit(hllAlpha * hllM * hllM) / col("s"))
      .select(col("key"),
        round(when(col("raw") <= 2.5 * hllM && col("v") > 0,
            lit(hllM.toDouble) * log(lit(hllM.toDouble) / col("v")))
          .otherwise(col("raw")), 4).as("n_est"))

  val defs: Seq[QueryDef] = Seq(
    // The exact top-20 tokens with their sketch estimates alongside the
    // truth: est_n ≥ n always; the margin IS the sketch's documented
    // error at this corpus/width ratio.
    QueryDef("q79_countmin",
      (s, d) => {
        val tc = tokenCounts(Tables.documents(s, d)).transform(pin)
        val top = tc.orderBy(col("n").desc, col("tok")).limit(20)
        top.join(estimate(countMinCells(tc), top.select("tok")), "tok")
          .select(col("tok"), col("n"), col("est_n"))
          .orderBy("tok")
      },
      Some(s"""WITH tc AS (
             |  SELECT tok, COUNT(*) AS n
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
             |  GROUP BY tok),
             |coords AS (
             |  SELECT tok, n, i.i AS row,
             |    ('0x' || substr(md5(tok), i.i * 8 + 1, 8))::BIGINT % $width AS bucket
             |  FROM tc, (SELECT unnest(range($depth)) AS i) i),
             |cells AS (SELECT row, bucket, CAST(SUM(n) AS BIGINT) AS cell
             |          FROM coords GROUP BY row, bucket),
             |top AS (SELECT tok, n FROM tc ORDER BY n DESC, tok LIMIT 20),
             |lk AS (
             |  SELECT t.tok, t.n, i.i AS row,
             |    ('0x' || substr(md5(t.tok), i.i * 8 + 1, 8))::BIGINT % $width AS bucket
             |  FROM top t, (SELECT unnest(range($depth)) AS i) i)
             |SELECT lk.tok, lk.n, MIN(c.cell) AS est_n
             |FROM lk JOIN cells c ON c.row = lk.row AND c.bucket = lk.bucket
             |GROUP BY lk.tok, lk.n
             |ORDER BY tok""".stripMargin)),

    // Sketch-as-filter heavy hitters at 2% of the token stream. The
    // oracle computes the same VALUES from the distinct-token side
    // (per-token estimates are constant across occurrences, so
    // admit-then-count equals count-then-admit); the Spark plan is the
    // streaming shape (see heavyHitters).
    QueryDef("q80_heavy_hitters",
      (s, d) => heavyHitters(Tables.documents(s, d)).orderBy("tok"),
      Some(s"""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |tc AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
             |coords AS (
             |  SELECT tok, n, i.i AS row,
             |    ('0x' || substr(md5(tok), i.i * 8 + 1, 8))::BIGINT % $width AS bucket
             |  FROM tc, (SELECT unnest(range($depth)) AS i) i),
             |cells AS (SELECT row, bucket, CAST(SUM(n) AS BIGINT) AS cell
             |          FROM coords GROUP BY row, bucket),
             |est AS (SELECT c.tok, c.n, MIN(cl.cell) AS est_n
             |        FROM coords c JOIN cells cl
             |          ON cl.row = c.row AND cl.bucket = c.bucket
             |        GROUP BY c.tok, c.n),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks)
             |SELECT tok, n, est_n
             |FROM est, tot
             |WHERE est_n >= total * 0.02 AND n >= total * 0.02
             |ORDER BY tok""".stripMargin)),

    // HLL distinct partkeys per returnflag, next to the exact count so
    // the gate exhibits the sketch's actual error at m = 64 (~13%
    // stderr). The exact side is gate-only demonstration — bounded here
    // by the part table — a 100 TB pipeline ships ONLY the 64-register
    // sketch per key.
    QueryDef("q116_hll_distinct",
      (s, d) => {
        val items = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("key"),
                  col("l_partkey").cast("string").as("item"))
        items.groupBy("key").agg(countDistinct(col("item")).as("n_exact"))
          .join(hllEstimate(hllRegisters(items)), "key")
          .orderBy("key")
      },
      Some(s"""WITH it AS (
             |  SELECT l_returnflag AS key, CAST(l_partkey AS VARCHAR) AS item
             |  FROM lineitem),
             |h AS (SELECT key, ('0x' || substr(md5(item), 1, 8))::BIGINT AS h
             |      FROM it),
             |r AS (SELECT key, h % $hllM AS j,
             |        27 - length(ltrim(bin(h // $hllM), '0')) AS rho
             |      FROM h),
             |regs AS (SELECT key, j, MAX(rho) AS mj FROM r GROUP BY key, j),
             |dense AS (
             |  SELECT f.key, g.j, COALESCE(regs.mj, 0) AS mj
             |  FROM (SELECT DISTINCT key FROM it) f
             |  CROSS JOIN (SELECT unnest(range($hllM)) AS j) g
             |  LEFT JOIN regs ON regs.key = f.key AND regs.j = g.j),
             |est AS (
             |  SELECT key, SUM(power(2.0, -mj)) AS s,
             |         SUM(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS v
             |  FROM dense GROUP BY key),
             |fin AS (
             |  SELECT key, CAST($hllAlpha AS DOUBLE) * $hllM * $hllM / s AS raw, v
             |  FROM est)
             |SELECT f.key, x.n_exact,
             |  round(CASE WHEN raw <= 2.5 * $hllM AND v > 0
             |             THEN $hllM * ln($hllM.0 / v) ELSE raw END, 4) AS n_est
             |FROM fin f
             |JOIN (SELECT key, COUNT(DISTINCT item) AS n_exact FROM it GROUP BY key) x
             |  USING (key)
             |ORDER BY key""".stripMargin)),

    // Sketch MERGEABILITY as an incremental-maintenance gate (the
    // q96/q102 pattern for sketch state): the corpus splits into a
    // prior batch and a delta batch, each builds its own registers,
    // and the MERGE (register-wise max — what a 1000-executor fleet
    // or a nightly-delta pipeline actually unions) must estimate
    // IDENTICALLY to a from-scratch full-corpus build. The oracle
    // computes only the full-corpus estimate and expects it in BOTH
    // columns, so any defect in the merge arithmetic — a lost
    // register, a wrong max, a dropped key — breaks the row hash.
    QueryDef("q137_hll_merge",
      (s, d) => {
        val items = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag").as("key"),
                  col("l_partkey").cast("string").as("item"))
        val prior = items.where(col("l_orderkey") % 4 =!= 0).drop("l_orderkey")
        val delta = items.where(col("l_orderkey") % 4 === 0).drop("l_orderkey")
        val merged = hllRegisters(prior).unionByName(hllRegisters(delta))
          .groupBy("key", "j").agg(max(col("mj")).as("mj"))
        hllEstimate(merged).select(col("key"), col("n_est").as("n_est_merged"))
          .join(hllEstimate(hllRegisters(items.drop("l_orderkey")))
            .select(col("key"), col("n_est").as("n_est_full")), "key")
          .orderBy("key")
      },
      Some(s"""WITH it AS (
             |  SELECT l_returnflag AS key, CAST(l_partkey AS VARCHAR) AS item
             |  FROM lineitem),
             |h AS (SELECT key, ('0x' || substr(md5(item), 1, 8))::BIGINT AS h
             |      FROM it),
             |r AS (SELECT key, h % $hllM AS j,
             |        27 - length(ltrim(bin(h // $hllM), '0')) AS rho
             |      FROM h),
             |regs AS (SELECT key, j, MAX(rho) AS mj FROM r GROUP BY key, j),
             |est AS (
             |  SELECT key, SUM(power(2.0, -mj)) + ($hllM - COUNT(*)) AS s,
             |         $hllM - COUNT(*) AS v
             |  FROM regs GROUP BY key),
             |fin AS (
             |  SELECT key, CAST($hllAlpha AS DOUBLE) * $hllM * $hllM / s AS raw, v
             |  FROM est)
             |SELECT key,
             |  round(CASE WHEN raw <= 2.5 * $hllM AND v > 0
             |             THEN $hllM * ln($hllM.0 / v) ELSE raw END, 4) AS n_est_merged,
             |  round(CASE WHEN raw <= 2.5 * $hllM AND v > 0
             |             THEN $hllM * ln($hllM.0 / v) ELSE raw END, 4) AS n_est_full
             |FROM fin ORDER BY key""".stripMargin)),

    // The CMS twin of q137: cells are COUNTERS, so the merge is
    // cell-wise ADDITION of the prior and delta sketches. Estimates
    // for the full corpus's top-10 tokens probed against the merged
    // cells must equal probes against a from-scratch build — the
    // oracle computes the full-corpus estimate once and expects it in
    // both columns.
    QueryDef("q138_cms_merge",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val prior = docs.where(pmod(col("doc_id"), lit(4)) =!= 0)
        val delta = docs.where(pmod(col("doc_id"), lit(4)) === 0)
        val merged = countMinCells(tokenCounts(prior))
          .unionByName(countMinCells(tokenCounts(delta)))
          .groupBy("row", "bucket").agg(sum(col("cell")).as("cell"))
        val tcAll = tokenCounts(docs).transform(pin)
        val top = tcAll.orderBy(col("n").desc, col("tok")).limit(10)
          .select("tok")
        estimate(merged, top)
          .select(col("tok"), col("est_n").as("est_merged"))
          .join(estimate(countMinCells(tcAll), top)
            .select(col("tok"), col("est_n").as("est_full")), "tok")
          .orderBy("tok")
      },
      Some(s"""WITH tc AS (
             |  SELECT tok, COUNT(*) AS n
             |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
             |  GROUP BY tok),
             |coords AS (
             |  SELECT tok, n, i.i AS row,
             |    ('0x' || substr(md5(tok), i.i * 8 + 1, 8))::BIGINT % $width AS bucket
             |  FROM tc, (SELECT unnest(range($depth)) AS i) i),
             |cells AS (SELECT row, bucket, CAST(SUM(n) AS BIGINT) AS cell
             |          FROM coords GROUP BY row, bucket),
             |top AS (SELECT tok FROM tc ORDER BY n DESC, tok LIMIT 10),
             |lk AS (
             |  SELECT t.tok, i.i AS row,
             |    ('0x' || substr(md5(t.tok), i.i * 8 + 1, 8))::BIGINT % $width AS bucket
             |  FROM top t, (SELECT unnest(range($depth)) AS i) i),
             |est AS (
             |  SELECT lk.tok, MIN(c.cell) AS e
             |  FROM lk JOIN cells c ON c.row = lk.row AND c.bucket = lk.bucket
             |  GROUP BY lk.tok)
             |SELECT tok, e AS est_merged, e AS est_full
             |FROM est ORDER BY tok""".stripMargin)),

    // The third mergeable sketch: a fixed-bin HISTOGRAM quantile sketch
    // (the deterministic member of the quantile-sketch family — KLL's
    // compaction is randomized and can't be oracle-mirrored). Bounds
    // come from a one-pass per-key min/max (the catalog-stats pass a
    // warehouse already has); B=128 equi-width bins give a ≤(hi−lo)/B
    // error bound; the estimate is the RIGHT EDGE of the first bin
    // whose cumulative count reaches rank ceil(p·n) — q133's rank
    // definition against bin edges. Like q137/q138 the gate is the
    // MERGE: prior⊎delta bin-count addition must estimate identically
    // to the from-scratch build (the oracle computes full only, both
    // columns).
    //
    // Scale: histograms collapse map-side to ≤ keys×B rows; the
    // cumulative window runs over the BIN TABLE (≤ keys×B), never the
    // corpus; every per-key relation joins by broadcast. All doubles
    // derive from identical (lo, hi, counts) on both engines — no
    // rounding anywhere.
    QueryDef("q141_hist_quantile_merge",
      (s, d) => {
        val B = 128
        val li = Tables.lineitem(s, d).select(col("l_orderkey"),
          col("l_returnflag").as("g"), col("l_extendedprice").cast("double").as("v"))
        val bounds = li.groupBy("g").agg(min("v").as("lo"), max("v").as("hi"),
          count(lit(1)).as("n")).transform(pin)
        val wdt = (col("hi") - col("lo")) / B
        def hist(df: DataFrame) =
          df.join(broadcast(bounds.select("g", "lo", "hi")), "g")
            .select(col("g"),
              when(wdt === 0.0, lit(0)).otherwise(
                greatest(least(floor((col("v") - col("lo")) / wdt), lit(B - 1)),
                  lit(0)).cast("int")).as("b"))
            .groupBy("g", "b").agg(count(lit(1)).as("c"))
        val full = hist(li).transform(pin)
        val merged = hist(li.where(col("l_orderkey") % 4 =!= 0))
          .unionByName(hist(li.where(col("l_orderkey") % 4 === 0)))
          .groupBy("g", "b").agg(sum(col("c")).as("c")).transform(pin)
        // BOTH quantiles from one cumulative pass per histogram (the
        // oracle's conditional-min shape): 2 windows total, each over
        // a ≤ keys×B bin table
        def ests(h: DataFrame, suffix: String) = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("g").orderBy("b")
          h.withColumn("cum", sum(col("c")).over(w))
            .join(broadcast(bounds), "g")
            .groupBy("g").agg(
              min(when(col("cum") >= ceil(lit(0.5) * col("n")), col("b")))
                .as("b50"),
              min(when(col("cum") >= ceil(lit(0.9) * col("n")), col("b")))
                .as("b90"))
            .join(broadcast(bounds), "g")
            .select(col("g"),
              (col("lo") + (col("b50") + 1) * wdt).as(s"p50_$suffix"),
              (col("lo") + (col("b90") + 1) * wdt).as(s"p90_$suffix"))
        }
        ests(merged, "merged").join(ests(full, "full"), "g")
          .join(bounds.select("g", "n"), "g")
          .select("g", "n", "p50_merged", "p50_full", "p90_merged", "p90_full")
          .orderBy("g")
      },
      Some("""WITH li AS (
             |  SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS v
             |  FROM lineitem),
             |bounds AS (SELECT g, MIN(v) AS lo, MAX(v) AS hi,
             |             COUNT(*) AS n FROM li GROUP BY g),
             |hist AS (
             |  SELECT li.g,
             |    CASE WHEN (hi - lo) / 128 = 0 THEN 0
             |         ELSE CAST(GREATEST(LEAST(
             |           FLOOR((v - lo) / ((hi - lo) / 128)), 127), 0) AS INT)
             |    END AS b,
             |    COUNT(*) AS c
             |  FROM li JOIN bounds USING (g) GROUP BY 1, 2),
             |cum AS (
             |  SELECT g, b, SUM(c) OVER (PARTITION BY g ORDER BY b) AS cum
             |  FROM hist),
             |q AS (
             |  SELECT cum.g,
             |    -- ::DOUBLE pins the rank arithmetic to Spark's: DuckDB's
             |    -- bare 0.9*n is exact DECIMAL and diverges at integral
             |    -- boundaries (double 0.9*n can land one ulp above)
             |    MIN(CASE WHEN cum >= CEIL(0.5::DOUBLE * n) THEN b END) AS b50,
             |    MIN(CASE WHEN cum >= CEIL(0.9::DOUBLE * n) THEN b END) AS b90
             |  FROM cum JOIN bounds USING (g) GROUP BY 1)
             |SELECT q.g, bounds.n,
             |  lo + (b50 + 1) * ((hi - lo) / 128) AS p50_merged,
             |  lo + (b50 + 1) * ((hi - lo) / 128) AS p50_full,
             |  lo + (b90 + 1) * ((hi - lo) / 128) AS p90_merged,
             |  lo + (b90 + 1) * ((hi - lo) / 128) AS p90_full
             |FROM q JOIN bounds USING (g)
             |ORDER BY g""".stripMargin)),

    // CMS join-size estimation (✚, the AMS inner-product classic — the
    // cardinality a cost-based planner needs BEFORE running a join):
    // |A ⋈ B| = Σ_k cntA(k)·cntB(k) is estimated by the row-wise inner
    // product of the two sides' CMS cell tables, min-ed across the d
    // rows (collisions only ADD mass, so every row over-estimates and
    // the min is the tightest). Gated on a self-join (F2, the second
    // frequency moment, the optimizer's skew statistic) AND a genuine
    // two-table pair, each against its exact value. The sketch is
    // WIDER here than the point-query default (64 K vs 1 K buckets):
    // inner-product bias grows as ΣA·ΣB/w, so a width that serves
    // point queries drowns a join estimate in collision mass — the
    // per-use-case sizing is the lesson, and the gate pins both
    // estimates within a few % of exact. Scale: the estimate touches
    // only two d×w cell tables — O(d·w) regardless of corpus size;
    // the exact sides exist here to gate the arithmetic (at 100 TB
    // the sketch IS what you can afford, which is the point).
    QueryDef("q163_cms_join_size",
      (s, d) => {
        val w = 1 << 16
        def keyCounts(df: DataFrame, key: Column) =
          df.select(key.cast("string").as("tok"))
            .groupBy("tok").agg(count(lit(1)).as("n"))
        def inner(a: DataFrame, b: DataFrame) =
          a.select(col("row"), col("bucket"), col("cell").as("ca"))
            .join(b.select(col("row"), col("bucket"), col("cell").as("cb")),
              Seq("row", "bucket"))
            .groupBy("row").agg(sum(col("ca") * col("cb")).as("ip"))
            .agg(min(col("ip")).as("est_size"))
        val lp = keyCounts(Tables.lineitem(s, d), col("l_partkey"))
          .transform(pin)
        val oc = keyCounts(Tables.orders(s, d), col("o_custkey"))
          .transform(pin)
        val eu = keyCounts(Tables.events(s, d), col("user_id"))
          .transform(pin)
        val selfRow = lp.agg(sum(col("n") * col("n")).as("exact_size"))
          .crossJoin(broadcast(inner(countMinCells(lp, w), countMinCells(lp, w))))
          .select(lit("lineitem.l_partkey self-join").as("join_key"),
            col("exact_size"), col("est_size"))
        val crossRow = oc
          .join(eu.select(col("tok"), col("n").as("n2")), "tok")
          .agg(sum(col("n") * col("n2")).as("exact_size"))
          .crossJoin(broadcast(inner(countMinCells(oc, w), countMinCells(eu, w))))
          .select(lit("orders.o_custkey x events.user_id").as("join_key"),
            col("exact_size"), col("est_size"))
        selfRow.unionAll(crossRow)
          .select(col("join_key"), col("exact_size"), col("est_size"),
            round((col("est_size") - col("exact_size")).cast("double")
              / col("exact_size"), 6).as("rel_err"))
          .orderBy("join_key")
      },
      Some(s"""WITH lp AS MATERIALIZED (
             |  SELECT CAST(l_partkey AS VARCHAR) AS tok, count(*) AS n
             |  FROM lineitem GROUP BY 1),
             |oc AS MATERIALIZED (
             |  SELECT CAST(o_custkey AS VARCHAR) AS tok, count(*) AS n
             |  FROM orders GROUP BY 1),
             |eu AS MATERIALIZED (
             |  SELECT CAST(user_id AS VARCHAR) AS tok, count(*) AS n
             |  FROM events GROUP BY 1),
             |ix AS (SELECT unnest(range($depth)) AS row),
             |clp AS MATERIALIZED (
             |  SELECT row, ('0x' || substr(md5(tok), row * 8 + 1, 8))::BIGINT % 65536 AS bucket,
             |         CAST(SUM(n) AS BIGINT) AS cell
             |  FROM lp, ix GROUP BY 1, 2),
             |coc AS MATERIALIZED (
             |  SELECT row, ('0x' || substr(md5(tok), row * 8 + 1, 8))::BIGINT % 65536 AS bucket,
             |         CAST(SUM(n) AS BIGINT) AS cell
             |  FROM oc, ix GROUP BY 1, 2),
             |ceu AS MATERIALIZED (
             |  SELECT row, ('0x' || substr(md5(tok), row * 8 + 1, 8))::BIGINT % 65536 AS bucket,
             |         CAST(SUM(n) AS BIGINT) AS cell
             |  FROM eu, ix GROUP BY 1, 2),
             |self_est AS (SELECT CAST(min(ip) AS BIGINT) AS est_size FROM (
             |  SELECT a.row, SUM(a.cell * b.cell) AS ip
             |  FROM clp a JOIN clp b ON a.row = b.row AND a.bucket = b.bucket
             |  GROUP BY 1) t),
             |cross_est AS (SELECT CAST(min(ip) AS BIGINT) AS est_size FROM (
             |  SELECT a.row, SUM(a.cell * b.cell) AS ip
             |  FROM coc a JOIN ceu b ON a.row = b.row AND a.bucket = b.bucket
             |  GROUP BY 1) t),
             |self_exact AS (SELECT CAST(SUM(n * n) AS BIGINT) AS exact_size FROM lp),
             |cross_exact AS (SELECT CAST(SUM(oc.n * eu.n) AS BIGINT) AS exact_size
             |                FROM oc JOIN eu USING (tok))
             |SELECT 'lineitem.l_partkey self-join' AS join_key, exact_size, est_size,
             |  round(CAST(est_size - exact_size AS DOUBLE) / exact_size, 6) AS rel_err
             |FROM self_exact, self_est
             |UNION ALL
             |SELECT 'orders.o_custkey x events.user_id', exact_size, est_size,
             |  round(CAST(est_size - exact_size AS DOUBLE) / exact_size, 6)
             |FROM cross_exact, cross_est
             |ORDER BY join_key""".stripMargin)),

    // HLL set intersection via inclusion–exclusion (✚, the audience-
    // overlap question: how many users did BOTH actions?): HLL unions
    // are exact over register max-merges (q137's gate), but sketches
    // cannot intersect directly — |A∩B| = est(A)+est(B)−est(A∪B), the
    // standard derived estimator whose error compounds from all three
    // terms (visible against the exact overlap alongside). The union
    // registers come from the SAME register pipeline fed the
    // concatenated population — no new machinery, which is the point
    // of mergeable sketch state. Scale: three 64-register sketches,
    // one distinct-pair exact side (gate-only; the production path
    // ships registers alone).
    QueryDef("q164_hll_intersection",
      (s, d) => {
        val ev = Tables.events(s, d)
          .where(col("event_type").isin("click", "purchase") &&
            col("value") > 150.0)
          .select(col("event_type"), col("user_id").cast("string").as("item"))
          .transform(pin)
        def pop(t: String, k: String) = ev.where(col("event_type") === t)
          .select(lit(k).as("key"), col("item"))
        val keyed = pop("click", "a").unionAll(pop("purchase", "b"))
          .unionAll(ev.select(lit("u").as("key"), col("item")))
        val ests = hllEstimate(hllRegisters(keyed))
          .agg(max(when(col("key") === "a", col("n_est"))).as("est_a"),
               max(when(col("key") === "b", col("n_est"))).as("est_b"),
               max(when(col("key") === "u", col("n_est"))).as("est_union"))
        val exact = pop("click", "a").select("item").distinct()
          .join(pop("purchase", "b").select("item").distinct(), "item")
          .agg(count(lit(1)).as("n_inter_exact"))
        exact.crossJoin(broadcast(ests))
          .select(col("n_inter_exact"),
            round(col("est_a") + col("est_b") - col("est_union"), 4)
              .as("n_inter_est"),
            col("est_a"), col("est_b"), col("est_union"))
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, CAST(user_id AS VARCHAR) AS item
             |  FROM events
             |  WHERE event_type IN ('click', 'purchase') AND value > 150.0),
             |it AS (
             |  SELECT 'a' AS key, item FROM ev WHERE event_type = 'click'
             |  UNION ALL
             |  SELECT 'b', item FROM ev WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT 'u', item FROM ev),
             |h AS (SELECT key, ('0x' || substr(md5(item), 1, 8))::BIGINT AS h
             |      FROM it),
             |r AS (SELECT key, h % $hllM AS j,
             |        27 - length(ltrim(bin(h // $hllM), '0')) AS rho
             |      FROM h),
             |regs AS (SELECT key, j, MAX(rho) AS mj FROM r GROUP BY key, j),
             |est AS (
             |  SELECT key,
             |    SUM(power(2.0, -mj)) + ($hllM - COUNT(*)) AS s,
             |    $hllM - COUNT(*) AS v
             |  FROM regs GROUP BY key),
             |fin AS (
             |  SELECT key, CAST($hllAlpha AS DOUBLE) * $hllM * $hllM / s AS raw, v
             |  FROM est),
             |ests AS (
             |  SELECT key, round(CASE WHEN raw <= 2.5 * $hllM AND v > 0
             |               THEN $hllM * ln($hllM.0 / v) ELSE raw END, 4) AS n_est
             |  FROM fin),
             |x AS (SELECT
             |    max(CASE WHEN key = 'a' THEN n_est END) AS est_a,
             |    max(CASE WHEN key = 'b' THEN n_est END) AS est_b,
             |    max(CASE WHEN key = 'u' THEN n_est END) AS est_union
             |  FROM ests),
             |exact AS (SELECT count(*) AS n_inter_exact FROM (
             |  SELECT DISTINCT item FROM ev WHERE event_type = 'click'
             |  INTERSECT
             |  SELECT DISTINCT item FROM ev WHERE event_type = 'purchase') t)
             |SELECT n_inter_exact,
             |  round(est_a + est_b - est_union, 4) AS n_inter_est,
             |  est_a, est_b, est_union
             |FROM exact, x""".stripMargin))
  )
}
