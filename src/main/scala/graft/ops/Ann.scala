package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.Vectors

/** Random-hyperplane LSH for cosine ANN — the scale path when no natural
  * blocking column exists (q34 uses the label cell; this builds its own
  * buckets from the geometry).
  *
  * `nBits` hyperplanes with deterministic ±1 components (seeded) hash
  * each vector to a bucket id = sign bits of its projections; cosine-
  * similar vectors collide with probability (1 − θ/π) per bit. Search
  * joins query and corpus on the bucket id — an equality join, shuffling
  * O(N) fixed-width keys instead of the O(N·Q) cross join. Multi-probe
  * (flipping one bit) trades extra probes for recall.
  */
object Ann {

  /** Deterministic ±1 hyperplane components: plane p, dimension j. */
  private[ops] def planeComponent(seed: Long, p: Int, j: Int): Double = {
    var h = seed ^ (p.toLong * 0x9e3779b97f4a7c15L) ^ (j.toLong * 0xc2b2ae3d27d4eb4fL)
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33)
    if ((h & 1L) == 0L) 1.0 else -1.0
  }

  /** Bucket-id column: sign bits of projections onto `nBits` planes.
    * Built from codegen'd higher-order functions over the vector column —
    * no UDF; planes are literal arrays baked into the plan. */
  def bucketCol(v: Column, dim: Int, nBits: Int = 8, seed: Long = 42L): Column =
    Seq.tabulate(nBits) { p =>
      val plane = array(Seq.tabulate(dim)(j => lit(planeComponent(seed, p, j))): _*)
      when(Vectors.dot(v, plane) >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  // ---- learned IVF: k-means coarse quantizer ----

  /** Per-centroid (squared-L2 distance, index) structs — the shared
    * core of assignment and probing: centroids baked in as literal
    * arrays, distance via zip_with + aggregate (codegen'd, no UDF).
    *
    * Oracle-parity note (q63/q66): the ASSIGNMENT argmin compares raw
    * double sums whose accumulation order may differ between engines;
    * unlike the cosine output (rounded to 5 dp because ranking
    * boundaries are dense), assignment is left unrounded — it flips
    * only if two centroid distances (or a hyperplane projection and
    * zero) sit within float-summation error of each other, which a
    * non-degenerate corpus/quantizer pair does not produce (fitted
    * centroids are cell means; projections of real vectors are bounded
    * away from 0 at any realistic dim). Rounding before argmin would
    * not reduce the straddle probability — it only converts exact ties
    * into the deterministic index tiebreak, and exact cross-centroid
    * ties cannot arise from a k-means fit on distinct data. */
  private def centroidEntries(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.zipWithIndex.map { case (c, i) =>
      // native fused squared-L2 (graft_l2sq): k distances per row make
      // this THE assignment hot loop; bit-identical to the composed
      // zip_with/aggregate fold, so the baked oracles are unaffected
      val d2 = Vectors.l2sq(v, array(c.map(lit).toSeq: _*))
      struct(d2.as("d"), lit(i).as("i"))
    }.toSeq: _*)

  /** Nearest-centroid cell id: argmin via array_min over the entries
    * (struct ordering compares the distance first). A narrow
    * projection — no shuffle — even at 100 TB. */
  def cellCol(v: Column, cents: Array[Array[Double]]): Column =
    array_min(centroidEntries(v, cents)).getField("i")

  /** The query-side probe list: the `nprobe` nearest cells in ascending
    * centroid distance (array_sort on the same entries). */
  def probeCells(v: Column, cents: Array[Array[Double]], nprobe: Int): Column =
    slice(transform(array_sort(centroidEntries(v, cents)), e => e.getField("i")),
      1, nprobe)

  /** Lloyd's k-means over a DataFrame of (vec_id, v: array<double>) —
    * the learned coarse quantizer q34's label-cell stand-in lacks.
    * Deterministic: init = the k lowest-id vectors; each iteration is
    * one distributed assignment pass (cellCol — narrow, codegen'd) plus
    * a per-dimension mean (groupBy cell,pos — k·dim result rows to the
    * driver, trivially small for any real k/dim). Empty cells keep their
    * previous centroid. At 100 TB you fit on a sample; assignment cost
    * is the same narrow pass either way. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int = 5): Array[Array[Double]] = {
    var cents = emb.orderBy("vec_id").limit(k).select("v")
      .collect().map(_.getSeq[Double](0).toArray)
    for (_ <- 0 until iters) {
      val sums = emb.withColumn("cell", cellCol(col("v"), cents))
        .select(col("cell"), posexplode(col("v")))
        .groupBy("cell", "pos").agg(avg(col("col")).as("m"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
      cents = next
    }
    cents
  }

  /** IVF search with a learned quantizer: corpus vectors live in their
    * nearest cell; each query probes its `nprobe` nearest cells — an
    * equality join on the cell id (the same scale shape as q34, but the
    * cells adapt to the data instead of borrowing a label column).
    *
    * No broadcast hint on the query side: its size is nprobe× whatever
    * `queryFilter` selects, which the caller controls, not this method —
    * AQE broadcasts it when it actually fits and shuffle-joins otherwise.
    * `roundDp ≥ 0` rounds cosine BEFORE ranking (oracle hash parity —
    * both engines must rank the same values). */
  def ivfSearch(embeddings: DataFrame, queryFilter: Column, k: Int,
                cents: Array[Array[Double]], nprobe: Int = 1,
                roundDp: Int = -1): DataFrame = {
    // materialize the assignment once: the corpus side and the query
    // side both consume it, and ReuseExchange does not fire across
    // AQE's broadcast conversion (same measured diamond as Dedup)
    val e = embeddings
      .withColumn("cell", cellCol(col("v"), cents))
      .withColumn("nrm", Vectors.norm2(col("v")))
      .transform(pin)
    val q = e.where(queryFilter)
      .select(explode(probeCells(col("v"), cents, nprobe)).as("cell"),
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val rawCos = Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    val scored = e.join(q, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (if (roundDp >= 0) round(rawCos, roundDp) else rawCos).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "rank", "n_id", "cos")
  }

  /** Top-k per query among same-bucket candidates. `embeddings` needs
    * (vec_id, v: array<double>). `multiProbe` additionally probes every
    * bucket at Hamming distance 1 from the query's bucket (nBits extra
    * probes — the standard recall/cost dial: each flipped bit rescues
    * neighbors that fell on the other side of one hyperplane). */
  def search(embeddings: DataFrame, queryFilter: Column, k: Int,
             dim: Int, nBits: Int = 8, seed: Long = 42L,
             multiProbe: Boolean = false, roundDp: Int = -1): DataFrame = {
    val e = embeddings
      .withColumn("bucket", bucketCol(col("v"), dim, nBits, seed))
      .withColumn("nrm", Vectors.norm2(col("v")))
    val probes: Column => Column = b =>
      if (!multiProbe) array(b)
      else array(b +: Seq.tabulate(nBits)(p => b.bitwiseXOR(lit(1L << p))): _*)
    val q = e.where(queryFilter)
      .select(explode(probes(col("bucket"))).as("bucket"),
        col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    // no broadcast hint: the probe side is (nBits+1)× the filtered query
    // count — AQE broadcasts when it fits, shuffles when it does not
    val rawCos = Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
    val scored = e.join(q, "bucket")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (if (roundDp >= 0) round(rawCos, roundDp) else rawCos).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "rank", "n_id", "cos")
  }

  /** Bucket-assignment table (vec_id, v, bucket, nrm) over a prepared
    * embedding frame — q69's pre-materialization lineage, exposed as a
    * named builder so PlanSpec's anti-pattern audit can see the subtree
    * that the pin truncates out of the declared query's plan. */
  def bucketTable(embeddings: DataFrame, dim: Int,
                  nBits: Int = 8, seed: Long = 42L): DataFrame =
    embeddings
      .withColumn("bucket", bucketCol(col("v"), dim, nBits, seed))
      .withColumn("nrm", Vectors.norm2(col("v")))

  /** Centroid drift audit — the q96/q102 maintenance gate for the ANN
    * index (the lifecycle gap: IVF centroids are fit offline and
    * pinned; a corpus delta degrades them SILENTLY). The production
    * refresh shape at 100 TB is a WARM-START: one Lloyd refinement
    * from the pinned quantizer over corpus+delta — never a cold
    * re-fit — then a report of what the refresh would change. Per
    * cell: population under the pinned vs refitted quantizer, how many
    * vectors would move out, the shift in basis points (integer
    * arithmetic — no float ratio), and the centroid's squared
    * displacement. A pipeline owner reads this to decide whether to
    * re-ship the quantizer.
    *
    * Scale shape: both assignment passes are narrow codegen'd
    * literal-argmin projections in the scan's layout (the q63 path);
    * the refinement mean is one posexplode aggregation to k·dim driver
    * rows (the documented kmeansCentroids fit shape — at 100 TB you
    * refine on a sample); the report aggregations reduce to k rows.
    * Re-assignment distances are rounded (`roundDp`) BEFORE the argmin
    * with the cell-index tiebreak: the refitted means carry ~1e-15
    * cross-engine summation drift, and ranking must happen far above
    * it (the q131 discipline — pinned-literal assignment stays exact
    * and unrounded). */
  def centroidDrift(emb: DataFrame, pinned: Array[Array[Double]],
                    roundDp: Int = 6): DataFrame = {
    val dim = pinned.head.length
    val assigned = emb.withColumn("old_cell", cellCol(col("v"), pinned))
    // warm-start refinement means; an empty cell keeps its pinned
    // centroid (the kmeansCentroids rule)
    val refit = pinned.map(_.clone())
    assigned.select(col("old_cell"), posexplode(col("v")))
      .groupBy("old_cell", "pos").agg(avg(col("col")).as("m"))
      .collect()
      .foreach(r => refit(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val entries = array(refit.indices.map { i =>
      struct(round(Vectors.l2sq(col("v"),
          array(refit(i).map(lit).toSeq: _*)), roundDp).as("d"),
        lit(i).as("i"))
    }: _*)
    val moved = assigned.withColumn("new_cell",
      array_min(entries).getField("i"))
    val byOld = moved.groupBy(col("old_cell").as("cell"))
      .agg(count(lit(1)).as("n_old"),
        sum(when(col("new_cell") =!= col("old_cell"), 1L).otherwise(0L))
          .as("moved_out"))
    val byNew = moved.groupBy(col("new_cell").as("cell"))
      .agg(count(lit(1)).as("n_new"))
    val spark = emb.sparkSession
    import spark.implicits._
    // every relation below is ≤ k rows (post-aggregation) — join
    // strategy is irrelevant at any corpus scale
    val disp = refit.indices.map { i =>
      var acc = 0.0 // same left fold as l2sq/list_sum: index order
      var j = 0
      while (j < dim) {
        val x = refit(i)(j) - pinned(i)(j); acc += x * x; j += 1
      }
      (i, BigDecimal(acc).setScale(roundDp, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }.toDF("cell", "displacement")
    disp.join(byOld, Seq("cell"), "left").join(byNew, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("moved_out"), lit(0L)).as("moved_out"),
        expr("10000 * coalesce(moved_out, 0) div greatest(1, coalesce(n_old, 0))")
          .as("shift_bp"),
        col("displacement"))
      .orderBy("cell")
  }

  /** Incremental IVF index update — the lifecycle operator the
    * q96/q102/q136/q137/q138 loop audits around but never performs:
    * absorb a corpus DELTA into a standing IVF index without touching
    * the prior corpus. Under PINNED centroids, cell assignment is
    * per-vector — so the upsert is exactly: assign the delta (one
    * narrow codegen'd argmin pass over the delta ONLY), append to the
    * posting lists, bump per-cell counts. The prior corpus is never
    * re-scanned; that is the entire point at 100 TB (a daily 0.1%
    * delta costs 0.1% of an index rebuild).
    *
    * Gate (the q137/q138 merge-gate pattern): prior⊎delta must equal
    * the full rebuild's assignment table — per cell AND per vector
    * (`mismatch` counts vec_ids whose cell differs between the merged
    * and rebuilt tables; it must be 0 under unchanged centroids).
    * The rebuild side exists only to gate the arithmetic; the
    * production artifact is the delta-only path.
    *
    * Re-fit signal: `delta_bp` (basis points of each cell's merged
    * population that arrived via deltas, integer division — the
    * q136 shift_bp discipline) with `refit` raised at ≥ `refitBp`.
    * A pipeline owner chains a raised flag into the q136 drift audit
    * and, if that confirms, re-ships the quantizer. */
  def ivfUpsert(prior: DataFrame, delta: DataFrame,
                cents: Array[Array[Double]], refitBp: Long = 2000L): DataFrame = {
    val priorA = prior.withColumn("cell", cellCol(col("v"), cents))
      .select(col("vec_id"), col("cell"), lit("prior").as("src"))
    val deltaA = delta.withColumn("cell", cellCol(col("v"), cents))
      .select(col("vec_id"), col("cell"), lit("delta").as("src"))
    val merged = priorA.unionByName(deltaA)
    val rebuilt = prior.unionByName(delta)
      .withColumn("cell_full", cellCol(col("v"), cents))
      .select(col("vec_id"), col("cell_full"))
    // per-vector equality audit: full outer so a LOST or EXTRA id
    // surfaces as a mismatch, not a silently smaller count
    val mm = merged.select(col("vec_id"), col("cell"))
      .join(rebuilt, Seq("vec_id"), "full_outer")
      .where(col("cell").isNull || col("cell_full").isNull ||
        col("cell") =!= col("cell_full"))
      .groupBy(coalesce(col("cell_full"), col("cell")).as("cell"))
      .agg(count(lit(1)).as("mismatch"))
    val mCounts = merged.groupBy("cell")
      .agg(sum(when(col("src") === "prior", 1L).otherwise(0L)).as("n_prior"),
        sum(when(col("src") === "delta", 1L).otherwise(0L)).as("n_delta"),
        count(lit(1)).as("n_merged"))
    val fCounts = rebuilt.groupBy(col("cell_full").as("cell"))
      .agg(count(lit(1)).as("n_full"))
    // every relation below is ≤ k rows post-aggregation
    mCounts.join(fCounts, Seq("cell"), "full_outer")
      .join(mm, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("n_merged"), lit(0L)).as("n_merged"),
        coalesce(col("n_full"), lit(0L)).as("n_full"),
        coalesce(col("mismatch"), lit(0L)).as("mismatch"))
      .withColumn("delta_bp",
        expr("10000 * n_delta div greatest(1, n_merged)"))
      .withColumn("refit", col("delta_bp") >= refitBp)
      .orderBy("cell")
  }

  /** The centroid constants as a SQL CTE body (one row per centroid) —
    * the SAME doubles as the Spark plan's literals, so both engines
    * assign cells from identical inputs. */
  private[ops] def centroidsSqlCte(cents: Array[Array[Double]]): String =
    cents.zipWithIndex.map { case (c, i) =>
      s"SELECT $i AS i, ${c.mkString("[", ", ", "]")}::DOUBLE[] AS c"
    }.mkString("\nUNION ALL\n")

  /** The hyperplane constants as a SQL CTE body — generated from the
    * SAME planeComponent values the Spark plan bakes in. */
  private def planesSqlCte(dim: Int, nBits: Int, seed: Long): String =
    (0 until nBits).map { p =>
      val c = (0 until dim).map(j => planeComponent(seed, p, j))
      s"SELECT $p AS p, ${c.mkString("[", ", ", "]")}::DOUBLE[] AS c"
    }.mkString("\nUNION ALL\n")

  /** Gate query for the learned-IVF path: assignment (cellCol), probe
    * selection (probeCells) and the cell-equality search join, with the
    * quantizer's fitted centroids baked as literals on BOTH engines
    * (see [[AnnCentroids]]). The oracle mirrors every stage: per-vector
    * argmin cell over the centroid list, top-nprobe probe cells, cosine
    * scoring rounded to 5 dp before ranking. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("q63_ann_learned_ivf",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
        ivfSearch(e, col("vec_id") < 5, k = 3, AnnCentroids.fitted,
            nprobe = 4, roundDp = 5)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH cents AS (
              |${centroidsSqlCte(AnnCentroids.fitted)}),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |d AS (
              |  SELECT e.vec_id, cents.i,
              |    list_sum(list_transform(range(1, ${AnnCentroids.fitted.head.length + 1}),
              |      j -> (e.v[j] - cents.c[j]) * (e.v[j] - cents.c[j]))) AS d2
              |  FROM e CROSS JOIN cents),
              |rnk AS (
              |  SELECT vec_id, i,
              |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, i ASC) AS rn
              |  FROM d),
              |corpus AS (
              |  SELECT e.vec_id, e.v, r.i AS cell
              |  FROM e JOIN rnk r ON r.vec_id = e.vec_id AND r.rn = 1),
              |probes AS (
              |  SELECT e.vec_id AS q_id, e.v AS qv, r.i AS cell
              |  FROM e JOIN rnk r ON r.vec_id = e.vec_id AND r.rn <= 4
              |  WHERE e.vec_id < 5),
              |scored AS (
              |  SELECT p.q_id, c.vec_id AS n_id,
              |    round(list_dot_product(p.qv, c.v) /
              |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 5) AS cos
              |  FROM probes p JOIN corpus c ON c.cell = p.cell AND c.vec_id <> p.q_id)
              |SELECT q_id, rank, n_id, cos FROM (
              |  SELECT q_id, n_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
              |  FROM scored) t
              |WHERE rank <= 3
              |ORDER BY q_id, rank""".stripMargin)),

    // Drift audit over a deterministic corpus delta (the q102 re-crawl
    // shape: the %5 slice re-lands under new ids, doubling its weight):
    // pinned-vs-warm-start-refit assignment matrix per cell. The oracle
    // mirrors every stage — exact literal argmin for the old cells,
    // avg-refit centroids with the keep-pinned-when-empty rule, 6-dp
    // rounded re-assignment with the index tiebreak, integer-division
    // basis points (never a rounded float ratio: small-integer ratios
    // DO land on .5 rounding boundaries where engines may disagree).
    QueryDef("q136_centroid_drift",
      (s, d) => {
        val e0 = Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
        val delta = e0.where(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + 100000L)
        centroidDrift(e0.unionByName(delta), AnnCentroids.fitted)
      },
      Some(s"""WITH cents AS (
              |${centroidsSqlCte(AnnCentroids.fitted)}),
              |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |e AS (SELECT vec_id, v FROM e0
              |      UNION ALL
              |      SELECT vec_id + 100000, v FROM e0 WHERE vec_id % 5 = 0),
              |d AS (
              |  SELECT e.vec_id, cents.i,
              |    list_sum(list_transform(range(1, 65),
              |      j -> (e.v[j] - cents.c[j]) * (e.v[j] - cents.c[j]))) AS d2
              |  FROM e CROSS JOIN cents),
              |olda AS (
              |  SELECT vec_id, i AS old_cell FROM (
              |    SELECT vec_id, i,
              |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, i ASC) AS rn
              |    FROM d) t WHERE rn = 1),
              |ev AS (SELECT e.vec_id, e.v, olda.old_cell
              |       FROM e JOIN olda USING (vec_id)),
              |px AS (SELECT old_cell, unnest(range(1, 65)) AS pos,
              |              unnest(v) AS val FROM ev),
              |m AS (SELECT old_cell AS i, pos, AVG(val) AS mv
              |      FROM px GROUP BY 1, 2),
              |refit0 AS (SELECT i, list(mv ORDER BY pos) AS c FROM m GROUP BY i),
              |refit AS (
              |  SELECT cents.i, COALESCE(refit0.c, cents.c) AS c
              |  FROM cents LEFT JOIN refit0 USING (i)),
              |nd AS (
              |  SELECT ev.vec_id, ev.old_cell, r.i,
              |    round(list_sum(list_transform(range(1, 65),
              |      j -> (ev.v[j] - r.c[j]) * (ev.v[j] - r.c[j]))), 6) AS d2
              |  FROM ev CROSS JOIN refit r),
              |newa AS (
              |  SELECT vec_id, old_cell, i AS new_cell FROM (
              |    SELECT vec_id, old_cell, i,
              |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, i ASC) AS rn
              |    FROM nd) t WHERE rn = 1),
              |disp AS (
              |  SELECT cents.i AS cell,
              |    round(list_sum(list_transform(range(1, 65),
              |      j -> (r.c[j] - cents.c[j]) * (r.c[j] - cents.c[j]))), 6) AS displacement
              |  FROM cents JOIN refit r USING (i)),
              |o AS (SELECT old_cell AS cell, COUNT(*) AS n_old,
              |        CAST(SUM(CASE WHEN new_cell <> old_cell THEN 1 ELSE 0 END)
              |          AS BIGINT) AS moved_out
              |      FROM newa GROUP BY 1),
              |nn AS (SELECT new_cell AS cell, COUNT(*) AS n_new
              |       FROM newa GROUP BY 1)
              |SELECT disp.cell, COALESCE(o.n_old, 0) AS n_old,
              |  COALESCE(nn.n_new, 0) AS n_new,
              |  COALESCE(o.moved_out, 0) AS moved_out,
              |  10000 * COALESCE(o.moved_out, 0) // GREATEST(1, COALESCE(o.n_old, 0))
              |    AS shift_bp,
              |  disp.displacement
              |FROM disp LEFT JOIN o ON o.cell = disp.cell
              |LEFT JOIN nn ON nn.cell = disp.cell
              |ORDER BY disp.cell""".stripMargin)),

    // Incremental IVF upsert over the q102 re-crawl delta (the %5
    // slice re-landing under new ids): delta-only assignment merged
    // into the prior index, gated cell-by-cell AND vector-by-vector
    // against a full rebuild under the same pinned centroids. The
    // oracle assigns the union once (merged ≡ rebuilt is an identity
    // in SQL — which is precisely the property the Spark incremental
    // path must reproduce, so its oracle mismatch is literal 0) and
    // derives the same integer-division delta share + refit flag.
    QueryDef("q193_ivf_upsert",
      (s, d) => {
        val e0 = Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
        val delta = e0.where(col("vec_id") % 5 === 0)
          .withColumn("vec_id", col("vec_id") + 100000L)
        ivfUpsert(e0, delta, AnnCentroids.fitted)
      },
      Some(s"""WITH cents AS (
              |${centroidsSqlCte(AnnCentroids.fitted)}),
              |e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |al AS (SELECT vec_id, v, 'prior' AS src FROM e0
              |       UNION ALL
              |       SELECT vec_id + 100000, v, 'delta' FROM e0 WHERE vec_id % 5 = 0),
              |dd AS (
              |  SELECT al.vec_id, al.src, cents.i,
              |    list_sum(list_transform(range(1, 65),
              |      j -> (al.v[j] - cents.c[j]) * (al.v[j] - cents.c[j]))) AS d2
              |  FROM al CROSS JOIN cents),
              |a AS (
              |  SELECT vec_id, src, i AS cell FROM (
              |    SELECT vec_id, src, i,
              |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, i ASC) AS rn
              |    FROM dd) t WHERE rn = 1),
              |g AS (
              |  SELECT cell,
              |    CAST(SUM(CASE WHEN src = 'prior' THEN 1 ELSE 0 END) AS BIGINT) AS n_prior,
              |    CAST(SUM(CASE WHEN src = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
              |    COUNT(*) AS n_merged, COUNT(*) AS n_full
              |  FROM a GROUP BY cell)
              |SELECT cell, n_prior, n_delta, n_merged, n_full,
              |  CAST(0 AS BIGINT) AS mismatch,
              |  10000 * n_delta // GREATEST(1, n_merged) AS delta_bp,
              |  (10000 * n_delta // GREATEST(1, n_merged)) >= 2000 AS refit
              |FROM g ORDER BY cell""".stripMargin)),

    // Multi-probe hyperplane LSH — the OTHER learned-free ANN scale
    // path: bucket = sign bits of 8 seeded ±1-plane projections, search
    // probes the query's bucket plus every Hamming-1 neighbor (the
    // recall dial AnnSpec measures). The oracle bakes the identical
    // plane constants and mirrors bucket assignment, probe expansion
    // (xor per bit) and ranked cosine scoring. A corpus vector sits in
    // exactly ONE bucket and the 9 probe values are distinct, so no
    // DISTINCT is needed on either engine.
    QueryDef("q66_ann_lsh_multiprobe",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
        search(e, col("vec_id") < 5, k = 3, dim = 64, nBits = 8, seed = 42L,
            multiProbe = true, roundDp = 5)
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH planes AS (
              |${planesSqlCte(64, 8, 42L)}),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |bk AS (
              |  SELECT e.vec_id,
              |    CAST(SUM(CASE WHEN list_dot_product(e.v, planes.c) >= 0
              |                  THEN (1::BIGINT << planes.p) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM e CROSS JOIN planes GROUP BY e.vec_id),
              |eb AS (SELECT e.vec_id, e.v, bk.bucket
              |       FROM e JOIN bk ON bk.vec_id = e.vec_id),
              |probes AS (
              |  SELECT q.vec_id AS q_id, q.v AS qv,
              |    unnest([q.bucket, xor(q.bucket, 1), xor(q.bucket, 2), xor(q.bucket, 4),
              |            xor(q.bucket, 8), xor(q.bucket, 16), xor(q.bucket, 32),
              |            xor(q.bucket, 64), xor(q.bucket, 128)]) AS bucket
              |  FROM eb q WHERE q.vec_id < 5),
              |scored AS (
              |  SELECT p.q_id, c.vec_id AS n_id,
              |    round(list_dot_product(p.qv, c.v) /
              |      (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 5) AS cos
              |  FROM probes p JOIN eb c ON c.bucket = p.bucket AND c.vec_id <> p.q_id)
              |SELECT q_id, rank, n_id, cos FROM (
              |  SELECT q_id, n_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rank
              |  FROM scored) t
              |WHERE rank <= 3
              |ORDER BY q_id, rank""".stripMargin)),

    // Embedding near-dup WITHOUT a label column — the production
    // answer q30 cannot give when no natural blocking key exists: block
    // on the hyperplane-LSH bucket (geometry-derived, 8 bits → ~256
    // balanced cells), all-pairs cosine only within a bucket. The
    // bucket table is materialized once (both self-join sides — the
    // measured ReuseExchange diamond); a mass-duplicate bucket is a hot
    // JOIN partition (AQE-splittable), never a driver-side array.
    QueryDef("q69_cosine_neardup_lsh",
      (s, d) => {
        val e = bucketTable(
          Tables.embeddings(s, d)
            .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v")),
          dim = 64, nBits = 8, seed = 42L)
          .transform(pin)
        val a = e.select(col("bucket"), col("vec_id").as("id_a"),
          col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("bucket"), col("vec_id").as("id_b"),
          col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, "bucket").where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")), 5).as("cos"))
          .where(col("cos") > 0.4)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH planes AS (
              |${planesSqlCte(64, 8, 42L)}),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |bk AS (
              |  SELECT e.vec_id,
              |    CAST(SUM(CASE WHEN list_dot_product(e.v, planes.c) >= 0
              |                  THEN (1::BIGINT << planes.p) ELSE 0 END) AS BIGINT) AS bucket
              |  FROM e CROSS JOIN planes GROUP BY e.vec_id),
              |eb AS (SELECT e.vec_id, e.v, bk.bucket
              |       FROM e JOIN bk ON bk.vec_id = e.vec_id),
              |scored AS (
              |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |    round(list_dot_product(a.v, b.v) /
              |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 5) AS cos
              |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |SELECT id_a, id_b, cos FROM scored WHERE cos > 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    // Centroid-silhouette quality report for the pinned IVF quantizer
    // (✚, the "is k=8 even a good clustering" number next to q136's
    // drift audit: s = (b − a)/b per point with a/b the nearest and
    // second-nearest CENTROID distances — the O(n·k) centroid
    // approximation of the O(n²) exact silhouette, the only form that
    // exists at 100 TB). One narrow pass: the same codegen'd
    // graft_l2sq entries array as q63's assignment, array_sort for
    // (a, b), argmin for the cell — no shuffle before the per-cell
    // aggregation. Mean s per cell under the round@9 DECIMAL
    // discipline; a degenerate b = 0 (duplicate point ON a centroid)
    // scores 0 by the same rule on both engines.
    QueryDef("q277_silhouette",
      (s, d) => {
        val cents = AnnCentroids.fitted
        val e = graft.Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
        val entries = centroidEntries(col("v"), cents)
        // nearest + second-nearest WITHOUT array_sort: its comparator is
        // an interpreted LambdaFunction (PlanSpec's scan-layout walker
        // rightly flags it); array_min/array_remove are lambda-free and
        // the (d, i) struct ordering makes them equivalent here because
        // the i components are distinct (exactly one element removed)
        val nearest = array_min(entries)
        val second = array_min(array_remove(entries, nearest))
        val scored = e
          .withColumn("cell", nearest.getField("i"))
          .withColumn("a", sqrt(nearest.getField("d")))
          .withColumn("b", sqrt(second.getField("d")))
          .withColumn("sil",
            when(col("b") > 0.0, (col("b") - col("a")) / col("b"))
              .otherwise(lit(0.0)))
        scored.groupBy("cell")
          .agg(count(lit(1)).as("n"),
            round(sum(round(col("sil"), 9).cast("decimal(38,9)"))
              .cast("double") / count(lit(1)), 6).as("mean_sil"))
          .orderBy("cell")
      },
      Some(s"""WITH cents AS (
              |${centroidsSqlCte(AnnCentroids.fitted)}),
              |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |dist AS (
              |  SELECT e.vec_id, cents.i,
              |    list_sum(list_transform(range(1, ${AnnCentroids.fitted.head.length + 1}),
              |      j -> (e.v[j] - cents.c[j]) * (e.v[j] - cents.c[j]))) AS d2
              |  FROM e CROSS JOIN cents),
              |rnk AS (
              |  SELECT vec_id, i, d2,
              |    ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY d2 ASC, i ASC) AS rn
              |  FROM dist),
              |scored AS (
              |  SELECT a.vec_id, a.i AS cell,
              |    CASE WHEN sqrt(b.d2) > 0
              |         THEN (sqrt(b.d2) - sqrt(a.d2)) / sqrt(b.d2)
              |         ELSE 0.0 END AS sil
              |  FROM rnk a JOIN rnk b
              |    ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2)
              |SELECT cell, COUNT(*) AS n,
              |  round(CAST(SUM(CAST(round(sil, 9) AS DECIMAL(38,9)))
              |    AS DOUBLE) / COUNT(*), 6) AS mean_sil
              |FROM scored GROUP BY cell ORDER BY cell""".stripMargin))
  )
}
