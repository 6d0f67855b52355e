package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import graft.functions.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (array<float>, dim 64).
  *
  * q29 is brute-force top-k for a small query set: the query side is tiny
  * → broadcast, so the big side streams through once with no shuffle —
  * the right baseline even at 100 TB (cost O(N·k·dim) per query batch).
  * q30 is threshold self-join *blocked on the label column* — the
  * IVF-style pruning pattern: candidates only within a coarse bucket, an
  * equality join on the bucket key instead of a full cross join.
  *
  * Cosine values are computed with the identical expression shape on both
  * engines (left-fold dot products) and rounded to 5 dp before compare /
  * filter so the last-ulp differences cannot flip the hash.
  */
object Similarity {

  /** Embeddings with the L2 norm precomputed once per vector — pair joins
    * then do one dot product per pair instead of three (norms would
    * otherwise be recomputed per candidate at 100 TB scale). */
  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), Vectors.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vectors.norm2(col("v")))

  /** q283's bounded-state power iteration: `rounds` rounds of w ← C·v
    * from the all-ones start, each matvec term round@9 into an exact
    * decimal sum and the vector renormalized by its max-|·| component
    * (sign kept, tie → lowest index) and re-rounded@9 — the EXACT
    * arithmetic the unrolled SQL oracle replays, so both engines
    * iterate on identical vectors. Returns (vector, Rayleigh λ).
    * Convergence is spectrum-dependent (near-isotropic input ⇒ the
    * 8-round iterate is an honest partial estimate; a dominant
    * direction — the case the audit exists to flag — converges fast;
    * SimilaritySpec pins both behaviors). */
  private[ops] def powerIterate(c: Array[Array[Double]], rounds: Int)
      : (Array[Double], Double) = {
    val d = c.length
    def r9(v: Double) = BigDecimal.valueOf(v)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r9bd(v: Double) = BigDecimal.valueOf(v)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def matvec(u: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        (0 until d).map(j => r9bd(c(i)(j) * u(j))).sum.toDouble
      }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to rounds) {
      val w = matvec(v)
      val ref = w.zipWithIndex
        .maxBy { case (wv, i) => (math.abs(wv), -i) }._1
      v = w.map(wv => r9(wv / ref))
    }
    val w = matvec(v)
    val num = (0 until d).map(i => r9bd(v(i) * w(i))).sum.toDouble
    val den = (0 until d).map(i => r9bd(v(i) * v(i))).sum.toDouble
    (v, num / den)
  }

  private val cosSql =
    """round(
      |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 5)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Brute-force cosine top-k (k=5) for query vectors vec_id < 5.
    QueryDef("q29_cosine_knn",
      (s, d) => {
        val e = emb(s, d)
        val queries = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 5).as("cos"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""SELECT q_id, rank, n_id, cos FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
              |      ORDER BY $cosSql DESC, b.vec_id ASC) AS rank
              |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
              |  WHERE a.vec_id < 5) t
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Embedding near-dup pairs above a cosine threshold, blocked by label.
    QueryDef("q30_cosine_neardup",
      (s, d) => {
        val e = emb(s, d)
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
        a.join(b, "label").where(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb")), 5).as("cos"))
          .where(col("cos") > 0.4)
          .orderBy("id_a", "id_b")
      },
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosSql AS cos
              |FROM embeddings a JOIN embeddings b
              |  ON a.label = b.label AND a.vec_id < b.vec_id
              |WHERE $cosSql > 0.4
              |ORDER BY id_a, id_b""".stripMargin)),

    // IVF-style ANN: the label column stands in for a coarse-quantizer
    // cell; each query probes only its own cell — an equality join on the
    // cell id instead of a cross join, the 100 TB scale path (recall vs
    // q29's exact top-k is measured in SimilaritySpec).
    QueryDef("q34_ann_ivf",
      (s, d) => {
        val e = emb(s, d)
        val queries = e.where(col("vec_id") < 5)
          .select(col("label"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val scored = e.join(broadcast(queries), "label")
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 5).as("cos"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""SELECT q_id, rank, n_id, cos FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
              |      ORDER BY $cosSql DESC, b.vec_id ASC) AS rank
              |  FROM embeddings a JOIN embeddings b
              |    ON a.label = b.label AND a.vec_id <> b.vec_id
              |  WHERE a.vec_id < 5) t
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // Filtered vector search — retrieval constrained by a METADATA
    // predicate from another table (every vector store's hard case, and
    // the shape a training pipeline runs for "nearest in-language
    // neighbors"): candidates must share the query document's lang.
    // Metadata attaches once via an 8-byte-keyed join of embeddings to
    // the 2-column documents projection; the tiny query side broadcasts
    // WITH its lang, so candidate generation is the map-side equality
    // on lang — a pre-filter, never score-then-discard over the corpus.
    QueryDef("q87_filtered_ann",
      (s, d) => {
        val e = emb(s, d).join(
          Tables.documents(s, d).select(col("doc_id").as("vec_id"), col("lang")),
          "vec_id")
        val queries = e.where(col("vec_id") < 5)
          .select(col("lang"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val scored = e.join(broadcast(queries), "lang")
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("n_id"),
            round(Vectors.dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 5).as("cos"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""WITH e AS (
              |  SELECT em.vec_id, em.embedding, dc.lang
              |  FROM embeddings em JOIN documents dc ON dc.doc_id = em.vec_id)
              |SELECT q_id, rank, n_id, cos FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
              |      ORDER BY $cosSql DESC, b.vec_id ASC) AS rank
              |  FROM e a JOIN e b ON a.lang = b.lang AND a.vec_id <> b.vec_id
              |  WHERE a.vec_id < 5) t
              |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),

    // Bulk kNN-GRAPH build — every document's top-3 in-block neighbors
    // (the graph that feeds graph-based curation/dedup), composing the
    // label-blocked candidate join with the bounded TopK fold: a
    // row_number window per query doc would single-task each label
    // block (hot blocks are real — a mass-dup cluster shares a label),
    // while the fold shuffles ≤ k rows per (partition, query doc). The
    // fold ranks the ROUNDED cosine with id tiebreak, exactly the
    // oracle's ORDER BY.
    QueryDef("q91_knn_graph",
      (s, d) => {
        import s.implicits._
        val topk = new graft.functions.Folds.TopK(3)
        val e = emb(s, d)
        val a = e.select(col("label"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val b = e.select(col("label"), col("vec_id").as("n_id"), col("v").as("nv"), col("nrm").as("nn"))
        a.join(b, "label").where(col("q_id") =!= col("n_id"))
          .select(col("q_id"),
            round(Vectors.dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 5).as("cos"),
            col("n_id"))
          .as[(Long, Double, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("top"))
          .flatMap { case (q, top) =>
            top.iterator.zipWithIndex.map { case ((cos, n), i) =>
              (q, (i + 1).toLong, n, cos) } }
          .toDF("q_id", "rank", "n_id", "cos")
          .orderBy("q_id", "rank")
      },
      Some(s"""SELECT q_id, rank, n_id, cos FROM (
              |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos,
              |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
              |      ORDER BY $cosSql DESC, b.vec_id ASC) AS rank
              |  FROM embeddings a JOIN embeddings b
              |    ON a.label = b.label AND a.vec_id <> b.vec_id) t
              |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)),

    // Embedding centering — the standard preprocessing before IVF/PQ
    // training (anisotropic corpora cluster badly around a far-off
    // mean): per-dimension corpus mean via posexplode (dim rows of
    // output, partial-agg collapses everything map-side), collected to
    // the driver (dim doubles — the kmeansCentroids class of
    // documented-small) and baked back as a literal for the narrow
    // per-row subtraction. Norms rounded to 5 dp: the mean each engine
    // computes differs in final ulps (their summation orders differ —
    // the one aggregation in this engine where order is NOT fixed),
    // and the round absorbs exactly that.
    QueryDef("q108_embed_center",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), graft.functions.Vectors.asDouble(col("embedding")).as("v"))
        val dim = 64
        val mean = new Array[Double](dim)
        e.select(posexplode(col("v")))
          .groupBy("pos").agg(avg(col("col")).as("m"))
          .collect().foreach(r => mean(r.getInt(0)) = r.getDouble(1))
        val mArr = array(mean.map(lit).toSeq: _*)
        // ||v - m|| = sqrt(l2sq(v, m)) — the native fused loop; the
        // zip_with-difference-then-norm form it replaces is
        // bit-identical (d computed once, then d*d, same index order)
        // but ran an interpreted lambda in the scan's task layout
        e.select(col("vec_id"),
            round(graft.functions.Vectors.norm2(col("v")), 5).as("norm_before"),
            round(sqrt(graft.functions.Vectors.l2sq(col("v"), mArr)), 5).as("norm_after"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |px AS (
             |  SELECT unnest(range(1, 65)) AS pos, unnest(v) AS val FROM e),
             |m AS (SELECT pos, AVG(val) AS mv FROM px GROUP BY pos),
             |ml AS (SELECT list(mv ORDER BY pos) AS m FROM m)
             |SELECT vec_id,
             |  round(sqrt(list_sum(list_transform(range(1, 65),
             |    j -> v[j] * v[j]))), 5) AS norm_before,
             |  round(sqrt(list_sum(list_transform(range(1, 65),
             |    j -> (v[j] - ml.m[j]) * (v[j] - ml.m[j])))), 5) AS norm_after
             |FROM e CROSS JOIN ml
             |ORDER BY vec_id""".stripMargin)),

    // Per-label embedding cohesion: each label's centroid (per-dim
    // means, the q108/kmeansCentroids documented-small collect, baked
    // back as literals) and every vector's squared distance to its own
    // label's centroid via the fused graft_l2sq — avg/max distance per
    // label is the cluster-quality audit run before trusting labels as
    // ANN cells (q34) or dedup blocks (q30). Distances are rounded at
    // 6 dp and summed in DECIMAL (the q118 discipline), so the
    // per-label aggregates are exact and order-independent.
    QueryDef("q131_label_cohesion",
      (s, d) => {
        val dim = 64
        val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
          graft.functions.Vectors.asDouble(col("embedding")).as("v"))
        val cents: Seq[(Long, Array[Double])] = e
          .select(col("label"), posexplode(col("v")))
          .groupBy("label", "pos").agg(avg(col("col")).as("m"))
          .collect().groupBy(_.getAs[Number](0).longValue).toSeq
          .map { case (l, rows) =>
            val arr = new Array[Double](dim)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
            l -> arr
          }.sortBy(_._1)
        val d2 = cents.foldLeft(lit(Double.NaN)) { case (acc, (l, c)) =>
          when(col("label") === l,
            graft.functions.Vectors.l2sq(col("v"),
              array(c.map(lit).toSeq: _*))).otherwise(acc)
        }
        e.select(col("label"),
            round(d2, 6).cast("decimal(24,6)").as("rd2"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), sum(col("rd2")).as("s"),
               max(col("rd2")).as("mx"))
          .select(col("label"), col("n"),
            round(col("s").cast("double") / col("n"), 5).as("avg_d2"),
            round(col("mx").cast("double"), 5).as("max_d2"))
          .orderBy("label")
      },
      Some("""WITH e AS (
             |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |px AS (SELECT label, unnest(range(1, 65)) AS pos, unnest(v) AS val
             |       FROM e),
             |m AS (SELECT label, pos, AVG(val) AS mv FROM px GROUP BY 1, 2),
             |ml AS (SELECT label, list(mv ORDER BY pos) AS c FROM m GROUP BY label),
             |d AS (
             |  SELECT e.label,
             |    CAST(round(list_sum(list_transform(range(1, 65),
             |      j -> (e.v[j] - ml.c[j]) * (e.v[j] - ml.c[j]))), 6)
             |      AS DECIMAL(24,6)) AS rd2
             |  FROM e JOIN ml USING (label))
             |SELECT label, COUNT(*) AS n,
             |  round(CAST(SUM(rd2) AS DOUBLE) / COUNT(*), 5) AS avg_d2,
             |  round(CAST(MAX(rd2) AS DOUBLE), 5) AS max_d2
             |FROM d GROUP BY label ORDER BY label""".stripMargin)),

    // Per-dimension normalization statistics (✚, the feature-scaling
    // pass a training pipeline fits BEFORE any embedding model sees
    // the data — mean/sd per coordinate for standardization): each
    // vector explodes to (dim, value) once, 6-dp-quantized values sum
    // EXACTLY in DECIMAL per dimension (map-side combine collapses to
    // 64 groups before the shuffle), and mean/sd derive from the exact
    // sums in one double step each (the q149 discipline — no cross-
    // engine float-summation-order drift, which raw double sums over
    // shuffled partitions cannot avoid).
    QueryDef("q160_embedding_norm_stats",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(posexplode(graft.functions.Vectors.asDouble(col("embedding")))
            .as(Seq("pos", "x")))
          .select(col("pos").cast("long").as("pos"),
            round(col("x"), 6).cast("decimal(18,6)").as("rv"))
          .groupBy("pos")
          .agg(count(lit(1)).as("n"), sum(col("rv")).cast("double").as("sx"),
               sum(col("rv") * col("rv")).cast("double").as("sx2"))
          .select(col("pos"), col("n"),
            round(col("sx") / col("n"), 6).as("mean"),
            round(sqrt((col("sx2") - col("sx") * col("sx") / col("n"))
              / (col("n") - 1)), 6).as("sd"))
          .orderBy("pos")
      },
      Some("""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
             |px AS (SELECT unnest(range(1, 65)) AS pos1, unnest(v) AS x FROM e),
             |r AS (SELECT CAST(pos1 - 1 AS BIGINT) AS pos,
             |             CAST(round(x, 6) AS DECIMAL(18,6)) AS rv
             |      FROM px),
             |g AS (SELECT pos, count(*) AS n,
             |        CAST(sum(rv) AS DOUBLE) AS sx,
             |        CAST(sum(rv * rv) AS DOUBLE) AS sx2
             |      FROM r GROUP BY pos)
             |SELECT pos, n, round(sx / n, 6) AS mean,
             |  round(sqrt((sx2 - sx*sx/n) / (n - 1)), 6) AS sd
             |FROM g ORDER BY pos""".stripMargin)),

    // Int8 scalar quantization audit (✚, the 4× index-shrink knob every
    // vector store offers alongside PQ — q95 compresses sub-vectors
    // against a codebook, this quantizes each DIMENSION to a uint8 over
    // its own [min,max]): a bounds pass, then per-dim reconstruction
    // MSE and worst-case error of the round-trip. Scale: both passes
    // are map-side-combined aggregates to 64 groups; the bounds table
    // rejoins by broadcast — nothing corpus-sized shuffles.
    // Determinism: lo/hi are corpus doubles (float→double cast is
    // exact); the code is floor(z + 0.5) (identical in both engines —
    // no round-half-to-even ambiguity); per-element squared errors are
    // rounded@9 then summed in DECIMAL, so the MSE division sees exact
    // identical operands. The hi==lo constant-dimension guard pins
    // code 0 / zero error on both sides.
    QueryDef("q169_scalar_quant",
      (s, d) => {
        val px = Tables.embeddings(s, d)
          .select(posexplode(graft.functions.Vectors.asDouble(col("embedding")))
            .as(Seq("pos", "x")))
          .select(col("pos").cast("long").as("pos"), col("x"))
        val bounds = px.groupBy("pos")
          .agg(min("x").as("lo"), max("x").as("hi"))
        val sc = (col("hi") - col("lo")) / 255.0
        val code = when(col("hi") === col("lo"), lit(0.0))
          .otherwise(least(lit(255.0), greatest(lit(0.0),
            floor((col("x") - col("lo")) / sc + 0.5))))
        val err = col("x") - (col("lo") + code * sc)
        px.join(broadcast(bounds), "pos")
          .select(col("pos"), col("lo"), col("hi"),
            round(err * err, 9).cast("decimal(20,9)").as("e2"))
          .groupBy("pos", "lo", "hi")
          .agg(count(lit(1)).as("n"),
            max(col("e2")).cast("double").as("max_e2"),
            sum(col("e2")).cast("double").as("se2"))
          .select(col("pos"), col("n"), col("lo"), col("hi"),
            round(col("se2") / col("n"), 9).as("mse"),
            col("max_e2"))
          .orderBy("pos")
      },
      Some("""WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
             |px AS MATERIALIZED (
             |  SELECT CAST(unnest(range(1, 65)) - 1 AS BIGINT) AS pos,
             |         unnest(v) AS x
             |  FROM e),
             |b AS (SELECT pos, min(x) AS lo, max(x) AS hi
             |      FROM px GROUP BY pos),
             |q AS (
             |  SELECT px.pos, lo, hi, x,
             |    CASE WHEN hi = lo THEN 0.0
             |         ELSE least(255.0, greatest(0.0,
             |           floor((x - lo) / ((hi - lo) / 255.0) + 0.5))) END AS code
             |  FROM px JOIN b USING (pos)),
             |r AS (
             |  SELECT pos, lo, hi,
             |    CAST(round((x - (lo + code * ((hi - lo) / 255.0))) *
             |               (x - (lo + code * ((hi - lo) / 255.0))), 9)
             |      AS DECIMAL(20,9)) AS e2
             |  FROM q)
             |SELECT pos, count(*) AS n, lo, hi,
             |  round(CAST(sum(e2) AS DOUBLE) / count(*), 9) AS mse,
             |  CAST(max(e2) AS DOUBLE) AS max_e2
             |FROM r GROUP BY pos, lo, hi ORDER BY pos""".stripMargin)),

    // 2-D grid-bucketed ε-neighbor join (✚, the spatial self-join every
    // geo/layout pipeline needs — "all pairs within distance ε" without
    // the O(n²) cross join): points land in ⌊x/ε⌋×⌊y/ε⌋ cells; the
    // probe side explodes to its 3×3 cell neighborhood and the pair
    // join becomes an EQUALITY join on the cell key. Any pair within ε
    // differs by ≤1 cell per axis, so exactly one of the nine probes
    // hits the build side's home cell — full recall, no dedup beyond
    // the id order. Scale: one equi-shuffle on cell keys with a
    // bounded 9× probe duplication (vs n²/2 candidate pairs); dense
    // cells are an AQE-skew/salting case like any hot join key. The
    // oracle is the brute-force all-pairs filter — feasible at sf0.01,
    // exactly what the grid must reproduce. Coordinates are the first
    // two embedding dims (float→double exact on both engines);
    // distances rounded@6 with the identical expression shape.
    QueryDef("q189_grid_epsilon_join",
      (s, d) => {
        val eps = 0.02
        val pts = Tables.embeddings(s, d).select(col("vec_id"),
          element_at(Vectors.asDouble(col("embedding")), 1).as("x"),
          element_at(Vectors.asDouble(col("embedding")), 2).as("y"))
        val cells = pts
          .withColumn("cx", floor(col("x") / eps).cast("long"))
          .withColumn("cy", floor(col("y") / eps).cast("long"))
        val build = cells.select(col("vec_id").as("a_id"),
          col("x").as("ax"), col("y").as("ay"), col("cx"), col("cy"))
        val probe = cells.select(col("vec_id").as("b_id"),
            col("x").as("bx"), col("y").as("by"),
            col("cx").as("bcx"), col("cy").as("bcy"))
          .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
          .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
          .select(col("b_id"), col("bx"), col("by"),
            (col("bcx") + col("dx")).as("pcx"), (col("bcy") + col("dy")).as("pcy"))
        // Filter on the UNROUNDED distance: the 3×3 neighborhood only
        // guarantees candidates for true dist ≤ ε, so keeping pairs by a
        // rounded value would admit a dist ∈ (ε, ε+5e-7] band the grid
        // can miss — a latent data-dependent recall gap. Rounding is for
        // the *output* column only, mirrored exactly in the oracle.
        val rawDist = sqrt((col("ax") - col("bx")) * (col("ax") - col("bx")) +
          (col("ay") - col("by")) * (col("ay") - col("by")))
        build.join(probe,
            col("cx") === col("pcx") && col("cy") === col("pcy") &&
              col("a_id") < col("b_id"))
          .where(rawDist <= eps)
          .select(col("a_id"), col("b_id"), round(rawDist, 6).as("dist"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH p AS (
             |  SELECT vec_id, embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
             |  FROM embeddings)
             |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |  round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
             |FROM p a JOIN p b ON a.vec_id < b.vec_id
             |WHERE sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)) <= 0.02
             |ORDER BY a_id, b_id""".stripMargin)),

    // Weiszfeld geometric median of the 2-D embedding projection (✚,
    // the ROBUST center q189's grid and q136's centroids sit around:
    // the mean chases outliers, the geometric median doesn't — it's
    // the location estimate a contamination-tolerant monitor tracks).
    // Three Weiszfeld iterations z ← Σ(pᵢ/dᵢ)/Σ(1/dᵢ) from the
    // centroid start: each round is ONE map-side-combined aggregation
    // of three round@9-DECIMAL sums (x/d, y/d, 1/d) — O(B) driver
    // state per round, the kmeansCentroids class — and z re-rounds@9
    // between rounds so both engines iterate on identical coordinates
    // (the oracle unrolls the same three rounds). Coincident points
    // (d = 0) are excluded from the round's sums by the textbook rule,
    // identically on both sides.
    QueryDef("q281_geometric_median",
      (s, d) => {
        val pts = Tables.embeddings(s, d).select(
            element_at(Vectors.asDouble(col("embedding")), 1).as("x"),
            element_at(Vectors.asDouble(col("embedding")), 2).as("y"))
          .transform(pin)
        def r9(x: Double) = BigDecimal.valueOf(x)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        val c0 = pts.agg(
          sum(round(col("x"), 9).cast("decimal(38,9)")).cast("double"),
          sum(round(col("y"), 9).cast("decimal(38,9)")).cast("double"),
          count(lit(1))).first()
        var zx = r9(c0.getDouble(0) / c0.getLong(2))
        var zy = r9(c0.getDouble(1) / c0.getLong(2))
        for (_ <- 1 to 3) {
          val dcol = sqrt((col("x") - zx) * (col("x") - zx) +
            (col("y") - zy) * (col("y") - zy))
          val r = pts.where(dcol > 0.0).agg(
            sum(round(col("x") / dcol, 9).cast("decimal(38,9)"))
              .cast("double"),
            sum(round(col("y") / dcol, 9).cast("decimal(38,9)"))
              .cast("double"),
            sum(round(lit(1.0) / dcol, 9).cast("decimal(38,9)"))
              .cast("double")).first()
          zx = r9(r.getDouble(0) / r.getDouble(2))
          zy = r9(r.getDouble(1) / r.getDouble(2))
        }
        val dFin = sqrt((col("x") - zx) * (col("x") - zx) +
          (col("y") - zy) * (col("y") - zy))
        pts.agg(count(lit(1)).as("n"),
            sum(round(dFin, 9).cast("decimal(38,9)")).cast("double")
              .as("sd"))
          .select(col("n"), lit(zx).as("gm_x"), lit(zy).as("gm_y"),
            round(col("sd") / col("n"), 6).as("mean_dist"))
      },
      Some {
        val rounds = (1 to 3).map { k =>
          s"""z$k AS (
             |  SELECT
             |    round(CAST(SUM(CAST(round(p.x / sqrt((p.x - z.zx) * (p.x - z.zx)
             |        + (p.y - z.zy) * (p.y - z.zy)), 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) /
             |      CAST(SUM(CAST(round(1.0 / sqrt((p.x - z.zx) * (p.x - z.zx)
             |        + (p.y - z.zy) * (p.y - z.zy)), 9) AS DECIMAL(38,9)))
             |      AS DOUBLE), 9) AS zx,
             |    round(CAST(SUM(CAST(round(p.y / sqrt((p.x - z.zx) * (p.x - z.zx)
             |        + (p.y - z.zy) * (p.y - z.zy)), 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) /
             |      CAST(SUM(CAST(round(1.0 / sqrt((p.x - z.zx) * (p.x - z.zx)
             |        + (p.y - z.zy) * (p.y - z.zy)), 9) AS DECIMAL(38,9)))
             |      AS DOUBLE), 9) AS zy
             |  FROM p CROSS JOIN z${k - 1} z
             |  WHERE sqrt((p.x - z.zx) * (p.x - z.zx)
             |    + (p.y - z.zy) * (p.y - z.zy)) > 0)""".stripMargin
        }.mkString(",\n")
        s"""WITH p AS (
           |  SELECT embedding[1]::DOUBLE AS x, embedding[2]::DOUBLE AS y
           |  FROM embeddings),
           |z0 AS (
           |  SELECT
           |    round(CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
           |      / COUNT(*), 9) AS zx,
           |    round(CAST(SUM(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE)
           |      / COUNT(*), 9) AS zy
           |  FROM p),
           |$rounds
           |SELECT COUNT(*) AS n, z.zx AS gm_x, z.zy AS gm_y,
           |  round(CAST(SUM(CAST(round(sqrt((p.x - z.zx) * (p.x - z.zx)
           |    + (p.y - z.zy) * (p.y - z.zy)), 9) AS DECIMAL(38,9)))
           |    AS DOUBLE) / COUNT(*), 6) AS mean_dist
           |FROM p CROSS JOIN z3 z GROUP BY z.zx, z.zy""".stripMargin
      }),

    // Embedding covariance audit over the leading 8 dims (✚, the
    // representation-health check an ANN/quantization pipeline runs
    // before q63's IVF or q95's PQ: strongly covarying dims mean the
    // codebook's axis-aligned subspaces waste bits — and a dim whose
    // variance collapsed flags an encoder regression). The plan is ONE
    // scan with 45 map-side-combined aggregates (n, 8 dim sums, 36
    // upper-triangle product sums) — no explode, no self-join, nothing
    // keyed per row leaves the scan; at 100 TB this is the ideal shape
    // (a full 64-dim Gram wants the same single-pass trick over 2080
    // cells, a typed Aggregator — noted, not needed for the audit).
    // Determinism: float×float is EXACT in double, each term rounds@9
    // into a DECIMAL(38,9) sum (order-independent), and the covariance
    // combination runs in token-identical double shape both engines,
    // round@6.
    QueryDef("q239_embed_covariance",
      (s, d) => {
        val D = 8
        val e = Tables.embeddings(s, d)
          .select(Vectors.asDouble(col("embedding")).as("v"))
        def x(i: Int) = element_at(col("v"), i)
        def dsum9(c: org.apache.spark.sql.Column) =
          sum(round(c, 9).cast("decimal(38,9)"))
        val aggs =
          Seq(count(lit(1)).as("n")) ++
          (1 to D).map(i => dsum9(x(i)).as(s"s_$i")) ++
          (for (i <- 1 to D; j <- i to D)
            yield dsum9(x(i) * x(j)).as(s"s_${i}_$j"))
        val a = e.agg(aggs.head, aggs.tail: _*)
        // `+ 0.0` = signed-zero guard (the q351 class): a tiny negative
        // covariance rounds to -0.0 in DuckDB but +0.0 in Spark.
        val cells = (for (i <- 1 to D; j <- i to D) yield
          s"$i, $j, round((CAST(s_${i}_$j AS DOUBLE) - " +
            s"CAST(s_$i AS DOUBLE) * CAST(s_$j AS DOUBLE) / n) / n, 6) + 0.0")
          .mkString(", ")
        a.selectExpr(s"stack(${D * (D + 1) / 2}, $cells) AS (i, j, cov)")
          .selectExpr("CAST(i AS INT) AS i", "CAST(j AS INT) AS j", "cov")
          .orderBy("i", "j")
      },
      Some {
        val D = 8
        val sums =
          (1 to D).map(i =>
            s"SUM(CAST(round(embedding[$i]::DOUBLE, 9) AS DECIMAL(38,9))) AS s_$i") ++
          (for (i <- 1 to D; j <- i to D) yield
            s"SUM(CAST(round(embedding[$i]::DOUBLE * embedding[$j]::DOUBLE, 9) " +
              s"AS DECIMAL(38,9))) AS s_${i}_$j")
        val rows = (for (i <- 1 to D; j <- i to D) yield
          s"SELECT $i AS i, $j AS j, round((CAST(s_${i}_$j AS DOUBLE) - " +
            s"CAST(s_$i AS DOUBLE) * CAST(s_$j AS DOUBLE) / n) / n, 6) + 0.0 AS cov FROM a")
          .mkString("\nUNION ALL ")
        s"""WITH a AS (
           |  SELECT COUNT(*) AS n, ${sums.mkString(",\n    ")}
           |  FROM embeddings)
           |$rows
           |ORDER BY i, j""".stripMargin
      }),

    // Top principal component by power iteration (✚, the step AFTER
    // q239's covariance audit: the leading eigenvector says which
    // single direction carries the representation's variance — the
    // number a dimensionality-reduction or whitening decision reads
    // first, and a var_share near 1.0 flags a collapsed encoder).
    // The corpus collapses in the SAME single 45-cell scan as q239
    // (one map-side-combined aggregation, nothing per-row leaves the
    // scan — at 100 TB the iteration input is one cached row); 8
    // power rounds w ← C·v run on the bounded 8×8 matrix driver-side
    // (the kmeansCentroids/q246 class of bounded state). Parity is
    // the q246 discipline: covariance cells round@9, every matvec
    // term round@9 into an exact DECIMAL(38,9) sum, the vector
    // re-normalized by its max-|·| component (sign kept, tie → lowest
    // dim) and re-rounded@9 each round — both engines iterate on
    // IDENTICAL vectors, so 8 rounds compound zero drift; λ is the
    // Rayleigh quotient of the final vector, var_share = λ/trace(C),
    // round@6 out.
    QueryDef("q283_pca_power",
      (s, d) => {
        import s.implicits._
        val D = 8
        val e = Tables.embeddings(s, d)
          .select(Vectors.asDouble(col("embedding")).as("v"))
        def x(i: Int) = element_at(col("v"), i)
        def dsum9(c: org.apache.spark.sql.Column) =
          sum(round(c, 9).cast("decimal(38,9)")).cast("double")
        val aggs =
          Seq(count(lit(1)).cast("double").as("n")) ++
          (1 to D).map(i => dsum9(x(i)).as(s"s_$i")) ++
          (for (i <- 1 to D; j <- i to D)
            yield dsum9(x(i) * x(j)).as(s"s_${i}_$j"))
        val row = e.agg(aggs.head, aggs.tail: _*).first()
        val n = row.getDouble(0)
        def g(name: String) = row.getDouble(row.fieldIndex(name))
        def r9(v: Double) = BigDecimal.valueOf(v)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        // symmetric covariance matrix, cells round@9 (oracle-identical)
        val c = Array.tabulate(D, D) { (i0, j0) =>
          val (i, j) = (math.min(i0, j0) + 1, math.max(i0, j0) + 1)
          r9((g(s"s_${i}_$j") - g(s"s_$i") * g(s"s_$j") / n) / n)
        }
        val (v, lam) = powerIterate(c, 8)
        val trace = (0 until D).map { i =>
          BigDecimal.valueOf(c(i)(i))
            .setScale(9, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
        (1 to D).map(i => (i, v(i - 1))).toDF("dim", "loading")
          .select(col("dim").cast("int").as("dim"),
            // + 0.0 = signed-zero guard (q351 class) on the one output
            // column that can round to a tiny negative
            (round(col("loading"), 6) + lit(0.0)).as("loading"),
            round(lit(lam), 6).as("lam"),
            round(lit(lam / trace), 6).as("var_share"))
          .orderBy("dim")
      },
      Some {
        val D = 8
        val sums =
          (1 to D).map(i =>
            s"SUM(CAST(round(embedding[$i]::DOUBLE, 9) AS DECIMAL(38,9))) AS s_$i") ++
          (for (i <- 1 to D; j <- i to D) yield
            s"SUM(CAST(round(embedding[$i]::DOUBLE * embedding[$j]::DOUBLE, 9) " +
              s"AS DECIMAL(38,9))) AS s_${i}_$j")
        val cellRows = (for (i <- 1 to D; j <- i to D) yield
          s"SELECT $i AS i, $j AS j, round((CAST(s_${i}_$j AS DOUBLE) - " +
            s"CAST(s_$i AS DOUBLE) * CAST(s_$j AS DOUBLE) / n) / n, 9) AS cov FROM a")
          .mkString("\nUNION ALL ")
        val rounds = (1 to 8).map { k =>
          s"""w$k AS MATERIALIZED (
             |  SELECT cm.i AS d,
             |    CAST(SUM(CAST(round(cm.cov * v.v, 9) AS DECIMAL(38,9)))
             |      AS DOUBLE) AS w
             |  FROM cm JOIN v${k - 1} v ON cm.j = v.d GROUP BY cm.i),
             |v$k AS MATERIALIZED (
             |  SELECT d, round(w / (SELECT w FROM w$k
             |    ORDER BY abs(w) DESC, d LIMIT 1), 9) AS v
             |  FROM w$k)""".stripMargin
        }.mkString(",\n")
        s"""WITH a AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${sums.mkString(",\n    ")}
           |  FROM embeddings),
           |cells AS MATERIALIZED (
           |$cellRows),
           |cm AS MATERIALIZED (
           |  SELECT i, j, cov FROM cells
           |  UNION ALL SELECT j AS i, i AS j, cov FROM cells WHERE i <> j),
           |v0 AS (
           |  SELECT DISTINCT i AS d, CAST(1.0 AS DOUBLE) AS v FROM cells),
           |$rounds,
           |w9 AS MATERIALIZED (
           |  SELECT cm.i AS d,
           |    CAST(SUM(CAST(round(cm.cov * v.v, 9) AS DECIMAL(38,9)))
           |      AS DOUBLE) AS w
           |  FROM cm JOIN v8 v ON cm.j = v.d GROUP BY cm.i),
           |fin AS (
           |  SELECT
           |    CAST(SUM(CAST(round(v.v * w.w, 9) AS DECIMAL(38,9)))
           |      AS DOUBLE) AS num,
           |    CAST(SUM(CAST(round(v.v * v.v, 9) AS DECIMAL(38,9)))
           |      AS DOUBLE) AS den
           |  FROM v8 v JOIN w9 w ON v.d = w.d),
           |tr AS (
           |  SELECT CAST(SUM(CAST(cov AS DECIMAL(38,9))) AS DOUBLE) AS t
           |  FROM cells WHERE i = j)
           |SELECT CAST(v.d AS INT) AS dim, round(v.v, 6) + 0.0 AS loading,
           |  round(fin.num / fin.den, 6) AS lam,
           |  round(fin.num / fin.den / tr.t, 6) AS var_share
           |FROM v8 v CROSS JOIN fin CROSS JOIN tr ORDER BY dim""".stripMargin
      }),

    // Matryoshka prefix-dimension recall audit (✚, the question every
    // MRL-style embedding deployment asks before truncating vectors to
    // save index bytes: how much of the FULL-dimension top-k does the
    // 16-dim PREFIX ranking keep? recall@5 per query, measured
    // exactly). Both rankings are the q29 brute-force shape — tiny
    // query side broadcast, one corpus stream each, cosine round@5
    // with id tiebreak — and the overlap join is on the 8-byte
    // (q_id, n_id) pair. At 100 TB this audit runs on a sample of
    // queries; the per-candidate cost of the prefix pass is the whole
    // point (16 mults vs 64).
    QueryDef("q314_matryoshka_recall",
      (s, d) => {
        val D = 16
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
          .withColumn("p", slice(col("v"), 1, D))
          .withColumn("nrm", Vectors.norm2(col("v")))
          .withColumn("pnrm", Vectors.norm2(col("p")))
        def topk(vecCol: String, nrmCol: String) = {
          val queries = e.where(col("vec_id") < 5)
            .select(col("vec_id").as("q_id"), col(vecCol).as("qv"),
              col(nrmCol).as("qn"))
          val scored = e.join(broadcast(queries),
              col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id").as("n_id"),
              round(Vectors.dot(col("qv"), col(vecCol)) /
                (col("qn") * col(nrmCol)), 5).as("cos"))
          val w = Window.partitionBy("q_id")
            .orderBy(col("cos").desc, col("n_id").asc)
          scored.withColumn("rank", row_number().over(w))
            .where(col("rank") <= 5)
            .select(col("q_id"), col("n_id"))
        }
        val full = topk("v", "nrm")
        val prefix = topk("p", "pnrm")
          .select(col("q_id"), col("n_id").as("p_id"))
        full.join(prefix,
            full("q_id") === prefix("q_id") && col("n_id") === col("p_id"),
            "left")
          .groupBy(full("q_id").as("q_id"))
          .agg(sum(when(col("p_id").isNotNull, 1L).otherwise(0L))
            .as("n_overlap"))
          .select(col("q_id"), col("n_overlap"),
            round(col("n_overlap").cast("double") / 5, 6).as("recall"))
          .orderBy("q_id")
      },
      Some {
        val ap = "[" + (1 to 16).map(i => s"a.embedding[$i]::DOUBLE")
          .mkString(", ") + "]"
        val bp = "[" + (1 to 16).map(i => s"b.embedding[$i]::DOUBLE")
          .mkString(", ") + "]"
        val pcos = s"round(list_dot_product($ap, $bp) / " +
          s"(sqrt(list_dot_product($ap, $ap)) * " +
          s"sqrt(list_dot_product($bp, $bp))), 5)"
        s"""WITH full_rank AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
           |        ORDER BY $cosSql DESC, b.vec_id ASC) AS rank
           |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |    WHERE a.vec_id < 5) t
           |  WHERE rank <= 5),
           |prefix_rank AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT a.vec_id AS q_id, b.vec_id AS n_id,
           |      ROW_NUMBER() OVER (PARTITION BY a.vec_id
           |        ORDER BY $pcos DESC, b.vec_id ASC) AS rank
           |    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
           |    WHERE a.vec_id < 5) t
           |  WHERE rank <= 5)
           |SELECT f.q_id,
           |  CAST(SUM(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_overlap,
           |  round(CAST(SUM(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS DOUBLE) / 5, 6) AS recall
           |FROM full_rank f LEFT JOIN prefix_rank p
           |  ON f.q_id = p.q_id AND f.n_id = p.n_id
           |GROUP BY f.q_id ORDER BY f.q_id""".stripMargin
      }),

    // Bitext mining by MARGIN score (✚, parallel-corpus construction —
    // the alignment step multilingual training sets are built with:
    // for each source-language document, the best target-language
    // candidate, scored not by raw cosine but by its MARGIN over the
    // query's candidate neighborhood, which suppresses hub vectors
    // that are everyone's nearest neighbor; Artetxe & Schwenk's
    // difference margin, the deterministic variant — the ratio form
    // divides by a near-zero neighborhood mean on isotropic vectors).
    // Shape: the per-pair candidate pool (lang = 'de') broadcasts;
    // the QUERY BATCH (lang = 'en', vec_id < 1000 — mining always
    // runs in bounded batches) streams through one map-side join —
    // cost O(batch × pool), LINEAR in the corpus as the pool grows
    // (measured: 10× corpus → 1.3× wall clock post-bound; unbounded
    // both sides read 8× from the ×100 pair blowup), and at 100 TB
    // the pool side is additionally IVF-celled first (q63) so each
    // query meets one cell. Determinism: cosines round@5 into
    // DECIMAL(8,5), the neighborhood mean is an exact decimal sum
    // divided by its exact count, and the margin re-rounds@5 after
    // the one double subtraction (the dsum discipline).
    QueryDef("q336_bitext_margin",
      (s, d) => {
        val langs = Tables.documents(s, d).select(col("doc_id"), col("lang"))
        val e = emb(s, d).join(langs, col("vec_id") === col("doc_id"))
        val q = e.where(col("lang") === "en" && col("vec_id") < 1000)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
        val c = e.where(col("lang") === "de")
          .select(col("vec_id").as("n_id"), col("v").as("cv"), col("nrm").as("cn"))
        val scored = q.crossJoin(broadcast(c))
          .select(col("q_id"), col("n_id"),
            round(Vectors.dot(col("qv"), col("cv")) / (col("qn") * col("cn")), 5)
              .as("cos"))
        val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id").asc)
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 4)
          .groupBy("q_id")
          .agg(max(when(col("rn") === 1, col("n_id"))).as("match_id"),
            max(when(col("rn") === 1, col("cos"))).as("cos_best"),
            sum(col("cos").cast("decimal(8,5)")).as("sum4"),
            count(lit(1)).as("n4"))
          .select(col("q_id"), col("match_id"), col("cos_best"),
            round(col("cos_best") - col("sum4").cast("double") / col("n4"), 5)
              .as("margin"))
          .withColumn("mined", when(col("margin") > 0.05, 1L).otherwise(0L))
          .orderBy("q_id")
      },
      Some(s"""WITH q AS (
              |  SELECT e.vec_id, e.embedding FROM embeddings e
              |  JOIN documents d ON d.doc_id = e.vec_id
              |  WHERE d.lang = 'en' AND e.vec_id < 1000),
              |c AS (
              |  SELECT e.vec_id, e.embedding FROM embeddings e
              |  JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'de'),
              |p AS (
              |  SELECT a.vec_id AS q_id, b.vec_id AS n_id, $cosSql AS cos
              |  FROM q a CROSS JOIN c b),
              |r AS (
              |  SELECT q_id, n_id, cos,
              |    ROW_NUMBER() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id ASC) AS rn
              |  FROM p),
              |t AS (
              |  SELECT q_id,
              |    MAX(CASE WHEN rn = 1 THEN n_id END) AS match_id,
              |    MAX(CASE WHEN rn = 1 THEN cos END) AS cos_best,
              |    SUM(CAST(cos AS DECIMAL(8,5))) AS sum4,
              |    COUNT(*) AS n4
              |  FROM r WHERE rn <= 4 GROUP BY q_id)
              |SELECT q_id, match_id, cos_best,
              |  round(cos_best - CAST(sum4 AS DOUBLE) / n4, 5) AS margin,
              |  CAST(CASE WHEN round(cos_best - CAST(sum4 AS DOUBLE) / n4, 5)
              |    > 0.05 THEN 1 ELSE 0 END AS BIGINT) AS mined
              |FROM t ORDER BY q_id""".stripMargin)),

    // Cholesky whitening of the embedding space (✚, the linear-algebra
    // preprocessing step between q239's covariance audit and the
    // quantizers: decorrelate-and-rescale so axis-aligned codebooks
    // (q95 PQ) and isotropic distance thresholds (q30/q345) stop
    // paying for covarying dims. z = L⁻¹(x − μ) with C = LLᵀ — the
    // triangular-solve flavor of ZCA, chosen because Cholesky and
    // forward substitution are CLOSED-FORM arithmetic both engines can
    // replay exactly, no eigensolve). Output: the whitened second
    // moment E[zzᵀ] — the identity-matrix witness that the transform
    // actually whitened.
    //
    // Scale: two corpus passes, each ONE map-side-combined scan — the
    // 45-cell moment aggregation (q239's shape), then the projected
    // 36-cell z-moment aggregation; the 8×8 factorization runs on the
    // DRIVER from the collected cells (the q283/kmeansCentroids
    // bounded-state class) and re-enters the plan as literals, so the
    // projection is pure codegen'd per-row arithmetic.
    // Determinism (the q283 discipline, extended to a factorization):
    // covariance cells round@9; EVERY Cholesky entry, inverse entry,
    // and mean rounds@9 as it is produced, with summations written in
    // the same ascending-k left-associated order in both engines —
    // Spark folds them driver-side, the oracle as lateral column
    // aliases in dependency order — so both factor the IDENTICAL
    // matrix into IDENTICAL literals; z products round@9 into exact
    // DECIMAL sums, cells round@6 out.
    QueryDef("q351_embed_whitening",
      (s, d) => {
        val D = 8
        // Two consumers (moments, projection) but NO pin: both passes
        // re-scan the immutable parquet — at 100 TB pinning the corpus
        // in executor memory for a 2-pass read is the defect, and the
        // 10× study measured it (0.84 → 17.2 s with a full-width
        // localCheckpoint; linear after this change). slice(·, 1, 8)
        // also drops the 56 unused dims before any arithmetic.
        val e = Tables.embeddings(s, d)
          .select(slice(Vectors.asDouble(col("embedding")), 1, D).as("v"))
        def x(i: Int) = element_at(col("v"), i)
        def dsum9(c: org.apache.spark.sql.Column) =
          sum(round(c, 9).cast("decimal(38,9)")).cast("double")
        val aggs =
          Seq(count(lit(1)).cast("double").as("n")) ++
          (1 to D).map(i => dsum9(x(i)).as(s"s_$i")) ++
          (for (i <- 1 to D; j <- i to D)
            yield dsum9(x(i) * x(j)).as(s"s_${i}_$j"))
        val row = e.agg(aggs.head, aggs.tail: _*).first()
        val n = row.getDouble(0)
        def g(name: String) = row.getDouble(row.fieldIndex(name))
        def r9(v: Double) = BigDecimal.valueOf(v)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        val mu = Array.tabulate(D + 1)(i =>
          if (i == 0) 0.0 else r9(g(s"s_$i") / n))
        val c = Array.tabulate(D + 1, D + 1) { (i0, j0) =>
          if (i0 == 0 || j0 == 0) 0.0 else {
            val (i, j) = (math.min(i0, j0), math.max(i0, j0))
            r9((g(s"s_${i}_$j") - g(s"s_$i") * g(s"s_$j") / n) / n)
          }
        }
        val l = Array.ofDim[Double](D + 1, D + 1)
        for (j <- 1 to D) {
          l(j)(j) = r9(math.sqrt(
            if (j == 1) c(j)(j)
            else c(j)(j) - (1 until j).map(k => l(j)(k) * l(j)(k)).sum))
          for (i <- j + 1 to D)
            l(i)(j) = r9((
              if (j == 1) c(i)(j)
              else c(i)(j) - (1 until j).map(k => l(i)(k) * l(j)(k)).sum
            ) / l(j)(j))
        }
        val m = Array.ofDim[Double](D + 1, D + 1)
        for (j <- 1 to D) {
          m(j)(j) = r9(1.0 / l(j)(j))
          for (i <- j + 1 to D)
            m(i)(j) = r9(-(j until i).map(k => l(i)(k) * m(k)(j)).sum / l(i)(i))
        }
        val zcols = (1 to D).map { i =>
          (1 to i).map(j => lit(m(i)(j)) * (x(j) - lit(mu(j))))
            .reduce(_ + _).as(s"z_$i")
        }
        val waggs =
          Seq(count(lit(1)).cast("double").as("wn")) ++
          (for (i <- 1 to D; j <- i to D)
            yield dsum9(col(s"z_$i") * col(s"z_$j")).as(s"w_${i}_$j"))
        val wrow = e.select(zcols: _*).agg(waggs.head, waggs.tail: _*)
        // `+ 0.0` normalizes IEEE signed zero: DuckDB's round() preserves
        // the sign of a tiny negative double (-0.0), Spark's does not; the
        // driver's byte hash distinguishes them even though -0.0 == 0.0.
        val cells = (for (i <- 1 to D; j <- i to D) yield
          s"$i, $j, round(CAST(w_${i}_$j AS DOUBLE) / wn, 6) + 0.0").mkString(", ")
        wrow.selectExpr(s"stack(${D * (D + 1) / 2}, $cells) AS (i, j, white_cov)")
          .selectExpr("CAST(i AS INT) AS i", "CAST(j AS INT) AS j", "white_cov")
          .orderBy("i", "j")
      },
      Some {
        val D = 8
        val sums =
          (1 to D).map(i =>
            s"SUM(CAST(round(embedding[$i]::DOUBLE, 9) AS DECIMAL(38,9))) AS s_$i") ++
          (for (i <- 1 to D; j <- i to D) yield
            s"SUM(CAST(round(embedding[$i]::DOUBLE * embedding[$j]::DOUBLE, 9) " +
              s"AS DECIMAL(38,9))) AS s_${i}_$j")
        val pivot =
          (1 to D).map(i => s"round(CAST(s_$i AS DOUBLE) / n, 9) AS mu_$i") ++
          (for (i <- 1 to D; j <- i to D) yield
            s"round((CAST(s_${i}_$j AS DOUBLE) - CAST(s_$i AS DOUBLE) * " +
              s"CAST(s_$j AS DOUBLE) / n) / n, 9) AS c_${i}_$j")
        // dependency-ordered lateral aliases: column j's entries only
        // reference columns < j and rows above — same fold order as the
        // Spark driver's loops
        val chol = (1 to D).flatMap { j =>
          val diag =
            if (j == 1) s"round(sqrt(c_1_1), 9) AS l_1_1"
            else {
              val ss = (1 until j).map(k => s"l_${j}_$k * l_${j}_$k").mkString(" + ")
              s"round(sqrt(c_${j}_$j - ($ss)), 9) AS l_${j}_$j"
            }
          val offs = (j + 1 to D).map { i =>
            if (j == 1) s"round(c_1_$i / l_1_1, 9) AS l_${i}_1"
            else {
              val ss = (1 until j).map(k => s"l_${i}_$k * l_${j}_$k").mkString(" + ")
              s"round((c_${j}_$i - ($ss)) / l_${j}_$j, 9) AS l_${i}_$j"
            }
          }
          diag +: offs
        }
        val minv = (1 to D).flatMap { j =>
          val diag = s"round(CAST(1.0 AS DOUBLE) / l_${j}_$j, 9) AS m_${j}_$j"
          val offs = (j + 1 to D).map { i =>
            val ss = (j until i).map(k => s"l_${i}_$k * m_${k}_$j").mkString(" + ")
            s"round(-($ss) / l_${i}_$i, 9) AS m_${i}_$j"
          }
          diag +: offs
        }
        val zs = (1 to D).map { i =>
          val terms = (1 to i)
            .map(j => s"m_${i}_$j * (embedding[$j]::DOUBLE - mu_$j)")
            .mkString(" + ")
          s"($terms) AS z_$i"
        }
        val wsums = (for (i <- 1 to D; j <- i to D) yield
          s"SUM(CAST(round(z_$i * z_$j, 9) AS DECIMAL(38,9))) AS w_${i}_$j")
        // `+ 0.0` flushes DuckDB's -0.0 (sign-preserving round of a tiny
        // negative) to +0.0, matching Spark — see the Spark-side projection.
        val rows = (for (i <- 1 to D; j <- i to D) yield
          s"SELECT $i AS i, $j AS j, " +
            s"round(CAST(w_${i}_$j AS DOUBLE) / wn, 6) + 0.0 AS white_cov FROM w")
          .mkString("\nUNION ALL ")
        s"""WITH a AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, ${sums.mkString(",\n    ")}
           |  FROM embeddings),
           |cp AS MATERIALIZED (
           |  SELECT n, ${pivot.mkString(",\n    ")} FROM a),
           |chol AS MATERIALIZED (
           |  SELECT *, ${chol.mkString(",\n    ")} FROM cp),
           |mi AS MATERIALIZED (
           |  SELECT *, ${minv.mkString(",\n    ")} FROM chol),
           |zp AS (
           |  SELECT ${zs.mkString(",\n    ")} FROM embeddings, mi),
           |w AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS DOUBLE) AS wn, ${wsums.mkString(",\n    ")}
           |  FROM zp)
           |$rows
           |ORDER BY i, j""".stripMargin
      })
  )
}
