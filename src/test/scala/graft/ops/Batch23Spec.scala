package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantics for the round-12 additions q343–q346 beyond the value
  * oracle: DP release bounds and reproducibility, NFC round-trip
  * invariants, DBSCAN's grid blocking vs the brute-force definition,
  * and the k-center trace's Gonzalez invariants. */
class Batch23Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("q343 DP release: reproducible, threshold-suppressed, noise bounded") {
    val q = SparkEntry.queries("q343_dp_release")
    val a = q(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    val b = q(spark, sf).collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    assert(a == b, "seeded noise must be bit-reproducible across runs")
    assert(a.nonEmpty)
    assert(a.forall(_._3 >= 10.0), "suppression: no released cell below tau")
    // noise is Laplace(1) from u = (m+0.5)/1e6: |noise| <= ln(1e6) < 14
    val truth = Tables.documents(spark, sf)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    a.foreach { case (l, s, noisy) =>
      val t = truth((l, s))
      assert(math.abs(noisy - t) < 14.0,
        s"($l,$s): noisy=$noisy true=$t exceeds the inverse-CDF bound")
    }
  }

  test("q344 NFC: every doc round-trips; char deltas equal the e-count") {
    val rows = SparkEntry.queries("q344_nfc_normalize")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byLang = docs.groupBy(_._1)
    rows.foreach { r =>
      val lang = r.getString(0)
      val texts = byLang(lang).map(_._2)
      assert(r.getLong(1) == texts.length, "n_docs")
      assert(r.getLong(5) == texts.length, "n_roundtrip: NFC == precomposed substitution")
      val es = texts.map(_.count(_ == 'e').toLong).sum
      assert(r.getLong(3) - r.getLong(4) == es,
        "each decomposed pair collapses to exactly one codepoint")
      assert(r.getLong(2) == texts.count(_.contains('e')).toLong,
        "changed = docs containing at least one e")
    }
  }

  test("dbscan grid blocking equals the brute-force definition on random points") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val pts = (0L until 300L).map(i =>
      (i, rnd.nextDouble() * 0.8 - 0.4, rnd.nextDouble() * 0.8 - 0.4))
    val eps = 0.05; val eps2 = 0.0025; val minPts = 5
    // brute force, driver-side, same round@9-then-cut rule
    val nbrs = pts.map { case (i, xi, yi) =>
      i -> pts.filter { case (j, xj, yj) =>
        j != i && round9((xi - xj) * (xi - xj) + (yi - yj) * (yi - yj)) <= eps2
      }.map(_._1).toSet
    }.toMap
    val core = nbrs.filter(_._2.size >= minPts - 1).keySet
    // components over core-core edges: label = min reachable core id
    val lbl = scala.collection.mutable.Map[Long, Long]()
    for (c <- core.toSeq.sorted if !lbl.contains(c)) {
      val seen = scala.collection.mutable.Set(c)
      val stack = scala.collection.mutable.Stack(c)
      while (stack.nonEmpty) {
        val u = stack.pop()
        for (v <- nbrs(u) if core(v) && !seen(v)) { seen += v; stack.push(v) }
      }
      val m = seen.min
      seen.foreach(v => lbl(v) = math.min(m, lbl.getOrElse(v, Long.MaxValue)))
    }
    val want = pts.map { case (i, _, _) =>
      if (core(i)) (i, "core", lbl(i))
      else {
        val cn = nbrs(i).filter(core).map(lbl)
        if (cn.nonEmpty) (i, "border", cn.min) else (i, "noise", -1L)
      }
    }.toSeq
    val got = Components.dbscan(
        pts.toDF("id", "x", "y"), eps, eps2, minPts)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(got == want)
    // and the clustering is non-trivial on this density
    assert(want.exists(_._2 == "core") && want.exists(_._2 == "noise"))
  }

  test("q347 greedy cover: diminishing gains, distinct sources, exact first pick") {
    val rows = SparkEntry.queries("q347_source_cover")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.map(_._1).toSeq == (1L to rows.length))
    assert(rows.map(_._2).distinct.length == rows.length, "a source is picked once")
    val gains = rows.map(_._3)
    assert(gains.zip(gains.drop(1)).forall { case (a, b) => b <= a },
      "marginal gains are non-increasing (submodularity)")
    assert(rows.map(_._3).scanLeft(0L)(_ + _).drop(1).toSeq == rows.map(_._4).toSeq,
      "covered_total is the running gain sum")
    // first pick = argmax distinct-bigram count, computed independently
    val perSource = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (s, ds) =>
        s -> ds.flatMap { case (_, t) =>
          val w = t.split(" ", -1); w.zip(w.drop(1)).map { case (a, b) => s"$a $b" }
        }.distinct.length
      }
    val best = perSource.toSeq.sortBy { case (s, n) => (-n, s) }.head
    assert((rows.head._2, rows.head._3) == (best._1, best._2.toLong))
  }

  test("boruvka forest equals a driver-side Kruskal, ties and isolated nodes included") {
    import spark.implicits._
    // hand graph: two components + an isolated node; tied weights on
    // purpose (different MSTs possible, same weight multiset)
    val nodes = (1L to 8L).toDF("id")
    val edges = Seq(
      (1L, 2L, 0.5), (2L, 3L, 0.5), (1L, 3L, 0.9), (3L, 4L, 0.1),
      (5L, 6L, 0.2), (6L, 7L, 0.2), (5L, 7L, 0.2)).toDF("a", "b", "w")
    val got = Components.boruvkaMstForest(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 4L, 3L, 1.1), // 0.5 + 0.5 + 0.1
      (5L, 3L, 2L, 0.4), // two of the tied 0.2s, any pair
      (8L, 1L, 0L, 0.0)))
  }

  test("q348 per-cluster MST weight matches driver-side Kruskal at sf0.001") {
    val rows = SparkEntry.queries("q348_mst_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.forall { case (_, n, e, _) => e == n - 1 },
      "every component's MST is a tree")
    val docs = Tables.documents(spark, sf)
    assert(rows.map(_._2).sum == docs.count(), "components partition the corpus")
    // independent Kruskal over the same weighted pair set
    val es = Dedup.dedupPipeline(docs)
      .groupBy("id_a", "id_b")
      .agg(min(round(lit(1.0) - col("jaccard"), 6)).as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val wByRoot = scala.collection.mutable.Map[Long, BigDecimal]()
    for ((a, b, w) <- es) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        parent(math.max(ra, rb)) = math.min(ra, rb)
        wByRoot(math.min(ra, rb)) =
          wByRoot.getOrElse(math.min(ra, rb), BigDecimal(0)) + BigDecimal(w)
      }
    }
    // fold intermediate roots' accumulators up to their final root
    val folded = scala.collection.mutable.Map[Long, BigDecimal]()
    for ((r, w) <- wByRoot) folded(find(r)) = folded.getOrElse(find(r), BigDecimal(0)) + w
    for ((root, n, _, w) <- rows if n > 1) {
      val want = folded.getOrElse(root, BigDecimal(0)).toDouble
      assert(math.abs(w - want) < 1e-9, s"root $root: $w vs kruskal $want")
    }
  }

  test("q346 k-center trace satisfies the Gonzalez invariants") {
    val rows = SparkEntry.queries("q346_kcenter_coreset")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == (1L to 7L))
    val centers = rows.dropRight(1)
    assert(centers.map(_._2).distinct.length == 6, "centers are distinct points")
    val minId = Tables.embeddings(spark, sf)
      .agg(min(col("vec_id"))).head.getLong(0)
    assert(centers.head._2 == minId, "step 1 seeds at the minimum vec_id")
    assert(centers.head._3 == 0.0)
    val sel = centers.drop(1).map(_._3)
    assert(sel.zip(sel.drop(1)).forall { case (a, b) => b <= a },
      "farthest-point distances are non-increasing")
    assert(sel.forall(_ > 0.0))
    val cover = rows.last
    assert(cover._2 == -1L)
    assert(cover._3 <= sel.last,
      "coverage radius cannot exceed the last selection distance")
  }

  test("q349 KN cross-entropy matches an independent driver-side KN model") {
    val rows = SparkEntry.queries("q349_kn_perplexity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // driver reimplementation: same counts, same formula, independent code
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val bi = docs.flatMap { case (id, w) => w.zip(w.drop(1)).map(p => (id, p)) }
    val cb = bi.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val cu = cb.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val nsucc = cb.groupBy(_._1._1).map { case (u, m) => u -> m.size.toLong }
    val npred = cb.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val t = cb.size.toLong
    def lp(p: (String, String)): BigDecimal = {
      val prob = (cb(p) - 0.75d) / cu(p._1) +
        (0.75d * nsucc(p._1) / cu(p._1)) * (npred(p._2).toDouble / t)
      BigDecimal(round9(math.log(prob)))
    }
    val want = bi.groupBy(_._1).map { case (id, bs) =>
      // the gate's exact-integer half-up round of −slp/n at 5 dp:
      // slp = k·10⁻⁹, so ce = (k + 5000n) / (10000n) floored, /1e5
      val k = (-bs.map(b => lp(b._2)).sum * BigDecimal(1000000000))
        .toLongExact
      val n = bs.size.toLong
      id -> (n, ((k + n * 5000) / (n * 10000)).toDouble / 100000)
    }
    assert(rows.length == want.size, "one row per doc with >= 1 bigram")
    rows.foreach { case (id, n, ce, _) =>
      assert((n, ce) == want(id), s"doc $id: got ($n, $ce) want ${want(id)}")
    }
    // keep splits on the corpus CE: total-bigram-weighted mean of doc sums
    val gslp = bi.map(b => lp(b._2)).sum
    val gce = -gslp.toDouble / bi.length
    rows.foreach { case (id, n, _, keep) =>
      val slp = bi.filter(_._1 == id).map(b => lp(b._2)).sum
      assert(keep == (-slp.toDouble / n <= gce), s"doc $id keep flag")
    }
  }

  test("q349 KN probabilities are a proper distribution per context") {
    // sum over SEEN successors of P(w|u) = 1 - (unseen continuation
    // mass); with the interpolation term included over ALL w the total
    // is exactly 1 — verify on the corpus's contexts to 1e-9
    val docs = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split(" ", -1).toSeq)
    val bi = docs.flatMap(w => w.zip(w.drop(1)))
    val cb = bi.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cu = cb.groupBy(_._1._1).map { case (u, m) => u -> m.values.sum }
    val nsucc = cb.groupBy(_._1._1).map { case (u, m) => u -> m.size.toLong }
    val npred = cb.groupBy(_._1._2).map { case (w, m) => w -> m.size.toLong }
    val t = cb.size.toLong
    val vocabPredMass = npred.values.sum.toDouble / t // = 1 by construction
    assert(math.abs(vocabPredMass - 1.0) < 1e-12)
    cu.keys.take(50).foreach { u =>
      val seen = cb.collect { case ((`u`, w), c) =>
        (c - 0.75d) / cu(u) + (0.75d * nsucc(u) / cu(u)) * (npred(w).toDouble / t)
      }.sum
      val unseenMass = (0.75d * nsucc(u) / cu(u)) *
        ((t - cb.collect { case ((`u`, w), _) => npred(w) }.sum).toDouble / t)
      assert(math.abs(seen + unseenMass - 1.0) < 1e-9,
        s"context '$u': mass ${seen + unseenMass}")
    }
  }

  test("q350 ablation: counts partition, _all shift is zero, solver is exact") {
    val rows = SparkEntry.queries("q350_source_ablation")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val total = Tables.documents(spark, sf).count()
    val all = rows.find(_._1 == "_all").get
    assert(all._2 == total && all._7 == 0.0)
    val perSrc = Tables.documents(spark, sf).groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    rows.filter(_._1 != "_all").foreach { case (who, n, _, _, _, _, _) =>
      assert(n == total - perSrc(who), s"$who: ablated n")
    }
    // independent solve of the _all fit: Gaussian elimination over the
    // same sufficient statistics, coefficients agree to the 6dp round
    val f = Tables.documents(spark, sf).select("source", "text", "n_chars")
      .collect().map { r =>
        val w = r.getString(1).split(" ", -1)
        (w.length.toLong, w.distinct.length.toLong, r.getLong(2))
      }
    val n = f.length.toDouble
    def S(g: ((Long, Long, Long)) => Double) = f.map(g).sum
    val (s1, s2) = (S(_._1.toDouble), S(_._2.toDouble))
    val (s11, s12, s22) = (S(v => (v._1 * v._1).toDouble),
      S(v => (v._1 * v._2).toDouble), S(v => (v._2 * v._2).toDouble))
    val (sy, s1y, s2y) = (S(_._3.toDouble), S(v => (v._1 * v._3).toDouble),
      S(v => (v._2 * v._3).toDouble))
    val m = Array(Array(n, s1, s2, sy), Array(s1, s11, s12, s1y),
      Array(s2, s12, s22, s2y))
    for (i <- 0 until 3) {
      val piv = (i until 3).maxBy(j => math.abs(m(j)(i)))
      val tmp = m(i); m(i) = m(piv); m(piv) = tmp
      for (j <- 0 until 3 if j != i) {
        val fct = m(j)(i) / m(i)(i)
        for (k <- i to 3) m(j)(k) -= fct * m(i)(k)
      }
    }
    val got = Seq(all._3, all._4, all._5)
    val want = (0 until 3).map(i => m(i)(3) / m(i)(i))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w) < 1e-5, s"coef $g vs $w") }
    // residuals: rmse agrees with the direct per-row residual sum
    val resid = f.map { case (x1, x2, y) =>
      val e = y - (want(0) + want(1) * x1 + want(2) * x2); e * e }.sum / n
    assert(math.abs(all._6 - math.sqrt(resid)) < 1e-4)
  }

  test("q351 whitening: E[zz'] is the identity to rounding precision") {
    val rows = SparkEntry.queries("q351_embed_whitening")(spark, sf)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(rows.size == 36, "8x8 upper triangle")
    for (i <- 1 to 8; j <- i to 8) {
      val v = rows((i, j))
      if (i == j) assert(math.abs(v - 1.0) < 1e-3, s"diag ($i,$i) = $v")
      else assert(math.abs(v) < 1e-3, s"off-diag ($i,$j) = $v")
    }
    // independent witness: the whitened cells equal M C M' computed
    // from a from-scratch covariance + Cholesky in plain Scala
    val vs = Tables.embeddings(spark, sf)
      .select(graft.functions.Vectors.asDouble(col("embedding")))
      .collect().map(_.getSeq[Double](0).take(8).toArray)
    val n = vs.length.toDouble
    val mu = (0 until 8).map(d => vs.map(_(d)).sum / n).toArray
    val c = Array.tabulate(8, 8)((i, j) =>
      vs.map(v => (v(i) - mu(i)) * (v(j) - mu(j))).sum / n)
    val l = Array.ofDim[Double](8, 8)
    for (j <- 0 until 8) {
      l(j)(j) = math.sqrt(c(j)(j) - (0 until j).map(k => l(j)(k) * l(j)(k)).sum)
      for (i <- j + 1 until 8)
        l(i)(j) = (c(i)(j) - (0 until j).map(k => l(i)(k) * l(j)(k)).sum) / l(j)(j)
    }
    // M = L^-1; M C M' = I exactly in theory, so the gate's cells must
    // sit within combined rounding noise of the analytic identity
    for (i <- 1 to 8; j <- i to 8)
      assert(math.abs(rows((i, j)) - (if (i == j) 1.0 else 0.0)) < 1e-3)
    assert((0 until 8).forall(j => l(j)(j) > 0), "covariance is PD")
  }
}
