package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side SEQUENTIAL cross-checks for the r16 additions — the
  * Batch23/25 pattern (a different algorithm on collected data must
  * reproduce the distributed result exactly):
  *
  *  - q374 crossDocRepeat: brute-force max cross-doc LCP over ALL
  *    suffix pairs of a handcrafted corpus and a seeded random one
  *    (vs the global prefix-doubling ladder + consecutive-pair
  *    argument), plus a token-level re-verification of the reported
  *    spans;
  *  - kTruss (support-decrement rewrite): a naive per-round FULL
  *    re-enumeration peel on collected edges must produce the
  *    identical surviving edge set and supports on seeded random
  *    graphs at several k — the equality that makes the incremental
  *    decrement (min-removed-edge triangle charging) trustworthy
  *    beyond Batch25's single handcrafted cascade. */
class Batch26Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ---- q374: brute-force cross-doc longest repeat ----

  private def bruteCross(docs: Seq[(Long, String)]): Long = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val sufs = for {
      (id, w) <- toks
      off <- w.indices
    } yield (id, off.toLong, w.drop(off))
    var best = 0L
    for (a <- sufs; b <- sufs if a._1 < b._1) {
      val l = a._3.zip(b._3).takeWhile { case (x, y) => x == y }.size.toLong
      if (l > best) best = l
    }
    best
  }

  private def run(docs: Seq[(Long, String)])
      : (Long, Long, Long, Long, Long) = {
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val r = TrainPrep.crossDocRepeat(df).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  test("q374 on a handcrafted corpus: the planted cross-doc span wins " +
      "and the reported offsets point at a real token match") {
    val docs = Seq[(Long, String)](
      (1L, "a b c d e"),
      (2L, "x a b c d y"),
      (3L, "q r a b s"))
    val (len, da, oa, db, ob) = run(docs)
    assert(len == 4L) // "a b c d" between doc 1 and doc 2
    assert(bruteCross(docs) == 4L)
    val byId = docs.toMap.map { case (k, v) => k -> v.split(" ", -1) }
    assert(da != db)
    assert(byId(da).slice(oa.toInt, oa.toInt + len.toInt).toSeq ==
      byId(db).slice(ob.toInt, ob.toInt + len.toInt).toSeq)
  }

  test("q374: identical documents report the full length; disjoint " +
      "vocabularies report zero") {
    val twins = Seq[(Long, String)]((7L, "p q r"), (9L, "p q r"))
    val (len, da, oa, db, ob) = run(twins)
    assert((len, da, oa, db, ob) == ((3L, 7L, 0L, 9L, 0L)))
    val disjoint = Seq[(Long, String)]((1L, "a b"), (2L, "c d"))
    assert(run(disjoint)._1 == 0L)
  }

  test("q374 matches brute force on seeded random corpora, and the " +
      "reported span is a real cross-doc match of that length") {
    val rnd = new scala.util.Random(2026)
    for (trial <- 1 to 4) {
      val docs = (1L to 8L).map { id =>
        val n = 5 + rnd.nextInt(20)
        id -> Seq.fill(n)(('a' + rnd.nextInt(4)).toChar.toString)
          .mkString(" ")
      }
      val (len, da, oa, db, ob) = run(docs)
      assert(len == bruteCross(docs), s"trial $trial length")
      if (len > 0) {
        val byId = docs.toMap.map { case (k, v) => k -> v.split(" ", -1) }
        assert(da != db, s"trial $trial cross-doc")
        assert(byId(da).slice(oa.toInt, oa.toInt + len.toInt).toSeq ==
          byId(db).slice(ob.toInt, ob.toInt + len.toInt).toSeq,
          s"trial $trial span")
      }
    }
  }

  // ---- q375: brute-force per-document matching statistics ----

  private def bruteCoverage(docs: Seq[(Long, String)], minLen: Int)
      : Map[Long, (Long, Long)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    def lcp(a: Seq[String], b: Seq[String]): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    toks.map { case (id, w) =>
      val others = toks.filter(_._1 != id).flatMap { case (_, v) =>
        v.indices.map(v.drop(_))
      }
      val cds = w.indices.map { off =>
        val suf = w.drop(off)
        if (others.isEmpty) 0L else others.map(o => lcp(suf, o)).max
      }
      id -> (if (cds.isEmpty) (0L, 0L)
             else (cds.max, cds.count(_ >= minLen).toLong))
    }.toMap
  }

  test("q375 matches brute-force all-pairs matching statistics on " +
      "handcrafted and seeded random corpora, and its corpus max " +
      "equals q374's repeat length") {
    import spark.implicits._
    val rnd = new scala.util.Random(375)
    val corpora = Seq(
      Seq[(Long, String)]((1L, "a b c d e"), (2L, "x a b c d y"),
        (3L, "q r a b s")),
      Seq[(Long, String)]((7L, "p q r"), (9L, "p q r")),
      (1L to 6L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(14))(
          ('a' + rnd.nextInt(3)).toChar.toString).mkString(" ")
      })
    for ((docs, ci) <- corpora.zipWithIndex) {
      val minLen = 2
      val df = docs.toDF("doc_id", "text")
      val got = TrainPrep.crossDocCoverage(df, minLen).collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
      assert(got == bruteCoverage(docs, minLen), s"corpus $ci")
      val globalMax = got.values.map(_._1).max
      val rep = TrainPrep.crossDocRepeat(df).collect()(0).getLong(0)
      assert(globalMax == rep, s"corpus $ci max vs q374")
    }
  }

  // ---- q377: brute-force contamination spans ----

  test("q377 matches brute-force longest-shared-with-eval spans on a " +
      "handcrafted corpus and seeded random ones") {
    import spark.implicits._
    def brute(docs: Seq[(Long, String)], evalMod: Long, minLen: Int)
        : Map[Long, (Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
      val evalSufs = toks.filter(_._1 % evalMod == 0)
        .flatMap { case (_, w) => w.indices.map(w.drop(_)) }
      def lcp(a: Seq[String], b: Seq[String]): Long =
        a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      toks.filter(_._1 % evalMod != 0).map { case (id, w) =>
        val cds = w.indices.map { off =>
          val suf = w.drop(off)
          if (evalSufs.isEmpty) 0L else evalSufs.map(e => lcp(suf, e)).max
        }
        id -> (if (cds.isEmpty) (0L, 0L)
               else (cds.max, cds.count(_ >= minLen).toLong))
      }.toMap
    }
    def run(docs: Seq[(Long, String)], evalMod: Long, minLen: Int)
        : Map[Long, (Long, Long)] = {
      val df = docs.toDF("doc_id", "text")
      val (sa, t) = TrainPrep.globalSaLadder(df)
      TrainPrep.contaminationFrom(sa, t, evalMod, minLen)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
    }
    // eval doc 0 holds "a b c d"; doc 1 shares all 4, doc 2 shares
    // "c d" (len 2), doc 3 nothing
    val hand = Seq[(Long, String)]((0L, "a b c d"), (1L, "x a b c d"),
      (2L, "c d y"), (3L, "p q"))
    assert(run(hand, 41L, 2) == brute(hand, 41L, 2))
    val rnd = new scala.util.Random(377)
    for (trial <- 1 to 3) {
      val docs = (0L to 7L).map { id =>
        id -> Seq.fill(5 + rnd.nextInt(15))(
          ('a' + rnd.nextInt(3)).toChar.toString).mkString(" ")
      }
      assert(run(docs, 4L, 2) == brute(docs, 4L, 2), s"trial $trial")
    }
  }

  // ---- q376: brute-force KNN-Shapley (sequential closed form) ----

  test("q376 equals the sequential Jia-et-al recursion computed " +
      "driver-side on collected data") {
    import spark.implicits._
    val rnd = new scala.util.Random(376)
    val k = 5
    // 60 vectors in 4 dims, 3 labels; pad to 64 dims with zeros so the
    // production 64-dim distance expression applies unchanged
    val rows = (0L until 60L).map { id =>
      val v = Array.fill(4)((rnd.nextDouble() * 2 - 1).toFloat) ++
        Array.fill(60)(0.0f)
      (id, v, (id % 3).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = DataSelect.knnShapley(df, k).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // sequential reference: per query sort train by (round(d2,6), id),
    // run the recursion, average per train point
    val qs = rows.filter(_._1 % 37 == 0).sortBy(_._1).take(32)
    val ts = rows.filter(_._1 % 37 != 0)
    def d2(a: Array[Float], b: Array[Float]): Double =
      BigDecimal(a.zip(b).map { case (x, y) =>
        (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val acc = scala.collection.mutable.Map.empty[Long, BigDecimal]
      .withDefaultValue(BigDecimal(0))
    for ((qid, qv, ql) <- qs) {
      val sorted = ts.map { case (tid, tv, tl) => (d2(tv, qv), tid, tl) }
        .sortBy(t => (t._1, t._2))
      val n = sorted.length
      val ym = sorted.map(t => if (t._3 == ql) 1.0 else 0.0)
      val s = new Array[BigDecimal](n)
      s(n - 1) = BigDecimal(ym(n - 1) / n)
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      for (i <- n - 2 to 0 by -1)
        s(i) = s(i + 1) + BigDecimal(
          (ym(i) - ym(i + 1)) / math.max(k.toDouble, (i + 1).toDouble))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      sorted.zipWithIndex.foreach { case ((_, tid, _), i) =>
        acc(tid) += s(i) }
    }
    val want = ts.map { case (tid, _, _) =>
      tid -> BigDecimal(acc(tid).toDouble / qs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    assert(got.keySet == want.keySet)
    val worst = got.map { case (id, v) => math.abs(v - want(id)) }.max
    assert(worst <= 1e-6, s"max divergence $worst")
    // efficiency axiom sanity: values exist for every train point and
    // same-label neighbors of a query class dominate on average
    assert(got.size == ts.size)
  }

  // ---- kTruss: incremental decrement == naive re-enumeration ----

  private def naiveTruss(edges: Set[(Long, Long)], k: Int)
      : Map[(Long, Long), Long] = {
    var e = edges
    var done = false
    var sup = Map.empty[(Long, Long), Long]
    while (!done) {
      def canon(a: Long, b: Long) = (math.min(a, b), math.max(a, b))
      val adj = e.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
      sup = e.toSeq.map { case (a, b) =>
        (a, b) -> (adj(a) & adj(b)).size.toLong
      }.toMap
      val kept = e.filter(ed => sup(ed) >= k - 2)
      if (kept == e) done = true else e = kept
    }
    sup.filter { case (ed, s) => e(ed) }
  }

  test("incremental support-decrement kTruss equals the naive " +
      "re-enumerating peel on seeded random graphs at k = 3, 4, 5") {
    import spark.implicits._
    val rnd = new scala.util.Random(16)
    for (trial <- 1 to 3) {
      val n = 14
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.35
      } yield (a, b)).toSet
      val df = edges.toSeq.toDF("id_a", "id_b")
      for (k <- Seq(3, 4, 5)) {
        val got = Components.kTruss(df, k).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        assert(got == naiveTruss(edges, k), s"trial $trial k=$k")
      }
    }
  }
}
