package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions.{col, length}
import org.scalatest.funsuite.AnyFunSuite

/** Driver-side SEQUENTIAL cross-checks for the r17 additions — the
  * Batch23/25/26 pattern (a different algorithm on collected data must
  * reproduce the distributed result exactly):
  *
  *  - q378 removeCrossDocSpans: the VERDICT r16 #3 contract — planted
  *    cross-doc spans must be ABSENT from the rewritten corpus while
  *    the first occurrence and all unique text stay byte-identical,
  *    token mass conserves row by row, and a fully-cut survivor stays
  *    as an empty row; plus a brute-force window-level keep-first
  *    re-derivation on seeded random corpora. */
class Batch27Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(docs: Seq[(Long, String)], L: Int)
      : Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    TrainPrep.removeCrossDocSpans(docs.toDF("doc_id", "text"), L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toMap
  }

  /** Sequential reference: the SAME rule, computed naively — stride-1
    * L-windows grouped by content, groups spanning >1 doc keep their
    * min-(doc_id, pos) occurrence, every token covered by a non-first
    * occurrence is cut, docs rebuilt from kept tokens in order. */
  private def brute(docs: Seq[(Long, String)], L: Int)
      : Map[Long, (Long, Long, Long, String)] = {
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1) }.toMap
    val wins = for {
      (id, w) <- toks.toSeq
      p <- 0 to w.length - L
    } yield (w.slice(p, p + L).mkString(" "), id, p)
    val removeStarts = wins.groupBy(_._1).values.flatMap { occ =>
      if (occ.map(_._2).distinct.size > 1) {
        val first = occ.map(o => (o._2, o._3)).min
        occ.collect { case (_, d, p) if (d, p) != first => (d, p) }
      } else Nil
    }.toSet
    docs.map { case (id, _) =>
      val w = toks(id)
      val rm = w.indices.map(i =>
        ((i - L + 1) max 0 to i).exists(p => removeStarts((id, p))))
      val kept = w.indices.filterNot(rm).map(w)
      id -> (w.length.toLong, rm.count(identity).toLong,
        rm.count(!_).toLong, kept.mkString(" "))
    }.toMap
  }

  // a deterministic token stream with a small vocabulary so random
  // corpora still collide occasionally below L
  private def tokens(seed: Int, n: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)("t" + rnd.nextInt(40))
  }

  test("q378 planted spans: the first occurrence and unique text are " +
      "byte-identical, later copies vanish, conservation holds row by row") {
    val L = 50
    val span = (0 until 60).map("s" + _).mkString(" ")
    val d1 = tokens(1, 30).mkString(" ") + " " + span + " " +
      tokens(2, 25).mkString(" ")
    val d2 = tokens(3, 40).mkString(" ") + " " + span + " " +
      tokens(4, 10).mkString(" ")
    val d3 = tokens(5, 80).mkString(" ") // unique, long enough to window
    val docs = Seq((1L, d1), (2L, d2), (3L, d3))
    val out = run(docs, L)

    // first occurrence (doc 1) and unique text (doc 3) byte-identical
    assert(out(1L)._4 == d1)
    assert(out(1L)._2 == 0L)
    assert(out(3L)._4 == d3)
    assert(out(3L)._2 == 0L)
    // the planted span is ABSENT from doc 2's rewrite: no 50-token
    // window of the rewritten corpus outside doc 1 matches the span
    val spanToks = span.split(" ").toSeq
    val d2w = out(2L)._4.split(" ", -1).toSeq
    assert(!d2w.sliding(L).exists(w => spanToks.sliding(L).exists(_ == w)),
      "a ≥L window of the planted span survived in doc 2")
    // ...and it survives exactly once corpus-wide
    val allWins = out.values.flatMap(_._4.split(" ", -1).toSeq.sliding(L))
    val spanWins = spanToks.sliding(L).toSet
    assert(allWins.count(spanWins) == spanWins.size) // doc 1's copy only
    // conservation: n_tok = n_removed + n_kept, and n_kept matches the
    // rebuilt text's real token count
    out.foreach { case (id, (nt, nr, nk, txt)) =>
      assert(nt == nr + nk, s"doc $id")
      if (nk > 0) assert(txt.split(" ", -1).length.toLong == nk, s"doc $id")
      else assert(txt == "", s"doc $id")
    }
    assert(out == brute(docs, L))
  }

  test("q378 closes the loop with q375: the REWRITTEN corpus has zero " +
      "residual ≥L cross-doc coverage on the planted fixture") {
    import spark.implicits._
    val L = 50
    val span = (0 until 70).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, tokens(21, 20).mkString(" ") + " " + span),
      (2L, span + " " + tokens(22, 30).mkString(" ")),
      (3L, tokens(23, 15).mkString(" ") + " " + span + " " +
        tokens(24, 15).mkString(" ")),
      (4L, tokens(25, 90).mkString(" ")))
    val rewritten = TrainPrep.removeCrossDocSpans(docs.toDF("doc_id", "text"), L)
      .select(col("doc_id"), col("text_dedup").as("text"))
      .where(length(col("text")) > 0)
    // the kept first occurrence lost every partner, so the matching
    // statistics of the REWRITE report no ≥L cross-doc span anywhere
    val residual = TrainPrep.crossDocCoverage(rewritten, L).collect()
    assert(residual.nonEmpty)
    residual.foreach { r =>
      assert(r.getLong(3) == 0L,
        s"doc ${r.getLong(0)} still starts ${r.getLong(3)} ≥$L-token " +
          "cross-doc spans after removal")
    }
  }

  test("q378: a document that is one duplicated span collapses to an " +
      "EMPTY row — the corpus keeps its row count") {
    val L = 10
    val span = (0 until 10).map("z" + _).mkString(" ")
    val docs = Seq(
      (1L, tokens(7, 5).mkString(" ") + " " + span),
      (2L, span)) // doc 2 IS the span: fully cut
    val out = run(docs, L)
    assert(out.keySet == Set(1L, 2L))
    assert(out(2L) == ((10L, 10L, 0L, "")))
    assert(out(1L)._4 == docs.head._2)
    assert(out == brute(docs, L))
  }

  test("q378: keep-first is global — with three copies the (doc_id, pos)-" +
      "smallest survives and BOTH later copies are cut") {
    val L = 8
    val span = (0 until 12).map("k" + _).mkString(" ")
    val docs = Seq(
      (3L, tokens(11, 4).mkString(" ") + " " + span),
      (5L, span + " " + tokens(12, 6).mkString(" ")),
      (9L, tokens(13, 3).mkString(" ") + " " + span + " x0"))
    val out = run(docs, L)
    assert(out(3L)._2 == 0L) // min doc_id keeps its copy
    assert(out(5L)._2 == 12L)
    assert(out(9L)._2 == 12L)
    assert(out == brute(docs, L))
  }

  test("q379 composition: the selected set IS the greedy value-ordered " +
      "prefix under the token budget, and cum_value is the exact " +
      "DECIMAL running sum of the q376 values") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val embs = (1L to 120L).map { id =>
      val v = Array.fill(4)((rnd.nextDouble() * 2 - 1).toFloat) ++
        Array.fill(60)(0.0f)
      (id, v, (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val docs = (1L to 120L).map { id =>
      id -> tokens(1000 + id.toInt, 10 + (id % 7).toInt * 5).mkString(" ")
    }.toDF("doc_id", "text")
    val budget = 900L
    val got = DataSelect.shapleyBudgetSelect(docs, embs, budget)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4)))
      .sortBy(_._1)
    // sequential greedy over the DISTRIBUTED valuation (valuation
    // equality itself is Batch26's theorem; this pins the composition)
    val sv = DataSelect.knnShapley(embs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val nTok = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length.toLong)
      .toMap
    val ordered = sv.toSeq.sortBy { case (id, v) => (-v, id) }
    var cumT = 0L
    var cumV = BigDecimal(0)
    val want = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Long, Double)]
    for ((id, v) <- ordered) {
      cumT += nTok(id)
      cumV += BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      if (cumT <= budget)
        want += ((id, nTok(id), v, cumT, cumV.toDouble))
    }
    assert(got.toSeq == want.sortBy(_._1).toSeq)
    assert(got.nonEmpty && got.map(_._2).sum <= budget)
  }

  // ---- q374's group-convergence exit (VERDICT r16 #3): the planted
  // ≥50-token spans of the standard corpora keep groups splitting
  // through width 64, so the no-split exit path was live but never
  // taken. These corpora have NO long repeat, so the exit MUST fire
  // rounds before the ⌈log₂ maxLen⌉ worst case — and the discarded
  // no-split rung must not let the jump certify 2S on an S-token
  // guarantee (the reported max repeat equals brute force exactly). ----

  private def bruteCrossLcp(docs: Seq[(Long, String)]): Long = {
    val sufs = for {
      (id, t) <- docs
      w = t.split(" ", -1).toSeq
      off <- w.indices
    } yield (id, w.drop(off))
    var best = 0L
    for (a <- sufs; b <- sufs if a._1 != b._1) {
      val l = a._2.zip(b._2).takeWhile { case (x, y) => x == y }.size.toLong
      if (l > best) best = l
    }
    best
  }

  test("q374 no-long-repeat corpus: the no-split exit fires early " +
      "(kept rungs stop at the repeat scale, far below log2 maxLen) " +
      "and the discarded round never inflates the reported maximum") {
    import spark.implicits._
    // 6 docs × 200 globally-unique tokens; ONE planted 5-token repeat
    // across docs 2 and 5 — the longest cross-doc span is exactly 5,
    // so groups stop splitting after the width-8 round
    val span = (0 until 5).map("r" + _)
    def doc(id: Long): (Long, String) = {
      val base = (0 until 200).map(i => s"u${id}_$i")
      val t = if (id == 2L) base.take(40) ++ span ++ base.drop(40)
        else if (id == 5L) base.take(90) ++ span ++ base.drop(90)
        else base
      id -> t.mkString(" ")
    }
    val docs = (1L to 6L).map(doc)
    val df = docs.toDF("doc_id", "text")
    val (_, tables) = TrainPrep.globalSaLadder(df)
    val widths = tables.map(_._1)
    // exit fired: the full ladder on 200-token docs is widths 1..256
    // (9 rungs); the repeat structure dies at width 8
    assert(widths == Seq(1L, 2L, 4L, 8L),
      s"expected the exit after width 8, kept rungs: $widths")
    // the discarded no-split rung must NOT certify 16 tokens on an
    // 8-token guarantee: the reported maximum is exactly brute force
    val rep = TrainPrep.crossDocRepeat(df).collect()(0)
    assert(rep.getLong(0) == 5L)
    assert(bruteCrossLcp(docs) == 5L)
  }

  test("globalSaLadder keeps pinned only the frames its result reads: " +
      "the token frame and the discarded no-split round are freed") {
    import spark.implicits._
    val sc = spark.sparkContext
    // docs 1 and 2 are identical, so the width-8 round splits no group
    // before the 5-token suffixes are fully ranked: it is discarded
    val df = Seq(1L -> "a b a b c", 2L -> "a b a b c", 3L -> "c a b")
      .toDF("doc_id", "text")
    val before = sc.getPersistentRDDs.keySet
    val (sa, tables) = TrainPrep.globalSaLadder(df)
    assert(tables.map(_._1) == Seq(1L, 2L, 4L))
    val live = (sa +: tables.map(_._2))
      .flatMap(graft.Materialize.pinnedRdds).map(_.id).toSet
    val leaked = sc.getPersistentRDDs.keySet -- before -- live
    assert(leaked.isEmpty, s"orphaned pinned RDDs: $leaked")
  }

  test("q374 equals brute force on seeded random corpora capped below " +
      "8-token repeats, and the exit always fires early") {
    import spark.implicits._
    for (seed <- Seq(11, 23)) {
      val rnd = new scala.util.Random(seed)
      val span = (0 until 4 + rnd.nextInt(3)).map(i => s"s${seed}_$i")
      val docs = (1L to 8L).map { id =>
        val base = (0 until 80 + rnd.nextInt(60))
          .map(i => s"v${seed}_${id}_$i")
        val at = rnd.nextInt(base.length)
        val t = if (id % 3 == 0) base.take(at) ++ span ++ base.drop(at)
          else base
        id -> t.mkString(" ")
      }
      val df = docs.toDF("doc_id", "text")
      val (_, tables) = TrainPrep.globalSaLadder(df)
      val maxLen = docs.map(_._2.split(" ", -1).length).max
      assert(tables.map(_._1).max < maxLen,
        s"seed $seed: exit never fired (rungs ${tables.map(_._1)})")
      val rep = TrainPrep.crossDocRepeat(df).collect()(0).getLong(0)
      assert(rep == bruteCrossLcp(docs), s"seed $seed")
    }
  }

  test("q380 composition conserves the rewrite's token mass: packed " +
      "n_toks equals the sum of q378's kept tokens") {
    import spark.implicits._
    val L = 50
    val span = (0 until 60).map("c" + _).mkString(" ")
    val docs = Seq(
      (1L, tokens(31, 25).mkString(" ") + " " + span),
      (2L, span + " " + tokens(32, 40).mkString(" ")),
      (3L, tokens(33, 70).mkString(" ")))
    val df = docs.toDF("doc_id", "text")
      .withColumn("source", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("src"),
        org.apache.spark.sql.functions.col("doc_id") % 2))
    val removed = TrainPrep.removeCrossDocSpans(df, L)
    val keptTotal = removed.collect().map(r => r.getLong(3)).sum
    val rewritten = removed.where(col("n_kept") > 0)
      .select(col("doc_id"), col("text_dedup").as("text"))
      .join(df.select("doc_id", "source"), "doc_id")
    val packed = TrainPrep.packSequences(rewritten)
    assert(packed.agg(org.apache.spark.sql.functions.sum("n_tok"))
      .collect()(0).getLong(0) == keptTotal)
  }

  test("q378 df-cap (r18): an over-cap mass-duplicated window takes the " +
      "hash-only fallback — the rewrite still equals the exact rule and " +
      "the cap report lists exactly that window, non-silently") {
    import spark.implicits._
    val L = 12
    // one exactly-L window planted in all 12 docs; surrounding bodies
    // are per-doc, so the span window is the only cross-doc duplicate
    val span = (0 until L).map("b" + _).mkString(" ")
    val docs = (1L to 12L).map { id =>
      val body = tokens(500 + id.toInt, 18)
      id -> (body.take(9) ++ Seq(span) ++ body.drop(9)).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    // cap 3 < 12 docs: the window is hot and keep-first is decided on
    // its HASH alone — with no collision (the only hot-path caveat)
    // that is the same decision, so the capped rewrite must equal the
    // sequential exact-text rule bit for bit: later copies are CUT,
    // never skipped, under the cap too
    val capped = TrainPrep.removeCrossDocSpans(df, L, dfCap = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toMap
    assert(capped == brute(docs, L))
    // the non-silent half: exactly one over-cap window reported, with
    // its full document frequency and occurrence count
    val rep = TrainPrep.spanRemovalCapReport(df, L, dfCap = 3).collect()
    assert(rep.length == 1)
    assert(rep(0).getLong(1) == 12L) // n_docs
    assert(rep(0).getLong(2) == 12L) // n_occurrences
    assert(rep(0).getLong(3) == 1L)  // sample_doc = min doc_id
    // under the family cap nothing here is hot: empty report, and the
    // text-verified path produces the identical rewrite
    assert(TrainPrep.spanRemovalCapReport(df, L).collect().isEmpty)
    assert(run(docs, L) == capped)
  }

  test("q378 df-cap (r18): hot and text-verified branches ACTIVE " +
      "TOGETHER — an over-cap window and a normal 2-doc dup in one " +
      "corpus both dedup, and only the over-cap one is reported") {
    import spark.implicits._
    val L = 10
    val hotSpan = (0 until L).map("hb" + _).mkString(" ")   // in all 8 docs
    val coldSpan = (0 until L).map("cb" + _).mkString(" ")  // in docs 1,2 only
    val docs = (1L to 8L).map { id =>
      val body = tokens(700 + id.toInt, 14)
      val mid = if (id <= 2) Seq(hotSpan, coldSpan) else Seq(hotSpan)
      id -> (body.take(7) ++ mid ++ body.drop(7)).mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val capped = TrainPrep.removeCrossDocSpans(df, L, dfCap = 3)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
      .toMap
    // both branches fire and the union is the exact rule's answer
    assert(capped == brute(docs, L))
    // docs 2..8 lost the hot span; doc 2 ALSO lost the cold span via
    // the text-verified branch — both in one pass
    assert(capped(2L)._2 >= 2L * L)
    assert((3L to 8L).forall(id => capped(id)._2 >= L))
    // only the over-cap window is in the curator report
    val rep = TrainPrep.spanRemovalCapReport(df, L, dfCap = 3).collect()
    assert(rep.length == 1 && rep(0).getLong(1) == 8L)
  }

  test("q378 single-pass tail (r18): a cut that STITCHES kept tokens " +
      "into a new cross-doc window leaves it (the published one-pass " +
      "contract) and q375-on-the-rewrite reports exactly that residue") {
    import spark.implicits._
    val L = 4
    // doc 2 = x1 x2 x3 [span] y1 y2 y3: cutting the span stitches
    // "x2 x3 y1 y2", which doc 3 already contains — but pre-rewrite no
    // doc-3 window has a partner (the span separates x3 from y1), so
    // one pass must leave both copies of the MINTED window
    val span = "s1 s2 s3 s4"
    val d1 = "u1 u2 " + span + " u3 u4"
    val d2 = "x1 x2 x3 " + span + " y1 y2 y3"
    val d3 = "m1 m2 x2 x3 y1 y2 m3 m4"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3))
    val out = run(docs, L)
    assert(out(1L)._4 == d1) // first occurrence kept byte-identical
    assert(out(2L)._4 == "x1 x2 x3 y1 y2 y3") // span cut, ends stitched
    assert(out(3L)._4 == d3) // untouched: its window had no partner
    assert(out == brute(docs, L)) // the sequential rule agrees pass-for-pass
    // q375 on the REWRITE: the minted window is exactly the residue —
    // one ≥L cross-doc span start each in docs 2 and 3 with LCP
    // exactly L, and doc 1 (all s/u tokens now unique corpus-wide)
    // reports none
    val rewritten = docs.map { case (id, _) => (id, out(id)._4) }
      .toDF("doc_id", "text")
    val residual = TrainPrep.crossDocCoverage(rewritten, L).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(residual(1L) == ((0L, 0L)))
    assert(residual(2L) == ((L.toLong, 1L)))
    assert(residual(3L) == ((L.toLong, 1L)))
  }

  test("q378 equals the sequential re-derivation on seeded random " +
      "corpora with planted cross-doc spans at several L") {
    for ((seed, l) <- Seq((101, 12), (202, 9), (303, 15))) {
      val rnd = new scala.util.Random(seed)
      val span1 = (0 until l + 5).map(i => s"p${seed}_$i").mkString(" ")
      val span2 = (0 until l).map(i => s"q${seed}_$i").mkString(" ")
      val docs = (1L to 12L).map { id =>
        val body = tokens(seed + id.toInt, 20 + rnd.nextInt(30))
        val planted =
          if (id % 3 == 0) Seq(span1)
          else if (id % 4 == 0) Seq(span2) else Nil
        val at = rnd.nextInt(body.length)
        id -> (body.take(at) ++ planted ++ body.drop(at)).mkString(" ")
      }
      assert(run(docs, l) == brute(docs, l), s"seed $seed L $l")
    }
  }
}
