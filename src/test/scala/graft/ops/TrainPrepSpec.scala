package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Value-level guarantees of the training-prep operators on corpora
  * engineered to hit the branches the synthetic tables may miss
  * (planted contamination, short docs, cross-doc AND within-doc block
  * repeats, shard boundaries). */
class TrainPrepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("contamination: planted eval overlap is counted, clean docs report 0") {
    // eval doc 0 shares its full 6-gram stream with train doc 10 (exact
    // copy) and exactly one 6-gram with train doc 11; doc 12 is clean.
    val docs = Seq(
      (0L, "a b c d e f g h"),             // eval (isEval: id < 10)
      (10L, "a b c d e f g h"),            // copy: grams {abcdef,bcdefg,cdefgh}
      (11L, "x y a b c d e f q r s t u"),  // one shared gram "a b c d e f"
      (12L, "p q r s t u v w")             // clean
    ).toDF("doc_id", "text")
    val got = TrainPrep.contaminationOf(docs, col("doc_id") < 10, n = 6)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((10L, 3L, true), (11L, 1L, true), (12L, 0L, false)))
  }

  test("contamination: sub-n-token docs fall back to whole-text grams") {
    val docs = Seq(
      (0L, "tiny doc"),       // eval, 2 tokens -> gram is the whole text
      (10L, "tiny doc"),      // exact short dup
      (11L, "tiny document")  // not the same text
    ).toDF("doc_id", "text")
    val got = TrainPrep.contaminationOf(docs, col("doc_id") < 10, n = 6)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == Set((10L, 1L, true), (11L, 0L, false)))
  }

  test("packing: per-shard offsets are contiguous and sequences respect the budget") {
    // shard A: 3 docs of 100 tokens; budget 256 puts doc boundaries at
    // 0, 100, 200 -> seqs 0,0,0 with offsets 0,100,200... third doc
    // begins at 200 (seq 0); shard B independently restarts at 0.
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    val docs = Seq(
      (1L, "A", words(100)), (2L, "A", words(100)), (3L, "A", words(100)),
      (4L, "B", words(300)), (5L, "B", words(10))
    ).toDF("doc_id", "source", "text")
    val got = TrainPrep.packSequences(docs, budget = 256)
      .select("doc_id", "begin_tok", "seq_id", "seq_off")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 0L, 0L), (2L, 100L, 0L, 100L), (3L, 200L, 0L, 200L),
      (4L, 0L, 0L, 0L), (5L, 300L, 1L, 44L)))
  }

  test("block dedup: first occurrence wins across docs, order-rebuilt, empty docs total") {
    def blk(c: String) = (1 to 10).map(_ => c).mkString(" ")
    val docs = Seq(
      (1L, s"${blk("a")} ${blk("b")}"),  // blocks a,b first seen here
      (2L, s"${blk("b")} ${blk("c")}"),  // b dropped, c kept
      (3L, s"${blk("a")} ${blk("b")}")   // fully dropped -> empty survivor
    ).toDF("doc_id", "text")
    val got = TrainPrep.blockDedup(docs)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, s"${blk("a")} ${blk("b")}", 2L, 2L),
      (2L, blk("c"), 1L, 2L),
      (3L, "", 0L, 2L)))
  }

  test("mixture weights: temperature flattens toward uniform, rare langs upsample") {
    // 90/10 split at alpha=0.7: w_rare/p_rare > 1 > w_common/p_common,
    // both share columns each sum to 1
    val docs = ((1 to 90).map(i => (i.toLong, "en")) ++
      (91 to 100).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val rows = TrainPrep.mixtureWeights(docs)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows("en")._2 == 90L && rows("fr")._2 == 10L)
    assert(math.abs(rows("en")._3 + rows("fr")._3 - 1.0) < 1e-5)
    assert(math.abs(rows("en")._4 + rows("fr")._4 - 1.0) < 1e-5)
    assert(rows("fr")._5 > 1.0 && rows("en")._5 < 1.0, "temperature must favor the rare lang")
    assert(rows("fr")._4 < rows("fr")._3 * 5, "alpha=0.7 is a partial flattening, not uniform")
  }

  test("sampled counts compose the mixture weights deterministically per (source, lang)") {
    // 90 en / 10 fr split across 2 sources: n_sampled must equal
    // floor(group count x the lang's upsample), rare lang net-upsampled
    val docs = ((1 to 90).map(i => (i.toLong, "en", if (i <= 60) "web" else "book")) ++
      (91 to 100).map(i => (i.toLong, "fr", "web")))
      .toDF("doc_id", "lang", "source")
    val w = TrainPrep.mixtureWeights(docs)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    val got = TrainPrep.sampledCounts(docs)
      .as[(String, String, Long, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == Set(("web", "en"), ("book", "en"), ("web", "fr")))
    got.foreach { case ((_, lang), (n, up, sampled)) =>
      assert(up == w(lang), "per-group factor must equal the q78 weight")
      assert(sampled == math.floor(n * up).toLong)
    }
    assert(got(("web", "fr"))._3 > 10L, "rare lang must be net-upsampled")
  }

  test("resample: copy counts match an independent md5-draw reference; E[copies]=upsample") {
    val docs = ((1 to 90).map(i => (i.toLong, "en")) ++
      (91 to 100).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val w = TrainPrep.mixtureWeights(docs)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    // independent reimplementation of the draw (JDK MessageDigest, not
    // Spark's md5): first 8 hex chars of md5(doc_id.toString) / 2^32
    def draw(id: Long): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16) / 4294967296.0
    }
    val naive = (1L to 100L).flatMap { id =>
      val up = w(if (id <= 90) "en" else "fr")
      val n = math.floor(up).toLong + (if (draw(id) < up - math.floor(up)) 1L else 0L)
      (0L until n).map(c => (id, if (id <= 90) "en" else "fr", c))
    }.toSet
    val got = TrainPrep.resample(docs)
      .as[(Long, String, Long)].collect().toSet
    assert(got == naive)
    // the sampler must actually move mass toward the rare lang
    val perLang = got.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    assert(perLang("fr") > 10, "rare lang upsampled")
    assert(perLang("en") < 90, "common lang downsampled")
  }

  // independent CDC reference: JDK md5, same boundary rule
  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  private def cdcChunks(text: String, n: Int = 4, m: Int = 8): Seq[String] = {
    val w = text.split(" ")
    val ends = (0 to w.length - n)
      .filter(i => java.lang.Long.parseLong(
        md5hex(w.slice(i, i + n).mkString(" ")).take(8), 16) % m == 0)
      .map(_ + n - 1)
    val starts = 0 +: ends.map(_ + 1)
    val stops = ends :+ (w.length - 1)
    starts.zip(stops).collect {
      case (s, e) if e >= s => w.slice(s, e + 1).mkString(" ")
    }
  }
  private def naiveCdcDedup(corpus: Seq[(Long, String)]): Set[(Long, String, Long, Long)] = {
    val all = corpus.flatMap { case (id, text) =>
      cdcChunks(text).zipWithIndex.map { case (c, pos) => (id, pos.toLong, c) }
    }
    val firstOf = all.groupBy(_._3).map { case (c, occ) =>
      c -> occ.map(o => (o._1, o._2)).min }
    corpus.map { case (id, _) =>
      val mine = all.filter(_._1 == id)
      val kept = mine.filter(o => firstOf(o._3) == ((o._1, o._2)))
      (id, kept.sortBy(_._2).map(_._3).mkString(" "),
        kept.size.toLong, mine.size.toLong)
    }.toSet
  }

  test("CDC dedup: boundaries are offset-invariant — a shifted duplicated run still dedups") {
    // doc 2 repeats doc 1's 48-token run behind a 3-token prefix: the
    // fixed 10-token grid of q77 would never align, but CDC boundaries
    // re-derive from content, so every interior chunk of the run
    // reappears verbatim and dies to first-occurrence
    val rnd = new scala.util.Random(5)
    val run = Seq.fill(48)(s"w${rnd.nextInt(1000)}").mkString(" ")
    assert(cdcChunks(run).length > 2, "fixture must contain interior cuts")
    val docs = Seq((1L, run), (2L, s"pre1 pre2 pre3 $run"))
    val got = TrainPrep.cdcChunkDedup(docs.toDF("doc_id", "text"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == naiveCdcDedup(docs))
    val doc2 = got.find(_._1 == 2L).get
    assert(doc2._3 < doc2._4, "shifted copy must lose chunks to doc 1")
    assert(doc2._2.length < docs(1)._2.length, "rebuilt doc 2 must shrink")
  }

  test("CDC dedup matches the naive reference on random corpora (short docs, repeats)") {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    for (_ <- 1 to 3) {
      val corpus = (1L to 25L).map { id =>
        // includes sub-window docs (len < 4) hitting the no-cut branch
        (id, Seq.fill(1 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val got = TrainPrep.cdcChunkDedup(corpus.toDF("doc_id", "text"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == naiveCdcDedup(corpus))
    }
  }

  test("resample at alpha=1 is the identity sample: exactly one copy of every doc") {
    // alpha=1 leaves the natural distribution untouched: upsample == 1
    // for every lang, the fractional draw is never taken, and the
    // output is the corpus itself with copy 0
    val docs = ((1 to 90).map(i => (i.toLong, "en")) ++
      (91 to 100).map(i => (i.toLong, "fr"))).toDF("doc_id", "lang")
    val got = TrainPrep.resample(docs, alpha = 1.0)
      .as[(Long, String, Long)].collect()
    assert(got.length == 100 && got.forall(_._3 == 0L))
    assert(got.map(_._1).toSet == (1L to 100L).toSet)
  }

  test("block dedup matches a naive in-memory reference on random corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (_ <- 1 to 3) {
      val corpus = (1L to 20L).map { id =>
        // tiny vocab + short docs => plenty of genuine block collisions
        (id, Seq.fill(1 + rnd.nextInt(35))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val naive = {
        val blocks = corpus.flatMap { case (id, text) =>
          text.split(" ").grouped(10).zipWithIndex
            .map { case (b, pos) => (id, pos, b.mkString(" ")) }
        }
        val firstOf = blocks.groupBy(_._3).map { case (b, occ) =>
          b -> occ.map(o => (o._1, o._2)).min }
        corpus.map { case (id, text) =>
          val mine = blocks.filter(_._1 == id)
          val kept = mine.filter(o => firstOf(o._3) == ((o._1, o._2)))
          (id, kept.sortBy(_._2).map(_._3).mkString(" "),
            kept.size.toLong, mine.size.toLong)
        }.toSet
      }
      val got = TrainPrep.blockDedup(corpus.toDF("doc_id", "text"))
        .as[(Long, String, Long, Long)].collect().toSet
      assert(got == naive)
    }
  }

  test("contamination matches a naive in-memory reference on random corpora") {
    val rnd = new scala.util.Random(11)
    val vocab = Vector("x", "y", "z")
    val corpus = (1L to 30L).map { id =>
      (id, Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def grams(text: String, n: Int): Set[String] = {
      val w = text.split(" ")
      if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toSet else Set(text)
    }
    val evalGrams = corpus.filter(_._1 <= 5).flatMap(c => grams(c._2, 3)).toSet
    val naive = corpus.filter(_._1 > 5).map { case (id, text) =>
      val hits = grams(text, 3).count(evalGrams)
      (id, hits.toLong, hits > 0)
    }.toSet
    val got = TrainPrep.contaminationOf(corpus.toDF("doc_id", "text"),
        col("doc_id") <= 5, n = 3)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(got == naive)
  }

  test("packing: two-phase prefix sum matches a naive reference across many input partitions") {
    // 2 interleaved sources spread over 16 input partitions: the shape
    // the two-phase rewrite exists for. Compared against an in-memory
    // running sum in (source, doc_id) order.
    val rnd = new scala.util.Random(13)
    val corpus = (1L to 400L).map { id =>
      (id, if (id % 2 == 0) "A" else "B",
        (1 to (1 + rnd.nextInt(9))).map(_ => "w").mkString(" "))
    }
    val docs = corpus.toDF("doc_id", "source", "text").repartition(16)
    val naive = corpus.groupBy(_._2).iterator.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._1)
      val toks = sorted.map(_._3.split(" ").length.toLong)
      sorted.zip(toks.scanLeft(0L)(_ + _)).map { case ((id, src, _), begin) =>
        (id, src, toks(sorted.indexWhere(_._1 == id)), begin,
          begin / 32, begin % 32)
      }
    }.toSet
    val got = TrainPrep.packSequences(docs, budget = 32)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    assert(got == naive)
    // plan contract on the SAME fixture: the running sum never keys an
    // exchange by source alone (one task per shard), and the window is
    // the bounded (pid, source) one
    val p = TrainPrep.packSequences(docs, budget = 32)
      .queryExecution.executedPlan.toString
    assert("hashpartitioning\\(source#\\d+, \\d+\\)".r.findFirstIn(p).isEmpty,
      s"no exchange may hash-partition solely by source:\n$p")
    assert(p.contains("windowspecdefinition(pid"), s"expected (pid, source) window:\n$p")
  }

  test("packing under the reliable-checkpoint strategy equals the default") {
    // pinning is CORRECTNESS-critical here (both phases must see the
    // same sampled range boundaries) — prove the durable strategy
    // preserves that contract, not just the local default
    val docs = (1L to 200L).map { id =>
      (id, if (id % 3 == 0) "A" else "B", (1 to (1 + (id % 7)).toInt).map(_ => "w").mkString(" "))
    }.toDF("doc_id", "source", "text").repartition(8)
    def packed() = TrainPrep.packSequences(docs, budget = 32)
      .as[(Long, String, Long, Long, Long, Long)].collect().toSet
    val default = packed()
    val durable = TestSpark.withCheckpointDir { dir =>
      val p = packed()
      assert(dir.listFiles.nonEmpty,
        "durable pins must actually write checkpoint data")
      p
    }
    assert(durable == default)
  }

  test("pack spans tile every sequence exactly: contiguous, gap-free, budget-bounded") {
    def words(n: Int) = (1 to n).map(_ => "w").mkString(" ")
    // doc of 70 tokens crosses two 32-token boundaries; shard B tiny
    val docs = Seq(
      (1L, "A", words(20)), (2L, "A", words(70)), (3L, "A", words(5)),
      (4L, "B", words(3))
    ).toDF("doc_id", "source", "text")
    val got = TrainPrep.packSpans(docs, budget = 32)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.forall { case (_, _, start, _, len) =>
      len > 0 && start >= 0 && start + len <= 32 })
    // spans within each (source, seq) are contiguous from 0 (except the
    // shard's final partial sequence, which still starts at 0)
    got.groupBy(t => (t._1, t._2)).foreach { case (_, spans) =>
      val sorted = spans.sortBy(_._3)
      assert(sorted.head._3 == 0, "first span starts the sequence")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 + a._5 == b._3, "no gaps between spans")
        case _ =>
      }
    }
    // total span mass equals total tokens
    assert(got.map(_._5).sum == 20 + 70 + 5 + 3)
    // doc 2 (70 tokens from offset 20 in shard A) crosses into 3 sequences
    assert(got.count(_._4 == 2L) == 3)
  }

  test("packing: gate corpus doc_id is unique, so per-shard prefix order is total") {
    // the q76 oracle's SUM() OVER (ORDER BY doc_id) is deterministic
    // only because doc_id never ties within a shard — pin that property
    // of the gate corpus so a testdata regeneration can't silently make
    // the gate order-dependent
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
    assert(docs.count() == docs.select("doc_id").distinct().count(),
      "documents.doc_id must be unique for the packing gate to be deterministic")
  }

  test("exportShards: every shard bounded, nothing lost, manifest counts exact") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
      .select("doc_id", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("graft-shards").toString
    try {
      val manifest = TrainPrep.exportShards(docs, dir, "doc_id", maxRecordsPerFile = 7)
        .as[(String, Long)].collect()
      assert(manifest.nonEmpty && manifest.forall(_._2 <= 7), "file bound must hold")
      assert(manifest.map(_._2).sum == docs.count(), "manifest must account for every row")
      val back = spark.read.parquet(dir)
      assert(back.as[(Long, String, String)].collect().toSet ==
        docs.as[(Long, String, String)].collect().toSet, "read-back equals input")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("block dedup: within-doc repeats keep only the earliest position, tail block short") {
    def blk(c: String) = (1 to 10).map(_ => c).mkString(" ")
    val docs = Seq((1L, s"${blk("a")} ${blk("a")} tail words")).toDF("doc_id", "text")
    val got = TrainPrep.blockDedup(docs)
      .as[(Long, String, Long, Long)].collect().toSet
    // 22 tokens -> 3 blocks; the second "a" block dies, short tail survives
    assert(got == Set((1L, s"${blk("a")} tail words", 2L, 3L)))
  }

  test("weighted sample matches a driver-side A-ES replay and biases toward weight") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
    val k = 50
    val got = TrainPrep.weightedSample(docs, col("n_chars"), k)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.length == k && got.map(_._1).distinct.length == k, "k distinct docs")

    // independent reference: same md5-slice uniform + key, top-k in Scala
    val corpus = docs.select("doc_id", "n_chars")
      .as[(Long, Long)].collect()
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, w: Long): Double = {
      val hex = md.digest(s"aes:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4294967296.0
      math.rint(math.log(u) / math.max(w, 1L) * 1e6) / 1e6
    }
    val want = corpus.map { case (id, w) => (id, math.max(w, 1L), key(id, w)) }
      .sortBy { case (id, _, kk) => (-kk, id) }.take(k)
    assert(got.toSeq == want.toSeq, "engine sample must equal the A-ES replay")

    // weight bias: P(include) grows with w, so the sampled mean weight
    // must exceed the corpus mean by a clear margin
    val sampledMean = got.map(_._2).sum.toDouble / k
    val corpusMean = corpus.map { case (_, w) => math.max(w, 1L) }.sum.toDouble / corpus.length
    info(f"mean weight: sampled $sampledMean%.1f vs corpus $corpusMean%.1f")
    assert(sampledMean > corpusMean * 1.05)
  }

  test("packing report: tokens conserved per shard, only the final sequence partial") {
    import org.apache.spark.sql.functions.{col, size, split, sum}
    val docs = graft.Tables.documents(spark, graft.TestSpark.sf0001)
    val budget = 256L
    val rep = TrainPrep.packingReport(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val wantTok = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.map(_._1).toSet == wantTok.keySet)
    rep.foreach { case (src, nSeqs, nTok, fill) =>
      assert(nTok == wantTok(src), s"$src: every token accounted")
      // concat-then-chunk: all sequences full except possibly the last
      assert(nTok > (nSeqs - 1) * budget && nTok <= nSeqs * budget)
      assert(fill > 0.0 && fill <= 1.0)
      assert(math.abs(fill - nTok.toDouble / (nSeqs * budget)) < 1e-6 + 1e-9)
    }
  }

  test("weighted sample plans as TakeOrderedAndProject, not a global sort") {
    import org.apache.spark.sql.functions.col
    val p = TrainPrep.weightedSample(
        graft.Tables.documents(spark, graft.TestSpark.sf0001), col("n_chars"), 100)
      .queryExecution.sparkPlan.toString
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q121 selects the exact greedy prefix of the density order") {
    val q = graft.SparkEntry.queries("q121_budget_select")
    val sel = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(sel.nonEmpty)
    assert(sel.map(_._4).max <= 20000L)
    // reproduce the greedy prefix naively
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS LONG) AS n_tok",
        "CAST(size(array_distinct(split(text, ' '))) AS DOUBLE) / size(split(text, ' ')) AS density")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy { case (id, _, dn) => (-dn, id) }
    val cums = docs.scanLeft(0L)(_ + _._2).tail
    val want = docs.zip(cums).takeWhile(_._2 <= 20000L)
      .map { case ((id, n, _), c) => (id, n, c) }.toSet
    assert(sel.map(t => (t._1, t._2, t._4)).toSet == want)
    // two-phase cum is layout-invariant
    assert(q(spark, TestSpark.sf0001).collect().length == sel.length)
  }
}
