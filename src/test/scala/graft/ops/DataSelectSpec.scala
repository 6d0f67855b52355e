package graft.ops

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Data-selection family semantics beyond the value-level oracle:
  * BPE's greedy leftmost-non-overlapping merge (the run-parity window
  * arithmetic), merged symbols feeding later rounds, SemDeDup's
  * keeper attribution, and DSIR's target-lift property. */
class DataSelectSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("BPE merge is greedy leftmost non-overlapping through a chain") {
    import spark.implicits._
    // "a a a a a": four (a,a) pairs, one run — merges at offsets 0 and 2
    // only, never the overlapping middle pair: aa aa a = 3 tokens.
    val docs = Seq((1L, "a a a a a")).toDF("doc_id", "text")
    val r = DataSelect.bpeTrain(docs, rounds = 1).collect()
    assert(r.length == 1)
    assert((r(0).getString(1), r(0).getString(2)) == ("a", "a"))
    assert(r(0).getLong(3) == 4, "pair count sees all four adjacencies")
    assert(r(0).getLong(4) == 3, "chain of 5 collapses to aa aa a")
  }

  test("BPE merged symbol participates in the next round's statistics") {
    import spark.implicits._
    // round 1 merges (x,y) (count tie with (y,z), t1-asc tiebreak);
    // round 2 must then merge the LEARNED symbol: (xy,z).
    val docs = Seq((1L, "x y z x y z")).toDF("doc_id", "text")
    val r = DataSelect.bpeTrain(docs, rounds = 2).collect()
      .sortBy(_.getInt(0))
    assert((r(0).getString(1), r(0).getString(2)) == ("x", "y"))
    assert((r(1).getString(1), r(1).getString(2)) == ("xy", "z"))
    assert(r(1).getLong(4) == 2, "corpus ends as two xyz super-tokens")
  }

  test("semdedup drops exactly the injected re-crawl slices with their originals as keepers") {
    val rows = SparkEntry.queries("q328_semdedup")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, keeper) = (r.getLong(0), r.getLong(1))
      assert(id >= 200000L, s"natural corpus pair above tau: $id")
      val orig = if (id >= 300000L) id - 300000L else id - 200000L
      assert(keeper == orig, s"dropped $id must keep its original $orig")
    }
    // both slices present: exact dups (cos 1.0) and perturbed (cos < 1)
    assert(rows.exists(_.getLong(0) >= 300000L), "perturbed slice caught")
    assert(rows.exists(r => r.getLong(0) >= 200000L && r.getLong(0) < 300000L))
    assert(rows.filter(_.getLong(0) < 300000L).forall(_.getDouble(3) == 1.0))
    assert(rows.filter(_.getLong(0) >= 300000L).forall(_.getDouble(3) < 1.0))
  }

  test("semdedup collapses a mass-duplicate vector group before the pair join") {
    import spark.implicits._
    // 2000 byte-identical vectors + 1 distinct: the exact-collapse
    // phase must shrink the pair join to TWO representative rows (the
    // old all-pairs formulation would build 2M within-cell pairs), and
    // the expansion must still attribute every copy to the lowest id.
    val dim = AnnCentroids.fitted.head.length
    val hot = Array.fill(dim)(0.1)
    val cold = Array.tabulate(dim)(i => if (i % 2 == 0) 0.1 else -0.1)
    val emb = ((0L until 2000L).map(i => (i, hot)) :+ (5000L, cold))
      .toDF("vec_id", "v")
    val out = DataSelect.semDedup(emb, AnnCentroids.fitted, tau = 0.95).collect()
    assert(out.length == 1999, "every copy but the representative drops")
    assert(out.forall(_.getLong(1) == 0L), "keeper is the lowest id")
    assert(out.forall(_.getDouble(3) == 1.0))
    assert(!out.exists(_.getLong(0) == 5000L), "the distinct vector survives")
  }

  test("streamed dsir scoring equals the batch weights bit-for-bit") {
    // the DECIMAL fold (stream) and the DECIMAL shuffle-sum (batch)
    // must agree exactly — the summation-order-independence claim
    val docs = graft.Tables.documents(spark, sf)
    val batch = DataSelect.dsirWeights(docs, col("lang") === "en", 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val streamed = SparkEntry.queries("q331_stream_dsir")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed == batch)
  }

  test("shuffle shards partition the corpus into full fixed-size slices") {
    val nDocs = graft.Tables.documents(spark, sf).count()
    val out = SparkEntry.queries("q332_shuffle_shards")(spark, sf).collect()
      .sortBy(_.getLong(0))
    assert(out.map(_.getLong(1)).sum == nDocs, "every doc lands exactly once")
    assert(out.init.forall(_.getLong(1) == 100), "all but the tail shard are full")
    assert(out.map(_.getLong(0)).toSeq == (0L until out.length).toSeq)
  }

  test("bpe compression only ever shrinks the token stream") {
    val out = SparkEntry.queries("q333_bpe_compression")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "merges cannot add tokens")
      assert(r.getLong(3) > 0 && r.getLong(3) <= 10000)
    }
    assert(out.exists(r => r.getLong(2) < r.getLong(1)),
      "three merges must fire somewhere in the corpus")
  }

  test("dsir weights lift the target language above the rest") {
    val docs = graft.Tables.documents(spark, TestSpark.sf001)
    val w = DataSelect.dsirWeights(docs, col("lang") === "en", 128)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("w").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(w(true) > w(false) + 0.5,
      s"mean importance weight of target docs must dominate: $w")
  }

  test("classifier score replays exactly from a driver-side walk of the same arithmetic") {
    // the q334 contract, independent of the SQL oracle: per-doc score =
    // round(mean of w(bucket(token)), 6), with w an exact multiple of
    // 2^-10 — a from-scratch driver replay over the raw text must
    // reproduce every per-source aggregate the distributed plan emits
    val docs = graft.Tables.documents(spark, sf)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    def bucket(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(("q334|" + t).getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) % 1024
    }
    val bySource = docs.groupBy(_._1).map { case (src, ds) =>
      val scores = ds.map { case (_, text) =>
        val toks = text.split(" ", -1)
        val raw = toks.map(t => ((bucket(t) * 2654435761L) % 2048 - 1024) / 1024.0).sum
        BigDecimal(raw / toks.length).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      src -> ((ds.length.toLong, scores.count(_ > 0).toLong,
        (scores.sum.toDouble / ds.length)))
    }
    val got = SparkEntry.queries("q334_quality_classifier")(spark, sf).collect()
    assert(got.length == bySource.size)
    got.foreach { r =>
      val (n, keep, avg) = bySource(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == keep, s"counts for ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - avg) < 1e-6, s"avg for ${r.getString(0)}")
    }
  }

  test("kappa is bounded and consistent with its agreement counts") {
    val rows = SparkEntry.queries("q339_filter_agreement")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, agree, kappa) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(agree <= n)
      assert(kappa >= -1.0 - 1e-9 && kappa <= 1.0 + 1e-9, s"kappa out of range: $kappa")
      // perfect agreement with non-degenerate marginals ⇒ kappa = 1
      if (agree == n) assert(kappa == 1.0)
    }
  }

  test("calibration table: buckets partition the corpus and ECE folds the bucket gaps") {
    val rows = SparkEntry.queries("q342_score_calibration")(spark, sf).collect()
    val (total, buckets) = rows.partition(_.getLong(0) == -1L)
    assert(total.length == 1)
    assert(buckets.map(_.getLong(1)).sum == total.head.getLong(1),
      "bucket counts must partition the corpus")
    // recompute ECE from the emitted bucket rows — the summary row must
    // be a pure fold of the table it ships with
    val n = total.head.getLong(1).toDouble
    val ece = buckets.map { r =>
      math.abs(BigDecimal(r.getDouble(3) - r.getDouble(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) * r.getLong(1)
    }.sum / n
    assert(math.abs(BigDecimal(ece).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble - total.head.getDouble(3)) < 1e-6)
  }

  test("sourceCover: reliable checkpoint is a drop-in swap and the trace ends early when coverage dries up") {
    import spark.implicits._
    // s1 covers 3 bigrams, s2 adds 1 (e f), s3 adds 1 (g h) — tie
    // with s2 broken source-asc; k=5 but round 4 finds nothing left,
    // so the trace must stop at 3 picks with local and durable pins.
    val pairs = Seq(
      ("s1", "a b"), ("s1", "b c"), ("s1", "c d"),
      ("s2", "a b"), ("s2", "e f"),
      ("s3", "g h")).toDF("source", "g")
    def trace() = DataSelect.sourceCover(spark, pairs, 5)
      .collect().map(_.toSeq).toSeq
    val local = trace()
    val durable = TestSpark.withCheckpointDir { dir =>
      val t = trace()
      assert(dir.listFiles.nonEmpty,
        "durable pins must actually write checkpoint data")
      t
    }
    assert(durable == local, "durable pins must not change the trace")
    assert(local == Seq(
      Seq(1L, "s1", 3L, 3L), Seq(2L, "s2", 1L, 4L), Seq(3L, "s3", 1L, 5L)))
  }

  test("sourceAblation: singular ablations emit NULLs, never NaN/Inf") {
    import spark.implicits._
    // single source: its ablation leaves n=0 (det=0) — coefficients,
    // rmse and rmse_shift must all be NULL; the _all fit stays real.
    val f = Seq(
      ("only", 2L, 2L, 10L), ("only", 3L, 3L, 15L), ("only", 4L, 3L, 22L),
      ("only", 5L, 4L, 30L), ("only", 6L, 5L, 31L))
      .toDF("source", "x1", "x2", "y")
    val rows = DataSelect.sourceAblation(f).collect()
    assert(rows.length == 2)
    val byWho = rows.map(r => r.getString(0) -> r).toMap
    val abl = byWho("only")
    assert((2 to 6).forall(abl.isNullAt), "singular ablation must be all-NULL")
    val all = byWho("_all")
    assert((2 to 6).forall(i => !all.isNullAt(i)), "_all fit must be real")
    assert(!all.getDouble(5).isNaN && !all.getDouble(5).isInfinite)
  }

  test("dbscan rejects minPts < 2 (cores derive from the pairs table)") {
    import spark.implicits._
    val pts = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0)).toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      Components.dbscan(pts, 1.0, 1.0, minPts = 1)
    }
    assert(e.getMessage.contains("minPts >= 2"))
  }
}
