package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Count-min guarantees the gate's 20-row sample can't pin down:
  * one-sided error over the WHOLE vocabulary and the sketch's fixed
  * size, on corpora with enough tokens to force bucket collisions. */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = {
    val rnd = new scala.util.Random(42)
    // 3000 distinct-ish tokens over width 1024 => guaranteed collisions
    (1L to 200L).map { id =>
      (id, Seq.fill(40)(s"tok${rnd.nextInt(3000)}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("estimates are one-sided: est >= exact for EVERY token, most are exact") {
    val tc = Sketch.tokenCounts(docs).localCheckpoint()
    val est = Sketch.estimate(Sketch.countMinCells(tc), tc.select("tok"))
    val joined = tc.join(est, "tok").as[(String, Long, Long)].collect()
    assert(joined.nonEmpty)
    assert(joined.forall { case (_, n, e) => e >= n },
      "count-min must never undercount")
    // at ~2.7 tokens/bucket, P(some row collision-free) = 1-(1-e^-2.7)^4
    // ≈ 0.235 — measured 24%. Assert above 15% so the hash family is
    // actually spreading (a degenerate family would give ~0% exact).
    val exact = joined.count { case (_, n, e) => e == n }
    assert(exact > joined.length * 0.15,
      s"exact-estimate rate below collision model (got $exact/${joined.length})")
    // classic bound: overcount <= (e/w)·N at prob 1-e^-d; allow 4x slack
    val totalN = joined.map(_._2).sum
    val bound = math.E / Sketch.width * totalN * 4
    assert(joined.forall { case (_, n, e) => e - n <= bound },
      s"overcount must respect the e/w·N bound (bound=$bound)")
  }

  test("hostile width 16: one-sided bound holds where collisions are forced, overcounts strict") {
    // ~3000 tokens over 16 buckets => every bucket shared by ~190
    // tokens in all 4 rows — the regime where the one-sided bound does
    // real work (at w=1024 most estimates are simply exact)
    val w = 16
    val tc = Sketch.tokenCounts(docs).localCheckpoint()
    val est = Sketch.estimate(Sketch.countMinCells(tc, w), tc.select("tok"), w)
    val joined = tc.join(est, "tok").as[(String, Long, Long)].collect()
    assert(joined.nonEmpty)
    assert(joined.forall { case (_, n, e) => e >= n },
      "count-min must never undercount, even at hostile width")
    assert(joined.exists { case (_, n, e) => e > n },
      "at w=16 collisions are certain; some estimate must strictly overcount")
    // mass conservation survives the shrink: every row still sums to N
    val mass = Sketch.countMinCells(tc, w).groupBy("row").sum("cell")
      .as[(Int, Long)].collect().toMap
    val n = docs.select(org.apache.spark.sql.functions.expr(
      "sum(size(split(text, ' ')))")).as[Long].head()
    assert(mass.size == Sketch.depth && mass.values.forall(_ == n))
  }

  test("heavy hitters equal the naive threshold set; estimates stay one-sided") {
    // skewed corpus: "whale" dominates, the long tail stays under 2%
    val rnd = new scala.util.Random(3)
    val skewed = (1L to 100L).map { id =>
      (id, Seq.fill(30)(
        if (rnd.nextInt(10) < 3) "whale" else s"tok${rnd.nextInt(500)}"
      ).mkString(" "))
    }.toDF("doc_id", "text")
    val counts = skewed.select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
      .groupBy("tok").count().as[(String, Long)].collect().toMap
    val total = counts.values.sum
    val expect = counts.filter { case (_, n) => n >= total * 0.02 }
    val got = Sketch.heavyHitters(skewed)
      .as[(String, Long, Long)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == expect, "exact heavy-hitter set")
    assert(got.forall { case (_, n, e) => e >= n }, "one-sided estimates")
    assert(expect.contains("whale"))
  }

  test("cells built BY the streaming engine (file-source replay) equal batch cells") {
    // the sketch build is a pure aggregation, so it must be the same
    // computation under Structured Streaming — micro-batched arrival
    // through the file source, complete-mode aggregation, no special
    // streaming path in the operator itself
    import org.apache.spark.sql.functions.{col, explode, split}
    val streamed = graft.stream.StreamOps.replay(spark, docs,
        df => Sketch.countMinCellsOf(
          df.select(explode(split(col("text"), " ")).as("tok"))),
        chunks = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Sketch.countMinCellsOf(
        docs.select(explode(split(col("text"), " ")).as("tok")))
      .as[(Int, Long, Long)].collect().toSet
    assert(streamed == batch)
  }

  test("raw-stream cells equal count-table cells") {
    val toks = docs.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
    val a = Sketch.countMinCellsOf(toks)
      .as[(Int, Long, Long)].collect().toSet
    val b = Sketch.countMinCells(Sketch.tokenCounts(docs))
      .as[(Int, Long, Long)].collect().toSet
    assert(a == b, "both builds must produce identical sketches")
  }

  test("the cells table is d x w bounded regardless of corpus size") {
    val cells = Sketch.countMinCells(Sketch.tokenCounts(docs))
    assert(cells.count() <= Sketch.depth.toLong * Sketch.width)
    // and total mass is preserved per row: each row sums to the token count
    val mass = cells.groupBy("row").sum("cell").as[(Int, Long)].collect().toMap
    val n = docs.select(org.apache.spark.sql.functions.expr(
      "sum(size(split(text, ' ')))")).as[Long].head()
    assert(mass.values.forall(_ == n), s"every row must conserve total mass $n")
  }

  // ── HyperLogLog ────────────────────────────────────────────────────

  private lazy val hllItems = // 2000 distinct items, each seen 3x
    (1 to 3).flatMap(_ => 1 to 2000).map(i => ("k", s"item$i"))
      .toDF("key", "item")

  test("hll estimate lands within the 1.04/sqrt(m) error envelope") {
    val est = Sketch.hllEstimate(Sketch.hllRegisters(hllItems))
      .as[(String, Double)].head()._2
    // m = 64 => stderr 13%; assert 3 sigma
    assert(math.abs(est - 2000) / 2000.0 < 0.39,
      s"estimate $est too far from true 2000 at m=${Sketch.hllM}")
    // repetitions must not move the registers: distinct-only input
    val estOnce = Sketch.hllEstimate(Sketch.hllRegisters(
        hllItems.dropDuplicates("item")))
      .as[(String, Double)].head()._2
    assert(est == estOnce, "HLL must be insensitive to duplicates")
  }

  test("hll registers max-merge: sharded partials equal the full-stream sketch") {
    // split the stream arbitrarily, build registers per shard, max-merge
    val withShard = hllItems.withColumn("shard",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.crc32($"item"),
        org.apache.spark.sql.functions.lit(7)))
    val partials = Sketch.hllRegisters(
      withShard.select(
        org.apache.spark.sql.functions.concat($"key",
          org.apache.spark.sql.functions.lit("#"), $"shard").as("key"),
        $"item"))
    val merged = partials
      .select(org.apache.spark.sql.functions.lit("k").as("key"), $"j", $"mj")
      .groupBy("key", "j")
      .agg(org.apache.spark.sql.functions.max($"mj").as("mj"))
      .as[(String, Long, Int)].collect().toSet
    val full = Sketch.hllRegisters(hllItems)
      .as[(String, Long, Int)].collect().toSet
    assert(merged == full, "max-merged shard registers must equal full registers")
  }

  test("hll small-range regime uses linear counting") {
    // 5 distinct items: most registers empty => correction branch
    val tiny = (1 to 5).map(i => ("k", s"only$i")).toDF("key", "item")
    val est = Sketch.hllEstimate(Sketch.hllRegisters(tiny))
      .as[(String, Double)].head()._2
    // linear counting at v >= 59 of 64 empty registers is near-exact
    assert(math.abs(est - 5) < 1.5, s"linear-counting estimate $est for true 5")
  }
}
