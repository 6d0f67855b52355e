package graft.ops

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Dedup-family quality guarantees beyond the value-level oracle: the
  * corpus plants near-dups at jaccard ≈ 0.99; banding theory puts a
  * (1−(1−j²)²) ≈ 0.998 collision floor on them, and SimHash must place
  * them within a small Hamming ball. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  private lazy val nearDups = SparkEntry.queries("q27_ngram_jaccard")(spark, sf)
    .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))

  test("corpus contains planted near-dups and q27 finds them") {
    assert(nearDups.nonEmpty, "expected near-dup pairs in the corpus")
    assert(nearDups.exists(_._2 >= 0.9), "expected high-jaccard planted dups")
  }

  test("LSH candidates recall >= 80% of jaccard >= 0.9 pairs") {
    val high = nearDups.filter(_._2 >= 0.9).map(_._1).toSet
    val candidates = SparkEntry.queries("q26_lsh_candidates")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (high intersect candidates).size.toDouble / high.size
    info(f"LSH recall on j>=0.9 pairs: $recall%.2f (${high.size} pairs)")
    assert(recall >= 0.8, s"banding should catch near-identical docs, got $recall")
  }

  test("exact dedup keeps the minimum doc_id per fingerprint") {
    val rows = SparkEntry.queries("q24_dedup_exact")(spark, sf).collect()
    assert(rows.map(_.getLong(2)).sum == 500, "copies must account for all docs")
    assert(rows.forall(_.getLong(2) >= 1))
  }

  test("sourceOverlap attributes every verified pair to one normalized source pair") {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
    val overlap = Dedup.sourceOverlap(docs)
      .as[(String, String, Long)].collect()
    val nPairs = Dedup.dedupPipeline(docs).count()
    assert(overlap.map(_._3).sum == nPairs, "matrix must conserve the pair count")
    assert(overlap.forall { case (a, b, _) => a <= b }, "unordered pairs normalized")
  }

  test("simhash near-dup retrieval survives a mass-duplicate skewed block") {
    // 5k identical docs ⇒ one simhash ⇒ ONE 16-bit block holding the whole
    // corpus: the skew case that OOMed the old collect_list-per-block plan
    // (one unbounded array row). The self-join formulation must (a) never
    // materialize a block in a single row — no collect_list in the plan —
    // and (b) produce all n·(n−1)/2 pairs distributed.
    val n = 5000
    val docs = spark.range(n).select(
      org.apache.spark.sql.functions.col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit(
        "the same mass duplicated document text repeated across the corpus").as("text"))
    val pairs = Dedup.simhashNearDup(docs)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list"), "plan must not materialize blocks into rows")
    assert(pairs.count() == n.toLong * (n - 1) / 2)
  }

  test("mass-dup cluster beyond dfCap routes to the exact-hash star fallback") {
    // 30 identical docs with cap=10: every shingle of the cluster has
    // df=30 > cap, so the whole cluster is capped out of the inverted-
    // index join. The fallback must still report the cluster — as LINEAR
    // representative→member pairs (29), not quadratic all-pairs (435) —
    // and the distinct docs' pairs must be unaffected.
    import org.apache.spark.sql.functions.{col, concat, lit}
    val cluster = spark.range(30).select(col("id").as("doc_id"),
      lit("mass duplicated boilerplate template text shared by every copy").as("text"))
    val distinctDocs = spark.range(100, 105).select(col("id").as("doc_id"),
      concat(lit("unique document number "), col("id"),
        lit(" with its own words entirely")).as("text"))
    val docs = cluster.unionByName(distinctDocs)
    val pairs = Dedup.jaccardPairs(docs, cap = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val clusterPairs = pairs.filter(_._1 < 100)
    assert(clusterPairs.length == 29, s"expected 29 star pairs, got ${clusterPairs.length}")
    assert(clusterPairs.forall(p => p._1 == 0L && p._3 == 1.0))
    // "unique document number <id> with its own words entirely" shares 4
    // of 7 shingles pairwise (j≈0.4 < θ) — no cross pairs expected, and
    // crucially none LOST to the cap either (their shingles survive).
    assert(pairs.forall(p => p._2 < 100 || p._1 >= 100 || p._1 == 0L))
  }

  test("LSH band buckets beyond bucketCap emit star pairs, not |bucket|^2") {
    import org.apache.spark.sql.functions.{col, lit}
    val n = 40
    val docs = spark.range(n).select(col("id").as("doc_id"),
      lit("mass duplicated boilerplate template text shared by every copy").as("text"))
    val cand = Dedup.lshCandidatesOf(docs, cap = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.length == n - 1, s"expected ${n - 1} star pairs, got ${cand.length}")
    assert(cand.forall(_._1 == 0L), "all pairs anchor at the representative")
  }

  test("multi-block simhash retrieval is a superset of single-block (recall dial)") {
    val single = SparkEntry.queries("q49_simhash_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = SparkEntry.queries("q60_simhash_multiblock")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi),
      s"rotation 0's window IS q49's block, so q60 ⊇ q49; missing ${single -- multi}")
    info(s"single-block pairs: ${single.size}, multi-block: ${multi.size}")
  }

  test("simhash of near-identical docs lands in a small Hamming ball") {
    val sketches = SparkEntry.queries("q28_simhash")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val high = nearDups.filter(_._2 >= 0.95).map(_._1)
    assert(high.nonEmpty)
    val dists = high.map { case (a, b) =>
      java.lang.Long.bitCount(sketches(a) ^ sketches(b))
    }
    info(s"simhash hamming distances on j>=0.95 pairs: ${dists.toSeq.sorted.mkString(",")}")
    assert(dists.forall(_ <= 8), s"expected <=8/32 differing bits, got ${dists.max}")
  }

  test("sortedNeighborhood pairs are partitioning-invariant and windowed-complete") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    val base = Dedup.sortedNeighborhood(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(base.nonEmpty, "fixture must yield sorted-neighborhood hits")
    // same pairs regardless of how the input arrives: boundary pairs
    // crossing range-partition edges must survive any layout
    for (parts <- Seq(1, 7)) {
      val got = Dedup.sortedNeighborhood(docs.repartition(parts)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == base, s"parts=$parts")
    }
    // completeness against the naive in-memory SNM with the same key
    val keyed = docs.selectExpr("doc_id", "substring(text, 1, 32) AS key", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy { case (id, k, _) => (k, id) }
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet else Set(t)
    }
    val naive = (for {
      i <- keyed.indices
      j <- (i + 1) until math.min(i + 4, keyed.length)
      sa = shingles(keyed(i)._3); sb = shingles(keyed(j)._3)
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if BigDecimal(jac).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.5
    } yield (math.min(keyed(i)._1, keyed(j)._1), math.max(keyed(i)._1, keyed(j)._1))).toSet
    assert(base.map(t => (t._1, t._2)) == naive)
  }
}
