package graft.ops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components guarantees the value-level oracle can't express:
  * pointer-doubling convergence on the shapes that break plain
  * propagation (long chains) and the mass-dup star shape. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cc(n: Seq[Long], e: Seq[(Long, Long)],
                 maxIter: Int = 25): Map[Long, Long] =
    Components.connectedComponents(
        n.toDF("id"), e.toDF("id_a", "id_b"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("chain graph collapses to its minimum within O(log n) rounds") {
    // 0-1-2-...-15 as a path: plain min-propagation needs 15 rounds;
    // pointer doubling must get there in ~log2(15)+1 — maxIter=6 proves
    // the jump is actually shortening chains, not just along for the ride
    val got = cc(0L to 15L, (0L until 15L).map(i => (i, i + 1)), maxIter = 6)
    assert(got == (0L to 15L).map(_ -> 0L).toMap)
  }

  test("isolated nodes label themselves; components don't bleed") {
    val got = cc(Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L),
      Seq((5L, 3L), (3L, 7L), (2L, 6L)))
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L,
      5L -> 3L, 6L -> 2L, 7L -> 3L))
  }

  test("duplicate and reversed edges are harmless") {
    val got = cc(Seq(1L, 2L, 3L), Seq((2L, 1L), (1L, 2L), (2L, 3L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star cluster (mass-dup shape) resolves immediately") {
    val members = 1L to 50L
    val got = cc(0L +: members, members.map(m => (0L, m)))
    assert(got.values.forall(_ == 0L))
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 3) {
      val n = 40
      val nodes = (0L until n).toSeq
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val naive = nodes.map(_.toInt).groupBy(find).values
        .flatMap(c => c.map(_.toLong -> c.map(_.toLong).min)).toMap
      assert(cc(nodes, edges) == naive)
    }
  }

  test("reliable-checkpoint strategy is a drop-in swap for localCheckpoint") {
    // the 100 TB durability story as tested code, not a comment: the
    // same iterative CC with no checkpoint dir (local pins) and with one
    // set (durable pins) must give identical labels.
    val nodes = (0L to 15L).toDF("id")
    val edges = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def labels() = Components.connectedComponents(nodes, edges, maxIter = 6)
      .as[(Long, Long)].collect().toMap
    val local = labels()
    val durable = TestSpark.withCheckpointDir { dir =>
      val l = labels()
      assert(dir.listFiles.nonEmpty,
        "durable pins must actually write checkpoint data")
      l
    }
    assert(local == (0L to 15L).map(_ -> 0L).toMap)
    assert(durable == local)
  }

  test("dedupReport: survivors count one per cluster, rates consistent") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "web"),
      (11L, "alpha beta gamma delta epsilon zeta", "book"), // dup of 10, other source
      (20L, "one two three four five six seven", "web"),
      (30L, "completely different text about nothing at all", "web")
    ).toDF("doc_id", "text", "source")
    val rep = Components.dedupReport(docs)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(rep("web") == (("web", 3L, 3L, 1.0)), "web docs all survive (10 is canonical)")
    assert(rep("book") == (("book", 1L, 0L, 0.0)), "book's only doc dies to web's 10")
    // survivors across sources == number of clusters
    val clusters = Components.dedupClusters(docs)
      .select("canonical_id").distinct().count()
    assert(rep.values.map(_._3).sum == clusters)
  }

  test("pageRank matches a naive in-memory power iteration; mass conserved; hubs rank higher") {
    // star (0 hub, 1-4 leaves) + pair (10, 11) + isolated 20
    val nodes = Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 20L)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (10L, 11L))
    val naive = {
      val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      val deg = edges.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
      val n = nodes.size.toDouble
      var s = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 5) {
        val dm = nodes.filterNot(deg.contains).map(s).sum
        val inc = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _) => s(u) / deg(u) }.sum).toMap
        s = nodes.map(v => v ->
          (0.15 / n + 0.85 * (inc.getOrElse(v, 0.0) + dm / n))).toMap
      }
      s.view.mapValues(x => math.rint(x * 1e6) / 1e6).toMap
    }
    val got = Components.pageRank(nodes.toDF("id"), pairs.toDF("id_a", "id_b"))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == naive.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - naive(k)) < 2e-6, s"node $k: $v vs ${naive(k)}") }
    assert(math.abs(got.values.sum - 1.0) < 1e-3, "probability mass conserved")
    assert(got(0L) > got(1L), "the hub must outrank its leaves")
    assert(got(1L) > got(20L), "connected nodes outrank isolated ones")
  }

  test("weighted pageRank matches a naive weighted iteration; strong ties pull more score") {
    // triangle where 0-1 is a heavy tie (0.9) and 0-2 / 1-2 are weak
    // (0.1): under weighted splitting, 1 receives most of 0's mass
    val nodes = Seq(0L, 1L, 2L, 9L)
    val wpairs = Seq((0L, 1L, 0.9), (0L, 2L, 0.1), (1L, 2L, 0.1))
    val naive = {
      val edges = wpairs.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      val wdeg = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      val n = nodes.size.toDouble
      var s = nodes.map(_ -> 1.0 / n).toMap
      for (_ <- 1 to 5) {
        val dm = nodes.filterNot(wdeg.contains).map(s).sum
        val inc = edges.groupBy(_._2).view.mapValues(
          _.map { case (u, _, w) => s(u) * w / wdeg(u) }.sum).toMap
        s = nodes.map(v => v ->
          (0.15 / n + 0.85 * (inc.getOrElse(v, 0.0) + dm / n))).toMap
      }
      s.view.mapValues(x => math.rint(x * 1e6) / 1e6).toMap
    }
    val got = Components.pageRank(nodes.toDF("id"),
        wpairs.toDF("id_a", "id_b", "w"), weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet == naive.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - naive(k)) < 2e-6, s"node $k: $v vs ${naive(k)}") }
    assert(got(1L) > got(2L), "the heavy-tie neighbor collects more centrality")
    // w=1.0 degenerates to the classic split exactly
    val uni = Components.pageRank(nodes.toDF("id"),
        wpairs.map(p => (p._1, p._2, 1.0)).toDF("id_a", "id_b", "w"),
        weightCol = Some("w"))
      .as[(Long, Double)].collect().toMap
    val classic = Components.pageRank(nodes.toDF("id"),
        wpairs.map(p => (p._1, p._2)).toDF("id_a", "id_b"))
      .as[(Long, Double)].collect().toMap
    assert(uni == classic)
  }

  test("dedupClusters: exact copies cluster under the min id; singletons survive alone") {
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "alpha beta gamma delta epsilon zeta"), // exact dup of 10
      (12L, "alpha beta gamma delta epsilon eta"),  // near-dup of 10 (may or may not band-collide)
      (20L, "one two three four five six seven"),
      (30L, "completely different text about nothing at all")
    ).toDF("doc_id", "text")
    val got = Components.dedupClusters(docs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 20L, 30L), "every doc labeled")
    assert(got(10L)._1 == 10L && got(11L)._1 == 10L, "exact dups share canonical 10")
    assert(got(20L) == (20L, 1L) && got(30L) == (30L, 1L), "singleton clusters")
    // each cluster's size is consistent across its members and sums to N
    val byCluster = got.values.groupBy(_._1)
    assert(byCluster.forall { case (_, v) => v.map(_._2).toSet.size == 1 })
    assert(byCluster.values.map(_.head._2).sum == 5L)
  }

  private def lpa(n: Seq[Long], e: Seq[(Long, Long)], iters: Int = 4): Map[Long, Long] =
    Components.labelPropagation(n.toDF("id"), e.toDF("id_a", "id_b"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("label propagation splits two bridged triangles; CC cannot") {
    val nodes = 1L to 6L
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val got = lpa(nodes, edges)
    assert(got(1L) == got(2L) && got(2L) == got(3L), "left triangle one community")
    assert(got(4L) == got(5L) && got(5L) == got(6L), "right triangle one community")
    assert(got(1L) != got(4L), "the bridge does not merge the communities")
    // the same graph is ONE connected component — LPA sees density, CC reachability
    val ccGot = cc(nodes, edges)
    assert(ccGot.values.toSet.size == 1)
  }

  test("label propagation matches a naive sync replay on random graphs (integer-exact)") {
    val rnd = new scala.util.Random(53)
    for (_ <- 1 to 3) {
      val n = 20
      val nodes = (0L until n).toSeq
      val edges = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .filter { case (a, b) => a != b }.distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var lbl = nodes.map(v => v -> v).toMap
      for (_ <- 1 to 4) {
        lbl = nodes.map { v =>
          val votes = adj.getOrElse(v, Seq.empty).map(lbl)
          if (votes.isEmpty) v -> lbl(v)
          else {
            val grouped = votes.groupBy(identity).view.mapValues(_.size).toSeq
            v -> grouped.minBy { case (l, c) => (-c, l) }._1
          }
        }.toMap
      }
      assert(lpa(nodes, edges) == lbl)
    }
  }

  private def tri(e: Seq[(Long, Long)]): (Long, Long) = {
    val r = Components.triangles(e.toDF("id_a", "id_b")).first()
    (r.getLong(0), r.getLong(1))
  }

  test("triangles: K4 has 4, a square has 0, a star has 0") {
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) == (6L, 4L))
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) == (4L, 0L))
    assert(tri((2L to 9L).map(i => (1L, i))) == (8L, 0L), "hub star is triangle-free")
  }

  test("triangles: duplicate, reversed, and self-loop edges don't distort the count") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (1L, 3L),
      (4L, 4L), (3L, 4L))
    // clean graph: triangle {1,2,3} plus pendant edge 3-4
    assert(tri(messy) == (4L, 1L))
  }

  test("triangles: two triangles sharing an edge count separately") {
    // {1,2,3} and {2,3,4} share edge 2-3; the hub-ish vertices get the
    // degree-ordered orientation exercised (deg(2)=deg(3)=3 > deg(1)=deg(4)=2)
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(tri(g) == (5L, 2L))
  }

  test("triangles match brute force on random graphs (incl. a planted hub)") {
    val rnd = new scala.util.Random(29)
    for (round <- 1 to 3) {
      val n = 24
      val random = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // planted hub: node 0 adjacent to everything — the degree-ordered
      // orientation must still count correctly where a naive id
      // orientation would wedge-blow the hub
      val hub = if (round == 2) (1L until n).map(i => (0L, i)) else Seq.empty
      val edges = random ++ hub
      val canon = edges.map { case (a, b) => (a min b, a max b) }
        .filter { case (a, b) => a != b }.distinct.toSet
      val naive = (for {
        Seq(a, b, c) <- canon.flatMap { case (x, y) => Seq(x, y) }
          .toSeq.distinct.sorted.combinations(3)
        if canon((a, b)) && canon((b, c)) && canon((a, c))
      } yield 1).size.toLong
      assert(tri(edges) == (canon.size.toLong, naive), s"round $round")
    }
  }

  test("canonicalize elects one longest-member representative per cluster") {
    val docs = graft.Tables.documents(spark, TestSpark.sf0001)
    val out = Components.canonicalize(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(out.length == docs.count())
    val byRep = out.groupBy(_._2)
    // exactly one is_rep per cluster, and it IS the rep_id row
    byRep.foreach { case (rep, members) =>
      assert(members.count(_._3) == 1)
      assert(members.find(_._3).get._1 == rep)
      assert(members.forall(_._4 == members.length),
        "cluster_size must equal the member count")
    }
    // the representative is the longest member (doc_id tiebreak)
    val len = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byRep.foreach { case (rep, members) =>
      val want = members.map(_._1).minBy(id => (-len(id), id))
      assert(rep == want, s"cluster of $rep should elect $want")
    }
    // the fixture actually contains multi-doc clusters
    assert(byRep.exists(_._2.length > 1))
  }

  test("clusteringCoefficient on a known graph: clique 1.0, chain 0.0, mixed exact") {
    import spark.implicits._
    // K3 {1,2,3} + path 3-4-5 + pendant 6 off node 1
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (1L, 6L))
      .toDF("id_a", "id_b")
    val got = Components.clusteringCoefficient(pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // node 1: deg 3 (2,3,6), one triangle => 2*1/(3*2) = 0.333333
    assert(got(1L) == ((3L, 1L, 0.333333)))
    // node 2: deg 2, in the triangle => 1.0
    assert(got(2L) == ((2L, 1L, 1.0)))
    // node 3: deg 3 (1,2,4), one triangle => 0.333333
    assert(got(3L) == ((3L, 1L, 0.333333)))
    // node 4: deg 2, neighbors 3,5 unconnected => 0.0
    assert(got(4L) == ((2L, 0L, 0.0)))
    // leaves: deg 1 => 0 by convention
    assert(got(5L) == ((1L, 0L, 0.0)))
    assert(got(6L) == ((1L, 0L, 0.0)))
  }

  test("kCore peels chains, keeps cycles, and converges within the gate's round budget") {
    import spark.implicits._
    // triangle {1,2,3} + chain 3-4-5-6 + pendant 7 off 1
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (1L, 7L)).toDF("id_a", "id_b")
    val core = Components.kCore(pairs, k = 2, rounds = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // only the triangle survives, every survivor at degree 2
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // fixed-round unroll is the fixpoint on the gate corpus: one more
    // round changes nothing (the oracle's 4-round unroll is exact)
    val gate = Dedup.dedupPipeline(
      graft.Tables.documents(spark, TestSpark.sf0001)).select("id_a", "id_b")
      .localCheckpoint()
    val r4 = Components.kCore(gate, 2, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r5 = Components.kCore(gate, 2, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r4 == r5, "peel must have converged by round 4")
  }

  test("singleLinkageCuts over the MST equals brute-force single linkage on the FULL edge set") {
    import spark.implicits._
    // two tight chains merged by a late bridge, plus redundant heavy
    // edges the MST must DROP — the cut partitions must still match
    // union-find over the complete ≤t edge set at every height
    // (the Kruskal invariant the operator rides on)
    val nodes = (1L to 9L).toDF("id")
    val es = Seq(
      (1L, 2L, 0.1), (2L, 3L, 0.1), (3L, 4L, 0.15),
      (5L, 6L, 0.12), (6L, 7L, 0.12),
      (4L, 5L, 0.5), // the late bridge
      (1L, 4L, 0.9), (2L, 7L, 0.8)) // heavy redundant edges
    val (mst, _) = Components.boruvkaMst(nodes, es.toDF("a", "b", "w"))
    assert(mst.count() == 6, "9 nodes / 3 components (8,9 isolated) -> 6 tree edges")
    val cuts = Seq(0.05, 0.11, 0.2, 0.6, 1.0)
    val got = Components.singleLinkageCuts(mst, cuts).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val expect = cuts.sorted.map { t =>
      val parent = scala.collection.mutable.Map((1L to 9L).map(i => i -> i): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      es.filter(_._3 <= t).foreach { case (a, b, _) => parent(find(a)) = find(b) }
      val touched = es.filter(_._3 <= t).flatMap(e => Seq(e._1, e._2)).toSet
      val sizes = touched.groupBy(find).values.map(_.size.toLong).toSeq
      (t, sizes.size.toLong, sizes.sum,
        if (sizes.isEmpty) 0L else sizes.max)
    }
    assert(got == expect)
  }

  test("boruvkaMst runs ⌈log₂ n⌉ merging rounds plus the empty probe") {
    // a 4,096-node path weighted w(i, i+1) = trailing zeros of (i+1):
    // every round merges aligned blocks pairwise on the next weight, so
    // 12 merging rounds leave one component and the 13th finds no edge
    val n = 4096L
    val nodes = (0L until n).toDF("id")
    val edges = (0L until n - 1)
      .map(i => (i, i + 1, java.lang.Long.numberOfTrailingZeros(i + 1).toDouble))
      .toDF("a", "b", "w")
    val (mst, labels) = Components.boruvkaMst(nodes, edges)
    assert(mst.count() == n - 1)
    assert(labels.select("comp").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("boruvkaMst refuses an edge endpoint that is not a node") {
    val e = intercept[IllegalArgumentException](Components.boruvkaMst(
      Seq(1L, 2L, 3L).toDF("id"),
      Seq((1L, 2L, 0.5), (2L, 9L, 0.1)).toDF("a", "b", "w")))
    assert(e.getMessage.contains("endpoint 9 is not a node"), e.getMessage)
  }
}
