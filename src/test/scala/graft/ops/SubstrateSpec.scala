package graft.ops

import graft.{SparkEntry, TestSpark}
import graft.core.Substrate
import org.scalatest.funsuite.AnyFunSuite

/** The registered substrates against independent computations.
  *
  * Determinism law, for every entry of [[Substrate.all]]: a cold build
  * reproduces every artifact of the cached build row for row. This is
  * what makes a cache race (two callers building at once) wasted work
  * only, never divergent results.
  *
  * The condensed trees against the direct from-labels computation: the
  * q358/q359/q360/q362/q381/q382 gates read parquet artifacts of
  * [[Components.EpsTree]]/[[Components.MrTree]]; these pin that those
  * artifacts reproduce `hdbscanClustersFromLabels` /
  * `gloshScoresFromLabels` / `softMembershipsFromLabels` over the SAME
  * label scaffold bit for bit — the parquet round-trip and the
  * readout-join decomposition are exact, not approximations.
  * (HdbscanSpec pins the tree semantics themselves on handcrafted
  * forests; the DuckDB oracles pin both against full-graph
  * reachability.) */
class SubstrateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // the q358-family ladder, referenced (not mirrored) so a retune can
  // never desync this spec from the gates
  private def cuts = Components.HdbCuts
  private def lambdas = Components.HdbLambdas
  private def minSize = Components.HdbMinSize

  private def rows(df: org.apache.spark.sql.DataFrame): List[String] =
    df.collect().map(_.toString).toList

  test("eps-tree artifacts ≡ direct from-labels computation (q358/q359/q362)") {
    val dir = TestSpark.sf0001
    // a FRESH cache-bypassed label build for the direct side: equality
    // across two independent builds also re-proves the build's
    // determinism (elected MST unique under the (w, a, b) min key)
    val labels = spark.read.parquet(
      Components.EpsSlink.buildCold(spark, dir) + "/labels.parquet")
    assert(rows(SparkEntry.queries("q358_hdbscan")(spark, dir)) ==
      rows(Components.hdbscanClustersFromLabels(labels, cuts, lambdas, minSize)))
    assert(rows(SparkEntry.queries("q359_glosh_outliers")(spark, dir)) ==
      rows(Components.gloshScoresFromLabels(labels, cuts, lambdas, minSize)
        .withColumnRenamed("node", "vec_id").orderBy("vec_id")))
    assert(rows(SparkEntry.queries("q362_soft_membership")(spark, dir)) ==
      rows(Components.softMembershipsFromLabels(labels, cuts, lambdas, minSize)
        .withColumnRenamed("node", "vec_id").orderBy("vec_id")))
  }

  test("mr-tree artifacts ≡ direct from-labels computation (q360/q381/q382)") {
    val dir = TestSpark.sf0001
    val labels = spark.read.parquet(
      Components.MrSlink.buildCold(spark, dir) + "/labels.parquet")
    assert(rows(SparkEntry.queries("q360_hdbscan_mreach")(spark, dir)) ==
      rows(Components.hdbscanClustersFromLabels(labels, cuts, lambdas, minSize)))
    assert(rows(SparkEntry.queries("q381_glosh_mreach")(spark, dir)) ==
      rows(Components.gloshScoresFromLabels(labels, cuts, lambdas, minSize)
        .withColumnRenamed("node", "vec_id").orderBy("vec_id")))
    assert(rows(SparkEntry.queries("q382_soft_membership_mreach")(spark, dir)) ==
      rows(Components.softMembershipsFromLabels(labels, cuts, lambdas, minSize)
        .withColumnRenamed("node", "vec_id").orderBy("vec_id")))
  }

  for (sub <- Substrate.all)
    test(s"${sub.name}: a cold build reproduces every cached artifact") {
      val dir = TestSpark.sf0001
      val cached = sub.root(spark, dir)
      val cold = sub.buildCold(spark, dir)
      val artifacts = Substrate.artifacts(cached)
      assert(artifacts.nonEmpty)
      assert(Substrate.artifacts(cold) == artifacts)
      for (a <- artifacts) {
        def sorted(root: String) =
          rows(spark.read.parquet(s"$root/$a.parquet")).sorted
        assert(sorted(cold) == sorted(cached), s"${sub.name}/$a")
      }
    }
}
