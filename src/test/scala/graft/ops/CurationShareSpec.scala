package graft.ops

import graft.{Materialize, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

/** The production composition the audit gates imply: ONE verified-pair
  * computation feeds every report. q84/q85/q90/q98 each declare their
  * own pipeline (gates must be self-contained), but a real curation run
  * pins the pair table once via `Materialize` and shares it — this spec
  * proves the shared-pair variants return exactly the gates' results,
  * so the sharing is tested code, not a comment in VERDICT responses. */
class CurationShareSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("one pinned pair table reproduces overlap, report, pagerank and triangles") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // the single computation a production run would persist
    val pairs = Materialize.pin(Dedup.dedupPipeline(docs))

    assert(rows(Dedup.sourceOverlap(docs, pairs = Some(pairs)))
      == rows(Dedup.sourceOverlap(docs)), "source overlap")
    assert(rows(Components.dedupReport(docs, pairs = Some(pairs)))
      == rows(Components.dedupReport(docs)), "dedup report")
    assert(rows(Components.dedupClusters(docs, pairs = Some(pairs)))
      == rows(Components.dedupClusters(docs)), "clusters")
    val nodes = docs.select(docs("doc_id").as("id"))
    assert(rows(Components.pageRank(nodes, pairs.select("id_a", "id_b")))
      == rows(Components.pageRank(nodes, Dedup.dedupPipeline(docs).select("id_a", "id_b"))),
      "pagerank")
    assert(rows(Components.triangles(pairs.select("id_a", "id_b")))
      == rows(Components.triangles(Dedup.dedupPipeline(docs).select("id_a", "id_b"))),
      "triangles")
  }

  test("the cached dup-pairs substrate IS the from-scratch computation " +
      "(pairs, LPA labels, and the community readouts over them)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // substrate artifacts (one cached build per JVM/corpus, r16)
    val sp = Components.dupPairs(spark, TestSpark.sf0001)
    val sl = Components.lpaCommunities(spark, TestSpark.sf0001)
    // the from-scratch twins the gates used to declare inline
    val fp = Materialize.pin(Dedup.dedupPipeline(docs))
    val fl = Components.labelPropagation(
      docs.select(docs("doc_id").as("id")), fp.select("id_a", "id_b"))

    assert(rows(sp) == rows(fp), "verified pair table")
    assert(rows(sl) == rows(fl), "LPA communities")
    assert(rows(Components.modularity(sl, sp.select("id_a", "id_b")))
      == rows(Components.modularity(fl, fp.select("id_a", "id_b"))),
      "modularity readout")
    assert(rows(Components.conductance(sl, sp.select("id_a", "id_b")))
      == rows(Components.conductance(fl, fp.select("id_a", "id_b"))),
      "conductance readout")
  }
}
