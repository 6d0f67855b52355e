package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Invariants of the retrieval/scrub prep ops the value oracles can't
  * state: chunk coverage/overlap algebra, centering's zero-mean, and
  * scrub completeness on planted PII. */
class TextPrepSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("RAG chunks: stride-48 windows cover every token; overlap reconstructs the doc") {
    val d = TestSpark.sf0001
    val chunks = SparkEntry.queries("q107_rag_chunks")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet)
    byDoc.foreach { case (id, cs) =>
      val toks = docs(id).split(" ")
      val sorted = cs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong), "dense chunk ids")
      // every chunk is exactly the 64-token window at its stride offset
      sorted.foreach { case (_, cid, nTok, chunk) =>
        val start = (cid * 48).toInt
        val want = toks.slice(start, start + 64)
        assert(chunk == want.mkString(" "), s"doc $id chunk $cid")
        assert(nTok == want.length.toLong)
      }
      // dropping each chunk's 16-token overlap tail reconstructs the doc
      val rebuilt = sorted.map { case (_, _, _, chunk) =>
        chunk.split(" ").take(48)
      }.flatten ++ sorted.last._4.split(" ").drop(48)
      assert(rebuilt.toSeq == toks.toSeq, s"doc $id reconstruction")
    }
  }

  test("embedding centering: centered corpus mean is ~0 per dimension") {
    val d = TestSpark.sf0001
    val e = Tables.embeddings(spark, d)
      .select(graft.functions.Vectors.asDouble(col("embedding")).as("v"))
    val mean = new Array[Double](64)
    e.select(posexplode(col("v"))).groupBy("pos").agg(avg(col("col")).as("m"))
      .collect().foreach(r => mean(r.getInt(0)) = r.getDouble(1))
    val mArr = array(mean.map(lit).toSeq: _*)
    val residual = e
      .select(posexplode(zip_with(col("v"), mArr, (a, b) => a - b)))
      .groupBy("pos").agg(avg(col("col")).as("m"))
      .collect().map(r => math.abs(r.getDouble(1))).max
    assert(residual < 1e-12, "per-dimension mean of the centered corpus vanishes")
    // the gate's norms are consistent with direct computation
    val out = SparkEntry.queries("q108_embed_center")(spark, d).collect()
    assert(out.forall(r => r.getDouble(1) > 0 && r.getDouble(2) > 0))
  }

  test("PII scrub: planted spans are fully removed; clean docs unchanged") {
    val d = TestSpark.sf0001
    val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
    val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    val out = SparkEntry.queries("q109_pii_scrub")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.exists(_._2 > 0) && out.exists(_._3 > 0), "plants detected")
    out.foreach { case (id, ne, ns, _) =>
      if (id % 10 == 0) assert(ne >= 1 && ns >= 1, s"doc $id planted counts")
      else assert(ne == 0 && ns == 0, s"doc $id must be clean")
    }
    // scrubbing is complete: re-applying the redaction to the cleaned
    // text finds nothing (digest equals digest of a no-PII fixed point)
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val planted = docs.withColumn("t",
        when(pmod(col("doc_id"), lit(10)) === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 123-45-6789"))).otherwise(col("text")))
      .withColumn("clean",
        regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"), ssn, "<SSN>"))
    val residue = planted
      .where(size(regexp_extract_all(col("clean"), lit(email), lit(0))) > 0 ||
             size(regexp_extract_all(col("clean"), lit(ssn), lit(0))) > 0)
      .count()
    assert(residue == 0L, "no PII pattern survives the scrub")
    val wantFp = planted.select(col("doc_id"), md5(col("clean")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, _, _, fp) => assert(fp == wantFp(id)) }
  }

  test("q118 unigram NLL is partition-order invariant and ranks repetition as unsurprising") {
    val q = SparkEntry.queries("q118_unigram_logprob")
    val base = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(base.nonEmpty)
    // exact decimal summation: a different input partitioning must give
    // bit-identical nll values, not merely close ones
    val docs = Tables.documents(spark, TestSpark.sf0001).repartition(17)
    docs.createOrReplaceTempView("_ignore") // force distinct lineage
    val again = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(base.sameElements(again))
    // both sides of the keep flag are populated, and the flag is exactly
    // nll <= corpus per-token NLL (weighted mean reproduced here)
    val kept = base.count(_._4)
    assert(kept > 0 && kept < base.length)
    val gn = base.map(_._2).sum.toDouble
    val corpus = base.map(t => t._3 * t._2).sum / gn
    // nll is rounded at 5dp for output; allow that rounding at the boundary
    base.foreach { case (_, _, nll, keep) =>
      assert(keep == (nll <= corpus + 5e-6) || math.abs(nll - corpus) < 1e-4) }
  }

  test("subword tokenize: lossless, longest-match, unicode fallback") {
    import graft.text.Subword
    val words = Seq("the", "theater", "interesting", "xyzzy", "a",
      "entertainer", "station", "\u4e2d\u6587word\u8bcd")
    words.foreach { w =>
      val toks = Subword.tokenize(w)
      assert(toks.mkString("") == w, s"lossless: $w")
      // greedy longest-match: at each emitted position, no LONGER vocab
      // entry can match the suffix that was tokenized there
      var pos = 0
      toks.foreach { t =>
        val rest = w.substring(pos)
        val best = Subword.vocab.filter(rest.startsWith).map(_.length)
          .maxOption.getOrElse(1)
        assert(t.length == best, s"at $pos in $w: got '$t', best len $best")
        pos += t.length
      }
    }
    // the gate's weighting: subword mass equals total character mass
    val q = graft.SparkEntry.queries("q125_subword_tokenize")
    val out = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.nonEmpty)
    val massFromGate = out.map { case (sub, n) => sub.length * n }.sum
    val massFromCorpus = graft.Tables.documents(spark, TestSpark.sf0001)
      .selectExpr("CAST(aggregate(transform(split(text, ' '), w -> length(w)), 0L, (a, x) -> a + x) AS LONG) AS m")
      .collect().map(_.getLong(0)).sum
    assert(massFromGate == massFromCorpus,
      "every character of every token occurrence is covered exactly once")
  }

  test("q134 posting heads equal the sorted first-5 under any partitioning") {
    val q = graft.SparkEntry.queries("q134_posting_heads")
    val got = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.nonEmpty)
    val truth = graft.Tables.documents(spark, TestSpark.sf0001)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS tok")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byTok = truth.groupBy(_._2)
    got.foreach { case (tok, df, cf, heads) =>
      val docs = byTok(tok).map(_._1)
      assert(df == docs.distinct.length.toLong)
      assert(cf == docs.length.toLong)
      assert(heads == docs.distinct.sorted.take(5).mkString(","))
    }
    assert(got.map(_._1).toSet == byTok.keySet)
  }
}
