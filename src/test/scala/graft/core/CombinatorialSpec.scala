package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Spark analog of the reference's crown-jewel combinatorial identity
  * suite (flod pipeline.d:1305-1356): every chain variant × every
  * partitioning × the reference's output-length variants
  * {0, n/3, n−1, n, n+1, 5n} (pipeline.d:1318-1319), asserting exact
  * ordered output. Method combinations ≙ partition counts here — the
  * physical-layout axis Spark actually varies. n = 173447 as upstream
  * (pipeline.d:1354). */
class CombinatorialSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val n = 173447L
  private val lengths = Seq(0L, n / 3, n - 1, n, n + 1, 5 * n)
  private val partitions = Seq(1, 3, 7)

  // chain variants ≙ the reference's filter stacks; each is
  // (name, flow transform, expected on the taken prefix)
  private val chains: Seq[(String, Flow[java.lang.Long] => Flow[Long], Seq[Long] => Seq[Long])] = Seq(
    ("identity", f => f.map(_.toLong), ids => ids),
    ("mark2", f => f.map(e => (e << 4) | 1L).map(e => (e << 4) | 2L),
      ids => ids.map(e => (((e << 4) | 1L) << 4) | 2L)),
    ("filter-even-inc", f => f.map(_.toLong).filter(_ % 2 == 0).map(_ + 1),
      ids => ids.filter(_ % 2 == 0).map(_ + 1)),
    // generator chain: 1→N expansion (flod's Splitter-like output-rate
    // change) — ordering across the expansion must hold in both modes
    ("dup-flatmap", f => f.flatMap(e => Seq(e.toLong, -e.toLong)),
      ids => ids.flatMap(e => Seq(e, -e))))

  for ((cname, chain, expectFn) <- chains; parts <- partitions) {
    test(s"chain=$cname parts=$parts all output lengths") {
      val base = new Flow(spark.range(0, n, 1, parts))
      val full = expectFn((0L until n).toSeq)
      for (k <- lengths) {
        // take sits sink-side like the reference harness's output-length
        // cut; it caps at stream length (truncation, package.d:114-207)
        val got = chain(base).take(k).toArray
        val expected = full.take(math.min(k, Int.MaxValue.toLong).toInt)
        assert(got.length == expected.length, s"k=$k length")
        assert(got == expected, s"k=$k")
      }
    }
  }

  // ---- the second drive-mode axis (reference pipeline.d:1352): the SAME
  // chains × output lengths driven push-mode (DriveMode.source), one
  // batch job per put, asserting byte-identical output to the batch run.
  // Stream length and chunk size are mutually prime so chunk boundaries
  // sweep all phases; n is smaller than the batch axis because every put
  // is its own Spark job (per-put fidelity, SURVEY §7.4), not because
  // semantics differ.
  private val pushN = 2503L
  private val pushChunk = 617
  private val pushLengths = Seq(0L, pushN / 3, pushN - 1, pushN, pushN + 1, 5 * pushN)

  // ---- third axis: the SAME chains driven push-mode into the
  // DISTRIBUTED file sink (Push.toPath) — executors write every
  // put, nothing reaches the driver. The file sink makes no
  // cross-put ordering promise (order is a property of the collector
  // sinks, which mirror flod's single-threaded terminals), so the
  // assertion is multiset equality of the full output.
  for ((cname, chain, expectFn) <- chains) {
    test(s"push-mode file-sink chain=$cname round-trips the full stream") {
      val dir = java.nio.file.Files.createTempDirectory("graft_comb_sink").toString + "/out"
      val sink = graft.stream.Push.toPath[java.lang.Long, Long](spark, dir)(
        ds => chain(new Flow(ds)).ds)
      try {
        var i = 0L
        while (i < pushN) {
          val hi = math.min(i + pushChunk, pushN)
          sink.put((i until hi).map(java.lang.Long.valueOf))
          i = hi
        }
      } finally sink.close()
      val got = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
      val expected = expectFn((0L until pushN).toSeq).sorted
      assert(got == expected, s"file-sink multiset for $cname")
    }
  }

  for ((cname, chain, expectFn) <- chains) {
    test(s"push-mode chain=$cname all output lengths") {
      val full = expectFn((0L until pushN).toSeq)
      for (k <- pushLengths) {
        val p = new graft.stream.Push[java.lang.Long, Long](
          spark, ds => chain(new Flow(ds)).ds, Some(k))
        try {
          var i = 0L
          var room = 1L
          // the drive loop honors short-write backpressure exactly like
          // the reference's run() (adapter.d:110-113)
          while (i < pushN && room > 0) {
            val hi = math.min(i + pushChunk, pushN)
            room = p.put((i until hi).map(java.lang.Long.valueOf))
            i = hi
          }
          val expected = full.take(math.min(k, Int.MaxValue.toLong).toInt)
          assert(p.result == expected, s"k=$k")
        } finally p.close()
      }
    }
  }
}
