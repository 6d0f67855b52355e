package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Semantics the q99/q100 value oracles can't express alone: the bin
  * partition invariants and an independent driver-side funnel replay. */
class ExtrasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("curriculum bins partition the corpus with monotone score ranges") {
    val d = TestSpark.sf0001
    val rows = SparkEntry.queries("q99_curriculum_bins")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.documents(spark, d).count()
    assert(rows.map(_._2).sum == total, "bins partition every document")
    assert(rows.map(_._1).toSeq == rows.map(_._1).sorted.toSeq)
    rows.foreach { case (_, _, lo, hi) => assert(lo <= hi) }
    // ranges are ordered and non-overlapping across bins
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    assert(rows.length >= 5, "deciles of a varied corpus occupy most bins")
  }

  test("funnel matches a driver-side replay of each user's ordered events") {
    val d = TestSpark.sf0001
    val got = SparkEntry.queries("q100_funnel")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // independent reference: replay each user's events in time order
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val sorted = rows.sortBy(_._3)
      val tv = sorted.collectFirst { case (_, "view", t) => t }
      tv.map { v =>
        val tc = sorted.collectFirst { case (_, "click", t) if t > v => t }
        val tp = tc.flatMap(c =>
          sorted.collectFirst { case (_, "purchase", t) if t > c => t })
        u -> ((1L + tc.size + tp.size, v, tc.getOrElse(-1L), tp.getOrElse(-1L)))
      }
    }.toMap
    assert(got == want)
    assert(got.values.exists(_._1 == 3L), "some user completes the funnel")
  }

  test("funnel stalls: users stop at each stage; pre-view clicks don't count") {
    import spark.implicits._
    // ts is int64 NANOS in the driver's parquet contract (Tables.events
    // converts ns → µs timestamp on read) — the fixture honors it
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int): Long = (base + min * 60000L) * 1000000L
    // u1 completes; u2 views+clicks only; u3 views only; u4 never views
    // (excluded); u5's click PRECEDES its view so it stalls at step 1
    val ev = Seq(
      (1L, 1L, "view", ts(0)), (2L, 1L, "click", ts(1)), (3L, 1L, "purchase", ts(2)),
      (4L, 2L, "view", ts(0)), (5L, 2L, "click", ts(3)),
      (6L, 3L, "view", ts(0)), (7L, 3L, "error", ts(1)),
      (8L, 4L, "click", ts(0)), (9L, 4L, "purchase", ts(1)),
      (10L, 5L, "click", ts(0)), (11L, 5L, "view", ts(1))
    ).toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("q100_funnel")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L, 5L -> 1L),
      "step counts per user; non-viewers excluded; ordering enforced")
  }

  test("histogram bins partition the column; ranges tile contiguously") {
    val d = TestSpark.sf0001
    val rows = SparkEntry.queries("q115_histogram")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val total = Tables.lineitem(spark, d).count()
    assert(rows.map(_._2).sum == total, "every row binned")
    assert(rows.map(_._1).toSeq == (0L until 10L), "all 10 bins populated, in order")
    rows.sliding(2).foreach {
      case Array((_, _, _, hi1), (_, _, lo2, _)) =>
        assert(math.abs(hi1 - lo2) < 1e-4, "contiguous tiling")
      case _ =>
    }
    rows.foreach { case (_, _, lo, hi) => assert(lo < hi) }
  }

  test("attribution matches a driver-side carry-forward replay; both outcomes occur") {
    val d = TestSpark.sf0001
    val got = SparkEntry.queries("q114_attribution")(spark, d)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val want = ev.groupBy(_._1).map { case (u, rows) =>
      var lastClick = Option.empty[Long]
      var nP = 0L; var nA = 0L
      rows.sortBy(r => (r._4, r._2)).foreach { case (_, _, t, us) =>
        if (t == "click") lastClick = Some(us)
        else if (t == "purchase") {
          nP += 1
          if (lastClick.exists(c => c >= us - 30L * 60 * 1000000)) nA += 1
        }
      }
      u -> ((nP, nA))
    }.filter(_._2._1 > 0)
    assert(got == want)
    assert(got.values.exists { case (_, na) => na > 0 }, "some purchase attributed")
    assert(got.values.exists { case (np, na) => na < np }, "some purchase unattributed")
  }

  test("event transitions match a driver-side ordered replay; counts conserve") {
    val d = TestSpark.sf0001
    val got = SparkEntry.queries("q104_event_transitions")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getTimestamp(3).getTime))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val types = rows.sortBy(r => (r._4, r._2)).map(_._3).toSeq
      types.zip(types.drop(1))
    }.groupBy(p => p).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
    // conservation: one transition per consecutive pair per user
    val users = ev.groupBy(_._1).map(_._2.size.toLong - 1).sum
    assert(got.values.sum == users)
  }

  test("skyline two-phase equals the naive quadratic definition at any layout") {
    val q = graft.SparkEntry.queries("q127_skyline")
    val got = q(spark, TestSpark.sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1))).toSet
    assert(got.nonEmpty)
    val pts = graft.Tables.part(spark, TestSpark.sf0001)
      .selectExpr("p_retailprice AS x", "CAST(p_size AS LONG) AS y")
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toSet
    val naive = pts.filter { case (x, y) =>
      !pts.exists { case (bx, by) =>
        bx >= x && by >= y && (bx > x || by > y) } }
    assert(got == naive)
    // no survivor dominates another (mutual incomparability)
    got.foreach { case (x, y) =>
      assert(!got.exists { case (bx, by) =>
        bx >= x && by >= y && (bx > x || by > y) }) }
  }
}
