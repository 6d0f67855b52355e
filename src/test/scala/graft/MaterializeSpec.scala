package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftStatsReset}
import org.scalatest.funsuite.AnyFunSuite

/** `Materialize.pin`: local blocks without a checkpoint dir, reliable
  * checkpoint files with one, and the estimate cap on both. */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val Cap = BigInt(1) << 50

  /** The RDDs of `df`'s physical lineage that hold checkpointed data. */
  private def checkpointed(df: DataFrame): Seq[RDD[_]] = {
    def lineage(r: RDD[_]): Seq[RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    lineage(df.queryExecution.toRdd).filter(_.isCheckpointed)
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def estimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("with no checkpoint dir a pin is a local checkpoint: no files, same rows") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 % 7 AS v")
    val pinned = Materialize.pin(df)
    assert(rows(pinned) == rows(df))
    val cps = checkpointed(pinned)
    assert(cps.nonEmpty, "the pinned frame must read checkpointed blocks")
    assert(cps.forall(_.getCheckpointFile.isEmpty),
      s"a local pin must write no checkpoint file: ${cps.map(_.getCheckpointFile)}")
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("with a checkpoint dir a pin writes checkpoint files into it: same rows") {
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "id * 3 % 7 AS v")
    TestSpark.withCheckpointDir { dir =>
      val pinned = Materialize.pin(df)
      assert(rows(pinned) == rows(df))
      val files = checkpointed(pinned).flatMap(_.getCheckpointFile)
      assert(files.nonEmpty, "a durable pin must read a reliable checkpoint")
      assert(files.forall(_.contains(dir.getName)), s"$files outside $dir")
      assert(dir.listFiles.nonEmpty)
    }
  }

  test("a carried estimate above 2^50 bytes comes back capped; a small one untouched") {
    // every cross join multiplies the carried estimate: 14 two-row
    // ranges of 16 bytes each estimate 16^14 = 2^56 bytes for 16,384 rows
    val big = (1 to 13).foldLeft(spark.range(2).toDF("c0")) { (acc, i) =>
      acc.crossJoin(spark.range(2).toDF(s"c$i"))
    }
    assert(estimate(big) > Cap, s"precondition: ${estimate(big)}")
    val pinned = Materialize.pin(big)
    assert(estimate(pinned) == Cap)
    assert(pinned.count() == 16384L)
    assert(rows(pinned) == rows(big))

    val small = spark.range(10).toDF("id").localCheckpoint()
    assert(estimate(small) <= Cap)
    assert(GraftStatsReset(small) eq small)
  }
}
