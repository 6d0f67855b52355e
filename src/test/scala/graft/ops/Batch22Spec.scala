package graft.ops

import graft.{SparkEntry, Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Cross-checks for q318/q319 at sf0.001. */
class Batch22Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("q318 pruned-read aggregate equals a driver-side day filter, and the plan prunes") {
    val ev = Tables.events(spark, sf)
      .select(unix_micros(col("ts")), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0) / 86400000000L, r.getString(1),
        math.round(r.getDouble(2) * 100)))
    val d0 = ev.map(_._1).min
    val want = ev.filter(_._1 == d0).groupBy(_._2).toSeq
      .map { case (t, es) => (t, es.length.toLong,
        es.map(_._3).sum / 100.0) }
      .sortBy(_._1)
    val got = SparkEntry.queries("q318_partition_pruned")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(got.length == want.length)
    for ((w, g) <- want.zip(got)) {
      assert(g._1 == w._1 && g._2 == w._2)
      assert(math.abs(g._3 - w._3) < 0.005)
    }
    // plan contract: the read is partition-pruned to ONE directory. The
    // gate pins its result before it deletes the table, so the scan is
    // in the plan of the pinning action, seen by an execution listener
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val pruned = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        scans(qe.executedPlan).filter(_.partitionFilters.nonEmpty).foreach(pruned.add)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("q318_partition_pruned")(spark, sf)
      org.apache.spark.GraftBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(!pruned.isEmpty, "expected a partition-filtered scan")
    val scan = pruned.peek()
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil).size == 1,
      "only the target day's directory may survive pruning")
  }

  test("q318 deletes the partitioned copy of events it writes") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def copies(): Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft-partitioned"))
    val before = copies()
    SparkEntry.queries("q318_partition_pruned")(spark, sf).collect()
    assert(copies() -- before == Set.empty[String])
  }

  test("q319 sample accuracy matches an exact driver-side replication") {
    val rows = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))
      .collect()
      .map { r =>
        val key = s"${r.getLong(0)}|${r.getInt(1)}|${r.getLong(2)}"
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(md5.take(8), 16) % 20
        (math.round(r.getDouble(3) * 100), h)
      }
    def med(xs: Seq[Long]): Long = {
      val s0 = xs.sorted; s0(((xs.length + 1) / 2 - 1))
    }
    val exact = med(rows.map(_._1).toSeq)
    val sample = rows.filter(_._2 == 0L).map(_._1).toSeq
    val approx = med(sample)
    val got = SparkEntry.queries("q319_sample_accuracy")(spark, sf)
      .collect().head
    assert(got.getLong(0) == rows.length.toLong)
    assert(got.getLong(1) == sample.length.toLong)
    assert(math.abs(got.getDouble(2) - exact / 100.0) < 0.005)
    assert(math.abs(got.getDouble(3) - approx / 100.0) < 0.005)
    assert(math.abs(got.getDouble(4) - math.abs(approx - exact) / 100.0)
      < 0.005)
  }
}
