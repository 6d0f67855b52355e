package graft.tools

import graft.{ScaleGen, Sessions, SparkEntry}
import graft.core.Substrate

/** The SCALE.md 10× study as a reusable main: generates (or reuses via
  * SPARK_GRAFT_TENX_DIR) a deterministic ×10 ScaleGen replica of the
  * base corpus, pre-builds each gate's declared substrates on BOTH
  * fixtures (the ScaleLawSpec warm/warm convention — each gate meters
  * its own readout; the builds are timed separately where they first
  * run), and prints min-of-2 warm wall seconds per gate per fixture
  * plus the ratio.
  *
  *   java -cp ... graft.tools.TenX q363_cophenetic q364_optics_order
  *
  * Env: SPARK_GRAFT_SF_DIR (base, default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS, SPARK_GRAFT_TENX_DIR (reuse a generated replica),
  * SPARK_GRAFT_TENX_REPS (default 10). */
object TenX {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: TenX <queryName>...")
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: $unknown")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_TENX_REPS", "10").toInt
    val spark = Sessions.local(cpus, "graft-tenx")
    spark.sparkContext.setLogLevel("WARN")
    val big = sys.env.getOrElse("SPARK_GRAFT_TENX_DIR", {
      val dir = graft.core.Scratch.tempDir("graft-tenx")
      println(s"generating x$reps replica of $base at $dir")
      ScaleGen.generate(spark, base, dir, reps)
      dir
    })
    def minOf2(name: String, dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    args.foreach { name =>
      Substrate.closure(SparkEntry.defs.filter(_.name == name).flatMap(_.uses))
        .foreach { sub => sub.root(spark, base); sub.root(spark, big) }
      val (s, l) = (minOf2(name, base), minOf2(name, big))
      println(f"$name%-24s base $s%7.2f s   x$reps $l%7.2f s   ratio ${l / s}%.2f")
    }
    spark.stop()
  }
}
