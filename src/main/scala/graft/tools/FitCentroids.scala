package graft.tools

import graft.{Harness, Tables}
import graft.functions.Vectors
import graft.ops.Ann
import org.apache.spark.sql.functions._

/** One-off trainer for the baked IVF coarse quantizer
  * ([[graft.ops.AnnCentroids]]): fits `Ann.kmeansCentroids` on an
  * embeddings corpus and prints the Scala literal to paste there.
  *
  * This is the standard production shape for IVF at 100 TB: the
  * quantizer is trained ONCE on a sample, then shipped as constants to
  * every assignment/search job (and here, mirrored into the DuckDB
  * oracle) — retraining per query would make results drift with the
  * corpus. Regenerate with
  *   sbt "runMain graft.tools.FitCentroids /root/testdata/sf0.01 8 5"
  * if the embeddings corpus ever changes.
  */
object FitCentroids {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(8)
    val iters = args.lift(2).map(_.toInt).getOrElse(5)
    val spark = Harness.session("fit-centroids")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val cents = Ann.kmeansCentroids(emb, k, iters)
    println(s"// fit on $dir, k=$k, iters=$iters")
    println("  val fitted: Array[Array[Double]] = Array(")
    println(cents.map(_.map(d => d.toString).mkString("    Array(", ", ", ")"))
      .mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
