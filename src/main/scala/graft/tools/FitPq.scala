package graft.tools

import graft.{Harness, Tables}
import graft.functions.Vectors
import graft.ops.Ann
import org.apache.spark.sql.functions._

/** One-off trainer for the baked product-quantization codebooks
  * ([[graft.ops.PqCodebooks]]): splits the embedding space into `m`
  * contiguous subspaces and fits an independent k-means codebook per
  * subspace (reusing [[Ann.kmeansCentroids]] on the sliced vectors) —
  * the standard PQ training recipe (Jégou et al., TPAMI 2011; FAISS
  * `ProductQuantizer::train`).
  *
  * Same production rationale as [[FitCentroids]]: codebooks are trained
  * ONCE on a sample and shipped as constants to every encode/search
  * job, and mirrored verbatim into the DuckDB oracle. Regenerate with
  *   sbt "runMain graft.tools.FitPq /root/testdata/sf0.01 8 16 5"
  * (dir, m subspaces, k centroids per subspace, iters).
  */
object FitPq {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val m = args.lift(1).map(_.toInt).getOrElse(8)
    val k = args.lift(2).map(_.toInt).getOrElse(16)
    val iters = args.lift(3).map(_.toInt).getOrElse(5)
    val spark = Harness.session("fit-pq")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.asDouble(col("embedding")).as("v"))
    val dim = emb.select(size(col("v"))).first().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val books = (0 until m).map { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("v"), s * dsub + 1, dsub).as("v"))
      Ann.kmeansCentroids(sub, k, iters)
    }
    println(s"// fit on $dir, m=$m, k=$k, dsub=$dsub, iters=$iters")
    println("  val books: Array[Array[Array[Double]]] = Array(")
    println(books.map(b =>
      b.map(_.map(_.toString).mkString("      Array(", ", ", ")"))
        .mkString("    Array(\n", ",\n", ")"))
      .mkString(",\n"))
    println("  )")
    spark.stop()
  }
}
