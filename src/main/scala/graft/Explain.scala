package graft


/** Dev utility: dump the formatted physical plan of every declared query
  * (and the flagship) for plan review — pushdown, pruning, join strategy,
  * exchange count. Usage: runMain graft.Explain [sfDir] [outDir]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val spark = Sessions.local(4, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
