package graft


/** Dev utility: dump the formatted physical plan of every selected gate
  * (`SPARK_GRAFT_ONLY`, see [[Harness.select]]) for plan review —
  * pushdown, pruning, join strategy, exchange count.
  * Usage: runMain graft.Explain [sfDir] [outDir]. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/plans")
    val selected = Harness.selected()
    val spark = Harness.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    for (q <- selected) {
      try {
        val plan = q.fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/${q.name}.txt"), plan)
      } catch { case e: Throwable =>
        System.err.println(s"[explain] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
