package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected gate's result → parquet,
  * plus every gate's oracle in oracle_sql.json, for the driver's DuckDB
  * compare. The driver selects every gate; `SPARK_GRAFT_ONLY` (see
  * [[Harness.select]]) narrows a dev run. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val selected = Harness.selected()
    val spark = Harness.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    selected.foreach { q =>
      try q.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.quote(k)}: ${Harness.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
