package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every entry point (Verify, Bench, tests,
  * user code) builds sessions through here so configuration that affects
  * correctness (UTC, nanosAsLong, AQE) is applied uniformly.
  *
  * Design-for-scale notes (the same builder works on a real cluster —
  * only `master` changes):
  *  - AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  *    partition counts at 100 TB.
  *  - shuffle.partitions is a floor; AQE coalesces down, and on a large
  *    cluster the caller raises it (or relies on AQE's initialNum).
  */
object Sessions {
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName(appName)
      .getOrCreate()

  /** Apply graft's standard configs to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .withExtensions(new graft.functions.GraftExtensions)
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // disabling AQE for the iterative builds cuts their job count 4×
    // but raises wall time: static exchanges and estimate-planned joins
    // cost more than AQE's per-stage jobs
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // events.parquet stores TIMESTAMP(NANOS) which Spark cannot represent;
    // read as Long (ns since epoch) and convert in Tables.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
