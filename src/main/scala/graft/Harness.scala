package graft

import org.apache.spark.sql.SparkSession

/** What every graft main shares: its session, its gate selection, the
  * cleanup between gates and JSON string quoting. */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with graft's standard
    * configs and its shuffle partitions set to the core count, logging
    * at WARN. */
  def session(appName: String): SparkSession = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, appName)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The gates `SPARK_GRAFT_ONLY` names (see [[select]]), sorted by name. */
  def selected(): Seq[QueryDef] =
    select(SparkEntry.defs, sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))

  /** The gates a comma-separated `spec` names, sorted by name. Each
    * entry is a gate name or a name prefix ("q7" selects q70..q79); an
    * entry that matches no gate throws, so a typo cannot produce an
    * empty, healthy-looking run; a blank spec selects every gate. */
  def select(defs: Seq[QueryDef], spec: String): Seq[QueryDef] = {
    val only = spec.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val dead = only.filterNot(p => defs.exists(_.name.startsWith(p)))
    require(dead.isEmpty, s"SPARK_GRAFT_ONLY entries match no gate: ${dead.mkString(",")}")
    defs.filter(d => only.isEmpty || only.exists(d.name.startsWith)).sortBy(_.name)
  }

  /** Drop what a gate left in the session: gates pin intermediates via
    * [[Materialize.pin]] (RDD blocks in the block manager) and some
    * cache relations. Across 350+ gates in one JVM the accumulation
    * turns the late alphabetical tail into a storage-eviction storm
    * (q312 took 60 s inside a full run and 3-5 s solo, every iteration
    * slow), so a main running many gates calls this between them. */
  def dropDebris(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.sqlContext.clearCache()
  }

  /** `s` as a JSON string literal. Every control character is escaped:
    * Spark errors embed newlines and plans, and builder-authored SQL
    * may hold tabs, either of which would make a reader's JSON parse
    * fail. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
