package graft.tools

import graft.{Sessions, SparkEntry}

/** Long-JVM streaming-replay soak (VERDICT r15 #3, widened r17 per
  * VERDICT r16 #1): replays streaming gates round after round in ONE
  * JVM and prints, per round, each gate's wall seconds plus the
  * suspected accumulators — session temp views (every bounded replay's
  * memory sink registers one holding its FULL result set), loaded
  * state-store providers (each stopped stateful query leaves providers
  * whose in-heap version maps reference a deleted checkpoint), and
  * used heap. A mechanism is pinned when a counter grows monotonically
  * WITH the per-round times; fixed when both stay flat.
  *
  * r17: the gate list defaults to the FULL `_stream_` replay class
  * from the registry (the r16 fix was only proven on q331/q340/q151;
  * q157/q172/q217 regressed driver-to-driver afterwards and their
  * coverage was unproven). Flat temp-view/provider counts across a
  * full-class soak verify every streamed gate really exits through
  * `StreamOps.replay`'s cleanup — the memory-sink view drop and the
  * StateStore unload are per-gate invariants, not per-suspect ones
  * (StreamingSpec pins them per replay).
  *
  *   java -cp ... graft.tools.StreamSoak <sfDir> [rounds] [gates.csv]
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(10)
    val gates = args.lift(2) match {
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        .map { p =>
          // Map key order is unspecified, so an ambiguous prefix must
          // ERROR rather than resolve to an arbitrary gate (ADVICE r17)
          SparkEntry.queries.keys.filter(_.startsWith(p)).toSeq.sorted match {
            case Seq(one) => one
            case Seq() => sys.error(s"no gate matches '$p'")
            case many => sys.error(
              s"ambiguous gate prefix '$p': ${many.mkString(", ")}")
          }
        }
      case None => SparkEntry.queries.keys.toSeq
        .filter(_.contains("_stream_")).sorted
    }
    val spark = Sessions.local()

    def tempViews: Long =
      spark.catalog.listTables().filter("isTemporary").count()
    def providers: Int = try {
      val obj = org.apache.spark.sql.execution.streaming.state.StateStore
      val f = obj.getClass.getDeclaredFields
        .find(_.getName.contains("loadedProviders")).get
      f.setAccessible(true)
      f.get(obj).asInstanceOf[scala.collection.mutable.HashMap[_, _]].size
    } catch { case _: Throwable => -1 }
    def heapMb: Long = {
      val rt = Runtime.getRuntime
      (rt.totalMemory() - rt.freeMemory()) >> 20
    }

    println("round\t" + gates.map(_.take(8)).mkString("\t") +
      "\ttotal\ttemp_views\tproviders\theap_mb")
    for (r <- 1 to rounds) {
      val times = gates.map { g =>
        val t0 = System.nanoTime()
        SparkEntry.queries(g)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // the Bench per-gate cleanup, so the soak isolates what Bench's
      // existing hygiene does NOT already remove
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sqlContext.clearCache()
      if (r % 25 == 0) System.gc()
      println(f"$r%d\t" + times.map(t => f"$t%.2f").mkString("\t") +
        f"\t${times.sum}%.2f\t$tempViews%d\t$providers%d\t$heapMb%d")
    }
    spark.stop()
  }
}
