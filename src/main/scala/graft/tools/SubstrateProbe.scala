package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev-loop measurement harness (guide §1: measure first): runs named
  * substrate builds / gate bodies solo in one JVM with a job-count
  * listener, printing per-phase wall time and Spark job count — the
  * number that adjudicates "micro-job scheduler latency" claims for
  * the iterative builds (Borůvka elections, rank ladders, condensed
  * trees). Not part of any declared query path. */
object SubstrateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sites = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val cs = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '+').trim)
          .getOrElse("?")
        sites.merge(cs, 1, (a, b) => a + b)
        ()
      }
    })

    // warmup: footers + codegen/shuffle machinery (Bench convention)
    Seq("documents", "embeddings").foreach(t =>
      spark.read.parquet(s"$sfDir/$t.parquet").count())
    spark.range(1000000).selectExpr("sum(id)").collect()

    // phase-split drive of the eps_slink build (boruvkaMst vs the
    // level-encoded single-linkage label pass) for job attribution
    def slinkSplit(): Unit = {
      import org.apache.spark.sql.functions.col
      val base = graft.ops.Components.EpsPairs.buildCold(spark, sfDir)
      val ids = spark.read.parquet(base + "/ids.parquet")
      val pairs = spark.read.parquet(base + "/pairs.parquet")
      val edges = pairs.where(col("ia") < col("ib"))
        .select(col("ia").as("a"), col("ib").as("b"), col("w"))
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val (mst, _) = graft.ops.Components.boruvkaMst(ids, edges)
      val t1 = System.nanoTime(); val j1 = jobs.get()
      val labels = graft.ops.Components.singleLinkageLabels(
        mst, graft.ops.Components.HdbCuts)
      labels.write.mode("overwrite").format("noop").save()
      val t2 = System.nanoTime(); val j2 = jobs.get()
      println(f"SPLIT boruvka wall=${(t1 - t0) / 1e9}%7.2fs jobs=${j1 - j0}%4d")
      println(f"SPLIT sl_labels wall=${(t2 - t1) / 1e9}%7.2fs jobs=${j2 - j1}%4d")
    }
    val phases: Seq[(String, () => Unit)] =
      ("slink_split", () => slinkSplit()) +:
        graft.core.Substrate.all.map(sub =>
          (sub.name, () => { sub.root(spark, sfDir); () }))
    val sel = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    phases.filter(p => sel.forall(_.contains(p._1))).foreach { case (name, run) =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sqlContext.clearCache()
      System.gc()
      sites.clear()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      run()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name%-12s wall=$dt%7.2fs jobs=${jobs.get() - j0}%4d")
      if (sys.env.contains("SPARK_GRAFT_PROBE_SITES")) {
        import scala.jdk.CollectionConverters._
        sites.asScala.toSeq.sortBy(-_._2).take(15).foreach { case (cs, n) =>
          println(f"  SITE $n%4d  $cs") }
      }
    }
    spark.stop()
  }
}
