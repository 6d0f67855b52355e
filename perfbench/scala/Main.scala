package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and prints `RESULT {json}` on stdout.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --root <checkout> --work <scratch dir> --out <build dir>
  */
object Main {
  /** Session set-ups per run; setup_s is their median. */
  val Setups = 3

  val workloads: Map[String, Workload] =
    Seq(GatesShort, FlowGzLines).map(w => w.name -> w).toMap

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("root"), kv("work"), kv("out"))
    System.setProperty("perfbench.root", args.root)
    val wl = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    require(new File(s"${args.root}/perfbench/data/sf0.01/lineitem.parquet").isFile,
      "benchmark corpus missing under perfbench/data")

    val setupS = Array.ofDim[Double](Setups)
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(args)
      wl.warmup(spark, args)
      setupS(i) = if (i == 0) {
        // the first set-up counts from JVM start: class loading is set-up too
        (System.currentTimeMillis() -
          java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      } else (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"perfbench: set-ups ${setupS.map(Stats.num).mkString(", ")} s")

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val ctx = new Ctx(spark, args, rec)
    wl.prepare(ctx)

    timedLoop(ctx, wl)
    wl.verify(ctx)
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    val metrics =
      if (args.trace) traceMetrics(ctx, wl)
      else endToEnd(ctx, wl, Stats.median(setupS.toSeq))
    val json = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
      s""""$k": {"value": ${Stats.num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    spark.stop()
    val correct = ctx.failed == 0
    println(s"""RESULT {"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, "metrics": $json}""")
  }

  def session(args: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = graft.Sessions.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("perfbench")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed number of counted passes, `--seconds` over the workload's
    * nominal pass time: the same work on every run, whatever its speed, so
    * runs compare at the same point of the JVM's warm-up. A traced run
    * makes at least four, untraced, traced, traced, untraced, so the
    * tracing overhead is measured inside the run with that warm-up
    * cancelled out. */
  private def timedLoop(ctx: Ctx, wl: Workload): Unit = {
    val want = math.max(if (ctx.args.trace) 4 else 1,
      math.round(ctx.args.seconds / wl.passSeconds).toInt)
    var idx = 0
    def counted = ctx.passes.count(_.counted)
    while (counted < want) {
      val isCounted = idx >= wl.primingPasses
      val traced = ctx.args.trace && isCounted && (counted % 4 == 1 || counted % 4 == 2)
      ctx.pass = idx
      if (traced) attachTracing(ctx)
      val cg0 = codegenCounters()
      val start = System.currentTimeMillis()
      val p0 = System.nanoTime()
      wl.pass(ctx, idx)
      val ns = System.nanoTime() - p0
      ctx.passes += PassRec(idx, isCounted, traced, start, System.currentTimeMillis(), ns)
      if (traced) {
        ctx.codegen(idx) = codegenDelta(cg0, codegenCounters())
        detachTracing(ctx)
      }
      idx += 1
    }
    ctx.pass = -1
  }

  private def attachTracing(ctx: Ctx): Unit = {
    ctx.spark.listenerManager.register(ctx.rec.queryListener)
    ctx.spark.streams.addListener(ctx.rec.streamListener)
  }

  private def detachTracing(ctx: Ctx): Unit = {
    org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
    ctx.spark.listenerManager.unregister(ctx.rec.queryListener)
    ctx.spark.streams.removeListener(ctx.rec.streamListener)
  }

  /** (compiles, sum of compile ms, sum of source bytes) from Spark's codegen
    * histograms. Their reservoirs keep every sample up to 1028 updates, so
    * sums are exact below that and estimated from the mean above it. */
  private def codegenCounters(): (Long, Array[Long], Array[Long]) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = CodegenMetrics.METRIC_SOURCE_CODE_SIZE
    (t.getCount, t.getSnapshot.getValues, s.getSnapshot.getValues)
  }

  private def codegenDelta(a: (Long, Array[Long], Array[Long]),
                           b: (Long, Array[Long], Array[Long])): (Long, Double, Double) = {
    val n = b._1 - a._1
    def delta(x: Array[Long], y: Array[Long]): Double =
      if (b._1 <= 1028) (y.sum - x.sum).toDouble
      else if (y.isEmpty) 0.0 else n * y.sum.toDouble / y.length
    (n, delta(a._2, b._2), delta(a._3, b._3))
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)
  }

  private def endToEnd(ctx: Ctx, wl: Workload, setupS: Double): Map[String, (Double, String)] = {
    val counted = ctx.passes.filter(_.counted).toSeq
    val m = new RunMeasures(ctx, counted)
    val opS = ctx.countedOps(wl.opKinds).map(_.ns / 1e9)
    // a pass's time is that of its timed operations, without the checks
    val passS = counted.map(p => ctx.ops.filter(o => o.pass == p.idx && o.kind != "check").map(_.ns).sum / 1e9)
    val all = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(passS),
      "op_p50_s" -> Stats.median(opS),
      "op_p90_s" -> Stats.percentile(opS, 0.9),
      "read_mb_s" -> m.readBytes / 1e6 / passS.sum,
      "write_mb_s" -> m.writeBytes / 1e6 / passS.sum,
      "peak_rss_mb" -> peakRssMb()) ++ wl.endToEnd(ctx, m)
    require(all.keySet == EndToEnd.all.toSet,
      s"end-to-end metrics out of step with EndToEnd.all: ${all.keySet} vs ${EndToEnd.all}")
    ctx.ops.groupBy(o => s"${o.kind}:${o.name}").toSeq.sortBy(_._1).foreach { case (k, os) =>
      System.err.println(s"perfbench: op $k median ${Stats.num(Stats.median(os.map(_.ns / 1e9).toSeq))} s x${os.size}")
    }
    System.err.println(s"perfbench: counted passes ${passS.map(Stats.num).mkString(", ")} s")
    System.err.println(s"perfbench: ${counted.size} counted passes, ${opS.size} operations" +
      s" (p90 has ${Stats.beyond(opS.size, 0.9)} beyond)")
    all.map { case (k, v) => k -> (v, unitOf(k)) }
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_ms") || k.contains("_ms_")) "ms"
    else if (k.endsWith("_mb_s")) "MB/s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_kb")) "KB"
    else if (k.endsWith("_frac") || k.endsWith("_eff")) "frac"
    else "count"

  private def traceMetrics(ctx: Ctx, wl: Workload): Map[String, (Double, String)] = {
    val traced = ctx.passes.filter(_.traced).toSeq
    val plain = ctx.passes.filter(p => p.counted && !p.traced).toSeq
    val m = new RunMeasures(ctx, traced)
    def meanS(ps: Seq[PassRec]) = ps.map(_.ns).sum / 1e9 / ps.size
    val overhead = meanS(traced) / meanS(plain) - 1
    val spans = m.spans
    val dir = new File(ctx.args.out, "trace")
    dir.mkdirs()
    val stem = s"${ctx.args.workload}-seed${ctx.args.seed}"
    Files.write(new File(dir, s"$stem.spans.jsonl").toPath, Spans.toJsonLines(spans).getBytes(UTF_8))
    val table = Spans.table(ctx.args.workload, spans) +
      String.format(java.util.Locale.ROOT,
        "tracing overhead: %+.1f%% (mean traced pass %.3f s over %d, untraced %.3f s over %d)%n",
        Double.box(100 * overhead), Double.box(meanS(traced)), Int.box(traced.size),
        Double.box(meanS(plain)), Int.box(plain.size))
    Files.write(new File(dir, s"$stem.table.txt").toPath, table.getBytes(UTF_8))
    print(table)
    val zeros = Layers.all.map(_ -> 0.0).toMap
    val all = zeros ++ m.engineLayers ++ wl.layers(ctx, m) ++ Map(
      "trace.overhead_frac" -> overhead,
      "failed_frac" -> ctx.failed.toDouble / math.max(1, ctx.attempted))
    require(all.keySet == Layers.all.toSet,
      s"per-layer metrics out of step with Layers.all: ${all.keySet.diff(Layers.all.toSet)}")
    all.map { case (k, v) => k -> (v, unitOf(k)) }
  }
}

/** Every end-to-end metric name; each workload reports all of them. */
object EndToEnd {
  val all: Seq[String] = Seq("setup_s", "wall_s", "op_p50_s", "op_p90_s", "put_p50_ms",
    "put_p95_ms", "read_mb_s", "write_mb_s", "peak_rss_mb")
}

/** Every per-layer metric name; a metric a workload does not exercise
  * reads 0 there. */
object Layers {
  val all: Seq[String] = Seq(
    "graft.construct_s", "graft.action_s",
    "plan.queries", "plan.analysis_s", "plan.optimizer_s", "plan.physical_s",
    "plan.graft_rules_s", "plan.aqe_replans",
    "codegen.compiles", "codegen.compile_s", "codegen.source_kb",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.launch_wait_s", "sched.driver_gap_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.busy_frac",
    "io.scan_bytes", "io.shuffle_write_bytes", "io.shuffle_read_bytes", "io.fetch_wait_s",
    "io.spill_bytes", "io.output_bytes",
    "stream.batches", "stream.trigger_s", "stream.add_batch_s", "stream.query_planning_s",
    "stream.wal_commit_s", "stream.commit_offsets_s", "stream.outside_engine_s",
    "stream.coord_frac",
    "push.puts", "push.engine_ms_p50", "push.wait_ms_p50",
    "core.inflate_mb_s", "core.decode_mb_s", "text.byline_mb_s", "core.deflate_mb_s",
    "flow.parallel_eff",
    "trace.overhead_frac", "failed_frac")
}
