package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Per-round benchmark: times every declared query at the driver-chosen
  * scale factor and prints one JSON line. A warmup pass first absorbs
  * one-time JVM/codegen/parquet-footer costs so per-query numbers
  * reflect steady-state plan execution. Besides wall times it records
  * each run's Spark job count and, for streaming replays, the engine's
  * per-batch duration split (planning, WAL, commit, addBatch). */
object Bench {
  private final case class Gate(name: String, median: Double, spread: Double,
      err: Option[String], raw: Seq[Double], jobs: Seq[Int],
      batches: Seq[Seq[StreamingQueryProgress]])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // before the session starts, so a dead selector entry fails first
    val selected = Harness.selected()
    val spark = Harness.session("graft-bench")

    // Job and stream-batch counters. Each read waits until the listener
    // bus has delivered every posted event, runs outside the timed
    // window, and covers what ran since the previous read.
    val jobCount = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobCount.incrementAndGet(); () }
    })
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    def counted(): (Int, Seq[StreamingQueryProgress]) = {
      GraftBus.drain(spark.sparkContext)
      val batches = Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
      (jobCount.getAndSet(0), batches)
    }

    // Warmup: touch every table (footer/schema caches) and exercise
    // codegen + shuffle machinery once.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    Tables.events(spark, sfDir).count()
    spark.range(1000000).selectExpr("sum(id)").collect()
    // one-time Structured Streaming init (state-store provider classes,
    // checkpoint plumbing, the file source) so the stream gates measure
    // steady state
    locally {
      import org.apache.spark.sql.functions.{col, count => cnt, current_timestamp, lit, window}
      stream.StreamOps.replay(spark,
        spark.range(8).select(current_timestamp().as("ts"), col("id")),
        df => df.groupBy(window(col("ts"), "5 minutes")).agg(cnt(lit(1))))
    }

    // A failed query must be VISIBLE in the bench line (time -1 + an
    // errors map), never a healthy-looking small wall-time.
    //
    // Median of 3 runs per query: single-iteration wall times on this
    // box are ±25% under contention (SCALE.md), which made per-query
    // regression signals unadjudicable; the median is robust to one
    // contended run and the spread map records the noise band observed.
    val iters = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt)
    // Substrate builds: each shared build is made ONCE per JVM and then
    // read by its gates, so median-of-3 per-gate timing would drop it
    // from every number. Each build the selected gates need (the
    // closure of their declared `uses`, in registry order so deps come
    // first) is timed HERE, charged exactly once in the total, and
    // reported under "substrates"; the consumer gates' lines are
    // readouts by design. (The media fixtures are encoding scaffolding,
    // not operators under test, and stay uncharged.)
    val needed = core.Substrate.closure(selected.flatMap(_.uses))
    val substrates = needed.map { sub =>
      // drop the previous build's debris before timing this one: the
      // builds run back-to-back and the per-gate cleanup below never
      // runs between them. Safe because a substrate build can only
      // leave parquet behind (see [[core.Substrate]]), never a live
      // checkpointed frame that a later build would need.
      Harness.dropDebris(spark)
      System.gc()
      counted()
      val t0 = System.nanoTime()
      sub.root(spark, sfDir)
      val secs = (System.nanoTime() - t0) / 1e9
      (sub.name, secs, counted()._1)
    }
    var gateIdx = 0
    val results = selected.map { q =>
      // fail fast: a deterministically-failing query reports after its
      // FIRST failure instead of re-failing iters times, and the spread
      // is computed over successful runs only (mixing fast-fail times
      // into it would make the noise-band signal garbage exactly for
      // the queries being debugged)
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[(Double, Option[String], Int, Seq[StreamingQueryProgress])]
      counted()
      var i = 0
      while (i < iters && runs.forall(_._2.isEmpty)) {
        val t0 = System.nanoTime()
        val err = try { q.fn(spark, sfDir).count(); None }
                  catch { case e: Throwable =>
                    Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        val secs = (System.nanoTime() - t0) / 1e9
        val (jobs, batches) = counted()
        runs += ((secs, err, jobs, batches))
        i += 1
      }
      val err = runs.collectFirst { case (_, Some(e), _, _) => e }
      // Drop THIS gate's debris before the next one runs (see
      // Harness.dropDebris). Cleanup is outside the timed window and
      // makes per-gate numbers mean what they say.
      Harness.dropDebris(spark)
      // ContextCleaner reclaims shuffle files and broadcasts via WEAK
      // REFERENCES — with a large heap the JVM may never GC across the
      // whole suite, so nothing is ever reclaimed and the debris of
      // 350 gates lands on the late alphabetical tail (measured r13:
      // q322 at 8-11 s inside the full run vs 0.3 s solo, even after
      // the unpersist above). An explicit GC keeps the cleaner live —
      // but a full-heap STW pause per gate measurably jitters the
      // iterative gates (also measured), so it runs every 25th gate:
      // debris stays bounded at a 25-gate window, pauses drop 25×.
      gateIdx += 1
      if (gateIdx % 25 == 0) System.gc()
      val raw = runs.collect { case (t, None, _, _) => t }.toSeq // run order
      val times = raw.sorted
      Gate(q.name, if (times.isEmpty) -1.0 else times(times.size / 2),
        if (times.isEmpty) 0.0 else times.last - times.head,
        err, raw, runs.map(_._3).toSeq, runs.map(_._4).toSeq)
    }
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => Harness.quote(k) + ":" + v }.mkString("{", ",", "}")
    // Locale.ROOT: a comma-decimal default locale would print 0,123
    // and make every JSON line below invalid
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = obj(results.map(g => g.name -> (if (g.err.isDefined) "-1" else g.median.toString)))
    val spreads = obj(results.map(g => g.name -> g.spread.toString))
    // Raw per-iteration times in RUN ORDER: medians hide storm windows
    // (a 9.95 s median with a 14.2 s spread is unadjudicable from the
    // record alone). With the raw array a one-off contended iteration
    // is visible mechanically.
    val itersRaw = obj(results.map(g => g.name -> g.raw.map(f3).mkString("[", ",", "]")))
    // Spark jobs per substrate build, and per gate run in run order
    // (failed runs included)
    val jobs = obj(substrates.map { case (k, _, n) => k -> n.toString } ++
      results.map(g => g.name -> g.jobs.mkString("[", ",", "]")))
    // per streaming gate run: its batch count and the engine's
    // durationMs summed over those batches, by key
    val streamMs = obj(results.filter(_.batches.exists(_.nonEmpty)).map { g =>
      g.name -> g.batches.map { ps =>
        val sums = ps.flatMap(_.durationMs.asScala)
          .groupMapReduce(_._1)(_._2.longValue)(_ + _)
        obj((("batches" -> ps.size.toLong) +: sums.toSeq.sorted)
          .map { case (k, v) => k -> v.toString })
      }.mkString("[", ",", "]")
    })
    val errs = obj(results.collect { case Gate(k, _, _, Some(e), _, _, _) => k -> Harness.quote(e) })
    val subsJson = obj(substrates.map { case (k, v, _) => k -> f3(v) })
    // total = per-gate medians + each substrate build charged ONCE —
    // the builds are real work the per-gate numbers no longer contain
    val total = results.filter(_.err.isEmpty).map(_.median).sum +
      substrates.map(_._2).sum
    val nErr = results.count(_.err.isDefined)
    val sf = Harness.quote(sfDir)
    // The FULL record (spreads, raw iteration times, job counts, stream
    // batches, error detail) — printed as a PRECEDING line and
    // persisted to bench_full.json.
    val line = s"""{"metric":"total","queries":$qs,"iters":$iters,"spread":$spreads,"iters_raw":$itersRaw,"jobs":$jobs,"stream_ms":$streamMs,"errors":$errs,"substrates":$subsJson,"unit":"sec","sf":$sf,"n_errors":$nErr,"value":$total}"""
    println(line)
    // The FINAL stdout line is a compact summary that a reader keeping
    // only a short tail of stdout can still parse: millisecond medians
    // for every gate alone are ~10 KB, so it carries only the headline
    // fields (~300 characters); the per-gate medians stay in the full
    // line above and in the persisted record.
    val compact = s"""{"metric":"total","substrates":$subsJson,"unit":"sec","sf":$sf,"n_errors":$nErr,"value":${f3(total)}}"""
    // The driver's BENCH_rN.json keeps only a log tail (r7/r8 records
    // retained 51 of 134 per-query entries and no spreads — VERDICT r8
    // "what's wrong" #2, which forced solo re-benching to adjudicate
    // regressions). Persist the FULL line to a file so the record
    // survives intact; path overridable for dev runs.
    // A SUBSET run (dev loop) must never clobber the committed full
    // record — divert it to scratch unless an output was named.
    val out = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse(if (selected.size < SparkEntry.defs.size) "/tmp/bench_subset.json"
                 else "/root/repo/bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"bench: could not write $out: $e") }
    spark.stop()
    // after spark.stop() so no executor/cleaner WARN line can land
    // between the compact record and the end of stdout
    println(compact)
    if (nErr > 0) sys.exit(1)
  }
}
