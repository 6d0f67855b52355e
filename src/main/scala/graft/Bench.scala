package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: times every declared query at the driver-chosen
  * scale factor and prints one JSON line. A warmup pass first absorbs
  * one-time JVM/codegen/parquet-footer costs so per-query numbers
  * reflect steady-state plan execution. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.configure(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

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
    // Dev loop: SPARK_GRAFT_BENCH_ONLY=q74,q27 times just those queries.
    // Entries match by NAME PREFIX ("q7" selects q70..q79); an entry
    // matching nothing is a hard error so a typo can't produce an
    // empty-but-healthy-looking benchmark run. The driver never sets
    // it, so per-round numbers stay complete.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // a blank selector means "no restriction", not "nothing"
    only.foreach { o =>
      val dead = o.filterNot(p => SparkEntry.queries.keys.exists(_.startsWith(p)))
      require(dead.isEmpty, s"SPARK_GRAFT_BENCH_ONLY entries match no query: $dead")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(o => o.exists(n.startsWith)) }
    // Substrate builds: each shared build is made ONCE per JVM and then
    // read by its gates, so median-of-3 per-gate timing would drop it
    // from every number. Each build the selected gates need (the
    // closure of their declared `uses`, in registry order so deps come
    // first) is timed HERE, charged exactly once in the total, and
    // reported under "substrates"; the consumer gates' lines are
    // readouts by design. (The media fixtures are encoding scaffolding,
    // not operators under test, and stay uncharged.)
    val selectedNames = selected.map(_._1).toSet
    val needed = core.Substrate.closure(
      SparkEntry.defs.filter(d => selectedNames(d.name)).flatMap(_.uses))
    val substrates = needed.map { sub =>
      // drop the previous build's debris before timing this one: the
      // builds run back-to-back and the per-gate cleanup below never
      // runs between them. Safe because a substrate build can only
      // leave parquet behind (see [[core.Substrate]]), never a live
      // checkpointed frame that a later build would need.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sqlContext.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      sub.root(spark, sfDir)
      sub.name -> (System.nanoTime() - t0) / 1e9
    }
    var gateIdx = 0
    val results = selected.map { case (name, fn) =>
      // fail fast: a deterministically-failing query reports after its
      // FIRST failure instead of re-failing iters times, and the spread
      // is computed over successful runs only (mixing fast-fail times
      // into it would make the noise-band signal garbage exactly for
      // the queries being debugged)
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Double, Option[String])]
      var i = 0
      while (i < iters && runs.forall(_._2.isEmpty)) {
        val t0 = System.nanoTime()
        val err = try { fn(spark, sfDir).count(); None }
                  catch { case e: Throwable =>
                    Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}") }
        runs += (((System.nanoTime() - t0) / 1e9, err))
        i += 1
      }
      val err = runs.collectFirst { case (_, Some(e)) => e }
      // Drop THIS gate's debris before the next one runs: gates pin
      // intermediates via Materialize.pin (RDD blocks in the block
      // manager) and some register temp views/cached relations — across
      // 350+ gates in one JVM the accumulation turns the late
      // alphabetical tail into a storage-eviction storm (measured r13:
      // q312 at 60 s inside the full run vs 3-5 s solo, ALL iterations
      // slow — session debris, not scheduler noise). Cleanup is outside
      // the timed window and makes per-gate numbers mean what they say.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sqlContext.clearCache()
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
      val raw = runs.collect { case (t, None) => t }.toSeq // run order
      val times = raw.sorted
      if (times.isEmpty) (name, -1.0, 0.0, err, raw)
      else (name, times(times.size / 2), times.last - times.head, err, raw)
    }
    val qs = results.map { case (k, v, _, err, _) =>
      "\"" + k + "\":" + (if (err.isDefined) "-1" else v.toString)
    }.mkString("{", ",", "}")
    val spreads = results.map { case (k, _, sp, _, _) =>
      "\"" + k + "\":" + sp.toString
    }.mkString("{", ",", "}")
    // Raw per-iteration times in RUN ORDER: medians hide storm windows
    // (a 9.95 s median with a 14.2 s spread is unadjudicable from the
    // record alone — VERDICT r9 "what's wrong" #3). With the raw array
    // a one-off contended iteration is visible mechanically.
    // Locale.ROOT: a comma-decimal default locale would print 0,123
    // and make every JSON line below invalid
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val itersRaw = results.map { case (k, _, _, _, raw) =>
      "\"" + k + "\":" + raw.map(f3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // full JSON string escaping: Spark analysis errors routinely embed
    // newlines/plans in the first line of the message
    def jsonEscape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = results.collect { case (k, _, _, Some(e), _) =>
      "\"" + k + "\":\"" + jsonEscape(e) + "\""
    }.mkString("{", ",", "}")
    val subsJson = substrates.map { case (k, v) =>
      "\"" + k + "\":" + f3(v)
    }.mkString("{", ",", "}")
    // total = per-gate medians + each substrate build charged ONCE —
    // the builds are real work the per-gate numbers no longer contain
    val total = results.collect { case (_, v, _, None, _) => v }.sum +
      substrates.map(_._2).sum
    val nErr = results.count(_._4.isDefined)
    // The FULL record (spreads, raw iteration times, error detail) —
    // printed as a PRECEDING line and persisted to bench_full.json.
    val line = s"""{"metric":"total","queries":$qs,"iters":$iters,"spread":$spreads,"iters_raw":$itersRaw,"errors":$errs,"substrates":$subsJson,"unit":"sec","sf":"$sfDir","n_errors":$nErr,"value":$total}"""
    println(line)
    // The FINAL stdout line is a compact summary that a reader keeping
    // only a short tail of stdout can still parse: millisecond medians
    // for every gate alone are ~10 KB, so it carries only the headline
    // fields (~300 characters); the per-gate medians stay in the full
    // line above and in the persisted record.
    val compact = s"""{"metric":"total","substrates":$subsJson,"unit":"sec","sf":"$sfDir","n_errors":$nErr,"value":${f3(total)}}"""
    // The driver's BENCH_rN.json keeps only a log tail (r7/r8 records
    // retained 51 of 134 per-query entries and no spreads — VERDICT r8
    // "what's wrong" #2, which forced solo re-benching to adjudicate
    // regressions). Persist the FULL line to a file so the record
    // survives intact; path overridable for dev runs.
    // A SUBSET run (dev loop) must never clobber the committed full
    // record — divert it to scratch unless an output was named.
    val out = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_BENCH_OUT"))
      .getOrElse(if (only.isDefined) "/tmp/bench_subset.json"
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
