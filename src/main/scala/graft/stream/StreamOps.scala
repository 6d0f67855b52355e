package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.QueryDef
import graft.QueryDef.{dsum, dsumSql}

/** Row types for the streamed sorted-neighborhood pass (top-level —
  * encoder reflection, see MediaMeta's note). */
final case class SnmDoc(doc_id: Long, key: String, sh: Seq[String])
final case class SnmPair(id_a: Long, id_b: Long, jac: Double)
final case class AnomEvent(event_id: Long, user_id: Long, event_type: String,
  value: Double, ts_us: Long)
final case class AnomFlag(event_id: Long, user_id: Long, event_type: String,
  value: Double, z: Double)
final case class RangeFeat(event_id: Long, user_id: Long, ts_us: Long,
  n_1h: Long, sum_1h: Double)
final case class IvEvent(user_id: Long, event_id: Long, st: Long, en: Long)
final case class IvUpd(user_id: Long, k: Long, n_islands: Long,
  covered_us: Long)
final case class IvState(curSt: Long, curEn: Long, closedCov: Long,
  nClosed: Long, k: Long)
final case class EwmaOut(event_type: String, b_us: Long, v: Double,
  ewma: Double)
final case class EwmaState(openB: Long, openCents: Long,
  ring: Seq[(Long, Double)])
final case class TwapOut(user_id: Long, tsu: Long, n_so_far: Long,
  twap_run: Double)
// area9 is the EXACT scale-9 decimal accumulator serialized as a string
// — a double here would drift from the batch oracle's DECIMAL(38,9) sum
// (ulp(1e11) ≈ 1.5e-5 per term) and can flip round@6 at the boundary
final case class TwapState(firstTs: Long, lastTs: Long, lastV: Double,
  n: Long, area9: String)
final case class LedgerMove(sk: Long, shipUs: Long, okey: Long, lnum: Long,
  pkey: Long, delta: Long)
final case class BalanceOut(sk: Long, move_idx: Long, b: Long)
// cursor = the full move tuple: (ship, order, line) is not unique in the
// corpus, so the order extends with partkey and delta; remaining ties are
// identical moves, order-invariant under the clamp
final case class BalanceState(b: Long, n: Long, lastShip: Long,
  lastOkey: Long, lastLnum: Long, lastPk: Long, lastDelta: Long)

/** Event-time streaming operators (✚ extensions; the reference's push
  * pipelines are unbounded but have no event time, SURVEY.md §2.7).
  * Each transform works identically on a batch or streaming DataFrame —
  * the `_stream_` gates and the streaming specs replay the same data
  * through [[StreamOps.replay]]'s file source and assert equality with
  * the batch result.
  */
object StreamOps {

  private def wm(df: DataFrame, delay: String): DataFrame =
    if (df.isStreaming) df.withWatermark("ts", delay) else df

  /** Tumbling event-time window aggregate with watermark. */
  def tumbling(events: DataFrame, width: String = "5 minutes",
               watermark: String = "10 minutes"): DataFrame =
    wm(events, watermark)
      .groupBy(window(col("ts"), width).getField("start").as("w_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))

  /** Sliding window (10 min window, 5 min slide). */
  def sliding(events: DataFrame, width: String = "10 minutes",
              slide: String = "5 minutes", watermark: String = "10 minutes"): DataFrame =
    wm(events, watermark)
      .groupBy(window(col("ts"), width, slide).getField("start").as("w_start"),
               col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Session windows: events within `gap` merge into one session.
    * Native session_window — in streaming this is state-store-backed
    * session merging; in batch it compiles to a sort-based merge.
    *
    * The watermark delay defaults to the GAP itself: any event up to
    * `gap` late still belongs to a session that is, by the gap's own
    * definition, possibly still open — a delay shorter than the gap
    * would drop events from open sessions (callers may pass a LONGER
    * delay to also admit late arrivals into already-closed sessions). */
  def sessions(events: DataFrame, gap: String = "30 minutes",
               watermark: Option[String] = None): DataFrame =
    wm(events, watermark.getOrElse(gap))
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
              col("sw.end").as("sess_end"), col("n_events"))

  /** Replay-scratch directory: tmpfs (/dev/shm) when present, else the
    * JVM temp dir. A micro-batch commits an offset-log entry, a commit-
    * log entry, and one state-store delta per partition — dozens of
    * small synced files per batch, kept off the disk-backed /tmp.
    * Production checkpoints go to the durable DFS — this shortcut is for
    * BOUNDED replays whose lifetime is one call. */
  private def scratchDir(): String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) shm.toPath
               else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft-replay").toString
  }

  /** Shuffle partitions of a replay's query. Stateful streaming creates
    * one state store per shuffle partition per micro-batch and AQE
    * cannot coalesce them, so the count is pinned for the replay. */
  private val statePartitions = 8

  /** The bounded-replay scaffold. Each input is staged as `chunks`
    * parquet files in its own landing directory and re-read through
    * `spark.readStream` with maxFilesPerTrigger=1, so each file arrives
    * as its own micro-batch and no input row passes through the driver
    * — at production scale, a landing-directory pipeline picking up
    * files as an upstream writer drops them. `query(sources, sink)`
    * builds the writer (`sink` is a scratch directory it may write
    * to); it starts with the session's shuffle partitions set to
    * [[statePartitions]] and AQE off (the session is cloned into the
    * query at start and both confs are restored right after;
    * streaming never runs AQE, and with it on every start warns so).
    * It runs under `Trigger.AvailableNow`, which keeps the one-file
    * batches and ends the query once every file is processed, so the
    * stop that follows finds no live query thread whose jobs it would
    * have to cancel. `result(sink)` is then copied into a local
    * DataFrame with its own schema, so it outlives the scratch
    * directories.
    *
    * Cleanup runs on every exit: the scratch tree is deleted, and the
    * stopped query's state-store providers are unloaded — their
    * in-heap version maps reference the deleted checkpoint and would
    * otherwise live until the 60 s maintenance sweep, slowing every
    * later replay in a long JVM (StreamingSpec checks both). */
  private def replayScaffold(spark: SparkSession, inputs: Seq[DataFrame],
      chunks: Int, arrivalOrder: Seq[Column])
      (query: (Seq[DataFrame], String) => DataStreamWriter[Row])
      (result: String => DataFrame): DataFrame = {
    val root = scratchDir()
    try {
      val sources = inputs.zipWithIndex.map { case (in, i) =>
        val dir = s"$root/src$i"
        writeChunkedOrdered(in, dir, chunks, arrivalOrder)
        spark.readStream.schema(in.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir)
      }
      val pinned = Seq("spark.sql.shuffle.partitions" -> statePartitions.toString,
        "spark.sql.adaptive.enabled" -> "false")
      val prev = pinned.map { case (k, _) => k -> spark.conf.get(k) }
      pinned.foreach { case (k, v) => spark.conf.set(k, v) }
      val q =
        try query(sources, s"$root/sink")
          .option("checkpointLocation", s"$root/checkpoint")
          .trigger(Trigger.AvailableNow()).start()
        finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        q.awaitTermination()
        val out = result(s"$root/sink")
        spark.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
      } finally q.stop()
    } finally {
      // StateStore.unloadAll() is private[sql] in source but public in
      // bytecode — reflection, with a no-op fallback: losing this
      // cleanup only re-slows a long JVM, never changes results
      try {
        val ss = org.apache.spark.sql.execution.streaming.state.StateStore
        ss.getClass.getMethod("unloadAll").invoke(ss)
      } catch { case scala.util.control.NonFatal(_) => }
      graft.core.Scratch.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  /** Memory-sink replay of one input: [[replayFanIn]] with one source. */
  def replay(spark: SparkSession, input: DataFrame,
             transform: DataFrame => DataFrame,
             chunks: Int = 2,
             outputMode: String = "complete",
             arrivalOrder: Seq[Column] = Nil): DataFrame =
    replayFanIn(spark, Seq(input), (srcs: Seq[DataFrame]) => transform(srcs.head),
      chunks, outputMode, arrivalOrder)

  /** Memory-sink replay: `transform` runs as one streaming query over
    * the file streams of `inputs` and the sink's complete contents come
    * back as a local DataFrame. With several inputs this is fan-in
    * (mux), the union side of flod's roadmap item "multiplexing and
    * demultiplexing streams" (flod README.md:46-47): each input replays
    * from its own landing directory (independent arrival order, as real
    * multi-feed ingestion has no global order), and `transform`
    * receives the raw per-source streams so it can place a watermark on
    * EACH branch before the union — Spark then advances the query
    * watermark as the MIN across sources, so a fast feed cannot expire
    * state a slow feed still needs. The memory sink's temp view is
    * dropped before returning, so no replay leaves its result set
    * registered in the session. */
  def replayFanIn(spark: SparkSession, inputs: Seq[DataFrame],
                  transform: Seq[DataFrame] => DataFrame,
                  chunks: Int = 2,
                  outputMode: String = "complete",
                  arrivalOrder: Seq[Column] = Nil): DataFrame = {
    require(inputs.nonEmpty, "a replay needs at least one source")
    val name = s"bounded_${System.identityHashCode(inputs)}"
    try replayScaffold(spark, inputs, chunks, arrivalOrder) { (sources, _) =>
        transform(sources).writeStream.outputMode(outputMode)
          .format("memory").queryName(name)
      }(_ => spark.table(name))
    finally spark.catalog.dropTempView(name)
  }

  /** foreachBatch replay: ONE streaming query over `input`, staged as 3
    * chunks, whose every micro-batch goes to `write(batch, sink)`, which
    * writes it under the scratch directory `sink` — executor-side, in
    * as many sinks and layouts as it likes (the demux side of flod's
    * roadmap item). Once the stream is drained, `read(sink)` reads the
    * finished sinks back, and its result is returned as a local
    * DataFrame before the sink directory is deleted. */
  def replayForeachBatch(spark: SparkSession, input: DataFrame)
                        (write: (DataFrame, String) => Unit)
                        (read: String => DataFrame): DataFrame =
    replayScaffold(spark, Seq(input), 3, Nil) { (sources, sink) =>
      sources.head.writeStream.outputMode("append")
        .foreachBatch { (batch: Dataset[Row], _: Long) => write(batch, sink) }
    }(read)

  /** Write `input` into `dir` as `chunks` parquet file groups for
    * file-source replay. With `arrivalOrder` set, simulates a source
    * that honors the watermark's bounded-disorder contract: chunks are
    * event-time ranges written oldest-first with strictly increasing,
    * explicitly pinned mtimes, so the file source replays them in order
    * and no row arrives behind the watermark. Watermark-free transforms
    * (pure aggregations) can skip it — their arithmetic is
    * arrival-order-independent by construction. */
  private def writeChunkedOrdered(input: DataFrame, dir: String, chunks: Int,
      arrivalOrder: Seq[Column]): Unit = {
    if (arrivalOrder.isEmpty)
      input.repartition(chunks).write.mode("overwrite").parquet(dir)
    else {
      // one pass: range-partition and write every chunk in a single
      // partitionBy job, then lift the files out of their chunk subdirs
      // (driver-side renames, at most one per chunk) and stamp mtimes
      input.repartitionByRange(chunks, arrivalOrder: _*)
        .withColumn("_chunk", spark_partition_id())
        .write.partitionBy("_chunk").mode("overwrite").parquet(dir)
      // FileStreamSource orders files by modification time; filesystem
      // mtime granularity can be as coarse as 1 s, so write-order
      // timestamps alone don't guarantee the replay order. Stamp each
      // chunk's files EXPLICITLY with strictly increasing mtimes
      // (distinct within a chunk too) and verify the stamp took.
      // stamps are whole seconds (coarsest common granularity) counted
      // back from now, strictly increasing across AND within chunks
      var seq = 0L
      val base = (System.currentTimeMillis() / 1000L) * 1000L - 60L * 1000L
      val root = new java.io.File(dir)
      (0 until chunks).foreach { i =>
        val sub = new java.io.File(root, s"_chunk=$i")
        Option(sub.listFiles).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
          .foreach { f =>
            val dst = new java.io.File(root, s"c$i-${f.getName}")
            require(f.renameTo(dst),
              s"cannot move $f — arrival-ordered replay needs flat files")
            val t = base + seq * 1000L
            seq += 1
            require(dst.setLastModified(t) && dst.lastModified() == t,
              s"cannot pin mtime of $dst — arrival-ordered replay would be " +
                "nondeterministic on this filesystem")
          }
        // leftover .crc metadata; `_`-prefixed dirs are reader-hidden anyway
        graft.core.Scratch.deleteRecursively(sub.toPath)
      }
    }
  }

  /** Stream-stream interval join: purchases within 30 minutes after a
    * click by the same user. Watermarks on BOTH sides bound the join
    * state; the time-range predicate lets Spark drop expired state. The
    * watermark node sits above the source (before filtering) so any event
    * advances it. Works identically on batch input (wm no-ops). */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val e = wm(events, "30 minutes")
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
      col("purchase_ts") >= col("click_ts") &&
      col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
  }

  /** Streaming first-seen dedup — custom keyed state via
    * flatMapGroupsWithState (SURVEY.md §1.3: Spark's state store replaces
    * the reference's in-pipeline buffering for unbounded flows). Emits
    * each key's first element only, across micro-batches.
    *
    * State is BOUNDED by default: each key's entry expires `ttl` after
    * its FIRST occurrence. The state value is the first-seen
    * processing-time anchor, and the timeout is re-armed for the
    * REMAINING window on every invocation — Spark clears a group's
    * registered timeout whenever the function runs with data for that
    * key, so a suppressed repeat that did not re-arm would silently
    * cancel expiry and leak the key's state forever (the r3 advisor's
    * finding). After expiry the key re-emits — the standard
    * windowed-dedup contract for unbounded key spaces at 100 TB, where
    * never-expiring state is an unbounded state store. Pass
    * `ttl = None` only for genuinely finite key domains. */
  def firstSeen[K, V](ds: Dataset[V], key: V => K,
                      ttl: Option[java.time.Duration] = Some(java.time.Duration.ofHours(24)))
                     (implicit ke: org.apache.spark.sql.Encoder[K],
                      ve: org.apache.spark.sql.Encoder[V]): Dataset[V] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    val conf = if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
               else GroupStateTimeout.NoTimeout
    ds.groupByKey(key).flatMapGroupsWithState(OutputMode.Append, conf) {
      (_: K, values: Iterator[V], state: GroupState[Long]) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else if (state.exists) {
          // suppressed repeat: re-arm for what is LEFT of the window so
          // the expiry stays anchored at first sight
          ttl.foreach { t =>
            val anchor = state.get
            state.setTimeoutDuration(
              math.max(1L, anchor + t.toMillis - state.getCurrentProcessingTimeMs()))
          }
          Iterator.empty
        } else {
          state.update(state.getCurrentProcessingTimeMs())
          ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
          values.take(1)
        }
    }
  }

  /** Shared oracle for the session-window gates (q31 batch-declared,
    * q68 stream-executed): lag-based sessionization with the strict '>'
    * new-session test that matches the native operator's measured
    * merge-at-equality boundary rule. */
  private val sessionsOracleSql =
    """SELECT user_id, MIN(ts) AS sess_start,
      |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, ts,
      |      CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |           THEN 1 ELSE 0 END AS new_sess
      |    FROM (
      |      SELECT user_id, ts,
      |        LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      |      FROM events) a) b) c
      |GROUP BY user_id, session_id ORDER BY user_id, sess_start""".stripMargin

  /** Batch-declared twins for the correctness gate. */
  /** STREAMED sorted-neighborhood pass: pre-shingled docs arrive in
    * sort-key-ordered chunks (the arrivalOrder contract — upstream
    * delivers key-range runs, exactly what a sorted landing directory
    * or a range-partitioned exporter produces) and a stateful operator
    * compares each row with its `window`-1 predecessors, carrying the
    * trailing rows ACROSS micro-batch boundaries so no neighbor pair
    * is lost at a chunk edge. Each pair is emitted exactly once — by
    * the batch where its LATER row first arrives (bounded replay never
    * re-delivers a row). State is `window`-1 rows, constant forever.
    *
    * Jaccard arithmetic mirrors the batch operator bit-for-bit: same
    * distinct-shingle arrays (built by graft_ngrams BEFORE the stream,
    * the carry-digests-not-text production shape Dedup.scala
    * documents), same inter/(na+nb−inter) double division, and
    * BigDecimal.valueOf half-up scaling — the exact algorithm of
    * Spark's round(_, 6).
    *
    * Scale note: the gate keys all rows to ONE state group (the chunks
    * are one global sorted run). A 100 TB deployment range-partitions
    * the key space into G sorted sub-streams, runs this operator per
    * group, and ships each boundary row to both adjacent ranges — the
    * standard SNM overlap trick; the per-group state and arithmetic
    * are exactly what this gate exercises. */
  def snmPairsStream(docs: DataFrame, window: Int = 4,
                     tau: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[SnmDoc].groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, it: Iterator[SnmDoc], state: GroupState[Seq[SnmDoc]]) =>
          val carry = state.getOption.getOrElse(Seq.empty)
          val fresh = it.toSeq.sortBy(r => (r.key, r.doc_id))
          val all = (carry ++ fresh).toIndexedSeq
          val out = Seq.newBuilder[SnmPair]
          var p = carry.length
          while (p < all.length) {
            var q = math.max(0, p - (window - 1))
            while (q < p) {
              val (a, b) = (all(q), all(p))
              val inter = a.sh.toSet.intersect(b.sh.toSet).size
              val jac = BigDecimal.valueOf(
                  inter.toDouble / (a.sh.size + b.sh.size - inter))
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              if (jac >= tau)
                out += SnmPair(math.min(a.doc_id, b.doc_id),
                  math.max(a.doc_id, b.doc_id), jac)
              q += 1
            }
            p += 1
          }
          state.update(all.takeRight(window - 1))
          out.result().iterator
      }.toDF()
  }

  /** STREAMED rolling-anomaly flags — the stateful twin of batch q149:
    * events arrive per user in event-time order (the arrivalOrder
    * contract) and a keyed state operator carries each user's trailing
    * `frame` observations across micro-batch boundaries, z-scoring
    * every arrival against the history that PRECEDES it (self-
    * excluding, exactly the batch ROWS 20 PRECEDING..1 PRECEDING
    * frame). State is ≤ frame rows per user, constant forever — the
    * always-on monitoring deployment of the batch audit.
    *
    * Arithmetic mirrors batch q149 bit-for-bit: the frame sums are
    * exact BigDecimal scale-2/scale-4 values (the decimal(12,2) cast
    * and its square), collapsed to double only where the batch plan
    * casts, and the z cut applies after the same half-up round@6 —
    * so the stream twin cannot flag a different row set. */
  def rollingAnomalyStream(events: DataFrame, frame: Int = 20,
      minHist: Int = 10, cut: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.as[AnomEvent].groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AnomEvent], state: GroupState[Seq[AnomEvent]]) =>
          var hist = state.getOption.getOrElse(Seq.empty).toIndexedSeq
          val out = Seq.newBuilder[AnomFlag]
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val n = hist.length
            if (n >= minHist) {
              val dvs = hist.map(h => BigDecimal.valueOf(h.value)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP))
              val sx = dvs.sum.toDouble
              val sx2 = dvs.map(d => d * d).sum.toDouble
              val mean = sx / n
              val vr = (sx2 - sx * sx / n) / (n - 1)
              if (vr > 0) {
                val z = BigDecimal.valueOf((e.value - mean) / math.sqrt(vr))
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                if (math.abs(z) > cut)
                  out += AnomFlag(e.event_id, e.user_id, e.event_type,
                    e.value, z)
              }
            }
            hist = (hist :+ e).takeRight(frame)
          }
          state.update(hist)
          out.result().iterator
      }.toDF()
  }

  /** STREAMED trailing time-RANGE features — the stateful twin of
    * batch q158, and the suite's one TIME-EVICTED state operator: the
    * q151 anomaly state is bounded by COUNT (last 20 rows forever);
    * this one is bounded by TIME — events older than the window behind
    * the group's processing frontier can never enter a future frame
    * and are dropped as the frontier advances, so state is one
    * window's worth of per-key traffic regardless of retention.
    *
    * Frame semantics mirror the batch RANGE frame exactly: membership
    * [ts−window, ts−1] by VALUE (same-instant peers excluded), sums
    * exact BigDecimal scale-2 collapsed to double once, empty frames
    * emit n=0/sum=0.0 — every event emits a row, as in batch. */
  def rangeFeaturesStream(events: DataFrame,
      windowUs: Long = 3600000000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.as[AnomEvent].groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AnomEvent], state: GroupState[Seq[AnomEvent]]) =>
          var hist = state.getOption.getOrElse(Seq.empty).toIndexedSeq
          val out = Seq.newBuilder[RangeFeat]
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val frame = hist.filter(h =>
              h.ts_us >= e.ts_us - windowUs && h.ts_us <= e.ts_us - 1)
            val sum =
              if (frame.isEmpty) 0.0
              else frame.map(h => BigDecimal.valueOf(h.value)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
            out += RangeFeat(e.event_id, e.user_id, e.ts_us,
              frame.length.toLong, sum)
            // time eviction: h can only enter a future frame if some
            // later event (ts' >= e.ts) has ts' - window <= h.ts
            hist = (hist :+ e).filter(_.ts_us >= e.ts_us - windowUs)
          }
          state.update(hist)
          out.result().iterator
      }.toDF()
  }

  /** Frame-bounded EWMA THROUGH the streaming engine (q201's twin):
    * per event_type, 5-minute bucket sums close when a LATER bucket's
    * first event arrives (the watermark-style closure a streaming
    * resampler actually has — the final, still-open bucket never
    * emits), and each closed bucket's EWMA folds the last ≤12 closed
    * values carried in state ACROSS micro-batch edges. Exact-parity
    * discipline: bucket sums accumulate in integer cents (the decimal
    * cast's HALF_UP rounding mirrored per event), v = cents/100.0 is
    * the same correctly-rounded double as the batch decimal→double
    * cast, and the EWMA folds oldest→newest with Math.pow(0.7, j)
    * weights — the identical float op order as q201's lag chain. */
  def ewmaStream(events: DataFrame, bucketUs: Long = 300000000L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def ewma(vs: IndexedSeq[Double]): Double = {
      val m = vs.length
      var num = 0.0; var den = 0.0; var i = 0
      while (i < m) { // oldest first — q201's fold order
        val w = Math.pow(0.7, (m - 1 - i).toDouble)
        num += vs(i) * w; den += w; i += 1
      }
      num / den
    }
    events.as[AnomEvent].groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[AnomEvent], state: GroupState[EwmaState]) =>
          var st = state.getOption.getOrElse(EwmaState(Long.MinValue, 0L, Nil))
          val out = Seq.newBuilder[EwmaOut]
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            val b = e.ts_us - java.lang.Math.floorMod(e.ts_us, bucketUs)
            val cents = BigDecimal.valueOf(e.value)
              .setScale(2, BigDecimal.RoundingMode.HALF_UP)
              .*(BigDecimal(100)).toLongExact
            if (st.openB == Long.MinValue) st = EwmaState(b, cents, st.ring)
            else if (b == st.openB) st = st.copy(openCents = st.openCents + cents)
            else {
              // arrival-order contract: the replay writes event-time-
              // ranged chunks oldest-first, so a bucket older than the
              // open one cannot arrive — fail loudly, never mis-merge
              require(b > st.openB,
                s"$key: bucket $b arrived behind open ${st.openB}")
              val v = st.openCents / 100.0
              val frame = (st.ring.map(_._2) :+ v).toIndexedSeq
              out += EwmaOut(key, st.openB, v, ewma(frame))
              st = EwmaState(b, cents,
                (st.ring :+ (st.openB, v)).takeRight(11))
            }
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** q234's hold-last time-weighted mean THROUGH the streaming engine:
    * per user, keyed state carries (first ts, last ts, last value, the
    * exact scale-9 area accumulator) across micro-batch edges, and
    * every event after a user's first emits the RUNNING TWAP at that
    * instant — the live SLO/price monitor view of the batch metric.
    * Exact-parity discipline: each held-value contribution
    * lastV·(ts−prev_ts) rounds@9 into a BigDecimal accumulator
    * (bit-equal to the oracle's DECIMAL(38,9) running sum, any fold
    * order), and the emitted double is area/span with the identical
    * expression shape. Arrival contract: event-time-ranged chunks
    * oldest-first (same-key, same-instant rows may co-arrive; a ts
    * strictly behind the carried last is a replay violation and fails
    * loudly). Scale: state is O(1) per user — five fields — and the
    * shuffle keys on user_id only. */
  def twapStream(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.as[AnomEvent].groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[AnomEvent], state: GroupState[TwapState]) =>
          val out = Seq.newBuilder[TwapOut]
          var st = state.getOption.orNull
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (st == null)
              st = TwapState(e.ts_us, e.ts_us, e.value, 1L, "0.000000000")
            else {
              require(e.ts_us >= st.lastTs,
                s"user $key: ts ${e.ts_us} arrived behind ${st.lastTs}")
              val term = BigDecimal.valueOf(
                  st.lastV * ((e.ts_us - st.lastTs).toDouble / 1e6))
                .setScale(9, BigDecimal.RoundingMode.HALF_UP)
              val area = BigDecimal(st.area9) + term
              val span = (e.ts_us - st.firstTs).toDouble / 1e6
              // zero span (event at the user's first instant) has no
              // defined mean yet — skip emission, keep accumulating;
              // the oracle's tsu > fts filter is the same cut
              if (span > 0)
                out += TwapOut(key, e.ts_us, st.n + 1L, area.toDouble / span)
              st = TwapState(st.firstTs, e.ts_us, e.value, st.n + 1L,
                area.toString)
            }
          }
          if (st != null) state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** q249's clamped ledger THROUGH the streaming engine — and the twin
    * is the PROOF of q249's algebra: the stream runs the literal
    * sequential clamp b ← max(0, b + δ) in O(1) per-key state (the
    * only thing a streaming consumer CAN run), the batch oracle
    * evaluates the prefix-min identity bₜ = Sₜ − min(0, min_{j≤t} Sⱼ)
    * in pure windows — hash equality of every intermediate balance is
    * exactly the identity's correctness, checked row-for-row by the
    * driver. All arithmetic is BIGINT; arrival is (shipdate, order,
    * line)-ranged chunks, per-key order violations fail loudly. */
  def balanceStream(moves: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = moves.sparkSession
    import spark.implicits._
    moves.as[LedgerMove].groupByKey(_.sk)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[LedgerMove], state: GroupState[BalanceState]) =>
          var st = state.getOption.getOrElse(
            BalanceState(0L, 0L, Long.MinValue, Long.MinValue, Long.MinValue,
              Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[BalanceOut]
          it.toSeq.sortBy(m => (m.shipUs, m.okey, m.lnum, m.pkey, m.delta))
            .foreach { m =>
            val ord = (m.shipUs, m.okey, m.lnum, m.pkey, m.delta)
            // >= not >: full-tuple-identical moves legitimately repeat
            require(Ordering[(Long, Long, Long, Long, Long)].gteq(ord,
                (st.lastShip, st.lastOkey, st.lastLnum, st.lastPk,
                  st.lastDelta)),
              s"supplier $key: move $ord arrived behind state cursor")
            st = BalanceState(math.max(0L, st.b + m.delta), st.n + 1L,
              m.shipUs, m.okey, m.lnum, m.pkey, m.delta)
            out += BalanceOut(key, st.n, st.b)
          }
          state.update(st)
          out.result().iterator
      }.toDF()
  }

  /** Oracle of q184_stream_dedup and q191_stream_fanin. */
  private val distinctFpOracleSql =
    """SELECT DISTINCT md5(text) AS fp FROM documents
      |ORDER BY fp""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // q201's EWMA THROUGH the streaming engine: same bucket sums, same
    // 12-value frame, same float fold — but the frame state lives in
    // the state store and survives micro-batch edges (the carry under
    // test), and bucket closure is arrival-driven. The oracle is
    // q201's minus each type's final bucket (never closed by a later
    // arrival — the honest streaming semantics, asserted not papered
    // over). round() applies in the DataFrame so both engines' outputs
    // go through the identical rounding path as batch q201.
    QueryDef("q217_stream_ewma",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        replay(s, input, ewmaStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("ts_us"), col("event_id")))
          .select(col("event_type"), col("b_us"),
            round(col("v"), 2).as("v"), round(col("ewma"), 5).as("ewma"))
          .orderBy("event_type", "b_us")
      },
      Some("""WITH bucketed AS (
             |  SELECT event_type,
             |    make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b,
             |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
             |  FROM events GROUP BY 1, 2),
             |fr AS (
             |  SELECT event_type, b, v,
             |    list(v) OVER (PARTITION BY event_type ORDER BY b
             |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS fr,
             |    MAX(b) OVER (PARTITION BY event_type) AS mb
             |  FROM bucketed)
             |SELECT event_type, epoch_us(b) AS b_us, round(v, 2) AS v,
             |  round(
             |    list_sum(list_transform(range(1, len(fr) + 1),
             |      i -> fr[i] * pow(0.7, CAST(len(fr) - i AS DOUBLE)))) /
             |    list_sum(list_transform(range(1, len(fr) + 1),
             |      i -> pow(0.7, CAST(len(fr) - i AS DOUBLE)))), 5) AS ewma
             |FROM fr WHERE b < mb ORDER BY event_type, b_us""".stripMargin)),
    // Native session_window. Boundary semantics measured, not assumed:
    // a pair exactly `gap` apart MERGES (merge iff diff <= gap) —
    // pinned by StreamingSpec's exactly-at-gap fixture. The oracle
    // mirrors this with a strict '>' new-session test (same boundary
    // rule as q19), so the gate no longer depends on the corpus
    // containing no exactly-at-gap pair.
    QueryDef("q31_session_window",
      (s, d) => graft.Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("sess_start"),
                col("sw.end").as("sess_end"), col("n_events"))
        .orderBy("user_id", "sess_start"),
      Some(sessionsOracleSql)),

    // Session windows executed THROUGH the streaming engine (the session
    // analog of q39): events arrive as parquet micro-batches through a
    // FILE source (no driver staging of the input), state-store-backed
    // session merging, result hash-matched to the same lag-based oracle
    // as batch q31 — stream/batch unification for the stateful merge
    // operator, not just for tumbling aggregation.
    QueryDef("q68_stream_sessions",
      (s, d) => {
        val input = graft.Tables.events(s, d)
        replay(s, input, sessions(_))
          .orderBy("user_id", "sess_start")
      },
      Some(sessionsOracleSql)),

    // Sliding windows, batch-declared (StreamingSpec replays the
    // streaming twin through `replay`).
    QueryDef("q32_window_sliding",
      (s, d) => graft.Tables.events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes").getField("start").as("w_start"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("w_start", "event_type"),
      Some("""WITH buckets AS (
             |  SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS b0,
             |    event_type FROM events)
             |SELECT w_start, event_type, COUNT(*) AS n FROM (
             |  SELECT b0 AS w_start, event_type FROM buckets
             |  UNION ALL
             |  SELECT b0 - INTERVAL 5 MINUTE AS w_start, event_type FROM buckets) t
             |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    // Stream-stream interval join executed THROUGH the streaming
    // engine: one file-source stream self-joined (clicks × purchases
    // within 30 min, watermark-bounded state on both sides), append
    // mode — inner-join matches emit as they arrive; the watermark
    // exists to EVICT state, so bounded replay yields the complete
    // match set, hash-equal to the batch interval join the oracle
    // runs. Closes the gate set over the last join family that only
    // specs exercised.
    QueryDef("q123_stream_join",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select("user_id", "ts", "event_type", "value")
        val toPairs = (df: org.apache.spark.sql.DataFrame) =>
          clickToPurchase(df)
            .select(col("c_user").as("user_id"), col("click_ts"),
                    col("purchase_ts"), col("purchase_value"))
        replay(s, input, toPairs,
          chunks = 3, outputMode = "append", arrivalOrder = Seq(col("ts")))
          .orderBy("user_id", "click_ts", "purchase_ts", "purchase_value")
      },
      Some("""SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
             |  p.value AS purchase_value
             |FROM events c JOIN events p
             |  ON p.user_id = c.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
             |ORDER BY c.user_id, click_ts, purchase_ts, purchase_value""".stripMargin)),

    // The count-min cells table (q79's structure) built THROUGH the
    // streaming engine: documents arrive as parquet micro-batches via
    // the FILE source, tokens explode executor-side, and the (row,
    // bucket) aggregation runs as streaming state in complete mode.
    // The full 4096-cell table must hash-match the batch construction
    // — stream/batch unification for the sketch family: a live
    // pipeline can maintain the same sketch incrementally that a batch
    // backfill builds, because the cells are a pure aggregation (the
    // mergeability argument in ops/Sketch.scala, exercised here
    // through the state store). Streaming shuffle state is ≤ d×w keys.
    QueryDef("q122_stream_countmin",
      (s, d) => {
        val input = graft.Tables.documents(s, d).select("text")
        val toCells = (df: org.apache.spark.sql.DataFrame) =>
          graft.ops.Sketch.countMinCellsOf(
              df.select(explode(split(col("text"), " ")).as("tok")))
            .select(col("row").cast("long").as("row"),
                    col("bucket"), col("cell"))
        replay(s, input, toCells, chunks = 3)
          .orderBy("row", "bucket")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |coords AS (
             |  SELECT tok, i.i AS row,
             |    ('0x' || substr(md5(tok), i.i * 8 + 1, 8))::BIGINT % 1024 AS bucket
             |  FROM toks, (SELECT unnest(range(4)) AS i) i)
             |SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cell
             |FROM coords GROUP BY row, bucket
             |ORDER BY row, bucket""".stripMargin)),

    // Sorted-neighborhood dedup THROUGH the streaming engine: the
    // shingled corpus arrives in key-range-ordered chunks and the
    // stateful trailing-window pass must emit EXACTLY the batch q120
    // pair set — same oracle, boundary pairs included (the carry
    // across micro-batches is the thing under test; dropping it loses
    // every pair spanning a chunk edge).
    QueryDef("q139_stream_snm",
      (s, d) => {
        val input = graft.Tables.documents(s, d).select(col("doc_id"),
          substring(col("text"), 1, 32).as("key"),
          graft.ops.Dedup.shingleArr(col("text")).as("sh"))
        replay(s, input, snmPairsStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("key"), col("doc_id")))
          .orderBy("id_a", "id_b")
      },
      Some(graft.ops.Dedup.snmOracleSql)),

    // Rolling-window anomaly flags THROUGH the streaming engine: the
    // always-on twin of batch q149, same oracle — the trailing-frame
    // state carried across micro-batch boundaries is the thing under
    // test (dropping it mis-scores every row whose history straddles a
    // chunk edge). Events arrive in event-time-ordered chunks (the
    // arrivalOrder contract); keyed state is ≤20 rows per user.
    QueryDef("q151_stream_anomaly",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        replay(s, input, rollingAnomalyStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("ts_us"), col("event_id")))
          .orderBy("event_id")
      },
      Some(graft.ops.Extras.rollingAnomalyOracleSql)),

    // Trailing time-RANGE features THROUGH the streaming engine
    // (q158's twin): same oracle as batch — the time-evicted per-user
    // state must reproduce every frame, including frames straddling
    // micro-batch edges (the carry under test) and empty frames (the
    // row must still emit with n=0).
    QueryDef("q159_stream_range_features",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        replay(s, input, rangeFeaturesStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("ts_us"), col("event_id")))
          .orderBy("event_id")
      },
      Some(graft.ops.Extras.rangeFeaturesOracleSql)),

    // Latest-wins CDC compaction THROUGH the streaming engine (q156's
    // twin): the version log arrives as micro-batches and the per-key
    // struct-max + version count run as streaming state in complete
    // mode. Struct-max is idempotent-commutative and count is
    // order-insensitive, so arbitrary arrival order converges to the
    // batch compaction — no arrivalOrder contract needed; state is one
    // struct per live key (the materialized current-state table an
    // upsert consumer maintains forever).
    QueryDef("q157_stream_compaction",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value"))
        val compact = (df: org.apache.spark.sql.DataFrame) =>
          df.groupBy("user_id", "event_type")
            .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"),
                 count(lit(1)).as("n_versions"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("m.ts")).as("ts_us"),
              col("m.event_id").as("event_id"),
              col("m.value").as("value"), col("n_versions"))
        replay(s, input, compact, chunks = 3)
          .orderBy("user_id", "event_type")
      },
      Some(graft.ops.Delta.latestWinsOracleSql)),

    // HLL registers (q116's structure) maintained THROUGH the streaming
    // engine: lineitem arrives as parquet micro-batches, the per-(key,
    // register) MAX runs as streaming state in complete mode. Register
    // max is idempotent and commutative, so arbitrary arrival order
    // and re-delivery converge to the batch registers — the sketch
    // mergeability q116's spec proves shard-wise, exercised here
    // through the state store. State is ≤ keys×64 rows forever.
    QueryDef("q128_stream_hll",
      (s, d) => {
        val input = graft.Tables.lineitem(s, d)
          .select(col("l_returnflag").as("key"),
                  col("l_partkey").cast("string").as("item"))
        replay(s, input, graft.ops.Sketch.hllRegisters(_), chunks = 3)
          .orderBy("key", "j")
      },
      Some("""WITH it AS (
             |  SELECT l_returnflag AS key, CAST(l_partkey AS VARCHAR) AS item
             |  FROM lineitem),
             |h AS (SELECT key, ('0x' || substr(md5(item), 1, 8))::BIGINT AS h
             |      FROM it)
             |SELECT key, h % 64 AS j,
             |  CAST(MAX(27 - length(ltrim(bin(h // 64), '0'))) AS INT) AS mj
             |FROM h GROUP BY key, j
             |ORDER BY key, j""".stripMargin)),

    // Executed THROUGH Structured Streaming: the events table arrives in
    // micro-batches via the streaming FILE source (distributed reads,
    // input never collected to the driver) and is aggregated by the
    // streaming engine; the result must hash-match the same oracle as a
    // batch pass (stream/batch unification under one gate query).
    QueryDef("q39_stream_tumble",
      (s, d) => {
        val input = graft.Tables.events(s, d)
        replay(s, input, tumbling(_))
          .orderBy("w_start", "event_type")
      },
      Some(graft.ops.Relational.tumbleOracleSql)),

    // Stream-STATIC enrichment join (✚, the always-on dimension lookup
    // every event pipeline runs — the one join flavor q123's
    // stream-stream gate doesn't cover): events arrive as file-source
    // micro-batches and join a STATIC broadcast dimension (customer)
    // inside each batch; the enriched stream aggregates per market
    // segment in complete mode. The engine behavior under test: the
    // static side is planned ONCE and re-broadcast across micro-
    // batches with no stream-side state for the join itself — state is
    // only the ≤#segments aggregate rows. Arrival order is irrelevant
    // by construction (counts and DECIMAL sums commute), so the replay
    // needs no arrivalOrder pinning. Must hash-match the plain batch
    // join+group oracle (stream/batch unification).
    QueryDef("q172_stream_enrich",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value"))
        val dim = broadcast(graft.Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment")))
        val enrich = (df: org.apache.spark.sql.DataFrame) =>
          df.join(dim, df("user_id") === dim("c_custkey"))
            .groupBy("c_mktsegment")
            .agg(count(lit(1)).as("n_events"),
              graft.QueryDef.dsum(col("value")).as("sum_value"))
        replay(s, input, enrich, chunks = 3)
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_events,
              |  ${dsumSql("value")} AS sum_value
              |FROM events JOIN customer ON user_id = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // Streamed top-k (✚, the live leaderboard: exact top-10 items by
    // count maintained by the ENGINE — complete-mode aggregation
    // followed by a streaming SORT + LIMIT, the one relational surface
    // (ordering inside a streaming query, legal only in complete mode)
    // nothing else in the suite exercises; q80's CMS answers the same
    // question approximately when exact per-key state is too big).
    // Ties break by item id on both sides, so the cut is
    // deterministic. Arrival order is irrelevant (counts commute); at
    // each commit the sink holds the exact current leaderboard, and
    // the final one must equal the batch answer.
    QueryDef("q181_stream_topk",
      (s, d) => {
        val input = graft.Tables.lineitem(s, d).select(col("l_partkey"))
        val topk = (df: org.apache.spark.sql.DataFrame) =>
          df.groupBy("l_partkey").agg(count(lit(1)).as("n"))
            .orderBy(col("n").desc, col("l_partkey")).limit(10)
        replay(s, input, topk, chunks = 3)
          .orderBy(col("n").desc, col("l_partkey"))
      },
      Some("""SELECT l_partkey, COUNT(*) AS n
             |FROM lineitem GROUP BY l_partkey
             |ORDER BY n DESC, l_partkey LIMIT 10""".stripMargin)),

    // Streamed exact dedup with BOUNDED state (✚, q24's always-on twin
    // done production-grade: `dropDuplicatesWithinWatermark` keeps
    // per-key state only inside the watermark horizon, so an infinite
    // stream doesn't accumulate infinite dedup state — the property
    // plain streaming dropDuplicates lacks). The replay re-inserts the
    // %13 slice ~2.8 h of event time later (the q102 re-crawl
    // discipline); the 4 h watermark keeps those keys' state alive, so
    // every re-insert is provably dropped: the emitted key set must
    // equal the batch DISTINCT digest set. Event times derive from
    // doc_id (integer seconds — exact), chunks replay in event-time
    // order via pinned mtimes. Scale: state is one (digest,
    // timestamp) pair per key per horizon — eviction, not growth.
    QueryDef("q184_stream_dedup",
      (s, d) => {
        val docs = graft.Tables.documents(s, d)
        val base = docs.select(md5(col("text")).as("fp"),
          timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
        // re-inserts land 10 000 s (~2.8 h) of event time after their
        // original — inside the 4 h horizon, so dedup state is alive
        val input = base.unionByName(
          docs.where(pmod(col("doc_id"), lit(13)) === 0)
            .select(md5(col("text")).as("fp"),
              timestamp_seconds(lit(1700000000L) + col("doc_id") + 10000L)
                .as("ts")))
        val dedup = (df: org.apache.spark.sql.DataFrame) =>
          df.withWatermark("ts", "4 hours")
            .dropDuplicatesWithinWatermark("fp")
            .select(col("fp"))
        replay(s, input, dedup, chunks = 3,
          outputMode = "append", arrivalOrder = Seq(col("ts")))
          .orderBy("fp")
      },
      Some(distinctFpOracleSql)),

    // Streamed interval union (✚, q178's always-on twin through
    // ARBITRARY keyed state — flatMapGroupsWithState carrying each
    // user's open island across micro-batch boundaries, the coverage
    // accounting a live SLA/dwell-time monitor keeps; the island that
    // STRADDLES a chunk edge is the thing under test). Each arrival
    // emits the user's running totals INCLUDING the open island, so
    // the user's last update (arg-max over the per-user arrival
    // counter carried in state — a selection, not a recomputation)
    // must equal the batch sweep-line answer. State per user is one
    // open-island triple + two counters, constant forever; arrivals
    // replay in event-time order (the arrivalOrder contract), and
    // within a batch the operator sorts its own group slice.
    QueryDef("q187_stream_interval_union",
      (s, d) => {
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val span = 300000000L
        val input = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("st"),
            (unix_micros(col("ts")) + span).as("en"))
        val union = (df: org.apache.spark.sql.DataFrame) => {
          val sp = df.sparkSession
          import sp.implicits._
          df.as[IvEvent].groupByKey(_.user_id)
            .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
              (uid: Long, it: Iterator[IvEvent], state: GroupState[IvState]) =>
                var st = state.getOption.getOrElse(IvState(-1L, -1L, 0L, 0L, 0L))
                val out = Seq.newBuilder[IvUpd]
                it.toSeq.sortBy(e => (e.st, e.event_id)).foreach { e =>
                  st =
                    if (st.curSt < 0)
                      IvState(e.st, e.en, 0L, 0L, st.k + 1)
                    else if (e.st > st.curEn)
                      IvState(e.st, e.en,
                        st.closedCov + (st.curEn - st.curSt),
                        st.nClosed + 1, st.k + 1)
                    else
                      IvState(st.curSt, math.max(st.curEn, e.en),
                        st.closedCov, st.nClosed, st.k + 1)
                  out += IvUpd(uid, st.k, st.nClosed + 1,
                    st.closedCov + (st.curEn - st.curSt))
                }
                state.update(st)
                out.result().iterator
            }.toDF()
        }
        replay(s, input, union, chunks = 3,
          outputMode = "append", arrivalOrder = Seq(col("st"), col("event_id")))
          .groupBy("user_id")
          .agg(max(struct(col("k"), col("n_islands"), col("covered_us"))).as("m"))
          .select(col("user_id"), col("m.n_islands").as("n_islands"),
            col("m.covered_us").as("covered_us"))
          .orderBy("user_id")
      },
      Some(graft.ops.Extras.intervalUnionOracleSql)),

    // Key-routed stream DEMUX (✚, completing the reference's roadmap
    // item alongside q190/q191: q190 multicasts DIFFERENT transforms to
    // sinks; this routes ONE stream's rows to per-key outputs — the
    // partitioned landing layout independent per-key consumers tail):
    // every micro-batch appends partitionBy(event_type) under one sink
    // root, and the gate reads each key's partition DIRECTORY in
    // isolation (physical routing, not a post-hoc filter) — per-key
    // counts, id-sums and DECIMAL value-sums must hash-match the batch
    // aggregation. Scale: the write is an executor-side partitioned
    // append per batch; no driver staging, no extra pass per key.
    QueryDef("q227_stream_demux",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        val keys = Seq("click", "error", "purchase", "signup", "view")
        replayForeachBatch(s, input) { (batch, sink) =>
          batch.write.mode("append").partitionBy("event_type").parquet(sink)
        } { sink =>
          keys.map { k =>
            s.read.parquet(s"$sink/event_type=$k").agg(count(lit(1)).as("n"),
                sum(col("event_id")).as("id_sum"),
                dsum(col("value")).as("sum_value"))
              .withColumn("event_type", lit(k))
          }.reduce(_ unionByName _)
            .select("event_type", "n", "id_sum", "sum_value")
            .orderBy("event_type")
        }
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
             |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Stream fan-out (✚, demux + rollup multicast — the reference's OWN
    // unchecked roadmap item, flod README.md:46-47 "multiplexing and
    // demultiplexing streams", in its Spark form): ONE streaming query
    // over the events feed serves TWO sinks per micro-batch via
    // foreachBatch — (a) "hot": the raw click/purchase rows (the
    // retention sink), (b) "digest": per-batch partial aggregates per
    // event_type (the rollup sink). The batch is pinned (persist) so
    // both routes observe identical rows, and writes are executor-side
    // parquet appends. The gate is DUAL: the hot sink re-aggregated
    // AND the digest sink's partials re-combined must each hash-match
    // the batch oracle — a batch written to one sink but not the
    // other, or recomputed between writes, breaks one half. Partials
    // sum in DECIMAL so recombination is order-exact. Scale: one pass
    // over the source regardless of sink count; each sink write is a
    // partitioned append, no driver staging, no second scan.
    QueryDef("q190_stream_fanout",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        replayForeachBatch(s, input) { (batch, sink) =>
          batch.persist()
          try {
            batch.where(col("event_type").isin("click", "purchase"))
              .write.mode("append").parquet(s"$sink/hot")
            batch.groupBy("event_type")
              .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
                   sum(graft.QueryDef.dec(col("value"))).as("v_sum"))
              .write.mode("append").parquet(s"$sink/digest")
          } finally batch.unpersist()
        } { sink =>
          val hotAgg = s.read.parquet(s"$sink/hot").groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"),
                 dsum(col("value")).as("sum_value"))
            .withColumn("sink", lit("hot"))
          val digAgg = s.read.parquet(s"$sink/digest").groupBy("event_type")
            .agg(sum(col("n")).as("n"), sum(col("id_sum")).as("id_sum"),
                 sum(col("v_sum")).cast("double").as("sum_value"))
            .withColumn("sink", lit("digest"))
          hotAgg.unionByName(digAgg)
            .select(col("sink"), col("event_type"), col("n"),
                    col("id_sum"), col("sum_value"))
        }.orderBy("sink", "event_type")
      },
      Some("""SELECT 'hot' AS sink, event_type, count(*) AS n,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events WHERE event_type IN ('click','purchase')
             |GROUP BY event_type
             |UNION ALL
             |SELECT 'digest' AS sink, event_type, count(*) AS n,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum,
             |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type
             |ORDER BY sink, event_type""".stripMargin)),

    // Stream fan-in (✚, the mux side of flod README.md:46-47): TWO
    // independent landing-directory feeds — documents split by doc_id
    // parity — merged by union into ONE watermark-bounded streamed
    // dedup (the q184 discipline). Each branch carries its OWN
    // watermark, so the query watermark advances as the MIN across
    // sources: a fast feed cannot expire dedup state a slow feed still
    // needs. The adversarial bit: every 26th doc (an EVEN one, living
    // on feed A) re-enters on feed B ~2.8 h of event time later — a
    // CROSS-STREAM duplicate that only state shared across the union
    // can suppress. Emitted keys must equal the batch DISTINCT set.
    // Scale: union adds no shuffle and no state of its own; dedup
    // state is one digest per key per watermark horizon, unchanged by
    // source count.
    QueryDef("q191_stream_fanin",
      (s, d) => {
        val docs = graft.Tables.documents(s, d)
        def shaped(df: DataFrame, tsShift: Long): DataFrame =
          df.select(md5(col("text")).as("fp"),
            timestamp_seconds(lit(1700000000L) + col("doc_id") + tsShift).as("ts"))
        val feedA = shaped(docs.where(pmod(col("doc_id"), lit(2)) === 0), 0L)
        val feedB = shaped(docs.where(pmod(col("doc_id"), lit(2)) === 1), 0L)
          .unionByName(shaped(docs.where(pmod(col("doc_id"), lit(26)) === 0), 10000L))
        val dedup = (srcs: Seq[DataFrame]) =>
          srcs.map(_.withWatermark("ts", "4 hours"))
            .reduce(_.unionByName(_))
            .dropDuplicatesWithinWatermark("fp")
            .select(col("fp"))
        replayFanIn(s, Seq(feedA, feedB), dedup, chunks = 3,
          outputMode = "append", arrivalOrder = Seq(col("ts")))
          .orderBy("fp")
      },
      Some(distinctFpOracleSql)),

    // q234's TWAP through the streaming engine (see twapStream): the
    // RUNNING per-user time-weighted mean at every event, state
    // carried across micro-batch edges, hash-equal to the batch
    // window-oracle on the same corpus. The final per-user value of
    // this stream IS q234's twap — the twin relationship a monitor
    // relies on when it swaps the nightly batch for the live view.
    QueryDef("q241_stream_twap",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("ts_us"))
        replay(s, input, twapStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("ts_us"), col("event_id")))
          .select(col("user_id"), col("tsu"), col("n_so_far"),
            round(col("twap_run"), 6).as("twap_run"))
          .orderBy("user_id", "n_so_far")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, epoch_us(ts) AS tsu, event_id, value,
             |    LAG(epoch_us(ts)) OVER w AS ptsu,
             |    LAG(value) OVER w AS pv,
             |    MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS fts,
             |    ROW_NUMBER() OVER w AS n_so_far
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
             |c AS (
             |  SELECT user_id, tsu, event_id, n_so_far, fts, ptsu,
             |    SUM(CAST(round(pv * (CAST(tsu - ptsu AS DOUBLE) / 1e6), 9)
             |      AS DECIMAL(38,9))) OVER (PARTITION BY user_id
             |      ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS cum
             |  FROM ev)
             |SELECT user_id, tsu, n_so_far,
             |  round(CAST(cum AS DOUBLE) /
             |    (CAST(tsu - fts AS DOUBLE) / 1e6), 6) AS twap_run
             |FROM c WHERE ptsu IS NOT NULL AND tsu > fts
             |ORDER BY user_id, n_so_far""".stripMargin)),

    // q249's ledger through the streaming engine (see balanceStream):
    // the stream is the LITERAL sequential clamp, the oracle the
    // prefix-min identity — row-level hash equality between them is a
    // machine-checked proof of the identity on this corpus, and the
    // production story is the same state running against an unbounded
    // movement feed.
    QueryDef("q252_stream_balance",
      (s, d) => {
        val moves = graft.Tables.lineitem(s, d)
          .select(col("l_suppkey").as("sk"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("shipUs"),
            col("l_orderkey").as("okey"),
            col("l_linenumber").cast("long").as("lnum"),
            col("l_partkey").as("pkey"),
            when(pmod(col("l_orderkey"), lit(2)) === 0,
              col("l_quantity").cast("long"))
              .otherwise(-col("l_quantity").cast("long")).as("delta"))
        replay(s, moves, balanceStream(_),
          chunks = 3, outputMode = "append",
          arrivalOrder = Seq(col("shipUs"), col("okey"), col("lnum"),
            col("pkey"), col("delta")))
          .orderBy("sk", "move_idx")
      },
      Some("""WITH led AS (
             |  SELECT l_suppkey AS sk, epoch_us(l_shipdate) AS su,
             |    l_orderkey AS okey, l_linenumber AS lnum,
             |    l_partkey AS pkey,
             |    CASE WHEN l_orderkey % 2 = 0 THEN CAST(l_quantity AS BIGINT)
             |         ELSE -CAST(l_quantity AS BIGINT) END AS delta
             |  FROM lineitem),
             |sums AS (
             |  SELECT sk, su, okey, lnum, pkey, delta,
             |    SUM(delta) OVER w AS s,
             |    ROW_NUMBER() OVER w AS move_idx
             |  FROM led
             |  WINDOW w AS (PARTITION BY sk ORDER BY su, okey, lnum, pkey,
             |    delta ROWS UNBOUNDED PRECEDING))
             |SELECT sk, move_idx,
             |  CAST(s - LEAST(0, MIN(s) OVER (PARTITION BY sk
             |    ORDER BY su, okey, lnum, pkey, delta
             |    ROWS UNBOUNDED PRECEDING)) AS BIGINT) AS b
             |FROM sums ORDER BY sk, move_idx""".stripMargin)),

    // Streamed Benford monitor — q285's digit histogram THROUGH the
    // streaming engine (the q122/q128 mergeability class: a pure
    // counting aggregation whose state converges under ANY arrival
    // order, which is exactly the claim a streamed forensic monitor
    // needs — amounts arrive as they post, and the digit distribution
    // must equal the batch audit's at every point of completeness).
    // Three file-source micro-batches in complete mode; the final
    // state must hash-equal the batch histogram. Digit extraction is
    // the same no-float string head over exact integer cents.
    QueryDef("q295_stream_benford",
      (s, d) => {
        val input = graft.Tables.orders(s, d).select(col("o_totalprice"))
        val hist = (df: org.apache.spark.sql.DataFrame) =>
          df.select(substring(
              round(col("o_totalprice") * 100, 0).cast("long").cast("string"),
              1, 1).cast("int").as("digit"))
            .groupBy("digit").agg(count(lit(1)).as("n_d"))
        replay(s, input, hist, chunks = 3)
          .orderBy("digit")
      },
      Some("""SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0)
             |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit,
             |  COUNT(*) AS n_d
             |FROM orders GROUP BY 1 ORDER BY digit""".stripMargin)),

    // Streamed latest-wins compaction — q156's upsert-log →
    // current-state collapse THROUGH the streaming engine: the change
    // log arrives in micro-batches and the keyed state must hold
    // exactly the newest version per key at completion, hash-equal to
    // the batch compaction (same oracle modulo version counts). The
    // version-ordering tuple rides inside a struct-MAX, so the state
    // is ONE row per key and the aggregation is mergeable under ANY
    // arrival order — the property that lets a real CDC consumer run
    // unordered partitioned sources. Complete mode over 3 file-source
    // chunks.
    QueryDef("q299_stream_latest_wins",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value"))
        val compact = (df: org.apache.spark.sql.DataFrame) =>
          df.groupBy("user_id", "event_type")
            .agg(max(struct(col("ts"), col("event_id"), col("value")))
                .as("m"),
              count(lit(1)).as("n_versions"))
            .select(col("user_id"), col("event_type"),
              unix_micros(col("m.ts")).as("ts_us"),
              col("m.event_id").as("event_id"),
              col("m.value").as("value"), col("n_versions"))
        replay(s, input, compact, chunks = 3)
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             |  value, n_versions
             |FROM (
             |  SELECT user_id, event_type, ts, event_id, value,
             |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts DESC, event_id DESC) AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id, event_type)
             |      AS n_versions
             |  FROM events) t
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // Streamed OHLC — q315's candlestick collapse as live state: the
    // struct-extreme open/close and min/max high/low are all
    // MERGEABLE aggregations (struct MIN/MAX merge associatively), so
    // the hourly bars converge under ANY arrival order — exactly the
    // claim a live candlestick feed needs, proven hash-equal to the
    // batch bars in complete mode over 3 micro-batches. State is one
    // bar per hour.
    QueryDef("q316_stream_ohlc",
      (s, d) => {
        val input = graft.Tables.events(s, d)
          .select(col("ts"), col("event_id"), col("value"))
        replay(s, input, graft.ops.Extras.ohlcBars(_), chunks = 3)
          .orderBy("hr")
      },
      Some(graft.ops.Extras.ohlcOracleSql)),

    // Stream-stream LEFT OUTER interval join — q123's click→purchase
    // join with the semantics a funnel monitor actually needs: clicks
    // that NEVER convert inside the window must still emit (with
    // nulls), and in streaming that emission can only happen once the
    // watermark PASSES the click's window — the state-expiry contract
    // this gate proves end to end. The replay appends one far-future
    // sentinel click (filtered from the output by its negative user
    // id): its micro-batch advances the watermark beyond every real
    // click's window and the engine's no-data batch flushes the
    // unmatched rows — the exact mechanism a live deployment relies
    // on between arrivals. Hash-equal to the batch LEFT JOIN.
    QueryDef("q317_stream_outer_join",
      (s, d) => {
        import s.implicits._
        val real = graft.Tables.events(s, d)
          .select("user_id", "ts", "event_type", "value")
        val maxTs = real.agg(max(unix_micros(col("ts")))).first().getLong(0)
        // +6 h: outer-join state eviction trails the watermark by the
        // compounded delay+condition span on both sides (measured ~2 h
        // at 30 min/30 min) — the sentinel must clear that margin past
        // every real click's window, not just the nominal watermark
        val sentinel = Seq((-1L, maxTs + 21600000000L, "click", 0.0))
          .toDF("user_id", "tsu", "event_type", "value")
          .select(col("user_id"), timestamp_micros(col("tsu")).as("ts"),
            col("event_type"), col("value"))
        val input = real.unionByName(sentinel)
        val toPairs = (df: org.apache.spark.sql.DataFrame) => {
          val e = wm(df, "30 minutes")
          // bounded-replay HORIZON contract: a live stream never ends,
          // so a replay must declare which clicks' windows it is
          // responsible for. Clicks inside max_ts − 1 h provably flush
          // (their state expiry is driven by the sentinel's watermark
          // advance); the engine legitimately holds rows at the very
          // horizon edge, so both engines exclude them explicitly.
          val clicks = e.where(col("event_type") === "click" &&
              col("ts") <= timestamp_micros(lit(maxTs - 3600000000L)))
            .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
          val purchases = e.where(col("event_type") === "purchase")
            .select(col("user_id").as("p_user"),
              col("ts").as("purchase_ts"), col("value").as("purchase_value"))
          clicks.join(purchases,
              col("c_user") === col("p_user") &&
              col("purchase_ts") >= col("click_ts") &&
              col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
              "left_outer")
            .where(col("c_user") >= 0)
            .select(col("c_user").as("user_id"), col("click_ts"),
              col("purchase_ts"), col("purchase_value"))
        }
        replay(s, input, toPairs,
          chunks = 3, outputMode = "append", arrivalOrder = Seq(col("ts")))
          .orderBy("user_id", "click_ts", "purchase_ts", "purchase_value")
      },
      Some("""SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
             |  p.value AS purchase_value
             |FROM events c LEFT JOIN events p
             |  ON p.user_id = c.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
             |WHERE c.event_type = 'click'
             |  AND c.ts <= (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
             |ORDER BY c.user_id, click_ts, purchase_ts, purchase_value""".stripMargin))
  )
}
