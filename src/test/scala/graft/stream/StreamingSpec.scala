package graft.stream

import graft.{Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row

/** Streaming/batch equivalence: the same event-time transforms produce
  * identical results replayed through `StreamOps.replay`'s file-source
  * micro-batches as in one batch pass (SURVEY.md §3.3: push-mode ≙
  * Structured Streaming), and every replay cleans up after itself. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def canon(rows: Seq[Row]): Seq[Seq[String]] =
    rows.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  test("tumbling window: streaming == batch") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val batch = StreamOps.tumbling(events).collect().toSeq
    for (chunks <- Seq(2, 3)) {
      val streamed = StreamOps.replay(spark, events, StreamOps.tumbling(_), chunks)
        .collect().toSeq
      assert(canon(streamed) == canon(batch), s"chunks=$chunks")
    }
  }

  test("tumbling window under the RocksDB state store == batch") {
    // the production state backend at 100 TB (bounded executor heap,
    // state spills to local disk): same transform, same result. The
    // provider is bound at query start, so setting the session conf
    // around the replay is enough.
    val events = Tables.events(spark, TestSpark.sf0001)
    val batch = StreamOps.tumbling(events).collect().toSeq
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamOps.replay(spark, events, StreamOps.tumbling(_)).collect().toSeq
      assert(canon(streamed) == canon(batch))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("session windows: streaming == batch") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val batch = StreamOps.sessions(events).collect().toSeq
    val streamed = StreamOps.replay(spark, events, StreamOps.sessions(_)).collect().toSeq
    assert(canon(streamed) == canon(batch))
  }

  test("sliding window: streaming == batch") {
    val events = Tables.events(spark, TestSpark.sf0001)
    val batch = StreamOps.sliding(events).collect().toSeq
    val streamed = StreamOps.replay(spark, events, StreamOps.sliding(_)).collect().toSeq
    assert(canon(streamed) == canon(batch))
  }

  test("sessions: an event later than 10 min but within the gap still joins its session (streaming)") {
    // Pins the watermark/gap contract: sessions() derives its watermark
    // delay from the gap, so an event `gap`-late at most still lands in a
    // session the gap's own definition keeps open. Under the previous
    // hardcoded 10-minute delay the 10:05 event below (20 min behind the
    // stream's 10:25 max) was silently dropped from user 1's open session.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", LongType)))
    implicit val enc: Encoder[Row] = Encoders.row(schema)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val source = MemoryStream[Row](spark)
    val q = StreamOps.sessions(source.toDF(), gap = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sess_wm").start()
    try {
      source.addData(Seq(Row(t("2026-01-01 10:00:00"), 1L), Row(t("2026-01-01 10:25:00"), 2L)))
      q.processAllAvailable()
      // watermark is now 10:25 − gap = 09:55; with the old 10-minute
      // delay it would be 10:15 and this event would be discarded
      source.addData(Seq(Row(t("2026-01-01 10:05:00"), 1L)))
      q.processAllAvailable()
      // push the watermark past every session end so append emits them
      source.addData(Seq(Row(t("2026-01-01 13:00:00"), 99L)))
      q.processAllAvailable()
      val u1 = spark.table("sess_wm").collect().filter(_.getLong(0) == 1L)
      assert(u1.length == 1, s"user 1 must have ONE session, got ${u1.toSeq}")
      assert(u1.head.getLong(3) == 2L,
        s"the within-gap late event must join the session, got ${u1.toSeq}")
    } finally q.stop()
  }

  test("session boundary semantics pinned: a pair exactly at the gap MERGES") {
    // Measured, not assumed: Spark's native session_window merges a pair
    // exactly `gap` apart (merge iff diff <= gap; the session extends to
    // 11:00). q19's lag-based definition (new session iff diff > gap)
    // has the SAME boundary rule, and q31's oracle now tests new-session
    // with strict '>' — so all three agree at the boundary and the gates
    // no longer depend on the corpus containing no exactly-at-gap pair.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (TIMESTAMP '2026-01-01 10:00:00', 1L),
        |  (TIMESTAMP '2026-01-01 10:30:00', 1L) AS t(ts, user_id)""".stripMargin)
    val native = StreamOps.sessions(df).collect()
    assert(native.length == 1,
      s"native session_window must MERGE at diff == gap, got ${native.toSeq}")
    assert(native.head.getLong(3) == 2L &&
      native.head.getTimestamp(2).toString == "2026-01-01 11:00:00.0",
      s"merged session must span both events and end at last+gap, got ${native.toSeq}")

    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val lagBased = df
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800000000L,
          lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("new_sess")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id").count().collect()
    assert(lagBased.length == 1,
      s"q19's strict-'>' definition also merges at diff == gap, got ${lagBased.toSeq}")
  }

  test("stream-stream interval join == batch join (click -> purchase)") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf0001)
    // sentinel event far past the corpus pushes the watermark beyond
    // every real event so append-mode emits all matches on the bounded
    // replay; its type matches neither join side
    val maxTs = events.agg(max("ts")).head().getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 864000L * 1000L)
    val sentinelRow = events.sparkSession.sql(
      s"SELECT -1L AS event_id, TIMESTAMP '$sentinelTs' AS ts, " +
        "-1L AS user_id, 'sentinel' AS event_type, 0.0D AS value, '{}' AS props")
    val input = events.unionByName(sentinelRow)
    val batch = StreamOps.clickToPurchase(events).collect().toSeq
    // the watermark drops rows that arrive behind it, so the replay
    // delivers chunks in event-time order
    val streamed = StreamOps.replay(spark, input, StreamOps.clickToPurchase(_),
      outputMode = "append", arrivalOrder = Seq(col("ts"))).collect().toSeq
    assert(canon(streamed) == canon(batch))
    assert(batch.nonEmpty, "corpus must contain click->purchase pairs")
  }

  test("file stream picks up files written incrementally WHILE the query runs") {
    // the arrival-driven contract itself, not just bounded replay: a
    // second file dropped into the landing dir after the query started
    // must flow through the same running aggregation
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, TestSpark.sf0001)
    val dir = java.nio.file.Files.createTempDirectory("graft-arrival").toString
    val first = events.where(col("event_id") % 2 === 0)
    val second = events.where(col("event_id") % 2 =!= 0)
    val name = "arrival_tumble"
    first.coalesce(1).write.mode("append").parquet(dir)
    val q = StreamOps.tumbling(
        spark.readStream.schema(events.schema).parquet(dir))
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table(name).collect().toSeq
      assert(canon(afterFirst) == canon(StreamOps.tumbling(first).collect().toSeq))
      second.coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val afterBoth = spark.table(name).collect().toSeq
      assert(canon(afterBoth) == canon(StreamOps.tumbling(events).collect().toSeq))
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("TopK fold under streaming state merge == batch fold (micro-batch merge order)") {
    // the Aggregator's merge runs in a DIFFERENT order under streaming
    // (per-micro-batch partials merged into the state store) than in a
    // batch job — equal results prove the fold is genuinely
    // order-insensitive, not just correct for one merge tree
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.functions._
    def top(df: DataFrame): DataFrame = {
      val spark2 = df.sparkSession
      import spark2.implicits._
      val topk = new graft.functions.Folds.TopK(4)
      df.select(col("event_type"), col("value").cast("double"), col("event_id"))
        .as[(String, Double, Long)]
        .groupByKey(_._1).mapValues(t => (t._2, t._3))
        .agg(topk.toColumn.name("top"))
        .flatMap { case (g, t) => t.iterator.zipWithIndex.map {
          case ((s, id), i) => (g, (i + 1).toLong, id, s) } }
        .toDF("event_type", "rank", "event_id", "value")
    }
    val events = Tables.events(spark, TestSpark.sf0001)
      .select("event_type", "value", "event_id")
    val batch = top(events).collect().toSeq
    val streamed = StreamOps.replay(spark, events, top, chunks = 4).collect().toSeq
    assert(canon(streamed) == canon(batch))
    assert(batch.nonEmpty)
  }

  test("readLinesStream: streamed line counts across incremental files == batch readLines") {
    import org.apache.spark.sql.functions._
    import graft.core.Flow
    val dir = java.nio.file.Files.createTempDirectory("graft-lines").toString
    val name = "arrival_lines"
    def writeFile(n: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, n), lines.mkString("", "\n", "\n"))
    writeFile("a.txt", Seq("alpha", "beta", "alpha"))
    val q = Flow.readLinesStream(spark, dir).ds
      .groupBy(col("value")).count()
      .writeStream.outputMode("complete").format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      writeFile("b.txt", Seq("beta", "gamma"))
      q.processAllAvailable()
      val streamed = spark.table(name).collect().toSeq
      val batch = Flow.readLines(spark, dir).ds
        .groupBy(col("value")).count().collect().toSeq
      assert(canon(streamed) == canon(batch))
      assert(batch.map(_.getLong(1)).sum == 5L)
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("streaming incremental dedup == batch q102 keep-set (file-source arrival)") {
    // the q102 ingest as a RUNNING pipeline: the incoming batch arrives
    // as file micro-batches, dup_of_prior drops via a stream-static
    // broadcast anti-join against the stored index, within-stream dups
    // via the stateful firstSeen — the streamed keep-set must cover
    // exactly the digests batch q102 classifies 'new', once each.
    // (Arrival order is file order, so WHICH member of a dup group
    // survives may differ from batch min-id — set equality on the
    // digest is the streaming contract.)
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val d = TestSpark.sf0001
    val docs = Tables.documents(spark, d).select("doc_id", "text")
    val prior = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val base = docs.where(pmod(col("doc_id"), lit(3)) === 0)
    val incoming = base
      .unionByName(prior.where(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(base.where(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("doc_id", col("doc_id") + 200000L))
    val priorIdx = prior.select(md5(col("text")).as("fp")).distinct()

    val streamed = StreamOps.replay(spark, incoming,
      df => {
        val inc = df.select(col("doc_id"), md5(col("text")).as("fp"))
        val fresh = inc.join(broadcast(priorIdx), Seq("fp"), "left_anti")
          .select(col("doc_id"), col("fp"))
        StreamOps.firstSeen[String, (Long, String)](
          fresh.as[(Long, String)], _._2, ttl = None).toDF("doc_id", "fp")
      },
      chunks = 3, outputMode = "append").collect().toSeq

    val batchNew = graft.SparkEntry.queries("q102_incremental_dedup")(spark, d)
      .where(col("status") === "new")
      .select("fp").collect().map(_.getString(0)).toSet
    val streamedFps = streamed.map(_.getString(1))
    assert(streamedFps.toSet == batchNew, "same digests survive")
    assert(streamedFps.length == streamedFps.distinct.length, "each digest once")
  }

  test("streamed SNM equals batch SNM, including pairs straddling chunk edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, substring}
    // a sliding-token chain: EVERY adjacent doc pair is a near-dup, so
    // with 12 docs over 3 chunks at least two qualifying pairs straddle
    // a chunk boundary — a dropped carry cannot pass this
    val toks = (0 until 40).map(i => f"tok$i%03d")
    val docs = (0 until 12).map { i =>
      (i.toLong, toks.slice(i, i + 20).mkString(" "))
    }.toDF("doc_id", "text")
    val batch = graft.ops.Dedup.sortedNeighborhood(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val input = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("key"),
      graft.ops.Dedup.shingleArr(col("text")).as("sh"))
    val streamed = StreamOps.replay(spark, input,
        StreamOps.snmPairsStream(_), chunks = 3, outputMode = "append",
        arrivalOrder = Seq(col("key"), col("doc_id"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.size >= 11, "every adjacent pair must clear tau")
    assert(streamed == batch, "streamed pass must equal the batch operator")
  }

  test("both replay bodies leave no bounded_* view and no running query behind") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    // onQueryStarted runs before start() returns, so no id is missed
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = { started.add(e.id); () }
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    def views = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("bounded_")).toSet
    def active = spark.streams.active.map(_.id).toSet
    // compared with the state before each call, so leftovers of other
    // suites in this JVM cannot fail it
    def assertClean[A](replay: => A): A = {
      val (views0, active0) = (views, active)
      started.clear()
      val out = replay
      assert(!started.isEmpty, "the replay must run a streaming query")
      assert(views == views0, "the memory sink's view must be dropped")
      assert(active == active0, "the replay's query must be stopped")
      out
    }
    val events = Tables.events(spark, TestSpark.sf0001).select("event_id", "event_type")
    spark.streams.addListener(listener)
    try {
      val counts = assertClean(
        StreamOps.replay(spark, events, _.groupBy("event_type").count()))
      val copied = assertClean(
        StreamOps.replayForeachBatch(spark, events) { (batch, sink) =>
          batch.write.mode("append").parquet(sink)
        }(sink => spark.read.parquet(sink)))
      // the results are local copies that outlive the scratch dirs
      assert(counts.collect().map(_.getLong(1)).sum == events.count())
      assert(canon(copied.collect().toSeq) == canon(events.collect().toSeq))
    } finally spark.streams.removeListener(listener)
  }
}
