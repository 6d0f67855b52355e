package graft.stream

import graft.TestSpark
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

/** Push-mode (DriveMode.source) semantics — flod `pass!E` output-range
  * pipelines (range.d:211-292), planned once and run as one job per put. */
class PushSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pass: pushed chunks arrive in order (range.d:271-292 demo)") {
    val p = Push.pass[Long](spark)
    try {
      p.put(Seq(1L, 2L, 3L))
      p.put(Seq(4L, 5L))
      assert(p.result == Seq(1L, 2L, 3L, 4L, 5L))
    } finally p.close()
  }

  test("push through a transform stage") {
    val p = Push[Long, Long](spark)(_.map(_ * 10))
    try {
      p.put(Seq(1L, 2L)); p.put(Seq(3L))
      assert(p.result == Seq(10L, 20L, 30L))
    } finally p.close()
  }

  test("take(n) backpressure: put reports remaining room, stops at 0 (adapter.d:110-113)") {
    val p = Push.take[Long](spark, 4)
    try {
      assert(p.put(Seq(1L, 2L)) == 2)     // room for 2 more
      assert(p.put(Seq(3L, 4L, 5L)) == 0) // full: producer must stop
      assert(p.result == Seq(1L, 2L, 3L, 4L))
    } finally p.close()
  }

  test("drive: producer lambda is the run() loop (S3, range.d:169-189)") {
    val got = Push.drive[Long](spark) { put =>
      var i = 0L
      while (i < 6L) { put(Seq(i, i + 1)); i += 2 }
    }
    assert(got == (0L until 6L))
  }

  test("drive with limit: producer observes backpressure and stops") {
    var stops = 0
    val got = Push.drive[Long](spark, limit = Some(3)) { put =>
      var room = 1L
      var i = 0L
      while (room > 0) { room = put(Seq(i)); i += 1 }
      stops += 1
    }
    assert(got == Seq(0L, 1L, 2L) && stops == 1)
  }

  test("tee fan-out: most-constrained sink drives backpressure across the demux") {
    // route A multicasts everything (cap 8); route B keeps evens only
    // (cap 2). put must report the MIN remaining room: once B fills,
    // the producer halts even though A still has space — the flod
    // short-write contract (adapter.d:110-113) across a fan-out.
    val p = Push.tee[Long](spark, identity, 8L, _.filter(_ % 2 == 0), 2L)
    try {
      assert(p.put(Seq(1L, 2L, 3L)) == 1)       // A: 3/8 → 5; B: {2} 1/2 → 1
      assert(p.put(Seq(4L, 5L)) == 0)           // B full ({2,4}): stop signal
      assert(p.resultA == Seq(1L, 2L, 3L, 4L, 5L))
      assert(p.resultB == Seq(2L, 4L))
    } finally p.close()
  }

  test("tee fan-out: disjoint routes partition one pushed stream consistently") {
    val p = Push.tee[Long](spark, _.filter(_ % 2 == 0), 100L,
                                  _.filter(_ % 2 == 1), 100L)
    try {
      p.put(Seq(1L, 2L, 3L, 4L)); p.put(Seq(5L, 6L))
      assert(p.resultA == Seq(2L, 4L, 6L))
      assert(p.resultB == Seq(1L, 3L, 5L))
      assert((p.resultA ++ p.resultB).sorted == (1L to 6L)) // demux loses nothing
    } finally p.close()
  }

  test("toPath sink writes micro-batches distributed, nothing at the driver") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pushsink").toString + "/out"
    val sink = Push.toPath[Long, Long](spark, dir)(_.map(_ * 2))
    try {
      sink.put(Seq(1L, 2L, 3L))
      sink.put(Seq(4L))
    } finally sink.close()
    val got = spark.read.parquet(dir).collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(2L, 4L, 6L, 8L))
  }

  test("teeToPath demux: both file sinks receive their routed view of every batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_pushtee").toString
    val (dirA, dirB) = (base + "/evens", base + "/odds")
    val sink = Push.teeToPath[Long](spark,
      _.filter(_ % 2 == 0), dirA,
      _.filter(_ % 2 == 1), dirB)
    try {
      sink.put(Seq(1L, 2L, 3L, 4L))
      sink.put(Seq(5L, 6L))
    } finally sink.close()
    val a = spark.read.parquet(dirA).collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(dirB).collect().map(_.getLong(0)).sorted.toSeq
    assert(a == Seq(2L, 4L, 6L))
    assert(b == Seq(1L, 3L, 5L))
  }

  test("teeToPath multicast: overlapping routes give both sinks identical content") {
    val base = java.nio.file.Files.createTempDirectory("graft_pushmc").toString
    val (dirA, dirB) = (base + "/a", base + "/b")
    val sink = Push.teeToPath[Long](spark, identity, dirA, identity, dirB)
    try {
      sink.put(Seq(10L, 11L))
      sink.put(Seq(12L))
    } finally sink.close()
    val a = spark.read.parquet(dirA).collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(dirB).collect().map(_.getLong(0)).sorted.toSeq
    assert(a == b && a == Seq(10L, 11L, 12L))
  }

  test("put on a closed Push fails instead of dropping the chunk") {
    val p = Push.pass[Long](spark)
    p.put(Seq(1L))
    p.close()
    intercept[IllegalStateException](p.put(Seq(2L, 3L)))
    assert(p.result == Seq(1L))
  }

  test("put on a closed PushTee fails instead of dropping the chunk") {
    val p = Push.tee[Long](spark, identity, 10L, identity, 10L)
    p.put(Seq(1L))
    p.close()
    intercept[IllegalStateException](p.put(Seq(2L)))
    assert(p.resultA == Seq(1L) && p.resultB == Seq(1L))
  }

  test("put on a closed PushSink fails instead of dropping the chunk") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pushclosed").toString + "/out"
    val sink = Push.toPath[Long, Long](spark, dir)(identity)
    sink.put(Seq(1L))
    sink.close()
    intercept[IllegalStateException](sink.put(Seq(2L)))
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("transforms that would keep state across puts are rejected at construction") {
    def rejected(op: String)(build: => Any): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(op), e.getMessage)
    }
    rejected("Deduplicate")(Push[Long, Long](spark)(_.dropDuplicates()))
    rejected("GlobalLimit")(Push[Long, Long](spark)(_.limit(3)))
    rejected("Aggregate")(Push[Long, org.apache.spark.sql.Row](spark)(_.groupBy().count()))
    rejected("Deduplicate")(Push.tee[Long](spark, identity, 1L, _.dropDuplicates(), 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft_pushreject").toString
    rejected("GlobalLimit")(Push.toPath[Long, Long](spark, dir + "/out")(_.limit(3)))
    rejected("Aggregate")(Push.teeToPath[Long](spark,
      identity, dir + "/a", _.groupBy("value").count().as[(Long, Long)].map(_._1), dir + "/b"))
  }

  test("transforms whose values the planner would freeze are rejected at construction") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{current_timestamp, expr, lit, rand}
    def rejected(name: String)(build: => Any): Unit = {
      val e = intercept[IllegalArgumentException](build)
      assert(e.getMessage.contains(name), e.getMessage)
    }
    def route(f: Dataset[Long] => DataFrame): Dataset[Long] => Dataset[Long] =
      ds => f(ds).select(lit(1L).as("value")).as[Long]
    val dir = java.nio.file.Files.createTempDirectory("graft_pushfrozen").toString
    for ((name, f) <- Seq[(String, Dataset[Long] => DataFrame)](
           "rand" -> (_.select(rand())),
           "uuid" -> (_.select(expr("uuid()"))),
           "current_timestamp" -> (_.select(current_timestamp())))) {
      rejected(name)(Push[Long, org.apache.spark.sql.Row](spark)(f))
      rejected(name)(Push.tee[Long](spark, identity, 1L, route(f), 1L))
      rejected(name)(Push.toPath[Long, org.apache.spark.sql.Row](spark, s"$dir/$name")(f))
      rejected(name)(Push.teeToPath[Long](spark, route(f), s"$dir/$name-a", identity, s"$dir/$name-b"))
    }
    rejected("scalarsubquery")(Push[Long, Long](spark)(
      _.filter(expr("value > (SELECT max(id) FROM range(3))"))))
  }

  test("a failed put propagates, and the handle stays usable with only the next chunk bound") {
    val p = Push[Long, Long](spark)(_.map(x => if (x == 13L) sys.error("boom") else x))
    try {
      p.put(Seq(1L, 2L))
      val e = intercept[Exception](p.put(Seq(12L, 13L)))
      assert(e.getMessage.contains("boom"), e.getMessage)
      p.put(Seq(14L))
      assert(p.result == Seq(1L, 2L, 14L))
    } finally p.close()
  }

  test("two handles on one session keep separate, ordered results") {
    val a = Push[Long, Long](spark)(_.map(_ + 100))
    val b = Push[Long, Long](spark)(_.map(_ * -1))
    try {
      a.put(Seq(1L, 2L)); b.put(Seq(3L)); a.put(Seq(4L)); b.put(Seq(5L, 6L))
      assert(a.result == Seq(101L, 102L, 104L))
      assert(b.result == Seq(-3L, -5L, -6L))
      // and from two threads at once: each handle binds only its own source
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val runs = Seq(a -> 10L, b -> 20L).map { case (h, base) =>
        Future((0L until 8L).foreach(i => h.put(Seq(base + i))))
      }
      runs.foreach(Await.result(_, scala.concurrent.duration.Duration(120, "s")))
      assert(a.result.drop(3) == (110L until 118L))
      assert(b.result.drop(3) == (20L until 28L).map(-_))
    } finally { a.close(); b.close() }
  }

  test("an empty put after a non-empty one adds nothing") {
    val p = Push[Long, Long](spark)(_.map(_ * 10))
    val t = Push.tee[Long](spark, identity, 10L, identity, 10L)
    try {
      assert(p.put(Seq(1L, 2L)) == Long.MaxValue)
      assert(p.put(Nil) == Long.MaxValue)
      assert(p.result == Seq(10L, 20L))
      t.put(Seq(1L)); assert(t.put(Nil) == 9L)
      assert(t.resultA == Seq(1L) && t.resultB == Seq(1L))
    } finally { p.close(); t.close() }
  }

  test("an open Push starts no streaming query") {
    val before = spark.streams.active.map(_.id).toSet
    val p = Push[Long, Long](spark)(_.map(_ + 1))
    try {
      p.put(Seq(1L, 2L))
      assert(spark.streams.active.map(_.id).toSet == before)
      assert(p.result == Seq(2L, 3L))
    } finally p.close()
  }

  test("each put is one partition: mapPartitions sees every put whole") {
    val p = Push[Long, Long](spark)(_.mapPartitions(it => Iterator(it.size.toLong)))
    try {
      p.put(0L until 10000L)
      p.put(0L until 7L)
      assert(p.result == Seq(10000L, 7L))
    } finally p.close()
  }

  test("firstSeen streaming dedup drops repeats across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val source = MemoryStream[Long](spark)
    val deduped = StreamOps.firstSeen[Long, Long](source.toDS(), identity)
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      source.addData(Seq(1L, 2L, 2L, 3L))
      assert(pollRows("dedup_out", 3).sorted == Seq(1L, 2L, 3L))
      source.addData(Seq(2L, 3L, 4L))
      assert(pollRows("dedup_out", 4).sorted == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  // With ProcessingTimeTimeout the engine keeps scheduling no-data
  // batches to fire pending timeouts, so processAllAvailable never
  // settles — the TTL tests poll the sink instead of blocking.
  private def pollRows(table: String, atLeast: Int, timeoutMs: Long = 30000): Seq[Long] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var rows = Seq.empty[Long]
    while (rows.length < atLeast && System.currentTimeMillis() < deadline) {
      rows = spark.table(table).collect().map(_.getLong(0)).toSeq
      if (rows.length < atLeast) Thread.sleep(100)
    }
    rows
  }

  test("firstSeen with a TTL still dedups inside the window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val source = MemoryStream[Long](spark)
    val deduped = StreamOps.firstSeen[Long, Long](source.toDS(), identity,
      ttl = Some(java.time.Duration.ofMinutes(10)))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ttl_window").start()
    try {
      source.addData(Seq(7L, 7L, 8L))
      assert(pollRows("dedup_ttl_window", 2).sorted == Seq(7L, 8L))
      source.addData(Seq(7L, 8L, 9L))
      assert(pollRows("dedup_ttl_window", 3).sorted == Seq(7L, 8L, 9L))
      // repeats inside the TTL window stay suppressed (settle, recheck)
      Thread.sleep(500)
      assert(spark.table("dedup_ttl_window").count() == 3)
    } finally q.stop()
  }

  test("firstSeen: repeats inside the window do not cancel expiry (timeout re-armed)") {
    // Spark clears a group's registered timeout on every invocation with
    // data; before the round-4 fix, a suppressed repeat returned without
    // re-arming, so any repeating key never expired and its state leaked
    // forever (r3 advisor finding). This repeats the key INSIDE the
    // window, then asserts expiry + re-emit still happen.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val source = MemoryStream[Long](spark)
    val deduped = StreamOps.firstSeen[Long, Long](source.toDS(), identity,
      ttl = Some(java.time.Duration.ofMillis(1200)))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ttl_rearm").start()
    try {
      source.addData(Seq(5L))
      assert(pollRows("dedup_ttl_rearm", 1) == Seq(5L))
      source.addData(Seq(5L))                 // repeat inside the window: suppressed
      assert(pollRows("dedup_ttl_rearm", 1) == Seq(5L))
      Thread.sleep(2000)                      // TTL (anchored at FIRST sight) lapses
      source.addData(Seq(99L))                // drive batches so the timeout fires
      assert(pollRows("dedup_ttl_rearm", 2).length == 2)
      source.addData(Seq(5L))                 // expired: re-emits
      val got = pollRows("dedup_ttl_rearm", 3)
      assert(got.count(_ == 5L) == 2,
        s"expected key 5 twice (expiry survived the in-window repeat), got $got")
      val stateRows = q.recentProgress.last.stateOperators.head.numRowsTotal
      assert(stateRows <= 2, s"state store must stay bounded, holds $stateRows rows")
    } finally q.stop()
  }

  test("firstSeen state expires after the TTL and the key re-emits") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val source = MemoryStream[Long](spark)
    val deduped = StreamOps.firstSeen[Long, Long](source.toDS(), identity,
      ttl = Some(java.time.Duration.ofMillis(200)))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_ttl_expire").start()
    try {
      source.addData(Seq(1L))
      assert(pollRows("dedup_ttl_expire", 1) == Seq(1L))   // first seen: emits
      Thread.sleep(500)                                    // let the TTL lapse
      source.addData(Seq(99L))                             // next batches fire the timeout
      assert(pollRows("dedup_ttl_expire", 2).length == 2)
      source.addData(Seq(1L))                              // expired: re-emits
      val got = pollRows("dedup_ttl_expire", 3)
      assert(got.count(_ == 1L) == 2, s"expected key 1 twice (expiry re-emit), got $got")
      // expiry must actually REMOVE state, not only re-emit: the store
      // holds the two live keys, not every key ever seen
      val stateRows = q.recentProgress.last.stateOperators.head.numRowsTotal
      assert(stateRows <= 2, s"state store must stay bounded, holds $stateRows rows")
    } finally q.stop()
  }
}
