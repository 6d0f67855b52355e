package graft.stream

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical._

import scala.collection.mutable.ArrayBuffer

/** Push-mode pipelines — the reference's output-range front-end
  * (`pass!E`, flod range.d:211-237; DriveMode.source, SURVEY.md §3.3):
  * external code pushes chunks in, the pipeline runs sink-ward.
  *
  * Spark mapping: each `put` is one batch job over a one-partition
  * Dataset of the chunk, run on the calling thread (the documented
  * fidelity bound, SURVEY.md §7.4 — flod's fiber switch is per-buffer,
  * ours is per-put job). No streaming query runs, so a put pays no WAL,
  * commit log or trigger coordination. That is exact only because the
  * transform must be row-local (map, filter, flatMap, select): its output
  * cannot depend on where one put ends and the next begins. A transform
  * that would carry state across puts (dedup, limit, aggregation) is
  * rejected when the pipeline is built; stateful streams use [[StreamOps]].
  *
  * Backpressure: flod halts the driving loop when a sink accepts a short
  * count (adapter.d:110-113). `Push.take(n)` reproduces that contract:
  * `put` returns the number of elements the pipeline will still accept;
  * 0 tells the producer to stop.
  */
final class Push[T: Encoder, U](spark: SparkSession,
                                transform: Dataset[T] => Dataset[U],
                                limit: Option[Long] = None) extends PushHandle[T](spark) {
  Push.requireRowLocal(spark, transform)
  private val sink = ArrayBuffer.empty[U]

  /** Push one chunk; returns how many further elements the pipeline will
    * accept (0 = stop, short-write backpressure). */
  def put(chunk: Seq[T]): Long = run(chunk) { ds =>
    val rows = transform(ds).collect()
    limit match {
      case Some(l) => Push.fill(sink, rows, l)
      case None => sink ++= rows; Long.MaxValue
    }
  }

  /** Elements that reached the sink, in arrival order. */
  def result: Seq[U] = synchronized(sink.toVector)
}

/** What every push handle shares: puts run one at a time on the calling
  * thread, each over a one-partition Dataset of its chunk, and a put on a
  * closed handle fails instead of dropping the chunk. One partition, not
  * a `LocalRelation` (which splits a put across partitions), so a
  * `mapPartitions` transform sees each put whole. */
sealed abstract class PushHandle[T: Encoder](spark: SparkSession) {
  private var closed = false

  protected final def run[R](chunk: Seq[T])(body: Dataset[T] => R): R = synchronized {
    if (closed) throw new IllegalStateException("put on a closed push pipeline")
    body(spark.createDataset(
      spark.sparkContext.parallelize(chunk, 1)(implicitly[Encoder[T]].clsTag)))
  }

  def close(): Unit = synchronized { closed = true }
}

object Push {
  /** `pass!E.copy(appender)` — identity push pipeline into a collector. */
  def pass[T: Encoder](spark: SparkSession): Push[T, T] =
    new Push[T, T](spark, identity)

  /** Push pipeline with a row-local transform stage. */
  def apply[T: Encoder, U](spark: SparkSession)(f: Dataset[T] => Dataset[U]): Push[T, U] =
    new Push[T, U](spark, f)

  /** Push pipeline that stops accepting after `n` sink elements — the
    * streaming `take` (flod T1 under DriveMode.source). */
  def take[T: Encoder](spark: SparkSession, n: Long): Push[T, T] =
    new Push[T, T](spark, identity, Some(n))

  /** S3 `DelegateSource` (flod range.d:169-189): the user lambda receives
    * the put handle and IS the driver `run()` loop; returns everything
    * that reached the sink. The handle's return value carries the
    * short-write backpressure signal, as in the reference. */
  def drive[T: Encoder](spark: SparkSession, limit: Option[Long] = None)
                       (producer: (Seq[T] => Long) => Unit): Seq[T] = {
    val p = new Push[T, T](spark, identity, limit)
    try { producer(p.put); p.result } finally p.close()
  }

  /** Fails unless `f` is row-local: applied to an empty input, every node
    * of its analyzed plan maps, filters or reshapes single rows, and its
    * only leaf is that input. Only then does running `f` once per put
    * give the same rows as running it over the whole pushed stream. */
  private def requireRowLocal[T: Encoder, U](spark: SparkSession,
                                             f: Dataset[T] => Dataset[U]): Unit = {
    val input = spark.emptyDataset[T]
    val leaf = input.queryExecution.analyzed
    val stateful = f(input).queryExecution.analyzed.flatMap {
      case _: Project | _: Filter | _: TypedFilter | _: MapElements | _: MapPartitions |
           _: SerializeFromObject | _: DeserializeToObject | _: AppendColumns |
           _: Generate | _: SubqueryAlias => None
      case p if p eq leaf => None
      case p => Some(p.nodeName)
    }.distinct
    require(stateful.isEmpty, s"a push transform must be row-local (map, filter, " +
      s"flatMap, select); ${stateful.mkString(", ")} would span puts — use StreamOps")
  }

  /** Appends what fits of `rows` under `limit` and returns the room left. */
  private def fill[E](sink: ArrayBuffer[E], rows: Array[E], limit: Long): Long = {
    val room = (limit - sink.length).max(0L)
    sink ++= rows.take(room.min(rows.length.toLong).toInt)
    (limit - sink.length).max(0L)
  }

  /** Push pipeline with a DISTRIBUTED file sink: each put is written by
    * the executors (append-mode parquet), nothing is collected to the
    * driver — the production counterpart of the driver-side collector
    * sinks above, which mirror flod's single-threaded terminals. Returns
    * a handle whose `put` pushes a chunk synchronously; read the sink
    * directory when done. */
  def toPath[T: Encoder, U](spark: SparkSession, path: String)
                           (transform: Dataset[T] => Dataset[U]): PushSink[T] = {
    requireRowLocal(spark, transform)
    new PushSink[T](spark, transform(_).write.mode("append").parquet(path))
  }

  /** Handle for [[toPath]] and [[teeToPath]]: synchronous put + close. */
  final class PushSink[T: Encoder] private[Push] (spark: SparkSession, write: Dataset[T] => Unit)
      extends PushHandle[T](spark) {
    def put(chunk: Seq[T]): Unit = run(chunk)(write)
  }

  /** Fan-out push pipeline (demux/multicast) — the push-mode face of
    * flod's own roadmap item (README.md:46-47, "multiplexing and
    * demultiplexing streams"): each put routes the SAME chunk through two
    * row-local route transforms into TWO collector sinks with
    * independent capacity limits (overlapping routes multicast, disjoint
    * ones demux). Both routes read the driver's chunk, so they observe
    * identical rows.
    *
    * Backpressure: `put` returns the MINIMUM remaining room across the
    * two sinks — flod's short-write halt contract (adapter.d:110-113)
    * extended across a demux: the producer must stop as soon as ANY
    * branch is full, else that branch drops data. 0 = stop. */
  final class PushTee[T: Encoder] private[Push] (spark: SparkSession,
      routeA: Dataset[T] => Dataset[T], limitA: Long,
      routeB: Dataset[T] => Dataset[T], limitB: Long) extends PushHandle[T](spark) {
    requireRowLocal(spark, routeA)
    requireRowLocal(spark, routeB)
    private val sinkA = ArrayBuffer.empty[T]
    private val sinkB = ArrayBuffer.empty[T]

    /** Push one chunk; returns min remaining room across both sinks. */
    def put(chunk: Seq[T]): Long = run(chunk) { ds =>
      val roomA = fill(sinkA, routeA(ds).collect(), limitA)
      math.min(roomA, fill(sinkB, routeB(ds).collect(), limitB))
    }

    def resultA: Seq[T] = synchronized(sinkA.toVector)
    def resultB: Seq[T] = synchronized(sinkB.toVector)
  }

  /** Build a [[PushTee]]: two routed, capacity-limited sinks off one
    * pushed stream. */
  def tee[T: Encoder](spark: SparkSession,
                      routeA: Dataset[T] => Dataset[T], limitA: Long,
                      routeB: Dataset[T] => Dataset[T], limitB: Long): PushTee[T] =
    new PushTee[T](spark, routeA, limitA, routeB, limitB)

  /** Demux with DISTRIBUTED sinks — the production face of [[tee]]:
    * [[PushTee]]'s collector sinks are driver-side by contract (they
    * mirror flod's single-threaded terminals), so at scale a demux
    * needs this variant instead: each put routes the same chunk to TWO
    * executor-written append-parquet sinks — rows never stage through
    * the driver, and both routes read the identical chunk. No capacity
    * limits: file sinks don't fill; backpressure is the durable store's
    * problem. */
  def teeToPath[T: Encoder](spark: SparkSession,
                            routeA: Dataset[T] => Dataset[T], pathA: String,
                            routeB: Dataset[T] => Dataset[T], pathB: String): PushSink[T] = {
    requireRowLocal(spark, routeA)
    requireRowLocal(spark, routeB)
    new PushSink[T](spark, { ds =>
      routeA(ds).write.mode("append").parquet(pathA)
      routeB(ds).write.mode("append").parquet(pathB)
    })
  }
}
