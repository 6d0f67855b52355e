package graft.stream

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** Push-mode pipelines — the reference's output-range front-end
  * (`pass!E`, flod range.d:211-237; DriveMode.source, SURVEY.md §3.3):
  * external code pushes chunks in, the pipeline runs sink-ward.
  *
  * Spark mapping: the transform is planned once, when the pipeline is
  * built; each `put` binds its chunk to a one-partition source and runs
  * that plan's job on the calling thread (the documented fidelity bound,
  * SURVEY.md §7.4 — flod's fiber switch is per-buffer, ours is per-put
  * job). A put pays no analysis, optimization or codegen, and no streaming
  * query runs. That is exact only because the transform must be row-local
  * (map, filter, flatMap, select), so its output cannot depend on where one
  * put ends and the next begins, and deterministic, so the one plan gives
  * every put what a fresh plan would. A stateful transform (dedup, limit,
  * aggregation) or one the planner would freeze (`rand()`, `uuid()`,
  * `current_timestamp()`) is rejected when the pipeline is built; stateful
  * streams use [[StreamOps]].
  *
  * Backpressure: flod halts the driving loop when a sink accepts a short
  * count (adapter.d:110-113). `Push.take(n)` reproduces that contract:
  * `put` returns the number of elements the pipeline will still accept;
  * 0 tells the producer to stop.
  */
final class Push[T: Encoder, U](spark: SparkSession,
                                transform: Dataset[T] => Dataset[U],
                                limit: Option[Long] = None) extends PushHandle[T](spark) {
  private val job = Push.job(planOnce(transform))
  private val sink = ArrayBuffer.empty[U]

  /** Push one chunk; returns how many further elements the pipeline will
    * accept (0 = stop, short-write backpressure). */
  def put(chunk: Seq[T]): Long = run(chunk) {
    val rows = job()
    limit match {
      case Some(l) => Push.fill(sink, rows, l)
      case None => sink ++= rows; Long.MaxValue
    }
  }

  /** Elements that reached the sink, in arrival order. */
  def result: Seq[U] = synchronized(sink.toVector)
}

/** What every push handle shares: `input`, a Dataset over a one-partition
  * source that a put binds to its chunk, so a `mapPartitions` transform
  * sees each put whole. Puts run one at a time on the calling thread, and
  * a put on a closed handle fails instead of dropping the chunk. */
sealed abstract class PushHandle[T: Encoder](spark: SparkSession) {
  private val source = new ChunkRDD[T](spark.sparkContext)(implicitly[Encoder[T]].clsTag)
  private val input = spark.createDataset(source)
  private var closed = false

  /** Runs `body` with `chunk` bound to `input`. The slot is cleared even
    * when the job fails, so an idle handle does not hold its last chunk. */
  protected final def run[R](chunk: Seq[T])(body: => R): R = synchronized {
    if (closed) throw new IllegalStateException("put on a closed push pipeline")
    source.part.chunk = chunk
    try body finally source.part.chunk = Nil
  }

  /** `f` over the bound input, once it is shown that one plan serves
    * every put. Every node between `f`'s output and the input must map,
    * filter or reshape single rows, so running it per put gives the rows
    * it would give over the whole pushed stream. And no expression may be
    * one the planner fixes at planning time — a random seed, the clock, a
    * subquery's result — since the plan is never made again. */
  protected final def planOnce[U](f: Dataset[T] => Dataset[U]): Dataset[U] = {
    val leaf = input.queryExecution.analyzed
    val ds = f(input)
    val plan = ds.queryExecution.analyzed
    def spans(p: LogicalPlan): Seq[String] = if (p eq leaf) Nil else (p match {
      case _: Project | _: Filter | _: TypedFilter | _: MapElements | _: MapPartitions |
           _: SerializeFromObject | _: DeserializeToObject | _: AppendColumns |
           _: Generate | _: SubqueryAlias => Nil
      case _ => Seq(p.nodeName)
    }) ++ p.children.flatMap(spans)
    val stateful = spans(plan).distinct
    require(stateful.isEmpty, s"a push transform must be row-local (map, filter, " +
      s"flatMap, select); ${stateful.mkString(", ")} would span puts — use StreamOps")
    def frozen(e: Expression): Boolean = e match {
      case _: SubqueryExpression => true
      case _ => (!e.deterministic && e.children.forall(_.deterministic)) ||
        (e.containsPattern(CURRENT_LIKE) && !e.children.exists(_.containsPattern(CURRENT_LIKE)))
    }
    val fixed = plan.flatMap(_.expressions.flatMap(_.collect {
      case e if frozen(e) => e.prettyName
    })).distinct
    require(fixed.isEmpty, s"a push transform is planned once, when the pipeline is built, " +
      s"so it must be deterministic; ${fixed.mkString(", ")} would repeat that plan's value on every put")
    ds
  }

  def close(): Unit = synchronized { closed = true }
}

/** The push source. The chunk rides in the partition, which is serialized
  * into each task as `parallelize`'s is, not in the RDD, which every job
  * broadcasts in its task binary. */
private[stream] final class ChunkRDD[T: ClassTag](sc: SparkContext) extends RDD[T](sc, Nil) {
  @transient private[stream] val part = new ChunkPartition[T]
  override protected def getPartitions: Array[Partition] = Array(part)
  override def compute(split: Partition, context: TaskContext): Iterator[T] =
    split.asInstanceOf[ChunkPartition[T]].chunk.iterator
}

private[stream] final class ChunkPartition[T] extends Partition {
  @volatile var chunk: Seq[T] = Nil
  override def index: Int = 0
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

  /** `ds`'s lineage, built once, as a job that returns its rows. It runs
    * through `runJob` rather than `RDD.collect`, whose per-call operation
    * scope costs 3–5 ms of each put. */
  private def job[E](ds: Dataset[E]): () => Array[E] = {
    val rdd = ds.rdd
    implicit val ct: ClassTag[E] = ds.encoder.clsTag
    val all = (it: Iterator[E]) => it.toArray
    () => rdd.sparkContext.runJob(rdd, all).head
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
                           (transform: Dataset[T] => Dataset[U]): PushSink[T] =
    new PushSink[T](spark, Seq(transform -> path))

  /** Handle for [[toPath]] and [[teeToPath]]: synchronous put + close. Each
    * route is planned once; a put appends every route's rows to its path. */
  final class PushSink[T: Encoder] private[Push] (spark: SparkSession,
      routes: Seq[(Dataset[T] => Dataset[_], String)]) extends PushHandle[T](spark) {
    private val writes = routes.map { case (f, path) => planOnce(f.andThen(_.toDF())) -> path }

    def put(chunk: Seq[T]): Unit = run(chunk) {
      writes.foreach { case (ds, path) => ds.write.mode("append").parquet(path) }
    }
  }

  /** Fan-out push pipeline (demux/multicast) — the push-mode face of
    * flod's own roadmap item (README.md:46-47, "multiplexing and
    * demultiplexing streams"): each put routes the SAME chunk through two
    * row-local route transforms into TWO collector sinks with
    * independent capacity limits (overlapping routes multicast, disjoint
    * ones demux). Both routes read the bound chunk, so they observe
    * identical rows.
    *
    * Backpressure: `put` returns the MINIMUM remaining room across the
    * two sinks — flod's short-write halt contract (adapter.d:110-113)
    * extended across a demux: the producer must stop as soon as ANY
    * branch is full, else that branch drops data. 0 = stop. */
  final class PushTee[T: Encoder] private[Push] (spark: SparkSession,
      routeA: Dataset[T] => Dataset[T], limitA: Long,
      routeB: Dataset[T] => Dataset[T], limitB: Long) extends PushHandle[T](spark) {
    private val jobA = job(planOnce(routeA))
    private val jobB = job(planOnce(routeB))
    private val sinkA = ArrayBuffer.empty[T]
    private val sinkB = ArrayBuffer.empty[T]

    /** Push one chunk; returns min remaining room across both sinks. */
    def put(chunk: Seq[T]): Long = run(chunk) {
      val roomA = fill(sinkA, jobA(), limitA)
      math.min(roomA, fill(sinkB, jobB(), limitB))
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
                            routeB: Dataset[T] => Dataset[T], pathB: String): PushSink[T] =
    new PushSink[T](spark, Seq(routeA -> pathA, routeB -> pathB))
}
