package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      root: String, work: String, out: String)

/** One timed operation; times are epoch ms for span attribution plus a
  * nanosecond duration for the metric. */
final case class OpRec(id: Int, pass: Int, kind: String, name: String,
                       start: Long, end: Long, ns: Long, ok: Boolean)

/** A phase inside an operation; its job group tags the Spark jobs it runs. */
final case class PhaseRec(op: Int, name: String, group: String, start: Long, end: Long, ns: Long)

/** One pass of a workload's fixed unit of work. `counted` passes feed the
  * metrics; `traced` passes run with the tracing listeners attached. */
final case class PassRec(idx: Int, counted: Boolean, traced: Boolean,
                         start: Long, end: Long, ns: Long)

/** Per-run state shared by the harness and a workload: the session, the
  * recorder, and the log of operations. Single client thread. */
final class Ctx(val spark: SparkSession, val args: Args, val rec: Recorder) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val dataDir: String = s"${args.root}/perfbench/data/sf0.01"
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val passes = mutable.ArrayBuffer.empty[PassRec]
  var pass: Int = -1
  private var curOp = -1
  private var nextOp = 0
  var failed = 0
  var attempted = 0

  /** Run one operation: `body` is timed, `check` (untimed) validates its
    * output. An exception or a failed check counts as a failed operation. */
  def op[T](kind: String, name: String)(body: => T)(check: T => Boolean): Option[T] = {
    curOp = nextOp
    nextOp += 1
    setGroup(s"op$curOp")
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        System.err.println(s"perfbench: $kind $name failed: $e")
        None
    }
    val ns = System.nanoTime() - t0
    val end = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val ok = r.exists { v =>
      try check(v) catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $kind $name check failed: $e")
          false
      }
    }
    if (r.isDefined && !ok) System.err.println(s"perfbench: $kind $name gave a wrong result")
    attempted += 1
    if (!ok) failed += 1
    ops += OpRec(curOp, pass, kind, name, start, end, ns, ok)
    r.filter(_ => ok)
  }

  /** A named phase of the current operation. */
  def phase[T](name: String)(body: => T): T = {
    val group = s"op$curOp/$name"
    setGroup(group)
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally {
      phases += PhaseRec(curOp, name, group, start, System.currentTimeMillis(), System.nanoTime() - t0)
      setGroup(s"op$curOp")
    }
  }

  private def setGroup(g: String): Unit =
    spark.sparkContext.setJobGroup(g, s"perfbench $g", interruptOnCancel = false)

  /** Drop cached frames and pinned blocks a gate or build left behind, so
    * the next operation starts from the same state. */
  def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Codegen counters per traced pass: (compiles, compile ms, source bytes). */
  val codegen = mutable.HashMap.empty[Int, (Long, Double, Double)]

  def codegenDelta(ps: Seq[PassRec]): (Long, Double, Double) =
    ps.flatMap(p => codegen.get(p.idx)).foldLeft((0L, 0.0, 0.0)) {
      case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
    }

  def countedOps(kinds: Set[String]): Seq[OpRec] = {
    val counted = passes.filter(_.counted).map(_.idx).toSet
    ops.toSeq.filter(o => counted(o.pass) && kinds(o.kind))
  }
}

/** A benchmark workload: a fixed unit of work (`pass`) repeated a number
  * of times set by the run's seconds, plus its set-up and output checks. */
trait Workload {
  def name: String
  /** Operation kinds whose latencies make op_p50_s / op_p90_s. */
  def opKinds: Set[String]
  /** Warm-up counted in setup_s (runs once per session set-up). */
  def warmup(spark: SparkSession, args: Args): Unit
  /** Per-run input generation, excluded from setup_s. */
  def prepare(ctx: Ctx): Unit = ()
  /** Leading passes that prime caches and are not counted. */
  def primingPasses: Int = 0
  /** About how long one counted pass takes on 4 cores; a run makes
    * round(seconds / passSeconds) counted passes. */
  def passSeconds: Double
  def pass(ctx: Ctx, idx: Int): Unit
  /** Untimed checks after the timed region. */
  def verify(ctx: Ctx): Unit = ()
  /** The put latencies, and any end-to-end metric the workload defines
    * its own way (see README). */
  def endToEnd(ctx: Ctx, m: RunMeasures): Map[String, Double]
  /** Workload-specific per-layer metrics from the traced passes. */
  def layers(ctx: Ctx, m: RunMeasures): Map[String, Double] = Map.empty
}
