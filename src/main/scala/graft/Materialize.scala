package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place graft pins an intermediate result: iterate-loop state
  * (connected components, PageRank, suffix-array ladders), diamond
  * tables read by several consumers (shingle/signature tables, sketch
  * cells) and range-partitioned tables whose phases must agree on the
  * same sampled boundaries (TrainPrep.packSequences). Every operator
  * calls [[pin]]; none calls `localCheckpoint()` or `checkpoint()`.
  *
  * How durable a pin is follows from the session, not from an option:
  * - a checkpoint dir is set (`spark.checkpoint.dir`, or
  *   `sparkContext.setCheckpointDir`): `checkpoint()`. The blocks are
  *   files in that dir and survive executor loss, which a multi-hour
  *   100 TB run needs.
  * - no checkpoint dir: `localCheckpoint()`. Executor-memory/disk
  *   blocks, no file-system round-trip; they die with their executor,
  *   so on a cluster one executor loss mid-iteration recomputes the
  *   truncated lineage.
  *
  * Either way the returned frame is PINNED (same rows on every
  * consumption) and its lineage truncated. A pass-through identity
  * would break operators whose phases must agree on sampled partition
  * boundaries and re-execute diamond lineages (measured: ReuseExchange
  * does not fire across AQE's broadcast conversion, SCALE.md round 3).
  */
object Materialize {
  /** Eagerly pin `df`, then pass it through
    * [[org.apache.spark.sql.GraftStatsReset]]: checkpoints carry the
    * origin plan's ESTIMATED stats, which compound multiplicatively
    * across iterate-loop rounds until the planner wedges in BigInteger
    * arithmetic (see GraftStatsReset's header for the mechanism and the
    * q358 incident). The reset caps the carried estimate; the pinned
    * blocks and lineage truncation are untouched. */
  def pin(df: DataFrame): DataFrame = {
    val durable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    org.apache.spark.sql.GraftStatsReset(
      if (durable) df.checkpoint() else df.localCheckpoint())
  }

  /** Frees the pinned blocks `df` reads directly now, instead of when
    * the garbage collector finds them: for a pinned frame (or a lazy
    * projection of one) that its caller discards. */
  def release(df: DataFrame): Unit = pinnedRdds(df).foreach(_.unpersist(blocking = false))

  /** The persisted RDDs under the pinned leaves of `df`'s plan. */
  private[graft] def pinnedRdds(df: DataFrame): Seq[RDD[_]] = {
    def persisted(r: RDD[_]): Seq[RDD[_]] =
      if (r.getStorageLevel.isValid) Seq(r)
      else r.dependencies.flatMap(d => persisted(d.rdd))
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => persisted(l.rdd) }.flatten
  }
}
