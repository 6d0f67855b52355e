package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A shared build that several gates read: a multi-job Spark pipeline
  * over one corpus whose results are persisted once and read back by
  * every consumer, so each consumer gate measures its own readout and
  * the build is charged once (Bench's `substrates` lines).
  *
  * Cache contract, for every substrate:
  *  - [[root]] builds at most once per (JVM, corpus), keyed by
  *    [[Scratch.corpusKey]]: corpus directories are assumed immutable
  *    for the JVM's lifetime.
  *  - Artifacts live in [[Scratch]] space, deleted on JVM exit.
  *  - No build runs under the map lock ([[Scratch.Memo]]); two racing
  *    callers may both build, which is wasted work only, because every
  *    build is deterministic (SubstrateSpec pins a cold build against
  *    the cached one, artifact by artifact).
  *
  * `build(spark, corpusDir, outDir)` writes its artifacts as
  * `<outDir>/<artifact>.parquet` and returns nothing, so no live
  * (checkpointed or cached) frame can cross from a build to its
  * consumers or to the next build; Bench relies on this when it
  * unpersists everything between builds. A build reads each of its
  * `deps` through that dependency's [[root]], never by rebuilding it. */
final class Substrate private (val name: String, val deps: Seq[Substrate],
    build: (SparkSession, String, String) => Unit) {
  private val memo = new Scratch.Memo

  /** The scratch directory holding this substrate's artifacts for the
    * corpus at `dir`, built on first use. */
  def root(s: SparkSession, dir: String): String = {
    Option(Substrate.touched.get).foreach(_ += this)
    memo(dir)(buildCold(s, dir))
  }

  /** A fresh build into new scratch space, bypassing the cache (its
    * `deps` still come from their cached roots); returns the directory. */
  def buildCold(s: SparkSession, dir: String): String = {
    val out = Scratch.tempDir(s"graft-$name")
    build(s, dir, out)
    out
  }

  /** One artifact of the cached build. */
  def read(s: SparkSession, dir: String, artifact: String): DataFrame =
    s.read.parquet(s"${root(s, dir)}/$artifact.parquet")

  override def toString: String = name
}

object Substrate {
  def apply(name: String, deps: Seq[Substrate] = Nil)(
      build: (SparkSession, String, String) => Unit): Substrate =
    new Substrate(name, deps, build)

  /** Every substrate, each after all of its deps — the order Bench
    * builds and reports them in. */
  lazy val all: Seq[Substrate] = {
    import graft.ops.{Components => C, DataSelect, TrainPrep}
    val reg = Seq(C.DupPairs, C.DupMst, C.EpsPairs, C.EpsSlink, C.EpsTree,
      C.MrSlink, C.MrTree, TrainPrep.GlobalSa, DataSelect.Shapley,
      TrainPrep.SpanRm)
    reg.zipWithIndex.foreach { case (sub, i) =>
      val late = sub.deps.filterNot(reg.take(i).contains)
      require(late.isEmpty,
        s"substrate $sub is registered before its deps ${late.mkString(", ")}")
    }
    reg
  }

  /** `uses` plus everything they transitively depend on, in [[all]]'s
    * order. */
  def closure(uses: Iterable[Substrate]): Seq[Substrate] = {
    def up(sub: Substrate): Set[Substrate] = sub.deps.flatMap(up).toSet + sub
    val need = uses.flatMap(up).toSet
    require(need.forall(all.contains),
      s"unregistered substrates: ${need.filterNot(all.contains).mkString(", ")}")
    all.filter(need)
  }

  /** Names of the parquet artifacts a build wrote under `out`, sorted. */
  def artifacts(out: String): Seq[String] =
    Option(new java.io.File(out).list()).toSeq.flatten
      .collect { case f if f.endsWith(".parquet") => f.stripSuffix(".parquet") }
      .sorted

  private val touched =
    new ThreadLocal[scala.collection.mutable.Set[Substrate]]

  /** Runs `body` and returns every substrate whose [[root]] it reached
    * on this thread, directly or through a build's deps. */
  private[graft] def touchedBy(body: => Unit): Set[Substrate] = {
    val seen = scala.collection.mutable.Set.empty[Substrate]
    touched.set(seen)
    try body finally touched.remove()
    seen.toSet
  }
}
