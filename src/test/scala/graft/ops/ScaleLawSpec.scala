package graft.ops

import graft.{ScaleGen, SparkEntry, Tables, TestSpark}
import graft.core.Substrate
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, element_at}
import org.scalatest.funsuite.AnyFunSuite

/** The SCALE.md scaling study folded into CI as a STANDING gate
  * (VERDICT r12 next-round #7): every recent gate runs at sf0.001 and
  * at a deterministic 3× ScaleGen replica, and the ratio of its total
  * SHUFFLE RECORDS must stay sub-quadratic.
  *
  * Why shuffle records, not wall clock: the study's wall-clock table
  * is a measurement on a quiet box — on a contended CI box the same
  * numbers are ±3× noise (VERDICT r12's "noisy six"). The INVARIANT
  * behind the table is the work law: a linear-plan gate moves O(n)
  * records through its exchanges, so 3× data ⇒ ≤~3× shuffled records,
  * deterministically (record counts are plan-logical; AQE coalescing
  * moves partition boundaries, not records). A super-linear defect of
  * the q336-pre-fix class (unbounded pairs on both sides: ×9 records
  * at ×3 data) trips the bound here before any driver run.
  *
  * Two r14 extensions (VERDICT r13 next-round #1 and #3):
  *
  *  - PINNED-BLOCK-BYTES law: the q351 defect (localCheckpoint of a
  *    64-dim corpus read at 8 dims) was INVISIBLE to the record law —
  *    record counts ignore row WIDTH. A block-update listener now sums
  *    the bytes every gate pins (RDD blocks added by localCheckpoint/
  *    cache), and checkpoint-carrying gates must keep that ≤ linear at
  *    ×3. A self-test re-introduces a deliberately wide pin and
  *    asserts the probe sees it.
  *
  *  - VOCAB-GROWTH fixtures for the open-vocabulary model class
  *    (q349): under the default "namespace" fixture vocab grows ∝ n —
  *    adversarial for a model whose tables are type-keyed — while real
  *    text obeys Heaps' law (vocab ∝ n^β, β≈0.5). q349's law now runs
  *    on BOTH: namespace (model tables may grow ∝ n, shuffle must stay
  *    ≤ linear — it is the corpus pass that dominates) and heaps
  *    (model growth sublinear). q357, the bounded-vocab production
  *    variant, must stay linear on the ADVERSARIAL fixture — its model
  *    is corpus-size-independent by construction, which is the actual
  *    100 TB answer for this operator family.
  *
  * Bounds are generous (linear gates get ×5 + absolute slack for
  * broadcast/threshold flips at tiny SF); the ONE documented
  * super-linear workload — q345, whose ε-graph densifies quadratically
  * under replication-with-jitter (SCALE.md round 12) — gets a wider,
  * still-bounded belt. */
class ScaleLawSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // 3× replica of sf0.001 (deterministic: ScaleGen is xxhash-derived),
  // built once per suite run in scratch space.
  private lazy val big: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sf3x").toString
    ScaleGen.generate(spark, TestSpark.sf0001, dir, 3)
    dir
  }

  // 9× replica (r17): paired with `big` for the q376 cap-bound law —
  // at ×3 and ×9 the %37 eval pool (≈41 / ≈123 candidates) saturates
  // the 32-query cap on both sides, isolating the corpus-linear term.
  private lazy val big9: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sf9x").toString
    ScaleGen.generate(spark, TestSpark.sf0001, dir, 9)
    dir
  }

  // 3× replica with Heaps-law token growth (vocab ∝ √reps) — the
  // realistic fixture for open-vocabulary model gates; see header.
  private lazy val bigHeaps: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sf3x-heaps").toString
    ScaleGen.generate(spark, TestSpark.sf0001, dir, 3, docTokenMode = "heaps")
    dir
  }

  private val shuffled = new java.util.concurrent.atomic.AtomicLong
  private val pinned = new java.util.concurrent.atomic.AtomicLong
  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    // Every VALID RDD-block add is bytes the gate pinned (localCheckpoint
    // / cache); removals post NONE-level updates and are not counted —
    // the law meters what was WRITTEN, the width × rows product q351's
    // defect inflated.
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid)
        pinned.addAndGet(i.memSize + i.diskSize)
    }
  }

  /** Run `body` under the metric listener; returns (shuffle records,
    * pinned RDD-block bytes) across ALL jobs it runs (gates with
    * internal localCheckpoint/collect span several jobs — a single
    * queryExecution's metrics would miss them). Listener delivery is
    * async: poll until both counters stabilize. */
  private def measure(body: => Unit): (Long, Long) = {
    spark.sparkContext.addSparkListener(listener)
    try {
      shuffled.set(0L); pinned.set(0L)
      body
      var prev = (-1L, -1L)
      var cur = (shuffled.get, pinned.get)
      while (prev != cur) { Thread.sleep(250); prev = cur; cur = (shuffled.get, pinned.get) }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def gateMetrics(name: String, dir: String): (Long, Long) =
    measure { SparkEntry.queries(name)(spark, dir).collect() }

  private def law(name: String, maxRatio: Double): Unit =
    lawOn(name, maxRatio, big, "namespace")

  private def lawOn(name: String, maxRatio: Double, fixture: => String,
      tag: String, warm: (String => Unit) = _ => ()): Unit =
    test(s"$name: shuffle records grow ≤ ×$maxRatio at ×3 $tag data") {
      // substrate-backed gates pre-warm BOTH fixtures so the law meters
      // the gate's own readout on each side — r14's red suite compared
      // a WARM cached base against a COLD ×3 build (×231/×1363 vs the
      // ×6 bound) and measured the cache state, not the operator
      // (VERDICT r14 #1). The substrate BUILD has its own cold/cold
      // law below.
      warm(TestSpark.sf0001); warm(fixture)
      val small = gateMetrics(name, TestSpark.sf0001)._1
      val large = gateMetrics(name, fixture)._1
      info(f"records $small -> $large (x${large.toDouble / math.max(small, 1)}%.1f)")
      // +20k absolute slack: at sf0.001 constant factors (bounded model
      // tables, AQE broadcast flips) dominate and pure ratios would be
      // meaningless for near-zero baselines.
      assert(large <= small * maxRatio + 20000,
        f"$name shuffled $small -> $large records at x3 $tag data " +
          f"(x${large.toDouble / math.max(small, 1)}%.1f, bound x$maxRatio)")
    }

  /** The width law: total pinned block bytes at ×3 data stay ≤ linear.
    * Absolute slack 256 KiB — block sizes at sf0.001 are tens of KiB,
    * and a q351-class wide pin multiplies them well past the belt. */
  private def pinLaw(name: String, maxRatio: Double,
      warm: (String => Unit) = _ => ()): Unit =
    test(s"$name: pinned block bytes grow ≤ ×$maxRatio at ×3 data") {
      warm(TestSpark.sf0001); warm(big)
      val small = gateMetrics(name, TestSpark.sf0001)._2
      val large = gateMetrics(name, big)._2
      assert(large <= small * maxRatio + (256L << 10),
        f"$name pinned $small -> $large bytes at x3 data " +
          f"(x${large.toDouble / math.max(small, 1)}%.1f, bound x$maxRatio)")
    }

  /** Cold/cold law on a substrate BUILD itself (VERDICT r14 #1):
    * [[graft.core.Substrate.buildCold]] bypasses the JVM-wide cache, so
    * both sides meter the full build regardless of what any earlier
    * test warmed — this is the law that still catches a super-linear
    * MST/CC regression now that the gate laws meter readouts. */
  private def substrateLaw(what: String, maxRatio: Double, pinRatio: Double,
      sub: Substrate): Unit =
    test(s"substrate $what: COLD build shuffle records ≤ ×$maxRatio and " +
        s"pinned bytes ≤ ×$pinRatio at ×3 data") {
      // a build may consume UPSTREAM substrates (its deps) — warm them
      // on both fixtures OUTSIDE the measure so the law meters this
      // build's own work
      sub.deps.foreach { d => d.root(spark, TestSpark.sf0001); d.root(spark, big) }
      val (sRec, sPin) = measure { sub.buildCold(spark, TestSpark.sf0001) }
      val (lRec, lPin) = measure { sub.buildCold(spark, big) }
      info(f"records $sRec -> $lRec (x${lRec.toDouble / math.max(sRec, 1)}%.1f), " +
        f"pinned $sPin -> $lPin bytes (x${lPin.toDouble / math.max(sPin, 1)}%.1f)")
      assert(lRec <= sRec * maxRatio + 20000,
        f"$what build shuffled $sRec -> $lRec records at x3 data " +
          f"(x${lRec.toDouble / math.max(sRec, 1)}%.1f, bound x$maxRatio)")
      assert(lPin <= sPin * pinRatio + (256L << 10),
        f"$what build pinned $sPin -> $lPin bytes at x3 data " +
          f"(x${lPin.toDouble / math.max(sPin, 1)}%.1f, bound x$pinRatio)")
    }

  // round-12/13 additions (the SCALE.md study set), linear plans
  law("q334_quality_classifier", 5.0)
  law("q335_compaction_plan", 5.0)
  law("q336_bitext_margin", 5.0) // bounded batch × pool — the fixed defect
  law("q338_t_closeness", 5.0)
  law("q339_filter_agreement", 5.0)
  law("q341_filter_funnel", 5.0)
  law("q342_score_calibration", 5.0)
  law("q343_dp_release", 5.0)
  law("q344_nfc_normalize", 5.0)
  law("q346_kcenter_coreset", 5.0)
  law("q347_source_cover", 5.0)
  // substrate-backed gates: warmed both sides (readout law); the
  // builds have their own cold/cold laws below
  lawOn("q348_mst_clusters", 6.0, big, "namespace", Components.DupMst.root(spark, _))
  lawOn("q353_dendrogram_cut", 6.0, big, "namespace", Components.DupMst.root(spark, _))
  law("q354_blocklist_scan", 5.0) // one automaton pass per row
  law("q355_stream_blocklist", 5.0) // streamed twin: stateless scan + bounded state
  // media fixture warmed both sides so cross-suite ordering can't put
  // the one-off encode on one side of the ratio (ADVICE r14)
  lawOn("q356_image_phash", 5.0, big, "namespace",
    graft.multimodal.Multimodal.phashMediaTable(spark, _))
  law("q349_kn_perplexity", 5.0)
  law("q350_source_ablation", 5.0)
  law("q351_embed_whitening", 5.0)
  law("q352_http_fetch", 5.0)
  // q345: replication-with-jitter densifies the fixed-ε 2-D plane, so
  // the ε-pair table itself grows ~quadratically (×9 at ×3) — the
  // WORKLOAD is super-linear by construction, not the plan (SCALE.md
  // round 12). The belt still catches anything beyond that law.
  law("q345_dbscan_grid", 12.0)

  // r14: the open-vocab model gate on the REALISTIC vocab-growth
  // fixture, and its bounded-vocab production variant on the
  // ADVERSARIAL one (see header).
  lawOn("q349_kn_perplexity", 4.5, bigHeaps, "heaps")
  law("q357_kn_topv", 5.0)
  // r18: the tree quartet reads the cached CONDENSED-TREE substrate —
  // warm it both sides so the laws meter each gate's readout joins;
  // the tree build has its own cold/cold law below
  lawOn("q358_hdbscan", 6.0, big, "namespace", Components.EpsTree.root(spark, _)) // sel⋈cl readout of the warmed tree
  lawOn("q359_glosh_outliers", 6.0, big, "namespace", Components.EpsTree.root(spark, _)) // att⋈dm readout
  // r15: mutual-reachability HDBSCAN rides its own substrate
  lawOn("q360_hdbscan_mreach", 6.0, big, "namespace", Components.MrTree.root(spark, _))
  lawOn("q362_soft_membership", 6.0, big, "namespace", Components.EpsTree.root(spark, _)) // att⋈sela⋈dm readout
  // r18: the published-form (mutual-reachability) GLOSH/membership
  // pair — same readout joins over the mr tree's artifacts
  lawOn("q381_glosh_mreach", 6.0, big, "namespace", Components.MrTree.root(spark, _))
  lawOn("q382_soft_membership_mreach", 6.0, big, "namespace", Components.MrTree.root(spark, _))
  // r15: cophenetic runs its OWN grid ε-pass over the pair table,
  // which densifies ~quadratically under replication-with-jitter —
  // q345's workload belt, not a plan defect (labels ride the warmed
  // scaffold; the pairs are the gate's input by definition)
  lawOn("q363_cophenetic", 12.0, big, "namespace", Components.EpsSlink.root(spark, _))
  // r16 (VERDICT r15 #7): the ×12 belt above absorbs the fixture's
  // ε-pair densification (the replica plane packs ~quadratically more
  // candidate pairs); THIS law divides the same records by the
  // measured candidate-pair workload, so the operator's records-per-
  // pair is pinned at a tight bound the fixture physics can't mask —
  // a per-pair regression (say a second pass over the pair table)
  // lands here even though the absolute belt would absorb it.
  test("q363_cophenetic: shuffle records PER CANDIDATE PAIR stay " +
      "≤ ×2 at ×3 namespace data") {
    Components.EpsSlink.root(spark, TestSpark.sf0001)
    Components.EpsSlink.root(spark, big)
    def pairsOf(dir: String): Long = {
      val pts = Tables.embeddings(spark, dir).select(
        col("vec_id").as("id"),
        element_at(col("embedding"), 1).cast("double").as("x"),
        element_at(col("embedding"), 2).cast("double").as("y"))
      Components.gridEpsPairs(pts, eps = 0.05, eps2 = 0.0025)
        .where(col("ia") < col("ib")).count()
    }
    val sRec = gateMetrics("q363_cophenetic", TestSpark.sf0001)._1
    val lRec = gateMetrics("q363_cophenetic", big)._1
    val sN = sRec.toDouble / math.max(pairsOf(TestSpark.sf0001), 1L)
    val lN = lRec.toDouble / math.max(pairsOf(big), 1L)
    // +0.5 records/pair absolute slack: the gate's fixed-cost shuffles
    // (label attach, the 1-row moment aggregate) divide by the pair
    // count and sit near zero on both sides (measured 0.00x) — while
    // any real per-pair regression (an extra pass over the pair table)
    // costs ≥1 record per pair and lands well past the belt
    info(f"records/pair $sN%.4f -> $lN%.4f")
    assert(lN <= sN * 2.0 + 0.5,
      f"q363 shuffled $sN%.4f -> $lN%.4f records per candidate pair " +
        f"at x3 data (bound x2 + 0.5)")
  }
  // r15: Euler-tour list ranking is O(n log n) on the TREE (n−1 edges
  // regardless of candidate density): ×3 nodes ⇒ ×3 arcs × (+~1.6
  // doubling rounds over ~12) ≈ ×3.5 records
  lawOn("q364_optics_order", 6.0, big, "namespace", Components.MrSlink.root(spark, _))
  // r16: flat-cluster extraction is one window + one keyed aggregate
  // over the q364 plot (substrate-backed like its parent)
  lawOn("q373_optics_clusters", 6.0, big, "namespace", Components.MrSlink.root(spark, _))
  // r16: the global suffix ladder is a substrate (one build per
  // JVM/corpus, cold/cold law below); the gates meter their readouts —
  // adjacent/boundary pair frames + the jump, all n-row shuffles
  lawOn("q374_cross_doc_repeat", 5.0, big, "namespace", TrainPrep.GlobalSa.root(spark, _))
  lawOn("q375_cross_doc_coverage", 5.0, big, "namespace", TrainPrep.GlobalSa.root(spark, _))
  // r16: the train × eval pair frame is corpus-linear ONCE THE EVAL
  // CAP SATURATES — but at these tiny fixtures the %37 eval sample
  // itself grows 14 → 32 before hitting its 32 cap, multiplying the
  // pair frame ×2.3 beyond the data growth (measured ×6.8 at ×3 —
  // eval-set growth × corpus growth, the q345 workload-law class, not
  // a plan defect: at any corpus ≥ 32·37 vectors the eval side is a
  // CONSTANT 32 and the gate is linear). Belt ×12 still catches an
  // all-pairs (capless) regression, which lands at ×9 of every
  // component
  // r17: the valuation is a substrate (one build per JVM/corpus,
  // cold/cold law below — the ×12 sample-growth belt lives THERE);
  // both gates are readouts: q376 a sorted read of the value frame,
  // q379 the two two-phase running sums over the doc frame
  lawOn("q376_knn_shapley", 5.0, big, "namespace", DataSelect.Shapley.root(spark, _))
  lawOn("q379_value_select", 5.0, big, "namespace", DataSelect.Shapley.root(spark, _))
  pinLaw("q379_value_select", 5.0, DataSelect.Shapley.root(spark, _))
  // r17 (VERDICT r16 #6): the ×12 belt on the substrate build absorbs
  // the eval-sample growth term (14 → 32 queries between the tiny
  // fixtures); THIS law compares COLD builds on ×3 vs ×9 replicas,
  // where the %37 pool (≈41 and ≈123 candidates) saturates the
  // 32-query cap on BOTH sides — the eval frame is a constant and the
  // law meters the corpus-linear pair/rank term alone, the operator's
  // real 100 TB cost.
  test("knn-shapley build: with the 32-query cap binding on both sides, " +
      "shuffle records grow ≤ ×5 at ×3 data (corpus-linear term alone)") {
    val sRec = measure { DataSelect.Shapley.buildCold(spark, big); () }._1
    val lRec = measure { DataSelect.Shapley.buildCold(spark, big9); () }._1
    assert(lRec <= sRec * 5.0 + 20000,
      f"shapley build shuffled $sRec -> $lRec records at x3 cap-bound " +
        f"data (x${lRec.toDouble / math.max(sRec, 1)}%.1f, bound x5.0)")
  }
  lawOn("q377_contamination_spans", 5.0, big, "namespace", TrainPrep.GlobalSa.root(spark, _))
  // r15: one map-side-combined corpus groupBy; the EG iteration runs
  // on the K-row domain frame only
  law("q365_doremi_weights", 5.0)
  // q366/q367 read the global suffix ladder (cold/cold law below):
  // q366 a per-doc dense rank of the cached rank frame, q367 the per-doc
  // adjacent-pair frame + the LCP jump over the cached rungs
  lawOn("q366_suffix_array", 5.0, big, "namespace", TrainPrep.GlobalSa.root(spark, _))
  lawOn("q367_longest_repeat", 5.0, big, "namespace", TrainPrep.GlobalSa.root(spark, _))
  // r15: vocab-sized per-lang model broadcast + one per-doc sum + one
  // per-lang tercile window
  law("q368_ccnet_buckets", 5.0)
  // r15: the fixture holds the 8 fitted cells FIXED while replicating
  // vectors, so the Σ|cell|² pair table grows ×9 at ×3 — the q345
  // workload law (production sizes k ∝ corpus, SemDeDup's own rule);
  // the belt still catches an all-pairs (cell-less) regression at ×9
  // of EVERY component
  law("q369_triplet_mining", 12.0)
  // r16: the graph-gate family rides the dup-pairs substrate (readout
  // laws, warmed both sides; the pipeline+LPA build has its own
  // cold/cold law below) — community-keyed aggregates only
  lawOn("q370_modularity", 5.0, big, "namespace", Components.DupPairs.root(spark, _))
  lawOn("q371_conductance", 5.0, big, "namespace", Components.DupPairs.root(spark, _)) // same shape as q370
  // r15: degree-ordered wedge joins per peel round over the dup graph
  // (edge-linear rounds; the dup graph's wedges stay bounded by the
  // verified-pair df-caps)
  lawOn("q372_ktruss", 5.0, big, "namespace", Components.DupPairs.root(spark, _))
  // r15: exhaustive stride-1 gram dedup — namespaced replicas never
  // share grams, so diagonals replicate linearly; a real super-linear
  // defect (occurrence PAIRS instead of distinct diagonals) lands ×9
  law("q361_exact_spans", 5.0)
  // r18: both gates read the cached rewrite substrate — warmed both
  // sides so each law meters its readout (q378: the parquet scan;
  // q380: the two-phase packer); the rewrite build has its own
  // cold/cold law below
  lawOn("q378_span_removal", 5.0, big, "namespace", TrainPrep.SpanRm.root(spark, _))
  lawOn("q380_dedup_pack_e2e", 5.0, big, "namespace", TrainPrep.SpanRm.root(spark, _))

  // r15 (VERDICT r14 #1): cold/cold laws on the substrate BUILDS —
  // the full dedup/grid → Borůvka → label pipelines, cache-bypassed.
  // dup-MST: the pre-caching full-gate law held ×6 through r13, so the
  // build inherits that bound. ε-slink: the ε-graph densifies
  // super-linearly under replication-with-jitter exactly like q345
  // (the WORKLOAD's pair table grows ~quadratically at ×3; SCALE.md
  // round 12), so the build gets q345's ×12 belt — still bounded, and
  // a q336-class both-sides-unbounded defect lands well past it.
  // dup-pairs + LPA: the whole graph-gate family's shared input —
  // LSH bands + verification are near-linear by construction (df-caps,
  // banded buckets) and LPA shuffles edge-linear rounds
  substrateLaw("dup-pairs + LPA (graph-gate family)", 6.0, 6.0,
    Components.DupPairs)
  // dup-MST consumes the dup-pairs parquet since r16 — pairs warmed
  // both sides so this law meters the Borůvka election alone
  substrateLaw("dup-MST (q348/q353)", 6.0, 6.0, Components.DupMst)
  // the slink family's shared candidate table (r17): the grid ε-join
  // itself, which densifies ~quadratically under replication-with-
  // jitter (the q345 workload law — SCALE.md round 12)
  substrateLaw("eps candidate pairs (slink family)", 12.0, 12.0,
    Components.EpsPairs)
  // both elections consume the persisted candidate table since r17 —
  // pairs warmed both sides so each law meters its own Borůvka; edge
  // work is pair-linear, so the densified workload still sets the belt
  substrateLaw("eps-slink labels (q358/q359)", 12.0, 12.0, Components.EpsSlink)
  substrateLaw("mreach-slink labels (q360)", 12.0, 12.0, Components.MrSlink)
  // the condensed-tree builds consume the slink label substrates —
  // labels warmed both sides so each law meters the tree construction
  // alone (instance tables + k-step cid/selection/attachment passes):
  // the per-point membership/attachment joins are label-frame-linear,
  // everything else is cluster-count-sized, so the ×6 point belt holds
  substrateLaw("eps condensed tree (q358/q359/q362)", 6.0, 6.0,
    Components.EpsTree)
  substrateLaw("mr condensed tree (q360)", 6.0, 6.0, Components.MrTree)
  // global suffix ladder: per round one (doc, off)-keyed join + one
  // distributed dense rank — n-row shuffles × a round count that
  // namespace replication holds constant (doc lengths preserved)
  substrateLaw("global suffix ladder (q374/q375)", 5.0, 5.0, TrainPrep.GlobalSa)
  // KNN-Shapley valuation: the %37 eval sample grows 14 → 32 between
  // the tiny fixtures before saturating its cap, multiplying the pair
  // frame beyond the data growth (the q345 workload class; the
  // cap-bound ×3-vs-×9 law above meters the corpus-linear term) —
  // the ×12 belt still catches a capless all-pairs regression at ×9
  substrateLaw("knn-shapley valuation (q376/q379)", 12.0, 12.0,
    DataSelect.Shapley)
  // span-removal rewrite (r18): hash pass is window-linear, candidate
  // window TEXT replicates with the duplicate mass (namespace
  // replication holds it linear); a corpus-wide gram-text shuffle
  // regression lands ×50 of the hash pass
  substrateLaw("span-removal rewrite (q378/q380)", 5.0, 5.0, TrainPrep.SpanRm)
  // r18 (VERDICT r17 #2): the q378 df-cap bounds the candidate-window
  // exchange. On a mass-boilerplate corpus (every doc IS the same
  // boilerplate, repeated — all windows over-cap) the uncapped plan
  // must move candWins' per-occurrence WINDOW-TEXT rows through the
  // `exact` groupBy/join exchanges, because `exact` is one row per
  // duplicated window (data-sized — at 100 TB it can never broadcast),
  // while the capped fallback's hot side (hotH/hotFirst, ≤
  // windows/cap rows BY CONSTRUCTION) rides explicit broadcasts and
  // never shuffles an occurrence-sized frame at all. Auto-broadcast is
  // disabled for the measurement so tiny-SF AQE can't paper over the
  // at-scale join strategy; the explicit hints are exactly what
  // survives that at 100 TB. The law meters the CANDIDATE stage
  // ([[TrainPrep.spanRemovalStarts]]) alone: the token-rebuild
  // downstream is corpus-linear in both plans and would drown the
  // signal. Correctness of the fallback is Batch27Spec's theorem.
  test("q378 df-cap: mass-boilerplate windows never fan per-occurrence " +
      "text rows into the exchange — capped candidate-stage records " +
      "well under uncapped") {
    import spark.implicits._
    val span = (0 until 50).map("mb" + _).mkString(" ")
    val doc = Seq.fill(3)(span).mkString(" ") // 150 toks, 50 distinct windows
    val docs = (1L to 200L).map(id => (id, doc))
      .toDF("doc_id", "text").localCheckpoint()
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf
      .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
      .getOrElse("")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val (cappedRec, _) = measure {
        TrainPrep.spanRemovalStarts(docs, 50, 20)
          .collect() }
      val (uncappedRec, _) = measure {
        TrainPrep.spanRemovalStarts(docs, 50, 1000000)
          .collect() }
      info(s"candidate-stage records capped $cappedRec vs uncapped $uncappedRec")
      assert(cappedRec <= (uncappedRec * 0.7).toLong,
        s"capped candidate stage shuffled $cappedRec records vs uncapped " +
          s"$uncappedRec — the df-cap is not bounding the window exchange")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      if (prevAqe.nonEmpty)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", prevAqe)
      else
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  // r14: width laws for the checkpoint-carrying gates (the q351 class)
  pinLaw("q347_source_cover", 5.0)
  pinLaw("q348_mst_clusters", 6.0, Components.DupMst.root(spark, _))
  pinLaw("q349_kn_perplexity", 5.0)
  pinLaw("q351_embed_whitening", 5.0)
  pinLaw("q353_dendrogram_cut", 6.0, Components.DupMst.root(spark, _))
  pinLaw("q357_kn_topv", 5.0)
  pinLaw("q358_hdbscan", 6.0, Components.EpsTree.root(spark, _))
  pinLaw("q359_glosh_outliers", 6.0, Components.EpsTree.root(spark, _))
  pinLaw("q360_hdbscan_mreach", 6.0, Components.MrTree.root(spark, _))
  pinLaw("q362_soft_membership", 6.0, Components.EpsTree.root(spark, _))
  pinLaw("q381_glosh_mreach", 6.0, Components.MrTree.root(spark, _))
  pinLaw("q382_soft_membership_mreach", 6.0, Components.MrTree.root(spark, _))
  pinLaw("q363_cophenetic", 12.0, Components.EpsSlink.root(spark, _)) // pins the ε-pair table (q345-class workload)
  pinLaw("q364_optics_order", 6.0, Components.MrSlink.root(spark, _)) // pins tree-sized arc states per doubling round
  pinLaw("q373_optics_clusters", 6.0, Components.MrSlink.root(spark, _)) // plot-sized window input
  pinLaw("q374_cross_doc_repeat", 5.0, TrainPrep.GlobalSa.root(spark, _)) // pair frames per jump rung
  pinLaw("q375_cross_doc_coverage", 5.0, TrainPrep.GlobalSa.root(spark, _)) // adjacent-pair + run frames
  pinLaw("q376_knn_shapley", 5.0, DataSelect.Shapley.root(spark, _)) // readout of the cached value frame (the sample-growth term lives in the substrate's cold/cold law)
  pinLaw("q377_contamination_spans", 5.0, TrainPrep.GlobalSa.root(spark, _)) // adjacent-pair + seg frames
  pinLaw("q366_suffix_array", 5.0, TrainPrep.GlobalSa.root(spark, _)) // pins nothing: a window over the cached rank frame
  pinLaw("q367_longest_repeat", 5.0, TrainPrep.GlobalSa.root(spark, _)) // pins the pair frame per jump rung

  test("the pin probe detects a deliberately re-introduced wide pin " +
      "(q351's defect class: checkpoint 64 dims, read 8)") {
    // synthetic 50k-row corpus so payload dwarfs per-block bookkeeping
    // (at sf0.001's 500 rows the fixed block overhead drowns the width)
    import org.apache.spark.sql.functions.{sequence, transform, lit, rand => _, _}
    val emb = spark.range(50000).select(col("id"),
      transform(sequence(lit(1), lit(64)),
        i => (col("id") * i).cast("double")).as("embedding"))
    def pinOf(df: DataFrame): Long = {
      var cp: DataFrame = null
      val (_, bytes) = measure { cp = df.localCheckpoint(); cp.count() }
      cp.unpersist(true)
      bytes
    }
    val narrow = pinOf(emb.select(col("id"),
      slice(col("embedding"), 1, 8).as("e8")))
    val wide = pinOf(emb.select(col("id"), col("embedding")))
    assert(narrow > 0, "probe saw the narrow checkpoint's blocks")
    assert(wide > narrow * 3,
      f"64-dim pin ($wide bytes) must dwarf the 8-dim pin ($narrow bytes) " +
        f"— got only x${wide.toDouble / math.max(narrow, 1)}%.1f")
  }
}
