package graft.ops

import graft.{Materialize, QueryDef, Tables}
import graft.Materialize.pin
import graft.core.Substrate
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set preparation operators (✚ extensions beyond the reference
  * surface): benchmark decontamination, token-budget sequence packing,
  * and sub-document block dedup with reconstruction — the three pipeline
  * stages between "corpus is deduped" (Dedup/Components) and "batches
  * reach the trainer".
  *
  * Scale design:
  *  - decontamination joins the corpus n-gram stream against a BROADCAST
  *    distinct-gram set of the eval benchmarks: eval suites are MBs while
  *    the corpus is 100 TB, so the contaminated-gram probe is map-side
  *    (no shuffle of corpus grams); only the per-doc hit counts shuffle,
  *    keyed by 8-byte doc_id.
  *  - sequence packing is a two-phase per-shard prefix sum: range
  *    partitions in (source, doc_id) order, per-(partition, source)
  *    token subtotals, driver prefix-summed start offsets broadcast
  *    back, and a running sum inside each bounded (partition, source)
  *    group. A window keyed by `source` alone would sort each shard in
  *    ONE task (~5 TB per task for a 20-source 100 TB corpus); a GLOBAL
  *    concat order would be worse still — both deliberately avoided;
  *    shard-local contiguity is what packed pretraining batches need.
  *  - block dedup keys the first-occurrence argmin by block CONTENT; the
  *    aggregation is partial (map-side combine collapses mass-duplicated
  *    blocks before the shuffle — same hot-key story as exact dedup
  *    q24). Reconstruction groups by doc_id (8-byte key) with an ordered
  *    listagg — the aggregation buffer is the rebuilt string itself,
  *    bounded by document size; no per-group array, no window.
  */
object TrainPrep {

  /** One row per (doc_id, g): the doc's n-word grams. Documents shorter
    * than n tokens contribute their whole text as one gram (same
    * fallback as Dedup.shinglesOf, reference range.d:470ff splitting).
    *
    * The gram array comes from the native `graft_ngrams` Expression —
    * one compiled call per row — replacing the composed
    * transform/concat_ws form whose lambda evaluates INTERPRETED for
    * every gram of every document (round 8's measured q120 lesson;
    * NgramsSpec proves output equality with the composed form). */
  def ngramsOf(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(call_function("graft_ngrams", col("text"), lit(n), lit(false)))
        .as("g"))

  private def ngramsSql(n: Int): String = {
    val terms = (1 to n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""SELECT doc_id, unnest(
       |    CASE WHEN len(w) >= $n
       |         THEN list_transform(range(len(w) - ${n - 1}), i -> $terms)
       |         ELSE [text] END) AS g
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)""".stripMargin
  }

  /** Benchmark decontamination: for every training document, how many of
    * its distinct n-grams appear in the eval set. `isEval` is a predicate
    * over the document columns (typically doc_id/source membership).
    * Returns every TRAIN doc with (n_hits, contaminated) — downstream
    * drops `contaminated` rows before training.
    *
    * Broadcast CONTRACT: the explicit broadcast of the distinct eval
    * grams assumes `isEval` selects a BOUNDED eval suite (real
    * benchmarks are MBs — the setting this operator exists for). An
    * isEval that scales with the corpus (e.g. a fixed fraction of a
    * 100 TB corpus, like the gate's deterministic ~1% slice at larger
    * SFs) would grow the broadcast with the corpus; for that usage drop
    * to a shuffle join by removing the hint — the plan degrades
    * gracefully but corpus grams then shuffle. */
  def contaminationOf(docs: DataFrame, isEval: Column, n: Int = 6): DataFrame = {
    // resolve isEval against the full document row (it may reference any
    // column — source, lang, …), then carry only the eval doc_id set to
    // the gram stream: eval sets are tiny, so both the semi- and
    // anti-join against the ids are broadcast map-side filters
    val evalIds = docs.where(isEval).select("doc_id")
    val grams = ngramsOf(docs, n)
    val evalGrams = grams.join(broadcast(evalIds), "doc_id")
      .select("g").distinct()
    // broadcast-probe FIRST, dedupe the survivors after: distinct on the
    // raw corpus gram stream would shuffle every gram by its string;
    // filtered through the broadcast set, only actual hits (rare) reach
    // the distinct + count shuffles. Equivalent because the probe is an
    // equality semi-filter on the distinct key itself.
    val hits = grams.join(broadcast(evalIds), Seq("doc_id"), "left_anti")
      .join(broadcast(evalGrams), "g")
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.where(!isEval).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Token-budget sequence packing (concat-then-chunk): within each
    * `source` shard, documents are laid out contiguously in doc_id order
    * and cut into fixed `budget`-token sequences. Emits each doc's global
    * offset in its shard stream, the sequence it starts in, and its
    * offset inside that sequence.
    *
    * Two-phase per-shard prefix sum — NOT `Window.partitionBy(source)`:
    * a window keyed by source alone hash-routes EVERY row of a source
    * into one task, a multi-TB sort per shard on a real corpus. Here:
    *   phase 1 — range-partition by (source, doc_id), so each shard
    *     spans many bounded partitions in doc_id order, then aggregate
    *     one token subtotal per (partition, source). That table is
    *     O(partitions × sources) rows; its per-source prefix sums (the
    *     group start offsets) are computed on the driver — the same
    *     documented-small collect as kmeansCentroids (Ann.scala).
    *   phase 2 — broadcast the start offsets back and run the running
    *     sum inside each (partition, source) group: group size is
    *     bounded by the range partition, never by the shard.
    * Range partitioning on (source, doc_id) makes the partition id
    * monotone in doc_id within each source, which is exactly what makes
    * the per-source prefix over subtotals the correct group offset.
    * The range-partitioned table is PINNED (`Materialize.pin`): its
    * sampled boundaries feed BOTH phases, and a recomputed lineage
    * could resample different boundaries, mismatching offsets against
    * rows. seq arithmetic is integer (`div`), exact at any corpus size
    * — floor(x / budget) over doubles drifts past 2^53 tokens. */
  def packSequences(docs: DataFrame, budget: Int = 256): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sized = pin(docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .repartitionByRange(col("source"), col("doc_id"))
      .withColumn("pid", spark_partition_id()))
    val offsets = {
      val subs = sized.groupBy("pid", "source")
        .agg(sum(col("n_tok")).as("sub")).collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      subs.groupBy(_._2).iterator.flatMap { case (src, rows) =>
        val sorted = rows.sortBy(_._1)
        sorted.zip(sorted.scanLeft(0L)(_ + _._3))
          .map { case ((pid, _, _), off) => (pid, src, off) }
      }.toSeq.toDF("pid", "source", "off")
    }
    val local = Window.partitionBy("pid", "source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(broadcast(offsets), Seq("pid", "source"))
      .withColumn("begin_tok",
        col("off") + sum(col("n_tok")).over(local) - col("n_tok"))
      .withColumn("seq_id", expr(s"begin_tok div $budget"))
      .withColumn("seq_off", col("begin_tok") - col("seq_id") * budget)
      .select("doc_id", "source", "n_tok", "begin_tok", "seq_id", "seq_off")
  }

  /** Packing manifest — the INVERSE view of [[packSequences]] and what a
    * dataloader actually consumes: for every (sequence, document) pair
    * the doc contributes tokens to, the span it occupies. A document
    * crossing budget boundaries appears once per sequence it touches
    * (the explode mirrors the interval→bucket pattern of
    * plans/IntervalJoinRule); pure integer arithmetic throughout.
    *
    * Scale: packSequences' bounded two-phase shape plus one per-row
    * explode whose fan-out is ceil(n_tok/budget)+1 — no new shuffle. */
  def packSpans(docs: DataFrame, budget: Int = 256): DataFrame = {
    val b = lit(budget.toLong)
    packSequences(docs, budget)
      .where(col("n_tok") > 0)
      .withColumn("seq_id",
        explode(sequence(col("seq_id"), expr(s"(begin_tok + n_tok - 1) div $budget"))))
      .withColumn("seq_start", greatest(col("begin_tok"), col("seq_id") * b) - col("seq_id") * b)
      .withColumn("len",
        least(col("begin_tok") + col("n_tok"), (col("seq_id") + 1) * b)
          - greatest(col("begin_tok"), col("seq_id") * b))
      .select("source", "seq_id", "seq_start", "doc_id", "len")
  }

  /** Sub-document block dedup (C4/RefinedWeb line-dedup shape, applied to
    * fixed 10-token blocks because the corpus has no newlines): a block
    * occurring in several documents survives only at its FIRST occurrence
    * (min (doc_id, pos)); each document is rebuilt from its surviving
    * blocks in order. Documents reduced to nothing stay present with
    * clean_text = '' so the output is total over the corpus. */
  def blockDedup(docs: DataFrame, blockTokens: Int = 10): DataFrame = {
    val w = col("w")
    val nb = ceil(size(w) / lit(blockTokens.toDouble)).cast("int")
    // one corpus pass: the block table feeds the argmin aggregation,
    // the join probe AND the per-doc totals — unmaterialized, the
    // scan→split→posexplode lineage would run three times (the
    // ReuseExchange-vs-broadcast diamond, SCALE.md round 3)
    val blocksRaw = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nb - 1),
          i => concat_ws(" ", slice(w, i * blockTokens + 1, lit(blockTokens))))))
      .toDF("doc_id", "pos", "blk")
    val blocks = pin(blocksRaw)
    val first = blocks.groupBy("blk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val kept = blocks.join(first, "blk")
      .where(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
    // ordered listagg, not collect_list+sort: the buffer is the
    // concatenated string itself (bounded by document size), never an
    // intermediate per-group array
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      expr("listagg(blk, ' ') WITHIN GROUP (ORDER BY pos)").as("clean_text"))
    // every document has ≥1 block, so totals come from the block table
    // (max pos + 1) — no third scan of docs
    blocks.groupBy("doc_id")
      .agg((max(col("pos")) + 1).cast("long").as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_total"))
  }

  /** Content-defined chunking dedup (the rsync/FastCDC boundary rule
    * applied to token streams, ✚): q77's fixed 10-token grid misses
    * duplicated runs that don't reproduce its block boundaries — a
    * one-token prefix insertion shifts every subsequent block. CDC cuts
    * AFTER any `n`-token window whose 32-bit hash ≡ 0 (mod m), so
    * boundaries are a function of CONTENT alone: identical runs chunk
    * identically at ANY offset, and expected chunk length is m + n - 1
    * tokens. First-occurrence survival + ordered rebuild then mirror
    * blockDedup exactly.
    *
    * Scale: chunking is one codegen'd call per row ([[graft.functions
    * .CdcChunks]] — round 9 replaced the composed transform/filter/
    * zip_with form, whose md5-per-window lambda evaluated INTERPRETED
    * inside the scan's task layout: one parquet file ⇒ one task chunked
    * the whole corpus, 4.3 s solo at sf0.1, the q120 pathology); the
    * doc stream is hash-repartitioned first so chunk assembly uses
    * every core at any file layout. The dedup argmin shuffles by chunk
    * content with map-side partial aggregation collapsing
    * mass-duplicated chunks (same hot-key story and same 64-bit-hash
    * narrowing option as q77, kept exact for oracle parity). The
    * window-hash is the md5-slice family shared with MinHash/CMS so
    * the oracle mirrors it verbatim. */
  def cdcChunkDedup(docs: DataFrame, n: Int = 4, m: Int = 8): DataFrame = {
    val chunksArr = call_function("graft_cdc_chunks",
      col("text"), lit(n), lit(m))
    val chunks = pin(docs.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(chunksArr).as(Seq("pos", "chunk"))))
    val first = chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val kept = chunks.join(first, "chunk")
      .where(col("doc_id") === col("f.doc_id") && col("pos") === col("f.pos"))
    val rebuilt = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      expr("listagg(chunk, ' ') WITHIN GROUP (ORDER BY pos)").as("clean_text"))
    chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_total"))
  }

  /** Temperature-scaled language-mixture weights (the multilingual
    * pretraining sampler of mBERT/XLM/mT5): sampling share
    * w_l ∝ p_l^alpha flattens the natural distribution p_l toward
    * uniform as alpha→0. Returns one row per language with its natural
    * share, temperature share, and the implied up/down-sampling factor.
    *
    * Scale: two tiny aggregations (per-lang counts, then the 1-row
    * normalizers) broadcast back onto the per-lang table — the corpus
    * is read once; nothing but lang counts ever shuffles. Shares are
    * rounded to 6 dp: pow/sum association may differ by ulps across
    * engines, and the rounding makes the value deterministic without
    * changing any sampling decision. */
  def mixtureWeights(docs: DataFrame, alpha: Double = 0.7): DataFrame = {
    // the per-lang count table is THE corpus aggregation — materialize
    // it so the total/normalizer/final subtrees (4 consumers) read a
    // handful of rows instead of re-running the corpus scan (the
    // ReuseExchange-vs-broadcast diamond, SCALE.md round 3)
    val counts = pin(
      docs.groupBy("lang").agg(count(lit(1)).as("n_docs")))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    val scored = counts.crossJoin(broadcast(total))
      .withColumn("p", col("n_docs").cast("double") / col("n_total"))
      .withColumn("pa", pow(col("p"), alpha))
    val z = scored.agg(sum(col("pa")).as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        round(col("p"), 6).as("nat_share"),
        round(col("pa") / col("z"), 6).as("temp_share"),
        round(col("pa") / col("z") / col("p"), 6).as("upsample"))
  }

  /** Mixture sampling APPLIED (the q78 weights composed back onto the
    * corpus): every document row is annotated with its language's
    * upsample factor via a broadcast join — the production shape, where
    * a downstream sampler reads the weight per row — then accounted per
    * (source, lang): natural doc count and the deterministic expected
    * sampled count floor(n_docs · upsample).
    *
    * Scale: mixtureWeights is two tiny aggregations; its per-lang table
    * (≤ #langs rows) broadcasts onto the corpus, so the weight attach is
    * map-side — the corpus shuffles only for the (source, lang) count,
    * with map-side combine. floor, not round: round's half-up vs
    * half-even tie rule differs across engines, while floor over the
    * same 6-dp weight is tie-free deterministic. */
  def sampledCounts(docs: DataFrame, alpha: Double = 0.7): DataFrame =
    docs.join(
        broadcast(mixtureWeights(docs, alpha)
          .select(col("lang"), col("upsample"))),
        "lang")
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), first(col("upsample")).as("upsample"))
      .select(col("source"), col("lang"), col("n_docs"), col("upsample"),
        floor(col("n_docs") * col("upsample")).cast("long").as("n_sampled"))

  /** The temperature mixture MATERIALIZED — the sampler q78
    * parameterizes and q81 accounts for, actually emitting the
    * resampled corpus: each document appears floor(upsample) times,
    * plus once more iff a deterministic per-doc uniform draw falls
    * below the fractional part. E[copies] = upsample exactly; no RNG —
    * the draw is a pure md5 slice of doc_id (the same
    * one-digest-sliced family as MinHash/CMS), so the sample is
    * append-stable and reproducible across runs and engines.
    *
    * Scale: broadcast weight attach + per-row hash + explode — the
    * corpus side never shuffles; the output size is the resampled
    * corpus itself, the irreducible cost of materialization. */
  def resample(docs: DataFrame, alpha: Double = 0.7): DataFrame = {
    val up = col("upsample")
    // 32 md5 bits → uniform [0,1): both engines compute the identical
    // BIGINT / 2^32 double, so the < comparison can never disagree
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)
    docs.join(broadcast(mixtureWeights(docs, alpha)
        .select(col("lang"), col("upsample"))), "lang")
      .withColumn("n_copies",
        (floor(up) + when(u < up - floor(up), 1L).otherwise(0L)).cast("long"))
      .where(col("n_copies") > 0)
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(0L), col("n_copies") - 1)).as("copy"))
  }

  /** Deterministic shard export — the training pipeline's terminal:
    * rows are range-partitioned and sorted by `orderCol`, so shard
    * membership is a pure function of the data (not of cluster timing),
    * and `maxRecordsPerFile` bounds every output file so downstream
    * loaders get uniform work units. Returns the manifest (file,
    * n_rows) a trainer's data loader consumes.
    *
    * Scale: one range exchange then executor-side streaming writes —
    * nothing on the driver; the manifest is a grouped read-back on the
    * file-path metadata column, O(files) result rows. */
  def exportShards(df: DataFrame, path: String, orderCol: String,
      maxRecordsPerFile: Int): DataFrame = {
    df.repartitionByRange(col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .parquet(path)
    df.sparkSession.read.parquet(path)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** Packing-efficiency report — the audit a training engineer reads
    * after [[packSequences]]: per shard, how many fixed-budget
    * sequences exist, how many real tokens they carry, and the fill
    * ratio (1 − padding waste). Derived entirely from [[packSpans]]
    * (one aggregation over the manifest — no new scan of the corpus,
    * no new shuffle class): tokens = Σ span lengths, sequences =
    * max(seq_id)+1 per shard, fill = tokens / (sequences · budget).
    * With concat-then-chunk packing only each shard's FINAL sequence
    * can be partial, so fill → 1 as shards grow; a low fill flags a
    * mis-sharded corpus (many tiny sources). */
  def packingReport(docs: DataFrame, budget: Int = 256): DataFrame =
    packSpans(docs, budget)
      .groupBy("source")
      .agg(
        (max(col("seq_id")) + 1L).as("n_seqs"),
        sum(col("len")).as("n_tokens"))
      .withColumn("fill_ratio",
        round(col("n_tokens") / (col("n_seqs") * budget.toLong), 6))

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each row draws key = ln(u)/w with u uniform in (0,1]; the k
    * largest keys are a weight-proportional sample — the one-pass,
    * merge-friendly way to draw "k docs biased toward weight" from a
    * corpus (vs. resample's with-replacement copy counts).
    *
    * No RNG: u is the proven md5-slice uniform (salted so it cannot
    * correlate with resample's draw), so the sample is reproducible and
    * append-stable, and the DuckDB oracle derives the identical keys.
    * Keys are rounded to 6 dp BEFORE ranking with a doc_id tiebreak
    * (the q63 discipline: both engines must rank the same values; ln's
    * cross-libm spread is ~1 ulp, vanishing at 6 dp).
    *
    * Scale: per-row hash + log, then a global top-k — which Spark
    * plans as TakeOrderedAndProject (per-partition heaps + a k-row
    * driver merge), never a global sort. */
  def weightedSample(docs: DataFrame, weight: Column, k: Int): DataFrame = {
    val u = (conv(substring(md5(concat(lit("aes:"), col("doc_id").cast("string"))),
      1, 8), 16, 10).cast("double") + 1.0) / lit(4294967296.0)
    val w = greatest(weight.cast("long"), lit(1L))
    docs.select(col("doc_id"), col("source"), w.as("w"),
        round(log(u) / w, 6).as("key"))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(k)
  }

  // Eval membership for the gate: a deterministic ~1% slice by doc_id.
  private val evalMod = 97

  /** Dedup-aware train/val/test split with leakage audit (✚): split
    * assignment is made ONCE per near-dup cluster (the q74 connected-
    * component relation over verified shingle-Jaccard pairs) — every
    * member inherits the CANONICAL doc's deterministic bucket — so no
    * near-identical pair can straddle train and eval (the classic
    * benchmark leak through duplicated boilerplate). The audit reports
    * per split the cluster-level stats, a structural zero (docs whose
    * cluster spans multiple cluster-level splits), and the
    * counterfactual leakage a naive doc-level hash split would have
    * produced on the same corpus.
    *
    * Determinism: buckets are salted md5 integers over the canonical
    * id (the q142 uniform idiom) — reproducible across engines and
    * runs, no RNG. Scale: the cluster relation is the q74 machinery
    * (pointer-doubling CC on 8-byte ids); after it, everything
    * shuffles on canonical_id or on the 3-value split name after
    * per-cluster collapse — map-side partials everywhere, nothing
    * collects to the driver.
    */
  def splitAudit(docs: DataFrame, trainPct: Int = 8, valPct: Int = 1,
      pairs: Option[DataFrame] = None): DataFrame = {
    def bucket(c: Column): Column =
      conv(substring(md5(concat(lit("q147|"), c.cast("string"))), 1, 8), 16, 10)
        .cast("long") % 10
    def name(b: Column): Column =
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val").otherwise("test")
    val lab = Components.dedupClusters(docs, pairs)
      .select("doc_id", "canonical_id")
    // pinned: the per-cluster distinct-split counts AND the two final
    // per-split rollups all consume it (ReuseExchange does not
    // collapse the diamond — the q67 lesson)
    val withSplits = pin(
      docs.select(col("doc_id"), col("n_chars")).join(lab, "doc_id")
        .withColumn("cluster_split", name(bucket(col("canonical_id"))))
        .withColumn("naive_split", name(bucket(col("doc_id")))))
    val cstats = withSplits.groupBy("canonical_id").agg(
      countDistinct(col("cluster_split")).as("ncs"),
      countDistinct(col("naive_split")).as("nns"))
    val d2 = withSplits.join(cstats, "canonical_id")
    val byCluster = d2.groupBy(col("cluster_split").as("split")).agg(
      countDistinct(col("canonical_id")).as("n_clusters"),
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      sum(when(col("ncs") > 1, 1L).otherwise(0L)).as("leak_docs_cluster"))
    val byNaive = d2.groupBy(col("naive_split").as("split")).agg(
      count(lit(1)).as("n_docs_naive"),
      sum(when(col("nns") > 1, 1L).otherwise(0L)).as("leak_docs_naive"))
    byCluster.join(byNaive, Seq("split"), "full_outer").orderBy("split")
  }

  /** Verified maximal duplicated-span intervals per document from
    * candidate (`a`, `b`, `delta`) diagonals — the extension pass
    * shared by q192 (winnowed anchors) and q361 (exhaustive stride-1
    * grams): join the two docs' token streams POSITION-keyed (token
    * equality is a residual, never a join key — hash collisions in the
    * candidate generator die here, which is what makes the result
    * EXACT), gaps-and-islands the matching positions into maximal runs
    * per diagonal, keep runs ≥ `minLen`, then sweep-line-union each
    * doc's run intervals (a position can be covered by many partners).
    * `cand`: (a, b, delta) with a < b; `toks`: (doc_id, pos, tok).
    * Returns (doc_id, ist, ien) — maximal covered half-open token
    * intervals. */
  private def diagonalSpanIntervals(cand: DataFrame, toks: DataFrame,
      minLen: Int): DataFrame = {
    val matches = cand
      .join(toks.select(col("doc_id").as("a"), col("pos").as("i"), col("tok").as("tok_a")),
        Seq("a"))
      .join(toks.select(col("doc_id").as("b2"), col("pos").as("j"), col("tok").as("tok_b")),
        col("b") === col("b2") && col("j") === col("i") - col("delta"))
      .where(col("tok_a") === col("tok_b"))
      .select(col("a"), col("b"), col("delta"), col("i"))
    val byDiag = Window.partitionBy("a", "b", "delta").orderBy("i")
    val runs = matches
      .withColumn("grp", col("i") - row_number().over(byDiag))
      .groupBy("a", "b", "delta", "grp")
      .agg(min("i").as("sa"), count(lit(1)).cast("int").as("len"))
      .where(col("len") >= minLen)
    val iv = runs.select(col("a").as("doc_id"), col("sa").as("st"),
        (col("sa") + col("len")).as("en"))
      .unionAll(runs.select(col("b"), (col("sa") - col("delta")).as("st"),
        (col("sa") - col("delta") + col("len")).as("en")))
    val byDoc = Window.partitionBy("doc_id").orderBy("st", "en")
    iv.withColumn("pmax",
        max("en").over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("is_new",
        when(col("pmax").isNull || col("st") > col("pmax"), 1L).otherwise(0L))
      .withColumn("isl",
        sum("is_new").over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min("st").as("ist"), max("en").as("ien"))
  }

  /** Cross-document span-removal dedup — the ACTING half of the
    * measurement family (✚, VERDICT r16 #3: q361/q374/q375 find the
    * ≥L-token cross-doc spans, Lee et al.'s pipeline REMOVES them and
    * trains on the rewrite). Rule, exact at token granularity: a token
    * is cut iff it lies inside some L-token window whose content
    * occurs in more than one document AND whose occurrence is not the
    * corpus-FIRST one (min by (doc_id, pos)) of that content — every
    * duplicated span keeps exactly its first occurrence, later copies
    * are cut wherever they start, at any alignment. Documents are
    * rebuilt from the kept tokens in position order; fully-cut
    * survivors stay as empty rows (corpus row count is preserved —
    * downstream joins keyed on doc_id never lose rows).
    *
    * Construction: pass 1 hashes every stride-1 L-window and keeps the
    * hashes seen in >1 doc — only (hash, doc, pos) triples shuffle,
    * never window text (the q361 discipline). Pass 2 materializes
    * window TEXT only for candidate docs and only dup-hash windows
    * survive to the exchange; keep-first is decided on the exact text
    * (hash collisions die here — a collision group re-splits by
    * content, so a colliding singleton is never cut). Token removal is
    * one per-doc dense-position window (`max(is_start)` over the
    * trailing L rows — no range join), and the rebuild is the q77
    * ordered-listagg shape.
    *
    * Df-cap (r18 — VERDICT r17 #2, the q27/q51 shape): a window whose
    * hash spans > `dfCap` docs is mass boilerplate — at 100 TB a
    * license header shared by millions of docs would otherwise
    * materialize and shuffle its full 50-token TEXT once per
    * occurrence, and the exact-text groupBy would key the whole mass
    * on one string (the exact hot-key q27/q51 cap). Over-cap hashes
    * take a HASH-ONLY fallback: keep-first on min (doc_id, pos) per
    * hash, no text ever shuffles — only the (h, doc, pos) triples pass
    * 1 already moved. The tradeoff is that a text collision inside an
    * over-cap hash group is not re-split (a colliding singleton would
    * be cut); with ≥1000-doc boilerplate and 64-bit hashes that risk
    * is the one q27/q51 accept, and it is NOT silent:
    * [[spanRemovalCapReport]] lists every capped window with its doc
    * frequency for curator review — over-cap windows are still
    * removed (keep-first), never skipped, so no duplicate mass
    * survives the cap either.
    *
    * Single-pass by design (as published): stitching kept tokens
    * across a cut can mint NEW cross-doc windows; Lee et al. run one
    * pass and accept the tail, and so does this. Output per document:
    * (`n_tok`, `n_removed`, `n_kept`, `text_dedup`) — conservation
    * n_tok = n_removed + n_kept holds row by row. */
  def removeCrossDocSpans(docs: DataFrame, minLen: Int = 50,
      dfCap: Int = spanDfCap): DataFrame = {
    val L = minLen
    val removeStarts = spanRemovalStarts(docs, minLen, dfCap)
    val toks = docs.repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    // positions are dense per doc, so "inside a window starting within
    // the last L rows" IS the interval cover — no range join
    val flagged = toks.join(removeStarts, Seq("doc_id", "pos"), "left")
      .withColumn("rm", max(coalesce(col("is_start"), lit(0L)))
        .over(byDoc.rowsBetween(-(L - 1), 0)))
    // ordered listagg, not collect_list+sort: the aggregation buffer
    // is the rebuilt string itself (bounded by doc size), never a
    // struct array — the q77/q83 rebuild idiom PlanSpec enforces;
    // removed tokens aggregate as NULL (skipped), a fully-cut doc
    // coalesces to the empty row
    flagged.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        sum(col("rm")).as("n_removed"),
        sum(lit(1L) - col("rm")).as("n_kept"),
        coalesce(expr("listagg(CASE WHEN rm = 0 THEN tok END, ' ') " +
          "WITHIN GROUP (ORDER BY pos)"), lit("")).as("text_dedup"))
      .orderBy("doc_id")
  }

  /** The CANDIDATE stage of [[removeCrossDocSpans]]: every (doc_id,
    * pos) where a to-be-removed duplicated window starts, `is_start` =
    * 1. Factored out (r18) so the df-cap shuffle law can meter the
    * dup-detection exchange alone — the token-rebuild pass downstream
    * is corpus-linear in BOTH plans and would drown the candidate
    * stage in any whole-operator measurement. */
  /** Eligible docs (≥ L tokens, re-exchanged) and their stride-1
    * L-window HASH stream (doc_id, pos, h) — pass 1 of the span
    * family, shared by [[spanRemovalStarts]] and
    * [[spanRemovalCapReport]] so the cap report can never drift from
    * the hashes the rewrite actually capped (they are one pipeline,
    * not two copies). */
  private def windowHashGrams(docs: DataFrame, L: Int)
      : (DataFrame, DataFrame) = {
    val w = split(col("text"), " ")
    // heavy array pipeline after an exchange, not in the scan's
    // one-task-per-file layout (q83/q120 lesson)
    val eligible = docs.where(size(w) >= L).repartition(col("doc_id"))
    val grams = eligible.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(w) - L),
          p => xxhash64(array_join(slice(w, p + 1, lit(L)), " "))))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    (eligible, grams)
  }

  private[ops] def spanRemovalStarts(docs: DataFrame, minLen: Int,
      dfCap: Int): DataFrame = {
    val L = minLen
    val w = split(col("text"), " ")
    val (eligible, grams0) = windowHashGrams(docs, L)
    val grams = pin(grams0)
    // pinned: dup-hash-count-sized, and consumed by THREE plans below
    // (dupH twice, hotH once) — unpinned, each would re-run the full
    // grams countDistinct
    val dupAll = pin(grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") > 1))
    // ≤ cap: the text-verified path; > cap: the hash-only fallback
    val dupH = dupAll.where(col("nd") <= dfCap).select("h")
    val hotH = dupAll.where(col("nd") > dfCap).select("h")
    val candDocs = grams.join(dupH, Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val candWins = eligible.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(w) - L),
          p => struct(
            xxhash64(array_join(slice(w, p + 1, lit(L)), " ")).as("h"),
            array_join(slice(w, p + 1, lit(L)), " ").as("g"))))
          .as(Seq("pos", "hg")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("hg").getField("h").as("h"), col("hg").getField("g").as("g"))
      .join(dupH, Seq("h"), "left_semi")
    // keep-first on exact TEXT: min (doc_id, pos) per content group;
    // groups that were only hash-coincidences fall under nd > 1 here
    val exact = candWins.groupBy("g").agg(
        countDistinct(col("doc_id")).as("nd"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .where(col("nd") > 1)
      .select(col("g"), col("first"))
    val verifiedStarts = candWins.join(exact, Seq("g"))
      .where(col("doc_id") =!= col("first").getField("doc_id") ||
        col("pos") =!= col("first").getField("pos"))
      .select(col("doc_id"), col("pos"), lit(1L).as("is_start"))
    // hash-only fallback for over-cap windows: keep-first per HASH over
    // the triples that already shuffled — a position has exactly one
    // window hash and each hash lands in exactly one of the two
    // branches, so the union is disjoint by construction. hotH and
    // hotFirst carry ≤ total-windows/cap rows BY CONSTRUCTION (each
    // hot hash owns > cap doc occurrences) and in practice far fewer
    // (over-cap heads are the extreme Zipf tail — the q27/q51 "hot is
    // tiny" observation), so the explicit broadcast keeps the
    // occurrence-sized hotOcc out of every exchange and off every
    // skewed reducer. The bound is corpus-LINEAR, not constant: a
    // degenerate corpus that is mostly boilerplate (≥10⁹ DISTINCT
    // over-cap templates — >8 GB of hashes at 100 TB) fails the
    // broadcast LOUDLY rather than wrongly, the signal to raise the
    // cap or pre-dedup exact copies first. `exact` above has no such
    // bound (one row per duplicated window — data-sized, must stay a
    // shuffle join); the ≤ cap on ITS key fan is what keeps that
    // side's shuffle skew-safe
    val hotOcc = grams.join(broadcast(hotH), Seq("h"), "left_semi")
    val hotFirst = hotOcc.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val hotStarts = hotOcc.join(broadcast(hotFirst), Seq("h"))
      .where(col("doc_id") =!= col("first").getField("doc_id") ||
        col("pos") =!= col("first").getField("pos"))
      .select(col("doc_id"), col("pos"), lit(1L).as("is_start"))
    verifiedStarts.unionByName(hotStarts)
  }

  /** Document-frequency cap for [[removeCrossDocSpans]]' exact-text
    * verification: windows shared by more docs than this are mass
    * boilerplate and take the hash-only keep-first fallback. The
    * family value ([[Dedup]]'s shingle dfCap) — far above any organic
    * window df in the test corpora, so the capped and uncapped plans
    * agree there while the 100 TB plan is skew-bounded by
    * construction. */
  private[ops] val spanDfCap = 1000

  /** The non-silent half of [[removeCrossDocSpans]]' df-cap (r18 —
    * the q27/q51 contract): one row per OVER-CAP window hash,
    * (`h`, `n_docs`, `n_occurrences`, `sample_doc`) — the curator-
    * facing list of what was deduplicated on hash alone without
    * exact-text collision re-splitting. Empty on any corpus whose
    * window dfs sit under the cap (every test corpus), so the report
    * doubles as the assertion surface for the hostile-fixture spec.
    * Shares pass 1 itself ([[windowHashGrams]]): the reported hashes
    * are BY CONSTRUCTION the ones the rewrite capped, and only
    * (hash, doc, pos) triples shuffle. */
  def spanRemovalCapReport(docs: DataFrame, minLen: Int = 50,
      dfCap: Int = spanDfCap): DataFrame = {
    val (_, grams) = windowHashGrams(docs, minLen)
    grams.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("sample_doc"))
      .where(col("n_docs") > dfCap)
      .orderBy(col("n_docs").desc, col("h"))
  }

  /** The span-removal rewrite, persisted as `rewrite`: q378 reports it
    * and q380 packs it, so [[removeCrossDocSpans]] runs once per (JVM,
    * corpus) instead of once per gate. Deterministic: keep-first is a
    * total order on (doc_id, pos) and the rebuild an ordered listagg. */
  lazy val SpanRm: Substrate = Substrate("span_rm") { (s, dir, out) =>
    removeCrossDocSpans(Tables.documents(s, dir))
      .write.mode("overwrite").parquet(out + "/rewrite.parquet")
  }

  /** The q378 rule in DuckDB, as a CTE chain through `ke` (kept
    * tokens) — shared by q378's rebuild oracle and q380's composition
    * oracle, so the two gates cannot disagree on what gets removed. */
  private val spanRemovalCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |          FROM documents),
      |win AS (
      |  SELECT doc_id, p, array_to_string(w[p+1 : p+50], ' ') AS s
      |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 49)) AS p
      |        FROM t WHERE len(w) >= 50) z),
      |gd AS (SELECT s FROM win GROUP BY s
      |       HAVING count(DISTINCT doc_id) > 1),
      |fd AS (SELECT s, min(doc_id) AS fdoc
      |       FROM win JOIN gd USING (s) GROUP BY s),
      |fo AS (SELECT w.s, f.fdoc, min(w.p) AS fpos
      |       FROM win w JOIN fd f ON w.s = f.s AND w.doc_id = f.fdoc
      |       GROUP BY w.s, f.fdoc),
      |rs AS (SELECT w.doc_id, w.p
      |       FROM win w JOIN fo ON w.s = fo.s
      |       WHERE NOT (w.doc_id = fo.fdoc AND w.p = fo.fpos)),
      |ix AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
      |tok AS (SELECT ix.doc_id, CAST(ix.i - 1 AS BIGINT) AS pos,
      |          t.w[ix.i] AS tok
      |        FROM ix JOIN t USING (doc_id)),
      |rm AS (SELECT DISTINCT tok.doc_id, tok.pos
      |       FROM tok JOIN rs ON rs.doc_id = tok.doc_id
      |         AND tok.pos BETWEEN rs.p AND rs.p + 49),
      |ke AS (SELECT tok.* FROM tok
      |       WHERE NOT EXISTS (SELECT 1 FROM rm
      |         WHERE rm.doc_id = tok.doc_id AND rm.pos = tok.pos))""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q75_decontaminate",
      (s, d) => contaminationOf(Tables.documents(s, d),
          col("doc_id") % evalMod === 0)
        .orderBy("doc_id"),
      Some(s"""WITH g AS (${ngramsSql(6)}),
             |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % $evalMod = 0),
             |tr AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % $evalMod <> 0),
             |h AS (SELECT tr.doc_id, COUNT(*) AS n_hits
             |      FROM tr JOIN ev USING (g) GROUP BY 1)
             |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
             |       COALESCE(h.n_hits, 0) > 0 AS contaminated
             |FROM documents d LEFT JOIN h USING (doc_id)
             |WHERE d.doc_id % $evalMod <> 0
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("q76_seq_pack",
      (s, d) => packSequences(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""SELECT doc_id, source, n_tok,
             |  begin_tok,
             |  begin_tok // 256 AS seq_id,
             |  begin_tok - (begin_tok // 256) * 256 AS seq_off
             |FROM (
             |  SELECT doc_id, source, n_tok,
             |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - n_tok AS begin_tok
             |  FROM (SELECT doc_id, source,
             |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |        FROM documents) t) p
             |ORDER BY doc_id""".stripMargin)),

    QueryDef("q78_temperature_mix",
      (s, d) => mixtureWeights(Tables.documents(s, d)).orderBy("lang"),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
             |t AS (SELECT SUM(n_docs) AS n_total FROM c),
             |sc AS (SELECT lang, n_docs,
             |         CAST(n_docs AS DOUBLE) / n_total AS p,
             |         POW(CAST(n_docs AS DOUBLE) / n_total, 0.7) AS pa
             |       FROM c, t),
             |z AS (SELECT SUM(pa) AS z FROM sc)
             |SELECT lang, n_docs,
             |  ROUND(p, 6) AS nat_share,
             |  ROUND(pa / z, 6) AS temp_share,
             |  ROUND(pa / z / p, 6) AS upsample
             |FROM sc, z ORDER BY lang""".stripMargin)),

    // The q78 weights composed back onto the corpus: per-(source, lang)
    // expected sampled counts under the temperature mixture. The oracle
    // reuses q78's CTE chain verbatim so the two gates cannot drift on
    // what "the upsample factor" means.
    QueryDef("q81_mixture_sample",
      (s, d) => sampledCounts(Tables.documents(s, d)).orderBy("source", "lang"),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
             |t AS (SELECT SUM(n_docs) AS n_total FROM c),
             |sc AS (SELECT lang, n_docs,
             |         CAST(n_docs AS DOUBLE) / n_total AS p,
             |         POW(CAST(n_docs AS DOUBLE) / n_total, 0.7) AS pa
             |       FROM c, t),
             |z AS (SELECT SUM(pa) AS z FROM sc),
             |w AS (SELECT lang, ROUND(pa / z / p, 6) AS upsample FROM sc, z)
             |SELECT d.source, d.lang, COUNT(*) AS n_docs, w.upsample,
             |  CAST(FLOOR(COUNT(*) * w.upsample) AS BIGINT) AS n_sampled
             |FROM documents d JOIN w USING (lang)
             |GROUP BY d.source, d.lang, w.upsample
             |ORDER BY source, lang""".stripMargin)),

    // The mixture sampler materialized: the resampled corpus itself,
    // deterministic copy counts from the same md5-slice hash family as
    // MinHash/CMS. Oracle shares q78's weight CTEs verbatim.
    QueryDef("q82_mixture_resample",
      (s, d) => resample(Tables.documents(s, d)).orderBy("doc_id", "copy"),
      Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
             |t AS (SELECT SUM(n_docs) AS n_total FROM c),
             |sc AS (SELECT lang,
             |         CAST(n_docs AS DOUBLE) / n_total AS p,
             |         POW(CAST(n_docs AS DOUBLE) / n_total, 0.7) AS pa
             |       FROM c, t),
             |z AS (SELECT SUM(pa) AS z FROM sc),
             |w AS (SELECT lang, ROUND(pa / z / p, 6) AS upsample FROM sc, z),
             |drawn AS (
             |  SELECT doc_id, d.lang, upsample,
             |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |      / 4294967296.0 AS u
             |  FROM documents d JOIN w USING (lang)),
             |n AS (
             |  SELECT doc_id, lang,
             |    CAST(FLOOR(upsample) AS BIGINT) +
             |    CASE WHEN u < upsample - FLOOR(upsample) THEN 1 ELSE 0 END AS n_copies
             |  FROM drawn)
             |SELECT doc_id, lang, unnest(range(n_copies)) AS copy
             |FROM n WHERE n_copies > 0
             |ORDER BY doc_id, copy""".stripMargin)),

    // Offset-invariant sub-document dedup: content-defined boundaries
    // (cut after a 4-token window hashing to 0 mod 8), first occurrence
    // survives, docs rebuilt in order. The oracle recomputes the same
    // boundary rule with the proven md5-slice BIGINT pattern.
    QueryDef("q83_cdc_dedup",
      (s, d) => cdcChunkDedup(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |cut AS (
             |  SELECT g.doc_id, g.i + 3 AS e
             |  FROM (SELECT doc_id, unnest(range(len(w) - 3)) AS i
             |        FROM t WHERE len(w) >= 4) g JOIN t USING (doc_id)
             |  WHERE ('0x' || substr(md5(array_to_string(t.w[g.i+1 : g.i+4], ' ')), 1, 8))::BIGINT
             |          % 8 = 0),
             |tk AS (SELECT p.doc_id, p.j, t.w[p.j+1] AS tok
             |       FROM (SELECT doc_id, unnest(range(len(w))) AS j FROM t) p
             |       JOIN t USING (doc_id)),
             |chunked AS (
             |  SELECT doc_id, j, tok,
             |    COALESCE(SUM(is_end) OVER (PARTITION BY doc_id ORDER BY j
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
             |  FROM (SELECT tk.doc_id, tk.j, tk.tok,
             |          CASE WHEN c.e IS NOT NULL THEN 1 ELSE 0 END AS is_end
             |        FROM tk LEFT JOIN cut c ON c.doc_id = tk.doc_id AND c.e = tk.j) b),
             |chk AS (SELECT doc_id, chunk, string_agg(tok, ' ' ORDER BY j) AS ctext
             |        FROM chunked GROUP BY doc_id, chunk),
             |kept AS (SELECT doc_id, chunk, ctext FROM (
             |           SELECT doc_id, chunk, ctext,
             |             row_number() OVER (PARTITION BY ctext
             |               ORDER BY doc_id, chunk) AS rn
             |           FROM chk) r WHERE rn = 1),
             |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
             |          string_agg(ctext, ' ' ORDER BY chunk) AS clean_text
             |        FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM chk GROUP BY doc_id)
             |SELECT t2.doc_id, COALESCE(r.clean_text, '') AS clean_text,
             |       COALESCE(r.n_kept, 0) AS n_kept, t2.n_total
             |FROM tot t2 LEFT JOIN reb r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // The composed training-prep path: decontaminate, then pack the
    // surviving corpus, summarized per shard — proves the two-phase
    // packer composes downstream of a filtered corpus (its correctness
    // is partitioning-independent by construction). Oracle chains the
    // q75 CTEs with the window formulation of packing.
    QueryDef("q89_trainprep_e2e",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clean = contaminationOf(docs, col("doc_id") % evalMod === 0)
          .where(!col("contaminated")).select("doc_id")
        packSequences(docs.join(clean, "doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (max(col("seq_id")) + 1).as("n_seqs"),
            sum(col("n_tok")).as("n_toks"))
          .orderBy("source")
      },
      Some(s"""WITH g AS (${ngramsSql(6)}),
             |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % $evalMod = 0),
             |tr AS (SELECT DISTINCT doc_id, g FROM g WHERE doc_id % $evalMod <> 0),
             |h AS (SELECT tr.doc_id, COUNT(*) AS n_hits
             |      FROM tr JOIN ev USING (g) GROUP BY 1),
             |clean AS (
             |  SELECT d.doc_id FROM documents d LEFT JOIN h USING (doc_id)
             |  WHERE d.doc_id % $evalMod <> 0 AND COALESCE(h.n_hits, 0) = 0),
             |p AS (
             |  SELECT doc_id, source, n_tok,
             |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - n_tok AS begin_tok
             |  FROM (SELECT d.doc_id, d.source,
             |          CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
             |        FROM documents d JOIN clean USING (doc_id)) t)
             |SELECT source, COUNT(*) AS n_docs,
             |  MAX(begin_tok // 256) + 1 AS n_seqs,
             |  CAST(SUM(n_tok) AS BIGINT) AS n_toks
             |FROM p GROUP BY source
             |ORDER BY source""".stripMargin)),

    // The packing manifest in sequence-major order: every (sequence,
    // doc) span, integer-exact. The oracle rebuilds the same spans from
    // the windowed prefix sum.
    QueryDef("q94_pack_spans",
      (s, d) => packSpans(Tables.documents(s, d))
        .orderBy("source", "seq_id", "seq_start"),
      Some("""WITH p AS (
             |  SELECT doc_id, source, n_tok,
             |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - n_tok AS begin_tok
             |  FROM (SELECT doc_id, source,
             |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |        FROM documents) t),
             |x AS (
             |  SELECT source, doc_id, n_tok, begin_tok,
             |    unnest(range(begin_tok // 256, (begin_tok + n_tok - 1) // 256 + 1)) AS seq_id
             |  FROM p WHERE n_tok > 0)
             |SELECT source, seq_id,
             |  GREATEST(begin_tok, seq_id * 256) - seq_id * 256 AS seq_start,
             |  doc_id,
             |  LEAST(begin_tok + n_tok, (seq_id + 1) * 256)
             |    - GREATEST(begin_tok, seq_id * 256) AS len
             |FROM x
             |ORDER BY source, seq_id, seq_start""".stripMargin)),

    QueryDef("q77_block_dedup",
      (s, d) => blockDedup(Tables.documents(s, d)).orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |b AS (SELECT doc_id,
             |        unnest(range(CAST(ceil(len(w) / 10.0) AS BIGINT))) AS pos
             |      FROM w),
             |blk AS (SELECT b.doc_id, b.pos,
             |          array_to_string(w.w[b.pos*10+1 : b.pos*10+10], ' ') AS blk
             |        FROM b JOIN w ON b.doc_id = w.doc_id),
             |kept AS (SELECT doc_id, pos, blk FROM (
             |           SELECT doc_id, pos, blk,
             |             row_number() OVER (PARTITION BY blk
             |               ORDER BY doc_id, pos) AS rn
             |           FROM blk) r
             |         WHERE rn = 1),
             |reb AS (SELECT doc_id, COUNT(*) AS n_kept,
             |          string_agg(blk, ' ' ORDER BY pos) AS clean_text
             |        FROM kept GROUP BY doc_id),
             |tot AS (SELECT doc_id, CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_total
             |        FROM w)
             |SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
             |       COALESCE(r.n_kept, 0) AS n_kept, t.n_total
             |FROM tot t LEFT JOIN reb r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Repeated-SPAN audit — the alignment-robust sibling of q77's
    // block dedup: q77 partitions text into DISJOINT 10-token blocks
    // (a repeat shifted by one token never collides); here OVERLAPPING
    // 32-token windows at stride 16 fingerprint every span, so
    // boilerplate repeated at ARBITRARY offsets still collides in at
    // least one window (any 47+-token repeat guarantees a shared
    // aligned window; shorter repeats collide when their offsets agree
    // mod 16). This is the bounded, shuffle-friendly stand-in for
    // suffix-array span dedup: fingerprints are 16-byte digests
    // grouped map-side (production: 8-byte xxhash), the span text
    // itself never shuffles — only (fp, doc_id) pairs — and the
    // per-doc report joins back by fp. Stride halves the window so
    // the span stream is ~n_tok/16 rows per doc, a constant factor
    // of the token stream.
    QueryDef("q143_repeated_spans",
      (s, d) => {
        val spanW = 32
        val stride = 16
        val w = split(col("text"), " ")
        val spans = Tables.documents(s, d)
          .where(size(w) >= spanW)
          // the window-hash transform is an interpreted lambda — it
          // must run AFTER an exchange, not in the scan's
          // one-task-per-file layout (the q83/q120 lesson; the PlanSpec
          // walker enforces this)
          .repartition(col("doc_id"))
          .select(col("doc_id"),
            posexplode(transform(
              sequence(lit(0), size(w) - spanW, lit(stride)),
              p => md5(array_join(slice(w, p + 1, lit(spanW)), " "))))
              .as(Seq("pos", "fp")))
          .transform(pin) // 2 consumers: occurrence counts + report
        val occ = spans.groupBy("fp")
          .agg(count(lit(1)).as("n_occ"),
            countDistinct(col("doc_id")).as("n_docs"))
        spans.join(occ, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_repeated"),
            sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_cross_doc"))
          .withColumn("repeated_frac",
            round(col("n_repeated").cast("double") / col("n_spans"), 6))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) >= 32),
             |sp AS (
             |  SELECT doc_id,
             |    md5(array_to_string(w[p+1 : p+32], ' ')) AS fp
             |  FROM (SELECT doc_id, w,
             |          unnest(range(0, len(w) - 31, 16)) AS p
             |        FROM w) t),
             |occ AS (SELECT fp, COUNT(*) AS n_occ,
             |          COUNT(DISTINCT doc_id) AS n_docs
             |        FROM sp GROUP BY fp)
             |SELECT sp.doc_id,
             |  COUNT(*) AS n_spans,
             |  CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_repeated,
             |  CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_cross_doc,
             |  round(CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / COUNT(*), 6) AS repeated_frac
             |FROM sp JOIN occ USING (fp)
             |GROUP BY sp.doc_id
             |ORDER BY sp.doc_id""".stripMargin)),

    // Long-span EXACT-substring dedup (✚ — the unbounded-span operator
    // q143's stride-16 screen stands in for; the suffix-array task of
    // the train-data dedup literature in two-phase shuffle-friendly
    // form). Three passes, all exact:
    //   1. ANCHORS — winnowing fingerprints (Schleimer et al.: per
    //      window of WIN consecutive 8-token-gram hashes keep the
    //      rightmost minimum). Selection is CONTENT-defined, so two
    //      occurrences of the same span select the same anchor at the
    //      same relative offset regardless of alignment — the
    //      guarantee q143's fixed stride lacks — and any common span
    //      of ≥ WIN+K-1 = 25 tokens shares an anchor with a
    //      consistent offset delta.
    //   2. CANDIDATES — anchors self-join on the 8-byte hash (a<b),
    //      distinct (a, b, delta) DIAGONALS. Hash collisions only add
    //      candidates; pass 3 verifies tokens, so the result is exact.
    //   3. EXTENSION — for each diagonal, join the two docs' token
    //      streams POSITION-keyed ((doc, pos) equi-join, token
    //      equality as a residual — never keyed by token text),
    //      gaps-and-islands the matching positions into MAXIMAL runs,
    //      keep runs ≥ 25, and sweep-line-union each doc's run
    //      intervals (a position can be covered by many partners).
    // Oracle: brute-force stride-1 25-token windows — sound because a
    // position is inside a maximal common run of length ≥ L iff it is
    // inside some repeated window of length exactly L.
    // Scale: only (hash, doc, pos) anchors and candidate docs' tokens
    // shuffle, never span text; per-diagonal state is the overlap
    // length; production adds the family's df-cap on anchors shared by
    // >cap docs (boilerplate) with the non-silent fallback report.
    QueryDef("q192_longspan_dedup",
      (s, d) => {
        val L = 25; val K = 8; val WIN = L - K + 1 // 18
        val w = split(col("text"), " ")
        // k-gram hash array, bound ONCE as a lambda variable (transform
        // over a 1-element array) so the winnowing pass references it
        // without CollapseProject re-inlining the whole hash pipeline
        val hArr = transform(sequence(lit(0), size(w) - K),
          i => xxhash64(array_join(slice(w, i + 1, lit(K)), " ")))
        val anchorArr = flatten(transform(array(hArr), ha =>
          array_distinct(transform(sequence(lit(0), size(ha) - WIN), t => {
            val wnd = slice(ha, t + 1, lit(WIN))
            val m = array_min(wnd)
            struct((t + lit(WIN) - array_position(reverse(wnd), m))
              .cast("int").as("apos"), m.as("h"))
          }))))
        val base = Tables.documents(s, d).where(size(w) >= L)
          // heavy array pipeline after an exchange, not in the scan's
          // one-task-per-file layout (q83/q120 lesson)
          .repartition(col("doc_id"))
        val anchors = base
          .select(col("doc_id"), explode(anchorArr).as("an"))
          .select(col("doc_id"), col("an.apos").as("apos"), col("an.h").as("h"))
          .transform(pin) // consumed twice (both sides of the self-join)
        val cand = anchors.select(col("doc_id").as("a"), col("apos").as("pa"), col("h"))
          .join(anchors.select(col("doc_id").as("b"), col("apos").as("pb"), col("h")), "h")
          .where(col("a") < col("b"))
          .select(col("a"), col("b"), (col("pa") - col("pb")).as("delta"))
          .distinct()
        val candDocs = cand.select(col("a").as("doc_id"))
          .union(cand.select(col("b"))).distinct()
        val toks = base
          .select(col("doc_id"), posexplode(w).as(Seq("pos", "tok")))
          .join(candDocs, Seq("doc_id"), "left_semi")
          .transform(pin) // consumed twice (A and B sides)
        diagonalSpanIntervals(cand, toks, L)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_runs"),
            sum(col("ien") - col("ist")).cast("long").as("covered_tok"),
            max(col("ien") - col("ist")).cast("long").as("max_run"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) >= 25),
             |win AS (
             |  SELECT doc_id, p, array_to_string(w[p+1 : p+25], ' ') AS s
             |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 24)) AS p FROM w) t),
             |g AS (SELECT s FROM win GROUP BY s HAVING count(DISTINCT doc_id) > 1),
             |iv AS (SELECT doc_id, p AS st, p + 25 AS en FROM win JOIN g USING (s)),
             |m AS (SELECT doc_id, st, en,
             |        max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |      FROM iv),
             |f AS (SELECT doc_id, st, en,
             |        sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY st, en
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |      FROM m),
             |isl AS (SELECT doc_id, isl, min(st) AS ist, max(en) AS ien
             |        FROM f GROUP BY doc_id, isl)
             |SELECT doc_id, count(*) AS n_runs,
             |  CAST(sum(ien - ist) AS BIGINT) AS covered_tok,
             |  CAST(max(ien - ist) AS BIGINT) AS max_run
             |FROM isl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Exact-substring span dedup in the LITERATURE form (✚, VERDICT r14
    // next-round #5 — the ExactSubstr operator of the train-data dedup
    // literature, Lee et al.'s "Deduplicating Training Data Makes
    // Language Models Better" restricted to cross-document repeats):
    // every document emits its stride-1 L-token gram stream — the
    // fixed-depth PREFIX of each suffix, i.e. the per-document suffix
    // grouping that stands in for the concatenated-corpus suffix array
    // in shuffle form. Two docs share an exact ≥ L-token span iff they
    // share an L-gram at SOME alignment, so the exhaustive stride-1
    // stream IS the suffix-array duplicate relation truncated at depth
    // L; hash-grouping finds the candidates, and the shared
    // [[diagonalSpanIntervals]] extension verifies tokens and emits
    // each doc's MAXIMAL duplicated spans as rows (span_start,
    // span_len) — recovered exactly at ARBITRARY alignment. Contrast
    // the two screens it upgrades: q143's stride-16 grid provably
    // misses any cross-doc repeat whose two offsets differ mod 16 (the
    // grids never fingerprint the same repeat-relative window —
    // Batch24Spec plants one), and q192's winnowed anchors recover
    // spans exactly but report only per-doc coverage counts.
    // Oracle independence: brute-force stride-1 L-windows grouped by
    // TEXT (never a hash), interval-unioned — sound because a position
    // is inside a maximal cross-doc run ≥ L iff it is inside some
    // cross-doc-repeated L-window.
    // Scale: gram text never shuffles — only (xxhash64, doc, pos); the
    // hash self-join emits distinct DIAGONALS, not occurrence pairs;
    // extension joins are position-keyed; production adds the family's
    // df-cap on grams shared by > cap docs (boilerplate) with the
    // non-silent fallback report, exactly as q27/q51.
    QueryDef("q361_exact_spans",
      (s, d) => {
        val L = 50
        val w = split(col("text"), " ")
        val base = Tables.documents(s, d).where(size(w) >= L)
          // heavy array pipeline after an exchange, not in the scan's
          // one-task-per-file layout (q83/q120 lesson)
          .repartition(col("doc_id"))
        val grams = base.select(col("doc_id"),
            posexplode(transform(sequence(lit(0), size(w) - L),
              p => xxhash64(array_join(slice(w, p + 1, lit(L)), " "))))
              .as(Seq("pos", "h")))
          .transform(pin) // both sides of the self-join
        val cand = grams
          .select(col("doc_id").as("a"), col("pos").as("pa"), col("h"))
          .join(grams.select(col("doc_id").as("b"), col("pos").as("pb"),
            col("h")), "h")
          .where(col("a") < col("b"))
          .select(col("a"), col("b"), (col("pa") - col("pb")).as("delta"))
          .distinct()
        val candDocs = cand.select(col("a").as("doc_id"))
          .union(cand.select(col("b"))).distinct()
        val toks = base
          .select(col("doc_id"), posexplode(w).as(Seq("pos", "tok")))
          .join(candDocs, Seq("doc_id"), "left_semi")
          .transform(pin) // consumed twice (A and B sides)
        diagonalSpanIntervals(cand, toks, L)
          .select(col("doc_id"), col("ist").cast("long").as("span_start"),
            (col("ien") - col("ist")).cast("long").as("span_len"))
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH w AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) >= 50),
             |win AS (
             |  SELECT doc_id, p, array_to_string(w[p+1 : p+50], ' ') AS s
             |  FROM (SELECT doc_id, w, unnest(range(0, len(w) - 49)) AS p FROM w) t),
             |g AS (SELECT s FROM win GROUP BY s HAVING count(DISTINCT doc_id) > 1),
             |iv AS (SELECT doc_id, p AS st, p + 50 AS en FROM win JOIN g USING (s)),
             |m AS (SELECT doc_id, st, en,
             |        max(en) OVER (PARTITION BY doc_id ORDER BY st, en
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |      FROM iv),
             |f AS (SELECT doc_id, st, en,
             |        sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
             |          OVER (PARTITION BY doc_id ORDER BY st, en
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
             |      FROM m),
             |isl AS (SELECT doc_id, isl, min(st) AS ist, max(en) AS ien
             |        FROM f GROUP BY doc_id, isl)
             |SELECT doc_id, CAST(ist AS BIGINT) AS span_start,
             |  CAST(ien - ist AS BIGINT) AS span_len
             |FROM isl ORDER BY doc_id, span_start""".stripMargin)),

    // Span-removal dedup — the corpus REWRITE (✚ — algorithm notes at
    // [[removeCrossDocSpans]]: q361 lists the duplicated spans, this
    // emits the Lee-et-al deduplicated corpus: every ≥50-token
    // cross-doc window keeps its corpus-first occurrence, later copies
    // are cut, documents rebuilt, fully-cut survivors kept as empty
    // rows). Oracle: brute-force stride-1 windows grouped by TEXT,
    // keep-first by (doc_id, pos), covered-token anti-join, ordered
    // string_agg rebuild — the direct re-derivation of the same rule.
    QueryDef("q378_span_removal",
      // readout of the cached rewrite substrate (r18 — VERDICT r17
      // #4): the build is charged once as Bench's span_rm line and
      // q380 packs the same frame
      (s, d) => SpanRm.read(s, d, "rewrite").orderBy("doc_id"),
      Some(spanRemovalCtes + """
             |SELECT t.doc_id,
             |  CAST(len(t.w) AS BIGINT) AS n_tok,
             |  CAST(COALESCE(r.nr, 0) AS BIGINT) AS n_removed,
             |  CAST(len(t.w) - COALESCE(r.nr, 0) AS BIGINT) AS n_kept,
             |  COALESCE(k.txt, '') AS text_dedup
             |FROM t
             |LEFT JOIN (SELECT doc_id, count(*) AS nr FROM rm GROUP BY 1) r
             |  USING (doc_id)
             |LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS txt
             |           FROM ke GROUP BY 1) k USING (doc_id)
             |ORDER BY doc_id""".stripMargin),
      uses = Seq(SpanRm)),

    // The REWRITE composed downstream (✚ — the q89 composition shape
    // for the r17 removal family): span-removal dedup → fully-cut docs
    // dropped → the surviving rewrite packed into fixed-budget
    // training sequences, rolled up per source. Proves the two-phase
    // packer composes on a rewritten corpus whose token counts shrank
    // under it. Oracle chains the SAME span-removal CTEs (the q378
    // contract) with q76's window formulation of packing.
    QueryDef("q380_dedup_pack_e2e",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // the same cached rewrite q378 reports (r18): this gate
        // measures the packing composition, not a substrate rebuild
        val rewritten = SpanRm.read(s, d, "rewrite")
          .where(col("n_kept") > 0)
          .select(col("doc_id"), col("text_dedup").as("text"))
        packSequences(rewritten.join(docs.select("doc_id", "source"),
            "doc_id"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            (max(col("seq_id")) + 1).as("n_seqs"),
            sum(col("n_tok")).as("n_toks"))
          .orderBy("source")
      },
      Some(spanRemovalCtes + """,
             |reb AS (SELECT doc_id, COUNT(*) AS n_tok FROM ke GROUP BY 1),
             |sz AS (SELECT d.doc_id, d.source, r.n_tok
             |       FROM documents d JOIN reb r USING (doc_id)),
             |p AS (SELECT doc_id, source, n_tok,
             |        CAST(SUM(n_tok) OVER (PARTITION BY source
             |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND CURRENT ROW) AS BIGINT) - n_tok AS begin_tok
             |      FROM sz)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(MAX(begin_tok // 256) + 1 AS BIGINT) AS n_seqs,
             |  CAST(SUM(n_tok) AS BIGINT) AS n_toks
             |FROM p GROUP BY source ORDER BY source""".stripMargin),
      uses = Seq(SpanRm)),

    // Token-level SUFFIX ARRAYS (✚): the data structure the published
    // exact-substring dedup builds (Lee et al. 2022 build suffix arrays
    // to find all ≥50-token repeats); q361/q192 are the gram-stream
    // span EXTRACTORS, this is the indexing primitive itself in
    // shuffle form. A readout of the corpus-global [[GlobalSa]] order:
    // same-doc suffixes differ in length, so they never share a global
    // rank, and the per-doc dense rank of it is the per-doc suffix
    // array. Oracle: DuckDB materializes every suffix as a token LIST
    // and lets lexicographic list ordering rank it — a direct O(n²·L)
    // re-derivation against the O(n log n) doubling.
    QueryDef("q366_suffix_array",
      (s, d) => GlobalSa.read(s, d, "sa")
        .select(col("doc_id"), col("off"), dense_rank()
          .over(Window.partitionBy("doc_id").orderBy("r")).cast("long")
          .as("sa_rank"))
        .orderBy("doc_id", "off"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents),
             |i AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
             |s AS (SELECT i.doc_id, CAST(i.i - 1 AS BIGINT) AS off,
             |        t.w[i.i:] AS suf
             |      FROM i JOIN t USING (doc_id))
             |SELECT doc_id, off,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY suf)
             |    AS BIGINT) AS sa_rank
             |FROM s ORDER BY doc_id, off""".stripMargin),
      uses = Seq(GlobalSa)),

    // Longest repeated substring per document (✚ — algorithm notes at
    // [[perDocRepeats]]): the SA-adjacent-LCP theorem over q366's
    // arrays, LCP by Karp–Miller–Rosenberg rank-table jumping. The
    // oracle shares q366's suffix CTEs textually, takes SA-adjacent
    // pairs with one window lead, and re-derives each LCP by DIRECT
    // token-list comparison (first-mismatch scalar subquery) — an
    // O(Σ L²)-class check against the O(n log L) ladder.
    QueryDef("q367_longest_repeat",
      (s, d) => perDocRepeats(Tables.documents(s, d),
        GlobalSa.read(s, d, "sa"), globalSaRungs(s, d)).orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents),
             |i AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
             |s AS (SELECT i.doc_id, CAST(i.i - 1 AS BIGINT) AS off,
             |        t.w[i.i:] AS suf
             |      FROM i JOIN t USING (doc_id)),
             |p AS (SELECT doc_id, off AS off_a,
             |        lead(off) OVER (PARTITION BY doc_id ORDER BY suf) AS off_b,
             |        suf AS sa,
             |        lead(suf) OVER (PARTITION BY doc_id ORDER BY suf) AS sb
             |      FROM s),
             |lc AS (SELECT doc_id, off_a, off_b,
             |         COALESCE((SELECT MIN(u.i)
             |                   FROM unnest(range(1, LEAST(len(sa), len(sb)) + 1)) u(i)
             |                   WHERE sa[u.i] <> sb[u.i]) - 1,
             |                  LEAST(len(sa), len(sb))) AS lcp
             |       FROM p WHERE off_b IS NOT NULL),
             |sc AS (SELECT doc_id, lcp, LEAST(off_a, off_b) AS o1,
             |         GREATEST(off_a, off_b) AS o2 FROM lc),
             |mx AS (SELECT doc_id, MAX(lcp) AS lrs_len FROM sc GROUP BY 1),
             |arg AS (SELECT doc_id, lrs_len, o1, o2 FROM (
             |  SELECT sc.doc_id, mx.lrs_len, sc.o1, sc.o2,
             |    ROW_NUMBER() OVER (PARTITION BY sc.doc_id
             |      ORDER BY sc.o1, sc.o2) AS rn
             |  FROM sc JOIN mx ON mx.doc_id = sc.doc_id
             |    AND sc.lcp = mx.lrs_len) z
             |  WHERE rn = 1)
             |SELECT d.doc_id,
             |  CAST(COALESCE(arg.lrs_len, 0) AS BIGINT) AS lrs_len,
             |  arg.o1 AS off_a, arg.o2 AS off_b
             |FROM documents d LEFT JOIN arg ON arg.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin),
      uses = Seq(GlobalSa)),

    // The longest CROSS-DOCUMENT repeated token span, exact at any
    // length (✚ — algorithm notes at [[crossDocRepeat]]: the global-
    // suffix-order completion of the q366/q367 family). Oracle: the
    // same suffix CTEs as q366/q367 but ordered CORPUS-wide
    // (suf, doc_id, off), one lead over that total order, LCP of each
    // doc-changing consecutive pair by direct token-list comparison —
    // the O(Σ L²)-class check against the O(n log L) ladder — then the
    // identical (len desc, pair asc) argmax.
    QueryDef("q374_cross_doc_repeat",
      // readout of the cached [[GlobalSa]] substrate (one ladder build
      // per JVM/corpus, charged once in bench; q375 reads the same)
      (s, d) => maxCrossDocPair(GlobalSa.read(s, d, "adj")),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents),
             |i AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
             |s AS (SELECT i.doc_id, CAST(i.i - 1 AS BIGINT) AS off,
             |        t.w[i.i:] AS suf
             |      FROM i JOIN t USING (doc_id)),
             |p AS (SELECT doc_id AS da, off AS oa, suf AS sa,
             |        lead(doc_id) OVER o AS db, lead(off) OVER o AS ob,
             |        lead(suf) OVER o AS sb
             |      FROM s WINDOW o AS (ORDER BY suf, doc_id, off)),
             |c AS (SELECT da, oa, db, ob,
             |        COALESCE((SELECT MIN(u.i)
             |                  FROM unnest(range(1, LEAST(len(sa), len(sb)) + 1)) u(i)
             |                  WHERE sa[u.i] <> sb[u.i]) - 1,
             |                 LEAST(len(sa), len(sb))) AS lcp
             |      FROM p WHERE db IS NOT NULL AND db <> da),
             |mx AS (SELECT MAX(lcp) AS m FROM c)
             |SELECT CAST(c.lcp AS BIGINT) AS repeat_len,
             |  da AS doc_a, oa AS off_a, db AS doc_b, ob AS off_b
             |FROM c, mx WHERE c.lcp = mx.m
             |ORDER BY doc_a, off_a, doc_b, off_b LIMIT 1""".stripMargin),
      uses = Seq(GlobalSa)),

    // Per-document cross-doc match statistics (✚ — algorithm notes at
    // [[crossDocCoverage]]: q374 quantified per document — max shared
    // span + how many positions start a ≥50-token shared span).
    // Oracle: the same corpus-wide suffix sort, ALL adjacent-pair LCPs
    // by direct token comparison, then the identical run/running-min
    // construction in window SQL.
    QueryDef("q375_cross_doc_coverage",
      (s, d) => crossDocCoverageFromAdj(GlobalSa.read(s, d, "idx"),
        GlobalSa.read(s, d, "adj"), 50),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents),
             |ix AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
             |s AS (SELECT ix.doc_id, CAST(ix.i - 1 AS BIGINT) AS off,
             |        t.w[ix.i:] AS suf
             |      FROM ix JOIN t USING (doc_id)),
             |o AS (SELECT doc_id, off, suf,
             |        ROW_NUMBER() OVER (ORDER BY suf, doc_id, off) - 1 AS i
             |      FROM s),
             |adj AS (SELECT a.i, a.doc_id AS da, b.doc_id AS db,
             |        COALESCE((SELECT MIN(u.k) FROM unnest(range(1,
             |              LEAST(len(a.suf), len(b.suf)) + 1)) u(k)
             |            WHERE a.suf[u.k] <> b.suf[u.k]) - 1,
             |          LEAST(len(a.suf), len(b.suf))) AS lcp
             |      FROM o a JOIN o b ON b.i = a.i + 1),
             |m AS (SELECT o.i, o.doc_id,
             |        COALESCE(CASE WHEN p.da <> p.db THEN 1 ELSE 0 END, 0)
             |          AS chg,
             |        p.lcp AS lcp_in, nx.lcp AS lcp_out
             |      FROM o LEFT JOIN adj p ON p.i = o.i - 1
             |             LEFT JOIN adj nx ON nx.i = o.i),
             |r AS (SELECT m.*, SUM(chg) OVER (ORDER BY i) AS run FROM m),
             |mx AS (SELECT MAX(run) AS mr FROM r),
             |c1 AS (SELECT r.*, CASE WHEN run > 0 THEN
             |          MIN(lcp_in) OVER (PARTITION BY run ORDER BY i
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        END AS cd_above
             |       FROM r),
             |c2 AS (SELECT c1.*, CASE WHEN run < (SELECT mr FROM mx) THEN
             |          MIN(lcp_out) OVER (PARTITION BY run ORDER BY i DESC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        END AS cd_below
             |       FROM c1),
             |cd AS (SELECT doc_id,
             |        GREATEST(COALESCE(cd_above, -1), COALESCE(cd_below, -1))
             |          AS cdv
             |       FROM c2)
             |SELECT doc_id, COUNT(*) AS n_positions,
             |  CAST(CASE WHEN MAX(cdv) < 0 THEN 0 ELSE MAX(cdv) END
             |    AS BIGINT) AS max_cross_lcp,
             |  CAST(SUM(CASE WHEN cdv >= 50 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_starts_ge_min
             |FROM cd GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      uses = Seq(GlobalSa)),

    // Eval-set contamination spans (✚ — algorithm notes at
    // [[contaminationFrom]]: q375's matching statistics with the eval
    // subset (doc_id % 41) as the boundary — per TRAINING doc, the
    // exact longest span shared with any eval doc). Oracle: the same
    // corpus-wide suffix sort and adjacent LCPs, segments by the
    // forward running count of eval rows, the identical nulled-entry /
    // reverse-min window construction.
    QueryDef("q377_contamination_spans",
      (s, d) => contaminationFromAdj(GlobalSa.read(s, d, "idx"),
        GlobalSa.read(s, d, "adj"), evalMod = 41L, minLen = 20),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents),
             |ix AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i FROM t),
             |s AS (SELECT ix.doc_id, CAST(ix.i - 1 AS BIGINT) AS off,
             |        t.w[ix.i:] AS suf
             |      FROM ix JOIN t USING (doc_id)),
             |o AS (SELECT doc_id, off, suf,
             |        ROW_NUMBER() OVER (ORDER BY suf, doc_id, off) - 1 AS i
             |      FROM s),
             |adj AS (SELECT a.i, a.doc_id AS da, b.doc_id AS db,
             |        COALESCE((SELECT MIN(u.k) FROM unnest(range(1,
             |              LEAST(len(a.suf), len(b.suf)) + 1)) u(k)
             |            WHERE a.suf[u.k] <> b.suf[u.k]) - 1,
             |          LEAST(len(a.suf), len(b.suf))) AS lcp
             |      FROM o a JOIN o b ON b.i = a.i + 1),
             |m AS (SELECT o.i, o.doc_id, (o.doc_id % 41 = 0) AS is_eval,
             |        CASE WHEN o.doc_id % 41 = 0 THEN NULL
             |             ELSE p.lcp END AS lcp_in,
             |        nx.lcp AS lcp_out
             |      FROM o LEFT JOIN adj p ON p.i = o.i - 1
             |             LEFT JOIN adj nx ON nx.i = o.i),
             |r AS (SELECT m.*, SUM(CASE WHEN is_eval THEN 1 ELSE 0 END)
             |        OVER (ORDER BY i) AS seg FROM m),
             |mx AS (SELECT MAX(seg) AS te FROM r),
             |c1 AS (SELECT r.*, CASE WHEN seg > 0 THEN
             |          MIN(lcp_in) OVER (PARTITION BY seg ORDER BY i
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        END AS cd_above
             |       FROM r),
             |c2 AS (SELECT c1.*, CASE WHEN seg < (SELECT te FROM mx) THEN
             |          MIN(lcp_out) OVER (PARTITION BY seg ORDER BY i DESC
             |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        END AS cd_below
             |       FROM c1),
             |cd AS (SELECT doc_id,
             |        GREATEST(COALESCE(cd_above, -1), COALESCE(cd_below, -1))
             |          AS cdv
             |       FROM c2 WHERE NOT is_eval)
             |SELECT doc_id, COUNT(*) AS n_positions,
             |  CAST(CASE WHEN MAX(cdv) < 0 THEN 0 ELSE MAX(cdv) END
             |    AS BIGINT) AS max_eval_lcp,
             |  CAST(SUM(CASE WHEN cdv >= 20 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_starts_ge_min
             |FROM cd GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      uses = Seq(GlobalSa)),

    // Weighted sample without replacement, k=100 biased by n_chars —
    // the A-ES key ranking with the md5-slice uniform; oracle derives
    // identical keys and takes the same rounded-key/doc_id top-k.
    QueryDef("q101_weighted_sample",
      (s, d) => weightedSample(Tables.documents(s, d), col("n_chars"), 100)
        .orderBy(col("key").desc, col("doc_id").asc),
      Some("""WITH drawn AS (
             |  SELECT doc_id, source, GREATEST(n_chars, 1) AS w,
             |    (('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |       + 1.0) / 4294967296.0 AS u
             |  FROM documents),
             |keyed AS (
             |  SELECT doc_id, source, CAST(w AS BIGINT) AS w,
             |    ROUND(ln(u) / w, 6) AS key
             |  FROM drawn),
             |ranked AS (
             |  SELECT doc_id, source, w, key,
             |    ROW_NUMBER() OVER (ORDER BY key DESC, doc_id ASC) AS rn
             |  FROM keyed)
             |SELECT doc_id, source, w, key FROM ranked
             |WHERE rn <= 100
             |ORDER BY key DESC, doc_id ASC""".stripMargin)),

    // Packing-efficiency audit over the q94 span manifest: per shard,
    // sequences / real tokens / fill ratio. Oracle shares q94's span
    // derivation and aggregates it.
    QueryDef("q103_packing_report",
      (s, d) => packingReport(Tables.documents(s, d)).orderBy("source"),
      Some("""WITH p AS (
             |  SELECT doc_id, source, n_tok,
             |    CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      - n_tok AS begin_tok
             |  FROM (SELECT doc_id, source,
             |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |        FROM documents) t),
             |x AS (
             |  SELECT source, doc_id, n_tok, begin_tok,
             |    unnest(range(begin_tok // 256, (begin_tok + n_tok - 1) // 256 + 1)) AS seq_id
             |  FROM p WHERE n_tok > 0),
             |sp AS (
             |  SELECT source, seq_id,
             |    LEAST(begin_tok + n_tok, (seq_id + 1) * 256)
             |      - GREATEST(begin_tok, seq_id * 256) AS len
             |  FROM x)
             |SELECT source,
             |  CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs,
             |  CAST(SUM(len) AS BIGINT) AS n_tokens,
             |  ROUND(SUM(len) / ((MAX(seq_id) + 1) * 256.0), 6) AS fill_ratio
             |FROM sp GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Token-budget corpus selection: rank docs by lexical density
    // (distinct-token ratio — the repetition-penalizing quality proxy),
    // take the greedy prefix whose running token total fits the budget.
    // The running sum is Scale.globalRunningSum's two-phase shape —
    // range partitions over (density, doc_id), driver prefix offsets,
    // bounded per-partition windows — NEVER a single-task global
    // window; the oracle's flat SUM() OVER is its single-node twin.
    // Density is one exact double division computed identically by
    // both engines, so the ordering cannot drift.
    QueryDef("q121_budget_select",
      (s, d) => {
        val w = split(col("text"), " ")
        val sized = Tables.documents(s, d).select(col("doc_id"),
          size(w).cast("long").as("n_tok"),
          (size(array_distinct(w)).cast("double") / size(w)).as("density"))
        Scale.globalRunningSum(sized,
            Seq(col("density").desc, col("doc_id")), col("n_tok"))
          .where(col("cum") <= 20000L)
          .select(col("doc_id"), col("n_tok"),
            round(col("density"), 6).as("density"), col("cum").as("cum_tok"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
             |           FROM documents),
             |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
             |        CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS density
             |      FROM t),
             |c AS (SELECT doc_id, n_tok, density,
             |        SUM(n_tok) OVER (ORDER BY density DESC, doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |      FROM s)
             |SELECT doc_id, n_tok, round(density, 6) AS density,
             |  CAST(cum AS BIGINT) AS cum_tok
             |FROM c WHERE cum <= 20000 ORDER BY doc_id""".stripMargin)),

    // Dedup-aware split + leakage audit (✚, see splitAudit above):
    // leak_docs_cluster must read 0 in every row — an end-to-end proof
    // that assignment really is cluster-atomic — while leak_docs_naive
    // counts the docs a doc-level hash split would have leaked across
    // train/eval through near-dup clusters. Oracle: the q74 recursive
    // reachability CTE chain (same verified-pairs definition, so the
    // two gates cannot disagree on what a cluster is) + the q142 md5
    // bucket idiom.
    QueryDef("q147_split_leakage",
      (s, d) => splitAudit(Tables.documents(s, d),
        pairs = Some(Components.dupPairs(s, d))),
      Some(s"""WITH RECURSIVE ${Dedup.verifiedPairsCtes},
             |edges AS (SELECT id_a AS u, id_b AS v FROM vp
             |          UNION ALL SELECT id_b, id_a FROM vp),
             |reach(node, lbl) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT e.v AS node, r.lbl FROM reach r JOIN edges e ON e.u = r.node),
             |lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical_id
             |        FROM reach GROUP BY node),
             |wb AS (
             |  SELECT d.doc_id, d.n_chars, lab.canonical_id,
             |    ('0x' || substr(md5('q147|' || CAST(lab.canonical_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS cb,
             |    ('0x' || substr(md5('q147|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 AS nb
             |  FROM documents d JOIN lab USING (doc_id)),
             |wc AS (
             |  SELECT doc_id, n_chars, canonical_id,
             |    CASE WHEN cb < 8 THEN 'train' WHEN cb < 9 THEN 'val'
             |         ELSE 'test' END AS cluster_split,
             |    CASE WHEN nb < 8 THEN 'train' WHEN nb < 9 THEN 'val'
             |         ELSE 'test' END AS naive_split
             |  FROM wb),
             |cstats AS (
             |  SELECT canonical_id, count(DISTINCT cluster_split) AS ncs,
             |         count(DISTINCT naive_split) AS nns
             |  FROM wc GROUP BY canonical_id),
             |d2 AS (SELECT wc.*, cstats.ncs, cstats.nns
             |       FROM wc JOIN cstats USING (canonical_id)),
             |ac AS (
             |  SELECT cluster_split AS split,
             |    count(DISTINCT canonical_id) AS n_clusters,
             |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |    CAST(sum(CASE WHEN ncs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leak_docs_cluster
             |  FROM d2 GROUP BY 1),
             |an AS (
             |  SELECT naive_split AS split, count(*) AS n_docs_naive,
             |    CAST(sum(CASE WHEN nns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS leak_docs_naive
             |  FROM d2 GROUP BY 1)
             |SELECT split, n_clusters, n_docs, n_chars, leak_docs_cluster,
             |  n_docs_naive, leak_docs_naive
             |FROM ac FULL OUTER JOIN an USING (split)
             |ORDER BY split""".stripMargin),
      uses = Seq(Components.DupPairs)),

    // Per-source nucleus (top-p) selection (✚, the within-domain twin
    // of q121's global token budget: inside each source, keep the
    // best-first prefix of documents holding 80% of the source's
    // character mass — the "nucleus" curation rule that trims each
    // domain's tail without touching its head). A row is kept iff the
    // mass STRICTLY BEFORE it is under the threshold, so the crossing
    // document is included and every source keeps ≥1 document. All
    // arithmetic is integer (10·prior_mass < 8·total — no 0.8 double
    // boundary). Scale: windows are PARTITIONED by source (never
    // global — the q120 trap); one shuffle, map-side-combined final
    // aggregate.
    QueryDef("q177_nucleus_select",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("n_chars").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ws = Window.partitionBy("source")
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("cum", sum("n_chars").over(w))
          .withColumn("tot", sum("n_chars").over(ws))
          .withColumn("n_all", count(lit(1)).over(ws))
          .where((col("cum") - col("n_chars")) * 10 < col("tot") * 8)
          .groupBy("source").agg(
            count(lit(1)).as("n_kept"), max(col("n_all")).as("n_total"),
            sum(col("n_chars")).as("kept_chars"), max(col("tot")).as("total_chars"))
          .orderBy("source")
      },
      Some("""WITH w AS (
             |  SELECT source, doc_id, n_chars,
             |    sum(n_chars) OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |    sum(n_chars) OVER (PARTITION BY source) AS tot,
             |    count(*) OVER (PARTITION BY source) AS n_all
             |  FROM documents)
             |SELECT source, count(*) AS n_kept, max(n_all) AS n_total,
             |  CAST(sum(n_chars) AS BIGINT) AS kept_chars,
             |  CAST(max(tot) AS BIGINT) AS total_chars
             |FROM w WHERE (cum - n_chars) * 10 < tot * 8
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Out-of-fold target encoding (✚, the leakage-free categorical
    // feature: replace category c for a row in fold f by the target
    // mean over c's rows in the OTHER folds — encoding a row with a
    // statistic that saw its own target is the classic train-time
    // leak). The whole computation is two map-side-combined groupBys
    // over (cat) and (cat, fold) — sums in exact DECIMAL, the corpus
    // itself is scanned once and never reshuffled — and the emitted
    // artifact is the |cat|·k-row encoding table a 100 TB apply joins
    // BROADCAST (each row looks up (its cat, its fold); the target
    // column never travels). Sparse-category fallback: when a category
    // lives entirely inside one fold the OOF denominator is 0 — the
    // encoder backs off to the global OOF mean (same exclusion, all
    // categories), never null, and the oracle applies the identical
    // COALESCE so the backoff is gated, not decorative.
    QueryDef("q232_target_encoding",
      (s, d) => {
        val enc = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"),
            pmod(col("o_orderkey"), lit(5)).cast("int").as("fold"),
            QueryDef.dec(col("o_totalprice")).as("t"))
        val byCat = enc.groupBy("segment")
          .agg(sum(col("t")).as("cs"), count(lit(1)).as("cn"))
        val byCatFold = enc.groupBy("segment", "fold")
          .agg(sum(col("t")).as("fs"), count(lit(1)).as("fn"))
        val glob = enc.groupBy("fold")
          .agg(sum(col("t")).as("gfs"), count(lit(1)).as("gfn"))
          .crossJoin(enc.agg(sum(col("t")).as("gs"), count(lit(1)).as("gn")))
        byCatFold.join(byCat, "segment").join(glob, "fold")
          .select(col("segment"), col("fold"),
            (col("cn") - col("fn")).as("n_oof"),
            // numerator exact in DECIMAL, THEN one cast-to-double and one
            // IEEE division — identical bit pattern on both engines
            // (decimal division result scales are engine-specific; this
            // shape isn't)
            round(coalesce(
              when(col("cn") =!= col("fn"),
                (col("cs") - col("fs")).cast("double") /
                  (col("cn") - col("fn")).cast("double")),
              (col("gs") - col("gfs")).cast("double") /
                (col("gn") - col("gfn")).cast("double")),
              6).as("enc"))
          .orderBy("segment", "fold")
      },
      Some("""WITH e AS (
             |  SELECT c_mktsegment AS segment, o_orderkey % 5 AS fold,
             |    CAST(o_totalprice AS DECIMAL(12,2)) AS t
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |bycat AS (SELECT segment, SUM(t) AS cs, COUNT(*) AS cn
             |          FROM e GROUP BY segment),
             |byfold AS (SELECT segment, fold, SUM(t) AS fs, COUNT(*) AS fn
             |           FROM e GROUP BY segment, fold),
             |gfold AS (SELECT fold, SUM(t) AS gfs, COUNT(*) AS gfn
             |          FROM e GROUP BY fold),
             |gall AS (SELECT SUM(t) AS gs, COUNT(*) AS gn FROM e)
             |SELECT f.segment, CAST(f.fold AS INT) AS fold,
             |  c.cn - f.fn AS n_oof,
             |  round(COALESCE(
             |    CASE WHEN c.cn <> f.fn THEN
             |      CAST(c.cs - f.fs AS DOUBLE) / CAST(c.cn - f.fn AS DOUBLE)
             |    END,
             |    CAST(gall.gs - g.gfs AS DOUBLE) / CAST(gall.gn - g.gfn AS DOUBLE)
             |    ), 6) AS enc
             |FROM byfold f JOIN bycat c ON f.segment = c.segment
             |JOIN gfold g ON f.fold = g.fold CROSS JOIN gall
             |ORDER BY f.segment, f.fold""".stripMargin)),

    // Weighted sample without replacement — the exponential-race /
    // A-ES construction (✚, the curation sampler q78's uniform draw
    // can't give: pick 100 documents with inclusion odds ∝ length, in
    // ONE distributed pass). Each doc gets priority −ln(u)/w with u a
    // deterministic md5-derived uniform (the q56/q79 hash idiom, so
    // both engines derive the identical u); the sample is the 100
    // SMALLEST priorities — a TakeOrderedAndProject (per-partition
    // bounded heaps, no sort, no shuffle of the corpus; the classic
    // distributed weighted-reservoir equivalence). Determinism across
    // engines: u is exact integer arithmetic, the priority is
    // scaled ×10⁶ and rounded@9 BEFORE ranking (absorbing libm ulp
    // drift in ln — a flip would need two priorities within 1e-9 of
    // the same boundary AND the doc_id tiebreak to disagree, which the
    // tiebreak makes impossible), and the (key, doc_id) order is
    // total.
    QueryDef("q243_weighted_sample",
      (s, d) => {
        val u = (conv(substring(md5(concat(lit("ws-"),
            col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
          .cast("double") + 0.5) / 4294967296.0
        Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").as("w"),
            round(-log(u) / col("n_chars") * 1e6, 9).as("k"))
          .orderBy(col("k"), col("doc_id"))
          .limit(100)
      },
      Some("""SELECT doc_id, n_chars AS w,
             |  round(-ln((CAST(('0x' || substr(md5('ws-' || CAST(doc_id AS VARCHAR)),
             |      1, 8))::BIGINT AS DOUBLE) + 0.5) / 4294967296.0)
             |    / n_chars * 1e6, 9) AS k
             |FROM documents
             |ORDER BY k, doc_id LIMIT 100""".stripMargin)),

    // Raking / iterative proportional fitting (✚, the survey-
    // calibration step a mixture pipeline runs when the corpus's
    // (source × lang) composition must match target marginals without
    // per-cell targets: weights start at 1 and alternately scale to
    // hit each margin — 3 double-rounds here, the standard fast-
    // converging schedule). The decisive scale fact: IPF weights are
    // CELL-CONSTANT, so the whole iteration runs on the |S|×|L|
    // contingency table — the corpus collapses in one aggregation and
    // never re-enters (kmeansCentroids-class bounded driver state).
    // Each scaled weight rounds@9 BEFORE the next round on both
    // engines, so the iterations compound zero cross-engine drift;
    // targets are uniform margins (1/|S|, 1/|L|) — the "balance the
    // mixture" default.
    QueryDef("q280_raking",
      (s, d) => {
        val cells0 = Tables.documents(s, d)
          .groupBy("source", "lang").agg(count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        val nTot = cells0.map(_._3).sum
        val srcs = cells0.map(_._1).distinct.sorted
        val langs = cells0.map(_._2).distinct.sorted
        def r9(x: Double) = BigDecimal.valueOf(x)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
        var w = cells0.map { case (src, lg, _) => (src, lg) -> 1.0 }.toMap
        for (_ <- 1 to 3) {
          // margin sums as exact scale-9 decimals — a raw double fold
          // would be iteration-order-dependent
          val bySrc = cells0.groupBy(_._1).map { case (src, cs) =>
            src -> cs.map(c => BigDecimal.valueOf(w((c._1, c._2)) * c._3)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          }
          w = cells0.map { case (src, lg, _) =>
            (src, lg) -> r9(w((src, lg)) *
              (nTot.toDouble / srcs.length / bySrc(src)))
          }.toMap
          val byLang = cells0.groupBy(_._2).map { case (lg, cs) =>
            lg -> cs.map(c => BigDecimal.valueOf(w((c._1, c._2)) * c._3)
              .setScale(9, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
          }
          w = cells0.map { case (src, lg, _) =>
            (src, lg) -> r9(w((src, lg)) *
              (nTot.toDouble / langs.length / byLang(lg)))
          }.toMap
        }
        import s.implicits._
        cells0.map { case (src, lg, n) => (src, lg, n, w((src, lg)))
        }.toSeq.toDF("source", "lang", "n", "weight")
          .select(col("source"), col("lang"), col("n"),
            round(col("weight"), 6).as("weight"))
          .orderBy("source", "lang")
      },
      Some {
        // one unrolled (source-scale, lang-scale) pair per round;
        // round@9 after each scale mirrors the Spark driver loop
        val rounds = (1 to 3).map { k =>
          s"""s$k AS (
             |  SELECT source, CAST(SUM(CAST(round(w * n, 9)
             |    AS DECIMAL(38,9))) AS DOUBLE) AS m
             |  FROM c${2 * k - 2} GROUP BY source),
             |c${2 * k - 1} AS (
             |  SELECT c.source, c.lang, c.n,
             |    round(c.w * (nt.t / ns.s / s$k.m), 9) AS w
             |  FROM c${2 * k - 2} c JOIN s$k ON c.source = s$k.source
             |  CROSS JOIN nt CROSS JOIN ns),
             |l$k AS (
             |  SELECT lang, CAST(SUM(CAST(round(w * n, 9)
             |    AS DECIMAL(38,9))) AS DOUBLE) AS m
             |  FROM c${2 * k - 1} GROUP BY lang),
             |c${2 * k} AS (
             |  SELECT c.source, c.lang, c.n,
             |    round(c.w * (nt.t / nl.l / l$k.m), 9) AS w
             |  FROM c${2 * k - 1} c JOIN l$k ON c.lang = l$k.lang
             |  CROSS JOIN nt CROSS JOIN nl)""".stripMargin
        }.mkString(",\n")
        s"""WITH c0 AS (
           |  SELECT source, lang, COUNT(*) AS n, 1.0::DOUBLE AS w
           |  FROM documents GROUP BY 1, 2),
           |nt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM documents),
           |ns AS (SELECT CAST(COUNT(DISTINCT source) AS DOUBLE) AS s
           |       FROM documents),
           |nl AS (SELECT CAST(COUNT(DISTINCT lang) AS DOUBLE) AS l
           |       FROM documents),
           |$rounds
           |SELECT source, lang, n, round(w, 6) AS weight
           |FROM c6 ORDER BY source, lang""".stripMargin
      })
  )

  /** Longest repeated substring per document (q367's engine) — the
    * classic suffix-array theorem (the LRS is the maximum LCP of two
    * SA-ADJACENT suffixes) over the corpus-global order `sa` of
    * [[globalSaLadder]]: a per-doc `lead` over the global rank gives
    * each document's adjacent pairs, and [[ladderJumpLcp]] measures
    * them on the global rungs. Same-doc suffixes differ in length, so
    * no pair shares a final rank and every rung hit is a true w-token
    * match. No suffix text is ever materialized pairwise — the
    * O(Σ L²) blowup a direct adjacent-suffix comparison would cost is
    * the reason the ladder exists.
    *
    * Output: one row per document — (`lrs_len`, `off_a` < `off_b` the
    * lexicographically smallest offset pair achieving it; single-token
    * docs have no pair: lrs_len 0, NULL offsets). */
  private[ops] def perDocRepeats(docs: DataFrame, sa: DataFrame,
      tables: Seq[(Long, DataFrame)]): DataFrame = {
    val pairs = sa.select(col("doc_id").as("da"), col("off").as("oa"),
        lead("off", 1).over(Window.partitionBy("doc_id").orderBy("r")).as("ob"))
      .where(col("ob").isNotNull)
      .withColumn("db", col("da"))
    val scored = ladderJumpLcp(pairs, tables).select(col("da").as("doc_id"),
      col("lcp"), least(col("oa"), col("ob")).as("o1"),
      greatest(col("oa"), col("ob")).as("o2"))
    val mx = scored.groupBy("doc_id").agg(max(col("lcp")).as("lrs_len"))
    val wmin = Window.partitionBy("doc_id").orderBy("o1", "o2")
    val arg = scored.join(mx, Seq("doc_id"))
      .where(col("lcp") === col("lrs_len"))
      .withColumn("rn", row_number().over(wmin))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lrs_len"),
        col("o1").as("off_a"), col("o2").as("off_b"))
    docs.select("doc_id").join(arg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lrs_len"), lit(0L)).as("lrs_len"),
        col("off_a"), col("off_b"))
  }

  /** The GLOBAL suffix-order ladder behind the whole suffix family
    * (q366/q367 per document, q374/q375/q377 across documents): returns
    * the final rank frame (doc_id, off, r, slen) — r the corpus-wide
    * suffix rank (ties ⟺ identical suffixes), slen the suffix length —
    * plus every genuine capped-width rank table for the LCP jump.
    *
    * Prefix doubling (Manber/Myers 1990 in shuffle form): round k
    * ranks every suffix by the pair (rank of its first 2^k tokens,
    * rank of the next 2^k) with one position-keyed self-join and one
    * [[Scale.globalDenseRank]]; a missing right half ranks −1 (a proper
    * prefix sorts before every extension, the list-lexicographic rule
    * the oracles apply directly). Rung w ranks suffixes by their
    * length-capped w-token prefix, so two suffixes share a width-w rank
    * iff those prefixes are equal. Specs call it on hand-built frames
    * that exist in no corpus dir, so the [[GlobalSa]] cache does not
    * apply there. */
  private[ops] def globalSaLadder(docs: DataFrame)
      : (DataFrame, Seq[(Long, DataFrame)]) = {
    val toks = pin(docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), col("pos").cast("long").as("off"),
        col("col").as("tok")))
    val lens = pin(toks.groupBy("doc_id")
      .agg(count(lit(1)).as("dlen")))
    // every rung is a LAZY one-hop projection of its round's PINNED
    // per-partition rank frame (the scan materializes it) — the former
    // per-round materialize re-wrote the whole n-row frame a second
    // time for nothing (r19, VERDICT r18 #5)
    val (r0, g0) = Scale.globalDenseRank(toks, Seq(col("tok")))
    var r = r0.select(col("doc_id"), col("off"), col("dr").as("r"))
    val tables = scala.collection.mutable.ListBuffer[(Long, DataFrame)](1L -> r)
    val mlRow = lens.agg(max(col("dlen"))).collect()(0)
    val maxLen = if (mlRow.isNullAt(0)) 1L else mlRow.getLong(0)
    Materialize.release(toks)
    // GROUP-CONVERGENCE early exit (r16): a round that splits NO group
    // never splits one again (same-group at 2S ⟹ same-group shifted ⟹
    // same-group at 4S, inductively), so the partition already equals
    // full-suffix equivalence. The no-split round's table is DISCARDED
    // and its pinned frame released: its partition duplicates the
    // previous rung's (adding it would let the jump claim a 2S-token
    // match on what is only a certified S-token match). Every kept rung
    // is genuine capped-w equality, and non-identical pairs (the only
    // ones the jump sees) have LCP < S, decomposable by rungs ≤ S/2.
    // The group count rides the dense rank's driver prefix sum — no
    // extra probe per round.
    var groups = g0
    var shift = 1L
    var converged = false
    while (shift < maxLen && !converged) {
      val right = r.select(col("doc_id"), (col("off") - shift).as("off"),
        col("r").as("rr"))
      val joined = r.join(right, Seq("doc_id", "off"), "left")
        .select(col("doc_id"), col("off"), col("r").as("r1"),
          coalesce(col("rr"), lit(-1L)).as("r2"))
      val (rNext, g2) = Scale.globalDenseRank(joined, Seq(col("r1"), col("r2")))
      if (g2 == groups) { converged = true; Materialize.release(rNext) }
      else {
        r = rNext.select(col("doc_id"), col("off"), col("dr").as("r"))
        groups = g2; shift *= 2
        tables += (shift -> r)
      }
    }
    // lazy over the last pinned rung; the caller's parquet write (or
    // the spec's collect) is the one action that evaluates it
    val sa = r.join(lens, "doc_id")
      .select(col("doc_id"), col("off"), col("r"),
        (col("dlen") - col("off")).as("slen"))
    (sa, tables.toList)
  }

  /** The KMR rank-ladder LCP jump over a pair frame (`da`, `oa`, `db`,
    * `ob`, any other columns pass through): walk the width ladder
    * 2^K..1 once, descending; at width w advance both cursors by w iff
    * their width-w ranks coincide (⟺ the next w tokens match); the
    * accumulated advance is the exact `lcp` (its binary decomposition),
    * one (doc, cursor)-keyed join per rung. Callers must route
    * IDENTICAL-rank pairs around this (their LCP is the full common
    * length; inside the jump a same-rank hit on the top rung would
    * overshoot), which also guarantees every hit here is a true
    * w-token match. */
  private def ladderJumpLcp(pairs: DataFrame,
      tables: Seq[(Long, DataFrame)]): DataFrame = {
    val keep = pairs.columns.toSeq.map(col)
    var st = pin(pairs.select(keep ++ Seq(lit(0L).as("lcp"),
      col("oa").as("ca"), col("ob").as("cb")): _*))
    tables.sortBy(-_._1).foreach { case (w, t) =>
      val ta = t.select(col("doc_id").as("da"), col("off").as("ca"),
        col("r").as("ra"))
      val tb = t.select(col("doc_id").as("db"), col("off").as("cb"),
        col("r").as("rb"))
      val hit = col("ra").isNotNull && col("rb").isNotNull &&
        col("ra") === col("rb")
      st = pin(st.join(ta, Seq("da", "ca"), "left")
        .join(tb, Seq("db", "cb"), "left")
        .select(keep ++ Seq(
          when(hit, col("lcp") + w).otherwise(col("lcp")).as("lcp"),
          when(hit, col("ca") + w).otherwise(col("ca")).as("ca"),
          when(hit, col("cb") + w).otherwise(col("cb")).as("cb")): _*))
    }
    st.drop("ca", "cb")
  }

  /** The corpus-global suffix order that the suffix family reads: the
    * rank frame `sa` and every jump rung `tab_<w>` (q366/q367), plus the
    * indexed order `idx` and adjacent-LCP walk `adj` derived from the
    * PERSISTED ladder (read-back, not lineage: all artifacts are views
    * of one build; q374/q375/q377). Deterministic: ranks are a pure
    * function of the corpus (the distributed dense rank is
    * boundary-placement-independent). */
  lazy val GlobalSa: Substrate = Substrate("global_sa") { (s, dir, out) =>
    val (sa, tables) = globalSaLadder(Tables.documents(s, dir))
    sa.write.mode("overwrite").parquet(out + "/sa.parquet")
    tables.foreach { case (w, t) =>
      t.write.mode("overwrite").parquet(out + s"/tab_$w.parquet") }
    val persisted = s.read.parquet(out + "/sa.parquet")
    val pTables = tables.map { case (w, _) =>
      w -> s.read.parquet(out + s"/tab_$w.parquet") }
    val (idx, adj) = indexedAdjacentLcps(persisted, pTables)
    idx.write.mode("overwrite").parquet(out + "/idx.parquet")
    adj.write.mode("overwrite").parquet(out + "/adj.parquet")
  }

  /** The cached [[GlobalSa]] rungs by width, for the LCP jump. */
  private def globalSaRungs(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, DataFrame)] =
    Substrate.artifacts(GlobalSa.root(s, dir))
      .collect { case a if a.startsWith("tab_") => a.stripPrefix("tab_").toLong }
      .sorted.map(w => w -> GlobalSa.read(s, dir, s"tab_$w"))

  /** The longest token span repeated ACROSS documents, exact at any
    * length (✚ — the corpus-level statistic of Lee et al.'s exact
    * substring dedup: q361 finds ≥L-token cross-doc spans at a fixed
    * depth, q367 is per-document; this is the global "how long is the
    * worst cross-doc repeat" number, q374's engine).
    *
    * Construction: the [[globalSaLadder]] ranks all corpus suffixes
    * together, so suffixes of different documents are directly
    * comparable at every width. By the classic distinct-docs argument,
    * the maximum cross-doc LCP is achieved by some CONSECUTIVE pair of
    * the global suffix order whose documents differ (any farther pair
    * with LCP m forces every adjacent LCP between them ≥ m, and the
    * document identity must change somewhere inside the interval), so
    * the candidates are exactly:
    *
    *  - consecutive rows WITHIN a final-rank group in (doc, off) order
    *    (identical suffixes — LCP = the full common length; the group
    *    window's skew is bounded by the worst duplication multiplicity,
    *    and it computes one `lead`, no per-group state), and
    *  - each group's last row paired with the next group's first row
    *    (distinct suffixes — LCP by the q367 KMR rank-ladder jump,
    *    cursors keyed (doc, off) against the GLOBAL width tables; a
    *    width-w hit between non-identical suffixes is always a true
    *    w-token match, because both-capped-equal would make the
    *    suffixes identical and identical suffixes share a final rank).
    *
    * Output: ONE row — (repeat_len, doc_a, off_a, doc_b, off_b), the
    * lexicographically-first consecutive pair achieving the maximum,
    * pair roles in suffix order. Scale: per round one (doc, off)-keyed
    * self-join + one distributed dense rank (n-row shuffles,
    * ⌈log₂ maxDocLen⌉ rounds); the jump is ladder-width joins of the
    * boundary-pair frame (≤ one pair per rank group); nothing ever
    * materializes suffix text pairwise. */
  def crossDocRepeat(docs: DataFrame): DataFrame = {
    val (sa, tables) = globalSaLadder(docs)
    maxCrossDocPair(indexedAdjacentLcps(sa, tables)._2)
  }

  /** q374's readout over the adjacent-LCP frame (r17): the max
    * cross-doc LCP is realized by a DOC-CHANGING consecutive pair of
    * the global order — for any cross-doc pair (x, y), LCP(x, y) is
    * the min of the adjacent LCPs between them, and [x, y] must
    * contain a doc change whose adjacent LCP is therefore ≥ LCP(x, y).
    * One filter + argmax over the substrate's `adj` artifact; the full
    * walk runs once, in the build, and q375/q377 read the same frame. */
  private[ops] def maxCrossDocPair(adj: DataFrame): DataFrame =
    adj.where(col("da") =!= col("db"))
      .orderBy(col("lcp").desc, col("da"), col("oa"), col("db"), col("ob"))
      .limit(1)
      .select(col("lcp").as("repeat_len"), col("da").as("doc_a"),
        col("oa").as("off_a"), col("db").as("doc_b"), col("ob").as("off_b"))

  /** Per-document CROSS-DOCUMENT match statistics, exact at any length
    * (✚ — matching statistics over the global suffix order; the
    * quantified form of [[crossDocRepeat]]'s single maximum, and the
    * per-document decision input of the Lee et al. dedup family:
    * "how MUCH of this document recurs elsewhere, and how long is its
    * worst shared span").
    *
    * For every corpus position x, cd(x) = the longest token span
    * starting at x that also occurs in ANOTHER document. By the
    * min-interval property of suffix orders, the best cross-doc
    * partner of x is its NEAREST different-doc neighbor above or below
    * in the global order, and LCP(x, that neighbor) is the running MIN
    * of adjacent-pair LCPs back to the doc-change boundary — so the
    * whole statistic needs exactly: adjacent-pair LCPs (identical-rank
    * pairs read their common length; the rest take one
    * [[ladderJumpLcp]] walk), doc-change RUN ids (one global running
    * sum), and one running-min window per run from each end. Runs in
    * the first (last) run have no above (below) partner — NULL side,
    * encoded as −1 so both engines aggregate identically.
    *
    * Scale: everything is n-row frames keyed by (doc, off) or the
    * order index; the two-phase primitives never sort the corpus in
    * one task; the per-run windows are bounded by the longest
    * same-doc run of consecutive suffixes (ties to duplication
    * structure, not corpus size). Output per document: position count,
    * the maximum cross-doc span length, and how many positions start a
    * span of ≥ `minLen` tokens shared with another document. */
  def crossDocCoverage(docs: DataFrame, minLen: Int = 50): DataFrame = {
    val (sa, tables) = globalSaLadder(docs)
    crossDocCoverageFrom(sa, tables, minLen)
  }

  /** The indexed global order + ALL adjacent-pair LCPs — the ONE walk
    * the whole q374/q375/q377 family needs (r17: it used to run once
    * per gate; it is now the substrate's second artifact): returns
    * (idx: i/doc_id/off/r/slen, adj: i/da/oa/db/ob/lcp for the
    * consecutive pair (row i, row i+1) of the (r, doc_id, off) order).
    * Identical-rank pairs are identical suffixes (LCP = common
    * length); distinct ranks walk the ladder. */
  private def indexedAdjacentLcps(sa: DataFrame,
      tables: Seq[(Long, DataFrame)]): (DataFrame, DataFrame) = {
    val idx = pin(Scale.globalRowNumber(sa,
        Seq(col("r"), col("doc_id"), col("off")))
      .withColumn("i", col("rn") - 1L).drop("rn"))
    val aSide = idx.select(col("i"), col("doc_id").as("da"),
      col("off").as("oa"), col("r").as("ra"), col("slen").as("sla"))
    val bSide = idx.select((col("i") - 1L).as("i"),
      col("doc_id").as("db"), col("off").as("ob"), col("r").as("rb"))
    val adj0 = aSide.join(bSide, "i")
    val sameR = adj0.where(col("ra") === col("rb"))
      .select(col("i"), col("da"), col("oa"), col("db"), col("ob"),
        col("sla").as("lcp"))
    val diffR = ladderJumpLcp(
      adj0.where(col("ra") =!= col("rb"))
        .select(col("i"), col("da"), col("oa"), col("db"), col("ob")),
      tables)
      .select(col("i"), col("da"), col("oa"), col("db"), col("ob"),
        col("lcp"))
    (idx, pin(sameR.unionByName(diffR)))
  }

  private[ops] def crossDocCoverageFrom(sa: DataFrame,
      tables: Seq[(Long, DataFrame)], minLen: Int): DataFrame = {
    val (idx, adj) = indexedAdjacentLcps(sa, tables)
    crossDocCoverageFromAdj(idx, adj, minLen)
  }

  private[ops] def crossDocCoverageFromAdj(idx: DataFrame, adj: DataFrame,
      minLen: Int): DataFrame = {
    // row i's entering pair is adj(i−1); its leaving pair is adj(i)
    val marked = idx
      .join(adj.select((col("i") + 1L).as("i"),
        (col("da") =!= col("db")).cast("long").as("chg"),
        col("lcp").as("lcp_in")), Seq("i"), "left")
      .join(adj.select(col("i"), col("lcp").as("lcp_out")), Seq("i"), "left")
      .select(col("i"), col("doc_id"),
        coalesce(col("chg"), lit(0L)).as("chg"),
        col("lcp_in"), col("lcp_out"))
    val withRun = pin(Scale.globalRunningSum(marked, Seq(col("i")), col("chg"))
      .withColumnRenamed("cum", "run"))
    val maxRunRow = withRun.agg(max(col("run"))).collect()(0)
    val maxRun = if (maxRunRow.isNullAt(0)) 0L else maxRunRow.getLong(0)
    val wUp = Window.partitionBy("run").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = Window.partitionBy("run").orderBy(col("i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cd = withRun
      .withColumn("cd_above",
        when(col("run") > 0, min(col("lcp_in")).over(wUp)))
      .withColumn("cd_below",
        when(col("run") < maxRun, min(col("lcp_out")).over(wDn)))
      .select(col("doc_id"),
        greatest(coalesce(col("cd_above"), lit(-1L)),
          coalesce(col("cd_below"), lit(-1L))).as("cdv"))
    cd.groupBy("doc_id").agg(
        count(lit(1)).as("n_positions"),
        when(max(col("cdv")) < 0, lit(0L)).otherwise(max(col("cdv")))
          .as("max_cross_lcp"),
        sum(when(col("cdv") >= minLen, 1L).otherwise(0L))
          .as("n_starts_ge_min"))
      .orderBy("doc_id")
  }

  /** Eval-set CONTAMINATION spans, exact at any length (✚ — the
    * decontamination form of [[crossDocCoverage]]'s matching
    * statistics, the check Lee et al. run before trusting benchmark
    * numbers: for every TRAINING position, the longest token span also
    * present in ANY document of a designated eval subset; q75's
    * exact-gram decontamination catches fixed-width hits, THIS is
    * exact at every length).
    *
    * Same machinery, different boundary: the nearest EVAL row in the
    * global suffix order (not the nearest different-doc row) bounds
    * the chain — for any eval suffix y above x, the interval [y..x]
    * contains the nearest eval p, so LCP(x, y) ≤ LCP(x, p): the
    * nearest eval realizes the maximum. Segments are delimited by the
    * forward running count of eval rows — a segment's first row IS its
    * eval row; the above-chain is the running min of entering LCPs
    * with the eval row's own entering LCP nulled (it points outside
    * the chain), the below-chain the reverse running min of leaving
    * LCPs within the same segment (the eval row enters no other row's
    * frame: it is the segment's minimum index). Positions before the
    * first (after the last) eval row have no above (below) partner —
    * NULL side, −1 sentinel, the q375 convention. Output: per TRAINING
    * doc, position count, max shared-with-eval span, ≥ `minLen` span
    * starts. */
  private[ops] def contaminationFrom(sa: DataFrame,
      tables: Seq[(Long, DataFrame)], evalMod: Long, minLen: Int): DataFrame = {
    val (idx, adj) = indexedAdjacentLcps(sa, tables)
    contaminationFromAdj(idx, adj, evalMod, minLen)
  }

  private[ops] def contaminationFromAdj(idx: DataFrame, adj: DataFrame,
      evalMod: Long, minLen: Int): DataFrame = {
    val isEval = (col("doc_id") % evalMod) === 0
    val marked = idx
      .join(adj.select((col("i") + 1L).as("i"), col("lcp").as("lcp_in")),
        Seq("i"), "left")
      .join(adj.select(col("i"), col("lcp").as("lcp_out")), Seq("i"), "left")
      .select(col("i"), col("doc_id"), isEval.as("is_eval"),
        isEval.cast("long").as("ev"),
        when(isEval, lit(null)).otherwise(col("lcp_in")).as("lcp_in"),
        col("lcp_out"))
    val withSeg = pin(Scale.globalRunningSum(marked, Seq(col("i")), col("ev"))
      .withColumnRenamed("cum", "seg"))
    val totalEvalRow = withSeg.agg(max(col("seg"))).collect()(0)
    val totalEval = if (totalEvalRow.isNullAt(0)) 0L else totalEvalRow.getLong(0)
    val wUp = Window.partitionBy("seg").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = Window.partitionBy("seg").orderBy(col("i").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cd = withSeg
      .withColumn("cd_above",
        when(col("seg") > 0, min(col("lcp_in")).over(wUp)))
      .withColumn("cd_below",
        when(col("seg") < totalEval, min(col("lcp_out")).over(wDn)))
      .where(!col("is_eval"))
      .select(col("doc_id"),
        greatest(coalesce(col("cd_above"), lit(-1L)),
          coalesce(col("cd_below"), lit(-1L))).as("cdv"))
    cd.groupBy("doc_id").agg(
        count(lit(1)).as("n_positions"),
        when(max(col("cdv")) < 0, lit(0L)).otherwise(max(col("cdv")))
          .as("max_eval_lcp"),
        sum(when(col("cdv") >= minLen, 1L).otherwise(0L))
          .as("n_starts_ge_min"))
      .orderBy("doc_id")
  }
}
