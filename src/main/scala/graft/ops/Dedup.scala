package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents`: exact (hash-groupBy), MinHash
  * signatures + LSH banding over 3-word shingles, SimHash, and shingle
  * Jaccard verification.
  *
  * Scale design:
  *  - exact dedup groups on md5(text): the shuffle key is a fixed 32-byte
  *    hash, never the raw document — shuffle volume O(rows·32B).
  *  - near-dup uses 3-word shingles (not unigrams): shingle frequency is
  *    ~uniform-sparse, so the inverted-index join and the LSH band join
  *    stay near-linear; unigram keys over a small vocabulary would make
  *    every pair collide (measured: 3M pairs at sf0.1 vs 1k truthy ones).
  *  - the LSH band join (q26) is the scalable candidate generator; the
  *    Jaccard verifier (q27) joins on individual shingles and filters at
  *    θ=0.5 — at 100 TB you run q27's check only on q26's candidates
  *    (that composition is q51).
  *  - EVERY unbounded hot-key path has a cap with an explicit fallback:
  *    shingles above `dfCap` document frequency are excluded from the
  *    inverted-index join, and docs whose shingle sets are thereby fully
  *    capped (mass-duplicate clusters — exactly the case dedup exists
  *    for) are NOT silently dropped: they route to an exact-content-hash
  *    star clustering (linear in cluster size, representative → member
  *    pairs). Near-exact capped variants that differ byte-wise are
  *    covered by the SimHash retrieval path (q49), whose band buckets
  *    carry the same cap+star contract. Caps exceed the max frequency in
  *    the test corpora, so values here are byte-identical to the
  *    uncapped plan while the 100 TB plan is skew-bounded by
  *    construction (DedupSpec exercises the capped paths with a
  *    synthetic mass-dup cluster and a lowered cap).
  */
object Dedup {

  /** 3-word shingle set, one row per (doc_id, shingle). Documents shorter
    * than 3 tokens contribute their whole text as a single shingle. */
  def shinglesOf(docs: DataFrame): DataFrame =
    // one definition of word-gram extraction for the whole library:
    // the near-dup pipelines and decontamination (TrainPrep) must never
    // drift on tokenization or the short-document fallback
    TrainPrep.ngramsOf(docs, 3).withColumnRenamed("g", "sh")

  /** SQL twin of [[shinglesOf]] (DuckDB list indexing is 1-based like
    * element_at; range(n) is [0, n)); parameterized over the source
    * relation so composed pipelines (q56) can shingle a CTE. */
  private[ops] def shinglesSqlFrom(src: String): String =
    s"""SELECT doc_id, unnest(
       |    CASE WHEN len(w) >= 3
       |         THEN list_transform(range(len(w) - 2), i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
       |         ELSE [text] END) AS sh
       |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM $src)""".stripMargin
  private val shinglesSql = shinglesSqlFrom("documents")

  // One md5 per shingle, sliced into 4 independent 32-bit (8-hex-char)
  // words — 4 minhash components for the price of one hash evaluation.
  private val nHashes = 4
  private def minhashAgg(i: Int): Column =
    min(substring(col("h"), 8 * i + 1, 8)).as(s"m$i")

  def signaturesOf(docs: DataFrame): DataFrame =
    shinglesOf(docs).withColumn("h", md5(col("sh"))).groupBy("doc_id")
      .agg(minhashAgg(0), (1 until nHashes).map(minhashAgg): _*)

  private val minhashSqlCols = (0 until nHashes)
    .map(i => s"min(substr(md5(sh), ${8 * i + 1}, 8)) AS m$i").mkString(",\n  ")
  private val sigSql =
    s"""SELECT doc_id, $minhashSqlCols
       |FROM ($shinglesSql) shx
       |GROUP BY doc_id""".stripMargin

  // SimHash: 32-bit, h(sh) = first 8 hex chars of md5 parsed as int;
  // bit b of the sketch = majority vote of bit b over the doc's shingles.
  private val simBits = 32
  def simhashOf(docs: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("sh")), 1, 8), 16, 10).cast("long")
    val votes = Seq.tabulate(simBits) { b =>
      sum(when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
        .as(s"w$b")
    }
    val sketch = Seq.tabulate(simBits) { b =>
      when(col(s"w$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    shinglesOf(docs).distinct()
      .groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sketch.as("simhash"))
  }
  private def simhashSpark(s: SparkSession, d: String): DataFrame =
    simhashOf(Tables.documents(s, d))

  /** SimHash near-dup retrieval as a skew-safe self-join: block on the
    * sketch's high 16 bits, equality-join the sketch table with itself on
    * the block key, then the exact Hamming check per candidate pair.
    *
    * Scale: the sketch is computed ONCE (one lineage; the self-join's two
    * identical aggregation subtrees collapse under ReuseExchange), and a
    * skewed block — e.g. millions of mass-duplicated docs sharing one
    * sketch — is a hot *join partition*, which AQE's skew-join splits
    * across tasks. The previous collect_list-per-block formulation put a
    * whole block into ONE row (unbounded single-task array at 100 TB);
    * a join never materializes a block in memory. */
  def simhashNearDup(docs: DataFrame, radius: Int = 8): DataFrame = {
    // both self-join sides would re-run the whole sketch aggregation
    // (ReuseExchange measured not to fire across AQE broadcast
    // conversion); one sketch row per doc — materialize once
    val sk = pin(
      simhashOf(docs).withColumn("blk", shiftright(col("simhash"), 16)))
    val a = sk.select(col("blk"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sk.select(col("blk"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, "blk").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .where(col("hamming") <= radius)
  }
  /** Multi-block SimHash retrieval: candidates must share ANY of
    * `nBlocks` rotated 16-bit windows of the sketch (rotations by 8
    * bits), not just the top-16 prefix — each sketch bit is covered by
    * two windows, so radius-8 pairs whose differing bits cluster in one
    * half are still retrieved (q49's single block misses them). Cost:
    * nBlocks rows per doc into the same equality self-join — the
    * standard recall/cost dial, same skew story as q49 (a hot block is
    * a hot JOIN partition, AQE-splittable). */
  def simhashNearDupMulti(docs: DataFrame, radius: Int = 8,
                          nBlocks: Int = 4): DataFrame = {
    val sk = pin(simhashOf(docs))
    val mask = (1L << simBits) - 1
    val blocks = (0 until nBlocks).map { i =>
      val r = 8 * i
      val rot =
        if (r == 0) col("simhash")
        else shiftleft(col("simhash"), r).bitwiseAND(lit(mask))
          .bitwiseOR(shiftright(col("simhash"), simBits - r))
      // block id namespaced by the rotation index so different windows
      // never collide with each other
      (lit(i.toLong * 65536L) + shiftright(rot, 16)).as(s"b$i")
    }
    val withBlocks = sk.select(col("doc_id") +: col("simhash") +: blocks: _*)
      .select(col("doc_id"), col("simhash"),
        explode(array((0 until nBlocks).map(i => col(s"b$i")): _*)).as("blk"))
    val a = withBlocks.select(col("blk"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = withBlocks.select(col("blk"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, "blk").where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .where(col("hamming") <= radius)
      .distinct()
  }
  private def multiBlockSql(nBlocks: Int): String = {
    val mask = (1L << simBits) - 1
    val rots = (0 until nBlocks).map { i =>
      val r = 8 * i
      val rot = if (r == 0) "simhash"
                else s"(((simhash << $r) & $mask) | (simhash >> ${simBits - r}))"
      s"SELECT doc_id, simhash, ${i.toLong * 65536L} + ($rot >> 16) AS blk FROM sk"
    }.mkString("\nUNION ALL\n")
    s"""wb AS ($rots)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM wb a JOIN wb b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin
  }

  private[ops] def simhashBodySqlFrom(src: String): String = {
    val votes = (0 until simBits).map { b =>
      s"sum(CASE WHEN ((('0x' || substr(md5(sh), 1, 8))::BIGINT >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS w$b"
    }.mkString(",\n    ")
    val sketch = (0 until simBits)
      .map(b => s"(CASE WHEN w$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""SELECT doc_id, CAST($sketch AS BIGINT) AS simhash FROM (
       |  SELECT doc_id, $votes
       |  FROM (SELECT DISTINCT doc_id, sh FROM (${shinglesSqlFrom(src)}) shx) t
       |  GROUP BY doc_id) v""".stripMargin
  }
  private val simhashBodySql = simhashBodySqlFrom("documents")
  private val simhashSql = s"$simhashBodySql\nORDER BY doc_id"

  // Document-frequency cap for the inverted-index Jaccard join: a shingle
  // present in more than dfCap docs is boilerplate — its posting list makes
  // the self-join quadratic at 100 TB (a hot phrase ⇒ |postings|² pairs in
  // one join partition). Dropping capped shingles from BOTH the shared
  // count and the set sizes keeps the Jaccard definition coherent; 1000 ≫
  // the corpus max df (7 at sf0.01, 25 at sf0.1), so values here are
  // unchanged while the plan is skew-bounded by construction. Docs whose
  // shingles are ALL capped fall back to exact-hash star clustering (see
  // [[cappedFallbackPairs]]) rather than vanishing from the result.
  private val dfCap = 1000

  /** Distinct (doc_id, shingle-key) pairs with over-cap shingles
    * removed. The set element is a 64-bit md5 prefix of the shingle, not
    * the raw string: the inverted-index join then shuffles fixed 16-char
    * keys instead of arbitrary-length text (~2× narrower here, more on
    * long-shingle corpora; ~2⁻⁶⁴ collision odds, mirrored exactly in the
    * oracle so values agree). df is computed with a partial-aggregating
    * groupBy and removed with an anti-join — NOT a
    * count().over(Window.partitionBy(sh)), which would buffer a hot
    * shingle's whole posting list in one task (the exact hotspot the cap
    * exists to eliminate). */
  def cappedShinglesOf(docs: DataFrame, cap: Int = dfCap): DataFrame = {
    // scan→explode→distinct is the expensive stage and BOTH the df
    // aggregation and the anti-join probe consume it; without
    // materialization the whole tree executes twice (ReuseExchange does
    // not collapse the two uses — measured, same diamond as shingleTable)
    val dsh = pin(shinglesOf(docs)
      .select(col("doc_id"), substring(md5(col("sh")), 1, 16).as("sh"))
      .distinct())
    val hot = dsh.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > cap).select("sh")
    // hot is tiny by Zipf (only over-cap heads); AQE picks broadcast when
    // it fits, and the anti-join never widens rows.
    dsh.join(hot, Seq("sh"), "left_anti")
  }
  private def cappedShinglesSql(cap: Int): String =
    s"""SELECT doc_id, sh
       |FROM (SELECT DISTINCT doc_id, substr(md5(sh), 1, 16) AS sh
       |      FROM ($shinglesSql) shx) dsh
       |WHERE sh NOT IN (
       |  SELECT sh FROM (SELECT DISTINCT doc_id, substr(md5(sh), 1, 16) AS sh
       |                  FROM ($shinglesSql) shx2) d2
       |  GROUP BY sh HAVING COUNT(*) > $cap)""".stripMargin

  /** Fallback for docs whose shingle sets are fully df-capped (mass-
    * duplicate clusters): cluster them by exact content hash and emit
    * representative→member pairs — LINEAR in cluster size where all-pairs
    * would be quadratic. Exact copies genuinely have Jaccard 1.0; capped
    * near-exact variants (differing bytes) are covered by q49's SimHash
    * path. `surviving` = the capped shingle set (doc_id column used). */
  private def cappedFallbackPairs(docs: DataFrame, surviving: DataFrame): DataFrame = {
    // no distinct() on the anti-join build side: left_anti is an
    // existence check, deduping first would just add an aggregation
    val capped = docs.join(surviving.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("fp"))
    // groupBy+join, not min().over(partitionBy(fp)): a mass cluster is one
    // hot fp; the rep table is one row per fingerprint (broadcastable).
    val reps = capped.groupBy("fp").agg(min(col("doc_id")).as("id_a"))
    capped.join(reps, "fp").where(col("doc_id") =!= col("id_a"))
      .select(col("id_a"), col("doc_id").as("id_b"),
        lit(1.0).cast("double").as("jaccard"))
  }
  private def cappedFallbackSql(cap: Int): String =
    s"""SELECT r.id_a, f.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
       |FROM (SELECT doc_id, md5(text) AS fp FROM documents
       |      WHERE doc_id NOT IN (SELECT doc_id FROM (${cappedShinglesSql(cap)}) sv)) f
       |JOIN (SELECT fp, MIN(doc_id) AS id_a
       |      FROM (SELECT doc_id, md5(text) AS fp FROM documents
       |            WHERE doc_id NOT IN (SELECT doc_id FROM (${cappedShinglesSql(cap)}) sv2)) g
       |      GROUP BY fp) r ON f.fp = r.fp
       |WHERE f.doc_id <> r.id_a""".stripMargin

  /** Materialized df-capped shingle table with each doc's set size
    * attached (window count on the SAME lineage instead of two extra
    * size-joins; doc_id is bounded by document length — not a hot key
    * the way shingles are). MATERIALIZED once because its consumers
    * (both self-join sides + the fallback's anti-join) would otherwise
    * each re-run the scan→explode→distinct→cap lineage — measured at
    * runtime, ReuseExchange does NOT collapse them (AQE's broadcast
    * conversion on one side breaks exchange-level reuse: 10 scans,
    * 0 reused). This is the production shape too: a 100 TB dedup run
    * writes its shingle/signature table once and reuses it (with a
    * checkpoint dir set, `pin` writes it as reliable checkpoint files). */
  private def shingleTable(docs: DataFrame, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    pin(cappedShinglesOf(docs, cap)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id"))))
  }

  /** Shared verify stage: score candidate (id_a, id_b) shingle matches
    * and keep pairs above θ=0.5 — q27 and q51 MUST agree on this. */
  private def jaccardScore(joined: DataFrame): DataFrame =
    joined.groupBy("id_a", "na", "id_b", "nb").agg(count(lit(1)).as("shared"))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .where(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")

  /** Shingle-Jaccard near-dup pairs (θ=0.5) via inverted-index self-join
    * on df-capped distinct shingles, plus the mass-dup fallback. */
  def jaccardPairs(docs: DataFrame, cap: Int = dfCap): DataFrame = {
    val tn = shingleTable(docs, cap)
    val a = tn.select(col("doc_id").as("id_a"), col("sh"), col("n").as("na"))
    val b = tn.select(col("doc_id").as("id_b"), col("sh"), col("n").as("nb"))
    jaccardScore(a.join(b, "sh").where(col("id_a") < col("id_b")))
      .unionByName(cappedFallbackPairs(docs, tn))
  }

  // Band-bucket cap for LSH candidate generation: a mass-duplicate
  // cluster shares every band hash, so the band self-join alone would
  // emit |cluster|² candidate pairs. Buckets above the cap switch to
  // representative→member star pairs — for dedup, connectivity through
  // the representative carries the same information as all-pairs.
  private val bucketCap = 1000

  /** LSH banding candidate pairs (the scalable generator behind q26/q51):
    * all-pairs within small band buckets, star pairs within over-cap ones. */
  def lshCandidatesOf(docs: DataFrame, cap: Int = bucketCap): DataFrame = {
    // explode-unpivot keeps ONE signature lineage (a union of two
    // selects doubles the scan+shuffle tree); the band self-join's
    // identical exchanges are then deduped by ReuseExchange.
    val bands = signaturesOf(docs)
      .select(col("doc_id"), explode(array(
        struct(lit(0).as("band"), md5(concat(col("m0"), col("m1"))).as("bh")),
        struct(lit(1).as("band"), md5(concat(col("m2"), col("m3"))).as("bh")))).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
    // 3 consumers (stats + both self-join sides); materialize once —
    // see jaccardPairs for the measured ReuseExchange=0 rationale
    val bandsM = pin(bands)
    val stats = bandsM.groupBy("band", "bh")
      .agg(count(lit(1)).as("bn"), min(col("doc_id")).as("rep"))
    val wb = bandsM.join(stats, Seq("band", "bh"))
    val small = wb.where(col("bn") <= cap)
    val a = small.select(col("band"), col("bh"), col("doc_id").as("id_a"))
    val b = small.select(col("band"), col("bh"), col("doc_id").as("id_b"))
    val allPairs = a.join(b, Seq("band", "bh")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val starPairs = wb.where(col("bn") > cap && col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    allPairs.unionByName(starPairs).distinct()
  }
  private def lshCandidatesSql(cap: Int): String =
    s"""WITH sig AS ($sigSql),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(m0 || m1) AS bh FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(m2 || m3) AS bh FROM sig),
       |st AS (SELECT band, bh, COUNT(*) AS bn, MIN(doc_id) AS rep
       |       FROM bands GROUP BY band, bh),
       |wb AS (SELECT bands.doc_id, bands.band, bands.bh, st.bn, st.rep
       |       FROM bands JOIN st ON bands.band = st.band AND bands.bh = st.bh)
       |SELECT DISTINCT id_a, id_b FROM (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM wb a JOIN wb b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |  WHERE a.bn <= $cap
       |  UNION ALL
       |  SELECT rep AS id_a, doc_id AS id_b FROM wb
       |  WHERE bn > $cap AND doc_id <> rep) u""".stripMargin

  /** The composed dedup pipeline the 100 TB deployment actually runs:
    * LSH banding generates candidate pairs (near-linear), exact Jaccard
    * verifies ONLY those pairs — candidate-driven joins instead of the
    * full inverted-index self-join; fully-capped docs take the same
    * exact-hash star fallback as q27. */
  def dedupPipeline(docs: DataFrame, cap: Int = dfCap): DataFrame = {
    val cand = lshCandidatesOf(docs)
    val tn = shingleTable(docs, cap) // same materialized diamond as jaccardPairs
    // candidate-driven: pairs × a-side shingles, then match b-side on
    // (id_b, sh) — cost O(|candidates| · shingles/doc), independent of
    // corpus-wide shingle collision counts.
    val withA = cand
      .join(tn.select(col("doc_id").as("id_a"), col("sh"), col("n").as("na")), "id_a")
    val joined = withA
      .join(tn.select(col("doc_id").as("id_b"), col("sh"), col("n").as("nb")),
        Seq("id_b", "sh"))
    jaccardScore(joined).unionByName(cappedFallbackPairs(docs, tn))
  }

  /** Cross-source near-duplication matrix (✚ corpus-curation audit —
    * "which sources copy from each other"): verified near-dup pairs
    * (the q51 plan) attributed to their unordered source pair. The
    * report a curator reads before deciding which overlapping source
    * to drop.
    *
    * Scale: the pair set is the candidate-verified output (near-linear
    * in corpus size by the LSH/cap construction); the source attach is
    * two joins keyed by 8-byte doc_id against a 2-column projection of
    * the corpus, and the final aggregation's key space is ≤ sources²
    * — partial-agg collapses it map-side. */
  def sourceOverlap(docs: DataFrame, pairs: Option[DataFrame] = None): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs.getOrElse(dedupPipeline(docs))
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
               greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The q51 verified-pairs plan as a reusable CTE chain ending in `vp`
    * (id_a, id_b, jaccard) — shared verbatim by q51's oracle and by the
    * clustering gate's oracle (graft.ops.Components), so the two gates
    * can never drift on what "a verified near-dup pair" means. */
  private[ops] val verifiedPairsCtes: String =
    s"""cand AS (${lshCandidatesSql(bucketCap)}),
       |t AS (${cappedShinglesSql(dfCap)}),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
       |shr AS (
       |  SELECT c.id_a, c.id_b, COUNT(*) AS shared
       |  FROM cand c
       |  JOIN t a ON a.doc_id = c.id_a
       |  JOIN t b ON b.doc_id = c.id_b AND b.sh = a.sh
       |  GROUP BY 1, 2),
       |vp AS (
       |  SELECT id_a, id_b,
       |    CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
       |  FROM shr JOIN sz na ON shr.id_a = na.doc_id
       |          JOIN sz nb ON shr.id_b = nb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
       |  UNION ALL
       |  ${cappedFallbackSql(dfCap)})""".stripMargin

  // ── sorted-neighborhood method ───────────────────────────────────────

  /** A doc's distinct 3-word shingle ARRAY as one Column — the row-local
    * twin of [[shinglesOf]]'s table form, for operators that verify a
    * pair inside a single row (no shingle-table join). Short docs fall
    * back to the whole text, same as shinglesOf. */
  private[graft] def shingleArr(t: Column, n: Int = 3): Column =
    // native graft_ngrams (one compiled call per row) — the composed
    // transform + array_distinct form evaluates its lambda interpreted
    // per gram (round 8's q120 lesson); NgramsSpec proves equality
    call_function("graft_ngrams", t, lit(n), lit(true))

  /** Sorted-neighborhood dedup (Hernández–Stolfo): sort the corpus by a
    * cheap blocking key (here the 32-char text prefix), compare each doc
    * with its next `window`-1 neighbors in sort order, keep pairs whose
    * shingle Jaccard clears `tau`. The classic complement to hash
    * blocking (q26/q49): it catches near-dups whose edits fall OUTSIDE
    * any sampled band but not in the key prefix, at strictly linear
    * candidate count (n·(window-1) pairs, vs LSH's bucket blowup on hot
    * bands).
    *
    * Distributed shape: the global sort rank comes from
    * [[Scale.globalRowNumber]] — range partitions + prefix offsets, NO
    * single-task window. Neighbor pairs are (window-1) copies of each
    * row joined on the 8-byte rank — shuffle ∝ rows·window, and the
    * Jaccard verify is row-local Column algebra (array_intersect on the
    * pair's two shingle arrays), no shingle table, no second shuffle.
    * Production would carry shingle digests instead of text through the
    * rank join; the gate carries text to keep the verify exact. */
  def sortedNeighborhood(docs: DataFrame, window: Int = 4, tau: Double = 0.5): DataFrame = {
    // Shingle each doc exactly ONCE, on a hash-repartitioned stream.
    // Two measured pathologies this layout avoids (sf0.1 numbers in
    // SCALE.md): (1) lambda HOFs (transform) are interpreted, not
    // codegen'd, AND Catalyst evaluates projections before exchanges —
    // shingling inline in the rank input ran the whole corpus's array
    // build in the SCAN's task layout (one task per parquet file,
    // ~4 s single-task here; unboundedly worse at 100 TB); (2) leaving
    // shingleArr in the per-pair verify rebuilds it (window-1)·2·refs
    // times per doc because CSE cannot see through lambdas. The
    // repartition makes the interpreted build use every core, and the
    // rank then moves only (key, doc_id) — arrays join back by id.
    val sh = pin(docs.repartition(col("doc_id"))
      .select(col("doc_id"), shingleArr(col("text")).as("sh")))
    val keyed = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("key"))
    val ranked = Scale.globalRowNumber(keyed,
      Seq(col("key"), col("doc_id")))
    val left = ranked.select(col("rn"), col("doc_id").as("id_l"))
      .withColumn("_k", explode(array((1 until window).map(lit): _*)))
      .withColumn("rn2", col("rn") + col("_k")).drop("_k")
    val right = ranked.select(col("rn").as("rn2"), col("doc_id").as("id_r"))
    // inter/sizes are plain (non-lambda) expressions over attribute
    // children here, so codegen CSE computes the intersect once
    val inter = size(array_intersect(col("sh_l"), col("sh_r")))
    val jac = inter.cast("double") /
      (size(col("sh_l")) + size(col("sh_r")) - inter)
    left.join(right, "rn2")
      .join(sh.select(col("doc_id").as("id_l"), col("sh").as("sh_l")), "id_l")
      .join(sh.select(col("doc_id").as("id_r"), col("sh").as("sh_r")), "id_r")
      .select(least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        round(jac, 6).as("jac"))
      .where(col("jac") >= tau)
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup: group on the content hash, keep the smallest doc_id.
    QueryDef("q24_dedup_exact",
      (s, d) => Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("fp"),
      Some("""SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin)),

    // MinHash signatures (k=4 hash functions over 3-word shingles).
    QueryDef("q25_minhash_sig",
      (s, d) => signaturesOf(Tables.documents(s, d)).orderBy("doc_id"),
      Some(s"$sigSql ORDER BY doc_id")),

    // LSH banding: 2 bands × 2 rows; candidate pairs = docs sharing a band
    // hash. Equality join on the fixed-width band key — near-linear; see
    // bucketCap for the mass-duplicate star contract.
    QueryDef("q26_lsh_candidates",
      (s, d) => lshCandidatesOf(Tables.documents(s, d)).orderBy("id_a", "id_b"),
      Some(s"${lshCandidatesSql(bucketCap)}\nORDER BY id_a, id_b")),

    // Shingle-Jaccard near-dup verification (θ=0.5) via inverted-index
    // self-join on df-capped distinct shingles (see dfCap above — the
    // hot-shingle posting lists that would make this quadratic at scale
    // are excluded from the plan, not just from a comment) + the
    // mass-dup exact-hash fallback.
    QueryDef("q27_ngram_jaccard",
      (s, d) => jaccardPairs(Tables.documents(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH t AS (${cappedShinglesSql(dfCap)}),
             |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
             |shr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
             |  FROM t a JOIN t b ON a.sh = b.sh AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b, jaccard FROM (
             |  SELECT id_a, id_b,
             |    CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
             |  FROM shr JOIN sz na ON shr.id_a = na.doc_id
             |          JOIN sz nb ON shr.id_b = nb.doc_id
             |  WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
             |  UNION ALL
             |  ${cappedFallbackSql(dfCap)}) u
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("q51_dedup_pipeline",
      (s, d) => dedupPipeline(Tables.documents(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH $verifiedPairsCtes
             |SELECT id_a, id_b, jaccard FROM vp
             |ORDER BY id_a, id_b""".stripMargin)),

    // Cross-source near-duplication matrix over the SAME verified pairs
    // as q51 (shared vp CTEs — the gates cannot drift on what a
    // near-dup pair is).
    QueryDef("q84_source_overlap",
      (s, d) => sourceOverlap(Tables.documents(s, d),
          pairs = Some(Components.dupPairs(s, d)))
        .orderBy("source_a", "source_b"),
      Some(s"""WITH $verifiedPairsCtes,
             |ds AS (SELECT doc_id, source FROM documents)
             |SELECT LEAST(a.source, b.source) AS source_a,
             |       GREATEST(a.source, b.source) AS source_b,
             |       COUNT(*) AS n_pairs
             |FROM vp JOIN ds a ON a.doc_id = vp.id_a
             |        JOIN ds b ON b.doc_id = vp.id_b
             |GROUP BY 1, 2
             |ORDER BY source_a, source_b""".stripMargin),
      uses = Seq(Components.DupPairs)),

    // SimHash sketches (32-bit majority-vote fingerprint over shingles).
    QueryDef("q28_simhash", (s, d) => simhashSpark(s, d).orderBy("doc_id"),
      Some(simhashSql)),

    // SimHash near-dup retrieval: block on the sketch's high 16 bits
    // (equality join on the block key — near-dups share it with high
    // probability; rotated-prefix multi-blocking would close the gap at
    // scale), then exact Hamming-radius check per candidate pair.
    QueryDef("q49_simhash_neardup",
      (s, d) => simhashNearDup(Tables.documents(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH sk AS ($simhashBodySql)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
              |FROM sk a JOIN sk b
              |  ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
              |ORDER BY id_a, id_b""".stripMargin)),

    // Rotated-window multi-block retrieval: strictly higher recall than
    // q49's single prefix block at nBlocks× candidate cost (the dial a
    // 100 TB deployment tunes; DedupSpec asserts the superset relation).
    QueryDef("q60_simhash_multiblock",
      (s, d) => simhashNearDupMulti(Tables.documents(s, d)).orderBy("id_a", "id_b"),
      Some(s"""WITH sk AS ($simhashBodySql),
              |${multiBlockSql(4)}
              |ORDER BY id_a, id_b""".stripMargin)),

    // Sorted-neighborhood dedup: prefix-sort the corpus, verify each
    // doc against its next 3 sort neighbors. The oracle's flat
    // ROW_NUMBER() OVER (ORDER BY ...) is the single-node twin of the
    // two-phase distributed rank (range partitions + prefix offsets)
    // the Spark plan uses.
    QueryDef("q120_sorted_neighborhood",
      (s, d) => sortedNeighborhood(Tables.documents(s, d))
        .orderBy("id_a", "id_b"),
      Some("""WITH k AS (SELECT doc_id, substr(text, 1, 32) AS key, text
             |           FROM documents),
             |r AS (SELECT doc_id, text,
             |        ROW_NUMBER() OVER (ORDER BY key, doc_id) AS rn
             |      FROM k),
             |p AS (SELECT a.doc_id AS id_a, a.text AS ta,
             |             b.doc_id AS id_b, b.text AS tb
             |      FROM r a JOIN r b ON b.rn BETWEEN a.rn + 1 AND a.rn + 3),
             |sh AS (SELECT id_a, id_b,
             |  list_distinct(CASE WHEN len(string_split(ta, ' ')) >= 3
             |    THEN list_transform(range(len(string_split(ta, ' ')) - 2),
             |      i -> string_split(ta, ' ')[i+1] || ' ' ||
             |           string_split(ta, ' ')[i+2] || ' ' ||
             |           string_split(ta, ' ')[i+3])
             |    ELSE [ta] END) AS da,
             |  list_distinct(CASE WHEN len(string_split(tb, ' ')) >= 3
             |    THEN list_transform(range(len(string_split(tb, ' ')) - 2),
             |      i -> string_split(tb, ' ')[i+1] || ' ' ||
             |           string_split(tb, ' ')[i+2] || ' ' ||
             |           string_split(tb, ' ')[i+3])
             |    ELSE [tb] END) AS db
             |  FROM p),
             |j AS (SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b,
             |  round(CAST(len(list_filter(da, x -> list_contains(db, x))) AS DOUBLE)
             |    / (len(da) + len(db)
             |       - len(list_filter(da, x -> list_contains(db, x)))), 6) AS jac
             |  FROM sh)
             |SELECT id_a, id_b, jac FROM j WHERE jac >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // Quantized-embedding exact dedup (✚, the vector-store intake
    // screen: re-embedded copies of the same content differ by float
    // noise, but quantizing each dimension to 1e-3 and hashing the
    // code sequence catches byte-inexact exact duplicates in ONE
    // groupBy — the embedding-space analog of q24's text digest; true
    // NEAR-dup stays with q30/q69's cosine machinery). The corpus is
    // augmented with deterministic re-inserts (%17 slice under offset
    // ids — the q102 discipline) so the gate finds real groups.
    // Determinism: float→double is exact, ×1000 + floor(+0.5) is
    // identical IEEE arithmetic, and the digest hashes the BIGINT
    // code strings — no float formatting anywhere. Scale: per-row
    // quantize+hash is narrow (the lambda runs AFTER an explicit
    // repartition — the q120 scan-layout rule, PlanSpec-enforced);
    // the only shuffle is the digest groupBy; content (the 64-float
    // vector) never shuffles — only the 32-char digest does.
    QueryDef("q180_embed_dedup",
      (s, d) => {
        val base = Tables.embeddings(s, d).select("vec_id", "embedding")
        val aug = base.unionByName(
          base.where(pmod(col("vec_id"), lit(17)) === 0)
            .withColumn("vec_id", col("vec_id") + 100000L))
        aug.repartition(32)
          .withColumn("digest", md5(concat_ws(",",
            transform(graft.functions.Vectors.asDouble(col("embedding")),
              x => floor(x * 1000.0 + 0.5).cast("long").cast("string")))))
          .groupBy("digest")
          .agg(count(lit(1)).as("n"), min("vec_id").as("keeper"))
          .where(col("n") >= 2)
          .orderBy("keeper")
      },
      Some("""WITH aug AS (
             |  SELECT vec_id, embedding FROM embeddings
             |  UNION ALL
             |  SELECT vec_id + 100000, embedding FROM embeddings
             |  WHERE vec_id % 17 = 0),
             |q AS (
             |  SELECT vec_id,
             |    md5(array_to_string(list_transform(embedding::DOUBLE[],
             |      x -> CAST(CAST(floor(x * 1000.0 + 0.5) AS BIGINT) AS VARCHAR)),
             |      ',')) AS digest
             |  FROM aug)
             |SELECT digest, count(*) AS n, min(vec_id) AS keeper
             |FROM q GROUP BY digest HAVING count(*) >= 2
             |ORDER BY keeper""".stripMargin)),

    // Asymmetric containment detection (✚, the subsumption case every
    // SYMMETRIC near-dup family misses: a 10-token quote inside a
    // 60-token document has Jaccard ≈ 0.15 — invisible to q26/q49/
    // q120 — but containment |A∩B|/|A| = 1.0; a curation run drops
    // the subsumed copy, not both). Candidates block on the SHORT
    // side's minimum shingle (order-independent anchor; for true
    // containment every A-shingle is in B, so any single anchor has
    // full recall — the one-anchor probe is the bounded candidate
    // generator, df-cappable like the q26 buckets). The corpus is
    // augmented with %31-slice prefix quotes under offset ids (the
    // q102 discipline) so real subsumption exists to find; the gate
    // reports containment next to Jaccard to show exactly what the
    // symmetric score misses. Scale: one anchor-keyed equi-join;
    // shingle arrays ride only on candidate rows (graft_ngrams —
    // native, codegen'd).
    QueryDef("q188_containment",
      (s, d) => {
        val base = Tables.documents(s, d).select("doc_id", "text")
        val aug = base.unionByName(
          base.where(pmod(col("doc_id"), lit(31)) === 0)
            .select((col("doc_id") + 300000L).as("doc_id"),
              array_join(slice(split(col("text"), " "), 1, 10), " ").as("text")))
        val sh = aug.select(col("doc_id"),
          org.apache.spark.sql.functions.size(split(col("text"), " ")).as("ntok"),
          shingleArr(col("text")).as("s"))
        val a = sh.where(col("ntok") <= 12)
          .select(col("doc_id").as("a_id"), col("s").as("a_sh"),
            array_min(col("s")).as("anchor"))
        val b = sh.where(col("ntok") > 12)
          .select(col("doc_id").as("b_id"), col("s").as("b_sh"),
            explode(col("s")).as("shingle"))
        val inter = org.apache.spark.sql.functions.size(
          array_intersect(col("a_sh"), col("b_sh")))
        a.join(b, col("anchor") === col("shingle"))
          .select(col("a_id"), col("b_id"),
            round(inter.cast("double") /
              org.apache.spark.sql.functions.size(col("a_sh")), 6).as("containment"),
            round(inter.cast("double") /
              (org.apache.spark.sql.functions.size(col("a_sh")) +
               org.apache.spark.sql.functions.size(col("b_sh")) - inter), 6)
              .as("jaccard"))
          .where(col("containment") >= 0.8)
          .orderBy("a_id", "b_id")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |aug AS (
             |  SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT doc_id + 300000,
             |    array_to_string(string_split(text, ' ')[1:10], ' ')
             |  FROM base WHERE doc_id % 31 = 0),
             |sh AS (
             |  SELECT doc_id, len(string_split(text, ' ')) AS ntok,
             |    list_distinct(CASE WHEN len(string_split(text, ' ')) >= 3
             |      THEN list_transform(range(len(string_split(text, ' ')) - 2),
             |        i -> string_split(text, ' ')[i+1] || ' ' ||
             |             string_split(text, ' ')[i+2] || ' ' ||
             |             string_split(text, ' ')[i+3])
             |      ELSE [text] END) AS s
             |  FROM aug),
             |a AS (SELECT doc_id AS a_id, s AS a_sh,
             |        list_aggregate(s, 'min') AS anchor
             |      FROM sh WHERE ntok <= 12),
             |b AS (SELECT doc_id AS b_id, s AS b_sh, unnest(s) AS shingle
             |      FROM sh WHERE ntok > 12),
             |p AS (
             |  SELECT a_id, b_id,
             |    len(list_filter(a_sh, x -> list_contains(b_sh, x))) AS inter,
             |    len(a_sh) AS la, len(b_sh) AS lb
             |  FROM a JOIN b ON anchor = shingle)
             |SELECT a_id, b_id,
             |  round(CAST(inter AS DOUBLE) / la, 6) AS containment,
             |  round(CAST(inter AS DOUBLE) / (la + lb - inter), 6) AS jaccard
             |FROM p WHERE round(CAST(inter AS DOUBLE) / la, 6) >= 0.8
             |ORDER BY a_id, b_id""".stripMargin)),

    // EXACT set-similarity join via prefix filtering (✚, the PPJoin
    // family — Xiao et al., WWW'08): every near-dup operator so far is
    // either approximate (q26 LSH, q49 SimHash) or all-candidate within
    // a block (q27). Prefix filtering gives the EXACT Jaccard >= τ pair
    // set with a provably sufficient candidate generator: order each
    // doc's distinct tokens by ascending global document frequency
    // (rarest first); two sets with Jaccard >= τ MUST share a token in
    // their first n - ceil(τ·n) + 1 tokens (pigeonhole on the overlap
    // bound ceil(τ/(1+τ)·(na+nb))). So candidates = equality join on
    // PREFIX tokens only — and because prefixes are rarest-first, the
    // hottest (stopword) posting lists never generate candidates.
    // Verification is exact integer arithmetic: J >= 9/10 iff
    // 10·|A∩B| >= 9·|A∪B| — no float threshold on either engine.
    // Scale: df ranking is one agg + a broadcastable vocab join (vocab
    // << corpus); candidate generation shuffles (token, doc) pairs of
    // PREFIX tokens only (≈ (1-τ)·corpus tokens, each among the rarest
    // → near-uniform bucket sizes, the anti-skew property built in);
    // candidates dedupe on the 16-byte id pair FIRST — token arrays
    // never ride the prefix join; they re-attach by id (two hash joins)
    // and array_intersect runs ONCE per distinct candidate pair.
    QueryDef("q198_setsim_prefix_join",
      (s, d) => {
        // corpus with planted near-dups: every %23 doc re-enters with
        // its last 2 tokens dropped (high-Jaccard pair), the q102/q188
        // augmentation discipline so the gate has true positives
        val base = Tables.documents(s, d).select("doc_id", "text")
        val aug = base.unionByName(
          base.where(pmod(col("doc_id"), lit(23)) === 0)
            .select((col("doc_id") + 400000L).as("doc_id"),
              array_join(expr("slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 2, 1))"),
                " ").as("text")))
        val tok = aug
          .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
          .where(col("tok") =!= "")
        // global df rank, rarest first; tok tiebreak makes it total.
        // Two-phase globalRowNumber (range partitions + bounded
        // per-partition windows) — a million-row vocab never meets a
        // single-task window (q171's rule). No broadcast hint: the
        // vocab is corpus-dependent, so AQE picks broadcast-vs-shuffle
        // for the rank join from the runtime size of the aggregated
        // vocab, which is the guard a fixed hint can't provide.
        val rank = Scale.globalRowNumber(
            tok.groupBy("tok").agg(count(lit(1)).as("df")),
            Seq(col("df"), col("tok")))
          .select(col("tok"), col("rn").as("r"))
        val ranked = tok.join(rank, "tok")
        // pinned: consumed by the prefix branch AND both verify joins —
        // without it the explode+distinct+rank-join+collect_list lineage
        // re-executes once per consumer (~3× the candidate-stage cost);
        // the table itself is one bounded row per doc
        val sets = ranked.groupBy("doc_id").agg(
          sort_array(collect_list(col("r"))).as("toks"),
          count(lit(1)).as("n"))
          .transform(pin)
        // prefix length for τ = 9/10: n - ceil(9n/10) + 1, in INTEGER
        // arithmetic ((9n+9) div 10 = ceil(9n/10)) — float ceil(n*0.9)
        // can round across the integer boundary and silently shorten
        // the prefix below the sufficiency bound. Prefix entries carry
        // their 1-based POSITION for the positional filter below.
        val pref = sets.select(col("doc_id"), col("n"),
          posexplode(slice(col("toks"), lit(1),
            (col("n") - expr("(n * 9 + 9) div 10") + 1).cast("int")))
            .as(Seq("p0", "ptok")))
          .select(col("doc_id"), col("n"), col("ptok"),
            (col("p0") + 1).as("p"))
        // candidate pruning — the two PPJoin filters that keep a
        // template-dense corpus from drowning the verify step (without
        // them this corpus yields 12.3M candidates at sf0.1; with them
        // only pairs that can STILL reach τ survive to the intersect):
        //  - length filter: J >= 9/10 forces 9·max(na,nb) <= 10·min;
        //  - positional filter: a shared prefix token at positions
        //    (pa, pb) bounds the overlap by min(na-pa, nb-pb)+1, and
        //    J >= τ needs overlap >= ceil(9(na+nb)/19); an OCCURRENCE
        //    survives only if its bound clears that (ub·19 >= 9(na+nb),
        //    all integer arithmetic). A pair is a candidate iff ANY of
        //    its occurrences survives — so filtering occurrences then
        //    deduping pairs keeps exactly the max-based candidate set,
        //    WITHOUT a 3.5M-group pre-aggregation (measured 8 s at
        //    sf0.1): the verify runs per occurrence (the fused native
        //    merge-count makes re-verification cheaper than the agg
        //    that would dedupe it) and the single distinct lands AFTER
        //    the τ cut, where only true pairs remain.
        val cand = pref.select(col("ptok"), col("doc_id").as("a_id"),
            col("n").as("na"), col("p").as("pa"))
          .join(pref.select(col("ptok"), col("doc_id").as("b_id"),
            col("n").as("nb"), col("p").as("pb")), Seq("ptok"))
          .where(col("a_id") < col("b_id") &&
            greatest(col("na"), col("nb")) * 9 <=
              least(col("na"), col("nb")) * 10 &&
            (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) * 19 >=
              (col("na") + col("nb")) * 9)
          .select("a_id", "b_id")
        // verify: fused merge-count over the two sorted rank arrays
        // (native graft_sorted_inter — count-only, zero allocation;
        // SortedInterCountSpec pins equality with array_intersect).
        // The broadcast hints fit this corpus (one bounded row per doc);
        // at 100 TB drop them and the same id-keyed joins plan as
        // shuffle hash joins — content still never rides the prefix join
        val inter = graft.functions.SortedInterCount(col("a_toks"), col("b_toks"))
        cand
          .join(broadcast(sets.select(col("doc_id").as("a_id"),
            col("toks").as("a_toks"), col("n").as("na"))), "a_id")
          .join(broadcast(sets.select(col("doc_id").as("b_id"),
            col("toks").as("b_toks"), col("n").as("nb"))), "b_id")
          .select(col("a_id"), col("b_id"), col("na"), col("nb"), inter.as("i"))
          .where(col("i") * 10 >= (col("na") + col("nb") - col("i")) * 9)
          .select(col("a_id"), col("b_id"),
            round(col("i").cast("double") / (col("na") + col("nb") - col("i")), 6)
              .as("jaccard"))
          .distinct()
          .orderBy("a_id", "b_id")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |aug AS (
             |  SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT doc_id + 400000,
             |    array_to_string(list_slice(string_split(text, ' '), 1,
             |      greatest(len(string_split(text, ' ')) - 2, 1)), ' ')
             |  FROM base WHERE doc_id % 23 = 0),
             |tok AS (
             |  SELECT DISTINCT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug)
             |  WHERE tok <> ''),
             |sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY 1),
             |ov AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
             |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id,
             |  round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
             |FROM ov JOIN sizes sa ON ov.a_id = sa.doc_id
             |        JOIN sizes sb ON ov.b_id = sb.doc_id
             |WHERE i * 10 >= (sa.n + sb.n - i) * 9
             |ORDER BY a_id, b_id""".stripMargin))
  )
}
