package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * All are per-row narrow transforms — they parallelize embarrassingly at
  * 100 TB (no shuffle except the final presentation sort, which the
  * driver's verify needs for determinism and a real pipeline would drop).
  */
object TextAnalysis {

  private val stopwords = Seq("the", "a", "of", "and", "to")
  private val stopSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** Winnowed (doc_id, fp) table as a typed flatMap over the REAL
    * library function (k=5, w=4) — shared by q64 (fingerprints) and q67
    * (retrieval). */
  private def winnowTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.text.Fingerprint.winnow(t, k = 5, w = 4).map(fp => (id, fp)) }
      .toDF("doc_id", "fp")
  }

  /** SQL twin of [[winnowTable]]: the identical polynomial (base 257
    * mod 2^61−1; a 5-gram's value < 2^61−1, so plain BIGINT arithmetic
    * equals the modular rolling form) and window minimum; the
    * selected-hash SET is tie-rule-independent, so window-min semantics
    * mirror exactly.
    *
    * Parity bound: `Fingerprint.winnow` iterates UTF-16 code units
    * (charAt) while DuckDB's ord/substr/length are code-point-based —
    * identical for ASCII/BMP text, divergent on supplementary-plane
    * characters (an emoji is 2 Scala positions, 1 DuckDB position).
    * The operator itself is well-defined either way; only the ORACLE
    * comparison needs the ASCII corpus (verified: both SFs are pure
    * ASCII, min length 44). */
  private val winnowSql =
    """SELECT DISTINCT doc_id, fp FROM (
      |  SELECT doc_id, p, nh,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY p
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      |  FROM (
      |    SELECT doc_id, p, nh,
      |        ord(substr(text, p, 1)) * 4362470401
      |      + ord(substr(text, p+1, 1)) * 16974593
      |      + ord(substr(text, p+2, 1)) * 66049
      |      + ord(substr(text, p+3, 1)) * 257
      |      + ord(substr(text, p+4, 1)) AS h
      |    FROM (SELECT doc_id, text, ln - 4 AS nh, unnest(range(1, ln - 3)) AS p
      |          FROM (SELECT doc_id, text, length(text) AS ln
      |                FROM documents WHERE length(text) >= 5) n) pos) hh) wins
      |WHERE p <= GREATEST(1, nh - 3)""".stripMargin

  /** Per-(doc_id, trigram) counts — q72's pre-materialization lineage,
    * exposed as a named builder so PlanSpec's anti-pattern audit can
    * see the subtree that the pin truncates out of the
    * declared query's plan. */
  def trigramCounts(docs: DataFrame): DataFrame =
    docs.where(length(col("text")) >= 3)
      .select(col("doc_id"),
        explode(call_function("graft_char_ngrams", col("text"), lit(3)))
          .as("tg"))
      .groupBy("doc_id", "tg").agg(count(lit(1)).as("c"))

  // Document-frequency cap for the fingerprint posting-list join.
  // Unlike the 3-word-shingle caps (where 1000 ≫ the corpus max df and
  // the cap is a pure skew bound), 5-gram winnowing on a template-heavy
  // corpus GENUINELY selects boilerplate: at sf0.1 one fingerprint
  // appears in 3887 of 5000 docs. Dropping over-cap fingerprints is
  // therefore part of the operator's definition, exactly as MOSS drops
  // fingerprints shared across many submissions — they are corpus
  // boilerplate, not near-dup evidence — and it simultaneously bounds
  // the join (no posting list longer than `cap` ever enters it).
  // Measured: cap=200, θ=0.8 retrieves exactly the 25 true near-dup
  // pairs at sf0.01 that the shingle-Jaccard verifier (q27) confirms.
  private val fpCap = 200

  /** Positional phrase search over an inverted index (✚, the IR
    * operator behind "exact phrase" retrieval): each phrase matches
    * where its words occupy CONSECUTIVE token positions in a document —
    * an adjacency equi-join chain over the positional postings
    * relation, never a substring scan (substring matching can't use an
    * index and false-positives across token boundaries).
    *
    * Scale: the postings stream is filtered to the phrases' vocabulary
    * BEFORE anything shuffles (the `isin` predicate runs inside the
    * scan stage's projection), so only matching-term postings — a
    * vanishing fraction of the corpus — reach the joins; each
    * adjacency step is an equi-join on (doc_id, aligned position).
    * At 100 TB the postings relation is the PREBUILT token-bucketed
    * index (the q65 layout q134 summarizes): a phrase query scans just
    * its terms' buckets. The filtered postings table is materialized
    * once and shared by every phrase's join chain. */
  def phraseSearch(docs: DataFrame, phrases: Seq[String])
      : DataFrame = {
    val vocab = phrases.flatMap(_.split(" ")).distinct
    val postings = pin(
      docs.where(col("text").isNotNull && length(col("text")) > 0)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .where(col("tok").isin(vocab: _*)))
    val perPhrase = phrases.map { ph =>
      val ws = ph.split(" ")
      val matches = ws.zipWithIndex.drop(1).foldLeft(
        postings.where(col("tok") === ws.head).select("doc_id", "pos")) {
        case (acc, (w, i)) =>
          val nxt = postings.where(col("tok") === w)
            .select(col("doc_id").as(s"_d$i"), col("pos").as(s"_p$i"))
          acc.join(nxt, acc("doc_id") === col(s"_d$i") &&
              col(s"_p$i") === acc("pos") + i)
            .drop(s"_d$i", s"_p$i")
      }
      matches.agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .select(lit(ph).as("phrase"), col("n_occurrences"), col("n_docs"))
    }
    perPhrase.reduce(_.unionAll(_)).orderBy("phrase")
  }

  /** q73's fixed retrieval query — shared with the RRF fusion gate. */
  private val bm25Terms = Seq("vector", "stream", "customer")

  /** BM25-scored documents (doc_id, score round@5) for [[bm25Terms]] —
    * q73's scoring factored out so q162 ranks the SAME relation. */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = {
    val (k1, bb) = (1.2, 0.75)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val aggs =
      Seq(count(lit(1)).cast("double").as("n"),
          sum(size(col("w")).cast("long")).cast("double").as("sumdl")) ++
        bm25Terms.map(t => sum(when(array_contains(col("w"), t), 1L).otherwise(0L))
          .cast("double").as(s"df_$t"))
    val stats = docs.agg(aggs.head, aggs.tail: _*)
    val score = bm25Terms.map { t =>
      // native single-term tf (terms contain no commas)
      val tf = call_function("graft_count_tokens_in",
        col("w"), lit(t)).cast("double")
      val df = col(s"df_$t")
      val idf = log(lit(1.0) + (col("n") - df + 0.5) / (df + 0.5))
      idf * tf * (k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - bb) +
          lit(bb) * (size(col("w")).cast("double") * col("n") / col("sumdl"))))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(stats))
      .select(col("doc_id"), round(score, 5).as("score"))
  }

  /** The oracle CTE chain for [[bm25Scored]]: `d` (tokenized docs),
    * `st` (corpus stats), `tfs` (per-doc tf/dl), `scored` (doc_id,
    * score) — consumers append their own final SELECT. */
  private val bm25CtesSql: String =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |st AS (SELECT
      |  CAST(COUNT(*) AS DOUBLE) AS n,
      |  CAST(SUM(len(w)) AS DOUBLE) AS sumdl,
      |  CAST(SUM(CASE WHEN list_contains(w, 'vector') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
      |  CAST(SUM(CASE WHEN list_contains(w, 'stream') THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
      |  CAST(SUM(CASE WHEN list_contains(w, 'customer') THEN 1 ELSE 0 END) AS DOUBLE) AS df3
      |  FROM d),
      |tfs AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(w, x -> x = 'vector')) AS DOUBLE) AS tf1,
      |    CAST(len(list_filter(w, x -> x = 'stream')) AS DOUBLE) AS tf2,
      |    CAST(len(list_filter(w, x -> x = 'customer')) AS DOUBLE) AS tf3,
      |    CAST(len(w) AS DOUBLE) AS dl
      |  FROM d),
      |scored AS (
      |  SELECT doc_id, round(
      |      ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
      |        / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n / sumdl)))
      |    + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
      |        / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n / sumdl)))
      |    + ln(1.0 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
      |        / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * (dl * n / sumdl))), 5) AS score
      |  FROM tfs CROSS JOIN st)""".stripMargin

  /** All source-pair KS distances over the document-length
    * distribution on ONE shared value grid (q262's plan): columns
    * (sa, sb, n_a, n_b, ks). Shared by q262 (the raw matrix) and q274
    * (the multiple-testing significance screen) so the two gates can
    * never drift on what the distance is. */
  private[ops] def ksMatrix(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = docs
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
      .transform(pin)
    val vals = cnt.select("v").distinct()
    val srcs = cnt.groupBy("source").agg(sum(col("c")).as("n"))
    val grid = vals.crossJoin(broadcast(srcs))
      .join(cnt, Seq("source", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy("source").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val a = grid.select(col("v"), col("source").as("sa"),
      col("n").as("na"), col("cum").as("ca"))
    val b = grid.select(col("v").as("v2"), col("source").as("sb"),
      col("n").as("nb"), col("cum").as("cb"))
    a.join(b, col("v") === col("v2") && col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(abs(col("ca") * col("nb") - col("cb") * col("na")))
          .as("dmax"))
      .select(col("sa"), col("sb"), col("n_a"), col("n_b"),
        round(col("dmax").cast("double") /
          (col("n_a").cast("double") * col("n_b")), 6).as("ks"))
  }

  /** SQL twin of [[ksMatrix]] as a CTE chain ending in `ksm`
    * (sa, sb, n_a, n_b, ks) — shared verbatim by the q262 and q274
    * oracles. */
  private[ops] val ksMatrixCtes: String =
    """cnt AS (
      |  SELECT source, n_chars AS v, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT v FROM cnt),
      |srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
      |         FROM cnt GROUP BY 1),
      |grid AS (
      |  SELECT vals.v, srcs.source, srcs.n,
      |    CAST(SUM(COALESCE(cnt.c, 0)) OVER (
      |      PARTITION BY srcs.source ORDER BY vals.v
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM vals CROSS JOIN srcs
      |  LEFT JOIN cnt ON cnt.source = srcs.source AND cnt.v = vals.v),
      |ksm AS (
      |  SELECT a.source AS sa, b.source AS sb,
      |    MAX(a.n) AS n_a, MAX(b.n) AS n_b,
      |    round(CAST(MAX(abs(a.cum * b.n - b.cum * a.n)) AS DOUBLE) /
      |      (CAST(MAX(a.n) AS DOUBLE) * MAX(b.n)), 6) AS ks
      |  FROM grid a JOIN grid b
      |    ON a.v = b.v AND a.source < b.source
      |  GROUP BY 1, 2)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens + BPE-ish regex word pieces
    // (identical character-class regex on both engines); counts cast to
    // BIGINT to match DuckDB.
    QueryDef("q20_token_count",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast("long").as("n_words"),
          length(col("text")).cast("long").as("n_len"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             |  len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
             |  length(text) AS n_len FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: token count, stopword ratio, average word length.
    // Ratios are a single double division of exact integers → deterministic.
    QueryDef("q21_quality_score",
      (s, d) => {
        val toks = split(col("text"), " ")
        val n = size(toks).cast("long")
        // native set-membership count — the interpreted isInCollection
        // lambda ran per token in the scan's task layout (PlanSpec
        // lambda walker, round 9)
        val nStop = call_function("graft_count_tokens_in",
          col("text"), lit(stopwords.mkString(","))).cast("long")
        Tables.documents(s, d)
          .select(col("doc_id"),
            n.as("n_tokens"),
            (nStop.cast("double") / n).as("stop_ratio"),
            ((length(col("text")).cast("long") - n + lit(1L)).cast("double") / n)
              .as("avg_word_len"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
              |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ($stopSqlList))) AS DOUBLE)
              |    / len(string_split(text, ' ')) AS stop_ratio,
              |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
              |    / len(string_split(text, ' ')) AS avg_word_len
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language-ID heuristic (SQL-twin form; the richer n-gram profile
    // scorer lives in graft.text.LangId with its own spec). Yields the
    // confusion table predicted × labeled.
    QueryDef("q22_lang_id",
      (s, d) => {
        val nStop = call_function("graft_count_tokens_in",
          col("text"), lit(stopwords.mkString(",")))
        Tables.documents(s, d)
          .withColumn("predicted_lang",
            when(nStop >= 1, lit("en")).otherwise(lit("unknown")))
          .groupBy("lang", "predicted_lang")
          .agg(count(lit(1)).as("n"))
          .orderBy("lang", "predicted_lang")
      },
      Some(s"""SELECT lang,
              |  CASE WHEN len(list_filter(string_split(text, ' '), x -> x IN ($stopSqlList))) >= 1
              |       THEN 'en' ELSE 'unknown' END AS predicted_lang,
              |  COUNT(*) AS n
              |FROM documents GROUP BY 1, 2 ORDER BY lang, predicted_lang""".stripMargin)),

    // Document fingerprint: md5 of normalized text (identical function on
    // both engines → byte-identical hex).
    QueryDef("q23_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), md5(lower(col("text"))).as("fp"))
        .orderBy("doc_id"),
      Some("SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id")),

    // Data-quality audit — the validation pass a training-data pipeline
    // runs before ingest: one row of invariant-violation counts
    // (metadata/content length agreement, null/empty content, lang-code
    // domain). All-zero on a clean corpus, and cheap: one scan, partial
    // aggregation, no shuffle of data rows.
    QueryDef("q50_data_quality",
      (s, d) => Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L))
          .as("n_empty"),
        sum(when(length(col("text")).cast("long") =!= col("n_chars"), 1L).otherwise(0L))
          .as("n_len_mismatch"),
        sum(when(!col("lang").isin("en", "de", "es", "fr", "zh"), 1L).otherwise(0L))
          .as("n_bad_lang"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_null_id")),
      Some("""SELECT COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
             |  CAST(SUM(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_mismatch,
             |  CAST(SUM(CASE WHEN lang NOT IN ('en','de','es','fr','zh') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_lang,
             |  CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_id
             |FROM documents""".stripMargin)),

    // Distributed byLine with full Splitter semantics: the corpus as ONE
    // ordered char stream (doc texts + '\n', range-partitioned by
    // doc_id so partition index order is stream order), split on ' '
    // across partition boundaries by the two-pass boundary repair
    // (graft.text.DistributedSplit — q16 covers per-row splitting; this
    // is the whole-stream operator the reference's byLine actually is).
    // Segments spanning doc boundaries (word+'\n'+word) are the PROOF
    // the split ran on the stream, not per-row; the DuckDB twin
    // replicates them by aggregating the same concatenation. The corpus
    // has no leading/trailing/double spaces, so DuckDB's string_split
    // (which keeps empty fields) agrees with reference semantics here.
    QueryDef("q52_distributed_split",
      (s, d) => {
        import s.implicits._
        val chunks = Tables.documents(s, d)
          .select(col("doc_id"), concat(col("text"), lit("\n")).as("chunk"))
          .repartitionByRange(8, col("doc_id"))
          .sortWithinPartitions("doc_id")
          .select("chunk").as[String]
        graft.text.DistributedSplit.split(chunks, " ", ordered = false)
          .toDF("seg")
          .agg(count(lit(1)).as("n_segments"),
            sum(length(col("seg"))).as("total_chars"),
            count_distinct(col("seg")).as("n_distinct"))
      },
      Some("""WITH s AS (
             |  SELECT string_agg(text || chr(10), '' ORDER BY doc_id) AS stream
             |  FROM documents),
             |seg AS (SELECT unnest(string_split(stream, ' ')) AS seg FROM s)
             |SELECT COUNT(*) AS n_segments,
             |  CAST(SUM(length(seg)) AS BIGINT) AS total_chars,
             |  COUNT(DISTINCT seg) AS n_distinct
             |FROM seg""".stripMargin)),

    // Deterministic stratified train/val/test split — the assignment a
    // training-data pipeline needs to be REPRODUCIBLE and shuffle-free:
    // the split is a pure hash of the stable doc_id (no rand(), no
    // global sort, no state), so any executor recomputes the same
    // assignment and adding data never reshuffles old rows between
    // splits. Verified per stratum (lang) so skewed strata are visible.
    QueryDef("q53_stratified_split",
      (s, d) => {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("int") % 100
        Tables.documents(s, d)
          .withColumn("split",
            when(h < 80, "train").when(h < 90, "val").otherwise("test"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
            max("doc_id").as("max_id"))
          .orderBy("lang", "split")
      },
      Some("""SELECT lang, split, COUNT(*) AS n,
             |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
             |FROM (
             |  SELECT doc_id, lang,
             |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM (SELECT doc_id, lang,
             |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS h
             |        FROM documents) t) u
             |GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Exact-k-per-stratum deterministic sample — eval-slice
    // construction ("exactly 5 docs per language"), the companion to
    // q53's fractional split: the k docs with the smallest md5 draw per
    // lang, selected through the bounded TopK fold so no stratum is
    // ever routed through one task (a row_number window would
    // single-task each lang — millions of docs per language at corpus
    // scale). Pure hash draw: reproducible, append-stable for the
    // already-chosen ranks, shuffle carries ≤ k rows per (partition,
    // lang).
    QueryDef("q92_stratified_exact_k",
      (s, d) => {
        import s.implicits._
        val topk = new graft.functions.Folds.TopK(5)
        Tables.documents(s, d)
          .select(col("lang"),
            negate(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
              .cast("double")).as("score"),
            col("doc_id"))
          .as[(String, Double, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("top"))
          .flatMap { case (lang, top) =>
            top.iterator.zipWithIndex.map { case ((_, id), i) =>
              (lang, (i + 1).toLong, id) } }
          .toDF("lang", "rank", "doc_id")
          .orderBy("lang", "rank")
      },
      Some("""SELECT lang, rank, doc_id FROM (
             |  SELECT lang, doc_id,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
             |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
             |        doc_id ASC) AS BIGINT) AS rank
             |  FROM documents) t
             |WHERE rank <= 5
             |ORDER BY lang, rank""".stripMargin)),

    // WEIGHTED reproducible sampling (Efraimidis–Spirakis A-ES): the
    // q92 companion when strata members should be drawn with
    // probability ∝ a weight (here content mass, n_chars+1 — the
    // "sample long documents more" curation knob). Key = u^(1/w)
    // ranked desc ≡ ln(u)/w ranked desc (ln is monotone; ln/÷ are the
    // cross-engine-safe ops — pow(u, 1/w) is NOT guaranteed bit-equal
    // across libms). u is the salted deterministic md5 uniform shifted
    // to (0,1) (+0.5 — u=0 would blow up ln). Scores rounded@9 BEFORE
    // ranking, doc_id tiebreak; selection through the bounded TopK
    // fold — never a per-stratum window (the q92/q76 discipline).
    QueryDef("q142_weighted_sample",
      (s, d) => {
        import s.implicits._
        val topk = new graft.functions.Folds.TopK(5)
        val u = (conv(substring(md5(concat(lit("q142|"),
            col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long").cast("double") + 0.5) / 4294967296.0
        Tables.documents(s, d)
          .select(col("source"),
            round(log(u) / (col("n_chars") + 1), 9).as("score"),
            col("doc_id"))
          .as[(String, Double, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("top"))
          .flatMap { case (source, top) =>
            top.iterator.zipWithIndex.map { case ((sc, id), i) =>
              (source, (i + 1).toLong, id, sc) } }
          .toDF("source", "rank", "doc_id", "score")
          .orderBy("source", "rank")
      },
      Some("""SELECT source, rank, doc_id, score FROM (
             |  SELECT source, doc_id, score,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
             |  FROM (
             |    SELECT source, doc_id,
             |      round(ln((('0x' || substr(md5('q142|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
             |                + 0.5) / 4294967296.0) / (n_chars + 1), 9) AS score
             |    FROM documents) s) t
             |WHERE rank <= 5
             |ORDER BY source, rank""".stripMargin)),

    // Corpus vocabulary: token frequencies with a top-k cut — the
    // vocab-building pass of a tokenizer pipeline. explode + partial
    // aggregation (map-side combine collapses repeats before the
    // shuffle; the shuffle key is the token, not the document) +
    // TakeOrderedAndProject for the k cut.
    QueryDef("q54_vocabulary",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tok = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("freq"))
        // the k cut FIRST (TakeOrderedAndProject — distributed top-k,
        // never a global sort of the vocabulary), THEN the rank window
        // over the surviving 100 rows only
        tok.orderBy(col("freq").desc, col("token").asc).limit(100)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("freq").desc, col("token").asc)).cast("long"))
          .select("rank", "token", "freq")
          .orderBy("rank")
      },
      Some("""SELECT ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rank,
             |  token, freq
             |FROM (
             |  SELECT token, COUNT(*) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
             |  GROUP BY token) f
             |ORDER BY freq DESC, token ASC LIMIT 100""".stripMargin)),

    // Winnowing fingerprints (graft.text.Fingerprint): k-gram rolling
    // hash + per-window minimum, the edit-local dedup fingerprint q23's
    // whole-document md5 cannot give. Gates the REAL library function
    // through the typed-lambda surface (SURVEY §2.3 T3): a pure per-row
    // flatMap — embarrassingly parallel, no shuffle except the
    // presentation sort.
    QueryDef("q64_winnow_fingerprint",
      (s, d) => winnowTable(s, d).orderBy("doc_id", "fp"),
      Some(s"WITH w AS ($winnowSql)\nSELECT doc_id, fp FROM w ORDER BY doc_id, fp")),

    // Winnowed near-dup RETRIEVAL — the MOSS-style use of q64's
    // fingerprints: drop boilerplate fingerprints (df > fpCap, see
    // above), posting-list self-join on the survivors, containment =
    // shared / min(|A|,|B|) ≥ 0.8 (the high band: 5-gram windows are
    // deliberately edit-local, so related-but-distinct template docs
    // share plenty of fingerprints below it). Same scale discipline as
    // the dedup family: the fingerprint table is MATERIALIZED once
    // (both join sides + the size window consume it; ReuseExchange does
    // not collapse the diamond), set sizes ride a window count on the
    // same lineage, and the cap is applied via partial-agg + anti-join
    // (never a hot posting list in one task).
    QueryDef("q67_winnow_neardup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // materialized ONCE: the hot-df aggregation and the anti-join
        // probe both consume it — the same double-lineage diamond fixed
        // in Dedup.cappedShinglesOf (ReuseExchange does not collapse it)
        val w = winnowTable(s, d).transform(pin)
        val hot = w.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") > fpCap).select("fp")
        val t = w.join(hot, Seq("fp"), "left_anti")
          .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
          .transform(pin)
        val a = t.select(col("doc_id").as("id_a"), col("fp"), col("n").as("na"))
        val b = t.select(col("doc_id").as("id_b"), col("fp"), col("n").as("nb"))
        a.join(b, "fp").where(col("id_a") < col("id_b"))
          .groupBy("id_a", "na", "id_b", "nb").agg(count(lit(1)).as("shared"))
          .withColumn("containment",
            col("shared").cast("double") / least(col("na"), col("nb")))
          .where(col("containment") >= 0.8)
          .select("id_a", "id_b", "containment")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH w AS ($winnowSql),
             |t AS (SELECT doc_id, fp FROM w
             |      WHERE fp NOT IN (
             |        SELECT fp FROM w GROUP BY fp HAVING COUNT(*) > $fpCap)),
             |sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
             |shr AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
             |  FROM t a JOIN t b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |  CAST(shared AS DOUBLE) / LEAST(na.n, nb.n) AS containment
             |FROM shr JOIN sz na ON shr.id_a = na.doc_id
             |        JOIN sz nb ON shr.id_b = nb.doc_id
             |WHERE CAST(shared AS DOUBLE) / LEAST(na.n, nb.n) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // Repetition metrics (the Gopher/C4-style quality filters): distinct
    // token ratio, most-frequent-token mass, duplicate-bigram fraction.
    // Computed entirely per row — no shuffle, no explode — and every
    // ratio is one division of exact integers, so both engines produce
    // bit-identical doubles. Round 9 made the row compute fully native:
    // the top-token count was O(n·distinct) NESTED interpreted lambdas
    // per row (the suite's last heavy interpreted HOF), now one
    // codegen'd hashmap pass (functions/TopTokenCount.scala); bigrams
    // come from graft_ngrams, whose short-input [text] fallback yields
    // the same dup_bigram_ratio (1 - 1/1 = 0.0) as the composed form's
    // empty-array branch on single-token docs.
    QueryDef("q71_repetition",
      (s, d) => {
        val toks = split(col("text"), " ")
        val bg = call_function("graft_ngrams", col("text"), lit(2), lit(false))
        val topCnt = call_function("graft_top_token_count", col("text"))
        Tables.documents(s, d).select(
          col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          (size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"),
          (topCnt.cast("double") / size(toks)).as("top_token_mass"),
          when(size(bg) > 0,
            lit(1.0) - size(array_distinct(bg)).cast("double") / size(bg))
            .otherwise(lit(0.0)).as("dup_bigram_ratio"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  len(w) AS n_tokens,
             |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
             |  CAST(list_max(list_transform(list_distinct(w),
             |    t -> len(list_filter(w, x -> x = t)))) AS DOUBLE) / len(w) AS top_token_mass,
             |  CASE WHEN len(w) >= 2 THEN
             |    1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg)
             |  ELSE 0.0 END AS dup_bigram_ratio
             |FROM (
             |  SELECT doc_id, w,
             |    CASE WHEN len(w) >= 2
             |         THEN list_transform(range(len(w) - 1), i -> w[i+1] || ' ' || w[i+2])
             |         ELSE [] END AS bg
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t) u
             |ORDER BY doc_id""".stripMargin)),

    // Rare-trigram gibberish score — corpus-relative fluency without
    // cross-row float aggregation: the fraction of a document's char
    // trigram POSITIONS whose corpus frequency is below K. Exact
    // integer counts → one exact division (no avg-of-logs whose
    // engine-specific summation order could flip a rounded hash).
    // Plan: one trigram explode feeding a partial-agg frequency table
    // (shuffle ∝ distinct trigrams, broadcastable) joined back to the
    // positions, grouped by doc — two aggregations and a broadcast
    // join at any corpus size.
    QueryDef("q72_rare_trigram",
      (s, d) => {
        // trigramCounts collapses positions to per-(doc, trigram)
        // counts (the partial-agg shrinks the position stream ~3×
        // before anything else touches it); materialized once for the
        // two consumers (corpus freq + the weighted join probe; the
        // ReuseExchange diamond again). Weighting by the count
        // preserves exact position-level semantics at count-level cost.
        val tgc = trigramCounts(Tables.documents(s, d)).transform(pin)
        val freq = tgc.groupBy("tg").agg(sum(col("c")).as("cf"))
        tgc.join(freq, "tg")
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_trigrams"),
            sum(when(col("cf") < 5, col("c")).otherwise(0L)).as("n_rare"))
          .select(col("doc_id"), col("n_trigrams"),
            (col("n_rare").cast("double") / col("n_trigrams")).as("rare_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH tg AS (
             |  SELECT doc_id, unnest(list_transform(range(1, length(text) - 1),
             |    i -> substr(text, i, 3))) AS tg
             |  FROM documents WHERE length(text) >= 3),
             |freq AS (SELECT tg, COUNT(*) AS cf FROM tg GROUP BY tg)
             |SELECT t.doc_id, COUNT(*) AS n_trigrams,
             |  CAST(SUM(CASE WHEN f.cf < 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_ratio
             |FROM tg t JOIN freq f ON t.tg = f.tg
             |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 document scoring (k1=1.2, b=0.75) for a fixed 3-term query —
    // the ranking function of a retrieval pipeline, computed fully
    // in-plan: corpus stats (N, Σdl, per-term df) are ONE aggregation
    // row cross-joined (broadcast of 1 row) onto every document; tf is
    // a codegen'd array filter per row; nothing collects to the
    // driver. Floating-point parity: every input is a double of an
    // exact integer, the formula has the IDENTICAL operator shape on
    // both engines (dl/avgdl written as dl*n/sumdl), and ln() — the
    // one libm call — feeds a score rounded to 5 dp BEFORE ranking.
    // Scoring factored into bm25Scored/bm25CtesSql, shared verbatim
    // with the RRF fusion gate (q162) so the two cannot drift.
    QueryDef("q73_bm25",
      (s, d) => bm25Scored(s, d)
        .where(col("score") > 0)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20),
      Some(s"""WITH $bm25CtesSql
             |SELECT doc_id, score FROM scored WHERE score > 0
             |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Sliding-window RAG chunking: fixed 64-token chunks at stride 48
    // (16-token overlap so no retrieval span is cut mid-context) — the
    // retrieval-prep counterpart of q76's training packing. Pure
    // per-row token slicing (one explode, fan-out ceil(n/stride)); no
    // shuffle beyond the presentation sort at any corpus size.
    QueryDef("q107_rag_chunks",
      (s, d) => {
        val size = 64; val stride = 48
        Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(org.apache.spark.sql.functions.size(col("w")) > 0)
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(0),
              org.apache.spark.sql.functions.size(col("w")) - 1,
              lit(stride))).as("start"))
          .select(col("doc_id"), (col("start") / stride).cast("long").as("chunk_id"),
            least(lit(size),
              org.apache.spark.sql.functions.size(col("w")) - col("start"))
              .cast("long").as("n_tok"),
            array_join(slice(col("w"), col("start") + 1, lit(size)), " ").as("chunk"))
          .orderBy("doc_id", "chunk_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) > 0),
             |st AS (
             |  SELECT doc_id, w, unnest(range(0, len(w), 48)) AS start FROM t)
             |SELECT doc_id,
             |  CAST(start // 48 AS BIGINT) AS chunk_id,
             |  CAST(LEAST(64, len(w) - start) AS BIGINT) AS n_tok,
             |  array_to_string(w[start+1 : start+64], ' ') AS chunk
             |FROM st
             |ORDER BY doc_id, chunk_id""".stripMargin)),

    // PII scrubbing — the redaction pass every public-web corpus runs
    // before training. Patterns kept in the RE2 ∩ Java-regex dialect
    // (classes + bounded counts, no backrefs) so both engines match the
    // same spans; the gate PLANTS deterministic PII (the corpus has
    // none) and emits redaction counts + the digest of the cleaned
    // text, not the text itself. Per-row regex, no shuffle.
    QueryDef("q109_pii_scrub",
      (s, d) => {
        val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
        val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
        Tables.documents(s, d)
          .withColumn("t",
            when(pmod(col("doc_id"), lit(10)) === 0,
              concat(col("text"), lit(" contact user"), col("doc_id"),
                lit("@example.com or 123-45-6789")))
            .otherwise(col("text")))
          .select(col("doc_id"),
            org.apache.spark.sql.functions.size(
              regexp_extract_all(col("t"), lit(email), lit(0))).cast("long").as("n_email"),
            org.apache.spark.sql.functions.size(
              regexp_extract_all(col("t"), lit(ssn), lit(0))).cast("long").as("n_ssn"),
            md5(regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"),
              ssn, "<SSN>")).as("clean_fp"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS BIGINT) AS n_email,
             |  CAST(len(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn,
             |  md5(regexp_replace(regexp_replace(t, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
             |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g')) AS clean_fp
             |FROM (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 0
             |         THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
             |              || '@example.com or 123-45-6789'
             |         ELSE text END AS t
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // Unigram log-prob quality scoring (the CCNet-style perplexity
    // proxy): each doc's mean negative log-probability under the
    // corpus's own unigram LM, and a keep flag relative to the
    // corpus-level per-token NLL. Docs with unusually surprising token
    // mixes (high nll) are the boilerplate/noise candidates.
    //
    // Scale: per-(doc, tok) counts collapse map-side; the frequency
    // join is broadcast (vocab table at gate scale — a 100 TB corpus
    // swaps in the q79 count-min cells as the broadcast frequency
    // probe, same plan shape with bounded memory). Float determinism:
    // each ln term is rounded at 9 dp and summed in DECIMAL, so the
    // per-doc and corpus sums are exact and order-independent — the
    // only doubles are final divisions of identical exact operands.
    QueryDef("q118_unigram_logprob",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val dt = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val freq = toks.groupBy("tok").agg(count(lit(1)).as("fn"))
        val total = toks.agg(count(lit(1)).as("total"))
        // decimal(18,9): lp × count must stay inside precision 38 or
        // Spark's allowPrecisionLoss rounds each product to scale 6
        // (DuckDB keeps 9) — the q349 lesson applied retroactively
        val lp = round(log(col("fn").cast("double") / col("total")), 9)
          .cast("decimal(18,9)")
        val perDoc = dt.join(broadcast(freq), "tok")
          .crossJoin(broadcast(total))
          .groupBy("doc_id")
          .agg(sum(lp * col("c").cast("decimal(10,0)")).as("slp"),
            sum(col("c")).as("n_tok"))
        // the corpus scalar needs no second pass over perDoc:
        // Σ_docs slp = Σ_tok fn·lp (same DECIMAL terms regrouped —
        // exact), and Σ n_tok = total; both come from the VOCAB-sized
        // freq table, so perDoc has one consumer and nothing corpus-
        // sized is materialized or recomputed
        val corpus = freq.crossJoin(broadcast(total))
          .agg(sum(lp * col("fn").cast("decimal(10,0)")).as("gslp"),
               first(col("total")).as("gn"))
        perDoc.crossJoin(broadcast(corpus))
          .select(col("doc_id"), col("n_tok"),
            round(-col("slp").cast("double") / col("n_tok"), 5).as("nll"),
            (-col("slp").cast("double") / col("n_tok") <=
              -col("gslp").cast("double") / col("gn")).as("keep"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |dt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
             |freq AS (SELECT tok, COUNT(*) AS fn FROM toks GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS total FROM toks),
             |lp AS (
             |  SELECT dt.doc_id, dt.c,
             |    CAST(round(ln(CAST(fn AS DOUBLE) / total), 9)
             |         AS DECIMAL(18,9)) AS lp
             |  FROM dt JOIN freq USING (tok), tot),
             |pd AS (SELECT doc_id, SUM(lp * CAST(c AS DECIMAL(10,0))) AS slp,
             |         CAST(SUM(c) AS BIGINT) AS n_tok
             |       FROM lp GROUP BY 1),
             |g AS (SELECT SUM(slp) AS gslp, SUM(n_tok) AS gn FROM pd)
             |SELECT doc_id, n_tok,
             |  round(-CAST(slp AS DOUBLE) / n_tok, 5) AS nll,
             |  (-CAST(slp AS DOUBLE) / n_tok) <= (-CAST(gslp AS DOUBLE) / gn)
             |    AS keep
             |FROM pd, g ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity bucketing (✚ — Wenzek et al. 2020: score
    // every document under a PER-LANGUAGE LM, split each language into
    // head/middle/tail terciles; the head feeds pretraining, the tail
    // gets dropped). The LM here is q118's unigram model fit per
    // language (a production run swaps in KenLM scores — q349/q357 ARE
    // that estimator — without touching the bucketing algebra).
    // Exactness: per-token logprob rounds @9 into DECIMAL (the q118
    // parity rule), so per-doc NLL@5 is identical on both engines and
    // NTILE over (nll, doc_id) is a total deterministic order.
    // Scale: the model is vocab-sized per language (broadcast), the
    // corpus shuffles once for the per-doc sum and once for the
    // per-language tercile window — documents per language bound the
    // window partitions, not the corpus.
    QueryDef("q368_ccnet_buckets",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("tok"))
        val dt = toks.groupBy("doc_id", "lang", "tok")
          .agg(count(lit(1)).as("c"))
        val freq = toks.groupBy("lang", "tok").agg(count(lit(1)).as("fn"))
        val total = toks.groupBy("lang").agg(count(lit(1)).as("total"))
        val lp = round(log(col("fn").cast("double") / col("total")), 9)
          .cast("decimal(18,9)")
        val perDoc = dt.join(broadcast(freq), Seq("lang", "tok"))
          .join(broadcast(total), "lang")
          .groupBy("doc_id", "lang")
          .agg(sum(lp * col("c").cast("decimal(10,0)")).as("slp"),
            sum(col("c")).as("n_tok"))
          .select(col("doc_id"), col("lang"),
            round(-col("slp").cast("double") / col("n_tok"), 5).as("nll"))
        val byLang = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("nll", "doc_id")
        perDoc.select(col("doc_id"), col("lang"), col("nll"),
            ntile(3).over(byLang).cast("long").as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |dt AS (SELECT doc_id, lang, tok, COUNT(*) AS c
             |       FROM toks GROUP BY 1, 2, 3),
             |freq AS (SELECT lang, tok, COUNT(*) AS fn FROM toks GROUP BY 1, 2),
             |tot AS (SELECT lang, COUNT(*) AS total FROM toks GROUP BY 1),
             |lp AS (
             |  SELECT dt.doc_id, dt.lang, dt.c,
             |    CAST(round(ln(CAST(fn AS DOUBLE) / total), 9)
             |         AS DECIMAL(18,9)) AS lp
             |  FROM dt JOIN freq USING (lang, tok) JOIN tot USING (lang)),
             |pd AS (SELECT doc_id, lang,
             |         round(-CAST(SUM(lp * CAST(c AS DECIMAL(10,0)))
             |           AS DOUBLE) / SUM(c), 5) AS nll
             |       FROM lp GROUP BY 1, 2)
             |SELECT doc_id, lang, nll,
             |  CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY nll, doc_id)
             |    AS BIGINT) AS bucket
             |FROM pd ORDER BY doc_id""".stripMargin)),

    // Frequent co-occurring token pairs with PMI — the market-basket
    // primitive (token association mining for tokenizer/vocab work).
    // Scale: the Apriori prune runs FIRST — only tokens whose doc
    // frequency clears the support threshold survive, applied as a
    // broadcast semi-filter on the (doc, token) stream before any
    // pairing, so the quadratic per-doc pair explode only sees
    // frequent items. The pair aggregation then shuffles bounded
    // (frequent-vocab²) keys with map-side combine. PMI's ln is over
    // an exact rational, rounded at 5 dp (the BM25 precedent).
    QueryDef("q124_cooccurrence_pmi",
      (s, d) => {
        val dt = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct().transform(pin) // 3 consumers: n, df, pair stream
        val n = dt.agg(countDistinct(col("doc_id")).as("n"))
        val fi = dt.groupBy("tok").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(n))
          .where(col("df") >= col("n") * 0.25).select("tok", "df")
          .transform(pin) // 3 consumers: prune, df_a, df_b
        val dtf = dt.join(broadcast(fi.select("tok")), "tok")
        val pairs = dtf.as("a").join(dtf.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
          .agg(count(lit(1)).as("n_ab"))
        pairs.crossJoin(broadcast(n))
          .where(col("n_ab") >= col("n") * 0.25)
          .join(broadcast(fi.select(col("tok").as("tok_a"), col("df").as("df_a"))), "tok_a")
          .join(broadcast(fi.select(col("tok").as("tok_b"), col("df").as("df_b"))), "tok_b")
          .select(col("tok_a"), col("tok_b"), col("n_ab"),
            round(log(col("n_ab").cast("double") * col("n") /
              (col("df_a") * col("df_b"))), 5).as("pmi"))
          .orderBy("tok_a", "tok_b")
      },
      Some("""WITH dt AS MATERIALIZED (
             |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM dt),
             |fi AS MATERIALIZED (
             |  SELECT tok, COUNT(*) AS df FROM dt, n
             |  GROUP BY tok, n.n HAVING COUNT(*) >= n.n * 0.25),
             |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS n_ab
             |      FROM (SELECT dt.doc_id, dt.tok FROM dt JOIN fi USING (tok)) a
             |      JOIN (SELECT dt.doc_id, dt.tok FROM dt JOIN fi USING (tok)) b
             |        ON a.doc_id = b.doc_id AND a.tok < b.tok
             |      GROUP BY 1, 2),
             |f AS (SELECT tok_a, tok_b, n_ab FROM p, n WHERE n_ab >= n.n * 0.25)
             |SELECT f.tok_a, f.tok_b, f.n_ab,
             |  round(ln(CAST(f.n_ab AS DOUBLE) * n.n / (fa.df * fb.df)), 5) AS pmi
             |FROM f CROSS JOIN n
             |JOIN fi fa ON fa.tok = f.tok_a
             |JOIN fi fb ON fb.tok = f.tok_b
             |ORDER BY tok_a, tok_b""".stripMargin)),

    // Subword tokenization (greedy longest-match against the pinned
    // merge vocab — BPE inference) with corpus-weighted subword
    // frequencies. The tokenizer loop runs once per DISTINCT word (a
    // typed flatMap, the reference's host-language transform T3), and
    // the stream weighting happens by aggregation — tokenize cost is
    // vocabulary-bounded while the counts reflect the full corpus.
    // The oracle reruns the IDENTICAL longest-match rule as a
    // recursive CTE over the same formatted vocab literal.
    QueryDef("q125_subword_tokenize",
      (s, d) => {
        import s.implicits._
        val wc = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        wc.as[(String, Long)]
          .flatMap { case (w, n) =>
            graft.text.Subword.tokenize(w).map(sub => (sub, n)) }
          .toDF("subword", "n0")
          .groupBy("subword").agg(sum(col("n0")).as("n"))
          .orderBy("subword")
      },
      Some(s"""WITH RECURSIVE wc AS MATERIALIZED (
             |  SELECT tok AS w, COUNT(*) AS n FROM (
             |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
             |  GROUP BY tok),
             |vocab(t) AS (SELECT unnest([${graft.text.Subword.vocabSqlList}])),
             |st(w, rest, toks) AS (
             |  SELECT w, w, CAST([] AS VARCHAR[]) FROM wc
             |  UNION ALL
             |  SELECT w, substr(rest, l + 1), list_append(toks, substr(rest, 1, l))
             |  FROM (
             |    SELECT w, rest, toks,
             |      COALESCE((SELECT MAX(len(t)) FROM vocab
             |                WHERE substr(rest, 1, len(t)) = t), 1) AS l
             |    FROM st WHERE rest <> '') s),
             |subs AS (SELECT w, unnest(toks) AS subword
             |         FROM st WHERE rest = '')
             |SELECT subword, CAST(SUM(wc.n) AS BIGINT) AS n
             |FROM subs JOIN wc USING (w)
             |GROUP BY subword ORDER BY subword""".stripMargin)),

    // Inverted-index summary: per token, document frequency, collection
    // frequency, and the first 5 posting doc ids — via the bounded
    // TopK fold (buffer ≤ 5 at every stage, shuffle ≤ 5 rows per
    // (partition, token)), NEVER a collect_list/window that would
    // buffer a hot token's whole posting list in one task. The real
    // inverted index at 100 TB is the (tok, doc) RELATION itself,
    // stored bucketed by token (the q65 layout); this gate emits the
    // bounded per-token summary a query planner actually broadcasts.
    // One corpus pass: df/cf/heads all derive from the per-(doc, tok)
    // count table, materialized once for its two consumers.
    QueryDef("q134_posting_heads",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
          .transform(pin)
        val stats = c.groupBy("tok")
          .agg(count(lit(1)).as("df"), sum(col("c")).as("cf"))
        val topk = new graft.functions.Folds.TopK(5)
        val heads = c.select(col("tok"), col("doc_id")).as[(String, Long)]
          .groupByKey(_._1)
          .mapValues { case (_, id) => (-id.toDouble, id) }
          .agg(topk.toColumn.name("top"))
          .map { case (tok, hs) => (tok, hs.map(_._2).mkString(",")) }
          .toDF("tok", "heads")
        stats.join(heads, "tok").orderBy("tok")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |c AS MATERIALIZED (
             |  SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
             |stats AS (SELECT tok, COUNT(*) AS df,
             |            CAST(SUM(c) AS BIGINT) AS cf
             |          FROM c GROUP BY tok),
             |hd AS (SELECT tok,
             |         array_to_string((list(doc_id ORDER BY doc_id))[1:5], ',')
             |           AS heads
             |       FROM c GROUP BY tok)
             |SELECT stats.tok, stats.df, stats.cf, hd.heads
             |FROM stats JOIN hd USING (tok)
             |ORDER BY tok""".stripMargin)),

    // Token-distribution drift between corpus snapshots — the
    // DISTRIBUTION twin of q96's row diff (a pipeline owner watches
    // this between crawls: a quiet row-churn can still shift the token
    // mixture the model trains on). Snapshots are q96's exact v1/v2
    // derivation; drift = per-token Jensen–Shannon contribution
    // p·ln(p/m) + q·ln(q/m) (m the midpoint — ≥ 0 per token by the
    // log-sum inequality), top-20 drifters plus the corpus total.
    //
    // Scale: two map-side-combined token counts, one full-outer join
    // keyed by token, totals as 1-row broadcasts; the ln terms follow
    // the q118 discipline — each rounded at 9 dp then summed in
    // DECIMAL, so the corpus total is exact and order-independent (the
    // total is emitted UNDIVIDED — halving a 9-dp decimal can land
    // exactly on the 10th-dp .5 boundary where engine rounding modes
    // could disagree).
    QueryDef("q140_token_drift",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
        val v2 = docs.where(pmod(col("doc_id"), lit(13)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(col("text"), lit(" v2-edit"))).otherwise(col("text")))
        def counts(v: org.apache.spark.sql.DataFrame, n: String) = v
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as(n))
        val joined = counts(v1, "n1").join(counts(v2, "n2"), Seq("tok"), "full")
          .select(col("tok"), coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"))
        val totals = joined.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
        val p = col("n1").cast("double") / col("t1")
        val q = col("n2").cast("double") / col("t2")
        val m = (p + q) / 2
        val contrib = round(
          when(col("n1") > 0, p * log(p / m)).otherwise(lit(0.0)) +
          when(col("n2") > 0, q * log(q / m)).otherwise(lit(0.0)), 9)
        val terms = joined.crossJoin(broadcast(totals))
          .select(col("tok"), col("n1"), col("n2"),
            contrib.cast("decimal(28,9)").as("c"))
        val total = terms.agg(sum(col("c")).as("jsd"))
        terms.crossJoin(broadcast(total))
          .select(col("tok"), col("n1"), col("n2"),
            col("c").cast("double").as("contrib"),
            col("jsd").cast("double").as("total_drift"))
          .orderBy(col("contrib").desc, col("tok")).limit(20)
      },
      Some("""WITH v1 AS (
             |  SELECT text FROM documents WHERE doc_id % 11 <> 0),
             |v2 AS (
             |  SELECT CASE WHEN doc_id % 7 = 0 THEN text || ' v2-edit'
             |              ELSE text END AS text
             |  FROM documents WHERE doc_id % 13 <> 0),
             |c1 AS (SELECT tok, COUNT(*) AS n1 FROM
             |        (SELECT unnest(string_split(text, ' ')) AS tok FROM v1) t
             |       GROUP BY 1),
             |c2 AS (SELECT tok, COUNT(*) AS n2 FROM
             |        (SELECT unnest(string_split(text, ' ')) AS tok FROM v2) t
             |       GROUP BY 1),
             |j AS (SELECT COALESCE(c1.tok, c2.tok) AS tok,
             |        COALESCE(n1, 0) AS n1, COALESCE(n2, 0) AS n2
             |      FROM c1 FULL OUTER JOIN c2 ON c1.tok = c2.tok),
             |tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS t1,
             |               CAST(SUM(n2) AS BIGINT) AS t2 FROM j),
             |terms AS (
             |  SELECT tok, n1, n2,
             |    CAST(round(
             |      (CASE WHEN n1 > 0
             |            THEN (CAST(n1 AS DOUBLE) / t1) *
             |                 ln((CAST(n1 AS DOUBLE) / t1) /
             |                    ((CAST(n1 AS DOUBLE) / t1 + CAST(n2 AS DOUBLE) / t2) / 2))
             |            ELSE 0 END) +
             |      (CASE WHEN n2 > 0
             |            THEN (CAST(n2 AS DOUBLE) / t2) *
             |                 ln((CAST(n2 AS DOUBLE) / t2) /
             |                    ((CAST(n1 AS DOUBLE) / t1 + CAST(n2 AS DOUBLE) / t2) / 2))
             |            ELSE 0 END), 9) AS DECIMAL(28,9)) AS c
             |  FROM j, tot),
             |g AS (SELECT SUM(c) AS jsd FROM terms)
             |SELECT tok, n1, n2, CAST(c AS DOUBLE) AS contrib,
             |  CAST(jsd AS DOUBLE) AS total_drift
             |FROM terms, g
             |ORDER BY contrib DESC, tok LIMIT 20""".stripMargin)),

    // Positional phrase search (✚): two 2-token phrases, one 3-token
    // phrase with hits, and one 3-token phrase with NO hits — the
    // zero-result aggregate must still emit its row (a silent drop is
    // the classic union-of-groupBy bug). Oracle mirrors the adjacency
    // join over DuckDB's aligned unnest/generate_subscripts postings.
    QueryDef("q146_phrase_search",
      (s, d) => phraseSearch(Tables.documents(s, d),
        Seq("hash join", "table scan", "row column sort",
          "sort merge join")),
      Some("""WITH toks AS MATERIALIZED (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             |         generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents
             |  WHERE text IS NOT NULL AND length(text) > 0),
             |p1 AS (
             |  SELECT 'hash join' AS phrase, count(*) AS n_occurrences,
             |         count(DISTINCT a.doc_id) AS n_docs
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  WHERE a.tok = 'hash' AND b.tok = 'join'),
             |p2 AS (
             |  SELECT 'table scan' AS phrase, count(*) AS n_occurrences,
             |         count(DISTINCT a.doc_id) AS n_docs
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |  WHERE a.tok = 'table' AND b.tok = 'scan'),
             |p3 AS (
             |  SELECT 'row column sort' AS phrase, count(*) AS n_occurrences,
             |         count(DISTINCT a.doc_id) AS n_docs
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |              JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
             |  WHERE a.tok = 'row' AND b.tok = 'column' AND c.tok = 'sort'),
             |p4 AS (
             |  SELECT 'sort merge join' AS phrase, count(*) AS n_occurrences,
             |         count(DISTINCT a.doc_id) AS n_docs
             |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
             |              JOIN toks c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
             |  WHERE a.tok = 'sort' AND b.tok = 'merge' AND c.tok = 'join')
             |SELECT * FROM p1 UNION ALL SELECT * FROM p2
             |UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4
             |ORDER BY phrase""".stripMargin)),

    // Cross-source vocabulary overlap (✚, the dataset-similarity
    // matrix behind mixture curation: two sources with near-identical
    // vocabularies are redundant in a training mix): pairwise Jaccard
    // over each source's DISTINCT token set, via an inverted token-
    // keyed self-join — never a source×source×vocab cube. A token seen
    // by k sources contributes k(k−1)/2 ≤ S²/2 pair rows (S = #sources,
    // a handful), collapsed by map-side partials before the pair
    // shuffle; the distinct (source, token) relation is pinned once
    // and feeds sizes and the join both. Pairs sharing no token drop
    // out (inner join) — absent rows, not zero rows, by contract.
    QueryDef("q154_source_overlap",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .distinct().transform(pin)
        val sz = t.groupBy("source").agg(count(lit(1)).as("nv"))
        val shared = t.select(col("source").as("source_a"), col("tok"))
          .join(t.select(col("source").as("source_b"), col("tok")), Seq("tok"))
          .where(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b").agg(count(lit(1)).as("shared"))
        shared
          .join(sz.select(col("source").as("source_a"), col("nv").as("n_a")),
            "source_a")
          .join(sz.select(col("source").as("source_b"), col("nv").as("n_b")),
            "source_b")
          .select(col("source_a"), col("source_b"), col("shared"),
            col("n_a"), col("n_b"),
            round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 6)
              .as("jaccard"))
          .orderBy("source_a", "source_b")
      },
      Some("""WITH t AS MATERIALIZED (
             |  SELECT DISTINCT source, tok FROM (
             |    SELECT source, unnest(string_split(text, ' ')) AS tok
             |    FROM documents)),
             |sz AS (SELECT source, count(*) AS nv FROM t GROUP BY 1),
             |sh AS (
             |  SELECT a.source AS source_a, b.source AS source_b,
             |         count(*) AS shared
             |  FROM t a JOIN t b ON a.tok = b.tok AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, shared, na.nv AS n_a, nb.nv AS n_b,
             |  round(CAST(shared AS DOUBLE) / (na.nv + nb.nv - shared), 6) AS jaccard
             |FROM sh JOIN sz na ON sh.source_a = na.source
             |        JOIN sz nb ON sh.source_b = nb.source
             |ORDER BY source_a, source_b""".stripMargin)),

    // Reciprocal-rank fusion (✚, the standard hybrid-retrieval merge:
    // two rankers with incomparable score scales combine by RANK, not
    // score — rrf = Σ 1/(60+rank)): q73's BM25 ranking fused with a
    // query-likelihood ranking (Σtf/dl) of the SAME corpus for the
    // same 3-term query. Each ranker takes its top-50 via the bounded
    // k-cut FIRST and only then ranks the survivors (the q54
    // discipline — the rank window never sees the corpus); a doc
    // ranked by only one side contributes only that side's term
    // (full-outer join, -1 rank sentinel). Rounds: each ranker's score
    // rounds BEFORE ranking, rrf rounds before the final cut.
    QueryDef("q162_rank_fusion",
      (s, d) => {
        def ranked(df: DataFrame, scoreCol: String, rankName: String) =
          df.orderBy(col(scoreCol).desc, col("doc_id")).limit(50)
            .withColumn(rankName, row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col(scoreCol).desc, col("doc_id"))).cast("long"))
            .select(col("doc_id"), col(rankName))
        val bm = ranked(bm25Scored(s, d).where(col("score") > 0),
          "score", "rank_bm25")
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val tfSum = bm25Terms.map(t =>
          call_function("graft_count_tokens_in", col("w"), lit(t))
            .cast("double")).reduce(_ + _)
        val ql = ranked(
          docs.select(col("doc_id"),
              round(tfSum / size(col("w")).cast("double"), 6).as("qscore"))
            .where(col("qscore") > 0),
          "qscore", "rank_ql")
        bm.join(ql, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("rank_bm25"), lit(-1L)).as("rank_bm25"),
            coalesce(col("rank_ql"), lit(-1L)).as("rank_ql"),
            round(coalesce(lit(1.0) / (lit(60.0) + col("rank_bm25").cast("double")),
                lit(0.0)) +
              coalesce(lit(1.0) / (lit(60.0) + col("rank_ql").cast("double")),
                lit(0.0)), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH $bm25CtesSql,
             |ra AS (
             |  SELECT doc_id, rn AS rank_bm25 FROM (
             |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rn
             |    FROM scored WHERE score > 0) t WHERE rn <= 50),
             |qs AS (
             |  SELECT doc_id, round((tf1 + tf2 + tf3) / dl, 6) AS qscore
             |  FROM tfs),
             |rb AS (
             |  SELECT doc_id, rn AS rank_ql FROM (
             |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY qscore DESC, doc_id) AS rn
             |    FROM qs WHERE qscore > 0) t WHERE rn <= 50),
             |f AS (
             |  SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
             |    coalesce(ra.rank_bm25, -1) AS rank_bm25,
             |    coalesce(rb.rank_ql, -1) AS rank_ql,
             |    round(coalesce(1.0 / (60.0 + ra.rank_bm25), 0.0) +
             |          coalesce(1.0 / (60.0 + rb.rank_ql), 0.0), 6) AS rrf
             |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
             |SELECT doc_id, rank_bm25, rank_ql, rrf
             |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin)),

    // Markup strip / main-text extraction (✚, the crawl-ingest step
    // every web-scale training corpus starts with): script and comment
    // blocks removed whole, tags dropped, entities decoded, whitespace
    // collapsed. The corpus text carries no markup, so the gate is a
    // ROUND-TRIP proof (the q135 WAV discipline): each document is
    // deterministically wrapped in HTML — title, script, per-token
    // <p> tags, a comment, an entity-bearing footer — then run through
    // the strip chain, and the gate asserts clean == the expected
    // plain text, per source, alongside the exact markup-overhead
    // byte count. Scale: per-row regex chain, embarrassingly parallel
    // (narrow until the ≤#sources-group aggregate); the regexes are
    // shared Java/RE2 syntax (q109's parity envelope — no lookaround,
    // no lazy-dot across newlines in content).
    QueryDef("q166_markup_strip",
      (s, d) => {
        val html = concat(
          lit("<html><head><title>doc"), col("doc_id"),
          lit("</title><script>var x = 1 &lt; 2;</script></head><body><p>"),
          regexp_replace(col("text"), " ", "</p>\n<p>"),
          lit("</p><!-- src: "), col("source"),
          lit(" --><div class=\"footer\">&amp; fin</div></body></html>"))
        val clean = trim(regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, "<script>.*?</script>", " "),
                "<!--.*?-->", " "),
              "<[^>]*>", " "),
            "&amp;", "&"),
          "\\s+", " "))
        Tables.documents(s, d)
          .withColumn("html", html)
          .withColumn("clean", clean)
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("clean") ===
                concat(lit("doc"), col("doc_id"), lit(" "), col("text"),
                  lit(" & fin")), 1L).otherwise(0L)).as("n_ok"),
            sum(length(col("html")) - length(col("clean")))
              .cast("long").as("chars_removed"))
          .orderBy("source")
      },
      Some("""WITH h AS (
             |  SELECT doc_id, source, text,
             |    '<html><head><title>doc' || CAST(doc_id AS VARCHAR) ||
             |    '</title><script>var x = 1 &lt; 2;</script></head><body><p>' ||
             |    replace(text, ' ', '</p>' || chr(10) || '<p>') ||
             |    '</p><!-- src: ' || source ||
             |    ' --><div class="footer">&amp; fin</div></body></html>' AS html
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, text, html,
             |    trim(regexp_replace(
             |      regexp_replace(
             |        regexp_replace(
             |          regexp_replace(
             |            regexp_replace(html, '<script>.*?</script>', ' ', 'g'),
             |            '<!--.*?-->', ' ', 'g'),
             |          '<[^>]*>', ' ', 'g'),
             |        '&amp;', '&', 'g'),
             |      '\s+', ' ', 'g')) AS clean
             |  FROM h)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN clean = 'doc' || CAST(doc_id AS VARCHAR)
             |                  || ' ' || text || ' & fin'
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
             |  CAST(sum(length(html) - length(clean)) AS BIGINT) AS chars_removed
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // URL canonicalization (✚, the crawl-dedup key builder): scheme
    // case-folded and collapsed to https, host lowercased with the
    // www. prefix and default port stripped, trailing path slash
    // dropped, utm_* tracking params removed, surviving query params
    // SORTED, fragment discarded. The corpus carries no URL column, so
    // the gate derives a deterministically-messy URL per document
    // (scheme/port/slash/param-order variants keyed off doc_id
    // residues — the q109 augmentation discipline) and proves the
    // canonical form collapses them: per normalized URL, the raw
    // variant count vs the deduped count. Scale: per-row regex
    // normalization is narrow; the only shuffle is the groupBy on the
    // canonical key (map-side combined, ≤ sources×paths groups). No
    // lambda HOFs — utm removal is a regex, the param sort is
    // sort_array (the PlanSpec lambda-above-scan rule stays clean).
    QueryDef("q167_url_normalize",
      (s, d) => {
        val url = concat(
          when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP")).otherwise(lit("https")),
          lit("://WWW."), col("source"), lit(".Example.COM"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(":80")).otherwise(lit(":443")),
          lit("/P"), pmod(col("doc_id"), lit(7)),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("/")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(2)) === 0,
            lit("?b=2&a=1&utm_source=x")).otherwise(lit("?a=1&utm_campaign=z&b=2")),
          lit("#sec"), pmod(col("doc_id"), lit(5)))
        val hostport = regexp_extract(col("url"), "^[a-zA-Z]+://([^/?#]+)", 1)
        val path = regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)
        val query = regexp_extract(col("url"), "\\?([^#]*)", 1)
        val hostN = regexp_replace(
          regexp_replace(lower(hostport), ":[0-9]+$", ""), "^www\\.", "")
        val pathN = regexp_replace(path, "/$", "")
        val queryN = array_join(sort_array(split(
          regexp_replace(regexp_replace(query, "utm_[^&]*&?", ""), "&$", ""),
          "&")), "&")
        Tables.documents(s, d)
          .withColumn("url", url)
          .withColumn("norm_url",
            concat(lit("https://"), hostN, pathN, lit("?"), queryN))
          .groupBy("norm_url").agg(
            count(lit(1)).as("n_docs"),
            countDistinct(col("url")).as("n_raw_variants"),
            min(col("doc_id")).as("min_doc"))
          .orderBy("norm_url")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) ||
             |    '://WWW.' || source || '.Example.COM' ||
             |    (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ||
             |    '/P' || CAST(doc_id % 7 AS VARCHAR) ||
             |    (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
             |    (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=x'
             |          ELSE '?a=1&utm_campaign=z&b=2' END) ||
             |    '#sec' || CAST(doc_id % 5 AS VARCHAR) AS url
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, url,
             |    regexp_replace(regexp_replace(
             |      lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#]+)', 1)),
             |      ':[0-9]+$', ''), '^www\.', '') AS host_n,
             |    regexp_replace(
             |      regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1),
             |      '/$', '') AS path_n,
             |    array_to_string(list_sort(string_split(
             |      regexp_replace(regexp_replace(
             |        regexp_extract(url, '\?([^#]*)', 1),
             |        'utm_[^&]*&?', '', 'g'), '&$', ''), '&')), '&') AS query_n
             |  FROM u)
             |SELECT 'https://' || host_n || path_n || '?' || query_n AS norm_url,
             |  count(*) AS n_docs,
             |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
             |  min(doc_id) AS min_doc
             |FROM p GROUP BY 1 ORDER BY norm_url""".stripMargin)),

    // Zipf heavy-tail fit (✚, the corpus-health diagnostic: natural
    // text follows rank·freq^s ≈ const with s ≈ −1; a slope far off
    // says machine-generated or truncated corpus): log-log OLS of
    // frequency on rank over the vocabulary. Ranking is the two-phase
    // [[graft.ops.Scale.globalRowNumber]] machinery (range partitions
    // + broadcast prefix offsets) — at 100 TB the vocabulary is
    // millions of rows and a single-task window would be the exact
    // trap PlanSpec forbids. Determinism: each log term is rounded@9
    // and summed in DECIMAL (the q118 discipline), so the OLS
    // closed-form divides exact, identical operands; the rank order
    // pins ties by token.
    QueryDef("q171_zipf_fit",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("freq"))
        val ranked = graft.ops.Scale.globalRowNumber(vocab,
          Seq(col("freq").desc, col("tok")))
        val dec9 = (c: org.apache.spark.sql.Column) =>
          round(c, 9).cast("decimal(20,9)")
        val sums = ranked.select(
            dec9(log(col("rn"))).as("x"), dec9(log(col("freq"))).as("y"),
            dec9(log(col("rn")) * log(col("freq"))).as("xy"),
            dec9(log(col("rn")) * log(col("rn"))).as("xx"))
          .agg(count(lit(1)).as("n"),
            sum("x").cast("double").as("sx"), sum("y").cast("double").as("sy"),
            sum("xy").cast("double").as("sxy"), sum("xx").cast("double").as("sxx"))
        val nD = col("n").cast("double")
        val slope = (nD * col("sxy") - col("sx") * col("sy")) /
          (nD * col("sxx") - col("sx") * col("sx"))
        sums.select(col("n").as("n_vocab"),
            round(slope, 6).as("slope"),
            round((col("sy") - slope * col("sx")) / nD, 6).as("intercept"))
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |v AS (SELECT tok, count(*) AS freq FROM toks GROUP BY tok),
             |r AS (SELECT freq,
             |        ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rn
             |      FROM v),
             |t AS (SELECT
             |    CAST(round(ln(rn), 9) AS DECIMAL(20,9)) AS x,
             |    CAST(round(ln(freq), 9) AS DECIMAL(20,9)) AS y,
             |    CAST(round(ln(rn) * ln(freq), 9) AS DECIMAL(20,9)) AS xy,
             |    CAST(round(ln(rn) * ln(rn), 9) AS DECIMAL(20,9)) AS xx
             |  FROM r),
             |s AS (SELECT count(*) AS n,
             |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             |        CAST(sum(xy) AS DOUBLE) AS sxy, CAST(sum(xx) AS DOUBLE) AS sxx
             |      FROM t)
             |SELECT n AS n_vocab,
             |  round((CAST(n AS DOUBLE)*sxy - sx*sy) /
             |        (CAST(n AS DOUBLE)*sxx - sx*sx), 6) AS slope,
             |  round((sy - ((CAST(n AS DOUBLE)*sxy - sx*sy) /
             |               (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx)
             |        / CAST(n AS DOUBLE), 6) AS intercept
             |FROM s""".stripMargin)),

    // TF-IDF keyword extraction (✚): top-3 terms per document by
    // tf·idf — the per-doc salient-term primitive behind tag clouds,
    // BM25 feature prep (q73 ranks docs for a QUERY; this summarizes
    // each doc), and topic seeding. idf = ln(N/df) with df over
    // DISTINCT docs; deterministic total order (rounded score desc,
    // token asc) so the top-3 cut is stable on both engines.
    // Scale: tf is one map-side-combinable agg over (doc, tok); df is
    // an agg over the DISTINCT (doc, tok) pairs of the same exploded
    // lineage; N rides in as a 1-row broadcast; the per-doc top-3 is
    // a bounded rank window keyed BY doc (thousands of independent
    // groups — no global sort, no hot partition).
    QueryDef("q199_tfidf_keywords",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
        val tf = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = tok.select(countDistinct(col("doc_id")).as("n_docs"))
        val scored = tf.join(broadcast(df), "tok")
          .crossJoin(broadcast(n))
          .withColumn("score",
            round(col("tf") * log(col("n_docs").cast("double") / col("df")), 5))
        scored
          .withColumn("rk", row_number().over(
            W.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)))
          .where(col("rk") <= 3)
          .select(col("doc_id"), col("rk").cast("long").as("rk"),
            col("tok"), col("score"))
          .orderBy("doc_id", "rk")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, tok, COUNT(*) AS tf FROM tok
             |  WHERE tok <> '' GROUP BY 1, 2),
             |df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
             |scored AS (
             |  SELECT tf.doc_id, tf.tok,
             |    round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 5) AS score
             |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
             |rk AS (
             |  SELECT doc_id, tok, score,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY score DESC, tok ASC) AS rk
             |  FROM scored)
             |SELECT doc_id, CAST(rk AS BIGINT) AS rk, tok, score
             |FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // Bigram cross-entropy (✚, q118's unigram surprise upgraded to a
    // CONTEXT model — the standard perplexity filter for corpus
    // curation: a doc whose bigrams fight the corpus's own transition
    // statistics is boilerplate, shuffled text, or contamination):
    // add-one-smoothed P(w|prev) = (c(prev,w)+1)/(c(prev)+V), per-doc
    // mean -ln P over its bigrams, top-20 most surprising among docs
    // with ≥ 20 bigrams (count desc ties broken by doc). Determinism:
    // each bigram's log term rounds@9 into exact DECIMAL sums (the
    // q118/q171 playbook). Scale: the bigram model is one count over
    // the (prev, w) stream; doc bigrams join it hash-keyed; windows
    // partition BY DOC.
    QueryDef("q223_bigram_surprise",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        val bi = toks
          .withColumn("nxt", lead(col("tok"), 1).over(W))
          .where(col("nxt").isNotNull)
        val biC = bi.groupBy(col("tok"), col("nxt")).agg(count(lit(1)).as("cb"))
        val uniC = bi.groupBy(col("tok")).agg(count(lit(1)).as("cu"))
        val vocab = toks.agg(countDistinct(col("tok")).as("v"))
        val term = round(log((col("cb") + 1).cast("double") /
            (col("cu") + col("v")).cast("double")), 9)
          .cast("decimal(28,9)")
        bi.join(biC, Seq("tok", "nxt"))
          .join(uniC, Seq("tok"))
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(sum(term).as("slp"), count(lit(1)).as("n_bi"))
          .where(col("n_bi") >= 20)
          .select(col("doc_id"), col("n_bi"),
            round(-col("slp").cast("double") / col("n_bi"), 5).as("ce"))
          .orderBy(col("ce").desc, col("doc_id").asc)
          .limit(20)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, tok, pos FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             |      generate_subscripts(string_split(text, ' '), 1) AS pos
             |    FROM documents) t),
             |bi AS (
             |  SELECT doc_id, tok, LEAD(tok, 1) OVER
             |    (PARTITION BY doc_id ORDER BY pos) AS nxt
             |  FROM toks QUALIFY nxt IS NOT NULL),
             |bic AS (SELECT tok, nxt, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
             |unic AS (SELECT tok, COUNT(*) AS cu FROM bi GROUP BY 1),
             |vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
             |terms AS (
             |  SELECT bi.doc_id,
             |    CAST(round(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)), 9)
             |      AS DECIMAL(28,9)) AS lp
             |  FROM bi JOIN bic USING (tok, nxt) JOIN unic USING (tok), vocab),
             |pd AS (
             |  SELECT doc_id, SUM(lp) AS slp, COUNT(*) AS n_bi
             |  FROM terms GROUP BY 1 HAVING COUNT(*) >= 20)
             |SELECT doc_id, n_bi,
             |  round(-CAST(slp AS DOUBLE) / n_bi, 5) AS ce
             |FROM pd ORDER BY ce DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Information gain of metadata attributes on the language label
    // (✚, feature selection for corpus routing: q152's chi-square says
    // "dependent or not", IG says HOW MANY BITS of the label each
    // attribute resolves — the quantity a router/splitter actually
    // ranks by). IG(lang; A) = H(lang) − H(lang|A), with H(lang|A) =
    // −Σ_{a,l} (c_al/N)·ln(c_al/n_a). Both attributes (source, and a
    // 500-char length band) audit from ONE pass each: a
    // map-side-combined count over (attribute, lang) — |A|·|langs|
    // cells, the corpus never reshuffles — then entropy terms per cell
    // under the q118/q223 log discipline (term rounded@9, summed
    // DECIMAL(38,9), exact and order-independent; round@9 absorbs
    // cross-engine libm ulp drift in ln). Output in nats, round@6.
    QueryDef("q237_info_gain",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val n = docs.count()
        def hCond(attr: org.apache.spark.sql.Column, name: String): DataFrame = {
          val cells = docs.select(attr.as("a"), col("lang"))
            .groupBy("a", "lang").agg(count(lit(1)).as("c"))
            .withColumn("na", sum(col("c")).over(
              org.apache.spark.sql.expressions.Window.partitionBy("a")))
          cells.agg(
            sum(round(-(col("c").cast("double") / n) *
                log(col("c").cast("double") / col("na")), 9)
              .cast("decimal(38,9)")).cast("double").as("h_cond"))
            .select(lit(name).as("attribute"), col("h_cond"))
        }
        val hLabel = docs.groupBy("lang").agg(count(lit(1)).as("c"))
          .agg(sum(round(-(col("c").cast("double") / n) *
              log(col("c").cast("double") / n), 9)
            .cast("decimal(38,9)")).cast("double").as("h_label"))
        hCond(col("source"), "source")
          .unionByName(hCond(floor(col("n_chars") / 500.0).cast("long")
            .cast("string"), "len_band"))
          .crossJoin(broadcast(hLabel))
          .select(col("attribute"), round(col("h_label"), 6).as("h_label"),
            round(col("h_cond"), 6).as("h_cond"),
            round(col("h_label") - col("h_cond"), 6).as("ig"))
          .orderBy("attribute")
      },
      Some("""WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
             |hl AS (
             |  SELECT CAST(SUM(CAST(round(
             |      -(CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / n.n), 9)
             |    AS DECIMAL(38,9))) AS DOUBLE) AS h_label
             |  FROM (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang) g,
             |    n),
             |cells AS (
             |  SELECT a, c, SUM(c) OVER (PARTITION BY a) AS na FROM (
             |    SELECT source AS a, lang, COUNT(*) AS c
             |    FROM documents GROUP BY 1, 2) g),
             |hs AS (
             |  SELECT 'source' AS attribute, CAST(SUM(CAST(round(
             |      -(CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / na), 9)
             |    AS DECIMAL(38,9))) AS DOUBLE) AS h_cond
             |  FROM cells, n),
             |cellb AS (
             |  SELECT a, c, SUM(c) OVER (PARTITION BY a) AS na FROM (
             |    SELECT CAST(CAST(floor(n_chars / 500.0) AS BIGINT) AS VARCHAR)
             |      AS a, lang, COUNT(*) AS c
             |    FROM documents GROUP BY 1, 2) g),
             |hb AS (
             |  SELECT 'len_band' AS attribute, CAST(SUM(CAST(round(
             |      -(CAST(c AS DOUBLE) / n.n) * ln(CAST(c AS DOUBLE) / na), 9)
             |    AS DECIMAL(38,9))) AS DOUBLE) AS h_cond
             |  FROM cellb, n),
             |u AS (SELECT * FROM hs UNION ALL SELECT * FROM hb)
             |SELECT attribute, round(hl.h_label, 6) AS h_label,
             |  round(h_cond, 6) AS h_cond,
             |  round(hl.h_label - h_cond, 6) AS ig
             |FROM u CROSS JOIN hl ORDER BY attribute""".stripMargin)),

    // Token burstiness — Church–Gale variance-to-mean (✚, the
    // function-word/topic-word separator: a token whose per-document
    // counts are Poisson-like (Fano ≈ 1) is grammatical filler; one
    // that BURSTS (Fano ≫ 1) is topical — the signal behind stopword
    // induction and q199's keyword weighting). Zeros never
    // materialize: Fano needs only Σc and Σc² over documents, and
    // absent documents contribute 0 to both, so the per-(token, doc)
    // cell table restricted to the top-10 tokens (broadcast semi-join
    // after one total-count pass) carries everything. Exact integer
    // sums; one division shape, round@6.
    QueryDef("q268_token_burstiness",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val ndocs = Tables.documents(s, d).count()
        val top = toks.groupBy("tok").agg(count(lit(1)).as("total"))
          .orderBy(col("total").desc, col("tok")).limit(10)
        val cells = toks.join(broadcast(top), "tok")
          .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
        cells.groupBy("tok")
          .agg(sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("sc2"),
            count(lit(1)).as("n_docs_with"))
          .select(col("tok"), col("sc").as("total"), col("n_docs_with"),
            round((col("sc2").cast("double") / ndocs -
              (col("sc").cast("double") / ndocs) *
                (col("sc").cast("double") / ndocs)) /
              (col("sc").cast("double") / ndocs), 6).as("fano"))
          .orderBy("tok")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |nd AS (SELECT COUNT(*) AS ndocs FROM documents),
             |top AS (
             |  SELECT tok, COUNT(*) AS total FROM toks GROUP BY 1
             |  ORDER BY total DESC, tok LIMIT 10),
             |cells AS (
             |  SELECT t.tok, t.doc_id, COUNT(*) AS c
             |  FROM toks t JOIN top ON t.tok = top.tok
             |  GROUP BY 1, 2)
             |SELECT tok, CAST(SUM(c) AS BIGINT) AS total,
             |  COUNT(*) AS n_docs_with,
             |  round((CAST(SUM(c * c) AS DOUBLE) / MAX(nd.ndocs) -
             |    (CAST(SUM(c) AS DOUBLE) / MAX(nd.ndocs)) *
             |      (CAST(SUM(c) AS DOUBLE) / MAX(nd.ndocs))) /
             |    (CAST(SUM(c) AS DOUBLE) / MAX(nd.ndocs)), 6) AS fano
             |FROM cells CROSS JOIN nd
             |GROUP BY tok ORDER BY tok""".stripMargin)),

    // Pairwise KS distance matrix across sources (✚, the multi-group
    // generalization of q226: which SOURCES differ most in their
    // document-length distribution — the triage view a curator reads
    // before q165/q140's deeper per-pair drill-down). All CDFs
    // evaluate on one shared grid: the corpus aggregates to
    // (source, n_chars) counts, the grid is |values|×|sources| rows
    // (cross join of two BOUNDED sets — the corpus never re-enters),
    // per-source cumulative counts are windows over that grid, and
    // every pair statistic is the exact integer max of
    // |cumA·n_b − cumB·n_a| — the q226 cross-product trick, so ten
    // pair distances cost one grid pass + one self-join, and no
    // float enters before the final division, round@6.
    QueryDef("q262_ks_matrix",
      (s, d) => ksMatrix(Tables.documents(s, d)).orderBy("sa", "sb"),
      Some(s"""WITH $ksMatrixCtes
             |SELECT sa, sb, n_a, n_b, ks FROM ksm
             |ORDER BY sa, sb""".stripMargin)),

    // Multiple-testing screen over the KS matrix (✚, the statistical
    // hygiene q262 raw distances invite skipping: with 190 pairwise
    // tests, ~10 will clear a naive α = 0.05 by chance alone. Each
    // pair gets the asymptotic one-term KS p-value
    // p ≈ min(1, 2·e^(−2·n_eff·D²)) and TWO flags — naive α and the
    // Šidák-corrected α' = 1 − (1−α)^(1/m) — so the report shows
    // exactly which "drifted" pairs survive correction). Everything
    // heavy is the shared ksMatrix plan; the screen adds one
    // projection over 190 rows. m and α' are driver-side scalars
    // mirrored as literals; all flag comparisons are on round@6
    // values both engines computed identically.
    QueryDef("q274_ks_significance",
      (s, d) => {
        val m = ksMatrix(Tables.documents(s, d)).transform(pin)
        val nPairs = m.count()
        val alphaSidak = 1.0 - math.pow(0.95, 1.0 / nPairs)
        m.withColumn("n_eff",
            round(col("n_a").cast("double") * col("n_b") /
              (col("n_a") + col("n_b")), 6))
          .withColumn("p_approx",
            round(least(lit(1.0),
              lit(2.0) * exp(lit(-2.0) * (col("n_a").cast("double") *
                col("n_b") / (col("n_a") + col("n_b"))) *
                col("ks") * col("ks"))), 6))
          .select(col("sa"), col("sb"), col("ks"), col("n_eff"),
            col("p_approx"),
            (col("p_approx") < 0.05).as("sig_naive"),
            (col("p_approx") < round(lit(alphaSidak), 9)).as("sig_sidak"))
          .orderBy("sa", "sb")
      },
      Some(s"""WITH $ksMatrixCtes,
             |m AS (SELECT COUNT(*) AS m FROM ksm),
             |scr AS (
             |  SELECT sa, sb, ks,
             |    round(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b), 6) AS n_eff,
             |    round(LEAST(1.0, 2.0 * exp(-2.0 *
             |      (CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)) * ks * ks)),
             |      6) AS p_approx
             |  FROM ksm)
             |SELECT sa, sb, ks, n_eff, p_approx,
             |  p_approx < 0.05 AS sig_naive,
             |  p_approx < round(1.0 - pow(0.95, 1.0 / m.m), 9) AS sig_sidak
             |FROM scr CROSS JOIN m ORDER BY sa, sb""".stripMargin)),

    // Good–Turing frequency smoothing (✚, the third leg of the
    // vocabulary triptych with q171's Zipf and q251's Heaps: what
    // probability mass belongs to tokens NEVER SEEN — S(1)/N, the
    // missing-mass estimate — and the smoothed count r* =
    // (r+1)·S(r+1)/S(r) that a language model backs low counts off
    // to). The unit is q251's word trigram — this corpus's unigram
    // vocabulary is closed (31 words, min count 26: S(1..5) is empty),
    // while trigram phrases have the proper count-of-counts tail; the
    // native graft_ngrams Expression feeds both gates. The whole
    // computation is count-of-counts: one gram aggregation, one
    // count-by-count aggregation (|distinct counts| rows — tiny), a
    // self-join on r+1. Everything up to the final two divisions is
    // exact BIGINT; round@6.
    QueryDef("q261_good_turing",
      (s, d) => {
        val tc = Tables.documents(s, d)
          .where(size(split(col("text"), " ")) >= 3)
          .select(explode(call_function("graft_ngrams", col("text"), lit(3),
            lit(false))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("r"))
        val sr = tc.groupBy("r").agg(count(lit(1)).as("s_r"))
          .transform(pin)
        val n = tc.agg(sum("r")).first().getLong(0)
        val s1 = sr.where(col("r") === 1L).select("s_r")
          .collect().headOption.map(_.getLong(0)).getOrElse(0L)
        sr.join(sr.select((col("r") - 1L).as("r0"), col("s_r").as("s_r1")),
            col("r") === col("r0"), "left")
          .where(col("r") <= 5L)
          .select(col("r"), col("s_r"),
            coalesce(col("s_r1"), lit(0L)).as("s_r_next"),
            round((col("r") + 1L).cast("double") *
              coalesce(col("s_r1"), lit(0L)) / col("s_r"), 6).as("r_star"),
            round(lit(s1).cast("double") / n, 6).as("p_unseen"))
          .orderBy("r")
      },
      Some("""WITH base AS (
             |  SELECT string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3),
             |tc AS (
             |  SELECT tok, COUNT(*) AS r FROM (
             |    SELECT unnest(list_transform(range(len(w) - 2),
             |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS tok
             |    FROM base) t
             |  GROUP BY tok),
             |sr AS (SELECT r, COUNT(*) AS s_r FROM tc GROUP BY r),
             |n AS (SELECT CAST(SUM(r) AS BIGINT) AS n FROM tc),
             |s1 AS (SELECT COALESCE(CAST(MAX(s_r) AS BIGINT), 0) AS s1
             |       FROM sr WHERE r = 1)
             |SELECT a.r, a.s_r,
             |  COALESCE(b.s_r, 0) AS s_r_next,
             |  round(CAST(a.r + 1 AS DOUBLE) * COALESCE(b.s_r, 0) / a.s_r, 6)
             |    AS r_star,
             |  round(CAST(s1.s1 AS DOUBLE) / n.n, 6) AS p_unseen
             |FROM sr a LEFT JOIN sr b ON b.r = a.r + 1
             |CROSS JOIN n CROSS JOIN s1
             |WHERE a.r <= 5 ORDER BY a.r""".stripMargin)),

    // Heaps'-law vocabulary growth fit (✚, q171's Zipf companion on
    // the other axis: Zipf says how token FREQUENCY decays, Heaps says
    // how VOCABULARY grows with corpus size — V(N) ≈ K·N^β — the
    // number that sizes a tokenizer vocab or predicts novel-phrase
    // rate at 100 TB from a 1 TB sample). The unit is the WORD TRIGRAM
    // (this corpus's unigram vocabulary is closed — 31 words, V flat
    // before the first checkpoint — so the single-word curve is a
    // constant; trigram phrases keep minting, which is also the unit a
    // dedup/novelty monitor actually tracks). The curve needs only
    // each gram's FIRST document: one min-aggregate per gram, so V(c)
    // at every checkpoint is a prefix over the bounded
    // (first-position → new-grams) table and N(c) a prefix over
    // per-doc gram counts — both via the two-phase globalRunningSum;
    // the corpus is scanned once for the native graft_ngrams explode,
    // once for counts. Checkpoints are a FIXED geometric ladder
    // (data-independent, filtered to ≤ ndocs); the log-log OLS runs
    // over the ≤ ~20 curve points with round@9 DECIMAL term sums and a
    // token-identical double combination, round@6.
    QueryDef("q251_heaps_law",
      (s, d) => {
        val base = Tables.documents(s, d)
          .where(size(split(col("text"), " ")) >= 3)
        val docs = base
          .select(col("doc_id"),
            (size(split(col("text"), " ")) - 2).cast("long").as("ntok"))
        val ndocs = docs.count()
        val cs = Iterator.iterate(50L)(_ * 2).takeWhile(_ <= ndocs).toSeq
        require(cs.size >= 2,
          s"Heaps fit needs >= 2 checkpoints; corpus has only $ndocs docs")
        val pos = Scale.globalRowNumber(docs, Seq(col("doc_id")))
          .withColumnRenamed("rn", "pos")
        val cumN = Scale.globalRunningSum(pos, Seq(col("pos")), col("ntok"))
          .withColumnRenamed("cum", "cumtok")
        val firstPos = base
          .select(col("doc_id"),
            explode(call_function("graft_ngrams", col("text"), lit(3),
              lit(false))).as("tok"))
          .groupBy("tok").agg(min(col("doc_id")).as("fdoc"))
          .join(pos.select(col("doc_id").as("fdoc"), col("pos").as("fpos")),
            "fdoc")
          .groupBy("fpos").agg(count(lit(1)).as("nnew"))
        val cumV = Scale.globalRunningSum(firstPos, Seq(col("fpos")),
            col("nnew"))
          .withColumnRenamed("cum", "cumv")
        import s.implicits._
        val ck = broadcast(cs.toDF("c"))
        val vAt = cumV.join(ck, col("fpos") <= col("c"))
          .groupBy("c").agg(max(col("cumv")).as("v"))
        val nAt = cumN.join(ck, col("pos") === col("c"))
          .select(col("c"), col("cumtok").as("n"))
        val curve = nAt.join(vAt, "c")
          .select(round(log(col("n").cast("double")), 9).as("x"),
            round(log(col("v").cast("double")), 9).as("y"))
        val m = curve.agg(count(lit(1)).as("np"),
          sum(col("x").cast("decimal(38,9)")).as("sx"),
          sum(col("y").cast("decimal(38,9)")).as("sy"),
          sum(round(col("x") * col("y"), 9).cast("decimal(38,9)")).as("sxy"),
          sum(round(col("x") * col("x"), 9).cast("decimal(38,9)")).as("sxx"))
        def dd(c: String) = col(c).cast("double")
        m.select(col("np").as("n_points"),
            round((dd("np") * dd("sxy") - dd("sx") * dd("sy")) /
              (dd("np") * dd("sxx") - dd("sx") * dd("sx")), 6).as("beta"),
            round(dd("sy") / dd("np") -
              ((dd("np") * dd("sxy") - dd("sx") * dd("sy")) /
                (dd("np") * dd("sxx") - dd("sx") * dd("sx"))) *
                (dd("sx") / dd("np")), 6).as("ln_k"))
      },
      Some("""WITH base AS (
             |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |  WHERE len(string_split(text, ' ')) >= 3),
             |docs AS (
             |  SELECT doc_id, CAST(len(w) - 2 AS BIGINT) AS ntok FROM base),
             |nd AS (SELECT COUNT(*) AS ndocs FROM docs),
             |pos AS (
             |  SELECT doc_id, ntok,
             |    ROW_NUMBER() OVER (ORDER BY doc_id) AS pos
             |  FROM docs),
             |cumn AS (
             |  SELECT pos, SUM(ntok) OVER (ORDER BY pos
             |    ROWS UNBOUNDED PRECEDING) AS cumtok
             |  FROM pos),
             |fp AS (
             |  SELECT p.pos AS fpos, COUNT(*) AS nnew FROM (
             |    SELECT tok, MIN(doc_id) AS fdoc FROM (
             |      SELECT doc_id, unnest(list_transform(range(len(w) - 2),
             |        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS tok
             |      FROM base) t
             |    GROUP BY tok) f
             |  JOIN pos p ON p.doc_id = f.fdoc
             |  GROUP BY 1),
             |cumv AS (
             |  SELECT fpos, SUM(nnew) OVER (ORDER BY fpos
             |    ROWS UNBOUNDED PRECEDING) AS cumv
             |  FROM fp),
             |ck AS (
             |  SELECT c FROM (SELECT unnest([50, 100, 200, 400, 800, 1600,
             |    3200, 6400, 12800, 25600, 51200, 102400, 204800, 409600,
             |    819200]) AS c) s, nd
             |  WHERE c <= nd.ndocs),
             |vat AS (
             |  SELECT ck.c, MAX(cumv.cumv) AS v FROM cumv JOIN ck
             |    ON cumv.fpos <= ck.c GROUP BY 1),
             |nat AS (
             |  SELECT ck.c, cumn.cumtok AS n FROM cumn JOIN ck
             |    ON cumn.pos = ck.c),
             |curve AS (
             |  SELECT round(ln(CAST(n.n AS DOUBLE)), 9) AS x,
             |    round(ln(CAST(v.v AS DOUBLE)), 9) AS y
             |  FROM nat n JOIN vat v ON n.c = v.c),
             |m AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS np,
             |    SUM(CAST(x AS DECIMAL(38,9))) AS sx,
             |    SUM(CAST(y AS DECIMAL(38,9))) AS sy,
             |    SUM(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS sxy,
             |    SUM(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS sxx
             |  FROM curve)
             |SELECT np AS n_points,
             |  round((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS beta,
             |  round(CAST(sy AS DOUBLE) / CAST(np AS DOUBLE) -
             |    ((CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |     (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
             |    (CAST(sx AS DOUBLE) / CAST(np AS DOUBLE)), 6) AS ln_k
             |FROM m""".stripMargin)),

    // Per-document TF-IDF keyword extraction (✚, the "what is this
    // document ABOUT" primitive a curation/labeling pipeline runs per
    // doc — q125's BM25 scores documents against a QUERY; this ranks
    // each document's own top-3 salient terms). One explode pass →
    // (doc, token) tf counts (shuffle keyed by the pair — map-side
    // combined); document frequency regroups the TF TABLE (vocab-sized,
    // never the corpus again); idf attaches via a token-keyed join AQE
    // broadcasts at dimension scale. The per-doc cut is a rank window
    // on the HIGH-cardinality doc axis (the q29 regime). Determinism:
    // idf = ln(n_docs/df) round@9 (the q267 ln discipline), score
    // tf·idf round@6, token-asc tiebreak — tokens with identical
    // (tf, df) tie exactly and order lexically on both engines.
    QueryDef("q293_keyword_extract",
      (s, d) => {
        val tf = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
          .transform(pin)
        val nDocs = Tables.documents(s, d).count()
        val dfr = tf.groupBy("token").agg(count(lit(1)).as("dfreq"))
        val scored = tf.join(dfr, "token")
          .select(col("doc_id"), col("token"),
            round(col("tf") *
              round(log(lit(nDocs.toDouble) / col("dfreq")), 9), 6)
              .as("tfidf"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("tfidf").desc, col("token"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 3)
          .select("doc_id", "rank", "token", "tfidf")
          .orderBy("doc_id", "rank")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |  FROM documents),
             |tf AS (
             |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
             |dfr AS (SELECT token, COUNT(*) AS dfreq FROM tf GROUP BY 1),
             |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
             |sc AS (
             |  SELECT tf.doc_id, tf.token,
             |    round(tf.tf * round(ln(nd.n / dfreq), 9), 6) AS tfidf
             |  FROM tf JOIN dfr ON tf.token = dfr.token CROSS JOIN nd),
             |r AS (
             |  SELECT doc_id, token, tfidf,
             |    ROW_NUMBER() OVER (PARTITION BY doc_id
             |      ORDER BY tfidf DESC, token) AS rank
             |  FROM sc)
             |SELECT doc_id, rank, token, tfidf FROM r WHERE rank <= 3
             |ORDER BY doc_id, rank""".stripMargin)),

    // Unicode NFC normalization audit (✚, text cleaning — the
    // transform every curation pipeline applies FIRST: two
    // byte-different spellings of the same grapheme defeat exact
    // dedup, tokenization and equality joins until canonically
    // composed). The corpus is ASCII-synthetic, so the gate
    // manufactures the decomposed state it must repair: every `e`
    // becomes `e` + U+0301 (combining acute), then the native
    // `graft_nfc` Expression (java.text.Normalizer, UAX #15; Spark
    // itself ships NO normalizer) re-composes to U+00E9. Per lang:
    // docs touched, characters before/after (each combining pair
    // collapses to one codepoint), and a round-trip witness — NFC of
    // the decomposed text must equal direct substitution with the
    // PRE-composed character, byte-for-byte against DuckDB's
    // nfc_normalize (both UAX #15).
    //
    // Scale: pure per-row projections into one map-side-combined
    // aggregate — no shuffle wider than |langs|; graft_nfc stays
    // inside whole-stage codegen (a UDF would break the span) and
    // short-circuits via Normalizer.isNormalized on already-NFC rows,
    // the overwhelming real-corpus case.
    QueryDef("q344_nfc_normalize",
      (s, d) => {
        val dec = replace(col("text"), lit("e"), lit("e\u0301"))
        val nfc = graft.functions.NfcNormalize(dec)
        val composed = replace(col("text"), lit("e"), lit("\u00e9"))
        Tables.documents(s, d)
          .select(col("lang"), dec.as("dec"), nfc.as("nfc"),
            composed.as("composed"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("nfc") =!= col("dec"), 1L).otherwise(0L)).as("n_changed"),
            sum(length(col("dec"))).as("chars_decomposed"),
            sum(length(col("nfc"))).as("chars_nfc"),
            sum(when(col("nfc") === col("composed"), 1L).otherwise(0L))
              .as("n_roundtrip"))
          .orderBy("lang")
      },
      Some("""WITH t AS (
             |  SELECT lang,
             |    replace(text, 'e', 'e' || chr(769)) AS dec,
             |    replace(text, 'e', chr(233)) AS composed
             |  FROM documents),
             |n AS (SELECT lang, dec, composed, nfc_normalize(dec) AS nfc FROM t)
             |SELECT lang, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN nfc <> dec THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |  CAST(SUM(length(dec)) AS BIGINT) AS chars_decomposed,
             |  CAST(SUM(length(nfc)) AS BIGINT) AS chars_nfc,
             |  CAST(SUM(CASE WHEN nfc = composed THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip
             |FROM n GROUP BY lang ORDER BY lang""".stripMargin)),

    // Multi-pattern blocklist scan (✚, the curation primitive behind
    // unsafe-phrase filters, boilerplate markers and benchmark-
    // contamination canaries: "which of these N phrases appear in
    // each document?"). The engine side is ONE Aho–Corasick automaton
    // pass per document (graft_match_any — a native codegen
    // Expression; the pattern list compiles into plan-time state via
    // addReferenceObj, so the scan is O(bytes + matches) per row no
    // matter how many thousand patterns the blocklist carries); the
    // oracle is the faithful-but-quadratic twin, a |patterns| ×
    // corpus contains() join — exactly the formulation the automaton
    // replaces at 100 TB. Patterns deliberately overlap (part/art,
    // customer/cust, phrase-over-token) to exercise failure-link
    // matches, and one never-hits canary pins the zero row.
    QueryDef("q354_blocklist_scan",
      (s, d) => {
        import s.implicits._
        val pats = Seq("table part", "part", "art", "cust", "customer",
          "scan slow", "que", "zz never")
        val matched = Tables.documents(s, d)
          .select(col("lang"),
            explode(graft.functions.MatchAny(col("text"), pats)).as("term"))
        val counts = matched.groupBy("term")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"))
        pats.toDF("term").join(counts, Seq("term"), "left")
          .select(col("term"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_langs"), lit(0L)).as("n_langs"))
          .orderBy("term")
      },
      Some {
        val patList = Seq("table part", "part", "art", "cust", "customer",
          "scan slow", "que", "zz never").map(p => s"'$p'").mkString(", ")
        s"""WITH pats AS (SELECT unnest([$patList]) AS term),
           |m AS (
           |  SELECT p.term, COUNT(*) AS n_docs,
           |    COUNT(DISTINCT d.lang) AS n_langs
           |  FROM documents d JOIN pats p ON contains(d.text, p.term)
           |  GROUP BY p.term)
           |SELECT pats.term, COALESCE(m.n_docs, 0) AS n_docs,
           |  COALESCE(m.n_langs, 0) AS n_langs
           |FROM pats LEFT JOIN m USING (term)
           |ORDER BY term""".stripMargin
      }),

    // Streamed blocklist ingest filter (✚, q354's automaton deployed
    // where a blocklist actually runs: the always-on ingest path —
    // documents arrive as file-source micro-batches, each row passes
    // the graft_match_any automaton ONCE (the native Expression
    // executing inside Structured Streaming's codegen), matching docs
    // are counted as blocked, and per-source keep/drop tallies run as
    // complete-mode streaming state that must converge to the batch
    // arithmetic regardless of arrival order — integer counts, so
    // convergence is exact). The oracle is the batch EXISTS-contains
    // formulation over the same corpus.
    QueryDef("q355_stream_blocklist",
      (s, d) => {
        val pats = Seq("table part", "part", "art", "cust", "customer",
          "scan slow", "que", "zz never")
        val stats = (df: org.apache.spark.sql.DataFrame) =>
          df.select(col("source"),
              (size(graft.functions.MatchAny(col("text"), pats)) > 0)
                .as("blocked"))
            .groupBy("source")
            .agg(count(lit(1)).as("n_docs"),
              sum(when(col("blocked"), 1L).otherwise(0L)).as("n_blocked"))
        val input = Tables.documents(s, d).select("source", "text")
        graft.stream.StreamOps.replay(s, input, stats, chunks = 3)
          .select(col("source"), col("n_docs"), col("n_blocked"),
            (col("n_docs") - col("n_blocked")).as("n_kept"))
          .orderBy("source")
      },
      Some {
        val patList = Seq("table part", "part", "art", "cust", "customer",
          "scan slow", "que", "zz never").map(p => s"'$p'").mkString(", ")
        s"""WITH pats AS (SELECT unnest([$patList]) AS term),
           |b AS (
           |  SELECT source,
           |    CASE WHEN EXISTS (SELECT 1 FROM pats p
           |                      WHERE contains(d.text, p.term))
           |      THEN 1 ELSE 0 END AS blocked
           |  FROM documents d)
           |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(blocked) AS BIGINT) AS n_blocked,
           |  CAST(COUNT(*) - SUM(blocked) AS BIGINT) AS n_kept
           |FROM b GROUP BY source ORDER BY source""".stripMargin
      }),

    // Interpolated Kneser-Ney bigram LM (✚, the REAL smoothing
    // algorithm behind the CCNet/KenLM perplexity filter — q118 is the
    // unigram proxy and q223 add-one context smoothing; KN is what
    // production quality filters actually run, and its distinguishing
    // machinery is all COUNT-OF-COUNTS: the backoff weight spends the
    // discount mass D per context, and the unigram backoff is the
    // CONTINUATION probability npred(w)/|bigram types| — "how many
    // contexts does w follow" — not raw frequency):
    //   P(w|u) = (c(u,w) − D)/c(u) + (D·nsucc(u)/c(u)) · (npred(w)/T)
    // with D = 0.75, over the corpus's own bigrams (every scored
    // bigram is seen, so the max(·,0) clamp never binds and unseen-
    // event backoff is exercised only through the interpolation term).
    // Output: per-doc cross-entropy + keep flag vs the corpus CE.
    //
    // Scale: the model is four count tables, every one derived from
    // ONE map-side-combined pass over per-doc bigram counts — cb is
    // |bigram types| and cu/nsucc/npred are |unigram types|; BOTH grow
    // with the corpus under whitespace tokenization, so all model
    // joins are key-partitioned (no broadcast hints — AQE broadcasts
    // at runtime only when measured-small). Per-doc scoring
    // joins dbc⋈lp on the (u,w) key and reduces doc-keyed. The corpus
    // scalar regroups the TYPE table (Σ_docs slp ≡ Σ_types cb·lp in
    // exact DECIMAL), so nothing corpus-sized is scanned twice.
    // Determinism: P is composed in one textually-identical double
    // expression from exact BIGINT counts in both engines, ln
    // rounded@9 into DECIMAL sums (the q118/q223/q237 discipline).
    QueryDef("q349_kn_perplexity",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val bi = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .withColumn("nxt", lead(col("tok"), 1).over(W))
          .where(col("nxt").isNotNull)
          .select(col("doc_id"), col("tok").as("u"), col("nxt").as("w"))
        knScore(bi)
      },
      KnOracleSql),

    // Bounded-vocabulary interpolated KN (✚, the KenLM DEPLOYMENT
    // shape): production perplexity filters score against a model whose
    // vocabulary was PINNED at training time — top-V types by frequency,
    // everything else mapped to <unk> — so the model's size is a
    // CONSTANT, independent of how much corpus flows through scoring.
    // That is the answer to q349's one open scale question (VERDICT r13
    // "What's wrong" #1): q349's open-vocab model tables grow with the
    // corpus vocabulary (linear under ScaleGen's namespace tagging,
    // ~√n on Heaps-law text), while THIS gate's tables are ≤ V+1 /
    // ≤ (V+1)² rows by construction — the scoring join's build side is
    // bounded, the stream side is one linear pass, and the broadcast
    // hint on the vocab list is CORRECT here (V is a literal), unlike
    // q349's open-vocab tables where hints are banned. ScaleLawSpec
    // asserts both laws: q357 linear on the adversarial namespace
    // fixture, q349 bounded on the Heaps fixture.
    //
    // Semantics: same interpolated-KN estimator as q349 over the
    // <unk>-mapped bigram stream (model AND scoring see the mapping,
    // the standard closed-vocab treatment); numerics identical (see
    // q349's header — shared via knScore).
    QueryDef("q357_kn_topv",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        // pinned vocabulary: top-V by count, ties broken by token — a
        // total order, so both engines pick the identical set
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok").asc).limit(KnTopV)
          .select(col("tok"), lit(true).as("in_v"))
        val W = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val bi = toks.join(broadcast(vocab), Seq("tok"), "left")
          .select(col("doc_id"), col("pos"),
            when(col("in_v"), col("tok")).otherwise(lit("<unk>")).as("tok"))
          .withColumn("nxt", lead(col("tok"), 1).over(W))
          .where(col("nxt").isNotNull)
          .select(col("doc_id"), col("tok").as("u"), col("nxt").as("w"))
        knScore(bi)
      },
      Some(s"""WITH toks0 AS (
             |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             |    generate_subscripts(string_split(text, ' '), 1) AS pos
             |  FROM documents),
             |vocab AS (
             |  SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks0 GROUP BY 1)
             |  ORDER BY c DESC, tok ASC LIMIT $KnTopV),
             |toks AS (
             |  SELECT doc_id, pos,
             |    CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok
             |         ELSE '<unk>' END AS tok
             |  FROM toks0),
             |${KnScoreSqlTail}""".stripMargin))
  )

  /** Scoring vocabulary size for q357 (small enough that `<unk>` is
    * genuinely exercised at sf0.01's 31-type corpus). Lazy: referenced
    * from `defs`' eager oracle strings, which initialize first. */
  private lazy val KnTopV = 16

  /** Shared interpolated-KN bigram scorer (q349/q357): takes the
    * (doc_id, u, w) bigram stream, returns per-doc cross-entropy +
    * keep flag. Numerics and scale posture documented at q349. */
  private def knScore(bi: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dbc = bi.groupBy("doc_id", "u", "w").agg(count(lit(1)).as("c"))
          .transform(pin) // 2 consumers: the model and the scorer
        val cb = dbc.groupBy("u", "w").agg(sum(col("c")).as("cb"))
          .transform(pin) // 4 consumers: cu, nsucc, npred, T
        val cu = cb.groupBy("u").agg(sum(col("cb")).as("cu"),
          count(lit(1)).as("nsucc"))
        val npred = cb.groupBy("w").agg(count(lit(1)).as("npred"))
        val types = cb.agg(count(lit(1)).as("t"))
        val p = (col("cb").cast("double") - 0.75d) / col("cu").cast("double") +
          (lit(0.75d) * col("nsucc").cast("double") / col("cu").cast("double")) *
          (col("npred").cast("double") / col("t").cast("double"))
        // lp sized decimal(18,9) so lp × count is decimal(29,9) — EXACT.
        // (28,9) × a long would overflow precision 38 and Spark’s
        // allowPrecisionLoss silently rounds each product to scale 6,
        // which DuckDB does not — a 1e-7-per-term drift that flipped a
        // 5-dp tie at sf0.01.
        // cu/npred are token-type-keyed: vocabulary grows with the corpus
        // under whitespace tokenization (URLs, typos, numbers — 10⁸+ types
        // at 100 TB), so NO broadcast hint — AQE converts these to
        // broadcast joins at runtime when the measured post-checkpoint
        // size is actually small, and falls back to shuffle hash joins
        // when it is not. Only the 1-row `types`/`corpus` aggregates are
        // hint-broadcast.
        val lp = cb.join(cu, "u").join(npred, "w")
          .crossJoin(broadcast(types))
          .select(col("u"), col("w"), col("cb"),
            round(log(p), 9).cast("decimal(18,9)").as("lp"))
          .transform(pin) // 2 consumers: per-doc scoring + corpus CE
        val perDoc = dbc.join(lp.select("u", "w", "lp"), Seq("u", "w"))
          .groupBy("doc_id")
          .agg(sum(col("lp") * col("c").cast("decimal(10,0)")).as("slp"),
            sum(col("c")).as("n_bi"))
        val corpus = lp.agg(
          sum(col("lp") * col("cb").cast("decimal(10,0)")).as("gslp"),
          sum(col("cb")).as("gn"))
        // kn_ce rounds the EXACT rational −slp/n_bi half-up at 5 dp in
        // pure integer arithmetic: slp is k·10⁻⁹ exactly, so the 5-dp
        // half-up round is (k + 5000·n)/(10000·n) floored — no
        // double-round step where engines could disagree (round(dbl,5)
        // is shortest-decimal-based in Spark but numeric in DuckDB,
        // and −slp/n_bi TERMINATES whenever n_bi is 2^a·5^b·10^c, so
        // exact 5-dp ties DO occur — one did at sf0.01)
        perDoc.crossJoin(broadcast(corpus))
          .withColumn("kk", (-col("slp") * lit(1000000000L)).cast("long"))
          .selectExpr("doc_id", "n_bi",
            "CAST((kk + n_bi * 5000) DIV (n_bi * 10000) AS DOUBLE) / 100000 AS kn_ce",
            "(-CAST(slp AS DOUBLE) / n_bi) <= (-CAST(gslp AS DOUBLE) / gn) AS keep")
          .orderBy("doc_id")
  }

  /** q349's oracle: open-vocab toks CTE + the shared scoring tail. */
  private lazy val KnOracleSql: Option[String] = Some(
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
       |    generate_subscripts(string_split(text, ' '), 1) AS pos
       |  FROM documents),
       |$KnScoreSqlTail""".stripMargin)

  /** Shared SQL tail of the KN oracle (everything downstream of a
    * `toks(doc_id, pos, tok)` CTE) — q349 and q357 differ only in how
    * `toks` is produced (open vocab vs pinned top-V + <unk>), so the
    * estimator stays textually identical where the semantics are. */
  private lazy val KnScoreSqlTail: String =
    """bi AS (
             |  SELECT doc_id, tok AS u, LEAD(tok, 1) OVER
             |    (PARTITION BY doc_id ORDER BY pos) AS w
             |  FROM toks QUALIFY w IS NOT NULL),
             |dbc AS MATERIALIZED (
             |  SELECT doc_id, u, w, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
             |cbt AS MATERIALIZED (
             |  SELECT u, w, CAST(SUM(c) AS BIGINT) AS cb FROM dbc GROUP BY 1, 2),
             |cu AS (SELECT u, CAST(SUM(cb) AS BIGINT) AS cu,
             |         CAST(COUNT(*) AS BIGINT) AS nsucc FROM cbt GROUP BY 1),
             |np AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS npred FROM cbt GROUP BY 1),
             |ty AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cbt),
             |lp AS MATERIALIZED (
             |  SELECT cbt.u, cbt.w, cbt.cb,
             |    CAST(round(ln(
             |      (CAST(cb AS DOUBLE) - 0.75) / CAST(cu AS DOUBLE) +
             |      (CAST(0.75 AS DOUBLE) * CAST(nsucc AS DOUBLE) / CAST(cu AS DOUBLE)) *
             |      (CAST(npred AS DOUBLE) / CAST(t AS DOUBLE))), 9)
             |      AS DECIMAL(18,9)) AS lp
             |  FROM cbt JOIN cu USING (u) JOIN np USING (w), ty),
             |pd AS (
             |  SELECT doc_id, SUM(lp * CAST(c AS DECIMAL(10,0))) AS slp,
             |    CAST(SUM(c) AS BIGINT) AS n_bi
             |  FROM dbc JOIN lp USING (u, w) GROUP BY 1),
             |g AS (SELECT SUM(lp * CAST(cb AS DECIMAL(10,0))) AS gslp,
             |  CAST(SUM(cb) AS BIGINT) AS gn FROM lp)
             |SELECT doc_id, n_bi,
             |  CAST((CAST(-slp * 1000000000 AS BIGINT) + n_bi * 5000)
             |    // (n_bi * 10000) AS DOUBLE) / 100000 AS kn_ce,
             |  (-CAST(slp AS DOUBLE) / n_bi) <= (-CAST(gslp AS DOUBLE) / gn) AS keep
             |FROM pd, g ORDER BY doc_id""".stripMargin
}
