package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental corpus maintenance: classify what changed between two
  * snapshots of a keyed corpus. The everyday operation behind
  * retraining decisions ("how much of the corpus moved since the last
  * run?") and incremental downstream refresh (re-embed / re-dedup only
  * the delta instead of the full 100 TB).
  *
  * Scale shape: each side is reduced to (key, 128-bit content digest)
  * BEFORE the shuffle — the full-outer join on the key then moves
  * ~24 bytes per row regardless of document size, and the classifier is
  * a per-row CASE on the joined digests. One co-partitioned shuffle
  * total; document text never leaves its scan. (Reference snapshot
  * semantics: flod pipelines re-run whole inputs — `pipeline.d` has no
  * incremental mode — so this is an extension operator, not a port.)
  */
object Delta {

  /** Rows of `newer` that are new, edited, or gone relative to `old`,
    * classified as added/changed/removed; unchanged rows (the vast
    * majority of a real snapshot pair) are dropped map-side after the
    * join. `payload` is the content whose digest defines "changed". */
  def snapshotDiff(old: DataFrame, newer: DataFrame, key: String,
                   payload: Column): DataFrame = {
    // presence markers, NOT digest nullness, drive the classification:
    // md5(NULL payload) is NULL, and a key present on both sides with a
    // NULL payload must compare as unchanged (null-safe <=>), not leak
    // into 'added'
    val o = old.select(col(key), md5(payload).as("old_digest"),
      lit(true).as("_in_old"))
    val n = newer.select(col(key), md5(payload).as("new_digest"),
      lit(true).as("_in_new"))
    o.join(n, Seq(key), "full_outer")
      .withColumn("change",
        when(col("_in_old").isNull, lit("added"))
          .when(col("_in_new").isNull, lit("removed"))
          .when(!(col("old_digest") <=> col("new_digest")), lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("change") =!= "unchanged")
      .select(col(key), col("change"),
        coalesce(col("old_digest"), lit("")).as("old_digest"),
        coalesce(col("new_digest"), lit("")).as("new_digest"))
  }

  /** Incremental exact dedup: classify an INCOMING batch against the
    * digest index of an already-deduplicated prior corpus — the other
    * half of incremental maintenance (snapshotDiff tells you what
    * changed; this tells you which new docs to keep). Statuses:
    * `new` (first sight anywhere), `dup_of_prior` (the stored index
    * already has the digest), `dup_within_batch` (another incoming doc
    * with a smaller id has it first).
    *
    * Scale shape: the production artifact is the (digest → min id)
    * index — ~24 bytes per prior doc, built once, never rescanning the
    * prior corpus per batch; the incoming batch (typically ≪ corpus)
    * shuffles by digest twice (its own first-occurrence aggregation and
    * the index join), and when the index fits the AQE broadcast
    * threshold the join doesn't shuffle the batch at all. */
  def incrementalDedup(prior: DataFrame, incoming: DataFrame,
                       payload: Column, key: String = "doc_id"): DataFrame = {
    val idx = prior.select(md5(payload).as("fp"), col(key))
      .groupBy("fp").agg(min(col(key)).as("prior_id"))
    val inc = incoming.select(col(key), md5(payload).as("fp"))
    val firstNew = inc.groupBy("fp").agg(min(col(key)).as("first_new"))
    inc.join(idx, Seq("fp"), "left")
      .join(firstNew, "fp")
      .withColumn("status",
        when(col("prior_id").isNotNull, lit("dup_of_prior"))
          .when(col(key) =!= col("first_new"), lit("dup_within_batch"))
          .otherwise(lit("new")))
      .select(col(key), col("fp"),
        coalesce(col("prior_id"), lit(-1L)).as("prior_id"), col("status"))
  }

  /** Gate: two deterministic snapshots derived from `documents` — v1
    * drops the doc_id%11 slice (those rows are "added" in v2), v2 drops
    * the %13 slice ("removed") and appends an edit marker to the %7
    * slice ("changed"). The oracle mirrors the derivation and the
    * full-outer classification. */
  /** Oracle of q156_latest_wins and q157_stream_compaction. */
  val latestWinsOracleSql =
    """SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
      |  value, n_versions
      |FROM (
      |  SELECT user_id, event_type, ts, event_id, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
      |  FROM events) t
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q96_snapshot_diff",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = docs.where(pmod(col("doc_id"), lit(11)) =!= 0)
        val v2 = docs.where(pmod(col("doc_id"), lit(13)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(col("text"), lit(" v2-edit"))).otherwise(col("text")))
        snapshotDiff(v1, v2, "doc_id", col("text"))
          .orderBy("doc_id")
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id, md5(text) AS old_digest
             |  FROM documents WHERE doc_id % 11 <> 0),
             |v2 AS (
             |  SELECT doc_id,
             |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2-edit'
             |             ELSE text END) AS new_digest
             |  FROM documents WHERE doc_id % 13 <> 0)
             |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             |  CASE WHEN v1.doc_id IS NULL THEN 'added'
             |       WHEN v2.doc_id IS NULL THEN 'removed'
             |       ELSE 'changed' END AS change,
             |  COALESCE(v1.old_digest, '') AS old_digest,
             |  COALESCE(v2.new_digest, '') AS new_digest
             |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
             |WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL
             |   OR v1.old_digest IS DISTINCT FROM v2.new_digest
             |ORDER BY doc_id""".stripMargin)),

    // Incoming batch = the %3 slice plus deterministic "re-crawls":
    // prior %5 docs under new ids (+100000 → dup_of_prior) and base %7
    // incoming docs under new ids (+200000 → dup_within_batch), so all
    // three statuses fire. Oracle mirrors the derivation and both joins.
    QueryDef("q102_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val prior = docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
        val base = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        val incoming = base
          .unionByName(prior.where(pmod(col("doc_id"), lit(5)) === 0)
            .withColumn("doc_id", col("doc_id") + 100000L))
          .unionByName(base.where(pmod(col("doc_id"), lit(7)) === 0)
            .withColumn("doc_id", col("doc_id") + 200000L))
        // (doc_id, fp) order: the synthetic id offsets cannot collide
        // with real ids at gate SFs, but a total tie-safe order keeps
        // the hash compare deterministic under any corpus
        incrementalDedup(prior, incoming, col("text"))
          .orderBy("doc_id", "fp")
      },
      Some("""WITH prior AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
             |base AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
             |inc0 AS (
             |  SELECT doc_id, text FROM base
             |  UNION ALL
             |  SELECT doc_id + 100000, text FROM prior WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT doc_id + 200000, text FROM base WHERE doc_id % 7 = 0),
             |idx AS (
             |  SELECT md5(text) AS fp, MIN(doc_id) AS prior_id
             |  FROM prior GROUP BY 1),
             |inc AS (SELECT doc_id, md5(text) AS fp FROM inc0),
             |fn AS (SELECT fp, MIN(doc_id) AS first_new FROM inc GROUP BY fp)
             |SELECT inc.doc_id, inc.fp,
             |  COALESCE(idx.prior_id, -1) AS prior_id,
             |  CASE WHEN idx.prior_id IS NOT NULL THEN 'dup_of_prior'
             |       WHEN inc.doc_id <> fn.first_new THEN 'dup_within_batch'
             |       ELSE 'new' END AS status
             |FROM inc
             |LEFT JOIN idx ON idx.fp = inc.fp
             |JOIN fn ON fn.fp = inc.fp
             |ORDER BY inc.doc_id, inc.fp""".stripMargin)),

    // Latest-wins CDC compaction (✚, the upsert-log → current-state
    // collapse every change-capture pipeline runs): per logical key,
    // keep the newest version by (ts, event_id) and count the versions
    // compacted away. ONE struct-max partial aggregation — the
    // ordering tuple rides inside the max, so map-side combine
    // collapses versions before the shuffle and no per-key window or
    // sort ever materializes the version history (the q119 election
    // shape). The oracle pins the same order with an explicit
    // ROW_NUMBER rank.
    QueryDef("q156_latest_wins",
      (s, d) => Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("m"),
             count(lit(1)).as("n_versions"))
        .select(col("user_id"), col("event_type"),
          unix_micros(col("m.ts")).as("ts_us"), col("m.event_id").as("event_id"),
          col("m.value").as("value"), col("n_versions"))
        .orderBy("user_id", "event_type"),
      Some(latestWinsOracleSql)),

    // Partition-granular digest manifest + diff localization (✚, the
    // 100 TB answer to "what changed?": q96 compares every row's
    // digest — this first compares one XOR-folded digest PER PARTITION
    // (the manifest a lakehouse table format keeps per file), then runs
    // the row-level classifier ONLY inside the partitions whose digests
    // disagree). The delta here is sparse (edit %97, drop %101, add
    // %103 under offset ids), so most buckets verify clean from the
    // manifest alone and the expensive pass touches a handful.
    //
    // Scale shape: each side folds to 16 (bucket, n, xor64) rows —
    // content never shuffles; the dirty-bucket list is a broadcast
    // semi-filter on the row-level pass, so the q96 join runs over
    // only the changed partitions' rows. XOR of per-row 60-bit md5
    // prefixes is order-independent and bounded (no HUGEINT overflow
    // games); a digest collision needs 2^30 changed rows per bucket.
    QueryDef("q170_partition_digests",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val v1 = docs
        val v2 = docs.where(pmod(col("doc_id"), lit(101)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(97)) === 0,
              concat(col("text"), lit(" v2-edit"))).otherwise(col("text")))
          .unionByName(docs.where(pmod(col("doc_id"), lit(103)) === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        def manifest(df: DataFrame) = df.select(
            pmod(col("doc_id"), lit(16)).as("bucket"), col("doc_id"),
            conv(substring(md5(concat(col("doc_id").cast("string"),
              lit(":"), col("text"))), 1, 15), 16, 10)
              .cast("long").as("h"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
        val m = manifest(v1).withColumnRenamed("n", "n_old")
          .withColumnRenamed("x", "x_old")
          .join(manifest(v2).withColumnRenamed("n", "n_new")
            .withColumnRenamed("x", "x_new"), Seq("bucket"), "full_outer")
          .withColumn("dirty",
            !(col("n_old") <=> col("n_new")) || !(col("x_old") <=> col("x_new")))
        val dirtyB = m.where(col("dirty")).select("bucket")
        def scoped(df: DataFrame) = df
          .withColumn("bucket", pmod(col("doc_id"), lit(16)))
          .join(broadcast(dirtyB), "bucket")
        val diff = snapshotDiff(scoped(v1), scoped(v2), "doc_id", col("text"))
          .withColumn("bucket", pmod(col("doc_id"), lit(16)))
          .groupBy("bucket").agg(
            sum(when(col("change") === "added", 1L).otherwise(0L)).as("n_added"),
            sum(when(col("change") === "changed", 1L).otherwise(0L)).as("n_changed"),
            sum(when(col("change") === "removed", 1L).otherwise(0L)).as("n_removed"))
        m.join(diff, Seq("bucket"), "left")
          .select(col("bucket"), col("n_old"), col("n_new"), col("dirty"),
            coalesce(col("n_added"), lit(0L)).as("n_added"),
            coalesce(col("n_changed"), lit(0L)).as("n_changed"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"))
          .orderBy("bucket")
      },
      Some("""WITH v1 AS MATERIALIZED (
             |  SELECT doc_id, text FROM documents),
             |v2 AS MATERIALIZED (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 97 = 0 THEN text || ' v2-edit'
             |         ELSE text END AS text
             |  FROM documents WHERE doc_id % 101 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents
             |  WHERE doc_id % 103 = 0),
             |m1 AS (SELECT doc_id % 16 AS bucket, count(*) AS n_old,
             |         bit_xor(('0x' || substr(md5(doc_id || ':' || text), 1, 15))::BIGINT) AS x_old
             |       FROM v1 GROUP BY 1),
             |m2 AS (SELECT doc_id % 16 AS bucket, count(*) AS n_new,
             |         bit_xor(('0x' || substr(md5(doc_id || ':' || text), 1, 15))::BIGINT) AS x_new
             |       FROM v2 GROUP BY 1),
             |m AS MATERIALIZED (
             |  SELECT COALESCE(m1.bucket, m2.bucket) AS bucket, n_old, n_new,
             |    (n_old IS DISTINCT FROM n_new) OR (x_old IS DISTINCT FROM x_new)
             |      AS dirty
             |  FROM m1 FULL OUTER JOIN m2 ON m1.bucket = m2.bucket),
             |s1 AS (SELECT v1.* FROM v1 JOIN m ON v1.doc_id % 16 = m.bucket
             |       WHERE m.dirty),
             |s2 AS (SELECT v2.* FROM v2 JOIN m ON v2.doc_id % 16 = m.bucket
             |       WHERE m.dirty),
             |diff AS (
             |  SELECT COALESCE(s1.doc_id, s2.doc_id) % 16 AS bucket,
             |    CASE WHEN s1.doc_id IS NULL THEN 'added'
             |         WHEN s2.doc_id IS NULL THEN 'removed'
             |         WHEN md5(s1.text) IS DISTINCT FROM md5(s2.text)
             |           THEN 'changed' ELSE 'unchanged' END AS change
             |  FROM s1 FULL OUTER JOIN s2 ON s1.doc_id = s2.doc_id),
             |dc AS (SELECT bucket,
             |         CAST(sum(CASE WHEN change = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
             |         CAST(sum(CASE WHEN change = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
             |         CAST(sum(CASE WHEN change = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
             |       FROM diff WHERE change <> 'unchanged' GROUP BY bucket)
             |SELECT m.bucket, n_old, n_new, dirty,
             |  COALESCE(n_added, 0) AS n_added,
             |  COALESCE(n_changed, 0) AS n_changed,
             |  COALESCE(n_removed, 0) AS n_removed
             |FROM m LEFT JOIN dc ON dc.bucket = m.bucket
             |ORDER BY m.bucket""".stripMargin))
  )
}
