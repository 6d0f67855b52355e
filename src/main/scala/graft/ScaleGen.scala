package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic local scale-up: synthesize an sfN' corpus from an sfN
  * corpus by replicating every fact table `reps` times with disjoint key
  * spaces, so per-family scaling exponents can be measured empirically
  * (VERDICT r9 next-round #1: "would this hold at 10×?" answered with a
  * measurement, not an argument).
  *
  * Design constraints — what "10× the data" must mean for the bench to be
  * a fair scaling probe rather than a pathology generator:
  *
  *  - Referential integrity per replica: orders of replica r reference
  *    customers of replica r (keys shifted by r·maxKey), lineitem rows
  *    reference the same replica's orders/parts/suppliers. Join fanout
  *    per key therefore stays IDENTICAL to sf0.1; only key cardinality
  *    grows 10×. A skew-free 10× — exactly what a bigger corpus looks
  *    like, not a hotter one.
  *  - Documents get a per-replica TOKEN NAMESPACE (every token suffixed
  *    with a replica tag for r>0): each replica reproduces the original's
  *    internal duplicate/near-dup structure, but replicas share no
  *    shingles, so dedup/LSH pair counts scale exactly linearly. Naively
  *    copying text 10× would put 10 exact copies in every MinHash bucket
  *    → C(10,2)=45× pair blowup — a DIFFERENT workload, not a scaled one.
  *  - Embeddings get a small deterministic per-replica jitter (hash-based,
  *    ±0.05 per dim): cluster geometry is preserved (labels kept) but no
  *    two replicas are the identical point, so ε-join/kNN neighborhood
  *    sizes grow linearly, not ×10 per point.
  *  - Dimensions (region, nation) stay fixed — as in TPC-H, where nation
  *    and region are scale-factor-invariant.
  *  - Timestamps are kept: a 10× corpus over the same wall-clock span has
  *    10× the events per window, which is what windowed/streaming state
  *    actually sees when a pipeline's input grows.
  *
  * Everything is derived from (key, replica) via xxhash64 — no rand(),
  * no Date.now(): re-running produces byte-identical data.
  *
  * Usage: runMain graft.ScaleGen <srcDir> <dstDir> [reps=10] [docTokenMode=namespace]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src  = args(0)
    val dst  = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "namespace"
    val spark = Harness.session("graft-scalegen")
    generate(spark, src, dst, reps, mode)
    spark.stop()
  }

  /** @param docTokenMode how replica documents' token space scales:
    *   - "namespace" (default, the dedup-fair construction above):
    *     EVERY token of replica r>0 is suffixed — replicas share no
    *     shingles, vocab grows ∝ reps. Adversarial for open-vocabulary
    *     models (q349: model tables ∝ corpus).
    *   - "heaps": replica r suffixes only a hash-chosen ~1/(2√r)
    *     fraction of token TYPES (consistent per type within a
    *     replica), so total vocab ≈ V₀·√reps — Heaps' law with β≈0.5,
    *     what real text does. Used by the q349-class scale law; NOT a
    *     dedup-fair fixture (replicas share unsuffixed shingles, so
    *     near-dup pair counts would grow super-linearly — keep
    *     "namespace" for dedup/LSH laws). */
  def generate(spark: SparkSession, src: String, dst: String, reps: Int,
               docTokenMode: String = "namespace"): Unit = {
    val repDf = spark.range(reps).select(col("id").cast("int").as("rep"))

    def replicate(df: DataFrame): DataFrame = df.crossJoin(broadcast(repDf))

    // key shift: key + rep * span, span = next power of ten above max key
    // (human-readable offsets; replica of a key is key mod span)
    def span(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var s = 1L; while (s <= mx) s *= 10; s
    }

    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // dimensions: unchanged
    write(Tables.region(spark, src), "region", 1)
    write(Tables.nation(spark, src), "nation", 1)

    val cust = Tables.customer(spark, src)
    val sup  = Tables.supplier(spark, src)
    val part_ = Tables.part(spark, src)
    val ord  = Tables.orders(spark, src)
    val li   = Tables.lineitem(spark, src)
    val custSpan = span(cust, "c_custkey")
    val supSpan  = span(sup, "s_suppkey")
    val partSpan = span(part_, "p_partkey")
    val ordSpan  = span(ord, "o_orderkey")

    write(replicate(cust)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custSpan)
      .withColumn("c_name", concat(col("c_name"), lit("#"), col("rep")))
      .drop("rep"), "customer", 4)

    write(replicate(sup)
      .withColumn("s_suppkey", col("s_suppkey") + col("rep") * supSpan)
      .withColumn("s_name", concat(col("s_name"), lit("#"), col("rep")))
      .drop("rep"), "supplier", 2)

    write(replicate(part_)
      .withColumn("p_partkey", col("p_partkey") + col("rep") * partSpan)
      .withColumn("p_name", concat(col("p_name"), lit("#"), col("rep")))
      .drop("rep"), "part", 4)

    write(replicate(ord)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * ordSpan)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * custSpan)
      .drop("rep"), "orders", 8)

    write(replicate(li)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * ordSpan)
      .withColumn("l_partkey", col("l_partkey") + col("rep") * partSpan)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * supSpan)
      .drop("rep"), "lineitem", 16)

    val ev = Tables.events(spark, src)
    val evIdSpan = span(ev, "event_id")
    val userSpan = span(ev, "user_id")
    write(replicate(ev)
      .withColumn("event_id", col("event_id") + col("rep") * evIdSpan)
      .withColumn("user_id", col("user_id") + col("rep") * userSpan)
      .drop("rep"), "events", 16)

    val docs = Tables.documents(spark, src)
    val docSpan = span(docs, "doc_id")
    write(replicate(docs)
      .withColumn("doc_id", col("doc_id") + col("rep") * docSpan)
      // replica token namespace: r=0 keeps the original text verbatim;
      // r>0 suffixes every token, reproducing the original's internal
      // structure in a disjoint shingle space (see header)
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(
        docTokenMode match {
          case "namespace" =>
            array_join(transform(split(col("text"), " "),
              w => concat(w, lit("r"), col("rep"))), " ")
          case "heaps" =>
            // suffix a type iff xxhash64(type, rep) lands under the
            // 1/(2√r) quantile — per-TYPE-consistent within a replica,
            // new types per replica decay as 1/(2√r) ⇒ vocab ∝ √reps
            array_join(transform(split(col("text"), " "),
              w => when(
                pmod(xxhash64(w, col("rep")), lit(1000000L)).cast("double")
                  < lit(500000.0) / sqrt(col("rep").cast("double")),
                concat(w, lit("r"), col("rep"))).otherwise(w)), " ")
          case other =>
            throw new IllegalArgumentException(s"docTokenMode: $other")
        }))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("rep"), "documents", 8)

    val emb = Tables.embeddings(spark, src)
    val vecSpan = span(emb, "vec_id")
    write(replicate(emb)
      .withColumn("vec_id", col("vec_id") + col("rep") * vecSpan)
      // per-(vec,rep,dim) jitter in [-0.05, 0.05); r=0 exact original
      .withColumn("embedding", when(col("rep") === 0, col("embedding")).otherwise(
        transform(col("embedding"), (v, i) =>
          (v + (pmod(xxhash64(col("vec_id"), i), lit(1000L)).cast("double") / 1000.0 - 0.5) * 0.1)
            .cast("float"))))
      .drop("rep"), "embeddings", 4)
  }
}
