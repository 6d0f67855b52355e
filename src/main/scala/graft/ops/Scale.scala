package graft.ops

import graft.{QueryDef, Tables}
import graft.Materialize.pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale toolkit: the shuffle-shaping helpers a 100 TB deployment needs
  * beyond AQE's automatic handling — two-phase (salted) aggregation for
  * heavy-hitter keys, salted broadcast-replicated joins for skewed join
  * keys, and bucketed co-located joins that eliminate the shuffle
  * entirely for repeated joins on the same key.
  */
object Scale {

  /** Two-phase aggregation for skewed group keys: phase 1 aggregates
    * (key, salt) over `salt` times more partitions spreading each heavy
    * key across the cluster; phase 2 merges the partials. Only algebraic
    * aggregates compose this way — count and sum are provided; avg =
    * sum/count downstream.
    *
    * AQE's skew handling only splits *join* partitions; a single hot
    * GROUP BY key still lands one reducer without salting. (Spark's
    * partial aggregation already covers this when upstream map output is
    * spread; explicit salting matters when the input is pre-partitioned
    * by the hot key, e.g. after an upstream join on it.)
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], sumCols: Seq[String],
                salt: Int = 16): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val phase1 = salted.groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_cnt"),
        sumCols.map(c => sum(col(c)).as(s"_sum_$c")): _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(sum(col("_cnt")).as("n"),
        sumCols.map(c => sum(col(s"_sum_$c")).as(s"sum_$c")): _*)
  }

  /** Skewed inner equi-join: salt the big side, replicate the small side
    * across the salt space. Correct for arbitrary skew; costs
    * `salt`× duplication of the small side, so use for moderately-sized
    * build sides that exceed broadcast limits but have hot keys. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salt: Int = 8): DataFrame = {
    val bigS = big.withColumn("_salt",
      pmod(pmod(hash(col(key), monotonically_increasing_id()), lit(salt)) + lit(salt), lit(salt)))
    val smallS = small.withColumn("_salt",
      explode(array((0 until salt).map(lit): _*)))
    bigS.join(smallS, Seq(key, "_salt")).drop("_salt")
  }

  // ---- broadcast Bloom pre-join filter ----

  /** 64-bit masks indexed by bit position — a literal lookup array so
    * the probe stays in pure Column algebra (shiftleft's Scala wrapper
    * only takes a literal shift count). */
  private def bitMasks: Column = array((0 until 64).map(b => lit(1L << b)): _*)

  /** The `kHash` bit positions of `key` in an `mBits`-bit Bloom filter.
    * Independent hash functions come from seeding murmur3 with the
    * function index — the same construction on build and probe side. */
  private def bloomPositions(key: Column, mBits: Int, kHash: Int): Seq[Column] =
    (0 until kHash).map(i => pmod(hash(key, lit(i)), lit(mBits)).cast("int"))

  /** Build a Bloom bitset over the distinct values of `keys(key)` as
    * `mBits/64` longs. The aggregation is fully distributed (positions
    * fan out map-side, `bit_or` partial-aggregates per word); only the
    * finished bitset — whose size is fixed by `mBits`, NOT by the data —
    * is collected, the same documented-small driver touch as
    * `Ann.kmeansCentroids`. Size for a target false-positive rate p with
    * the standard bound mBits ≈ −n·ln(p)/ln²2, kHash ≈ (m/n)·ln 2. */
  def bloomBits(keys: DataFrame, key: String, mBits: Int = 1 << 16,
                kHash: Int = 3): Array[Long] = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    val words = keys
      .select(explode(array(bloomPositions(col(key), mBits, kHash): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("word"),
        element_at(bitMasks, col("pos").bitwiseAND(lit(63)) + 1).as("mask"))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))
      .collect()
    val arr = new Array[Long](mBits / 64)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Membership probe against a built bitset: true for every key that
    * was in the build set (no false negatives), true with probability
    * ≈ (1−e^(−kn/m))^k for keys that were not. The bitset rides the
    * plan as a literal array — evaluated per row inside whole-stage
    * codegen, no join, no broadcast variable plumbing. */
  def bloomMightContain(key: Column, bits: Array[Long], mBits: Int,
                        kHash: Int = 3): Column = {
    val wordsArr = array(bits.map(lit).toSeq: _*)
    bloomPositions(key, mBits, kHash).map { pos =>
      element_at(wordsArr, shiftright(pos, 6) + 1)
        .bitwiseAND(element_at(bitMasks, pos.bitwiseAND(lit(63)) + 1)) =!= 0
    }.reduce(_ && _)
  }

  /** Write both sides bucketed by the join key; subsequent joins on that
    * key are co-located — zero exchange (verified in ScaleSpec by plan
    * inspection). The 100 TB pattern for dimension/fact tables joined
    * repeatedly on the same key. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Drop a managed table AND its warehouse directory — the in-memory
    * catalog forgets tables between JVMs while the directory survives,
    * so a fresh session's overwrite would otherwise collide. */
  private def dropBucketed(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, table)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
  }

  /** Driver-visible gate for the bucketed co-located join: q07's exact
    * semantics, but the fact tables are first WRITTEN bucketed by the
    * join key and the join then runs with zero exchange on either side
    * (plan asserted in PlanSpec; values must equal q07's oracle). The
    * measured cost intentionally includes the bucketed write — that is
    * the real amortization decision at 100 TB: pay one layout write,
    * then every repeated fact⋈fact join on that key skips its shuffle. */
  // ---- two-phase global row numbering ----

  /** Global 1-based row_number over a total order WITHOUT the
    * single-task sort that `Window.orderBy(...)` (no partitionBy)
    * plans: range-partition on the sort key, count rows per partition
    * (a tiny aggregate — one long per partition, the same
    * documented-small driver collect as packSequences' offsets), and
    * add each partition's prefix offset to a bounded per-partition
    * row_number. Every task sorts only its own range slice.
    *
    * The range-partitioned table is PINNED (`Materialize.pin`): its
    * sampled boundaries feed both the count pass and the numbering
    * pass, and a recomputed lineage could resample different
    * boundaries. The sort key list must be a total order (append a
    * unique id) or numbering within ties is partition-dependent. */
  def globalRowNumber(df: DataFrame, sort: Seq[Column]): DataFrame =
    globalRunningSum(df, sort, lit(1L)).withColumnRenamed("cum", "rn")

  /** Global running sum of `value` over a total order — same two-phase
    * shape as [[globalRowNumber]] (which is this with value = 1): per-
    * partition subtotals (one long per partition to the driver),
    * prefix offsets folded into a literal CASE chain, bounded
    * per-partition windows. The inclusive running sum at each row is
    * its partition's offset plus the within-partition running sum. */
  def globalRunningSum(df: DataFrame, sort: Seq[Column], value: Column): DataFrame = {
    val ranged = pin(df.withColumn("_v", value)
      .repartitionByRange(sort: _*)
      .withColumn("_pid", spark_partition_id()))
    val subs = ranged.groupBy("_pid").agg(sum(col("_v")).as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // prefix offsets rejoin via a BROADCAST table (one row per
    // partition): a literal CASE chain here would grow expression
    // depth linearly with the cluster's partition count
    val spark = df.sparkSession
    import spark.implicits._
    val offs = broadcast(
      subs.map(_._1).zip(subs.scanLeft(0L)(_ + _._2)).toSeq
        .toDF("_pid", "_off"))
    // ROWS frame, not the default RANGE: identical under a total order,
    // but immune to ties if a caller under-specifies the sort
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(sort: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    ranged.join(offs, "_pid")
      .withColumn("cum", sum(col("_v")).over(w) + col("_off"))
      .drop("_pid", "_v", "_off")
  }

  /** Global running minimum of a LongType `value` over a total order —
    * the two-phase [[globalRunningSum]] shape with min in place of sum:
    * per-partition minima (one long each) to the driver, EXCLUSIVE
    * prefix minima rebroadcast, bounded per-partition windows combined
    * via least(). Appends column "cum" (the inclusive running min). */
  def globalRunningMin(df: DataFrame, sort: Seq[Column], value: Column): DataFrame =
    globalRunningExtremum(df, sort, value, isMin = true)

  /** Running maximum twin of [[globalRunningMin]]. */
  def globalRunningMax(df: DataFrame, sort: Seq[Column], value: Column): DataFrame =
    globalRunningExtremum(df, sort, value, isMin = false)

  private def globalRunningExtremum(df: DataFrame, sort: Seq[Column],
      value: Column, isMin: Boolean): DataFrame = {
    val ranged = pin(df.withColumn("_v", value)
      .repartitionByRange(sort: _*)
      .withColumn("_pid", spark_partition_id()))
    val aggOf = (c: Column) => if (isMin) min(c) else max(c)
    val subs = ranged.groupBy("_pid").agg(aggOf(col("_v")).as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val init = if (isMin) Long.MaxValue else Long.MinValue
    val comb: (Long, Long) => Long = if (isMin) math.min else math.max
    // exclusive prefix extremum: partition p sees the extremum of all
    // strictly-preceding partitions (init for the first — the identity)
    val prefix = subs.scanLeft(init) { case (acc, (_, s)) => comb(acc, s) }
    val spark = df.sparkSession
    import spark.implicits._
    val offs = broadcast(subs.map(_._1).zip(prefix).toSeq.toDF("_pid", "_off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(sort: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val within = aggOf(col("_v")).over(w)
    ranged.join(offs, "_pid")
      .withColumn("cum",
        if (isMin) least(within, col("_off")) else greatest(within, col("_off")))
      .drop("_pid", "_v", "_off")
  }

  /** lead(value, 1) over a total ASCENDING order without a single-task
    * window — the two-phase shape of [[globalRunningSum]] applied to
    * successor lookup: range partitions, bounded per-partition LEAD
    * windows, and the cross-partition successor stitched in from the
    * per-partition head values (one row per non-empty partition to the
    * driver — the same bounded collect as the prefix subtotals). The
    * globally-last row gets NULL. Appends column "lead". `sort` must be
    * plain ascending columns (the head lookup orders by their struct),
    * and `value` must be non-null (a null value is indistinguishable
    * from the end-of-partition marker the boundary stitch replaces). */
  def globalLead(df: DataFrame, sort: Seq[Column], value: Column): DataFrame = {
    val ranged = pin(df.withColumn("_v", value)
      .repartitionByRange(sort: _*)
      .withColumn("_pid", spark_partition_id()))
    val heads = ranged.groupBy("_pid")
      .agg(min_by(col("_v"), struct(sort: _*)).as("_h"))
      .collect().map(r => (r.getInt(0), r.get(1))).sortBy(_._1)
    // successor head for each non-empty partition = head of the next
    // non-empty one (range partitions can be empty; skip them)
    val nexts = heads.map { case (pid, _) =>
      org.apache.spark.sql.Row(pid,
        heads.collectFirst { case (p, h) if p > pid => h }.orNull)
    }
    val spark = df.sparkSession
    val vType = ranged.schema(ranged.schema.fieldIndex("_v")).dataType
    val offs = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(nexts: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_pid",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_nh", vType, nullable = true)))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_pid").orderBy(sort: _*)
    ranged.join(offs, "_pid")
      .withColumn("lead", coalesce(lead(col("_v"), 1).over(w), col("_nh")))
      .drop("_pid", "_v", "_nh")
  }

  // ---- Z-order (Morton) clustering layout ----

  /** Morton interleave of two 8-bit cell coordinates into a 16-bit
    * z-value: x's bit i lands at position 2i, y's at 2i+1. Pure integer
    * Column algebra (shift/and/add) — codegen-friendly, and the oracle
    * writes the identical `(v // 2^i) % 2` arithmetic. */
  private def morton8(xb: Column, yb: Column): Column =
    (0 until 8).map { i =>
      shiftright(xb, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
      shiftright(yb, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Adds a z-order key over two INTEGRAL dimension columns: each is
    * scaled to an 8-bit cell with pure integer arithmetic
    * `((v - min) * 256) div (max - min + 1)` (exact — no float
    * boundary drift between engines), then Morton-interleaved.
    *
    * Scale: the min/max bounds are ONE 1-row aggregate broadcast back
    * (at 100 TB they come from table statistics instead — same two
    * numbers per dimension); the key itself is per-row narrow
    * arithmetic. Sorting/range-partitioning by `z` co-locates rows
    * that are close in BOTH dimensions, so parquet min/max file stats
    * prune selective predicates on EITHER column — the multi-dim
    * pruning a single-column sort cannot give. */
  def zOrderKey(df: DataFrame, x: Column, y: Column): DataFrame = {
    val b = df.select(x.as("_zx"), y.as("_zy"))
      .agg(min("_zx").as("_minx"), max("_zx").as("_maxx"),
           min("_zy").as("_miny"), max("_zy").as("_maxy"))
    df.withColumn("_zx", x).withColumn("_zy", y)
      .crossJoin(broadcast(b))
      .withColumn("xb", expr("((_zx - _minx) * 256) div (_maxx - _minx + 1)"))
      .withColumn("yb", expr("((_zy - _miny) * 256) div (_maxy - _miny + 1)"))
      .withColumn("z", morton8(col("xb"), col("yb")))
      .drop("_zx", "_zy", "_minx", "_maxx", "_miny", "_maxy")
  }

  /** The clustered layout itself: one range shuffle on `z`. Each output
    * partition then covers a contiguous z-run = a bounded rectangle
    * family in (x, y) space (ScaleSpec asserts disjoint z-ranges and
    * bounded per-partition extents) — written as files, every file's
    * min/max stats are selective on both dimensions. */
  def zOrderLayout(df: DataFrame, x: Column, y: Column,
                   partitions: Int = 32): DataFrame =
    zOrderKey(df, x, y).repartitionByRange(partitions, col("z"))

  /** Distributed per-key lag for LOW-CARDINALITY keys — the shape the
    * round-10 scaling study caught super-linear (q213 at 11.8× for 10×
    * data): `Window.partitionBy(key)` caps parallelism at |keys| tasks,
    * so per-key sequence ops over a handful of event types serialize
    * the corpus. Two-phase instead (the DistributedSplit boundary-repair
    * discipline): range-partition on (key, ts, tie) — each partition
    * holds a contiguous slice of one-or-two keys' timelines — lag
    * WITHIN (key, partition) slices (partitions × keys bounded windows),
    * and repair each slice's first row from a driver-assembled carry
    * table (≤ partitions × keys rows — the documented-small collect,
    * like globalRunningSum's subtotals). Exactly equals the global
    * per-key lag (ScaleSpec pins it on adversarial splits).
    *
    * Returns the input columns + `prev` (the previous ts within the
    * row's key, null for each key's first row). */
  def distributedLag(df: DataFrame, key: Column, ts: Column, tie: Column,
      partitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranged = pin(df
      .withColumn("_k", key).withColumn("_ts", ts).withColumn("_tie", tie)
      .repartitionByRange(partitions, col("_k"), col("_ts"), col("_tie"))
      .withColumn("_pid", spark_partition_id()))
    // carry table: for each (pid, key), the latest ts of the SAME key in
    // the nearest earlier partition that contains it
    val last = ranged.groupBy("_pid", "_k").agg(max(col("_ts")).as("_last"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._2, r._1))
    val carry = last.zip(last.drop(1)).collect {
      case ((pPrev, kPrev, lastTs), (pNext, kNext, _))
          if kPrev == kNext && pPrev < pNext => (pNext, kNext, lastTs)
    }.toSeq
    val carryDf = broadcast(
      if (carry.isEmpty) Seq.empty[(Int, String, Long)].toDF("_pid", "_k", "_carry")
      else carry.toDF("_pid", "_k", "_carry"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_k", "_pid").orderBy("_ts", "_tie")
    ranged
      .withColumn("_prev_in", lag(col("_ts"), 1).over(w))
      .withColumn("_rn", row_number().over(w))
      .join(carryDf, Seq("_pid", "_k"), "left")
      .withColumn("prev",
        when(col("_prev_in").isNotNull, col("_prev_in"))
          .when(col("_rn") === 1, col("_carry")))
      .drop("_k", "_ts", "_tie", "_pid", "_prev_in", "_rn", "_carry")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q65_bucketed_join",
      (s, d) => {
        import graft.QueryDef.dec
        // per-sf table names: one session may gate several scale factors
        val tag = math.abs(d.hashCode).toString
        val lt = s"q65_lineitem_$tag"
        val ot = s"q65_orders_$tag"
        Seq(lt, ot).foreach(dropBucketed(s, _))
        // layout writes carry only the join-relevant projection — the
        // production shape (a bucketed layout is a materialized view for
        // a known join, not a full-table copy) and most of this query's
        // measured cost
        writeBucketed(Tables.lineitem(s, d)
          .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"),
            col("l_extendedprice"), col("l_discount")),
          lt, "o_orderkey", 16)
        writeBucketed(Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          ot, "o_orderkey", 16)
        s.table(lt)
          .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
          .join(s.table(ot), "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some(Relational.joinRevenueOracleSql)),

    // Broadcast Bloom pre-join: revenue of line items belonging to
    // high-value orders. The bloom (built from the ~10% qualifying
    // order keys, fixed 8 KiB bitset) filters lineitem IN ITS SCAN —
    // rows that cannot join never reach the exchange, the explicit
    // form of Spark's runtime row-filter that a user can apply to any
    // pipeline stage (pre-aggregated inputs, mid-pipeline frames)
    // where the optimizer's own InSubquery rewrite cannot see the
    // join. False positives (bounded by (1−e^(−kn/m))^k ≈ 1e-7 here)
    // are removed by the exact join that follows, so the oracle is the
    // plain join — the bloom changes the physical row flow only.
    QueryDef("q97_bloom_prejoin",
      (s, d) => {
        import graft.QueryDef.dec
        val hi = Tables.orders(s, d)
          .where(col("o_totalprice") > 450000.0)
          .select("o_orderkey", "o_orderpriority")
        val bits = bloomBits(hi, "o_orderkey")
        Tables.lineitem(s, d)
          .where(bloomMightContain(col("l_orderkey"), bits, 1 << 16))
          .join(hi, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
            .cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_items
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_totalprice > 450000
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Per-group top-k through the bounded TopK fold (Folds.TopK): top-5
    // docs per source by token count. A row_number window would sort
    // each source's entire shard in one task; the fold's buffer caps at
    // k everywhere, so the shuffle moves <= k rows per (partition,
    // source). Oracle uses the window formulation — same rows, the
    // physical shape is exactly what differs.
    QueryDef("q86_topk_per_group",
      (s, d) => {
        import s.implicits._
        val topk = new graft.functions.Folds.TopK(5)
        Tables.documents(s, d)
          .select(col("source"),
            size(split(col("text"), " ")).cast("double").as("score"),
            col("doc_id"))
          .as[(String, Double, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("top"))
          .flatMap { case (src, top) =>
            top.iterator.zipWithIndex.map { case ((score, id), i) =>
              (src, (i + 1).toLong, id, score.toLong) } }
          .toDF("source", "rank", "doc_id", "n_tok")
          .orderBy("source", "rank")
      },
      Some("""SELECT source, rank, doc_id, n_tok FROM (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY len(string_split(text, ' ')) DESC, doc_id)
             |      AS BIGINT) AS rank
             |  FROM documents) t
             |WHERE rank <= 5
             |ORDER BY source, rank""".stripMargin)),

    // Z-order clustering report over events (user_id × event time):
    // per coarse z-cell (64 cells of 1024 z-values), the row count and
    // the exact (xb, yb) bounding rectangle. Tight rectangles ARE the
    // multi-dim pruning evidence: a predicate on either dimension
    // eliminates whole z-runs. The aggregation is keyed by at most 64
    // cells — bounded at any corpus size.
    QueryDef("q117_zorder_layout",
      (s, d) => {
        val z = zOrderKey(Tables.events(s, d),
          col("user_id"), unix_micros(col("ts")))
        z.groupBy((col("z") / lit(1024)).cast("long").as("zcell"))
          .agg(count(lit(1)).as("n"),
               min("xb").as("xb_min"), max("xb").as("xb_max"),
               min("yb").as("yb_min"), max("yb").as("yb_max"))
          .orderBy("zcell")
      },
      Some {
        val terms = (0 until 8).map { i =>
          s"((xb // ${1L << i}) % 2) * ${1L << (2 * i)}" +
          s" + ((yb // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        s"""WITH b AS (
           |  SELECT MIN(user_id) AS minx, MAX(user_id) AS maxx,
           |         MIN(epoch_us(ts)) AS miny, MAX(epoch_us(ts)) AS maxy
           |  FROM events),
           |c AS (
           |  SELECT ((user_id - minx) * 256) // (maxx - minx + 1) AS xb,
           |         ((epoch_us(ts) - miny) * 256) // (maxy - miny + 1) AS yb
           |  FROM events, b),
           |z AS (SELECT xb, yb, $terms AS z FROM c)
           |SELECT z // 1024 AS zcell, COUNT(*) AS n,
           |  MIN(xb) AS xb_min, MAX(xb) AS xb_max,
           |  MIN(yb) AS yb_min, MAX(yb) AS yb_max
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Join-key skew diagnosis (✚, the report that DECIDES whether
    // saltedJoin/saltedAgg above are needed): per candidate key, the
    // group-size distribution — rows, keys, max, mean, exact p50/p99
    // (via the OrderStats refinement path, never a sort of the counts
    // table), the largest key's row share, and the implied salt factor
    // ceil(max/p99) that would flatten the hottest key to a typical
    // partition's load. Scale: each key costs one map-side-combined
    // count aggregation; the quantiles refine over the PINNED counts
    // table (keys-sized, not corpus-sized) with O(B) driver state.
    QueryDef("q155_skew_report",
      (s, d) => {
        import s.implicits._
        def report(name: String, df: DataFrame, key: Column) = {
          val counts = df.groupBy(key.as("k")).agg(count(lit(1)).as("n"))
            .transform(pin)
          val r = counts.agg(sum("n").cast("long"), count(lit(1)), max("n")).first()
          val (nRows, nKeys, maxN) = (r.getLong(0), r.getLong(1), r.getLong(2))
          val p50 = OrderStats.selectKth(counts, col("n"),
            math.ceil(0.5 * nKeys).toLong)
          val p99 = OrderStats.selectKth(counts, col("n"),
            math.ceil(0.99 * nKeys).toLong)
          def r6(v: Double) = BigDecimal.valueOf(v)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (name, nRows, nKeys, maxN, r6(nRows.toDouble / nKeys), p50, p99,
            r6(maxN.toDouble / nRows),
            math.ceil(maxN / math.max(p99, 1.0)).toLong)
        }
        Seq(
          report("events.user_id", Tables.events(s, d), col("user_id")),
          report("lineitem.l_orderkey", Tables.lineitem(s, d), col("l_orderkey")),
          report("orders.o_custkey", Tables.orders(s, d), col("o_custkey")))
          .toDF("key", "n_rows", "n_keys", "max_n", "avg_n", "p50_n", "p99_n",
            "top_share", "salt_factor")
          .orderBy("key")
      },
      Some {
        def arm(label: String, table: String, key: String) =
          s"""SELECT '$label' AS key, n_rows, n_keys, max_n,
             |  round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_n,
             |  p50 AS p50_n, p99 AS p99_n,
             |  round(CAST(max_n AS DOUBLE) / n_rows, 6) AS top_share,
             |  CAST(ceil(CAST(max_n AS DOUBLE) / greatest(p99, 1.0)) AS BIGINT) AS salt_factor
             |FROM (
             |  SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
             |         CAST(max(n) AS BIGINT) AS max_n
             |  FROM (SELECT count(*) AS n FROM $table GROUP BY $key)) agg,
             |(
             |  SELECT
             |    CAST(max(CASE WHEN rn = CAST(ceil(0.5 * nk) AS BIGINT) THEN n END) AS DOUBLE) AS p50,
             |    CAST(max(CASE WHEN rn = CAST(ceil(0.99 * nk) AS BIGINT) THEN n END) AS DOUBLE) AS p99
             |  FROM (
             |    SELECT n, ROW_NUMBER() OVER (ORDER BY n) AS rn,
             |           COUNT(*) OVER () AS nk
             |    FROM (SELECT count(*) AS n FROM $table GROUP BY $key))) q""".stripMargin
        Seq(arm("events.user_id", "events", "user_id"),
            arm("lineitem.l_orderkey", "lineitem", "l_orderkey"),
            arm("orders.o_custkey", "orders", "o_custkey"))
          .mkString("", "\nUNION ALL\n", "\nORDER BY key")
      }),

    // Cross-source quantile normalization (✚, score calibration before
    // global filtering: a length/quality cut applied to RAW values
    // keeps whole sources out — each source's distribution is mapped
    // onto the GLOBAL distribution by rank, so "top half of src3"
    // lands where "top half of the corpus" lands). Each document's
    // within-source rank r (of n_src) maps to the global value at rank
    // ceil(r·N / n_src) — pure integer arithmetic, (r·N + n_src −
    // 1) div n_src, no float percentile boundaries. The global ranked
    // table comes from the two-phase [[globalRowNumber]] machinery
    // (range partitions + broadcast offsets — never a single-task
    // window); within-source ranks are ordinarily partitioned windows.
    // One shuffle joins the integer target rank against the global
    // table's rank key.
    QueryDef("q186_quantile_normalize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
        val nGlob = docs.count()
        val glob = globalRowNumber(
          docs.select(col("n_chars").as("gv"), col("doc_id").as("gid")),
          Seq(col("gv"), col("gid")))
          .select(col("rn").as("grn"), col("gv"))
        val bySrc = Window.partitionBy("source")
          .orderBy(col("n_chars"), col("doc_id"))
        val ranked = docs
          .withColumn("r", row_number().over(bySrc).cast("long"))
          .withColumn("n_src",
            count(lit(1)).over(Window.partitionBy("source")))
          .withColumn("grn",
            expr(s"(r * ${nGlob}L + n_src - 1L) div n_src"))
        ranked.join(glob, "grn")
          .select(col("doc_id"), col("source"), col("n_chars"),
            col("gv").as("norm_chars"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS MATERIALIZED (
             |  SELECT doc_id, source, n_chars FROM documents),
             |g AS MATERIALIZED (
             |  SELECT n_chars AS gv,
             |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS grn
             |  FROM d),
             |nn AS (SELECT count(*) AS n FROM d),
             |r AS (
             |  SELECT doc_id, source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS r,
             |    COUNT(*) OVER (PARTITION BY source) AS n_src
             |  FROM d),
             |r2 AS (
             |  SELECT doc_id, source, n_chars,
             |    (r * nn.n + n_src - 1) // n_src AS grn
             |  FROM r, nn)
             |SELECT doc_id, source, n_chars, gv AS norm_chars
             |FROM r2 JOIN g USING (grn)
             |ORDER BY doc_id""".stripMargin)),

    // Dictionary-encoding advisor (✚, the layout decision q117/q204
    // leave open: WHICH string columns earn dictionary encoding in the
    // written files): per column, exact plain bytes (Σ value lengths)
    // vs dictionary bytes (Σ distinct-value lengths + n·code width),
    // with the code width in EXACT integer arithmetic — bits =
    // len(bin(n_distinct − 1)), never a float log2 that rounds wrong
    // at powers of two. Scale: one stacked scan feeding two
    // aggregations (per-column totals; per-column distinct totals) —
    // column count × distinct values, never row-count state.
    QueryDef("q220_encoding_advisor",
      (s, d) => {
        val st = Tables.part(s, d).selectExpr(
          "stack(3, 'p_brand', p_brand, 'p_name', p_name, 'p_type', p_type) AS (c, v)")
        val base = st.groupBy("c").agg(count(lit(1)).as("n"),
          sum(length(col("v"))).as("plain_bytes"),
          countDistinct(col("v")).as("n_distinct"))
        val dist = st.distinct().groupBy("c")
          .agg(sum(length(col("v"))).as("dict_value_bytes"))
        base.join(dist, "c")
          .withColumn("code_bytes", expr("(length(bin(n_distinct - 1)) + 7) div 8"))
          .withColumn("dict_bytes",
            col("dict_value_bytes") + col("n") * col("code_bytes"))
          .select(col("c"), col("n"), col("n_distinct"),
            col("plain_bytes"), col("dict_bytes"),
            (col("dict_bytes") < col("plain_bytes")).as("dict_wins"),
            round(col("dict_bytes").cast("double") / col("plain_bytes"), 6)
              .as("ratio"))
          .orderBy("c")
      },
      Some("""WITH st AS (
             |  SELECT 'p_brand' AS c, p_brand AS v FROM part
             |  UNION ALL SELECT 'p_name', p_name FROM part
             |  UNION ALL SELECT 'p_type', p_type FROM part),
             |base AS (
             |  SELECT c, COUNT(*) AS n, SUM(length(v)) AS plain_bytes,
             |    COUNT(DISTINCT v) AS n_distinct
             |  FROM st GROUP BY c),
             |dist AS (
             |  SELECT c, SUM(length(v)) AS dict_value_bytes
             |  FROM (SELECT DISTINCT c, v FROM st) t GROUP BY c),
             |j AS (
             |  SELECT base.c, n, n_distinct, plain_bytes, dict_value_bytes,
             |    (length(bin(n_distinct - 1)) + 7) // 8 AS code_bytes
             |  FROM base JOIN dist ON base.c = dist.c)
             |SELECT c, n, n_distinct, CAST(plain_bytes AS BIGINT) AS plain_bytes,
             |  CAST(dict_value_bytes + n * code_bytes AS BIGINT) AS dict_bytes,
             |  dict_value_bytes + n * code_bytes < plain_bytes AS dict_wins,
             |  round(CAST(dict_value_bytes + n * code_bytes AS DOUBLE)
             |    / plain_bytes, 6) AS ratio
             |FROM j ORDER BY c""".stripMargin)),

    // Layout A/B under a 2-predicate scan (✚, the measurement that
    // justifies q117's z-order machinery: q204 audits ONE layout; real
    // layout decisions compare candidates): the same lineitem laid into
    // 64 files two ways — linear shipdate order vs z-order on
    // (suppkey, shipdate) — and the same predicate (Q1-1996 AND
    // suppkey 100–199) priced against both layouts' per-file min/max
    // zone maps on BOTH columns. Linear order gives perfect shipdate
    // zones and useless suppkey zones; the z-order run trades a little
    // of each dimension for selectivity on both — the report shows
    // exactly what that trade buys in skipped files and residual scan.
    // Scale: both ranks are two-phase globalRowNumber (never a
    // single-task sort); zone tables are 64 rows each.
    QueryDef("q224_layout_compare",
      (s, d) => {
        val lo = 820454400000000L  // 1996-01-01 00:00:00 UTC in micros
        val hi = 828316799000000L  // 1996-03-31 23:59:59 UTC
        val li = Tables.lineitem(s, d)
          .select(unix_micros(col("l_shipdate").cast("timestamp")).as("sd_us"),
            col("l_suppkey").as("sk"), col("l_orderkey"), col("l_linenumber"))
        def audit(label: String, ranked: DataFrame): DataFrame = {
          val n = ranked.agg(count(lit(1)).as("nn"))
          val filed = ranked.crossJoin(broadcast(n))
            .withColumn("file", floor((col("rn") - 1) * 64 / col("nn")).cast("int"))
          val zones = filed.groupBy("file").agg(
            min("sd_us").as("sd_min"), max("sd_us").as("sd_max"),
            min("sk").as("sk_min"), max("sk").as("sk_max"),
            count(lit(1)).as("rows"),
            sum(when(col("sd_us").between(lo, hi) &&
              col("sk").between(100L, 199L), 1L).otherwise(0L)).as("match_rows"))
          val skip = col("sd_max") < lo || col("sd_min") > hi ||
            col("sk_max") < 100L || col("sk_min") > 199L
          zones.agg(count(lit(1)).as("n_files"),
              sum(skip.cast("long")).as("files_skipped"),
              sum(when(!skip, col("rows")).otherwise(0L)).as("rows_scanned"),
              sum(col("match_rows")).as("rows_matching"))
            .withColumn("layout", lit(label))
        }
        val linear = audit("a_linear_shipdate", globalRowNumber(li,
          Seq(col("sd_us"), col("l_orderkey"), col("l_linenumber"))))
        val zed = audit("b_zorder_sk_sd", globalRowNumber(
          zOrderKey(li, col("sk"), col("sd_us")),
          Seq(col("z"), col("l_orderkey"), col("l_linenumber"))))
        linear.unionByName(zed)
          .select("layout", "n_files", "files_skipped", "rows_scanned",
            "rows_matching")
          .orderBy("layout")
      },
      Some {
        val zterms = (0 until 8).map { i =>
          s"((xb // ${1L << i}) % 2) * ${1L << (2 * i)}" +
          s" + ((yb // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
        }.mkString(" + ")
        def arm(label: String, rankedCte: String) =
          s"""SELECT '$label' AS layout, COUNT(*) AS n_files,
             |  CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT)
             |    AS files_skipped,
             |  CAST(SUM(CASE WHEN skip THEN 0 ELSE rows_ END) AS BIGINT)
             |    AS rows_scanned,
             |  CAST(SUM(match_rows) AS BIGINT) AS rows_matching
             |FROM (
             |  SELECT file,
             |    MAX(sd_us) < 820454400000000 OR MIN(sd_us) > 828316799000000
             |      OR MAX(sk) < 100 OR MIN(sk) > 199 AS skip,
             |    COUNT(*) AS rows_,
             |    SUM(CASE WHEN sd_us BETWEEN 820454400000000 AND 828316799000000
             |        AND sk BETWEEN 100 AND 199 THEN 1 ELSE 0 END) AS match_rows
             |  FROM (
             |    SELECT sd_us, sk, ((rn - 1) * 64) // nn AS file
             |    FROM ($rankedCte) rr, (SELECT COUNT(*) AS nn FROM src) n)
             |  GROUP BY file) zones""".stripMargin
        s"""WITH src AS (
           |  SELECT epoch_us(l_shipdate) AS sd_us, l_suppkey AS sk,
           |    l_orderkey, l_linenumber
           |  FROM lineitem),
           |b AS (
           |  SELECT MIN(sk) AS minx, MAX(sk) AS maxx,
           |         MIN(sd_us) AS miny, MAX(sd_us) AS maxy
           |  FROM src),
           |zsrc AS (
           |  SELECT sd_us, sk, l_orderkey, l_linenumber, xb, yb,
           |    $zterms AS z
           |  FROM (
           |    SELECT src.*,
           |      ((sk - minx) * 256) // (maxx - minx + 1) AS xb,
           |      ((sd_us - miny) * 256) // (maxy - miny + 1) AS yb
           |    FROM src, b) c)
           |${arm("a_linear_shipdate",
             "SELECT sd_us, sk, ROW_NUMBER() OVER (ORDER BY sd_us, l_orderkey, l_linenumber) AS rn FROM src")}
           |UNION ALL
           |${arm("b_zorder_sk_sd",
             "SELECT sd_us, sk, ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber) AS rn FROM zsrc")}
           |ORDER BY layout""".stripMargin
      }),

    // Gini concentration of customer spend per segment (✚, the
    // inequality summary q155's skew report doesn't give: max/p99 say
    // "one key is hot"; Gini says how concentrated the WHOLE
    // distribution is — the number a capacity planner or a
    // mixture-balance audit quotes). Exact rank formula
    // G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) with i the ascending
    // within-segment rank: ranks come from ONE two-phase
    // globalRowNumber over the (segment, spend, cust) total order
    // (per-customer aggregates, never raw orders), segment interiors
    // recovered by subtracting the segment's start offset (the q242
    // trick — |segments| broadcast rows, no per-segment single-task
    // window). Σ i·xᵢ multiplies DECIMAL spend by the integer rank —
    // exact at any n — and doubles appear only in the final G with
    // token-identical shape, round@6.
    QueryDef("q244_gini_concentration",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"),
            col("c_custkey").as("cust"))
          .agg(sum(QueryDef.dec(col("o_totalprice"))).as("x"))
        val rn = globalRowNumber(spend,
          Seq(col("segment"), col("x"), col("cust")))
        val offs = rn.groupBy(col("segment").as("seg2"))
          .agg(min(col("rn")).as("minrn"))
        val ranked = rn.join(broadcast(offs),
            col("segment") === col("seg2"))
          .withColumn("i", col("rn") - col("minrn") + lit(1L))
        ranked.groupBy("segment")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("x")).as("s0"),
            // (18,2)×(19,0) → DECIMAL(38,2): inside width on BOTH
            // engines (DuckDB hard-errors past 38; Spark silently
            // down-scales) — per-customer spend fits 16 digits at any SF
            sum(col("x").cast("decimal(18,2)") *
              col("i").cast("decimal(19,0)")).as("s1"))
          .select(col("segment"), col("n_customers"),
            col("s0").cast("double").as("total_spend"),
            round((lit(2.0) * col("s1").cast("double") -
              (col("n_customers") + lit(1L)).cast("double") *
                col("s0").cast("double")) /
              (col("n_customers").cast("double") * col("s0").cast("double")),
              6).as("gini"))
          .orderBy("segment")
      },
      Some("""WITH spend AS (
             |  SELECT c_mktsegment AS segment, c_custkey AS cust,
             |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS x
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY 1, 2),
             |ranked AS (
             |  SELECT segment, x,
             |    ROW_NUMBER() OVER (PARTITION BY segment
             |      ORDER BY x, cust) AS i
             |  FROM spend)
             |SELECT segment, COUNT(*) AS n_customers,
             |  CAST(SUM(x) AS DOUBLE) AS total_spend,
             |  round((2.0 * CAST(SUM(CAST(x AS DECIMAL(18,2))
             |      * CAST(i AS DECIMAL(19,0))) AS DOUBLE) -
             |    CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) /
             |    (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 6) AS gini
             |FROM ranked GROUP BY segment ORDER BY segment""".stripMargin)),

    // Hill tail-index estimator of user activity (✚, the heavy-tail
    // diagnostic on the ENTITY axis — q171's Zipf fits token
    // frequencies by regression over all ranks; Hill estimates the
    // tail exponent α from only the top-k order statistics, the
    // estimator of record for "how pathological are the heaviest
    // users", which sizes the q42-44 salting decisions). Per-user
    // counts aggregate map-side; the top-50 order statistics come
    // from TakeOrderedAndProject (bounded heaps, no sort); the ln
    // ratio terms follow the round@9 DECIMAL discipline. Ties at the
    // k-th value don't matter: tied users carry the same count, so
    // the top-k MULTISET of counts — all Hill needs — is unique.
    QueryDef("q270_hill_tail",
      (s, d) => {
        val k = 50
        val act = Tables.events(s, d)
          .groupBy("user_id").agg(count(lit(1)).as("x"))
        val top = act.orderBy(col("x").desc, col("user_id")).limit(k)
          .transform(pin)
        val xk = top.agg(min("x")).first().getLong(0)
        top.agg(sum(round(log(col("x").cast("double") / xk), 9)
            .cast("decimal(38,9)")).cast("double").as("slog"))
          .select(lit(k).as("k"), lit(xk).as("x_k"),
            round(lit(k - 1).cast("double") / col("slog"), 6).as("alpha"))
      },
      Some("""WITH act AS (
             |  SELECT user_id, COUNT(*) AS x FROM events GROUP BY 1),
             |top AS (
             |  SELECT x FROM act ORDER BY x DESC, user_id LIMIT 50),
             |xk AS (SELECT CAST(MIN(x) AS BIGINT) AS xk FROM top)
             |SELECT 50 AS k, xk.xk AS x_k,
             |  round(CAST(49 AS DOUBLE) /
             |    CAST(SUM(CAST(round(ln(CAST(x AS DOUBLE) / xk.xk), 9)
             |      AS DECIMAL(38,9))) AS DOUBLE), 6) AS alpha
             |FROM top CROSS JOIN xk GROUP BY xk.xk""".stripMargin)),

    // Diversity-constrained top-k (✚, the retrieval post-processor:
    // a raw top-20 by length is dominated by whichever source mints
    // long documents; capping each source at 2 slots yields the
    // result page a search/curation surface actually shows). The cap
    // is the bounded per-group TopK FOLD (q86's typed Aggregator —
    // partial heaps merge map-side; NO per-source window, so a
    // low-cardinality source axis imposes no |sources|-task ceiling),
    // and the global cut is TakeOrderedAndProject over the ≤ 2·|src|
    // survivors. Integer score (n_chars), doc_id tiebreak — total
    // order, no floats.
    QueryDef("q271_diverse_topk",
      (s, d) => {
        import s.implicits._
        val topk = new graft.functions.Folds.TopK(2)
        Tables.documents(s, d)
          .select(col("source"), col("n_chars").cast("double").as("score"),
            col("doc_id"))
          .as[(String, Double, Long)]
          .groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
          .agg(topk.toColumn.name("top"))
          .flatMap { case (src, top) => top.map(t => (src, t._1, t._2)) }
          .toDF("source", "score", "doc_id")
          .select(col("source"), col("score").cast("long").as("n_chars"),
            col("doc_id"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .limit(20)
      },
      Some("""WITH ranked AS (
             |  SELECT source, n_chars, doc_id,
             |    ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id) AS rs
             |  FROM documents)
             |SELECT source, n_chars, doc_id
             |FROM ranked WHERE rs <= 2
             |ORDER BY n_chars DESC, doc_id LIMIT 20""".stripMargin)),

    // Period-over-period rank movers (✚, the leaderboard-churn report:
    // which parts' REVENUE RANK moved most between the pre-1998 and
    // 1998+ halves — absolute revenue deltas chase inflation and
    // volume; rank deltas surface genuine reshuffling). Revenue per
    // (period, part) is exact integer CENTS (2-dp money ×100 — the
    // decimal-sum discipline in BIGINT form, order-independent);
    // ranking never sorts the corpus: ONE two-phase globalRowNumber
    // over (period, −revenue, part) covers both periods in the same
    // pass, per-period interiors recovered by the q242/q244 offset
    // subtraction. The final join is part-keyed (8-byte), the movers
    // cut is TakeOrderedAndProject.
    QueryDef("q250_rank_movers",
      (s, d) => {
        val rev = Tables.lineitem(s, d)
          .select(col("l_partkey").as("pk"),
            when(year(col("l_shipdate")) < 1998, "a").otherwise("b")
              .as("period"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
          .groupBy("period", "pk").agg(sum(col("cents")).as("rc"))
        val rn = globalRowNumber(rev,
          Seq(col("period"), (-col("rc")).as("nrc"), col("pk")))
        val offs = rn.groupBy(col("period").as("p2"))
          .agg(min(col("rn")).as("minrn"))
        val ranked = rn.join(broadcast(offs), col("period") === col("p2"))
          .select(col("period"), col("pk"),
            (col("rn") - col("minrn") + lit(1L)).as("r"))
        val a = ranked.where(col("period") === "a")
          .select(col("pk"), col("r").as("rank_a"))
        val b = ranked.where(col("period") === "b")
          .select(col("pk"), col("r").as("rank_b"))
        a.join(b, "pk")
          .select(col("pk"), col("rank_a"), col("rank_b"),
            (col("rank_a") - col("rank_b")).as("delta"))
          .orderBy(abs(col("delta")).desc, col("pk"))
          .limit(20)
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey AS pk,
             |    CASE WHEN year(l_shipdate) < 1998 THEN 'a' ELSE 'b' END
             |      AS period,
             |    CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
             |      AS BIGINT) AS rc
             |  FROM lineitem GROUP BY 2, 1),
             |ranked AS (
             |  SELECT period, pk,
             |    ROW_NUMBER() OVER (PARTITION BY period
             |      ORDER BY rc DESC, pk) AS r
             |  FROM rev)
             |SELECT a.pk, a.r AS rank_a, b.r AS rank_b,
             |  a.r - b.r AS delta
             |FROM ranked a JOIN ranked b
             |  ON a.pk = b.pk AND a.period = 'a' AND b.period = 'b'
             |ORDER BY abs(a.r - b.r) DESC, a.pk LIMIT 20""".stripMargin)),

    // Join-key skew diagnostic (✚, the pre-flight report THIS file's
    // own machinery keys off: before a 100 TB fact-fact join, is the
    // key skewed enough to need saltedJoin/AQE skew splitting? The
    // report is the evidence — max/mean frequency ratio, p50/p99
    // frequency, and the mass share of the 10 heaviest keys). The
    // frequency table is ONE map-side-combined count keyed by the
    // 8-byte join key; p50/p99 resolve through selectKths' bounded
    // refinement (one shared round series for both ranks — never a
    // sort of the key table); the heavy-hitter mass is a bounded
    // TakeOrderedAndProject heap. Integer ranks use exact integer
    // ceil arithmetic ((n+1)/2, (99n+99)/100) on BOTH engines; the
    // two ratios combine in identical double shape, round@6.
    QueryDef("q287_skew_audit",
      (s, d) => {
        val freq = Tables.lineitem(s, d)
          .groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("cnt"))
          .transform(pin)
        val nk = freq.count()
        val k50 = (nk + 1) / 2
        val k99 = (99 * nk + 99) / 100
        val qs = OrderStats.selectKths(freq, col("cnt"), Seq(k50, k99))
        val t10 = freq.orderBy(col("cnt").desc, col("pk")).limit(10)
          .agg(sum(col("cnt"))).first().getLong(0)
        freq.agg(sum(col("cnt")).as("tot"), max(col("cnt")).as("mx"))
          .select(lit(nk).as("n_keys"), col("mx").as("max_cnt"),
            lit(qs(k50).toLong).as("p50"), lit(qs(k99).toLong).as("p99"),
            round(col("mx").cast("double") * lit(nk) / col("tot"), 6)
              .as("skew_ratio"),
            round(lit(t10).cast("double") / col("tot"), 6)
              .as("top10_share"))
      },
      Some("""WITH freq AS (
             |  SELECT l_partkey AS pk, COUNT(*) AS cnt
             |  FROM lineitem GROUP BY 1),
             |n AS (
             |  SELECT COUNT(*) AS nk, CAST(SUM(cnt) AS BIGINT) AS tot,
             |    MAX(cnt) AS mx
             |  FROM freq),
             |r AS (
             |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, pk) AS rn
             |  FROM freq),
             |t10 AS (
             |  SELECT CAST(SUM(cnt) AS BIGINT) AS s FROM (
             |    SELECT cnt FROM freq ORDER BY cnt DESC, pk LIMIT 10))
             |SELECT n.nk AS n_keys, n.mx AS max_cnt,
             |  (SELECT cnt FROM r, n WHERE rn = (n.nk + 1) // 2) AS p50,
             |  (SELECT cnt FROM r, n WHERE rn = (99 * n.nk + 99) // 100)
             |    AS p99,
             |  round(CAST(n.mx AS DOUBLE) * n.nk / n.tot, 6) AS skew_ratio,
             |  round(CAST(t10.s AS DOUBLE) / n.tot, 6) AS top10_share
             |FROM n, t10""".stripMargin)),

    // Run-length layout audit (✚, q224 priced two layouts by zone-map
    // pruning; this prices them by RLE compressibility — the number
    // of VALUE RUNS each column exhibits under a candidate sort
    // order, which is what run-length/dictionary encoders actually
    // pay for). Run counting under a total order is the q76/q120
    // two-phase discipline: range-partition on the sort key, count
    // within-partition boundaries under a _pid-keyed window (bounded
    // tasks, never one), and repair the ≤ partitions−1 cross-edge
    // boundaries from an O(partitions) driver collect of each
    // partition's first/last values. Exact integers; mean run length
    // = rows/runs, round@2.
    QueryDef("q310_rle_audit",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        // (l_orderkey, l_linenumber) is NOT unique in this corpus (the
        // q249/q252 lesson), so each layout's sort EXTENDS to a total
        // pre-order whose remaining ties are identical in every audited
        // column — run counts are then invariant under tie permutation
        // and well-defined on both engines
        val tiebreak = Seq("l_partkey", "l_suppkey", "l_returnflag",
          "l_linestatus")
        val layouts = Seq(
          "ship_date" -> (Seq("l_shipdate", "l_orderkey", "l_linenumber")
            ++ tiebreak).map(col),
          "supplier" -> (Seq("l_suppkey", "l_orderkey", "l_linenumber")
            ++ tiebreak).distinct.map(col))
        val audited = Seq("l_returnflag", "l_linestatus", "l_suppkey")
        val needed = (audited ++ Seq("l_shipdate", "l_orderkey",
          "l_linenumber", "l_suppkey", "l_partkey")).distinct
        val base = li.select(needed.map(col): _*)
        val rows = layouts.flatMap { case (lname, sort) =>
          val ranged = base
            .repartitionByRange(32, sort: _*)
            .withColumn("_pid", spark_partition_id())
            .transform(pin)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy("_pid").orderBy(sort: _*)
          val within = ranged
            .select(col("_pid") +: audited.map { c =>
              when(lag(col(c), 1).over(w).isNotNull &&
                lag(col(c), 1).over(w) =!= col(c), 1L).otherwise(0L)
                .as(s"b_$c") }: _*)
            .groupBy().sum(audited.map(c => s"b_$c"): _*)
            .first()
          val edges = ranged
            .groupBy("_pid")
            .agg(count(lit(1)).as("n"),
              min(struct(sort :+ struct(audited.map(col): _*): _*))
                .as("f"),
              max(struct(sort :+ struct(audited.map(col): _*): _*))
                .as("l"))
            .collect()
            .map(r => (r.getInt(0), r.getLong(1),
              r.getStruct(2).getStruct(sort.length),
              r.getStruct(3).getStruct(sort.length)))
            .sortBy(_._1)
          val totalRows = edges.map(_._2).sum
          audited.zipWithIndex.map { case (c, i) =>
            val cross = edges.zip(edges.drop(1)).count { case (p, q) =>
              p._4.get(i) != q._3.get(i) }
            val runs = 1L + within.getLong(i) + cross
            (lname, c, totalRows, runs)
          }
        }
        rows.toDF("layout", "column", "n_rows", "n_runs")
          .select(col("layout"), col("column"), col("n_rows"), col("n_runs"),
            round(col("n_rows").cast("double") / col("n_runs"), 2)
              .as("mean_run_len"))
          .orderBy("layout", "column")
      },
      Some {
        val audited = Seq("l_returnflag", "l_linestatus", "l_suppkey")
        val layouts = Seq(
          "ship_date" -> ("l_shipdate, l_orderkey, l_linenumber, " +
            "l_partkey, l_suppkey, l_returnflag, l_linestatus"),
          "supplier" -> ("l_suppkey, l_orderkey, l_linenumber, " +
            "l_partkey, l_returnflag, l_linestatus"))
        val arms = for ((ln, sort) <- layouts; c <- audited) yield
          s"""SELECT '$ln' AS layout, '$c' AS "column",
             |  (SELECT COUNT(*) FROM lineitem) AS n_rows,
             |  (SELECT 1 + CAST(SUM(CASE WHEN prev IS NOT NULL
             |       AND prev <> v THEN 1 ELSE 0 END) AS BIGINT)
             |   FROM (SELECT $c AS v,
             |           LAG($c) OVER (ORDER BY $sort) AS prev
             |         FROM lineitem) t) AS n_runs""".stripMargin
        val body = arms.mkString("\nUNION ALL ")
        s"""SELECT layout, "column", n_rows, n_runs,
           |  round(CAST(n_rows AS DOUBLE) / n_runs, 2) AS mean_run_len
           |FROM (
           |$body) u
           |ORDER BY layout, "column"""".stripMargin
      }),

    // Partition-pruned layout gate (✚, q65 buys repeated JOINS a
    // zero-exchange plan via bucketing; this buys repeated FILTERED
    // SCANS a zero-read plan via hive partitioning — the daily-job
    // layout every event lake uses. The gate's measured cost
    // deliberately INCLUDES the partitioned write, the honest
    // amortization decision, and the read back filters ONE day —
    // PartitionFilters prune to a single directory (plan-asserted in
    // SourcesSpec; at 100 TB this is reading 1/30th vs 30/30ths).
    // The oracle computes the same day's aggregate from the raw
    // table, so a pruning bug that drops or duplicates rows breaks
    // the hash.
    QueryDef("q318_partition_pruned",
      (s, d) => {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-partitioned").toString
        val ev = Tables.events(s, d)
          .withColumn("day",
            expr("CAST(unix_micros(ts) div 86400000000 AS BIGINT)"))
        ev.write.partitionBy("day").mode("overwrite").parquet(dir)
        val day0 = ev.agg(min(col("day"))).first().getLong(0)
        // the partition column comes back with the INFERRED directory
        // type (int here) — compare with a literal of that type so the
        // predicate stays a PartitionFilter instead of a cast-wrapped
        // data filter
        s.read.parquet(dir)
          .where(col("day") === lit(day0.toInt))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("cents"))
          .select(col("event_type"), col("n"),
            round(col("cents").cast("double") / 100, 2).as("total_value"))
          .orderBy("event_type")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, value,
             |    epoch_us(ts) // 86400000000 AS day
             |  FROM events),
             |d0 AS (SELECT MIN(day) AS d FROM ev)
             |SELECT event_type, COUNT(*) AS n,
             |  round(CAST(SUM(CAST(round(value * 100, 0) AS BIGINT))
             |    AS DOUBLE) / 100, 2) AS total_value
             |FROM ev, d0 WHERE ev.day = d0.d
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Deterministic-sample accuracy audit (✚, the "can we estimate
    // this from 5%" decision, measured instead of assumed: the exact
    // corpus median vs the median of a 5% HASH sample — the sample is
    // a pure md5 function of the row key, so it is reproducible on
    // any executor, stable across runs, and IDENTICAL on both engines
    // — no rand(), the q53 split discipline). Both medians resolve
    // through selectKth's bounded refinement; the report carries the
    // absolute and relative error, which is the evidence a
    // sample-based pipeline needs before trusting the shortcut at
    // 100 TB (where the sample is what makes quantiles interactive).
    QueryDef("q319_sample_accuracy",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(round(col("l_extendedprice") * 100, 0).cast("long")
              .as("c"),
            (conv(substring(md5(concat_ws("|",
              col("l_orderkey"), col("l_linenumber"), col("l_partkey"))),
              1, 8), 16, 10).cast("long") % 20).as("h"))
          .transform(pin)
        val n = li.count()
        val exact = OrderStats.selectKth(li, col("c"), (n + 1) / 2).toLong
        val samp = li.where(col("h") === 0)
        val nS = samp.count()
        val approx = OrderStats.selectKth(samp, col("c"), (nS + 1) / 2).toLong
        li.agg(count(lit(1)).as("n_rows"))
          .select(col("n_rows"), lit(nS).as("n_sample"),
            round(lit(exact.toDouble) / 100, 2).as("exact_median"),
            round(lit(approx.toDouble) / 100, 2).as("sample_median"),
            round(abs(lit(approx - exact).cast("double")) / 100, 2)
              .as("abs_err"),
            round(abs(lit(approx - exact).cast("double")) / lit(exact), 6)
              .as("rel_err"))
      },
      Some("""WITH li AS (
             |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS c,
             |    ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
             |      CAST(l_linenumber AS VARCHAR) || '|' ||
             |      CAST(l_partkey AS VARCHAR)), 1, 8))::BIGINT % 20 AS h
             |  FROM lineitem),
             |n AS (SELECT COUNT(*) AS n FROM li),
             |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM li),
             |ex AS (
             |  SELECT c AS v FROM r, n WHERE rn = (n.n + 1) // 2),
             |sm AS (SELECT c FROM li WHERE h = 0),
             |ns AS (SELECT COUNT(*) AS n FROM sm),
             |rs AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM sm),
             |ap AS (
             |  SELECT c AS v FROM rs, ns WHERE rn = (ns.n + 1) // 2)
             |SELECT n.n AS n_rows, ns.n AS n_sample,
             |  round(CAST(ex.v AS DOUBLE) / 100, 2) AS exact_median,
             |  round(CAST(ap.v AS DOUBLE) / 100, 2) AS sample_median,
             |  round(abs(CAST(ap.v - ex.v AS DOUBLE)) / 100, 2) AS abs_err,
             |  round(abs(CAST(ap.v - ex.v AS DOUBLE)) / ex.v, 6) AS rel_err
             |FROM n, ns, ex, ap""".stripMargin)),

    // Small-file COMPACTION PLANNER (✚, the storage-maintenance job a
    // 100 TB lake runs nightly: thousands of small files per partition
    // → merge groups near a target size, so scans stop paying per-file
    // open/footer costs). The file inventory derives from orders
    // (file_id = o_orderkey mod 199, bytes = exact cents sum — the
    // q204/q224 simulated-layout discipline, deterministic at any sf);
    // the plan packs size-DESC files into bins by running-sum division
    // (next-fit-decreasing — greedy, single-pass, and UNLIKE first-fit
    // expressible as pure windowed arithmetic on BOTH engines). The
    // running sum is Scale.globalRunningSum's two-phase machinery —
    // range partitions + driver prefix offsets, never a single-task
    // global window — so planning a million-file inventory scales with
    // the cluster; bin stats are one bounded aggregation. All
    // arithmetic is BIGINT-exact.
    QueryDef("q335_compaction_plan",
      (s, d) => {
        val files = Tables.orders(s, d)
          .groupBy((col("o_orderkey") % 199).as("file_id"))
          .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("bytes"))
          .transform(pin) // pinned: the target scalar + the plan both read it
        // merge-group target = total/25 — data-derived (sf-independent
        // packing ratio ~8 files/bin), BIGINT-exact on both engines;
        // one 8-byte driver scalar, the q319 precedent
        val target = files.agg(sum(col("bytes"))).head.getLong(0) / 25
        val planned = Scale.globalRunningSum(files,
            Seq(col("bytes").desc, col("file_id").asc), col("bytes"))
          // `div`, not `/`: BIGINT-exact floor division (a double
          // quotient could round across a bin boundary)
          .withColumn("bin", expr(s"(cum - bytes) div ${target}L"))
        planned.groupBy("bin")
          .agg(count(lit(1)).as("n_files"),
            sum(col("bytes")).as("bin_bytes"),
            max(col("bytes")).as("max_file"),
            min(col("file_id")).as("first_file"))
          .orderBy("bin")
      },
      Some("""WITH f AS (
             |  SELECT o_orderkey % 199 AS file_id,
             |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS bytes
             |  FROM orders GROUP BY 1),
             |tgt AS (SELECT CAST(SUM(bytes) AS BIGINT) // 25 AS target FROM f),
             |r AS (
             |  SELECT file_id, bytes,
             |    SUM(bytes) OVER (ORDER BY bytes DESC, file_id ASC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM f)
             |SELECT CAST((cum - bytes) // target AS BIGINT) AS bin,
             |  CAST(COUNT(*) AS BIGINT) AS n_files,
             |  CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
             |  CAST(MAX(bytes) AS BIGINT) AS max_file,
             |  CAST(MIN(file_id) AS BIGINT) AS first_file
             |FROM r, tgt GROUP BY 1 ORDER BY bin""".stripMargin))
  )
}
