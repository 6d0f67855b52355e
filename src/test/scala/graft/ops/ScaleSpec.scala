package graft.ops

import graft.{Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale toolkit correctness + plan-shape guarantees. */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("saltedAgg equals direct groupBy on a skewed input") {
    // skew: 90% of rows share one key
    val df = spark.range(10000)
      .select(when(col("id") % 10 === 0, col("id") % 7).otherwise(lit(0)).as("k"),
        (col("id") % 100).cast("double").as("v"))
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val salted = Scale.saltedAgg(df, Seq("k"), Seq("v"), salt = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(salted.map(t => (t._1, t._2)).toSeq == direct.map(t => (t._1, t._2)).toSeq)
    salted.zip(direct).foreach { case (s, d) =>
      assert(math.abs(s._3 - d._3) < 1e-6, s"sum for key ${s._1}")
    }
  }

  test("saltedJoin equals plain inner join on skewed keys") {
    val big = spark.range(20000)
      .select((col("id") % 3).as("k"), col("id").as("payload"))
    val small = spark.range(3).select(col("id").as("k"), (col("id") * 100).as("dim"))
    val direct = big.join(small, "k").agg(count(lit(1)), sum("dim"), sum("payload"))
      .collect().head
    val salted = Scale.saltedJoin(big, small, "k").agg(count(lit(1)), sum("dim"), sum("payload"))
      .collect().head
    assert(salted == direct)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directory survives — clear both before writing
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Scale.writeBucketed(Tables.orders(spark, sf), "b_orders", "o_orderkey", 8)
    Scale.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 8)
    val joined = spark.table("b_lineitem").join(spark.table("b_orders"), "o_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() > 0)
  }

  test("q07 on bucketed tables: zero-exchange join, identical result (sf0.1)") {
    // the heaviest relational gate query re-run on bucketed fact tables:
    // the 100 TB pattern where lineitem⋈orders repeats daily, so both are
    // written bucketed by the join key once and every subsequent join is
    // co-located (no shuffle of either fact table)
    val sf01 = "/root/testdata/sf0.1"
    for (t <- Seq("b7_orders", "b7_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Scale.writeBucketed(Tables.orders(spark, sf01), "b7_orders", "o_orderkey", 16)
    Scale.writeBucketed(
      Tables.lineitem(spark, sf01).withColumnRenamed("l_orderkey", "o_orderkey"),
      "b7_lineitem", "o_orderkey", 16)

    def q07Shape(lineitem: org.apache.spark.sql.DataFrame,
                 orders: org.apache.spark.sql.DataFrame,
                 key: String): org.apache.spark.sql.DataFrame = {
      import graft.QueryDef.dec
      lineitem
        .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .join(orders, key)
        .groupBy("o_orderpriority")
        .agg(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }

    val bucketed = q07Shape(spark.table("b7_lineitem"), spark.table("b7_orders"),
      "o_orderkey")
    val plan = bucketed.queryExecution.executedPlan.toString
    // the join must be co-located: no hashpartitioning exchange on the
    // join key anywhere in the plan (the only exchange left is the 5-row
    // groupBy on o_orderpriority, which is unavoidable and tiny)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed q07 join must not shuffle the fact tables:\n$plan")
    assert(plan.contains("Join"), s"expected a join in:\n$plan")

    val base = q07Shape(
      Tables.lineitem(spark, sf01).withColumnRenamed("l_orderkey", "o_orderkey"),
      Tables.orders(spark, sf01), "o_orderkey")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    val got = bucketed.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == base.toSeq, "bucketed layout must not change values")
  }

  test("hive-style partitioned layout prunes partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      Tables.lineitem(spark, sf).write.mode("overwrite")
        .partitionBy("l_returnflag").parquet(dir)
      val q = spark.read.parquet(dir).where(col("l_returnflag") === "A")
        .select("l_orderkey")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("l_returnflag"),
        s"expected partition pruning:\n$plan")
      // only the A partition's rows are read
      val expected = Tables.lineitem(spark, sf).where(col("l_returnflag") === "A").count()
      assert(q.count() == expected)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("TopK fold equals the window formulation on a skewed input, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // hot group "g0" holds 90% of rows — the shape where a row_number
    // window would single-task; ties in score exercise the id tiebreak
    val rows = (1L to 2000L).map { id =>
      (if (rnd.nextInt(10) < 9) "g0" else s"g${1 + rnd.nextInt(5)}",
        rnd.nextInt(50).toDouble, id)
    }
    val naive = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy { case (_, s, id) => (-s, id) }.take(5).zipWithIndex
        .map { case ((_, s, id), i) => (g, (i + 1).toLong, id, s) }
    }.toSet
    for (parts <- Seq(1, 7, 32)) {
      val topk = new graft.functions.Folds.TopK(5)
      val got = rows.toDF("g", "score", "id").repartition(parts)
        .as[(String, Double, Long)].groupByKey(_._1)
        .mapValues(t => (t._2, t._3))
        .agg(topk.toColumn.name("top"))
        .flatMap { case (g, top) => top.iterator.zipWithIndex.map {
          case ((s, id), i) => (g, (i + 1).toLong, id, s) } }
        .collect().toSet
      assert(got == naive, s"parts=$parts")
    }
  }

  test("morton8 z-order key is a bijection on the 16x16 low grid") {
    import spark.implicits._
    // 16x16 grid scaled so the cell math maps i -> cell i*16..i*16+15;
    // use raw coords 0..255 on both axes => xb = x, yb = y cells 0..255
    val grid = (for (x <- 0 until 16; y <- 0 until 16) yield (x.toLong, y.toLong))
      .toDF("x", "y")
    val z = Scale.zOrderKey(grid, col("x"), col("y"))
      .select("xb", "yb", "z").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(z.size == 256)
    assert(z.values.toSet.size == 256, "z must be injective on the grid")
    // reference interleave in plain Scala
    def ref(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum
    // xb = ((x - 0) * 256) div 16 = x * 16: cells stretch by 16
    assert(z.forall { case ((xb, yb), zz) => zz == ref(xb, yb) })
  }

  test("zOrderLayout partitions cover disjoint z-ranges with bounded rectangles") {
    val ev = Tables.events(spark, sf)
    val laid = Scale.zOrderLayout(ev, col("user_id"), unix_micros(col("ts")), partitions = 8)
    val ranges = laid
      .groupBy(spark_partition_id().as("pid"))
      .agg(min("z").as("zmin"), max("z").as("zmax"),
        (max("xb") - min("xb")).as("xspan"), (max("yb") - min("yb")).as("yspan"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .sortBy(_._1)
    assert(ranges.length > 1)
    // disjoint, ordered z-ranges: range partitioning did its job
    ranges.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._1, s"overlapping z ranges: $a vs $b") ; case _ => }
    // every partition's rectangle is a strict subset of the full 256x256
    // space: z-contiguity bounds BOTH dimensions, the pruning property
    assert(ranges.forall { case (_, _, xs, ys, _) => xs < 256 && ys < 256 })
    assert(ranges.count { case (_, _, xs, ys, _) => xs <= 128 && ys <= 128 } >= ranges.length / 2,
      "at least half the partitions must sit in a quarter-space rectangle")
  }

  test("the two-phase scan equals a sequential scan at any partitioning: " +
      "row number, LONG and DECIMAL running sums, running min, dense rank") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // duplicate keys force the id tiebreak and give the dense rank
    // ties; skewed keys force uneven range partitions; the three-key
    // frame leaves range partitions empty at 8 shuffle partitions
    def frame(keys: Int) = (1L to 3000L)
      .map(id => (s"k${rnd.nextInt(keys)}", id, rnd.nextInt(201) - 100L))
      .toDF("key", "id", "v")
      .withColumn("d", (col("v") / 7).cast("decimal(20,6)"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try for (keys <- Seq(40, 3); df = frame(keys); shuffle <- Seq(1, 8)) {
      spark.conf.set("spark.sql.shuffle.partitions", shuffle.toString)
      val seq = df.collect().map(r => (r.getString(0), r.getLong(1),
          r.getLong(2), BigDecimal(r.getDecimal(3))))
        .sortBy(r => (r._1, r._2))
      val keyRank = seq.map(_._1).distinct.zipWithIndex.toMap
      val cv = seq.map(_._3).scanLeft(0L)(_ + _).tail
      val cd = seq.map(_._4).scanLeft(BigDecimal(0))(_ + _).tail
      val mv = seq.map(_._3).scanLeft(Long.MaxValue)(math.min).tail
      val want = seq.indices.map { i =>
        seq(i)._2 -> (i + 1L, cv(i), cd(i), mv(i), keyRank(seq(i)._1) + 1L)
      }.toMap
      val sort = Seq(col("key"), col("id"))
      for (parts <- Seq(1, 5, 32)) {
        val in = df.repartition(parts)
        val (ranked, groups) = Scale.globalDenseRank(in, Seq(col("key")))
        val got = Scale.globalRowNumber(in, sort)
          .join(Scale.globalRunningSum(in, sort, col("v"))
            .select(col("id"), col("cum").as("cv")), "id")
          .join(Scale.globalRunningSum(in, sort, col("d"))
            .select(col("id"), col("cum").as("cd")), "id")
          .join(Scale.globalRunningMin(in, sort, col("v"))
            .select(col("id"), col("cum").as("mv")), "id")
          .join(ranked.select("id", "dr"), "id")
          .select("id", "rn", "cv", "cd", "mv", "dr").collect()
          .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
            BigDecimal(r.getDecimal(3)), r.getLong(4), r.getLong(5))).toMap
        val at = s"keys=$keys shuffle=$shuffle parts=$parts"
        assert(got == want, at)
        assert(groups == keyRank.size.toLong, at)
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("globalRunningSum refuses a floating-point value before any job runs") {
    val df = spark.range(10).withColumn("x", col("id").cast("double"))
    val e = intercept[IllegalArgumentException](
      Scale.globalRunningSum(df, Seq(col("id")), col("x")))
    assert(e.getMessage.contains("double"), e.getMessage)
  }

  test("distributedLag equals the global per-key lag on adversarial splits") {
    import spark.implicits._
    val rnd = new scala.util.Random(213)
    // few keys (the pathological Window.partitionBy(key) shape), dense
    // duplicate timestamps, and partition counts that force key
    // timelines to straddle range-partition boundaries
    val rows = (1 to 3000).map { i =>
      (s"k${rnd.nextInt(4)}", (rnd.nextInt(50) * 10).toLong, i.toLong)
    }
    val df = rows.toDF("k", "ts", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("k").orderBy("ts", "id")
    val want = df.withColumn("prev", lag(col("ts"), 1).over(w))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3))).toSet
    for (parts <- Seq(2, 5, 32)) {
      val got = Scale.distributedLag(df, col("k"), col("ts"), col("id"),
          partitions = parts)
        .select("k", "ts", "id", "prev")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3))).toSet
      assert(got == want, s"parts=$parts")
    }
  }

  test("compaction plan: contiguous bins, next-fit bound, byte conservation") {
    val rows = graft.SparkEntry.queries("q335_compaction_plan")(spark, sf).collect()
    val bins = rows.map(_.getLong(0))
    assert(bins.toSeq == bins.sorted.toSeq && bins.head == 0L,
      "bins must start at 0 and come out ordered")
    val totals = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val files = totals.map(_._2).sum
    assert(files == 199L, s"every inventory file must land in exactly one bin: $files")
    // the data-derived target the gate computed: total/25
    val target = totals.map(_._3).sum / 25
    // next-fit property: a bin's content can exceed the target only by
    // (part of) one file -- strip the largest member and what remains
    // must fit under the target
    totals.foreach { case (bin, _, bytes, maxFile) =>
      assert(bytes - maxFile < target,
        s"bin $bin breaks the next-fit bound: $bytes - $maxFile vs $target")
    }
  }
}
