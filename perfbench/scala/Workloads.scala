package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Codec, Flow}

/** Sub-second oracle-backed batch gates: per-query fixed cost. */
object GatesShort extends Workload {
  val name = "gates_short"
  /** Sub-second class at sf0.1 (bench_full.json), no streams, no substrate
    * consumers: the fastest such gate of each operator family that has one
    * (Relational and TextAnalysis two). */
  val gates: Seq[String] = Seq(
    "q03_topk", "q243_weighted_sample", "q23_fingerprint", "q71_repetition",
    "q269_log_moments", "q24_dedup_exact", "q96_snapshot_diff", "q272_wilson_ci",
    "q160_embedding_norm_stats", "q69_cosine_neardup_lsh", "q323_archive_extract",
    "q271_diverse_topk", "q79_countmin", "q369_triplet_mining", "q197_sqltext_window_rank")
  val opKinds = Set("gate")
  /** Pass times still fall 5-15% a pass after one priming pass (the JIT
    * is compiling Spark's planner); two bring the counted passes nearer the
    * flat part of that curve. */
  override val primingPasses = 2
  val passSeconds = 7.0

  private lazy val queries = graft.SparkEntry.queries

  /** Oracle digests at sf0.01, written by perfbench/oracle_digests.py. */
  private lazy val digests: Map[String, String] = {
    val f = new File(sys.props("perfbench.root"), "perfbench/digests.json")
    val text = new String(Files.readAllBytes(f.toPath), "UTF-8")
    "\"([A-Za-z0-9_]+)\"\\s*:\\s*\"([0-9a-f]{64})\"".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  /** One small query; the uncounted priming passes fill per-gate caches. */
  def warmup(spark: SparkSession, args: Args): Unit =
    spark.range(1000000).selectExpr("sum(id)").collect()

  /** Each gate in seed-permuted order: construct the DataFrame, collect it
    * (the terminal action), then compare its canonical digest with the
    * oracle's. */
  def pass(ctx: Ctx, idx: Int): Unit =
    new scala.util.Random(ctx.args.seed * 7919L + idx).shuffle(gates).foreach { gate =>
      ctx.op("gate", gate) {
        val df = ctx.phase("construct")(queries(gate)(ctx.spark, ctx.dataDir))
        val rows = ctx.phase("action")(df.collect())
        (df.schema, rows)
      } { case (schema, rows) => digests.get(gate).contains(Digest.of(schema, rows.toSeq)) }
      ctx.cleanup()
    }

  /** read/write rates are engine bytes per second of gate time; the "put"
    * here is the gate's terminal collect, its synchronous call into the engine. */
  override def endToEnd(ctx: Ctx, m: RunMeasures): Map[String, Double] = {
    val collects = m.phases.filter(_.name == "action").map(_.ns / 1e6)
    Map("put_p50_ms" -> Stats.median(collects), "put_p95_ms" -> Stats.percentile(collects, 0.95))
  }
}

/** flod's pipeline surface in both drive modes. Pull: a generated
  * multi-member gzip corpus through readBytes → inflate → decodeChars →
  * byLine → count, the same then take, and inflate → deflate → discard.
  * Push: synchronous `Push.apply` puts of flod-sized chunks through a
  * filter+map, each one Structured Streaming micro-batch. */
object FlowGzLines extends Workload {
  val name = "flow_gz_lines"
  /** flod's tested take limit. */
  val Take = 10495832L
  val Parts = 8
  val LinesPerPart = 1320000
  /** Parts the write leg re-compresses. */
  val WriteParts = 2
  val Puts = 48
  /** flod's adapter chunk size. */
  val ChunkLongs = 4096
  /** The take leg is flod's headline operation. */
  val opKinds = Set("take")
  val passSeconds = 14.0
  private implicit val bin: Encoder[Array[Byte]] = Encoders.BINARY
  private implicit val str: Encoder[String] = Encoders.STRING
  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  private def transform(ds: org.apache.spark.sql.Dataset[Long]) =
    ds.filter(col("value") % 3 =!= 0).select((col("value") * 2).as("value")).as[Long]

  private def expected(chunks: Seq[Array[Long]]): Array[Long] =
    chunks.flatMap(_.filter(_ % 3 != 0).map(_ * 2)).toArray.sorted

  private var corpus: Seq[(File, LineDigest)] = Nil
  private def dir(ctx: Ctx) = new File(ctx.args.work, "flow")
  private def total = corpus.map(_._2).reduce(_ + _)
  private def writeTotal = corpus.take(WriteParts).map(_._2).reduce(_ + _)
  private def writeGlob(d: File) = s"$d/part-00[0-${WriteParts - 1}].txt.gz"

  private def lines(spark: SparkSession, glob: String): Flow[String] =
    Flow.readBytes(spark, glob).inflate().decodeChars().byLine()

  private def digest(f: Flow[String]): LineDigest = {
    val h = xxhash64(col("value"))
    val r = f.ds.agg(count(lit(1)), sum(octet_length(col("value")) + 1), bit_xor(h),
      sum(h.bitwiseAND(lit(0xffffffffL)))).head()
    LineDigest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** A small corpus through the pull legs and two puts, so the timed
    * passes start warm. */
  def warmup(spark: SparkSession, args: Args): Unit = {
    val d = new File(args.work, "flow-warm")
    val parts = FlowCorpus.generate(d, 0L, 2, 20000, 2)
    require(lines(spark, s"$d/*.gz").count() == 40000)
    require(lines(spark, s"$d/*.gz").take(100).count() == 100)
    Flow.readBytes(spark, s"$d/*.gz").inflate().deflate().discard()
    parts.foreach(_._1.delete())
    val p = graft.stream.Push[Long, Long](spark)(transform)
    try Seq(Array(1L, 2L, 3L), Array(4L, 5L)).foreach(c => p.put(c.toSeq)) finally p.close()
  }

  override def prepare(ctx: Ctx): Unit = {
    val t0 = System.nanoTime()
    corpus = FlowCorpus.generate(dir(ctx), ctx.args.seed, Parts, LinesPerPart, ctx.cores)
    require(total.lines > Take, "corpus must be longer than the take")
    System.err.println(f"perfbench: corpus ${total.bytes / 1e6}%.1f MB, ${total.lines} lines, " +
      f"${corpus.map(_._1.length).sum / 1e6}%.1f MB gzip in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def pass(ctx: Ctx, idx: Int): Unit = {
    val d = dir(ctx)
    ctx.op("read", "count")(ctx.phase("action")(lines(ctx.spark, s"$d/*.gz").count()))(_ == total.lines)
    ctx.op("take", "take")(ctx.phase("action")(lines(ctx.spark, s"$d/*.gz").take(Take).count()))(_ == Take)
    ctx.op("write", "deflate")(ctx.phase("action")(
      Flow.readBytes(ctx.spark, writeGlob(d)).inflate().deflate().discard()))(_ => true)
    val rnd = new java.util.Random(ctx.args.seed * 31L + idx)
    val chunks = Seq.fill(Puts)(Array.fill(ChunkLongs)(rnd.nextLong() & ((1L << 40) - 1)))
    val p = graft.stream.Push[Long, Long](ctx.spark)(transform)
    try chunks.zipWithIndex.foreach { case (c, i) =>
      ctx.op("put", s"put-$i")(ctx.phase("put")(p.put(c.toSeq)))(_ == Long.MaxValue)
    } finally p.close()
    ctx.op("check", s"push-sink-$idx")(p.result.toArray.sorted)(
      got => java.util.Arrays.equals(got, expected(chunks)))
  }

  /** Content checks, once per run: every line of the corpus, and a deflate
    * round trip of the write leg's input. */
  override def verify(ctx: Ctx): Unit = {
    val d = dir(ctx)
    ctx.op("check", "lines digest")(digest(lines(ctx.spark, s"$d/*.gz")))(_ == total)
    ctx.op("check", "deflate round trip")(digest(
      Flow.readBytes(ctx.spark, writeGlob(d)).inflate().deflate().inflate().decodeChars().byLine()))(
      _ == writeTotal)
  }

  private def legMedianS(ops: Seq[OpRec], kind: String): Double =
    Stats.median(ops.filter(_.kind == kind).map(_.ns / 1e9))

  override def endToEnd(ctx: Ctx, m: RunMeasures): Map[String, Double] = {
    val ops = ctx.countedOps(Set("read", "write"))
    val puts = ctx.countedOps(Set("put")).map(_.ns / 1e6)
    Map("read_mb_s" -> total.bytes / 1e6 / legMedianS(ops, "read"),
      "write_mb_s" -> writeTotal.bytes / 1e6 / legMedianS(ops, "write"),
      "put_p50_ms" -> Stats.median(puts),
      "put_p95_ms" -> Stats.percentile(puts, 0.95))
  }

  /** Single-threaded driver-side kernel rates over one part, in
    * decompressed MB/s, and how much of cores × chain rate the read leg gets. */
  override def layers(ctx: Ctx, m: RunMeasures): Map[String, Double] = {
    val gz = Files.readAllBytes(corpus.head._1.toPath)
    val mb = corpus.head._2.bytes / 1e6
    def rate[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, mb / ((System.nanoTime() - t0) / 1e9))
    }
    val (chunks, inflate) = rate(Codec.inflateStream(Iterator(gz), Codec.Gzip, 1 << 16).toVector)
    val (strs, decode) = rate(Codec.decodeCharsStream(chunks.iterator, "UTF-8").toVector)
    val (n, byline) = rate(graft.text.Splitter.incremental("\n")(strs.iterator).size)
    require(n == corpus.head._2.lines, s"kernel byLine saw $n lines")
    val (_, deflate) = rate(chunks.foreach(Codec.deflateChunk(_, Codec.Gzip)))
    val chain = 1.0 / (1.0 / inflate + 1.0 / decode + 1.0 / byline)
    val readMbS = total.bytes / 1e6 / legMedianS(m.ops, "read")
    Map("core.inflate_mb_s" -> inflate, "core.decode_mb_s" -> decode,
      "text.byline_mb_s" -> byline, "core.deflate_mb_s" -> deflate,
      "flow.parallel_eff" -> readMbS / (ctx.cores * chain)) ++ pushLayers(m)
  }

  /** Coordination versus compute of the push leg's micro-batches. */
  private def pushLayers(m: RunMeasures): Map[String, Double] = {
    val putOps = m.ops.filter(_.kind == "put")
    val batchesOf = m.batches.groupBy(b => m.phaseOf(b).map(_.op).getOrElse(-1))
    val pb = putOps.flatMap(o => batchesOf.getOrElse(o.id, Nil))
    def sumS(k: String) = pb.map(_.ms(k)).sum / 1e3 / m.n
    val trigger = pb.map(_.ms("triggerExecution")).sum
    val addBatch = pb.map(_.ms("addBatch")).sum
    val engineMs = putOps.map(o => batchesOf.getOrElse(o.id, Nil).map(_.ms("triggerExecution")).sum.toDouble)
    val waitMs = putOps.zip(engineMs).map { case (o, e) => o.ns / 1e6 - e }
    Map(
      "stream.batches" -> pb.size.toDouble / m.n,
      "stream.trigger_s" -> sumS("triggerExecution"),
      "stream.add_batch_s" -> sumS("addBatch"),
      "stream.query_planning_s" -> sumS("queryPlanning"),
      "stream.wal_commit_s" -> sumS("walCommit"),
      "stream.commit_offsets_s" -> sumS("commitOffsets"),
      "stream.outside_engine_s" -> (putOps.map(_.ns).sum / 1e6 - trigger) / 1e3 / m.n,
      "stream.coord_frac" -> (if (trigger > 0) (trigger - addBatch).toDouble / trigger else 0.0),
      "push.puts" -> putOps.size.toDouble / m.n,
      "push.engine_ms_p50" -> Stats.median(engineMs),
      "push.wait_ms_p50" -> Stats.median(waitMs))
  }
}
