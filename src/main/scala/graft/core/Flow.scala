package graft.core

import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import graft.text.Splitter

import scala.collection.mutable

/** `Flow[T]` — graft's typed pipeline surface, the Spark re-expression of
  * the reference's `pipe` chaining (flod `pipeline.d:492-521`): a fluent
  * wrapper over `Dataset[T]` whose operators are the reference's sources
  * (S1–S5), transforms (T1–T3) and sinks (K1–K7) from SURVEY.md §2.
  *
  * Semantics mapping:
  *  - a flod pipeline is one totally-ordered element stream. A `Flow`
  *    built from an in-memory source or from files (one partition per
  *    file, in path order) preserves that order through narrow
  *    transforms (map/filter/flatMap/take); the driver-side sinks
  *    (`toArray`, `toIterator`, `byChunkIterator`, `copyTo`) observe it.
  *  - flod's method negotiation + adapters (§2.4) are Spark's exchange
  *    planning — nothing to reimplement; `Flow` stays declarative and the
  *    lineage executes lazily exactly like a flod schema instantiates
  *    lazily for range-facade pipelines (`pipeline.d:423-427`).
  *
  * Scale: `Flow` is a thin veneer — every operator lowers to Dataset ops
  * Catalyst can optimize (pushdown/pruning/codegen); nothing collects to
  * the driver except the explicitly driver-side sinks, which mirror flod
  * terminals that were driver-side (single-threaded) in the reference too.
  */
final class Flow[T](val ds: Dataset[T]) {

  private implicit def enc: Encoder[T] = ds.encoder

  // ---- transforms (flod T1-T3) ----

  /** Ordered truncation after n elements — flod `take` (package.d:114-207),
    * lazy and usable mid-pipeline, like the reference's all-method filter. */
  def take(n: Long): Flow[T] = {
    require(n >= 0)
    if (n <= Int.MaxValue) new Flow(ds.limit(n.toInt)) else takeIndexed(n)
  }

  /** The beyond-2^31 take path: Dataset.limit takes Int, so attach an
    * ordered global index (zipWithIndex preserves partition order — the
    * Flow ordering contract) and filter. Costs one extra counting pass;
    * correct for streams longer than 2^31 with a limit between 2^31 and
    * the length, where an identity shortcut would silently over-return. */
  private[core] def takeIndexed(n: Long): Flow[T] = {
    val e = enc
    implicit val ct: scala.reflect.ClassTag[T] = e.clsTag
    new Flow(ds.sparkSession.createDataset(
      ds.rdd.zipWithIndex().filter(_._2 < n).map(_._1))(e))
  }

  /** Per-element ops — flod delegates these to host-language ranges
    * (pipeline.d:1617-1623); we delegate to Dataset (codegen'd). */
  def map[U: Encoder](f: T => U): Flow[U] = new Flow(ds.map(f))
  def filter(p: T => Boolean): Flow[T] = new Flow(ds.filter(p))
  def flatMap[U: Encoder](f: T => IterableOnce[U]): Flow[U] = new Flow(ds.flatMap(f))

  /** Re-chunk into fixed-size groups — flod `byChunk` (K6,
    * range.d:549-632) as a mid-pipeline transform (per partition). */
  def byChunk(n: Int)(implicit e: Encoder[Seq[T]]): Flow[Seq[T]] =
    new Flow(ds.mapPartitions(_.grouped(n).map(_.toSeq)))

  // ---- compression (flod-zlib inflate/deflate, README.md:10-13) ----

  /** Decompress a byte-chunk stream — flod-zlib `inflate(Format.gzip)`.
    * Per-partition incremental: a partition's chunks form one (possibly
    * multi-member) compressed stream — a single-file Flow is a single
    * partition, the reference's single-ordered-stream case — and output
    * re-chunks at `chunkSize`. `cat a.gz b.gz` inputs decode fully. */
  def inflate(format: Codec.Format = Codec.Gzip, chunkSize: Int = 1 << 16)
             (implicit ev: T =:= Array[Byte], e: Encoder[Array[Byte]]): Flow[Array[Byte]] =
    new Flow(ds.asInstanceOf[Dataset[Array[Byte]]]
      .mapPartitions(Codec.inflateStream(_, format, chunkSize)))

  /** Compress a byte-chunk stream — flod-zlib `deflate(Format.gzip)`.
    * Each chunk becomes an independent member (members concatenate into
    * a valid stream), so the stage is a pure per-element map:
    * embarrassingly parallel, order-preserving, O(chunk) memory — the
    * Spark-first shape, vs the reference's single sequential zlib
    * context. `inflate` (and standard gunzip) round-trips the result. */
  def deflate(format: Codec.Format = Codec.Gzip)
             (implicit ev: T =:= Array[Byte], e: Encoder[Array[Byte]]): Flow[Array[Byte]] =
    new Flow(ds.asInstanceOf[Dataset[Array[Byte]]]
      .map(Codec.deflateChunk(_, format)))

  /** Extract tar members from a byte-chunk archive stream — "stream
    * sequences / archives", the reference's unshipped roadmap item
    * (README.md:45). Per-partition incremental like [[inflate]] (a
    * partition's chunks form one — possibly concatenated — archive
    * stream); composes as `readBytes(dir, glob "*.tar.gz").inflate()
    * .untar` for the full compressed-archive read path. */
  def untar(implicit ev: T =:= Array[Byte],
            e: Encoder[(String, Array[Byte])]): Flow[(String, Array[Byte])] =
    new Flow(ds.asInstanceOf[Dataset[Array[Byte]]].mapPartitions(Tar.entries))

  /** Decode a byte-chunk stream to string chunks — the bytes→chars
    * stage between [[inflate]] and [[byLine]] in the reference's
    * headline pipeline. Incremental per partition: a multi-byte UTF-8
    * sequence SPLIT ACROSS CHUNK BOUNDARIES decodes correctly (the
    * partial tail of each chunk carries into the next; a naive
    * per-chunk `new String` would corrupt it to U+FFFD). Malformed
    * input fails loudly (REPORT semantics), never silently replaced. */
  def decodeChars(charset: String = "UTF-8")
                 (implicit ev: T =:= Array[Byte], e: Encoder[String]): Flow[String] =
    new Flow(ds.asInstanceOf[Dataset[Array[Byte]]]
      .mapPartitions(Codec.decodeCharsStream(_, charset)))

  // ---- text (flod K7/T2 Splitter) ----

  /** Split a chunked char stream into separator-delimited segments — flod
    * `byLine` (range.d:359-508) with exact terminator semantics, including
    * separators spanning chunk boundaries (incremental re-segmentation
    * per partition; a single ordered stream is a single partition). */
  def byLine(sep: String = "\n", keepSeparator: Boolean = false)
            (implicit ev: T =:= String, e: Encoder[String]): Flow[String] =
    new Flow(ds.asInstanceOf[Dataset[String]]
      .mapPartitions(Splitter.incremental(sep, keepSeparator)))

  // ---- sinks (flod K1-K7) ----

  /** Materialize the whole stream — flod `array()` (K2, package.d:69-112). */
  def toArray: Seq[T] = ds.collect().toSeq

  /** Consume and drop — flod `discard()` (K1, package.d:43-67). The noop
    * sink executes the full plan distributed, discarding rows. */
  def discard(): Unit = ds.write.mode(SaveMode.Overwrite).format("noop").save()

  /** Element-wise driver-side view — flod `opSlice`/ByElement (K5,
    * range.d:309-348): lazy, pulls partition by partition. */
  def toIterator: Iterator[T] = {
    import scala.jdk.CollectionConverters._
    ds.toLocalIterator().asScala
  }

  /** Fixed-size-chunk driver-side view — flod `byChunk` terminal (K6). */
  def byChunkIterator(n: Int): Iterator[Seq[T]] = toIterator.grouped(n)

  /** Copy into any growable collection — flod `copy(outputRange)` (K3,
    * range.d:133-167). */
  def copyTo[C <: mutable.Growable[T]](target: C): C = { toIterator.foreach(target += _); target }

  /** Count without materializing. */
  def count(): Long = ds.count()
}

object Flow {

  /** S1 — in-memory array source (range.d:25-45). `parallelize` slices the
    * seq contiguously, so element order is preserved across partition
    * indexes (flod streams are totally ordered). */
  def fromSeq[T: Encoder](spark: SparkSession, data: Seq[T], numPartitions: Int = 1): Flow[T] = {
    val base = spark.createDataset(data)
    // createDataset slices contiguously, so order is preserved across
    // partition indexes; coalesce(1) models the single-stream case.
    new Flow(if (numPartitions == 1) base.coalesce(1) else base)
  }

  /** S2 — iota/range source (range.d:58-87). */
  def fromRange(spark: SparkSession, start: Long, end: Long): Flow[java.lang.Long] =
    new Flow(spark.range(start, end))

  /** S5 — file byte source (file.d:14-34): each file matched by `path`
    * (a file, directory or glob, resolved as Spark's file sources
    * resolve a non-partitioned path; a pattern matching nothing throws,
    * and so does a directory holding `k=v` partition subdirectories,
    * which are not read) is one ordered
    * stream of 64 KB chunks in its own partition, partitions in path
    * order — the layout [[readUrls]] uses and [[inflate]]/[[untar]]/
    * [[byLine]] restitch per partition. A file is never run together
    * with its neighbours (an unterminated last line stays its own
    * line), so results do not depend on how files would pack into
    * partitions. Paths are listed and sorted on the driver, so the read
    * is one narrow stage: no sampling job, no shuffle of the payload,
    * and no whole-file-per-row size limit. Each
    * task streams its file through the path's Hadoop FileSystem (local
    * disk, HDFS or an object store alike) and closes it with the task,
    * so a `take` that stops early releases the handle. An empty file
    * contributes no chunks. */
  def readBytes(spark: SparkSession, path: String): Flow[Array[Byte]] = {
    import org.apache.hadoop.fs.{Path => HPath}
    implicit val e: Encoder[Array[Byte]] = org.apache.spark.sql.Encoders.BINARY
    // Listed here, not through a file source, whose metadata-log probe
    // logs a FileNotFoundException trace for every glob; the rules are
    // a non-partitioned file source's: each matched directory
    // contributes its own files (not its subdirectories'), and names are
    // skipped as Spark's HadoopFSUtils.shouldFilterOutPathName skips them
    def skipped(n: String) =
      ((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) &&
        !(n.startsWith("_common_metadata") || n.startsWith("_metadata"))
    val pattern = new HPath(path)
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(pattern)).toSeq.flatten
    if (matched.isEmpty) throw new org.apache.spark.sql.AnalysisException(
      "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(pattern).toString))
    val listed = matched
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .filterNot(st => skipped(st.getPath.getName))
    listed.find(st => st.isDirectory && st.getPath.getName.contains("=")).foreach { st =>
      throw new UnsupportedOperationException(
        s"readBytes does not read partitioned layouts: ${st.getPath}")
    }
    val files = listed.filter(_.isFile).map(_.getPath).sortBy(_.toString)
    // Hadoop Configuration is not java-serializable; Spark's Writable
    // envelope ships it, broadcast as Spark's file scans do: a copy in
    // the closure is deserialized by every task (8 small-file tasks
    // paid ~65 ms for it on 4 cores)
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val chunks = spark.sparkContext.parallelize(files, math.max(1, files.length))
      .mapPartitions(_.flatMap { p =>
        val in = p.getFileSystem(conf.value.value).open(p)
        Codec.onTaskEnd(() => in.close())
        Codec.readChunks(in, 1 << 16, closeAtEnd = true)
      })
    new Flow(spark.createDataset(chunks))
  }

  /** S5 over HTTP(S) — the flod-curl analog (`/root/reference/
    * README.md:58`: the reference's first external package, composing
    * as `read(url).inflate.byLine`). One url: a single ordered chunk
    * stream, fetched on an EXECUTOR (the driver only plans), composing
    * with `.inflate`/`.untar`/`.decodeChars().byLine()` unchanged. */
  def readUrl(spark: SparkSession, url: String,
              chunkSize: Int = 1 << 16): Flow[Array[Byte]] =
    readUrls(spark, Seq(url), chunkSize)

  /** The distributed url source: ONE PARTITION PER URL (in given
    * order), so each url's body is one ordered per-partition stream —
    * exactly the layout [[Flow.inflate]]/[[Flow.untar]] restitch per
    * partition, and n urls fetch with n-way parallelism. Non-2xx
    * responses throw (loud, never an empty stream); abandoned fetches
    * release their sockets with the task ([[Http.fetchChunks]]). */
  def readUrls(spark: SparkSession, urls: Seq[String],
               chunkSize: Int = 1 << 16): Flow[Array[Byte]] = {
    require(urls.nonEmpty, "readUrls needs at least one url")
    implicit val e: Encoder[Array[Byte]] = org.apache.spark.sql.Encoders.BINARY
    implicit val se: Encoder[String] = org.apache.spark.sql.Encoders.STRING
    // parallelize with numSlices = |urls| pins exactly one url per
    // partition, preserving the caller's order across partition indexes
    val ds = spark.createDataset(
      spark.sparkContext.parallelize(urls, urls.size))
    new Flow(ds.mapPartitions(_.flatMap(Http.fetchChunks(_, chunkSize))))
  }

  /** Text-file line source — the scalable byLine: the text source splits
    * on lineSep inside the (splittable) scan itself. */
  def readLines(spark: SparkSession, path: String, lineSep: String = "\n"): Flow[String] =
    new Flow(spark.read.option("lineSep", lineSep).textFile(path))

  /** S5, arrival-driven — the STREAMING analog of readLines (reference
    * push mode, where the source drives the pipeline as data arrives:
    * range.d:225-237, pipeline.d:768-770). Files appearing under `path`
    * become micro-batches through Structured Streaming's file source;
    * listing and reads happen on executors — nothing stages through the
    * driver. The returned Flow composes with the same per-element
    * transforms; terminate with `flow.ds.writeStream` (driver-side
    * terminals like toArray are batch-only by construction). */
  def readLinesStream(spark: SparkSession, path: String, lineSep: String = "\n"): Flow[String] =
    new Flow(spark.readStream.option("lineSep", lineSep).textFile(path))

  /** K4 — file sink (file.d:36-67): byte-exact single-file write on the
    * driver, mirroring the reference's single-threaded writer. For
    * distributed output use `flow.ds.write` directly. */
  def writeBytes(flow: Flow[Array[Byte]], path: String): Unit = {
    val out = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(path))
    try flow.toIterator.foreach(out.write) finally out.close()
  }
}
