package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, SequenceInputStream}
import java.util.zip.{Deflater, DeflaterOutputStream, GZIPInputStream, GZIPOutputStream, Inflater}

/** Compression codec stages — the Spark re-expression of flod-zlib's
  * `inflate(Format.gzip)` / `deflate(Format.gzip)` pipe stages, the
  * reference's headline README example (`/root/reference/README.md:10-13`).
  *
  * Design (Spark-first, not a stream-stage port):
  *  - `deflate` compresses each element into an INDEPENDENT member
  *    (gzip members concatenate into a valid stream by spec; zlib/raw
  *    members concatenate under this library's own multi-stream
  *    inflater). One element in, one element out — a pure map, so the
  *    stage is embarrassingly parallel, order-preserving, and needs
  *    O(chunk) memory regardless of stream length. The ~20-byte
  *    per-member overhead is the price of a distributable codec; a
  *    100 TB corpus compresses with full cluster parallelism instead
  *    of flod's single sequential zlib context.
  *  - `inflate` is per-partition incremental: all chunks of a partition
  *    form one (possibly multi-member) compressed stream — matching the
  *    reference's single-ordered-stream semantics, where a single-file
  *    Flow is a single partition — and decompressed bytes re-chunk at
  *    `chunkSize`. Standard `cat a.gz b.gz` inputs decode fully.
  */
object Codec {

  /** Compressed-stream framing, mirroring flod-zlib's `Format`. */
  sealed trait Format
  /** RFC 1952 — member header + CRC trailer; multi-member streams standard. */
  case object Gzip extends Format
  /** RFC 1950 — 2-byte header + Adler32 trailer. */
  case object Zlib extends Format
  /** RFC 1951 raw deflate blocks, no framing. Concatenated raw streams
    * are NOT self-delimiting; inflate decodes members written by this
    * library's deflate (each member is one finished deflate stream). */
  case object Raw extends Format
  /** RFC 8878 zstandard frames (zstd-jni, ships with Spark) — the
    * codec modern training-data lakes actually use; frames concatenate
    * by spec. Native contexts released by stream close. */
  case object Zstd extends Format
  /** LZ4 frame format (lz4-java, ships with Spark) — the
    * speed-over-ratio end of the codec menu; frames concatenate. */
  case object Lz4 extends Format

  /** Compress one chunk as one independent member.
    *
    * Native-memory discipline: a zlib deflate context is ~256 KB of
    * NATIVE memory freed only by `Deflater.end()` — for the Gzip path
    * `close()` ends the stream's own deflater, but a caller-supplied
    * Deflater (Zlib/Raw) must be ended EXPLICITLY or a million-row
    * codec stage exhausts native memory long before the GC's Cleaner
    * notices (measured: a 50k-doc 3-format pass went 16 s → 100 s+ in
    * GC storms without the end() calls). */
  def deflateChunk(chunk: Array[Byte], format: Format): Array[Byte] = {
    val bos = new ByteArrayOutputStream(chunk.length / 2 + 64)
    format match {
      case Gzip =>
        val out = new GZIPOutputStream(bos) // close() ends its own deflater
        out.write(chunk); out.close()
      case Zlib | Raw =>
        val owned = new Deflater(Deflater.DEFAULT_COMPRESSION, format == Raw)
        val out = new DeflaterOutputStream(bos, owned)
        try { out.write(chunk); out.close() } finally owned.end()
      case Zstd =>
        // one-shot static API: a ZstdOutputStream per member would
        // create/destroy a ~1 MB native cctx per doc (measured: 14×
        // slowdown on a 5k-doc pass); Zstd.compress emits a standard
        // single-shot frame — still concatenable, still readable by
        // ZstdInputStream — through a pooled context
        return com.github.luben.zstd.Zstd.compress(chunk)
      case Lz4 =>
        // 64 KB blocks: the default frame block allocates a 4 MB
        // buffer per stream — per-member streams at corpus scale churn
        // gigabytes of short-lived buffers for KB-sized payloads
        val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
          net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB)
        out.write(chunk); out.close()
    }
    bos.toByteArray
  }

  /** Decompress a whole (possibly multi-member) stream held in memory —
    * the driver-side convenience over [[inflateStream]]. Zstd takes a
    * one-shot fast path when the payload is a single frame with a
    * declared content size (what [[deflateChunk]] emits): the stream
    * decoder's per-instance native dctx is the same per-member cost
    * the compress side pays (see deflateChunk's zstd note). */
  def inflateAll(bytes: Array[Byte], format: Format): Array[Byte] = {
    if (format == Zstd && bytes.length > 0) {
      val cs = com.github.luben.zstd.Zstd.getFrameContentSize(bytes)
      if (cs >= 0 && cs <= Int.MaxValue &&
          com.github.luben.zstd.Zstd.findFrameCompressedSize(bytes) == bytes.length)
        return com.github.luben.zstd.Zstd.decompress(bytes, cs.toInt)
    }
    val bos = new ByteArrayOutputStream(bytes.length * 2 + 64)
    inflateStream(Iterator.single(bytes), format, 1 << 16).foreach(bos.write)
    bos.toByteArray
  }

  /** Incremental decompression of a chunked compressed stream:
    * concatenates input chunks, decodes all members, emits decompressed
    * chunks of `chunkSize` bytes (last one shorter). */
  def inflateStream(chunks: Iterator[Array[Byte]], format: Format,
                    chunkSize: Int): Iterator[Array[Byte]] = {
    if (!chunks.hasNext) return Iterator.empty
    format match {
      case Gzip =>
        // GZIPInputStream consumes multi-member streams natively;
        // close() at exhaustion ends its native Inflater (see
        // deflateChunk's native-memory note)
        val in = new GZIPInputStream(sequence(chunks), chunkSize)
        onTaskEnd(() => in.close())
        readChunks(in, chunkSize, closeAtEnd = true)
      case Zlib => multiStream(chunks, nowrap = false, chunkSize)
      case Raw  => multiStream(chunks, nowrap = true, chunkSize)
      case Zstd =>
        // ZstdInputStream decodes concatenated frames until EOF;
        // close() at exhaustion releases the native dctx
        val in = new com.github.luben.zstd.ZstdInputStream(sequence(chunks))
        onTaskEnd(() => in.close())
        readChunks(in, chunkSize, closeAtEnd = true)
      case Lz4 =>
        // LZ4FrameInputStream stops at its first frame by default; the
        // explicit flag makes it consume concatenated frames to EOF
        val in = new net.jpountz.lz4.LZ4FrameInputStream(
          sequence(chunks), /* stopAfterFirstFrame = */ false)
        onTaskEnd(() => in.close())
        readChunks(in, chunkSize, closeAtEnd = true)
    }
  }

  /** Register a resource release with the enclosing Spark task, so
    * PARTIAL consumption (a `limit`/`take` above an inflate stage or a
    * file/url read abandons the iterator mid-stream) and exceptions
    * mid-decode still free the ~256 KB native zlib/zstd context or the
    * open file or socket — the exhaustion-path
    * `close()`/`end()` alone covers only fully-drained iterators. The
    * release calls are idempotent (JDK Inflater.end and the codec
    * streams' close are no-ops on a released resource), so running
    * after a normal exhaustion close is safe. Outside a task (plain
    * driver-side use, unit tests) there is no hook; those call sites
    * drain fully. */
  private[core] def onTaskEnd(release: () => Unit): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
      try release() catch { case _: Exception => () }
    }
  }

  /** Incremental charset decode of a chunked byte stream: partial
    * multi-byte sequences at chunk boundaries carry over to the next
    * chunk; malformed/unmappable input throws (REPORT), and a partial
    * sequence left dangling at end-of-stream throws too. Emits one
    * string per input chunk boundary (empty outputs skipped). */
  def decodeCharsStream(chunks: Iterator[Array[Byte]],
                        charset: String): Iterator[String] = {
    import java.nio.{ByteBuffer, CharBuffer}
    import java.nio.charset.{Charset, CodingErrorAction}
    val dec = Charset.forName(charset).newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    var carry = ByteBuffer.allocate(0)
    val out = new Iterator[String] {
      def hasNext: Boolean = chunks.hasNext
      def next(): String = {
        val c = chunks.next()
        val in =
          if (carry.remaining() == 0) ByteBuffer.wrap(c)
          else {
            val b = ByteBuffer.allocate(carry.remaining() + c.length)
            b.put(carry); b.put(c); b.flip(); b
          }
        val cb = CharBuffer.allocate(in.remaining() + 1)
        val r = dec.decode(in, cb, false)
        if (r.isError) r.throwException()
        // stash undecoded tail bytes (a split multi-byte sequence)
        carry = ByteBuffer.allocate(in.remaining())
        carry.put(in); carry.flip()
        cb.flip(); cb.toString
      }
    }
    new Iterator[String] {
      private var pending: String = null
      private var flushed = false
      def hasNext: Boolean = {
        while (pending == null && out.hasNext) {
          val s = out.next(); if (s.nonEmpty) pending = s
        }
        if (pending == null && !flushed) {
          flushed = true
          // end of stream: a dangling partial sequence is malformed.
          // Sized from the carry's worst case and grown on OVERFLOW —
          // a stateful charset's flush() may emit more than the fixed
          // 8 chars a naive buffer would hold (UTF-8 never overflows
          // here, but the API accepts any charset).
          var cb = CharBuffer.allocate(
            math.max(8, math.ceil(carry.remaining() * dec.maxCharsPerByte()).toInt + 8))
          def grow(): Unit = {
            val bigger = CharBuffer.allocate(cb.capacity() * 2)
            cb.flip(); bigger.put(cb); cb = bigger
          }
          var r = dec.decode(carry, cb, true)
          while (r.isOverflow) { grow(); r = dec.decode(carry, cb, true) }
          if (r.isError) r.throwException()
          var r2 = dec.flush(cb)
          while (r2.isOverflow) { grow(); r2 = dec.flush(cb) }
          if (r2.isError) r2.throwException()
          require(carry.remaining() == 0,
            "truncated multi-byte sequence at end of stream")
          cb.flip()
          if (cb.length() > 0) pending = cb.toString
        }
        pending != null
      }
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null; r
      }
    }
  }

  private def sequence(chunks: Iterator[Array[Byte]]): InputStream =
    new SequenceInputStream(new java.util.Enumeration[InputStream] {
      def hasMoreElements: Boolean = chunks.hasNext
      def nextElement(): InputStream = new ByteArrayInputStream(chunks.next())
    })

  /** Lazily reads `in` as `chunkSize`-byte chunks (the last one may be
    * short; an empty stream yields none). */
  private[core] def readChunks(in: InputStream, chunkSize: Int,
                               closeAtEnd: Boolean = false): Iterator[Array[Byte]] =
    Iterator.continually {
      val buf = new Array[Byte](chunkSize)
      var off = 0
      var n = 0
      while (off < chunkSize && { n = in.read(buf, off, chunkSize - off); n >= 0 }) off += n
      if (off == 0) { if (closeAtEnd) in.close(); null }
      else if (off == chunkSize) buf
      else java.util.Arrays.copyOf(buf, off)
    }.takeWhile(_ != null)

  /** Manual multi-member decode for zlib/raw: when a member's stream
    * ends with input left over, reset the inflater, re-feed the tail of
    * the last chunk, and continue — the concatenation semantics
    * GZIPInputStream provides natively for gzip. Raw deflate needs the
    * documented extra dummy byte at end-of-input (java.util.zip.Inflater
    * nowrap contract); it is injected once and never treated as data.
    * Input that ends inside a member throws EOFException, as gzip's
    * GZIPInputStream does. */
  private def multiStream(chunks: Iterator[Array[Byte]], nowrap: Boolean,
                          chunkSize: Int): Iterator[Array[Byte]] =
    new Iterator[Array[Byte]] {
      private val inf = new Inflater(nowrap)
      onTaskEnd(() => inf.end()) // early-stop / mid-decode-throw safety net
      private var lastChunk: Array[Byte] = Array.emptyByteArray
      private var dummyFed = false
      // whether the current member has been given any real input
      private var inMember = false
      private var pending: Array[Byte] = null
      // ensure the inflater has input; false once truly exhausted
      private def feed(): Boolean = {
        while (inf.needsInput()) {
          if (chunks.hasNext) {
            val c = chunks.next()
            if (c.nonEmpty) { lastChunk = c; inf.setInput(c); inMember = true }
          } else if (nowrap && !dummyFed) {
            dummyFed = true
            lastChunk = Array.emptyByteArray // dummy is not data
            inf.setInput(new Array[Byte](1))
          } else return false
        }
        true
      }
      private def decodeNext(): Array[Byte] = {
        val buf = new Array[Byte](chunkSize)
        var off = 0
        var done = false
        while (off < chunkSize && !done) {
          if (inf.finished()) {
            val rem = inf.getRemaining
            // tail of the last real chunk fed = start of the next member
            // (rem beyond lastChunk.length can only be the injected dummy)
            val tail = math.min(rem, lastChunk.length)
            if (tail == 0 && !chunks.hasNext) done = true
            else {
              val leftover = java.util.Arrays.copyOfRange(
                lastChunk, lastChunk.length - tail, lastChunk.length)
              inf.reset()
              inMember = leftover.nonEmpty
              if (leftover.nonEmpty) { lastChunk = leftover; inf.setInput(leftover) }
              else lastChunk = Array.emptyByteArray
            }
          } else if (inf.needsInput() && !feed()) {
            if (inMember) {
              inf.end()
              throw new java.io.EOFException("compressed stream ends inside a member")
            }
            done = true
          } else {
            val n = inf.inflate(buf, off, chunkSize - off)
            if (n == 0 && inf.needsDictionary())
              throw new java.util.zip.ZipException("preset dictionary not supported")
            off += n
          }
        }
        if (off == 0) { inf.end(); null } // native context freed (see deflateChunk)
        else if (off == chunkSize) buf
        else java.util.Arrays.copyOf(buf, off)
      }
      private var ended = false
      def hasNext: Boolean = {
        if (pending == null && !ended) {
          pending = decodeNext()
          if (pending == null) ended = true
        }
        pending != null
      }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException
        val r = pending; pending = null; r
      }
    }
}
