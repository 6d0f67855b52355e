package graft.perfbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, GZIPOutputStream}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Order-free digest of a line stream: line count, UTF-8 bytes with the
  * newlines, and the XOR and low-32-bit sum of each line's xxhash64 (seed
  * 42, the hash Spark's `xxhash64` applies to a string's UTF-8 bytes). */
final case class LineDigest(lines: Long, bytes: Long, xor: Long, lowSum: Long) {
  def +(o: LineDigest): LineDigest =
    LineDigest(lines + o.lines, bytes + o.bytes, xor ^ o.xor, lowSum + o.lowSum)
}

object LineDigest {
  def hash(b: Array[Byte], off: Int, len: Int): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + off, len, 42L)
}

/** Seeded generator of flod's headline input: UTF-8 text with multi-byte
  * characters, one multi-member gzip file per part. Member boundaries fall
  * at arbitrary byte offsets, so members split lines and characters. */
object FlowCorpus {
  private val words = Array("flod", "pipe", "chunk", "stream", "zlib", "byLine", "take",
    "inflate", "naïve", "straße", "café", "Ωmega", "λ", "日本語", "数据流", "😀", "ёж",
    "x", "42", "0xff", "—", "über")

  /** Writes `files` parts of `linesPerFile` lines each under `dir`; returns
    * each part's path and the digest of its lines. */
  def generate(dir: File, seed: Long, files: Int, linesPerFile: Int,
               threads: Int): Seq[(File, LineDigest)] = {
    dir.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val parts = (0 until files).map { i =>
        Future(writePart(new File(dir, f"part-$i%03d.txt.gz"), seed * 1000003L + i, linesPerFile))
      }
      Await.result(Future.sequence(parts), Duration.Inf)
    } finally pool.shutdown()
  }

  private def writePart(f: File, seed: Long, lines: Int): (File, LineDigest) = {
    val rnd = new java.util.Random(seed)
    val text = new ByteArrayOutputStream(lines * 20)
    var xor = 0L
    var low = 0L
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i < lines) {
      sb.setLength(0)
      val n = 1 + rnd.nextInt(3)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(words(rnd.nextInt(words.length)))
        w += 1
      }
      sb.append(' ').append(rnd.nextInt(1000))
      val b = sb.toString.getBytes(UTF_8)
      val h = LineDigest.hash(b, 0, b.length)
      xor ^= h
      low += h & 0xffffffffL
      text.write(b)
      text.write('\n')
      i += 1
    }
    val all = text.toByteArray
    val out = new FileOutputStream(f)
    try {
      var off = 0
      while (off < all.length) {
        val len = math.min(all.length - off, (1 << 20) + rnd.nextInt(1 << 19))
        val gz = new GZIPOutputStream(out, 1 << 16) {
          `def`.setLevel(Deflater.BEST_SPEED)
          override def close(): Unit = finish()
        }
        gz.write(all, off, len)
        gz.close()
        off += len
      }
    } finally out.close()
    (f, LineDigest(lines, all.length.toLong, xor, low))
  }
}
