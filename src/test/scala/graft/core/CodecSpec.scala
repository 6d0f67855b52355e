package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Compression codec stages (flod-zlib inflate/deflate — the reference's
  * headline README example, README.md:10-13). Pins:
  *  - per-format round trips incl. multi-member concatenation,
  *  - adversarial chunk re-splitting across member boundaries,
  *  - interop with stock java.util.zip gzip streams (both directions),
  *  - the distributed Flow.deflate → Flow.inflate path.
  */
class CodecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val formats = Seq(Codec.Gzip, Codec.Zlib, Codec.Raw, Codec.Zstd, Codec.Lz4)
  private def bytes(s: String) = s.getBytes("UTF-8")
  private val payloadA = bytes("the quick brown fox jumps over the lazy dog; " * 40)
  private val payloadB = bytes("pack my box with five dozen liquor jugs! " * 25)

  test("deflateChunk -> inflateAll round-trips every format") {
    for (f <- formats) {
      val c = Codec.deflateChunk(payloadA, f)
      assert(c.length < payloadA.length, s"$f should compress repetitive text")
      assert(Codec.inflateAll(c, f).sameElements(payloadA), s"$f round trip")
    }
  }

  test("empty payload round-trips (a zero-length member is a valid member)") {
    for (f <- formats) {
      val c = Codec.deflateChunk(Array.emptyByteArray, f)
      assert(c.nonEmpty, s"$f member framing exists even for empty input")
      assert(Codec.inflateAll(c, f).isEmpty, s"$f empty round trip")
    }
  }

  test("concatenated members decode to concatenated payloads (cat a.gz b.gz)") {
    for (f <- formats) {
      val c = Codec.deflateChunk(payloadA, f) ++ Codec.deflateChunk(payloadB, f) ++
        Codec.deflateChunk(payloadA, f)
      val want = payloadA ++ payloadB ++ payloadA
      assert(Codec.inflateAll(c, f).sameElements(want), s"$f multi-member")
    }
  }

  test("inflateStream survives adversarial chunk boundaries") {
    // compressed stream re-split at every pathological size, including
    // 1-byte chunks that slice member headers/trailers mid-field
    for (f <- formats; split <- Seq(1, 2, 3, 7, 64)) {
      val c = Codec.deflateChunk(payloadA, f) ++ Codec.deflateChunk(payloadB, f)
      val chunks = c.grouped(split).toSeq
      val got = Codec.inflateStream(chunks.iterator, f, 1000)
        .foldLeft(new ByteArrayOutputStream()) { (b, a) => b.write(a); b }
        .toByteArray
      assert(got.sameElements(payloadA ++ payloadB), s"$f split=$split")
    }
  }

  test("inflateStream re-chunks output at chunkSize") {
    val payload = payloadA.take(1733) // NOT a multiple of the chunk size
    val c = Codec.deflateChunk(payload, Codec.Gzip)
    val out = Codec.inflateStream(Iterator.single(c), Codec.Gzip, 100).toSeq
    assert(out.init.forall(_.length == 100))
    assert(out.last.length == 33)
    assert(out.map(_.length).sum == payload.length)
  }

  test("gzip interop: stock GZIPInputStream reads our members, we read stock gzip") {
    // our deflate -> JDK gunzip
    val ours = Codec.deflateChunk(payloadA, Codec.Gzip) ++
      Codec.deflateChunk(payloadB, Codec.Gzip)
    val in = new GZIPInputStream(new java.io.ByteArrayInputStream(ours))
    val drained = new ByteArrayOutputStream()
    val buf = new Array[Byte](256)
    Iterator.continually(in.read(buf)).takeWhile(_ >= 0)
      .foreach(n => drained.write(buf, 0, n))
    assert(drained.toByteArray.sameElements(payloadA ++ payloadB))
    // JDK gzip (one single member over the whole stream) -> our inflate
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(payloadA); gz.write(payloadB); gz.close()
    assert(Codec.inflateAll(bos.toByteArray, Codec.Gzip)
      .sameElements(payloadA ++ payloadB))
  }

  test("a stream cut mid-member throws for gzip, zlib and raw, not a prefix or a hang") {
    for (f <- Seq(Codec.Gzip, Codec.Zlib, Codec.Raw)) {
      val one = Codec.deflateChunk(payloadA, f)
      val two = one ++ Codec.deflateChunk(payloadB, f)
      // cut inside the only member, and inside the second of two
      for (cut <- Seq(one.dropRight(6), one.take(one.length / 2),
                      two.dropRight(6), two.take((one.length + two.length) / 2));
           split <- Seq(7, cut.length)) {
        intercept[java.io.EOFException](
          Codec.inflateStream(cut.grouped(split), f, 1000).foreach(_ => ()))
      }
    }
  }

  test("Flow.deflate -> Flow.inflate distributed round trip (README example shape)") {
    implicit val e: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    for (f <- formats) {
      val docs = (0 until 64).map(i => bytes(s"doc-$i " * (i + 1)))
      val flow = Flow.fromSeq(spark, docs, numPartitions = 4)
      // deflate is per-element (order-preserving map); inflate decodes each
      // partition's members as one stream — with chunkSize large enough,
      // content round-trips even though member boundaries may merge
      val back = flow.deflate(f).inflate(f, chunkSize = 1 << 20).toArray
      val gotAll = back.foldLeft(new ByteArrayOutputStream()) { (b, a) => b.write(a); b }
      val wantAll = docs.foldLeft(new ByteArrayOutputStream()) { (b, a) => b.write(a); b }
      assert(gotAll.toByteArray.sameElements(wantAll.toByteArray), s"$f flow round trip")
    }
  }

  test("partial consumption of an inflate stage inside a task is safe (early-stop cleanup)") {
    implicit val e: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    // a limit above inflate abandons the decode iterator mid-stream;
    // the TaskCompletionListener must release the native context — and
    // must ALSO tolerate running after the normal exhaustion close
    // (idempotent double-release). Both paths per format:
    for (f <- formats) {
      val docs = (0 until 64).map(i => bytes(s"doc-$i " * (i + 1)))
      val flow = Flow.fromSeq(spark, docs, numPartitions = 4).deflate(f)
      val partial = flow.inflate(f, chunkSize = 64).ds.limit(3).collect()
      assert(partial.length == 3, s"$f early stop")
      val full = flow.inflate(f, chunkSize = 1 << 20).toArray
      assert(full.nonEmpty, s"$f drained-then-listener")
    }
  }

  test("decodeCharsStream reassembles multi-byte UTF-8 split at every boundary") {
    val text = "héllo wörld — ¡ünïcode! 你好世界 🎉 end"
    val raw = bytes(text)
    for (split <- 1 to 8) {
      val got = Codec.decodeCharsStream(raw.grouped(split), "UTF-8").mkString
      assert(got == text, s"split=$split")
    }
  }

  test("decodeCharsStream fails loudly on malformed and truncated input") {
    // overlong/invalid byte
    intercept[Exception](
      Codec.decodeCharsStream(Iterator.single(Array(0xff.toByte)), "UTF-8").toSeq)
    // dangling partial multi-byte sequence at end of stream
    val partial = bytes("你").dropRight(1)
    intercept[Exception](
      Codec.decodeCharsStream(Iterator.single(bytes("ok") ++ partial), "UTF-8").toSeq)
  }

  test("headline pipeline: read(.gz) -> inflate -> decodeChars -> byLine") {
    // the reference's README example end-to-end, with multi-byte chars
    // positioned so small inflate chunks split them mid-sequence
    implicit val be: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    implicit val se: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    val lines = (0 until 50).map(i => s"zeile-$i äöü ß 号$i")
    val dir = java.nio.file.Files.createTempDirectory("graft_gzline")
    java.nio.file.Files.write(dir.resolve("corpus.txt.gz"),
      Codec.deflateChunk(bytes(lines.mkString("", "\n", "\n")), Codec.Gzip))
    val got = Flow.readBytes(spark, dir.toString + "/corpus.txt.gz")
      .inflate(Codec.Gzip, chunkSize = 7) // adversarially tiny chunks
      .decodeChars()
      .byLine()
      .toArray
    assert(got == lines)
  }

  test("Flow.inflate on a single-partition multi-member stream preserves order") {
    implicit val e: org.apache.spark.sql.Encoder[Array[Byte]] =
      org.apache.spark.sql.Encoders.BINARY
    val docs = (0 until 10).map(i => bytes(s"[$i]" + ("x" * 37 * (i + 1))))
    val members = docs.map(Codec.deflateChunk(_, Codec.Gzip))
    val got = Flow.fromSeq(spark, members, numPartitions = 1)
      .inflate(Codec.Gzip, chunkSize = 50).toArray
    val gotAll = got.foldLeft(new ByteArrayOutputStream()) { (b, a) => b.write(a); b }
    val wantAll = docs.foldLeft(new ByteArrayOutputStream()) { (b, a) => b.write(a); b }
    assert(gotAll.toByteArray.sameElements(wantAll.toByteArray))
    assert(got.init.forall(_.length == 50))
  }
}
