package graft.multimodal

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import Multimodal._

/** Multimodal plumbing: schema contract, deterministic stub decode,
  * feature shape, partition-size control. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf0001

  test("media table schema: opaque binary + id") {
    val m = mediaTable(spark, sf)
    assert(m.schema.fieldNames.toSeq == Seq("media_id", "content"))
    assert(m.schema("content").dataType.typeName == "binary")
    assert(m.count() == 500)
  }

  test("decode produces typed metadata, deterministic across runs") {
    val d1 = decode(mediaTable(spark, sf)).collect().sortBy(_.media_id)
    val d2 = decode(mediaTable(spark, sf)).collect().sortBy(_.media_id)
    assert(d1.map(_.meta).toSeq == d2.map(_.meta).toSeq)
    assert(d1.forall(r => r.meta.bytes == r.content.length))
    assert(d1.forall(r => Set("img/fake-png", "audio/fake-wav", "video/fake-mp4")
      .contains(r.meta.format)))
  }

  test("feature extraction yields fixed-dim normalized vectors") {
    val f = features(mediaTable(spark, sf), dim = 16).collect()
    assert(f.forall(_.feature.length == 16))
    assert(f.forall(r => math.abs(r.feature.sum - 1.0f) < 1e-3))
  }

  test("frame sampling keeps every k-th block") {
    val frames = StubCodec.sampleFrames(Array.tabulate[Byte](640)(_.toByte), every = 3)
    assert(frames.size == 4) // blocks 0,3,6,9 of 10
    assert(frames.head.length == 64)
  }

  test("repartitionForDecode bounds partition payload") {
    val m = mediaTable(spark, sf)
    val total = m.collect().map(_.content.length.toLong).sum
    val parts = repartitionForDecode(m, targetBytesPerPartition = total / 7, totalBytes = total)
    assert(parts.rdd.getNumPartitions == 8)
  }

  test("empty and short payloads take the degenerate decode branches") {
    // the corpus has no empty docs, so the 'empty' format and the
    // len<=2 width/height zero-branches are pinned here (and the DuckDB
    // twin's TRY_CAST guard is cross-checked against these exact values
    // in tools/oracle_branch_check.py)
    assert(StubCodec.decodeMeta(Array.emptyByteArray) ==
      MediaMeta("empty", 0, 0, 1, 0L))
    val one = StubCodec.decodeMeta(Array[Byte](65)) // "A" = 65, 65%3=2
    assert(one == MediaMeta("video/fake-mp4", 0, 0, 1, 1L))
    val two = StubCodec.decodeMeta("AB".getBytes("UTF-8")) // 66%40+1=27
    assert(two == MediaMeta("video/fake-mp4", 16 * 27, 0, 1, 2L))
    val media = spark.createDataset(Seq(
      MediaRow(1L, Array.emptyByteArray),
      MediaRow(2L, "A".getBytes("UTF-8")),
      MediaRow(3L, "some longer document".getBytes("UTF-8"))))
    val stats = mediaStatsOf(media).collect()
    assert(stats.map(_.getString(0)).contains("empty"))
    assert(stats.map(_.getLong(1)).sum == 3)
  }

  test("resize shrinks payloads by the pixel ratio, deterministically") {
    val b = Array.tabulate[Byte](4096)(i => (i % 251).toByte)
    val m = StubCodec.decodeMeta(b)
    val half = StubCodec.resize(b, m.width / 2, m.height / 2)
    assert(half.length < b.length && half.length > 0)
    assert(half.toSeq == StubCodec.resize(b, m.width / 2, m.height / 2).toSeq,
      "pure function of payload + target")
    // upscale requests never grow the payload (no invented data)
    assert(StubCodec.resize(b, m.width * 2, m.height * 2).length <= b.length)
    assert(StubCodec.resize(Array.emptyByteArray, 8, 8).isEmpty)
    // distributed path preserves ids and applies the same function
    val media = mediaTable(spark, sf)
    val resized = resizeAll(media, 32, 32).collect().map(r => r.media_id -> r.content).toMap
    val direct = media.collect().map(r => r.media_id -> StubCodec.resize(r.content, 32, 32)).toMap
    assert(resized.keySet == direct.keySet)
    assert(resized.forall { case (k, v) => v.toSeq == direct(k).toSeq })
  }

  test("q33 media stats aggregates per format") {
    val stats = mediaStats(spark, sf).collect()
    assert(stats.map(_.getLong(1)).sum == 500) // all docs accounted for
    assert(stats.length >= 2)                  // multiple sniffed formats
  }

  test("REAL PNG decode: genuine bytes, true dimensions, through the distributed pipeline") {
    // The JDK's javax.imageio both encodes and decodes PNG, so the image
    // leg needs no stub: fixtures are genuine PNG files (magic, IHDR,
    // zlib-compressed scanlines) and the decoded dimensions are the
    // true ones, asserted through the SAME Dataset pipeline the stub
    // formats use.
    val png1 = PngCodec.encode(20, 10, seed = 1)
    val png2 = PngCodec.encode(7, 5, seed = 2)
    val png3 = PngCodec.encode(33, 1, seed = 3)
    assert(PngCodec.isPng(png1) && PngCodec.isPng(png2) && PngCodec.isPng(png3))
    assert(!PngCodec.isPng("not a png".getBytes("UTF-8")))
    assert(PngCodec.encode(20, 10, seed = 1).toSeq == png1.toSeq, "deterministic fixture")

    val media = spark.createDataset(Seq(
      MediaRow(1L, png1), MediaRow(2L, png2), MediaRow(3L, png3),
      MediaRow(4L, "plain text payload".getBytes("UTF-8")))).repartition(3)
    val metas = decode(media).collect().map(r => r.media_id -> r.meta).toMap
    assert(metas(1L) == MediaMeta("image/png", 20, 10, 1, png1.length.toLong))
    assert(metas(2L) == MediaMeta("image/png", 7, 5, 1, png2.length.toLong))
    assert(metas(3L) == MediaMeta("image/png", 33, 1, 1, png3.length.toLong))
    // non-PNG rows in the same table still take the stub branch
    assert(metas(4L).format == StubCodec.sniffFormat("plain text payload".getBytes("UTF-8")))
  }

  test("corrupt PNG payloads are quarantined, not thrown: decode marks, resize passes through") {
    // PNG magic followed by garbage: the real reader fails mid-header;
    // the pipeline must degrade per-record (marker format), never abort
    // the batch
    val corrupt = PngCodec.encode(4, 4).take(12) ++ Array.fill[Byte](20)(0x42)
    assert(PngCodec.isPng(corrupt))
    val m = decodeMeta(corrupt)
    assert(m.format == "image/png-corrupt" && m.bytes == corrupt.length.toLong)
    assert(resizePayload(corrupt, 2, 2).toSeq == corrupt.toSeq, "quarantine passes through")
    val media = spark.createDataset(Seq(
      MediaRow(1L, corrupt), MediaRow(2L, PngCodec.encode(6, 3))))
    val metas = decode(media).collect().map(r => r.media_id -> r.meta.format).toMap
    assert(metas(1L) == "image/png-corrupt" && metas(2L) == "image/png")
  }

  test("REAL PNG resize: re-encoded output decodes to the target dimensions") {
    val src = PngCodec.encode(40, 24, seed = 7)
    val out = PngCodec.resize(src, 10, 6)
    val m = PngCodec.decodeMeta(out)
    assert(m.width == 10 && m.height == 6, s"resized PNG must be 10x6, got $m")
    // through the distributed path, dispatched by payload format
    val media = spark.createDataset(Seq(MediaRow(9L, src)))
    val resized = resizeAll(media, 10, 6).collect().head
    assert(PngCodec.decodeMeta(resized.content).width == 10)
    assert(PngCodec.decodeMeta(resized.content).height == 6)
  }

  test("REAL WAV decode: genuine RIFF/PCM bytes, true rate/channels/frames, distributed") {
    // javax.sound.sampled ships in the JDK like imageio: the fixture is
    // a genuine WAV file (RIFF header, fmt chunk, PCM samples) written
    // by the JDK's own writer, and the decoded metadata is the true
    // header content — through the SAME pipeline as PNG/stub rows.
    val wav1 = WavCodec.encode(1600, sampleRate = 8000, seed = 1)
    val wav2 = WavCodec.encode(441, sampleRate = 44100, seed = 2)
    assert(WavCodec.isWav(wav1) && WavCodec.isWav(wav2))
    assert(!WavCodec.isWav("RIFFnot really".getBytes("UTF-8")))
    assert(WavCodec.encode(1600, 8000, seed = 1).toSeq == wav1.toSeq, "deterministic fixture")

    val media = spark.createDataset(Seq(
      MediaRow(1L, wav1), MediaRow(2L, wav2),
      MediaRow(3L, PngCodec.encode(5, 4)),
      MediaRow(4L, "plain text".getBytes("UTF-8")))).repartition(2)
    val metas = decode(media).collect().map(r => r.media_id -> r.meta).toMap
    assert(metas(1L) == MediaMeta("audio/wav", 8000, 1, 1600, wav1.length.toLong))
    assert(metas(2L) == MediaMeta("audio/wav", 44100, 1, 441, wav2.length.toLong))
    assert(metas(3L).format == "image/png", "PNG dispatch unaffected")
    assert(metas(4L).format == StubCodec.sniffFormat("plain text".getBytes("UTF-8")))
  }

  test("corrupt WAV payloads are quarantined; resize passes WAV through unchanged") {
    val corrupt = "RIFF0000WAVE".getBytes("UTF-8") ++ Array.fill[Byte](16)(0x13)
    assert(WavCodec.isWav(corrupt))
    val m = decodeMeta(corrupt)
    assert(m.format == "audio/wav-corrupt" && m.bytes == corrupt.length.toLong)
    val good = WavCodec.encode(100)
    assert(resizePayload(good, 2, 2).toSeq == good.toSeq,
      "resize is a pixel op; audio passes through intact")
  }

  test("REAL GIF decode: animated frames, dims, summed delays, distributed") {
    // the JDK ships a genuine GIF writer/reader pair: the fixture is a
    // real GIF89a stream with 4 frames and a per-frame delay, and the
    // parse reads the true frame count + GraphicControlExtension
    // delays back out — through the same pipeline as PNG/WAV rows.
    val gif = GifCodec.encode(width = 10, height = 7, nFrames = 4, delayCs = 3, seed = 9)
    assert(GifCodec.isGif(gif))
    assert(!GifCodec.isGif("GIF is a format".getBytes("UTF-8")))
    assert(GifCodec.encode(10, 7, 4, 3, seed = 9).toSeq == gif.toSeq, "deterministic fixture")
    assert(GifCodec.frameInfo(gif) == ((10, 7, 4, 12L)))

    val media = spark.createDataset(Seq(
      MediaRow(1L, gif), MediaRow(2L, GifCodec.encode(5, 5, 1, 2)),
      MediaRow(3L, PngCodec.encode(5, 4)))).repartition(2)
    val metas = decode(media).collect().map(r => r.media_id -> r.meta).toMap
    assert(metas(1L) == MediaMeta("video/gif", 10, 7, 4, gif.length.toLong))
    assert(metas(2L).nFrames == 1 && metas(2L).format == "video/gif")
    assert(metas(3L).format == "image/png", "PNG dispatch unaffected")
  }

  test("corrupt GIF payloads are quarantined, not thrown") {
    val corrupt = "GIF89a".getBytes("UTF-8") ++ Array.fill[Byte](10)(0x7f)
    assert(GifCodec.isGif(corrupt))
    val m = decodeMeta(corrupt)
    assert(m.format == "video/gif-corrupt" && m.bytes == corrupt.length.toLong)
  }
}
