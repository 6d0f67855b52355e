package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns next to typed metadata, processed per-partition in
  * batches — the pattern a 100 TB training-data pipeline needs.
  *
  * The image leg is REAL: genuine PNG payloads are decoded (and resized)
  * with the JDK's `javax.imageio` ([[PngCodec]]). Audio/video codecs do
  * not ship in this container, so those formats use a clearly-marked
  * deterministic STUB (`StubCodec`). Everything Spark-side is real and
  * tested either way: the schema contract, the typed Dataset encoding,
  * the per-partition batch shape (decode amortized per batch, not per
  * row), and the partition-size control for memory-bounded decode.
  */
/** Typed metadata for a decoded media payload. (Top-level, not nested in
  * the object: REPL/spark-shell encoder reflection fails on case classes
  * nested inside objects.) */
final case class MediaMeta(format: String, width: Int, height: Int,
                           nFrames: Int, bytes: Long)

final case class MediaRow(media_id: Long, content: Array[Byte])
final case class DecodedRow(media_id: Long, content: Array[Byte], meta: MediaMeta)
final case class FeatureRow(media_id: Long, feature: Array[Float])
final case class FrameRow(media_id: Long, format: String,
                          n_frames: Long, frame_bytes: Long)
final case class VideoMetaRow(doc_id: Long, format: String, width: Int,
                              height: Int, n_frames: Long, total_delay_cs: Long)

/** REAL PNG codec — `javax.imageio` ships in the JDK, so the image leg
  * of the multimodal pipeline needs no external library: genuine PNG
  * bytes are decoded (header-only for metadata — the reader reports
  * dimensions without rasterizing pixels) and genuinely re-encoded on
  * resize. The deterministic `StubCodec` now stands in for audio/video
  * only (no codecs for those ship in this container).
  */
object PngCodec {
  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.imageio.ImageIO
  import javax.imageio.stream.MemoryCacheImageInputStream

  // In-memory ImageIO stream caching — one JVM-wide decision, owned
  // and documented by core.ImageIoDefaults (ADVICE r18).
  graft.core.ImageIoDefaults.ensure()

  private val Magic: Array[Byte] =
    Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(b: Array[Byte]): Boolean =
    b.length >= Magic.length && Magic.indices.forall(i => b(i) == Magic(i))

  /** Real metadata decode: an ImageIO reader parses the PNG header and
    * reports true dimensions WITHOUT decoding pixel data — exactly what
    * a 100 TB metadata pass wants (memory stays O(header), not
    * O(pixels)). */
  def decodeMeta(b: Array[Byte]): MediaMeta = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    try {
      val readers = ImageIO.getImageReaders(in)
      require(readers.hasNext, "no ImageIO PNG reader in this JVM")
      val r = readers.next()
      try {
        r.setInput(in)
        MediaMeta(format = "image/png", width = r.getWidth(0),
          height = r.getHeight(0), nFrames = 1, bytes = b.length.toLong)
      } finally r.dispose()
    } finally in.close()
  }

  /** Real resize: decode → resample → re-encode PNG. */
  def resize(b: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    require(targetW > 0 && targetH > 0, s"target dims must be positive: ${targetW}x$targetH")
    val src = ImageIO.read(new ByteArrayInputStream(b))
    require(src != null, "payload is not a decodable image")
    val dst = new BufferedImage(targetW, targetH, BufferedImage.TYPE_INT_RGB)
    val g = dst.createGraphics()
    try g.drawImage(src, 0, 0, targetW, targetH, null) finally g.dispose()
    val out = new ByteArrayOutputStream()
    ImageIO.write(dst, "png", out)
    out.toByteArray
  }

  /** Deterministic genuine PNG (for fixtures): pixel RGB is a pure
    * function of (x, y, seed), encoded by the JDK's real PNG writer. */
  def encode(width: Int, height: Int, seed: Int = 0): Array[Byte] = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until height; x <- 0 until width)
      img.setRGB(x, y, (x * 31 + y * 17 + seed * 101) & 0xffffff)
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }
}

/** REAL WAV codec — `javax.sound.sampled` ships in the JDK exactly like
  * `javax.imageio`, so PCM WAV needs no external library either:
  * metadata comes from a genuine RIFF/fmt header parse (O(header), no
  * sample decode), and fixtures are written by the JDK's real WAV
  * writer. Compressed audio (mp3/ogg) and video keep the stub — those
  * codecs genuinely don't ship in this container. */
object WavCodec {
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

  def isWav(b: Array[Byte]): Boolean =
    b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Real metadata decode. The generalized "dims" of a 1-D signal:
    * width := sample rate (Hz), height := channels; nFrames is the true
    * PCM frame count from the data-chunk length. */
  def decodeMeta(b: Array[Byte]): MediaMeta = {
    val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(b))
    try {
      val f = in.getFormat
      MediaMeta("audio/wav", width = f.getSampleRate.toInt,
        height = f.getChannels,
        nFrames = math.min(in.getFrameLength, Int.MaxValue.toLong).toInt,
        bytes = b.length.toLong)
    } finally in.close()
  }

  /** Deterministic pure-tone WAV: 16-bit LE mono PCM sine at `freqHz`,
    * amplitude 8191, samples via StrictMath (bit-identical across
    * platforms), written by [[writePcm16]] — our own RIFF container
    * writer, byte-validated against the JDK reader in Batch10Spec.
    * The planted tone is what q294's Goertzel detector must recover.
    *
    * Why not AudioSystem.write on this path: every AudioSystem entry
    * point re-walks the provider registry under a lock, which
    * SERIALIZES executor threads — measured on q294, 32 tasks ran no
    * faster than 1. The fidelity gate for the JDK codec itself is
    * q135 (metadata path, one registry hit per row is its measured
    * class cost); the bulk DSP path owns its container bytes. */
  def encodeTone(nSamples: Int, freqHz: Double, sampleRate: Int = 8000): Array[Byte] = {
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = math.round(8191.0 *
        StrictMath.sin(2.0 * math.Pi * freqHz * i / sampleRate)).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    writePcm16(data, sampleRate)
  }

  /** Canonical 44-byte-header RIFF/WAVE/fmt/data container around raw
    * 16-bit LE mono PCM bytes — the exact layout the JDK writer emits
    * for this format (asserted byte-for-byte in Batch10Spec). */
  def writePcm16(data: Array[Byte], sampleRate: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(44 + data.length)
    def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write("RIFF".getBytes, 0, 4); w32(36 + data.length)
    out.write("WAVE".getBytes, 0, 4)
    out.write("fmt ".getBytes, 0, 4); w32(16)
    w16(1); w16(1); w32(sampleRate); w32(sampleRate * 2); w16(2); w16(16)
    out.write("data".getBytes, 0, 4); w32(data.length)
    out.write(data, 0, data.length)
    out.toByteArray
  }

  /** Full REAL PCM decode via a strict RIFF chunk walk: validates the
    * RIFF/WAVE signature, requires a PCM/mono/16-bit fmt chunk, finds
    * the data chunk wherever it sits, and fails loudly on truncation
    * or malformed structure — unlike [[decodeMeta]] this reads the
    * data chunk, so a byte-shifted payload surfaces here. Lock-free
    * (see [[encodeTone]]), so executor threads actually parallelize. */
  def decodeSamples(b: Array[Byte]): Array[Short] = {
    require(isWav(b), "not a RIFF/WAVE payload")
    def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    def u32(o: Int) = (b(o) & 0xff).toLong | ((b(o + 1) & 0xff).toLong << 8) |
      ((b(o + 2) & 0xff).toLong << 16) | ((b(o + 3) & 0xff).toLong << 24)
    var off = 12
    var fmtOk = false
    while (off + 8 <= b.length) {
      val id = new String(b, off, 4, "US-ASCII")
      val len = u32(off + 4).toInt
      require(off + 8 + len <= b.length, s"truncated $id chunk")
      if (id == "fmt ") {
        require(u16(off + 8) == 1 && u16(off + 10) == 1 &&
          u16(off + 22) == 16, "expected PCM mono 16-bit")
        fmtOk = true
      } else if (id == "data") {
        require(fmtOk, "data chunk before fmt")
        require(len % 2 == 0, "odd data-chunk length for 16-bit PCM")
        val base = off + 8
        return Array.tabulate(len / 2)(i =>
          ((b(base + 2 * i) & 0xff) | (b(base + 2 * i + 1) << 8)).toShort)
      }
      off += 8 + len + (len & 1) // chunks are word-aligned
    }
    throw new IllegalArgumentException("no data chunk found")
  }

  /** Goertzel power of `x` at `freqHz` — the O(N) single-bin DFT probe
    * (no FFT library needed), the textbook recurrence. */
  def goertzel(x: Array[Short], freqHz: Double, sampleRate: Int): Double = {
    val coeff = 2.0 * StrictMath.cos(2.0 * math.Pi * freqHz / sampleRate)
    var s1 = 0.0
    var s2 = 0.0
    var i = 0
    while (i < x.length) {
      val s0 = x(i) + coeff * s1 - s2
      s2 = s1; s1 = s0; i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** Deterministic genuine WAV (for fixtures): 16-bit little-endian mono
    * PCM whose samples are a pure function of (index, seed), written by
    * the JDK's real WAV writer. */
  def encode(nSamples: Int, sampleRate: Int = 8000, seed: Int = 0): Array[Byte] = {
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val data = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = ((i * 2654435761L + seed * 40503L) & 0xffffL).toShort
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val in = new AudioInputStream(new ByteArrayInputStream(data), fmt, nSamples.toLong)
    val out = new ByteArrayOutputStream()
    try AudioSystem.write(in, AudioFileFormat.Type.WAVE, out) finally in.close()
    out.toByteArray
  }
}

/** REAL (animated) GIF codec — the video leg, JDK-only like PNG/WAV:
  * `javax.imageio` ships a genuine GIF reader AND writer, so
  * multi-frame video-like payloads can be really encoded and really
  * parsed (frame count, dimensions, per-frame delays from the
  * GraphicControlExtension blocks) without native codecs. This
  * replaces the former video stub arm: the pipeline decodes actual
  * GIF89a bytes, not a byte heuristic. */
object GifCodec {
  import java.awt.image.BufferedImage
  import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
  import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
  import javax.imageio.metadata.IIOMetadataNode
  import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

  graft.core.ImageIoDefaults.ensure() // in-memory stream caching

  /** GIF87a / GIF89a signature. */
  def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  private val GifMetaFormat = "javax_imageio_gif_image_1.0"

  /** Full real parse: dimensions, frame count, and the summed
    * per-frame delay (centiseconds) read from each frame's
    * GraphicControlExtension. O(structure), pixels stay undecoded. */
  def frameInfo(b: Array[Byte]): (Int, Int, Int, Long) = {
    val in = new MemoryCacheImageInputStream(new ByteArrayInputStream(b))
    try {
      val readers = ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no ImageIO GIF reader in this JVM")
      val r = readers.next()
      try {
        r.setInput(in)
        val n = r.getNumImages(true)
        var totalDelay = 0L
        var i = 0
        while (i < n) {
          val tree = r.getImageMetadata(i).getAsTree(GifMetaFormat)
            .asInstanceOf[IIOMetadataNode]
          val gce = tree.getElementsByTagName("GraphicControlExtension")
          if (gce.getLength > 0)
            totalDelay += gce.item(0).asInstanceOf[IIOMetadataNode]
              .getAttribute("delayTime").toLong
          i += 1
        }
        (r.getWidth(0), r.getHeight(0), n, totalDelay)
      } finally r.dispose()
    } finally in.close()
  }

  def decodeMeta(b: Array[Byte]): MediaMeta = {
    val (w, h, n, _) = frameInfo(b)
    MediaMeta("video/gif", width = w, height = h, nFrames = n,
      bytes = b.length.toLong)
  }

  /** Deterministic genuine ANIMATED GIF (for fixtures): `nFrames`
    * frames whose pixels are a pure function of (x, y, frame, seed),
    * each carrying `delayCs` in its GraphicControlExtension, written
    * frame-by-frame by the JDK's real GIF writer (writeToSequence). */
  def encode(width: Int, height: Int, nFrames: Int, delayCs: Int,
             seed: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0 && nFrames > 0, "positive dims/frames")
    val out = new ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    val writers = ImageIO.getImageWritersByFormatName("gif")
    require(writers.hasNext, "no ImageIO GIF writer in this JVM")
    val w = writers.next()
    try {
      w.setOutput(ios)
      w.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until height; x <- 0 until width)
          img.setRGB(x, y, (x * 31 + y * 17 + f * 53 + seed * 101) & 0xffffff)
        val meta = w.getDefaultImageMetadata(
          ImageTypeSpecifier.createFromRenderedImage(img), w.getDefaultWriteParam)
        val tree = meta.getAsTree(GifMetaFormat).asInstanceOf[IIOMetadataNode]
        val gce = {
          val existing = tree.getElementsByTagName("GraphicControlExtension")
          if (existing.getLength > 0) existing.item(0).asInstanceOf[IIOMetadataNode]
          else { val n = new IIOMetadataNode("GraphicControlExtension")
                 tree.appendChild(n); n }
        }
        gce.setAttribute("disposalMethod", "none")
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("transparentColorIndex", "0")
        gce.setAttribute("delayTime", delayCs.toString)
        meta.setFromTree(GifMetaFormat, tree)
        w.writeToSequence(new IIOImage(img, null, meta), null)
        f += 1
      }
      w.endWriteSequence()
    } finally { w.dispose(); ios.close() }
    out.toByteArray
  }
}

object Multimodal {

  implicit val mediaEnc: Encoder[MediaRow] = Encoders.product[MediaRow]
  implicit val decodedEnc: Encoder[DecodedRow] = Encoders.product[DecodedRow]
  implicit val featureEnc: Encoder[FeatureRow] = Encoders.product[FeatureRow]

  /** Format dispatch: REAL decode for genuine PNG, (PCM) WAV, and
    * (animated) GIF payloads — all three JDK-only; the stub now covers
    * only formats whose codecs genuinely don't ship in this container
    * (compressed audio, real video containers). The gate corpus (UTF-8
    * text bytes) never carries any of the three magics, so q33/q55
    * keep their stub-mirroring oracles; real rows take the real paths
    * (MultimodalSpec drives all of them through the same pipeline).
    *
    * TOTAL functions by contract: a corrupt payload (right magic,
    * broken body) is quarantined with a marker format instead of
    * throwing — at 100 TB one bad record must degrade, not abort the
    * batch after four task retries. */
  def decodeMeta(b: Array[Byte]): MediaMeta =
    if (PngCodec.isPng(b))
      try PngCodec.decodeMeta(b)
      catch { case scala.util.control.NonFatal(_) =>
        MediaMeta("image/png-corrupt", 0, 0, 0, b.length.toLong) }
    else if (WavCodec.isWav(b))
      try WavCodec.decodeMeta(b)
      catch { case scala.util.control.NonFatal(_) =>
        MediaMeta("audio/wav-corrupt", 0, 0, 0, b.length.toLong) }
    else if (GifCodec.isGif(b))
      try GifCodec.decodeMeta(b)
      catch { case scala.util.control.NonFatal(_) =>
        MediaMeta("video/gif-corrupt", 0, 0, 0, b.length.toLong) }
    else StubCodec.decodeMeta(b)

  /** Corrupt images pass through UNCHANGED (quarantine semantics: never
    * invent pixels); downstream filters drop them via the marker format
    * from [[decodeMeta]]. WAV passes through unchanged too — resize is
    * a pixel operation, and the JDK ships no PCM rate converter to make
    * an audio "resample" real. */
  def resizePayload(b: Array[Byte], targetW: Int, targetH: Int): Array[Byte] =
    if (PngCodec.isPng(b))
      try PngCodec.resize(b, targetW, targetH)
      catch { case scala.util.control.NonFatal(_) => b }
    else if (WavCodec.isWav(b)) b
    else StubCodec.resize(b, targetW, targetH)

  /** STUB codec — stands in for an image/audio library. Deterministic pure
    * function of the bytes so specs are reproducible; swap for a real
    * decoder (JNI/javacv) without touching the pipeline shape. */
  object StubCodec {
    def sniffFormat(b: Array[Byte]): String =
      if (b.isEmpty) "empty"
      else if ((b(0) & 0xff) % 3 == 0) "img/fake-png"
      else if ((b(0) & 0xff) % 3 == 1) "audio/fake-wav"
      else "video/fake-mp4"

    def decodeMeta(b: Array[Byte]): MediaMeta = MediaMeta(
      format = sniffFormat(b),
      width = if (b.length > 1) 16 * ((b(1) & 0xff) % 40 + 1) else 0,
      height = if (b.length > 2) 16 * ((b(2) & 0xff) % 30 + 1) else 0,
      nFrames = if (b.length > 3) (b(3) & 0xff) % 120 + 1 else 1,
      bytes = b.length.toLong)

    /** "Feature extraction": fixed-dim fingerprint of the payload
      * (byte-histogram folded to `dim`) — the real system would run a
      * vision/audio encoder here. */
    def extractFeature(b: Array[Byte], dim: Int = 16): Array[Float] = {
      val f = new Array[Float](dim)
      var i = 0
      while (i < b.length) { f((b(i) & 0xff) % dim) += 1.0f; i += 1 }
      if (b.length > 0) { var j = 0; while (j < dim) { f(j) /= b.length; j += 1 } }
      f
    }

    /** "Frame sampling": every k-th byte block stands in for every k-th
      * decoded frame. */
    def sampleFrames(b: Array[Byte], every: Int, blockSize: Int = 64): Seq[Array[Byte]] =
      b.grouped(blockSize).zipWithIndex.collect {
        case (block, idx) if idx % every == 0 => block
      }.toSeq

    /** "Resize": deterministic byte-level downsample standing in for an
      * image resize — output payload scaled by the pixel-count ratio
      * (targetW·targetH)/(width·height), bytes taken at a uniform
      * stride. A real codec decodes, resamples and re-encodes; the
      * pipeline contract (pure function of payload+target, smaller
      * payload out, metadata preserved modulo dims) is what's pinned. */
    def resize(b: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
      require(targetW > 0 && targetH > 0, s"target dims must be positive: ${targetW}x$targetH")
      val m = decodeMeta(b)
      val srcPx = math.max(1L, m.width.toLong * m.height)
      // double-scale avoids Long overflow on huge target dims; capped
      // at 1.0 (upscale never invents payload)
      val scale = math.min(1.0, targetW.toDouble * targetH / srcPx)
      val outLen = math.max(1L, math.round(b.length * scale)).toInt
      if (b.isEmpty) b
      else Array.tabulate(outLen)(i => b((i.toLong * b.length / outLen).toInt))
    }
  }

  /** A binary media table derived deterministically from `documents`
    * (the corpus ships no real media; payload = UTF-8 text bytes). */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    graft.Tables.documents(s, dir)
      .select(col("doc_id").as("media_id"), col("text").cast("binary").as("content"))
      .as[MediaRow]
  }

  private val WavRates = Array(8000, 16000, 22050, 44100)

  /** Deterministic AUDIO fixture derived from `documents` ids: each doc
    * gets a genuine PCM WAV written executor-side by the JDK's real WAV
    * writer, with sample count and rate pure functions of the id. That
    * determinism is what makes the REAL decode gateable: an arithmetic
    * oracle knows exactly what the RIFF header parse must report back
    * (the audio twin of q33's PNG leg). Encode runs per partition in
    * the documents scan's layout; on THIS inline path payloads never
    * shuffle (the parquet-fixture siblings instead cross exactly one
    * bounded exchange — [[mediaFixture]]'s documented decode spread). */
  def audioTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    graft.Tables.documents(s, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        MediaRow(id, WavCodec.encode(nSamples = 500 + (id % 977).toInt,
          sampleRate = WavRates((id % 4).toInt), seed = id.toInt))
      })
  }

  /** Deterministic VIDEO fixture derived from `documents` ids: each doc
    * gets a genuine animated GIF written executor-side by the JDK's
    * real GIF writer, with frame count / dims / per-frame delay pure
    * functions of the id — the same determinism that makes q135's WAV
    * decode gateable by an arithmetic oracle. Since r18 the encode is
    * materialized once per (JVM, dir) into a scratch parquet fixture
    * (see [[mediaFixture]]): the GIF writer color-quantizes every frame
    * (~25k frame writes per pass here), which is fixture scaffolding,
    * not the structure parse q194 gates. */
  def videoTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaFixture(s, dir, "gif") {
      graft.Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { id =>
          MediaRow(id, GifCodec.encode(
            width = 8 + (id % 16).toInt, height = 8 + ((id / 2) % 12).toInt,
            nFrames = 2 + (id % 7).toInt, delayCs = 1 + (id % 5).toInt,
            seed = id.toInt))
        })
    }
  }

  /** Decode metadata per partition — one codec instantiation per batch,
    * not per row (the shape that matters when decode state is heavy). */
  def decode(media: Dataset[MediaRow]): Dataset[DecodedRow] =
    media.mapPartitions { it =>
      // per-partition setup would init heavier codec state here; the
      // PNG reader is instantiated per payload by ImageIO (cheap)
      it.map(r => DecodedRow(r.media_id, r.content, decodeMeta(r.content)))
    }

  /** Feature extraction to fixed-dim vectors, partition-batched. */
  def features(media: Dataset[MediaRow], dim: Int = 16): Dataset[FeatureRow] =
    media.mapPartitions(_.map(r => FeatureRow(r.media_id, StubCodec.extractFeature(r.content, dim))))

  /** Resize every payload to the target dims, partition-batched (the
    * shape a real resample kernel runs in: codec state per partition,
    * rows streamed through it). */
  def resizeAll(media: Dataset[MediaRow], targetW: Int, targetH: Int): Dataset[MediaRow] =
    media.mapPartitions(_.map(r =>
      MediaRow(r.media_id, resizePayload(r.content, targetW, targetH))))

  /** Memory-bounded repartitioning for decode: target payload bytes per
    * partition so executor memory holds a decode batch. */
  def repartitionForDecode(media: Dataset[MediaRow], targetBytesPerPartition: Long,
                           totalBytes: Long): Dataset[MediaRow] = {
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetBytesPerPartition).toInt)
    media.repartition(parts)
  }

  /** The declared inventory query: decode + aggregate media stats per
    * sniffed format. The stub codec is a pure byte function, so it IS
    * SQL-expressible: the DuckDB twin re-derives each byte from
    * hex(encode(text)) and replicates sniff/width/height exactly
    * (validated byte-for-byte against StubCodec). */
  def mediaStats(s: SparkSession, dir: String): DataFrame =
    mediaStatsOf(mediaTable(s, dir))

  /** Stats over any media Dataset (spec entry for synthetic fixtures,
    * e.g. the empty-payload branch the corpus doesn't contain). */
  def mediaStatsOf(media: Dataset[MediaRow]): DataFrame =
    decode(media)
      .select(col("media_id"), col("meta.format").as("format"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.bytes").as("bytes"))
      .groupBy("format")
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"),
        max("width").as("max_width"), max("height").as("max_height"))
      .orderBy("format")

  implicit val frameEnc: Encoder[FrameRow] = Encoders.product[FrameRow]
  implicit val videoMetaEnc: Encoder[VideoMetaRow] = Encoders.product[VideoMetaRow]

  /** Frame-sampling stats: runs the REAL sampleFrames path per partition
    * (every 3rd 64-byte block) and aggregates per sniffed format. The
    * DuckDB twin derives the same counts from pure length arithmetic —
    * an independent oracle for the sampling pipeline: for nb=ceil(len/64)
    * blocks, kept = ceil(nb/3); kept bytes = 64·kept minus the shortfall
    * when the final partial block happens to be sampled. */
  def frameStats(s: SparkSession, dir: String, every: Int = 3): DataFrame = {
    mediaTable(s, dir).mapPartitions { it =>
      it.map { r =>
        val frames = StubCodec.sampleFrames(r.content, every)
        FrameRow(r.media_id, StubCodec.sniffFormat(r.content),
          frames.length.toLong, frames.map(_.length.toLong).sum)
      }
    }.groupBy("format")
      .agg(count(lit(1)).as("n"),
        sum("n_frames").as("total_frames"),
        sum("frame_bytes").as("sampled_bytes"))
      .orderBy("format")
  }

  /** Deterministic pattern-image fixture + REAL average-hash (aHash)
    * perceptual fingerprint — the embedding-free image near-dup
    * primitive: downscale to an 8×8 grid of cell means, threshold each
    * cell against the global mean, pack 64 bits. Identical images hash
    * identically; a small perturbation (one flipped pixel) moves one
    * cell's mean by ≤ 255/64 — far from the black/white threshold
    * margins — so near-copies land in the same bucket BY CONSTRUCTION
    * of the metric, not by luck. Fixture images are 64×64 PNGs of 8×8
    * blocks whose on/off pattern is the md5 of (doc_id % 40): 40
    * distinct patterns, genuinely encoded and re-decoded through
    * javax.imageio like q135/q194's fixtures. */
  object AHash {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    graft.core.ImageIoDefaults.ensure() // in-memory stream caching

    private def patternBits(seed: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"ahash-pattern-$seed".getBytes("UTF-8"))
      (0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xffL))
    }

    /** 64×64 black/white block-pattern PNG for (doc_id % 40); perturbed
      * variants flip one pixel — a change aHash must absorb. */
    def encodePattern(seed: Int, perturb: Boolean): Array[Byte] = {
      val bits = patternBits(seed)
      val img = new BufferedImage(64, 64, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val bit = (y / 8) * 8 + (x / 8)
        val on = ((bits >>> bit) & 1L) == 1L
        img.setRGB(x, y, if (on) 0xffffff else 0x000000)
      }
      if (perturb) {
        val rgb = img.getRGB(0, 0)
        img.setRGB(0, 0, ~rgb & 0xffffff)
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** REAL decode → 8×8 cell means → mean threshold → 64-bit hash. */
    def ahash64(png: Array[Byte]): Long = {
      val img = ImageIO.read(new ByteArrayInputStream(png))
      require(img != null, "payload is not a decodable image")
      val (w, h) = (img.getWidth, img.getHeight)
      val cells = new Array[Double](64)
      for (cy <- 0 until 8; cx <- 0 until 8) {
        val (x0, x1) = (cx * w / 8, (cx + 1) * w / 8)
        val (y0, y1) = (cy * h / 8, (cy + 1) * h / 8)
        var s = 0.0
        for (y <- y0 until y1; x <- x0 until x1) {
          val rgb = img.getRGB(x, y)
          s += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
        }
        cells(cy * 8 + cx) = s / ((x1 - x0) * (y1 - y0))
      }
      val mean = cells.sum / 64.0
      cells.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
        if (c > mean) acc | (1L << i) else acc
      }
    }
  }

  private[multimodal] object PHash {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import java.awt.image.BufferedImage
    import javax.imageio.ImageIO

    graft.core.ImageIoDefaults.ensure() // in-memory stream caching

    /** 63 class-derived signed amplitudes for the AC components (u,v) ∈
      * 8×8 \ DC, engineered so the MEDIAN DECISION HAS A GAP: exactly 32
      * negatives, one of them the hash-chosen "median designate" at
      * magnitude 1 while every other coefficient sits at ±3/±4 — the
      * lower median of the 63 DCT coefficients is then the designate
      * (≈ −256), a clear ±512 away from both clusters, so no bit is
      * ever decided by float noise, quantization, or the checkerboard's
      * ≤9-unit leakage. The sign pattern is the class's 63-bit
      * signature. */
    private def amps(seed: Int): Array[Double] = {
      val bytes = (0 until 5).flatMap { block =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"phash-pattern-$seed-$block".getBytes("UTF-8")).toSeq
      }
      val out = new Array[Double](64)
      val designate = 1 + ((bytes(0) & 0x7f) % 63)
      val others = (1 until 64).filterNot(_ == designate)
      // hash-derived signs, then deterministically flip lowest indexes
      // until exactly 31 of the non-designate 62 are negative
      val sign = scala.collection.mutable.Map(others.zipWithIndex.map {
        case (idx, j) => idx -> (if ((bytes(1 + j / 8) >> (j % 8) & 1) == 0) -1 else 1)
      }: _*)
      var negs = others.count(sign(_) < 0)
      for (idx <- others if negs != 31) {
        if (negs > 31 && sign(idx) < 0) { sign(idx) = 1; negs -= 1 }
        else if (negs < 31 && sign(idx) > 0) { sign(idx) = -1; negs += 1 }
      }
      out(designate) = -1.0
      others.zipWithIndex.foreach { case (idx, j) =>
        val mag = if ((bytes(9 + j / 8) >> (j % 8) & 1) == 0) 3.0 else 4.0
        out(idx) = sign(idx) * mag
      }
      out
    }

    /** 32×32 gray PNG: 128 + Σ low-frequency cosines with the class's
      * amplitudes (clamped to [16,239] BEFORE noise so the noise never
      * clips); `noisy` adds a per-pixel ±8 checkerboard — pure
      * highest-frequency energy whose leakage into the 8×8 low block is
      * orders of magnitude under the ±512 coefficient margins, i.e.
      * exactly the perturbation pHash is FOR. */
    def encodeSmooth(seed: Int, noisy: Boolean): Array[Byte] = {
      val a = amps(seed)
      val img = new BufferedImage(32, 32, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        var v = 128.0
        for (u <- 0 until 8; w <- 0 until 8; if u != 0 || w != 0)
          v += a(u * 8 + w) *
            math.cos(math.Pi * (2 * x + 1) * u / 64.0) *
            math.cos(math.Pi * (2 * y + 1) * w / 64.0)
        var g = math.max(16, math.min(239, math.round(v).toInt))
        if (noisy) g += (if (((x + y) & 1) == 0) 8 else -8)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }

    /** REAL decode → 32×32 gray → 2-D DCT-II → top-left 8×8 block →
      * median threshold → 64-bit perceptual hash (the classic pHash;
      * q207's aHash thresholds spatial cell means, this thresholds
      * FREQUENCY coefficients, which is what buys high-frequency-noise
      * invariance). */
    def phash64(png: Array[Byte]): Long = {
      val img = ImageIO.read(new ByteArrayInputStream(png))
      require(img != null, "payload is not a decodable image")
      require(img.getWidth == 32 && img.getHeight == 32,
        s"phash64 expects 32x32 input, got ${img.getWidth}x${img.getHeight}")
      val g = Array.tabulate(32, 32) { (y, x) =>
        val rgb = img.getRGB(x, y)
        (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
      }
      // separable DCT-II, unnormalized (thresholding is scale-free)
      def dct1(in: Array[Double]): Array[Double] =
        Array.tabulate(32) { k =>
          var s = 0.0
          var n = 0
          while (n < 32) {
            s += in(n) * math.cos(math.Pi * (2 * n + 1) * k / 64.0)
            n += 1
          }
          s
        }
      val rows = g.map(dct1)
      val cols = Array.tabulate(32)(u => dct1(Array.tabulate(32)(y => rows(y)(u))))
      // 63 AC coefficients of the low block (DC excluded — canonical
      // pHash: DC is overall brightness, not structure)
      val block = (for (v <- 0 until 8; u <- 0 until 8; if u != 0 || v != 0)
        yield cols(u)(v)).toArray
      val median = block.sorted.apply(31) // lower median of 63
      block.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
        if (c > median) acc | (1L << i) else acc
      }
    }
  }

  /** Media fixtures, materialized ONCE per (JVM, source dir, kind) into
    * session-scoped parquet media tables by a [[graft.core.Scratch.Memo]]
    * (the [[graft.core.Substrate]] cache contract; not a registered
    * substrate, so Bench never charges the encode). The fixtures are
    * deterministic (seed/noise/frames are pure functions of doc_id), so
    * encoding per gate run measured ImageIO *encode* — 2/3 of q356's
    * wall, ~all of q194's — instead of the operator under test
    * (decode/parse). Encoding executor-side
    * into parquet and re-reading is exactly how a real pipeline meets
    * its media: a binary column scanned from storage.
    *
    * Parallelism (r18, guide §2.5): the corpus ships as ONE small
    * parquet file with ONE row group, so a bare scan is a single task
    * and both the encode and the decode of thousands of payloads ran on
    * one core of 32. The id stream is repartitioned before the encode
    * (shuffles 12-byte rows, spreads the ImageIO writers), and the
    * read-back is repartitioned before the per-row decode — the
    * [[repartitionForDecode]] shape: the payload crosses an exchange
    * exactly once, a few KB per row, against per-row decode CPU that
    * dwarfs it at any scale. At 100 TB real media scans split by row
    * group and the spread costs one bounded pass; here it buys 32×
    * decode parallelism. */
  private val mediaMemos =
    Seq("gif", "phash", "ahash").map(_ -> new graft.core.Scratch.Memo).toMap

  private def mediaFixture(s: SparkSession, dir: String, kind: String)
      (build: => Dataset[MediaRow]): Dataset[MediaRow] = {
    val path = mediaMemos(kind)(dir) {
      val out = graft.core.Scratch.tempDir(s"graft-$kind-media") +
        "/media.parquet"
      build.write.mode("overwrite").parquet(out)
      out
    }
    // spread the decode: the fixture is defaultParallelism small files
    // that file-packing (openCostInBytes) would coalesce back into 1-2
    // scan tasks; one round-robin exchange of the payloads fans the
    // per-row decode across the cluster
    s.read.parquet(path).as[MediaRow]
      .repartition(s.sparkContext.defaultParallelism)
  }

  def phashMediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaFixture(s, dir, "phash") {
      val ids = graft.Tables.documents(s, dir).select(col("doc_id")).as[Long]
      ids.map(id => (id, (id % 37).toInt, false))
        .union(ids.filter(_ % 29 == 0)
          .map(id => (id + 600000L, (id % 37).toInt, true)))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, seed, noisy) =>
          MediaRow(id, PHash.encodeSmooth(seed, noisy))
        })
    }
  }

  /** q207's fixture: block-pattern PNGs for (doc_id % 40) plus the %31
    * one-pixel-flipped near-copies (same classes as the inline oracle). */
  def ahashMediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    mediaFixture(s, dir, "ahash") {
      val ids = graft.Tables.documents(s, dir).select(col("doc_id")).as[Long]
      ids.map(id => (id, (id % 40).toInt, false))
        .union(ids.filter(_ % 31 == 0)
          .map(id => (id + 500000L, (id % 40).toInt, true)))
        .repartition(s.sparkContext.defaultParallelism)
        .mapPartitions(_.map { case (id, seed, perturb) =>
          MediaRow(id, AHash.encodePattern(seed, perturb))
        })
    }
  }

  val defs: Seq[graft.QueryDef] = Seq(
    // REAL DCT perceptual-hash gate (pHash — the frequency-domain
    // sibling of q207's spatial aHash, and the image-dedup tool that
    // survives re-encode noise): genuine PNG encode → javax.imageio
    // decode → 2-D DCT-II → 8×8 low-frequency block → median threshold
    // per row, then exact grouping on the 64-bit hash. Fixture classes
    // are smooth low-frequency patterns (doc_id % 37); the %29 copies
    // carry a ±8 per-pixel CHECKERBOARD — pure highest-frequency
    // energy, invisible in the DCT's low block — which pHash must
    // absorb bit-exactly (aHash's spatial cell means would shift on
    // asymmetric crops of it). The oracle knows the class structure
    // arithmetically but NOT the hashes, so the row compare proves
    // decode→DCT→threshold determinism, noise invariance, and zero
    // cross-class collisions. Scale: per-row decode+DCT is
    // embarrassingly parallel; only 8-byte hashes shuffle.
    graft.QueryDef("q356_image_phash",
      (s, d) => {
        import s.implicits._
        // fixture PNGs come from the session-scoped parquet media table
        // (encoded once per JVM — see phashMediaTable); the gate's cost
        // is the operator's: columnar scan → decode → DCT → threshold
        phashMediaTable(s, d).mapPartitions(_.map { r =>
          (r.media_id, PHash.phash64(r.content))
        }).toDF("media_id", "hash")
          .groupBy("hash")
          .agg(count(lit(1)).as("n"), min("media_id").as("keeper"))
          .select("keeper", "n")
          .orderBy("keeper")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, doc_id % 37 AS g FROM documents
             |  UNION ALL
             |  SELECT doc_id + 600000, doc_id % 37 FROM documents
             |  WHERE doc_id % 29 = 0)
             |SELECT MIN(doc_id) AS keeper, COUNT(*) AS n
             |FROM a GROUP BY g ORDER BY keeper""".stripMargin)),
    // REAL perceptual-hash near-dup gate: genuine PNG encode →
    // javax.imageio decode → aHash per row (per-partition, the q135
    // decode shape), then exact grouping ON THE 64-BIT HASH. The
    // oracle knows the pattern classes arithmetically (doc_id % 40,
    // plus the %31 perturbed copies that must collapse into their
    // source's class) but NOT the hashes — so the row hash-compare
    // proves, per class: (a) the encode→decode→downsample→threshold
    // round trip is deterministic, (b) aHash is constant across exact
    // copies AND the flipped-pixel near-copies, and (c) distinct
    // patterns never collide. Scale: decode is embarrassingly
    // parallel (fanned by the fixture's decode spread); downstream
    // only 8-byte hash keys shuffle, the dedup-family discipline.
    graft.QueryDef("q207_image_ahash",
      (s, d) => {
        import s.implicits._
        // fixture PNGs from the session-scoped parquet media table
        // (encoded once per JVM — see ahashMediaTable); the gate's
        // cost is the operator's: scan → decode → cell means → hash
        ahashMediaTable(s, d).mapPartitions(_.map { r =>
          (r.media_id, AHash.ahash64(r.content))
        }).toDF("media_id", "hash")
          .groupBy("hash")
          .agg(count(lit(1)).as("n"), min("media_id").as("keeper"))
          .select("keeper", "n")
          .orderBy("keeper")
      },
      Some("""WITH a AS (
             |  SELECT doc_id, doc_id % 40 AS g FROM documents
             |  UNION ALL
             |  SELECT doc_id + 500000, doc_id % 40 FROM documents
             |  WHERE doc_id % 31 = 0)
             |SELECT MIN(doc_id) AS keeper, COUNT(*) AS n
             |FROM a GROUP BY g ORDER BY keeper""".stripMargin)),
    // REAL audio decode gate: genuine WAVs (JDK writer) → genuine RIFF
    // header parse (javax.sound.sampled) per row; the oracle re-derives
    // every field arithmetically from the id-determined encode params,
    // so a single header byte wrong anywhere in the write→parse round
    // trip breaks the row hash. Duration is exact integer arithmetic
    // scaled to ms (frames·1000/rate), identical on both sides.
    graft.QueryDef("q135_audio_meta",
      (s, d) => decode(audioTable(s, d))
        .select(col("media_id").as("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("sample_rate"),
          col("meta.height").as("channels"),
          col("meta.nFrames").cast("long").as("n_frames"),
          col("meta.bytes").as("bytes"))
        // div (IntegralDivide) keeps the arithmetic in exact longs,
        // mirroring DuckDB's // — never a double on either side
        .withColumn("duration_ms", expr("n_frames * 1000 div sample_rate"))
        .orderBy("doc_id"),
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
             |         WHEN 2 THEN 22050 ELSE 44100 END AS sample_rate,
             |    500 + doc_id % 977 AS n_frames
             |  FROM documents)
             |SELECT doc_id, 'audio/wav' AS format, sample_rate,
             |  1 AS channels, n_frames,
             |  n_frames * 1000 // sample_rate AS duration_ms,
             |  44 + 2 * n_frames AS bytes
             |FROM p ORDER BY doc_id""".stripMargin)),
    // REAL video decode gate: genuine animated GIFs (JDK writer, one
    // per doc, frame count/dims/delay pure functions of the id) →
    // genuine GIF89a structure parse (frame count via getNumImages,
    // per-frame delayTime summed from the GraphicControlExtension
    // blocks). The oracle re-derives every field arithmetically from
    // the encode params, so any slip anywhere in the multi-frame
    // write→parse round trip (a dropped frame, a delay not honored, a
    // dimension off) breaks the row hash — the video twin of q135.
    graft.QueryDef("q194_video_meta",
      (s, d) => {
        videoTable(s, d).mapPartitions(_.map { r =>
          val (w, h, n, delay) = GifCodec.frameInfo(r.content)
          VideoMetaRow(r.media_id, "video/gif", w, h, n.toLong, delay)
        }).toDF().orderBy("doc_id")
      },
      Some("""SELECT doc_id, 'video/gif' AS format,
             |  CAST(8 + doc_id % 16 AS INT) AS width,
             |  CAST(8 + (doc_id // 2) % 12 AS INT) AS height,
             |  CAST(2 + doc_id % 7 AS BIGINT) AS n_frames,
             |  CAST((2 + doc_id % 7) * (1 + doc_id % 5) AS BIGINT) AS total_delay_cs
             |FROM documents ORDER BY doc_id""".stripMargin)),

    graft.QueryDef("q55_frame_sample", (s, d) => frameStats(s, d),
      Some("""WITH b AS (
             |  SELECT hex(encode(text)) AS hx, octet_length(encode(text)) AS len
             |  FROM documents),
             |m AS (
             |  SELECT
             |    CASE WHEN len = 0 THEN 'empty'
             |         WHEN TRY_CAST('0x' || substr(hx, 1, 2) AS INT) % 3 = 0 THEN 'img/fake-png'
             |         WHEN TRY_CAST('0x' || substr(hx, 1, 2) AS INT) % 3 = 1 THEN 'audio/fake-wav'
             |         ELSE 'video/fake-mp4' END AS format,
             |    len, (len + 63) // 64 AS nb
             |  FROM b),
             |f AS (
             |  SELECT format, len, nb,
             |    CASE WHEN nb = 0 THEN 0 ELSE (nb + 2) // 3 END AS nk
             |  FROM m),
             |g AS (
             |  SELECT format, nk,
             |    CASE WHEN nb > 0 AND ((nb - 1) % 3) = 0 AND (len % 64) > 0
             |         THEN nk * 64 - (64 - len % 64) ELSE nk * 64 END AS fb
             |  FROM f)
             |SELECT format, COUNT(*) AS n,
             |  CAST(SUM(nk) AS BIGINT) AS total_frames,
             |  CAST(SUM(fb) AS BIGINT) AS sampled_bytes
             |FROM g GROUP BY format ORDER BY format""".stripMargin)),

    graft.QueryDef("q33_multimodal_stats", (s, d) => mediaStats(s, d),
      // Byte k of the UTF-8 payload = hex digits (2k+1, 2k+2) of the
      // blob's hex dump — mirrors StubCodec.sniffFormat/decodeMeta.
      // TRY_CAST keeps the short-payload branches well-defined even if
      // CASE branch evaluation were eager: for len=0/len<=2 rows the
      // cast input degenerates to '0x', which TRY_CAST maps to NULL
      // instead of erroring (the CASE then never selects that branch).
      Some("""WITH b AS (
             |  SELECT hex(encode(text)) AS hx, octet_length(encode(text)) AS len
             |  FROM documents),
             |m AS (
             |  SELECT
             |    CASE WHEN len = 0 THEN 'empty'
             |         WHEN TRY_CAST('0x' || substr(hx, 1, 2) AS INT) % 3 = 0 THEN 'img/fake-png'
             |         WHEN TRY_CAST('0x' || substr(hx, 1, 2) AS INT) % 3 = 1 THEN 'audio/fake-wav'
             |         ELSE 'video/fake-mp4' END AS format,
             |    CASE WHEN len > 1 THEN 16 * (TRY_CAST('0x' || substr(hx, 3, 2) AS INT) % 40 + 1) ELSE 0 END AS width,
             |    CASE WHEN len > 2 THEN 16 * (TRY_CAST('0x' || substr(hx, 5, 2) AS INT) % 30 + 1) ELSE 0 END AS height,
             |    len AS bytes
             |  FROM b)
             |SELECT format, COUNT(*) AS n, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
             |  MAX(width) AS max_width, MAX(height) AS max_height
             |FROM m GROUP BY format ORDER BY format""".stripMargin)),

    // REAL audio FINGERPRINT gate — q135 proves the header round-trip;
    // this proves the DATA path end to end: a genuine sine WAV is
    // written per doc (tone = pure function of the id from a 4-probe
    // bank), the PCM data chunk is REALLY decoded back to samples, and
    // a Goertzel detector (the O(N) single-bin DFT — actual DSP, no
    // stub) classifies the dominant band. The oracle knows the planted
    // tone arithmetically, so ANY slip in encode→decode→detect — a
    // truncated data chunk, a byte-order flip, a broken recurrence —
    // flips rows. Runs per partition in the documents scan's layout
    // (payloads never shuffle; the q135 decode shape); probes are
    // ≥ 500 Hz apart with ≥ 1600-sample windows, so spectral leakage
    // sits orders of magnitude under the planted bin and the argmax
    // is noise-proof.
    graft.QueryDef("q294_audio_fingerprint",
      (s, d) => {
        import s.implicits._
        val probes = Array(500.0, 1000.0, 2000.0, 3000.0)
        // the per-doc work here (sample synthesis + 4 O(N) probes) is
        // HEAVY, and the documents scan is one task per file — so the
        // 8-byte id stream repartitions BEFORE the encode/decode (the
        // round-8 scan-layout lesson; payloads are created after the
        // exchange and still never shuffle). Measured at sf0.1:
        // 1.35 s (single-file scan layout) → 0.23 s.
        graft.Tables.documents(s, d).select(col("doc_id")).as[Long]
          .repartition(s.sparkContext.defaultParallelism)
          .mapPartitions(_.map { id =>
            val n = 1600 + (id % 800).toInt
            val bytes = WavCodec.encodeTone(n, probes((id % 4).toInt), 8000)
            val xs = WavCodec.decodeSamples(bytes)
            val powers = probes.map(f => WavCodec.goertzel(xs, f, 8000))
            val det = powers.indices.maxBy(i => powers(i))
            (id, det, probes(det).toInt, xs.length.toLong)
          })
          .toDF("doc_id", "band", "freq_hz", "n_samples")
          .select(col("doc_id"), col("band").cast("int").as("band"),
            col("freq_hz").cast("int").as("freq_hz"), col("n_samples"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(doc_id % 4 AS INT) AS band,
             |  CAST(CASE doc_id % 4 WHEN 0 THEN 500 WHEN 1 THEN 1000
             |       WHEN 2 THEN 2000 ELSE 3000 END AS INT) AS freq_hz,
             |  CAST(1600 + doc_id % 800 AS BIGINT) AS n_samples
             |FROM documents ORDER BY doc_id""".stripMargin)))
}
