package graft.core

/** Chunked HTTP(S) byte fetch — the engine's flod-curl analog (the
  * first external package the reference lists: `/root/reference/
  * README.md:58` "download files from the web using libcurl"). The
  * reference composes `read(url).inflate.byLine`; here the url source
  * yields the same `Flow[Array[Byte]]` contract as [[Flow.readBytes]],
  * so every downstream stage (inflate/untar/decodeChars/byLine)
  * composes unchanged — see [[Flow.readUrl]]/[[Flow.readUrls]] for the
  * distributed entry points (fetches run on EXECUTORS, one task per
  * url; nothing stages through the driver).
  *
  * curl-parity behaviors (each one a way a real-URL fetch differs from
  * the localhost happy path):
  *   - redirects are followed across protocols (http→https), bounded by
  *     `maxRedirects` hops — HttpURLConnection's built-in follower
  *     refuses cross-protocol 3xx, which is precisely the hop public
  *     datasets serve first;
  *   - `Content-Encoding: gzip`/`deflate` transport coding is decoded
  *     transparently (it is an HTTP-layer wrapper, unlike a `.gz` URL
  *     whose payload IS gzip and composes with `.inflate`); an encoding
  *     the JDK can't decode fails loudly with that distinction spelled
  *     out;
  *   - connect-phase failures (refused/timeout, before any body byte)
  *     retry with linear backoff, bounded by `connectRetries`;
  *   - a body shorter than the declared Content-Length throws instead
  *     of presenting clean EOF — the JDK only detects some premature
  *     closes itself, and a silently-truncated shard is the worst
  *     possible input to a training pipeline.
  *
  * Failure is loud: a non-2xx status throws with the url and code —
  * never an empty healthy-looking stream. Early abandonment (a `take`
  * above the fetch) releases the connection through the task-completion
  * hook (the Codec native-resource discipline, `Codec.onTaskEnd`).
  */
object Http {

  /** Raw-byte counter under any decoding wrapper, so truncation is
    * judged against the wire bytes the Content-Length header meters. */
  private final class CountingStream(in: java.io.InputStream)
      extends java.io.FilterInputStream(in) {
    var count: Long = 0L
    override def read(): Int = {
      val b = super.read(); if (b >= 0) count += 1; b
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(b, off, len); if (n > 0) count += n; n
    }
  }

  private val RedirectCodes = Set(301, 302, 303, 307, 308)

  /** Open `url` (following bounded redirects, retrying connect-phase
    * failures) and return the connection positioned at a 2xx response.
    * Every failure names the url that failed, not just the original. */
  private def connect(url: String, connectTimeoutMs: Int, readTimeoutMs: Int,
                      maxRedirects: Int, connectRetries: Int)
      : java.net.HttpURLConnection = {
    var uri = java.net.URI.create(url)
    var hops = 0
    while (true) {
      val conn = openWithRetry(uri, connectTimeoutMs, readTimeoutMs, connectRetries)
      val code = conn.getResponseCode
      if (RedirectCodes.contains(code)) {
        val loc = conn.getHeaderField("Location")
        conn.disconnect()
        if (loc == null) throw new java.io.IOException(
          s"GET $uri: HTTP $code with no Location header")
        hops += 1
        if (hops > maxRedirects) throw new java.io.IOException(
          s"GET $url: more than $maxRedirects redirects (last hop $uri -> $loc)")
        // resolve() handles relative Locations; cross-protocol hops
        // (http→https) just build a fresh connection from the new URI.
        uri = uri.resolve(loc)
      } else if (code / 100 != 2) {
        conn.disconnect()
        throw new java.io.IOException(s"GET $uri failed: HTTP $code")
      } else return conn
    }
    throw new IllegalStateException("unreachable")
  }

  /** One hop's connect + status read, retried on connect-phase errors
    * (refused, unreachable, timeout) — safe because no body byte has
    * been handed downstream yet. Linear backoff between attempts. */
  private def openWithRetry(uri: java.net.URI, connectTimeoutMs: Int,
                            readTimeoutMs: Int, connectRetries: Int)
      : java.net.HttpURLConnection = {
    var attempt = 0
    while (true) {
      val conn = uri.toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setInstanceFollowRedirects(false) // manual, cross-protocol-capable
      try {
        conn.getResponseCode // forces the connect + header exchange
        return conn
      } catch {
        case e @ (_: java.net.ConnectException |
                  _: java.net.SocketTimeoutException |
                  _: java.net.NoRouteToHostException) =>
          conn.disconnect()
          attempt += 1
          if (attempt > connectRetries) throw new java.io.IOException(
            s"GET $uri: connect failed after $attempt attempt(s): ${e.getMessage}", e)
          Thread.sleep(250L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Lazily stream one url's body as `chunkSize`-byte chunks (the last
    * chunk may be short; a 0-byte body yields no chunks). */
  def fetchChunks(url: String, chunkSize: Int = 1 << 16,
                  connectTimeoutMs: Int = 30000,
                  readTimeoutMs: Int = 120000,
                  maxRedirects: Int = 5,
                  connectRetries: Int = 2): Iterator[Array[Byte]] = {
    require(chunkSize > 0, s"chunkSize must be positive: $chunkSize")
    val conn = connect(url, connectTimeoutMs, readTimeoutMs, maxRedirects,
      connectRetries)
    val contentLength = conn.getContentLengthLong // -1 when unknown/chunked
    val raw = new CountingStream(conn.getInputStream)
    val encoding = Option(conn.getContentEncoding)
      .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("identity")
    val in: java.io.InputStream = encoding match {
      case "identity" => raw
      case "gzip" | "x-gzip" => new java.util.zip.GZIPInputStream(raw)
      case "deflate" =>
        // curl parity (ADVICE r14): a number of real servers send RAW
        // deflate despite the token naming the zlib wrapping (RFC 9110
        // §8.4.1.2 notes the mismatch; curl tries both). Sniff the
        // 2-byte zlib header — CMF low nibble = 8 (deflate) and
        // CMF·256+FLG ≡ 0 (mod 31) — and fall back to a raw Inflater
        // when absent, instead of failing valid responses with
        // ZipException.
        val pb = new java.io.PushbackInputStream(raw, 2)
        val b0 = pb.read()
        val b1 = if (b0 >= 0) pb.read() else -1
        if (b1 >= 0) pb.unread(b1)
        if (b0 >= 0) pb.unread(b0)
        val zlibWrapped = b0 >= 0 && b1 >= 0 &&
          (b0 & 0x0f) == 8 && ((b0 << 8) + b1) % 31 == 0
        new java.util.zip.InflaterInputStream(pb,
          new java.util.zip.Inflater(!zlibWrapped))
      case other =>
        try raw.close() finally conn.disconnect()
        throw new java.io.IOException(
          s"GET $url: unsupported Content-Encoding '$other' (transport coding; " +
            "if the URL's payload itself is compressed, fetch it raw and chain .inflate)")
    }
    // Truncation is only judged for identity coding: for gzip/deflate
    // the decoder itself throws on a cut-off stream (EOFException), and
    // Content-Length meters the compressed wire bytes anyway.
    def checkTruncation(): Unit =
      if (encoding == "identity" && contentLength >= 0 && raw.count < contentLength)
        throw new java.io.IOException(
          s"GET $url truncated: read ${raw.count} of $contentLength bytes")
    // Partial consumption (limit/take above the fetch) abandons the
    // iterator mid-stream: release the socket with the task, exactly
    // like Codec frees its native contexts. close() is idempotent, so
    // running after the exhaustion-path close is safe.
    Codec.onTaskEnd(() => in.close())
    Codec.readChunks(in, chunkSize) ++ {
      try checkTruncation() finally in.close()
      Iterator.empty
    }
  }
}
