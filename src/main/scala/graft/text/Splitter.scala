package graft.text

/** Separator-splitting with the reference engine's exact semantics
  * (flod `Splitter`/`byLine`, reference `range.d:359-508`):
  *
  *  - the stream is cut at each (non-overlapping, left-to-right)
  *    occurrence of the separator; each segment *includes* its
  *    terminator internally;
  *  - `keepSeparator = false` strips the terminator from terminated
  *    segments (`range.d:444-450` front());
  *  - a final unterminated segment is emitted as-is (never stripped,
  *    `range.d:416-420`);
  *  - input ending exactly at a terminator yields no trailing empty
  *    segment (`range.d:511-515`: "first\nsecond\nthird\n" → 3 lines),
  *    but a terminated *empty* segment is kept
  *    (`range.d:481-483`: "Foo\r\nBar\r\nBaz\r\r\n\r\n" → ..., "");
  *  - empty input yields no segments.
  *
  * The same rules apply to char and multi-char separators and to byte
  * streams (UTF-8); Scala `String` covers the reference's UTF-16/32
  * cases since values — not memory layout — are the observable contract.
  */
object Splitter {

  /** Split a fully-materialized string. */
  def split(text: String, sep: String, keepSeparator: Boolean = false): Vector[String] = {
    require(sep.nonEmpty, "separator must be non-empty")
    val out = Vector.newBuilder[String]
    var start = 0
    var i = text.indexOf(sep, start)
    while (i >= 0) {
      out += (if (keepSeparator) text.substring(start, i + sep.length)
              else text.substring(start, i))
      start = i + sep.length
      i = text.indexOf(sep, start)
    }
    if (start < text.length) out += text.substring(start)
    out.result()
  }

  def split(text: String, sep: Char, keepSeparator: Boolean): Vector[String] =
    split(text, sep.toString, keepSeparator)

  /** Split a byte stream (UTF-8 or arbitrary binary). */
  def splitBytes(data: Array[Byte], sep: Array[Byte],
                 keepSeparator: Boolean = false): Vector[Array[Byte]] = {
    require(sep.nonEmpty, "separator must be non-empty")
    val out = Vector.newBuilder[Array[Byte]]
    var start = 0
    var i = indexOfBytes(data, sep, start)
    while (i >= 0) {
      out += java.util.Arrays.copyOfRange(data, start,
        if (keepSeparator) i + sep.length else i)
      start = i + sep.length
      i = indexOfBytes(data, sep, start)
    }
    if (start < data.length)
      out += java.util.Arrays.copyOfRange(data, start, data.length)
    out.result()
  }

  private def indexOfBytes(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val last = hay.length - needle.length
    while (i <= last) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  /** Incremental splitter over a stream of chunks (the flod peek/consume
    * loop re-expressed as an iterator transform): a lazy cursor over one
    * buffer holding the unconsumed remainder, so separators spanning two
    * chunks are found. Each segment costs one `indexOf` scan and one
    * `substring`, i.e. O(segment), like flod's slices of its window; the
    * consumed prefix is dropped only when the next chunk is appended.
    * Use inside `mapPartitions` — correct whenever one partition holds one
    * ordered stream (flod pipelines are single streams by construction).
    */
  def incremental(sep: String, keepSeparator: Boolean = false)
                 (chunks: Iterator[String]): Iterator[String] = {
    require(sep.nonEmpty, "separator must be non-empty")
    new Iterator[String] {
      private val buf = new java.lang.StringBuilder
      private var start = 0 // first char of the current segment
      // no separator starts in [start, from): the search resumes here
      private var from = 0
      private var ready: String = null

      @annotation.tailrec
      private def cut(): String = {
        val i = buf.indexOf(sep, from)
        if (i >= 0) {
          val end = i + sep.length
          val seg = buf.substring(start, if (keepSeparator) end else i)
          start = end; from = end
          seg
        } else if (!chunks.hasNext) {
          if (start == buf.length) null
          else { val tail = buf.substring(start); start = buf.length; tail }
        } else {
          buf.delete(0, start)
          start = 0
          // a separator straddling the append starts at most
          // sep.length - 1 chars before the old end
          from = math.max(0, buf.length - sep.length + 1)
          buf.append(chunks.next())
          cut()
        }
      }

      def hasNext: Boolean = {
        if (ready == null) ready = cut()
        ready != null
      }
      def next(): String = {
        if (!hasNext) throw new NoSuchElementException
        val r = ready; ready = null; r
      }
    }
  }
}
