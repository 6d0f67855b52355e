package graft.text

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Ports the reference's Splitter/byLine unit tests verbatim
  * (flod range.d:470-547 + range.d:511-515 doc examples). */
class SplitterSpec extends AnyFunSuite {

  test("space separator, keepSeparator=true (range.d:471-472)") {
    assert(Splitter.split("Zażółć gęślą jaźń", ' ', keepSeparator = true) ==
      Vector("Zażółć ", "gęślą ", "jaźń"))
  }

  test("trailing separator with keep=true keeps it, no empty tail (range.d:475-476)") {
    assert(Splitter.split("Zażółć gęślą jaźń ", " ", keepSeparator = true) ==
      Vector("Zażółć ", "gęślą ", "jaźń "))
  }

  test("wide chars, keep=false (range.d:478-479)") {
    assert(Splitter.split("여보세요 세계", " ") == Vector("여보세요", "세계"))
  }

  test("multi-char \\r\\n separator, embedded \\r, terminated empty field (range.d:481-482)") {
    assert(Splitter.split("Foo\r\nBar\r\nBaz\r\r\n\r\n", "\r\n") ==
      Vector("Foo", "Bar", "Baz\r", ""))
  }

  test("byLine doc example: terminated final line yields no empty tail (range.d:511-512)") {
    assert(Splitter.split("first\nsecond\nthird\n", "\n") ==
      Vector("first", "second", "third"))
  }

  test("unterminated final line is emitted (range.d:517-518)") {
    assert(Splitter.split("first\nsecond\nthird", "\n") ==
      Vector("first", "second", "third"))
  }

  test("4-line Polish verse (range.d:531-547)") {
    val verse = "Prześliczna dzieweczka na spacer raz szła\n" +
      "Gdy noc ją złapała wietrzysta i zła\n" +
      "Być może przestraszył by ziąb i mrok ją\n" +
      "Lecz miałą wszak mufkę prześliczną swą\n"
    assert(Splitter.split(verse, "\n") == Vector(
      "Prześliczna dzieweczka na spacer raz szła",
      "Gdy noc ją złapała wietrzysta i zła",
      "Być może przestraszył by ziąb i mrok ją",
      "Lecz miałą wszak mufkę prześliczną swą"))
  }

  test("empty input yields no segments") {
    assert(Splitter.split("", "\n").isEmpty)
    assert(Splitter.splitBytes(Array.emptyByteArray, "\n".getBytes(UTF_8)).isEmpty)
  }

  test("byte-stream splitting matches string splitting on UTF-8") {
    val s = "Foo\r\nBar\r\nBaz\r\r\n\r\n"
    val got = Splitter.splitBytes(s.getBytes(UTF_8), "\r\n".getBytes(UTF_8))
      .map(new String(_, UTF_8))
    assert(got == Splitter.split(s, "\r\n"))
  }

  test("incremental splitter equals whole-string split at adversarial chunk sizes") {
    // chunk sizes mirror the reference's mutually-prime fixture sizes
    // (pipeline.d:758,768,843) scaled to the corpus strings.
    val fixtures = Seq(
      ("first\nsecond\nthird\n", "\n", false),
      ("first\nsecond\nthird", "\n", false),
      ("Foo\r\nBar\r\nBaz\r\r\n\r\n", "\r\n", false),
      ("Foo\r\nBar\r\nBaz\r\r\n\r\n", "\r\n", true),
      ("Zażółć gęślą jaźń", " ", true),
      ("", "\n", false))
    for ((text, sep, keep) <- fixtures; chunkSize <- Seq(1, 2, 3, 5, 7, 128)) {
      val chunks = text.grouped(chunkSize)
      val got = Splitter.incremental(sep, keep)(chunks).toVector
      assert(got == Splitter.split(text, sep, keep),
        s"chunkSize=$chunkSize sep=${sep.replace("\r", "\\r").replace("\n", "\\n")} keep=$keep")
    }
  }

  test("incremental splitter is linear in the segments of one chunk") {
    // 1M lines in a single chunk: a splitter that re-shifts its pending
    // segments per line is quadratic here (about a minute); linear is ~0.1 s
    val n = 1000000
    val t0 = System.nanoTime()
    val got = Splitter.incremental("\n")(Iterator.single("a\n" * n)).toVector
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got.size == n)
    assert(got.forall(_ == "a"))
    assert(secs < 10.0, f"1M-line chunk took $secs%.1f s")
  }
}
