package graft.text

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for Splitter (the reference verifies its splitter with a
  * hand-rolled combinatorial suite, range.d:470-547; we add generated
  * cases on top of the ported fixtures). */
object SplitterProps extends Properties("Splitter") {

  private val sepGen = Gen.oneOf("\n", "\r\n", " ", "ab", "::")
  private val textGen: Gen[String] = for {
    sep <- sepGen
    parts <- Gen.listOf(Gen.oneOf("", "x", "foo", "Zażółć", "a b", "\r"))
    terminated <- Gen.oneOf(true, false)
  } yield parts.mkString(sep) + (if (terminated && parts.nonEmpty) sep else "")

  property("keep=true segments reassemble to the exact input") =
    forAll(sepGen, textGen) { (sep, text) =>
      Splitter.split(text, sep, keepSeparator = true).mkString == text
    }

  property("keep=false equals keep=true with terminators stripped") =
    forAll(sepGen, textGen) { (sep, text) =>
      val kept = Splitter.split(text, sep, keepSeparator = true)
      val stripped = kept.map(s => if (s.endsWith(sep)) s.dropRight(sep.length) else s)
      Splitter.split(text, sep, keepSeparator = false) == stripped
    }

  property("incremental splitting is chunking-invariant") =
    forAll(sepGen, textGen, Gen.choose(1, 9)) { (sep, text, chunkSize) =>
      Splitter.incremental(sep, keepSeparator = false)(text.grouped(chunkSize))
        .toVector == Splitter.split(text, sep, keepSeparator = false)
    }

  property("byte splitter agrees with string splitter on UTF-8") = {
    import java.nio.charset.StandardCharsets.UTF_8
    forAll(sepGen, textGen) { (sep, text) =>
      Splitter.splitBytes(text.getBytes(UTF_8), sep.getBytes(UTF_8))
        .map(new String(_, UTF_8)) == Splitter.split(text, sep)
    }
  }
}
