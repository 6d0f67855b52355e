package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Flow operator semantics, fixtures ported from the reference
  * (FIXTURES.md §A; flod package.d / range.d / pipeline.d unittests). */
class FlowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("take(3) of [1,2,4,8,16] (package.d:202-206)") {
    assert(Flow.fromSeq(spark, Seq(1, 2, 4, 8, 16)).take(3).toArray == Seq(1, 2, 4))
  }

  test("take boundary cases at the reference workload size (package.d:216-218)") {
    val n = 10495832L // upstream's exact boundary-test stream length
    val flow = new Flow(spark.range(n))
    for (k <- Seq(0L, 1L, 4095L, 4096L, 4097L, n - 1, n, n + 1, 999999999999L)) {
      val got = flow.take(k).count()
      assert(got == math.min(k, n), s"take($k)")
    }
  }

  test("indexed take (the beyond-2^31 path) keeps order across partitions") {
    // take(>2^31) routes here (the 999999999999L boundary case above
    // covers the cap-at-length behavior at 10M rows); ordering semantics
    // of the indexed path are pinned on a multi-partition stream
    val flow = Flow.fromSeq(spark, (1 to 20).toSeq, numPartitions = 4)
    assert(flow.takeIndexed(7L).toArray == (1 to 7))
    assert(flow.takeIndexed(0L).toArray == Seq.empty)
    assert(flow.takeIndexed(25L).toArray == (1 to 20))
  }

  test("map(+1).filter(>10) over [1,14,10,19,32,5,43] (pipeline.d:1617-1623)") {
    val got = Flow.fromSeq(spark, Seq(1, 14, 10, 19, 32, 5, 43))
      .map(_ + 1).filter(_ > 10).toArray
    assert(got == Seq(15, 11, 20, 33, 44))
  }

  test("byChunkIterator(2) over [42,41,40,39,38,37,36] (range.d:626-632)") {
    val got = Flow.fromSeq(spark, Seq(42, 41, 40, 39, 38, 37, 36))
      .byChunkIterator(2).toVector
    assert(got == Vector(Seq(42, 41), Seq(40, 39), Seq(38, 37), Seq(36)))
  }

  test("byChunk transform re-chunks within partitions") {
    val got = Flow.fromSeq(spark, (1 to 10).toSeq).byChunk(3).toArray
    assert(got.flatten == (1 to 10))
    assert(got.map(_.size).forall(_ <= 3))
  }

  test("byLine over chunked stream (reference verse, adversarial chunking)") {
    val verse = "Prześliczna dzieweczka na spacer raz szła\n" +
      "Gdy noc ją złapała wietrzysta i zła\n" +
      "Być może przestraszył by ziąb i mrok ją\n" +
      "Lecz miałą wszak mufkę prześliczną swą\n"
    val chunks = verse.grouped(7).toSeq
    val got = Flow.fromSeq(spark, chunks).byLine("\n").toArray
    assert(got == Seq(
      "Prześliczna dzieweczka na spacer raz szła",
      "Gdy noc ją złapała wietrzysta i zła",
      "Być może przestraszył by ziąb i mrok ją",
      "Lecz miałą wszak mufkę prześliczną swą"))
  }

  test("marker identity chain, multiple partition counts (pipeline.d:1305-1356 analog)") {
    val n = 173447L
    for (parts <- Seq(1, 3, 7)) {
      val marked = new Flow(spark.range(n).repartition(parts))
        .map(e => (e << 4) | 1L)   // filter hop marks low bits
        .map(e => (e << 4) | 2L)
      val recovered = marked.map(e => e >> 8).toArray.sorted
      assert(recovered == (0L until n), s"parts=$parts")
      val marks = marked.map(e => e & 0xffL).ds.distinct().collect()
      assert(marks.toSeq == Seq(0x12L), s"parts=$parts marks")
    }
  }

  test("file round-trip byte-compare (file.d:69-84)") {
    val src = java.nio.file.Paths.get("/etc/passwd")
    val tmp = java.nio.file.Files.createTempFile("graft", ".bin")
    try {
      Flow.writeBytes(Flow.readBytes(spark, src.toString), tmp.toString)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(src), java.nio.file.Files.readAllBytes(tmp)))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  private def withFiles[A](files: (String, Array[Byte])*)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rb")
    try {
      files.foreach { case (n, b) =>
        java.nio.file.Files.createDirectories(dir.resolve(n).getParent)
        java.nio.file.Files.write(dir.resolve(n), b)
      }
      body(dir.toString)
    } finally {
      val all = java.nio.file.Files.walk(dir)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally all.close()
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("readBytes: chunks concatenate to the files in path order, one partition each") {
    val rnd = new scala.util.Random(3)
    def blob(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
    // written largest-in-the-middle, so size order and write order are not path order
    val files = Seq("c.bin" -> blob(70000), "a.bin" -> blob(150001), "b.bin" -> blob(10))
    withFiles(files: _*) { dir =>
      val flow = Flow.readBytes(spark, dir + "/*.bin")
      assert(flow.ds.rdd.getNumPartitions == 3)
      val chunks = flow.toArray
      assert(chunks.forall(_.length <= (1 << 16)))
      assert(chunks.toArray.flatten.sameElements(
        files.sortBy(_._1).flatMap(_._2.toSeq)))
    }
  }

  test("readBytes: each file is its own stream, whatever the shuffle partitions") {
    val files = Seq("f0.txt" -> "x1\nx2", "f1.txt" -> "y1", "f2.txt" -> "z1\nz2\nz3")
    withFiles(files.map { case (n, t) => n -> utf8(t) }: _*) { dir =>
      val key = "spark.sql.shuffle.partitions"
      val saved = spark.conf.get(key)
      try for (parts <- Seq("1", "8")) {
        spark.conf.set(key, parts)
        val got = Flow.readBytes(spark, dir + "/f*.txt").decodeChars().byLine().toArray
        assert(got == Seq("x1", "x2", "y1", "z1", "z2", "z3"), s"$key=$parts")
      } finally spark.conf.set(key, saved)
    }
  }

  test("readBytes: an empty file contributes no chunks") {
    withFiles("a.txt" -> Array.emptyByteArray, "b.txt" -> utf8("hi")) { dir =>
      assert(Flow.readBytes(spark, dir).toArray.map(new String(_, "UTF-8")) == Seq("hi"))
      assert(Flow.readBytes(spark, dir + "/a.txt").toArray.isEmpty)
    }
  }

  test("readBytes: a file, a directory and a glob resolve as Spark's file sources do") {
    val files = Seq("b.txt" -> "b", "a.txt" -> "a", "_SUCCESS" -> "x", ".hidden" -> "x",
      "e.txt._COPYING_" -> "x", "_metadata" -> "m", "_common_metadata" -> "n", "_k=1" -> "k",
      "sub/c.txt" -> "c", "sub/_tmp" -> "x", "_hidden/d.txt" -> "x")
    withFiles(files.map { case (n, t) => n -> utf8(t) }: _*) { dir =>
      def read(path: String) = Flow.readBytes(spark, path).toArray.map(new String(_, "UTF-8"))
      // a directory contributes its own files, not its subdirectories';
      // `_`/`.` names and in-progress `._COPYING_` copies are skipped,
      // `_metadata`, `_common_metadata` and `_k=v` names are kept;
      // files come in path order
      assert(read(dir) == Seq("n", "k", "m", "a", "b"))
      assert(read(dir + "/*.txt") == Seq("a", "b"))
      assert(read(dir + "/sub/c.txt") == Seq("c"))
      // a directory a path or glob names is read whatever its name
      assert(read(dir + "/*") == Seq("n", "x", "k", "m", "a", "b", "c"))
      assert(read(dir + "/_hidden") == Seq("x"))
    }
  }

  test("readBytes: a partitioned layout throws rather than reading nothing") {
    withFiles("k=1/a.txt" -> utf8("a"), "k=2/b.txt" -> utf8("b")) { dir =>
      intercept[UnsupportedOperationException](Flow.readBytes(spark, dir))
      // a partition directory named directly is an ordinary directory
      assert(Flow.readBytes(spark, dir + "/k=1").toArray.map(new String(_, "UTF-8")) ==
        Seq("a"))
    }
  }

  test("readBytes: a pattern matching nothing throws") {
    withFiles("a.txt" -> utf8("hi")) { dir =>
      intercept[org.apache.spark.sql.AnalysisException](Flow.readBytes(spark, dir + "/*.gz"))
    }
  }

  test("readLines splits files distributed (K7 at scale)") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".txt")
    try {
      java.nio.file.Files.writeString(tmp, "first\nsecond\nthird\n")
      assert(Flow.readLines(spark, tmp.toString).toArray.sorted ==
        Seq("first", "second", "third"))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }

  test("copyTo drains into a growable target (range.d:133-167)") {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    Flow.fromSeq(spark, Seq(1, 2, 3)).copyTo(buf)
    assert(buf.toSeq == Seq(1, 2, 3))
  }

  test("discard consumes the stream (package.d:43-67)") {
    Flow.fromSeq(spark, (1 to 100).toSeq).discard() // must not throw
  }
}
