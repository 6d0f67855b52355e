package graft.perfbench

/** Self-tests of the benchmark's own arithmetic: percentile rule, job
  * interval union, span self time, digest canonical form.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def check(what: String)(cond: => Boolean): Unit = {
    checks += 1
    val ok = try cond catch { case e: Exception => System.err.println(s"  $what threw $e"); false }
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") }
  }

  def main(args: Array[String]): Unit = {
    // nearest-rank percentile and the ten-beyond rule
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50")(Stats.percentile(xs, 0.5) == 50.0)
    check("p90 of 1..100 is 90")(Stats.percentile(xs, 0.9) == 90.0)
    check("p90 of 1..100 leaves 10 beyond")(Stats.beyond(100, 0.9) == 10)
    check("p95 of 1..200 leaves 10 beyond")(Stats.beyond(200, 0.95) == 10)
    check("p90 needs 100 samples")(Stats.minSamples(0.9) == 100)
    check("p95 needs 200 samples")(Stats.minSamples(0.95) == 200)
    check("p90 of 99 samples leaves fewer than 10")(Stats.beyond(99, 0.9) < 10)
    check("percentile ignores input order")(
      Stats.percentile(Seq(5.0, 1.0, 4.0, 2.0, 3.0), 0.5) == 3.0)
    check("median of one sample")(Stats.median(Seq(7.0)) == 7.0)
    check("p100 is the maximum")(Stats.percentile(Seq(3.0, 9.0, 1.0), 1.0) == 9.0)
    check("empty percentile is refused")(
      try { Stats.percentile(Nil, 0.5); false } catch { case _: IllegalArgumentException => true })

    // job-interval union behind sched.driver_gap_s
    check("disjoint intervals add")(Stats.unionLength(Seq((0L, 2L), (5L, 6L)), 0, 10) == 3)
    check("overlaps count once")(Stats.unionLength(Seq((0L, 4L), (2L, 6L), (3L, 5L)), 0, 10) == 6)
    check("nested intervals count once")(Stats.unionLength(Seq((0L, 10L), (2L, 3L)), 0, 10) == 10)
    check("touching intervals merge")(Stats.unionLength(Seq((0L, 2L), (2L, 4L)), 0, 10) == 4)
    check("intervals clip to the window")(Stats.unionLength(Seq((-5L, 2L), (8L, 20L)), 0, 10) == 4)
    check("unsorted input")(Stats.unionLength(Seq((6L, 8L), (0L, 1L), (7L, 9L)), 0, 10) == 4)
    check("gap is the uncovered rest")(Stats.uncovered(Seq((1L, 3L), (2L, 4L)), 0, 10) == 7)
    check("no jobs: all gap")(Stats.uncovered(Nil, 0, 10) == 10)

    // span self time: duration minus the union of children
    val spans = Seq(
      Span(0, -1, "workload", "w", 0, 100),
      Span(1, 0, "op", "a", 10, 60),
      Span(2, 0, "op", "b", 50, 90),
      Span(3, 1, "job", "j1", 20, 30),
      Span(4, 1, "job", "j2", 25, 40))
    val self = Spans.selfTimes(spans)
    check("root self excludes overlapping children")(self(0) == 100 - 80)
    check("op self excludes overlapping jobs")(self(1) == 50 - 20)
    check("leaf self is its duration")(self(2) == 40 && self(3) == 10 && self(4) == 15)
    check("self times by kind add up")(
      Spans.byKind(spans).map(_._4).sum == self.values.sum)

    // digest canonical form
    check("null differs from the string null")(Digest.cell(null) != Digest.cell("null"))
    check("NaNs read the same")(
      Digest.cell(Double.NaN) == Digest.cell(java.lang.Double.longBitsToDouble(0x7ff8000000000001L)))
    check("-0.0 differs from 0.0")(Digest.cell(-0.0) != Digest.cell(0.0))
    check("float widens to double")(Digest.cell(1.5f) == Digest.cell(1.5))
    check("int and long agree")(Digest.cell(3) == Digest.cell(3L))
    check("decimal scale is ignored")(
      Digest.cell(new java.math.BigDecimal("1.50")) == Digest.cell(new java.math.BigDecimal("1.5")))
    check("tab in a string cannot forge a cell break")(
      Digest.of(Seq("a", "b"), Seq(Seq("x\ty", "z"))) != Digest.of(Seq("a", "b"), Seq(Seq("x", "y\tz"))))
    check("row order is ignored")(
      Digest.of(Seq("a"), Seq(Seq(1), Seq(2))) == Digest.of(Seq("a"), Seq(Seq(2), Seq(1))))
    check("column order is ignored")(
      Digest.of(Seq("a", "b"), Seq(Seq(1, 2))) == Digest.of(Seq("b", "a"), Seq(Seq(2, 1))))
    check("column names count")(Digest.of(Seq("a"), Seq(Seq(1))) != Digest.of(Seq("b"), Seq(Seq(1))))
    // the same vectors through perfbench/oracle_digests.py --vectors
    val pinned = Seq(
      Digest.of(Seq("b", "a"), Seq(Seq(null, 1.5), Seq(Double.NaN, -0.0))) ->
        "959917cb80a26efbba250b0e38cf75018e85105724ff1f7b3f879fa990e43a03",
      Digest.of(Seq("x"), Seq(Seq(0.0), Seq(-0.0))) ->
        "d90269cf6219e5f0ac43dbf09764cde2925d3b03ce3dfca86f97733b117fd00e",
      Digest.of(Seq("s", "n"), Seq(Seq("tab\there", new java.math.BigDecimal("1.50")),
        Seq("", new java.math.BigDecimal("0.00")))) ->
        "58483386b3a7413fa3f428a9857648ec299e371d704e4c90a019ef83a086f05f")
    pinned.zipWithIndex.foreach { case ((got, want), i) =>
      check(s"vector $i matches the oracle-side digest")(got == want)
    }

    // number text is locale-independent
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      check("numbers print with a dot under a comma locale")(Stats.num(1.25) == "1.25000000")
      check("whole numbers keep one decimal")(Stats.num(32.0) == "32.0")
    } finally java.util.Locale.setDefault(prev)

    println(s"selftest: ${checks - failures}/$checks checks passed")
    if (failures > 0) sys.exit(1)
  }
}
